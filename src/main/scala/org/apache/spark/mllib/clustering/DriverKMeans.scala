package org.apache.spark.mllib.clustering

import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

import java.util.Random
import scala.collection.mutable.ArrayBuffer

/** mllib's `KMeans.run` over ONE partition, replayed on the driver with
  * no Spark job: the same centers, bit for bit, as
  * `new KMeans().setK(k).setSeed(seed).setMaxIterations(n)
  * .run(sc.parallelize(points, 1))` (DriverKMeansSpec), for mllib's
  * defaults — k-means|| with 2 init steps, epsilon 1e-4, Euclidean
  * distance, every point weighted 1.
  *
  * It sits in Spark's package only to call mllib's own private pieces
  * (`VectorWithNorm`, `DistanceMeasure`, `LocalKMeans`,
  * `XORShiftRandom`, `SamplingUtils`, `Utils.randomizeInPlace`)
  * instead of copying them; every random draw, sum and comparison is
  * made in the order mllib makes it over a single partition (index 0).
  *
  * One difference: mllib computes the Lloyd passes' center statistics
  * in a Spark job once k²·dim reaches 10⁶; this helper always computes
  * them locally (`computeStatistics`). The engine's fits are k = 8 and
  * k = 2 at dim 64, far below that.
  *
  * Memory: the points live on the driver — n × dim × 8 B plus one
  * `VectorWithNorm` each.
  */
object DriverKMeans {

  private val InitSteps = 2
  private val Epsilon = 1e-4

  def fit(points: Array[Vector], k: Int, maxIterations: Int, seed: Long): KMeansModel = {
    val dm = DistanceMeasure.decodeFromString(DistanceMeasure.EUCLIDEAN)
    val data = points.map(new VectorWithNorm(_))
    val centers = initKMeansParallel(data, k, seed, dm)
    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < maxIterations && !converged) {
      val stats = Some(dm.computeStatistics(centers))
      val sums = Array.fill(centers.length)(Vectors.zeros(centers.head.vector.size))
      val weightSums = new Array[Double](centers.length)
      cost = 0.0
      data.foreach { p =>
        val (best, c) = dm.findClosest(centers, stats, p)
        cost += c * p.weight
        dm.updateClusterSum(p, sums(best))
        weightSums(best) += p.weight
      }
      converged = true
      for (j <- centers.indices if weightSums(j) > 0) {
        val moved = dm.centroid(sums(j), weightSums(j))
        if (converged && !dm.isCenterConverged(centers(j), moved, Epsilon)) converged = false
        centers(j) = moved
      }
      iteration += 1
    }
    new KMeansModel(centers.map(_.vector), DistanceMeasure.EUCLIDEAN, cost, iteration)
  }

  /** `KMeans.initKMeansParallel`: one sampled point, then per step a
    * filter that keeps each point with probability 2·k·cost/Σcost, then
    * k-means++ over the distinct candidates weighted by how many points
    * each is closest to.
    */
  private def initKMeansParallel(data: Array[VectorWithNorm], k: Int, seed: Long,
      dm: DistanceMeasure): Array[VectorWithNorm] = {
    val costs = Array.fill(data.length)(Double.PositiveInfinity)
    val stepSeed = new XORShiftRandom(seed).nextInt()
    var newCenters = Array(takeOne(data, stepSeed).toDense)
    val centers = ArrayBuffer.from(newCenters)
    for (step <- 0 until InitSteps) {
      var sumCosts = 0.0
      for (i <- data.indices) {
        costs(i) = math.min(dm.pointCost(newCenters, data(i)), costs(i))
        sumCosts += costs(i)
      }
      // the generator of partition 0: seed ^ (step << 16) ^ index
      val rand = new XORShiftRandom(stepSeed ^ (step << 16))
      newCenters = data.indices
        .filter(i => rand.nextDouble() < 2.0 * costs(i) * k / sumCosts)
        .map(data(_).toDense).toArray
      centers ++= newCenters
    }
    val distinct = centers.map(_.vector).distinct.map(new VectorWithNorm(_)).toArray
    if (distinct.length <= k) distinct
    else {
      val counts = new Array[Double](distinct.length)
      data.foreach(p => counts(dm.findClosest(distinct, p)._1) += 1)
      LocalKMeans.kMeansPlusPlus(0, distinct, counts, k, 30)
    }
  }

  /** `RDD.takeSample(false, 1, seed)` over one partition: Bernoulli
    * passes (each seeded as `PartitionwiseSampledRDD` seeds partition 0)
    * until one keeps a point, then a shuffle of the kept points.
    */
  private def takeOne(data: Array[VectorWithNorm], seed: Long): VectorWithNorm = {
    require(data.nonEmpty, "No samples available: the k-means input is empty")
    val rand = new Random(seed)
    if (data.length == 1) data.head
    else {
      val fraction = SamplingUtils.computeFractionForSampleSize(1, data.length, false)
      def pass(): Array[VectorWithNorm] = {
        val sampler = new BernoulliSampler[VectorWithNorm](fraction)
        sampler.setSeed(new Random(rand.nextInt()).nextLong())
        sampler.sample(data.iterator).toArray
      }
      var kept = pass()
      while (kept.isEmpty) kept = pass()
      Utils.randomizeInPlace(kept, rand).head
    }
  }
}

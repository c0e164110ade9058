package graft

import org.apache.spark.mllib.clustering.{DriverKMeans, KMeans, KMeansModel}
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side coarse-quantizer fit against mllib itself: every
  * case must give the centers (and training cost) of mllib's
  * `KMeans.run` over one partition, compared with `==` on the doubles;
  * and the engine's IVF fit, query and index build must not depend on
  * how the embeddings are split into files or partitions.
  */
class DriverKMeansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def centers(m: KMeansModel): Seq[Seq[Double]] =
    m.clusterCenters.map(_.toArray.toSeq).toSeq

  /** Both fits' centers and costs equal, or a message naming the case. */
  private def differs(vs: Array[Vector], k: Int, seed: Long): Option[String] = {
    val mine = DriverKMeans.fit(vs, k, maxIterations = 5, seed = seed)
    val theirs = new KMeans().setK(k).setSeed(seed).setMaxIterations(5)
      .run(spark.sparkContext.parallelize(vs.toSeq, 1))
    if (centers(mine) == centers(theirs) && mine.trainingCost == theirs.trainingCost) None
    else Some(s"n=${vs.length} dim=${vs.head.size} k=$k seed=$seed: " +
      s"${centers(mine)} (cost ${mine.trainingCost}) vs " +
      s"${centers(theirs)} (cost ${theirs.trainingCost})")
  }

  test("DriverKMeans equals mllib's one-partition fit on generated inputs") {
    // a coarse grid, so duplicates and fewer distinct points than k
    // occur; one case in five has at most 3 points
    val gen = for {
      n <- Gen.frequency(1 -> Gen.choose(1, 3), 4 -> Gen.choose(1, 300))
      dim <- Gen.choose(1, 8)
      k <- Gen.choose(2, 10)
      seed <- Gen.long
      vs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-4, 4).map(_ * 0.5)))
    } yield (vs.map(v => Vectors.dense(v.toArray)).toArray, k, seed)
    val prop = Prop.forAll(gen) { case (vs, k, seed) =>
      val d = differs(vs, k, seed)
      d.isEmpty :| d.getOrElse("")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("DriverKMeans equals mllib's one-partition fit on the fixture embeddings, k = 8 and 2") {
    val base = new java.io.File(SparkTestSession.sf0001).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); k <- Seq(8, 2)) {
      val vs = spark.read.parquet(s"$base/$sf/embeddings.parquet")
        .orderBy("vec_id").select(col("embedding").cast("array<double>"))
        .collect().map(r => Vectors.dense(r.getSeq[Double](0).toArray))
      val d = differs(vs, k, 42L)
      assert(d.isEmpty, s"$sf: ${d.getOrElse("")}")
    }
  }

  test("the IVF fit, q_sim_search_ivf_kmeans and buildIvfIndex do not depend on the scan's partitioning") {
    import spark.implicits._
    val single = SparkTestSession.sf0001
    // the same vectors as 4 part files, rows dealt round-robin so no
    // file holds a vec_id range
    val split = s"${System.getProperty("java.io.tmpdir")}/graft-test-ivf4-${java.util.UUID.randomUUID()}"
    val emb = spark.read.parquet(s"$single/embeddings.parquet")
    emb.repartition(4).write.parquet(s"$split/embeddings.parquet")
    val parts = new java.io.File(s"$split/embeddings.parquet").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 4, s"$parts part files")

    def probe(d: String) = ops.Ann.simSearchIvfKmeans(spark, d)
      .as[(Long, Int, Double)].collect().toSeq
    assert(probe(split) == probe(single), "per-run query differs on the 4-file copy")

    def build(d: String) = {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-test-ivfidx-${java.util.UUID.randomUUID()}"
      ops.Ann.buildIvfIndex(spark, d, dir)
      (spark.read.parquet(s"$dir/assignments").select("vec_id", "bucket")
          .as[(Long, Int)].collect().sorted.toSeq,
        spark.read.parquet(s"$dir/centroids").as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq)
    }
    val (asg, cents) = build(single)
    val (asgSplit, centsSplit) = build(split)
    assert(asgSplit == asg, "index buckets differ on the 4-file copy")
    assert(centsSplit == cents, "index centroids differ on the 4-file copy")

    val fv = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("fv"))
    val want = centers(ops.Ann.ivfFit(fv, k = 8))
    for (n <- Seq(1, 2, 4))
      assert(centers(ops.Ann.ivfFit(fv.repartition(n), k = 8)) == want,
        s"centers differ at repartition($n)")
  }
}

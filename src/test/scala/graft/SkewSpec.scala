package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salting correctness + effectiveness: the salted join returns exactly
  * the plain join's rows, and salting actually spreads a hot key's rows
  * across shuffle partitions instead of funneling them into one.
  */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // 90% of fact rows share key 0; dim covers keys 0..99
  private def skewedFact = {
    import spark.implicits._
    (0 until 10000).map(i => (if (i < 9000) 0 else i % 99 + 1, i.toLong))
      .toDF("k", "v")
  }
  private def dim = {
    import spark.implicits._
    (0 until 100).map(k => (k, s"name-$k")).toDF("k", "k_name")
  }

  test("salted join returns exactly the plain join's result") {
    val plain = skewedFact.join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"), sum("v").as("sv")).head()
    val salted = ops.Skew.saltedJoin(skewedFact, dim, "k", nSalts = 8)
      .agg(count(lit(1)).as("n"), sum("v").as("sv")).head()
    assert(plain == salted, s"plain $plain vs salted $salted")
    // per-key parity, not just totals
    val byKey = ops.Skew.saltedJoin(skewedFact, dim, "k", 8)
      .groupBy("k").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byKey(0) == 9000L && byKey(1) == 11L)
  }

  test("salted join refuses inputs that already carry the salt column") {
    val withSalt = skewedFact.withColumn(ops.Skew.SaltCol, lit(0))
    val e = intercept[IllegalArgumentException] {
      ops.Skew.saltedJoin(withSalt, dim, "k", 8)
    }
    assert(e.getMessage.contains(ops.Skew.SaltCol))
  }

  test("salted join tolerates map-typed fact columns (salt input skips unhashable types)") {
    // Spark's hash() rejects MapType; the salt must be derived from the
    // hashable columns only, not fail the whole join (ADVICE r12)
    val factWithMap = skewedFact.withColumn("attrs",
      map(lit("v2"), col("v") * 2))
    val salted = ops.Skew.saltedJoin(factWithMap, dim, "k", nSalts = 4)
    assert(salted.count() == skewedFact.join(dim, Seq("k")).count())
    // the map column itself survives intact through the salted join
    val attrs = salted.where(col("v") === 9500L)
      .select(element_at(col("attrs"), "v2")).head().getLong(0)
    assert(attrs == 19000L)
  }

  test("salting spreads the hot key across shuffle partitions") {
    import spark.implicits._
    def maxPartitionRows(df: org.apache.spark.sql.DataFrame): Long =
      df.mapPartitions(it => Iterator(it.size.toLong)).collect().max
    val unsalted = maxPartitionRows(skewedFact.repartition(32, col("k")))
    val salted = maxPartitionRows(
      skewedFact.withColumn("_salt", pmod(hash(monotonically_increasing_id()), lit(8)))
        .repartition(32, col("k"), col("_salt")))
    // one partition holds all 9000 hot rows unsalted; salted spreads them ~8 ways
    assert(unsalted >= 9000L, s"fixture not skewed: max=$unsalted")
    assert(salted <= unsalted / 4,
      s"salting did not spread the hot key: salted max $salted vs unsalted $unsalted")
  }

  test("AQE splits the skewed supplier join at runtime (VERDICT r13 #5)") {
    // The 100 TB first choice is not manual salting but AQE's
    // OptimizeSkewedJoin (Skew scaladoc): on a corpus where one
    // supplier holds ~30% of lineitem (SfGen's skew mode), the PLAIN
    // sort-merge join's final adaptive plan must show the skew split,
    // and the split must not change the result. Thresholds are scaled
    // down to fixture bytes (defaults are 256 MB-class); factor/
    // threshold semantics are unchanged.
    val dir = java.nio.file.Files.createTempDirectory("graft-skewgen").toString
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "128k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val before = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      SfGen.generate(spark, dir, sf = 0.02, parts = 4, hotSupplier = true)
      // the corpus really is skewed: supplier 0 holds ~30% of lines
      val bySupp = Tables.lineitem(spark, dir).groupBy("l_suppkey").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bySupp(0L) > bySupp.values.sum / 4,
        s"fixture not skewed: hot=${bySupp(0L)} of ${bySupp.values.sum}")
      // NB: the aggregation key must NOT be the join key — a groupBy on
      // s_suppkey could reuse the join's partitioning, and AQE declines
      // a skew split that would force an extra downstream shuffle
      // (forceOptimizeSkewedJoin exists for that; this is the unforced
      // case). Grouping by nation needs its own shuffle either way.
      def joined = Tables.lineitem(spark, dir)
        .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey").agg(count(lit(1)).as("n_lines"),
          sum("l_quantity").as("sum_qty"))
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val withAqe = joined
      val rows = withAqe.collect()
      // final adaptive plan (post-execution) shows the runtime split:
      // the AQEShuffleRead over the hot side reports skewed partition
      // specs, and the SMJ itself is flagged as a skew join
      val finalPlan = withAqe.queryExecution.executedPlan.toString
      assert(finalPlan.contains("AQEShuffleRead skewed") ||
          finalPlan.contains("skew=true"),
        s"AQE did not split the skewed join:\n$finalPlan")
      // and result parity with the non-adaptive plan
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plainRows = joined.collect()
      assert(rows.map(_.toString).sorted.toSeq == plainRows.map(_.toString).sorted.toSeq,
        "skew-split result diverged from the plain join")
    } finally {
      before.foreach { case (k, v) => spark.conf.set(k, v) }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

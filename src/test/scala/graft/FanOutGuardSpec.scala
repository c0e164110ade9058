package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r21 fanOut guard derives the under-parallelization decision
  * from the SOURCE FILE LISTING (no df.rdd planning pass). Pin the two
  * decisions that matter: a single small file fires the keyed
  * exchange (the fixture shape), and a path list at least as long as
  * defaultParallelism is the identity with zero statting (the
  * production shape — at real split counts fanOut must add nothing).
  */
class FanOutGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def hasShuffle(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
    }.isDefined

  test("single small file fires a keyed repartition; many paths are identity") {
    // one file is under-parallelized only when there is more than one slot
    assume(spark.sparkContext.defaultParallelism > 1, "needs a multi-thread master")
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fanout-guard").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // one tiny file < defaultParallelism splits -> exchange added
    assert(hasShuffle(Tables.fanOut(df, Seq(dir), col("id"))))
    // results unchanged by the exchange
    assert(Tables.fanOut(df, Seq(dir), col("id"))
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      df.orderBy("id").as[(Long, String)].collect().toSeq)
    // srcPaths.length >= defaultParallelism -> identity, no FS calls
    // (paths need not even exist: the short-circuit precedes statting)
    val many = (1 to spark.sparkContext.defaultParallelism)
      .map(i => s"/nonexistent/part-$i")
    assert(!hasShuffle(Tables.fanOut(df, many, col("id"))))
    // and the returned frame IS the input (identity, not a copy)
    assert(Tables.fanOut(df, many, col("id")) eq df)
  }

  test("a directory of >= parallelism-bytes splits is identity") {
    val dir = java.nio.file.Files.createTempDirectory("fanout-guard-big").toString
    // force many files: enough that estimated splits >= defaultParallelism
    spark.range(0, 1000).toDF("id")
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(!hasShuffle(Tables.fanOut(df, Seq(dir), col("id"))))
  }
}

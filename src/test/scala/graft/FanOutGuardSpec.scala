package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `fanOut` decides from the frame's own analyzed plan. Pin the
  * decisions that matter: a plain scan of one small file fires the keyed
  * exchange (the fixture shape); a scan of at least defaultParallelism
  * files, and any frame that is not a plain scan, is returned as is.
  */
class FanOutGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def hasShuffle(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
    }.isDefined

  private def oneSmallFile(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fanout-guard").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("single small file fires a keyed repartition; many paths are identity") {
    // one file is under-parallelized only when there is more than one slot
    assume(spark.sparkContext.defaultParallelism > 1, "needs a multi-thread master")
    import spark.implicits._
    val df = spark.read.parquet(oneSmallFile())
    // one tiny file < defaultParallelism splits -> exchange added,
    // also through a Project/Filter chain
    assert(hasShuffle(Tables.fanOut(df, col("id"))))
    assert(hasShuffle(Tables.fanOut(df.where(col("id") > 0).select("id"), col("id"))))
    // results unchanged by the exchange
    assert(Tables.fanOut(df, col("id"))
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      df.orderBy("id").as[(Long, String)].collect().toSeq)
    // a scan given defaultParallelism file paths -> identity
    val many = (1 to spark.sparkContext.defaultParallelism).map(_ => oneSmallFile())
    val manyDf = spark.read.parquet(many: _*)
    assert(Tables.fanOut(manyDf, col("id")) eq manyDf)
  }

  test("a directory of >= parallelism-bytes splits is identity") {
    val dir = java.nio.file.Files.createTempDirectory("fanout-guard-big").toString
    // force many files: enough that estimated splits >= defaultParallelism
    spark.range(0, 1000).toDF("id")
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(!hasShuffle(Tables.fanOut(df, col("id"))))
    assert(Tables.fanOut(df, col("id")) eq df)
  }

  test("a frame downstream of an aggregate, exchange or join is identity") {
    val df = spark.read.parquet(oneSmallFile())
    val derived = Seq(
      df.groupBy("id").count(),
      df.repartition(2, col("id")),
      df.join(spark.read.parquet(oneSmallFile()).select("id"), "id"))
    derived.foreach(d => assert(Tables.fanOut(d, col("id")) eq d))
  }
}

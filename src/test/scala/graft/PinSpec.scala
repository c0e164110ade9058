package graft

import graft.ops.Pin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pin — the lineage-cut helper behind every multi-consumer subtree.
  * Local mode must keep the fast localCheckpoint path; the cluster-safe
  * reliable path, which any non-local master takes, must produce
  * identical results through a real on-disk checkpoint, because on a
  * cluster a localCheckpoint's blocks die with a lost executor.
  */
class PinSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = SparkTestSession.sf0001
  import spark.implicits._

  test("pin: local default is localCheckpoint (no checkpoint dir needed)") {
    val df = Pin.pin(spark.range(100).select(col("id"), (col("id") * 2).as("v")))
    assert(df.count() == 100)
  }

  test("pin: the reliable path checkpoints to disk and results are identical") {
    val mk = () => spark.range(1000)
      .select(col("id"), md5(col("id").cast("string")).as("h"))
    val local = Pin.pin(mk(), reliable = false)
      .orderBy("id").as[(Long, String)].collect().toSeq
    val reliable = Pin.pin(mk(), reliable = true)
    assert(reliable.orderBy("id").as[(Long, String)].collect().toSeq == local)
    val ckptDir = spark.sparkContext.getCheckpointDir
    assert(ckptDir.nonEmpty, "reliable pin must set a checkpoint dir")
  }

  test("pin (reliable) leaves a caller-created cache in place") {
    val cached = spark.range(500).select(col("id"), (col("id") * 3).as("v")).persist()
    cached.count()
    assert(Pin.pin(cached, reliable = true).count() == 500)
    // persisting then unpersisting the SAME plan would drop the
    // caller's cache as a side effect of pinning
    assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "pin unpersisted the caller's cache")
    cached.unpersist()
  }

  test("q_dedup_substring_auto: below the volume cap it is the stride-1 result") {
    val auto = ops.LlmPipeline.dedupSubstringAuto(spark, d)
    val modes = auto.select("mode").distinct().as[String].collect().toSeq
    assert(modes.isEmpty || modes == Seq("stride1"),
      s"sf0.001 (~150k chars) must select stride1, got $modes")
    val pairs = auto.select($"doc_a", $"doc_b", $"n_matches").as[(Long, Long, Long)]
      .collect().toSeq
    val exact = ops.LlmPipeline.dedupSubstring(spark, d)
      .select($"doc_a", $"doc_b", $"n_cov_pos").as[(Long, Long, Long)].collect().toSeq
    assert(pairs == exact)
  }
}

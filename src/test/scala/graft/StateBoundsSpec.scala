package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming STATE-SIZE bounds: `graft.Probe stream` measures
  * rows/s; these specs assert the other half of the stateful contract —
  * state stays BOUNDED under watermark eviction. Every stateful leg
  * runs N watermark-advancing rounds (each round jumps event time by
  * 2× the watermark delay, so every prior round's state is evictable)
  * and the spec asserts, from the engine's own stateOperators metrics,
  * that numRowsTotal PLATEAUS (the final round holds no more state than
  * the early rounds, while cumulative input grew N×) and
  * memoryUsedBytes stays under a generous absolute cap. An unbounded
  * accumulation — the reference's forever-growing heartbeat map
  * (controller/MessageProcessor.java:283-287) is the classic instance —
  * fails the plateau assertion by construction.
  *
  * Runs on BOTH production RocksDB postures (plain and changelog-
  * checkpointing) plus the default HDFS-backed provider: the provider
  * class is a per-query-start conf, so one JVM covers all three, same
  * as the stream probe's tri-backend loop.
  */
class StateBoundsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val Rounds = 6
  private val Nodes = 20
  private val StateMemCap = 256L * 1024 * 1024 // generous; the signal is rows

  private def ts(round: Int, offsetSec: Int): java.sql.Timestamp =
    // rounds jump 20 min (2× the 10 min watermark delay): everything
    // from round r-1 is past the horizon once round r lands
    java.sql.Timestamp.valueOf(f"2024-01-01 ${10 + round / 3}%02d:${(round % 3) * 20}%02d:${offsetSec}%02d")

  private def beats(round: Int): Seq[ops.Streaming.Heartbeat] =
    (0 until Nodes).flatMap(n => Seq(
      ops.Streaming.Heartbeat(ts(round, 0), s"n$n"),
      ops.Streaming.Heartbeat(ts(round, 30), s"n$n")))

  /** numRowsTotal and memoryUsedBytes from the most recent progress that
    * carries state metrics (a trailing no-data batch may report none).
    */
  private def stateMetrics(q: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) = {
    val withState = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
    withState.map { p =>
      (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }.getOrElse((0L, 0L))
  }

  private val backends = Seq(
    "hdfs" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "rocksdb-changelog" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Drives `build` over Rounds watermark-advancing rounds on every
    * backend and asserts the plateau. `twoStreams` feeds the echo side
    * of the stream-stream join the same batches.
    */
  private def assertBounded(
      leg: String,
      mode: OutputMode,
      build: (MemoryStream[ops.Streaming.Heartbeat],
        MemoryStream[ops.Streaming.Heartbeat]) => DataFrame): Unit =
    backends.foreach { case (backend, provider) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        (backend == "rocksdb-changelog").toString)
      val a = MemoryStream[ops.Streaming.Heartbeat]
      val b = MemoryStream[ops.Streaming.Heartbeat]
      val q = build(a, b).writeStream.format("memory")
        .queryName(s"bounds_${leg}_$backend".replace('-', '_'))
        .option("checkpointLocation",
          s"/tmp/graft-bounds-ckpt-${java.util.UUID.randomUUID()}")
        .outputMode(mode).start()
      try {
        val series = (0 until Rounds).map { r =>
          a.addData(beats(r)); b.addData(beats(r))
          q.processAllAvailable()
          stateMetrics(q)
        }
        val rows = series.map(_._1)
        val mem = series.map(_._2)
        assert(rows.exists(_ > 0), s"$leg/$backend: state never materialized: $rows")
        // THE bound: cumulative input grew ${Rounds}×, state did not —
        // the final round may hold no more rows than the early plateau
        assert(rows.last <= rows.take(3).max,
          s"$leg/$backend: state grew with the stream — rows per round: $rows")
        assert(mem.max <= StateMemCap && mem.exists(_ > 0),
          s"$leg/$backend: state memory out of bounds: $mem")
      } finally {
        q.stop()
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }

  test("watermarked tumbling counts: window state evicts at the watermark on all 3 backends") {
    assertBounded("tumbling", OutputMode.Update(),
      (a, _) => ops.Streaming.watermarkedCounts(a.toDS()))
  }

  test("session windows: finalized sessions leave the store on all 3 backends") {
    assertBounded("session", OutputMode.Append(),
      (a, _) => ops.Streaming.sessionizedStream(a.toDS()))
  }

  test("dropDuplicatesWithinWatermark: seen-key state evicts past the horizon on all 3 backends") {
    assertBounded("dedup", OutputMode.Append(),
      (a, _) => ops.Streaming.dedupWithinWatermark(a.toDS()).toDF())
  }

  test("stream-stream join: both buffers evict matched/expired rows on all 3 backends") {
    assertBounded("ssjoin", OutputMode.Append(),
      (a, b) => ops.Streaming.streamStreamJoin(a.toDS(), b.toDS()))
  }

  test("stream-stream LEFT OUTER join: outer-side state evicts after null-padded emit on all 3 backends") {
    assertBounded("ssleft", OutputMode.Append(),
      (a, b) => ops.Streaming.streamStreamLeftJoin(a.toDS(), b.toDS()))
  }

  test("stream-stream FULL OUTER join: BOTH outer buffers evict after null-padded emit on all 3 backends") {
    assertBounded("ssfull", OutputMode.Append(),
      (a, b) => ops.Streaming.streamStreamFullJoin(a.toDS(), b.toDS()))
  }

  test("streaming decontamination restart-resume: verdicts stable across a mid-corpus restart, broadcast rebuilt (VERDICT r16 #8)") {
    // the one restart path the other legs don't cover: the pipeline is
    // stopped MID-CORPUS, the benchmark-shingle broadcast is REBUILT
    // from scratch in the second run (a production restart never keeps
    // the driver-side broadcast), the remaining files resume from the
    // checkpoint — and the union of verdicts must equal the one-shot
    // batch report exactly, with no doc scored twice
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val train = Tables.documents(spark, d)
      .where($"doc_id" % 20 =!= 0).select($"doc_id", $"text")
    val wave1 = train.where($"doc_id" < 250)
    val wave2 = train.where($"doc_id" >= 250)
    val viaBatch = SqlSurface.canon(
      SparkEntry.queries("q_decontaminate")(spark, d))
    backends.foreach { case (backend, provider) =>
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        (backend == "rocksdb-changelog").toString)
      val base = s"/tmp/graft-decontam-restart-$backend-${java.util.UUID.randomUUID()}"
      val (spool, sink, ckpt) = (s"$base/spool", s"$base/sink", s"$base/ckpt")
      wave1.write.parquet(spool)
      // REBUILT per run: a fresh plan + fresh localCheckpoint — nothing
      // shared with the previous query's broadcast
      def startRun() = ops.Dedup.decontaminateStream(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(spool),
        ops.Dedup.ngramPostings(spark, d).where($"doc_id" % 20 === 0)
          .select($"sh").distinct().localCheckpoint())
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        val q1 = startRun()
        q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
        // wave 2 lands while the pipeline is DOWN
        wave2.write.mode("append").parquet(spool)
        val q2 = startRun()
        q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
        val got = spark.read.parquet(sink)
        assert(got.groupBy("doc_id").count().where($"count" > 1).isEmpty,
          s"$backend: a doc was scored twice across the restart")
        assert(SqlSurface.canon(got.select("doc_id", "n_hits")) == viaBatch,
          s"$backend: restart-resumed verdicts drifted from the batch report")
      } finally {
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }
  }

  test("flatMapGroupsWithState liveness: state is keyed by live nodes, never by stream length") {
    // processing-time timeout leg: event time never evicts here, so the
    // bound is |nodes| — a long timeout keeps every node alive through
    // the test, and numRowsTotal must pin at exactly Nodes. Driven by
    // output-row polling, NOT processAllAvailable: with a processing-
    // time timeout pending every trigger has timer work, so the
    // no-new-data latch processAllAvailable waits on never settles
    // (the StreamingSpec liveness test's awaitRows pattern).
    backends.foreach { case (backend, provider) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        (backend == "rocksdb-changelog").toString)
      val ms = MemoryStream[ops.Streaming.Heartbeat]
      val sink = s"bounds_liveness_${backend.replace('-', '_')}"
      val q = ops.Streaming.statefulLiveness(ms.toDS(), timeoutMs = 600000L)
        .toDF().writeStream.format("memory").queryName(sink)
        .option("checkpointLocation",
          s"/tmp/graft-bounds-ckpt-${java.util.UUID.randomUUID()}")
        .outputMode(OutputMode.Update())
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
      try {
        val series = (0 until Rounds).map { r =>
          ms.addData(beats(r))
          val need = (r + 1).toLong * Nodes
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (spark.sql(s"SELECT 1 FROM $sink").count() < need &&
            System.nanoTime() < deadline) Thread.sleep(50)
          assert(spark.sql(s"SELECT 1 FROM $sink").count() >= need,
            s"liveness/$backend: round $r output never arrived")
          stateMetrics(q)
        }
        val rows = series.map(_._1)
        assert(rows.exists(_ > 0), s"liveness/$backend: state never materialized: $rows")
        // the bound is exact here: one state row per live node, forever
        assert(rows.last == Nodes.toLong && rows.max == Nodes.toLong,
          s"liveness/$backend: state not pinned at |nodes| — rows per round: $rows")
        assert(series.map(_._2).max <= StateMemCap,
          s"liveness/$backend: state memory out of bounds")
      } finally {
        q.stop()
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    }
  }
}

package graft

import java.nio.file.{Files, Path}

import graft.ops.Streaming
import graft.ops.Streaming.Heartbeat
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Dev tool: steady-state THROUGHPUT of the true-streaming surface —
  * the evidence class the batch bench cannot produce. Bench.scala times
  * the oracle-checked batch forms; the streaming tier's runtime
  * behavior (watermark eviction, stateful timeouts, stream-stream join
  * state) is correctness-pinned by MemoryStream specs but had no
  * recorded events/sec numbers. This drives each pipeline from a
  * deterministic `rate-micro-batch` source (fixed rows per batch, fixed
  * event-time advance — reproducible batch boundaries, unlike the
  * wall-clock `rate` source) through a `noop` sink and reports
  * per-query steady-state rows/sec from the engine's own progress
  * telemetry (StreamingQueryProgress), warmup batches excluded.
  *
  * Event time advances 1 minute per batch, so with the pipelines' 10
  * minute watermark the run crosses window-close/state-eviction
  * boundaries repeatedly — the measured number includes eviction work,
  * not just ingestion (30 batches ⇒ ~3 watermark generations).
  *
  * The reference analogue is its heartbeat fan-in: one controller
  * thread absorbing per-node TCP heartbeats into in-memory maps
  * (controller/MessageProcessor.java:283-287, HeartbeatMonitor 30 s
  * sweep) — the pipelines here are those semantics as bounded-state
  * streaming (ops/Streaming.scala:223-345), and this probe records what
  * they sustain per second on the declared local[32] target.
  *
  * Run as `graft.Probe stream [rowsPerBatch] [nBatches]` (defaults
  * 100000, 30). Each stateful leg runs once per state-store backend
  * (HDFS-backed in-memory AND RocksDB — the production swap when
  * commits dominate; SPARK_GRAFT_STATE_BACKENDS overrides). Returns one
  * summary JSON line.
  */
object StreamBench {

  /** Deterministic heartbeat stream: `nodes` distinct node ids cycling
    * over the rate source's monotonically increasing `value`.
    */
  private def hbStream(s: SparkSession, rowsPerBatch: Int, nodes: Int): Dataset[Heartbeat] = {
    import s.implicits._
    s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", 8)
      .option("advanceMillisPerBatch", 60000) // 1 min event time per batch
      .load()
      .select(col("timestamp").as("ts"),
        concat(lit("node"), pmod(col("value"), lit(nodes.toLong))).as("node"))
      .as[Heartbeat]
  }

  private final case class Result(name: String, rowsPerSec: Double,
                                  batches: Int, rows: Long)

  /** Leading micro-batches left out of the steady state. */
  val Warmup = 5

  /** Run one streaming pipeline for `nBatches` micro-batches and report
    * steady-state throughput (batches after `Warmup`).
    */
  private def runLeg(s: SparkSession, scratch: Path, name: String,
                     df: DataFrame, mode: OutputMode, nBatches: Int): Result = {
    val ckpt = Files.createTempDirectory(scratch, name).toString
    val q = df.writeStream.format("noop").outputMode(mode)
      .option("checkpointLocation", ckpt).start()
    try {
      while (Option(q.lastProgress).forall(_.batchId < nBatches) && q.isActive)
        q.awaitTermination(200)
      steady(name, q, Warmup, rowsPerInput = 1)
    } finally q.stop()
  }

  /** Throughput of `q`'s batches from `warmup` on that read any input,
    * from the engine's numInputRows / triggerExecution telemetry, each
    * input row worth `rowsPerInput` rows. A failed stream throws: it
    * must not read as a slow one.
    */
  private def steady(name: String, q: StreamingQuery, warmup: Int,
                     rowsPerInput: Long): Result = {
    q.exception.foreach(e => throw e)
    val prog = q.recentProgress.toSeq
      .filter(p => p.batchId >= warmup && p.numInputRows > 0)
    val rows = prog.map(_.numInputRows).sum * rowsPerInput
    val secs = prog
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      .sum / 1000.0
    Result(name, if (secs > 0) rows / secs else 0.0, prog.size, rows)
  }

  /** Live file-tail ingest throughput: `nFiles` varint-framed heartbeat
    * spool files pre-written, then tailed by LiveIngest.heartbeatStream
    * (binaryFile FileStreamSource + mapPartitions varint decode) in
    * maxFilesPerTrigger-bounded micro-batches — the catch-up profile of
    * the reference's heartbeat fan-in. numInputRows counts FILES at
    * this source, so frames/s is derived via framesPerFile.
    */
  private def runLiveIngest(s: SparkSession, scratch: Path, nFiles: Int,
                            framesPerFile: Int, warmupBatches: Int = 2): Result = {
    import graft.sources.{LiveIngest, ProtoChunkSource, ProtoIngest}
    val base = Files.createTempDirectory(scratch, "live").toString
    val dir = s"$base/frames"
    new java.io.File(dir).mkdirs()
    val frames = ProtoChunkSource.heartbeatFrameBytes(
      (0 until framesPerFile).map { i =>
        ProtoIngest.Heartbeat(s"node${i % 200}", 9000 + (i % 200),
          Seq(ProtoIngest.FileChunks(s"f${i % 1000}", Seq(1, 2, 3))))
      })
    (0 until nFiles).foreach { f =>
      Files.write(java.nio.file.Paths.get(s"$dir/hb_$f.bin"), frames)
    }
    val q = LiveIngest.heartbeatStream(s, dir, maxFilesPerTrigger = 20)
      .toDF().writeStream.format("noop").outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      var seenFiles = 0L
      while (q.isActive && seenFiles < nFiles) {
        q.awaitTermination(200)
        seenFiles = q.recentProgress.map(_.numInputRows).sum
      }
      steady("live_file_tail_decode", q, warmupBatches, framesPerFile)
    } finally q.stop()
  }

  /** Every leg, with checkpoints and spool files under `scratch`; the
    * caller deletes it after `spark.stop()`, since state-store threads
    * flush past `q.stop()`. Returns the summary JSON line, which the
    * caller prints after `spark.stop()` too, so shutdown logs do not
    * interleave with it. `nBatches` must exceed `Warmup`.
    */
  def measure(spark: SparkSession, rowsPerBatch: Int, nBatches: Int,
      scratch: Path): String = {
    def hb = hbStream(spark, rowsPerBatch, nodes = 200)

    // Every stateful leg is state-store-commit-bound, which is exactly
    // what the RocksDB provider changes — run each stateful pipeline on
    // every backend (providerClass is a runtime SQLConf; each query
    // binds it at start). Stateless legs (passthrough, file tail) touch
    // no state store and run once. SPARK_GRAFT_STATE_BACKENDS narrows
    // the list.
    val backends = sys.env.getOrElse("SPARK_GRAFT_STATE_BACKENDS",
      "hdfs,rocksdb,rocksdb-changelog")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def providerOf(b: String) = b match {
      case "hdfs" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      // changelog checkpointing keeps the same provider; the difference
      // is WHAT each commit uploads (per-batch change log vs full SST
      // snapshot) — at scale the snapshot upload leaves the commit path,
      // so this is the posture a production RocksDB deployment runs
      case "rocksdb" | "rocksdb-changelog" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case fqcn => fqcn
    }
    // join legs spread keys over 50k nodes: ~2 rows/node/side/batch keeps
    // the time-bounded fan-out ~4× instead of quadratic-in-batch
    def wide = hbStream(spark, rowsPerBatch, nodes = 50000)
    def leg(name: String, df: DataFrame, mode: OutputMode) =
      runLeg(spark, scratch, name, df, mode, nBatches)
    val stateful = try {
      backends.flatMap { b =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", providerOf(b))
        spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled", (b == "rocksdb-changelog").toString)
        Seq(
          leg(s"watermarked_counts:$b", Streaming.watermarkedCounts(hb), OutputMode.Update()),
          leg(s"session_windows:$b", Streaming.sessionizedStream(hb), OutputMode.Append()),
          leg(s"dedup_within_watermark:$b", Streaming.dedupWithinWatermark(hb).toDF(),
            OutputMode.Append()),
          leg(s"stateful_liveness:$b", Streaming.statefulLiveness(hb).toDF(),
            OutputMode.Update()),
          leg(s"stream_stream_join:$b", Streaming.streamStreamJoin(wide, wide),
            OutputMode.Append()),
          // FULL OUTER: both sides buffer to the watermark and emit
          // null-padded on eviction — the heaviest join state shape
          leg(s"stream_stream_full_join:$b", Streaming.streamStreamFullJoin(wide, wide),
            OutputMode.Append()))
      }
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
    val results = Seq(
      // sink-bound ceiling: projection only, no state — everything else
      // is read relative to this number
      leg("passthrough", hb.toDF(), OutputMode.Append())) ++
      stateful ++ Seq(
      // spool-file tail: 200 files × 5000 varint frames (≈1M heartbeats)
      runLiveIngest(spark, scratch, nFiles = 200, framesPerFile = 5000))

    results.foreach(r => println(
      f"[streambench] ${r.name}%-24s ${r.rowsPerSec}%,12.0f rows/s  " +
        f"(${r.rows}%,d rows over ${r.batches}%d steady batches)"))
    val qs = results.map(r => s""""${r.name}":${r.rowsPerSec.toLong}""")
      .mkString("{", ",", "}")
    s"""{"metric":"stream_rows_per_sec","unit":"rows/sec","rows_per_batch":$rowsPerBatch,"n_batches":$nBatches,"queries":$qs}"""
  }
}

package graft.sources

import graft.ops.Streaming
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** LIVE streaming ingest — the file-tail end of the reference's
  * heartbeat lifecycle, run as a real Structured Streaming source over
  * frame files that keep arriving while the query runs.
  *
  * Reference loop: each storage node emits a heartbeat every period
  * (storageNode/HeartbeatRunnable.java:33-80) and the controller's
  * monitor ages them out (controller/HeartbeatMonitor.java:23-58). The
  * repo's stateful operators (Streaming.statefulLiveness,
  * watermarkedCounts, latestSnapshotSink) carry those semantics; this
  * object supplies the missing LIVE SOURCE: a directory that heartbeat
  * frame files are dropped into mid-flight (the spool-directory pattern
  * — each node appends its frames as a new file, exactly how a
  * Flume/Fluentd tail or an object-store notification feed lands), read
  * with `readStream.format("binaryFile")` so Spark's FileStreamSource
  * discovers new files per micro-batch, decoded by the wire-compatible
  * varint framing ProtoIngest implements from proto/messages.proto.
  *
  * Scale notes: FileStreamSource tracks seen files in the checkpoint's
  * file log — at 100 TB of arriving frames the per-batch work is
  * (new files only), and `maxFilesPerTrigger` bounds a catch-up burst.
  * Decode is mapPartitions over whole-file bytes (frame files are
  * heartbeat-sized — KB, not GB; bulk chunk traffic goes through the
  * splittable DSv2 ProtoChunkSource instead). Event time is the file
  * modification time — the arrival clock, which is what the reference's
  * monitor compares against (`new Date()` on receipt,
  * controller/MessageProcessor.java:283-287).
  */
object LiveIngest {

  /** One decoded heartbeat arrival: node identity + the arrival-time
    * stamp carried from the frame file's modification time.
    */
  case class HeartbeatArrival(ts: java.sql.Timestamp, host: String, port: Int,
                              nFiles: Int, nChunks: Int)

  /** Split a `[varint length][frame]*` byte stream into frames —
    * in-memory mirror of the DSv2 reader's InputStream walk; tolerant
    * of a truncated trailing frame (a writer crash mid-append), which
    * is dropped rather than thrown: the next complete file re-delivers.
    */
  def splitFrames(b: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var pos = 0
    var ok = true
    while (ok && pos < b.length) {
      var len = 0L; var shift = 0; var p = pos; var more = true
      // shift capped at 63: Scala's << wraps mod 64, so an unbounded
      // continuation run (a corrupt file of 0x80|x bytes) would wrap
      // into a bogus — possibly negative — length instead of stopping
      while (more && p < b.length && shift < 64) {
        val x = b(p); p += 1
        len |= (x & 0x7fL) << shift; shift += 7
        more = (x & 0x80) != 0
      }
      // corrupt (overlong varint / negative length) and truncated tails
      // are both dropped, never thrown: a bad spool file must not wedge
      // the stream on an eternally-retried batch
      if (more || len < 0 || p + len > b.length) ok = false
      else {
        out += java.util.Arrays.copyOfRange(b, p, p + len.toInt)
        pos = p + len.toInt
      }
    }
    out.result()
  }

  /** The live source: new frame files under `dir` → decoded heartbeat
    * arrivals. `binaryFile` is a FileFormat, so FileStreamSource tails
    * the directory exactly like the text/parquet file sources — each
    * micro-batch reads only files not yet in the checkpoint file log.
    */
  def heartbeatArrivals(spark: SparkSession, dir: String,
                        maxFilesPerTrigger: Int = 100): Dataset[HeartbeatArrival] = {
    import spark.implicits._
    spark.readStream
      .format("binaryFile")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      // dot/underscore-prefixed files (in-flight writes, markers) are
      // already skipped by the file index's hidden-file rule
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .load(dir)
      .select(col("modificationTime"), col("content"))
      .as[(java.sql.Timestamp, Array[Byte])]
      .mapPartitions(_.flatMap { case (mtime, bytes) =>
        splitFrames(bytes).map { frame =>
          val hb = ProtoIngest.decodeHeartbeat(frame)
          HeartbeatArrival(mtime, hb.host, hb.port,
            hb.fileChunks.size, hb.fileChunks.map(_.sequenceNos.size).sum)
        }
      })
  }

  /** Arrivals narrowed to the (ts, node) shape the stateful operators
    * consume — node identity is host:port, the reference's key
    * (controller/MessageProcessor.java:283-287 keys its map the same way).
    */
  def heartbeatStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Int = 100): Dataset[Streaming.Heartbeat] = {
    import spark.implicits._
    heartbeatArrivals(spark, dir, maxFilesPerTrigger)
      .select(col("ts"), concat_ws(":", col("host"), col("port")).as("node"))
      .as[Streaming.Heartbeat]
  }

  /** End-to-end lifecycle: tail `framesDir`, decode, and maintain the
    * per-node latest-heartbeat snapshot table — the controller's
    * `heartbeats` map as a durable table, fed by a LIVE file tail
    * instead of a MemoryStream. Returns the running query; callers own
    * stop().
    */
  def runLivenessPipeline(spark: SparkSession, framesDir: String,
                          snapshotDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val hb = heartbeatStream(spark, framesDir)
    // latestSnapshotSink owns the idempotent merge; the checkpoint makes
    // the file log + offsets crash-recoverable, so a restarted query
    // resumes from the last committed batch without re-reading old files
    hb.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Streaming.Heartbeat], batchId: Long) =>
        Streaming.mergeLatestSnapshot(batch, snapshotDir, batchId)
      }
      .start()
  }
}

package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** True-streaming verification for SURVEY #51 (no oracle possible):
  * watermark drops too-late heartbeats, and the stateful liveness
  * monitor emits a dead-node record when a node goes silent past the
  * timeout — HeartbeatMonitor.java:36-45 semantics (FIXTURES.md §B.5).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermark drops events later than 10 minutes (#51 late-data rule)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[ops.Streaming.Heartbeat]
    val q = ops.Streaming.watermarkedCounts(ms.toDS())
      .writeStream.format("memory").queryName("wm_counts")
      .outputMode(OutputMode.Append()).start()
    try {
      // two rows in window [10:00, 10:05)
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:30"), "n1"),
        ops.Streaming.Heartbeat(ts("2024-01-01 10:01:00"), "n1"))
      q.processAllAvailable()
      // advance watermark past the window: 10:30 -> watermark 10:20
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:30:00"), "n1"))
      q.processAllAvailable()
      // late row for the closed window — must be dropped
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:45"), "n1"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT n FROM wm_counts WHERE window.start = TIMESTAMP '2024-01-01 10:00:00'")
        .collect().map(_.getLong(0)).toSeq
      assert(rows == Seq(2L), s"late row was not dropped: $rows")
    } finally q.stop()
  }

  /** ProcessingTimeTimeout makes `shouldRunAnotherBatch` always true, so
    * the stream keeps scheduling no-data micro-batches to fire timers and
    * `noNewData` is never signaled — `processAllAvailable()` would block
    * forever. Poll the memory sink with a deadline instead.
    */
  private def awaitRows(what: String, timeoutMs: Long = 60000L)(pred: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (!pred && System.currentTimeMillis < deadline) Thread.sleep(200)
    assert(pred, what)
  }

  test("readStream file source -> watermarked window -> parquet sink (production path)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    // two source files = two micro-batches, so the watermark advances
    // between them and the closed window flushes in Append mode
    Seq(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:30"), "n1"),
      ops.Streaming.Heartbeat(ts("2024-01-01 10:01:00"), "n1"))
      .toDF().write.parquet(s"$src/f0")
    Seq(ops.Streaming.Heartbeat(ts("2024-01-01 10:30:00"), "n2"))
      .toDF().write.parquet(s"$src/f1")
    val stream = spark.readStream
      .schema("ts TIMESTAMP, node STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/*")
    val q = ops.Streaming.watermarkedCounts(stream.as[ops.Streaming.Heartbeat])
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.read.parquet(out)
      .select(col("window.start").cast("string"), col("node"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // the [10:00, 10:05) window closed once the watermark passed it;
    // n2's window is still open and must NOT have been emitted
    assert(rows == Set(("2024-01-01 10:00:00", "n1", 2L)), rows.toString)
  }

  test("streaming dedup suppresses in-horizon duplicates, evicts state at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[ops.Streaming.Heartbeat]
    val q = ops.Streaming.dedupWithinWatermark(ms.toDS())
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      // same-batch duplicate + in-horizon duplicate in the next batch
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n1"),
        ops.Streaming.Heartbeat(ts("2024-01-01 10:00:30"), "n1"))
      q.processAllAvailable()
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:05:00"), "n1"))
      q.processAllAvailable()
      // n2 at 11:00 advances the watermark to 10:50, evicting n1's state
      // (expiry 10:00 + 10 min horizon = 10:10 < 10:50)
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 11:00:00"), "n2"))
      q.processAllAvailable()
      // n1 re-occurs past the horizon: state was evicted, so it re-emits
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 11:05:00"), "n1"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT CAST(ts AS STRING), node FROM dedup_wm")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00", "n1"),
        ("2024-01-01 11:00:00", "n2"),
        ("2024-01-01 11:05:00", "n1")), rows.toString)
    } finally q.stop()
  }

  test("stream-stream join matches within the time bound, drops outside it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pings = MemoryStream[ops.Streaming.Heartbeat]
    val echos = MemoryStream[ops.Streaming.Heartbeat]
    val q = ops.Streaming.streamStreamJoin(pings.toDS(), echos.toDS())
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    try {
      pings.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n1"),
        ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n2"))
      echos.addData(
        ops.Streaming.Heartbeat(ts("2024-01-01 10:03:00"), "n1"), // in bound
        ops.Streaming.Heartbeat(ts("2024-01-01 10:09:00"), "n2"), // out of bound (> 5 min)
        ops.Streaming.Heartbeat(ts("2024-01-01 10:01:00"), "n3")) // no ping
      q.processAllAvailable()
      val rows = spark.sql("SELECT node, ping_us, echo_us FROM ss_join")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // only n1's echo is within the 5-minute bound (180 s after its ping);
      // epoch offsets compared relatively to stay JVM-timezone-neutral
      assert(rows.size == 1 && rows.head._1 == "n1" &&
        rows.head._3 - rows.head._2 == 180L * 1000000L, rows.toString)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: matches emit like inner, timeouts emit null-padded at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pings = MemoryStream[ops.Streaming.Heartbeat]
    val echos = MemoryStream[ops.Streaming.Heartbeat]
    val q = ops.Streaming.streamStreamLeftJoin(pings.toDS(), echos.toDS())
      .writeStream.format("memory").queryName("ss_left_join")
      .outputMode(OutputMode.Append()).start()
    try {
      pings.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n1"),
        ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n2"))
      echos.addData(
        ops.Streaming.Heartbeat(ts("2024-01-01 10:03:00"), "n1"), // in bound
        ops.Streaming.Heartbeat(ts("2024-01-01 10:09:00"), "n2")) // out of bound
      q.processAllAvailable()
      def rows() = spark.sql("SELECT node, echo_us IS NULL FROM ss_left_join")
        .collect().map(r => (r.getString(0), r.getBoolean(1))).toSet
      // before the watermark passes n2's join horizon, ONLY the inner
      // match may exist — a null-padded row now would be speculative
      // (an in-bound echo could still arrive)
      assert(rows() == Set(("n1", false)),
        s"speculative outer row before eviction: ${rows()}")
      // advance both watermarks far past n2's horizon (10:00 + 5 min
      // bound + 10 min delay): eviction proves no echo can arrive, and
      // the timeout becomes an emitted null-padded row
      pings.addData(ops.Streaming.Heartbeat(ts("2024-01-01 11:00:00"), "n9"))
      echos.addData(ops.Streaming.Heartbeat(ts("2024-01-01 11:00:00"), "n9"))
      q.processAllAvailable()
      assert(rows().contains(("n2", true)),
        s"timed-out ping never emitted null-padded: ${rows()}")
      assert(!rows().contains(("n2", false)), "out-of-bound echo matched")
    } finally q.stop()
  }

  test("stream-stream FULL OUTER join: both unmatched sides emit null-padded at the watermark, never before") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pings = MemoryStream[ops.Streaming.Heartbeat]
    val echos = MemoryStream[ops.Streaming.Heartbeat]
    val q = ops.Streaming.streamStreamFullJoin(pings.toDS(), echos.toDS())
      .writeStream.format("memory").queryName("ss_full_join")
      .outputMode(OutputMode.Append()).start()
    try {
      pings.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n1"),
        ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n2")) // will time out
      echos.addData(
        ops.Streaming.Heartbeat(ts("2024-01-01 10:03:00"), "n1"), // in bound
        ops.Streaming.Heartbeat(ts("2024-01-01 10:02:00"), "n3")) // unsolicited
      q.processAllAvailable()
      def rows() = spark.sql(
        "SELECT node, ping_us IS NULL, echo_us IS NULL FROM ss_full_join")
        .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2))).toSet
      // before eviction, ONLY the inner match may exist — a null-padded
      // row on EITHER side now would be speculative
      assert(rows() == Set(("n1", false, false)),
        s"speculative outer row before eviction: ${rows()}")
      // advance both watermarks far past every horizon: the timed-out
      // ping AND the unsolicited echo both become emitted rows
      pings.addData(ops.Streaming.Heartbeat(ts("2024-01-01 11:00:00"), "n9"))
      echos.addData(ops.Streaming.Heartbeat(ts("2024-01-01 11:00:00"), "n9"))
      q.processAllAvailable()
      assert(rows().contains(("n2", false, true)),
        s"timed-out ping never emitted: ${rows()}")
      assert(rows().contains(("n3", true, false)),
        s"unsolicited echo never emitted: ${rows()}")
      // and no fabricated cross-matches
      assert(!rows().exists(r => r._1 == "n2" && !r._3), "n2 matched a ghost echo")
      assert(!rows().exists(r => r._1 == "n3" && !r._2), "n3 matched a ghost ping")
    } finally q.stop()
  }

  test("streaming session_window finalizes a session when the watermark passes it (#50)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[ops.Streaming.Heartbeat]
    val q = ops.Streaming.sessionizedStream(ms.toDS())
      .writeStream.format("memory").queryName("sessions_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      // two beats 10 min apart merge into one session [10:00, 10:40)
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n1"),
        ops.Streaming.Heartbeat(ts("2024-01-01 10:10:00"), "n1"))
      q.processAllAvailable()
      // still open (watermark behind session end): nothing emitted yet
      assert(spark.table("sessions_wm").count() == 0)
      // 11:30 starts a NEW session (gap > 30 min) and advances the
      // watermark to 11:20 — past 10:40, so session 1 finalizes
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 11:30:00"), "n1"))
      q.processAllAvailable()
      def rows() = spark.sql(
        "SELECT node, CAST(session_start AS STRING), CAST(session_end AS STRING), n " +
          "FROM sessions_wm")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(rows() == Set(
        ("n1", "2024-01-01 10:00:00", "2024-01-01 10:40:00", 2L)), rows().toString)
      // advance past session 2's end (11:30 + 30 min = 12:00): it flushes
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 13:00:00"), "n2"))
      q.processAllAvailable()
      assert(rows() == Set(
        ("n1", "2024-01-01 10:00:00", "2024-01-01 10:40:00", 2L),
        ("n1", "2024-01-01 11:30:00", "2024-01-01 12:00:00", 1L)), rows().toString)
    } finally q.stop()
  }

  test("foreachBatch snapshot sink upserts latest heartbeat per node, idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/latest"
    val ms = MemoryStream[ops.Streaming.Heartbeat]
    val q = ops.Streaming.latestSnapshotSink(ms.toDS(), dir)
    def snapshot(): Map[String, String] =
      spark.read.parquet(dir).selectExpr("node", "CAST(ts AS STRING)")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    try {
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n1"),
        ops.Streaming.Heartbeat(ts("2024-01-01 10:01:00"), "n2"))
      q.processAllAvailable()
      assert(snapshot() == Map("n1" -> "2024-01-01 10:00:00", "n2" -> "2024-01-01 10:01:00"))
      // newer n1 beat upserts; stale n2 beat (earlier ts) must NOT regress
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:05:00"), "n1"),
        ops.Streaming.Heartbeat(ts("2024-01-01 10:00:30"), "n2"),
        ops.Streaming.Heartbeat(ts("2024-01-01 10:02:00"), "n3"))
      q.processAllAvailable()
      assert(snapshot() == Map("n1" -> "2024-01-01 10:05:00",
        "n2" -> "2024-01-01 10:01:00", "n3" -> "2024-01-01 10:02:00"))
    } finally q.stop()
  }

  test("snapshot sink recovers state from the backup a crashed swap leaves behind") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-snapbak").toString + "/latest"
    // a crash between backup-rename and swap strands the full previous
    // snapshot in .bak with no live snapshot dir — the next batch must
    // merge against the backup, not against empty state
    Seq(("n0", ts("2024-01-01 09:00:00"))).toDF("node", "ts")
      .write.parquet(dir + ".bak")
    val ms = MemoryStream[ops.Streaming.Heartbeat]
    val q = ops.Streaming.latestSnapshotSink(ms.toDS(), dir)
    try {
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n1"))
      q.processAllAvailable()
      val snap = spark.read.parquet(dir).selectExpr("node", "CAST(ts AS STRING)")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(snap == Map("n0" -> "2024-01-01 09:00:00", "n1" -> "2024-01-01 10:00:00"),
        s"backup state lost: $snap")
    } finally q.stop()
  }

  test("snapshot merge sweeps orphan tmp dirs and keeps the backup until the swap lands") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-snaptmp").toString + "/latest"
    // crashed-run residue: state only in .bak, plus an orphan tmp from a
    // HIGHER batch id than the restarted query will ever reuse
    Seq(("n0", ts("2024-01-01 09:00:00"))).toDF("node", "ts")
      .write.parquet(dir + ".bak")
    Seq(("junk", ts("2024-01-01 00:00:00"))).toDF("node", "ts")
      .write.parquet(dir + ".tmp-99")
    val batch = Seq(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "n1")).toDS()
    ops.Streaming.mergeLatestSnapshot(batch, dir, batchId = 0L)
    val snap = spark.read.parquet(dir).selectExpr("node", "CAST(ts AS STRING)")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(snap == Map("n0" -> "2024-01-01 09:00:00", "n1" -> "2024-01-01 10:00:00"),
      s"backup state lost through the tmp-recovery merge: $snap")
    val siblings = new java.io.File(dir).getParentFile.listFiles().map(_.getName).toSet
    assert(!siblings.exists(_.contains(".tmp-")), s"orphan tmp survived: $siblings")
    assert(!siblings.contains("latest.bak"), s"bak not retired after swap: $siblings")
  }

  test("stateful liveness emits dead-node record on timeout (#51)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[ops.Streaming.Heartbeat]
    val q = ops.Streaming.statefulLiveness(ms.toDS(), timeoutMs = 1000L)
      .writeStream.format("memory").queryName("liveness")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:00"), "nodeA"))
      awaitRows("nodeA was never alive") {
        spark.sql("SELECT node FROM liveness WHERE dead = false AND node = 'nodeA'")
          .count() >= 1
      }
      // go silent: the 1 s processing-time timer fires on a later no-data
      // batch and flushes the dead-node record
      awaitRows("nodeA never reported dead") {
        spark.sql("SELECT node FROM liveness WHERE dead = true AND node = 'nodeA'")
          .count() >= 1
      }
      // a node heartbeating after the purge starts fresh (the reference
      // silently re-adds late nodes, MessageProcessor.java:283-287)
      ms.addData(ops.Streaming.Heartbeat(ts("2024-01-01 10:00:05"), "nodeB"))
      awaitRows("nodeB was never alive") {
        spark.sql("SELECT node FROM liveness WHERE dead = false AND node = 'nodeB'")
          .count() >= 1
      }
    } finally q.stop()
  }

  test("quality filter is batch≡stream: same verdicts over a MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "a b c", 5L),
      (2L, (1 to 30).map(i => s"tok$i").mkString(" "), 200L),
      (3L, "the quick brown fox is a lazy dog of note and we ran far " +
        "too fast over old red hill near my home today", 103L))
    val batch = ops.TextQuality.qualityVerdictCols(
      docs.toDF("doc_id", "text", "n_chars"))
      .select($"doc_id", $"reason").as[(Long, String)].collect().toSet
    val ms = MemoryStream[(Long, String, Long)]
    val q = ops.TextQuality.qualityVerdictCols(
      ms.toDF().toDF("doc_id", "text", "n_chars"))
      .select($"doc_id", $"reason")
      .writeStream.format("memory").queryName("qf_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      ms.addData(docs: _*)
      awaitRows("stream never produced 3 verdicts") {
        spark.sql("SELECT * FROM qf_stream").count() == 3
      }
      val streamed = spark.sql("SELECT doc_id, reason FROM qf_stream")
        .as[(Long, String)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming incremental dedup: live docs collide with the static band index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static history: the planted corpus's base docs (< 100)
    val dir = LlmFixtures.plantedDir(spark)
    val hist = ops.Dedup.minhashBanded(spark, dir)
      .where($"doc_id" < 100).localCheckpoint()
    // batch≡stream signature math: the stateless per-row form must band
    // identically to the explode+agg batch form over the same docs
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val perRow = ops.Dedup.incrementalDedupStream(docs, hist)
    val batchBands = ops.Dedup.minhashBanded(spark, dir)
    val viaBatch = batchBands
      .join(hist.select($"doc_id".as("hist_id"), $"band", $"band_key"),
        Seq("band", "band_key"))
      .select("doc_id", "band", "hist_id")
    assert(SqlSurface.canon(perRow) == SqlSurface.canon(viaBatch))
    // live: stream the near-dup docs (100+i edits doc i); each must
    // collide with its base in at least one band
    val ms = MemoryStream[(Long, String)]
    val q = ops.Dedup.incrementalDedupStream(
      ms.toDF().toDF("doc_id", "text"), hist)
      .writeStream.format("memory").queryName("inc_dedup")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      val nearDups = docs.where($"doc_id" >= 100 && $"doc_id" < 200)
        .select($"doc_id", $"text").as[(Long, String)].collect()
      ms.addData(nearDups.toIndexedSeq: _*)
      awaitRows("no streamed near-dup collided with its base doc") {
        val hits = spark.sql(
          "SELECT DISTINCT doc_id, hist_id FROM inc_dedup")
          .as[(Long, Long)].collect().toSet
        (0 until 5).forall(i => hits.contains((100L + i, i.toLong)))
      }
    } finally q.stop()
  }

  test("streaming decontamination: per-row verdicts ≡ the batch report, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = SparkTestSession.sf0001
    // static benchmark side: the same bounded shingle set the batch
    // query broadcasts (doc_id % 20 == 0 stands in for the eval suites)
    val postings = ops.Dedup.ngramPostings(spark, d)
    val benchSh = postings.where($"doc_id" % 20 === 0)
      .select($"sh").distinct().localCheckpoint()
    val train = Tables.documents(spark, d).where($"doc_id" % 20 =!= 0)
    // batch≡per-row: the stateless projection must score every train
    // doc exactly as q_decontaminate's join+aggregate report does
    val viaRow = ops.Dedup.decontaminateStream(train, benchSh)
      .select("doc_id", "n_hits")
    val viaBatch = ops.Dedup.queries("q_decontaminate")(spark, d)
    assert(SqlSurface.canon(viaRow) == SqlSurface.canon(viaBatch))
    // live: stream a contaminated doc (a benchmark doc's own text) and a
    // clean nonsense doc; verdicts arrive per-row in Append mode
    val benchText = Tables.documents(spark, d)
      .where($"doc_id" % 20 === 0).select($"text").as[String].head()
    val ms = MemoryStream[(Long, String)]
    val q = ops.Dedup.decontaminateStream(
      ms.toDF().toDF("doc_id", "text"), benchSh)
      .writeStream.format("memory").queryName("decontam_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      ms.addData((900001L, benchText), (900002L, "xqzv wjrk plmt bnda"))
      awaitRows("streamed decontamination verdicts missing") {
        val got = spark.sql(
          "SELECT doc_id, is_clean FROM decontam_stream")
          .as[(Long, Boolean)].collect().toMap
        got.get(900001L) == Some(false) && got.get(900002L) == Some(true)
      }
    } finally q.stop()
  }

  test("q_sessionize matches an independent per-user fold of the event log") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val got = ops.Streaming.sessionize(spark, d)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // recompute sessions with a plain Scala fold per user
    val raw = graft.Tables.events(spark, d)
      .select($"event_id", $"user_id",
        org.apache.spark.sql.functions.unix_micros($"ts").as("us"))
      .as[(Long, Long, Long)].collect()
    val expected = raw.groupBy(_._2).toSeq.flatMap { case (user, evs) =>
      var seq = 0L
      var prev = Long.MinValue
      evs.sortBy(e => (e._3, e._1)).toSeq.map { case (id, _, us) =>
        if (prev == Long.MinValue || us - prev >= ops.Streaming.SessionGapUs) seq += 1
        prev = us
        (id, user) -> ((us, seq))
      }
    }.toMap
    assert(got == expected)
    // sanity: the log actually sessionizes (some user has > 1 session)
    assert(got.values.map(_._2).max > 1L, "fixture produced no multi-session user")
  }

  test("q_sessionize boundary: a gap of EXACTLY 30 min starts a new session (>= semantics)") {
    import spark.implicits._
    // three events: t0, t0 + gap - 1µs (same session), then + exactly gap
    // from the second (new session) — pins the session_window half-open
    // boundary the batch backfill must share with q_stream_session.
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    val gap = ops.Streaming.SessionGapUs
    val dir = java.nio.file.Files.createTempDirectory("sess_boundary").toString
    Seq(
      (1L, 7L, t0),
      (2L, 7L, t0 + gap - 1),
      (3L, 7L, t0 + gap - 1 + gap)
    ).toDF("event_id", "user_id", "us")
      .select($"event_id", $"user_id",
        org.apache.spark.sql.functions.expr("timestamp_micros(us)").as("ts"),
        org.apache.spark.sql.functions.lit("hb").as("event_type"),
        org.apache.spark.sql.functions.lit(0L).as("value"))
      .write.parquet(s"$dir/events.parquet")
    val seqs = ops.Streaming.sessionize(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(seqs == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("q_funnel: stage order is enforced — out-of-order events never convert") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    def t(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    // u1 converts fully; u2 purchases WITHOUT a click (must stall at view);
    // u3's click precedes its view (stale click must not count);
    // u4 is fully reversed (purchase, click, view).
    val rows = Seq(
      (1L, t(0), 1L, "view"), (2L, t(1), 1L, "click"), (3L, t(2), 1L, "purchase"),
      (4L, t(0), 2L, "view"), (5L, t(1), 2L, "purchase"),
      (6L, t(0), 3L, "click"), (7L, t(1), 3L, "view"), (8L, t(2), 3L, "purchase"),
      (9L, t(0), 4L, "purchase"), (10L, t(1), 4L, "click"), (11L, t(2), 4L, "view"))
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val got = ops.Streaming.funnel(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("1_view", 4L), ("2_click", 1L), ("3_purchase", 1L)),
      "only u1 follows view→click→purchase in order; u2/u3/u4 must stall at stage 1")
  }

  test("q_retention: cohort = first active day; same-day repeat events collapse") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-retention").toString
    def d(day: Int, h: Int = 0) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val rows = Seq(
      (1L, d(1), 1L, "view"), (2L, d(1, 5), 1L, "click"), (3L, d(3), 1L, "view"),
      (4L, d(1), 2L, "view"),
      (5L, d(2), 3L, "view"), (6L, d(3), 3L, "view"))
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val got = ops.Streaming.retention(spark, dir)
      .selectExpr("CAST(cohort_day AS STRING)", "day_offset", "n_users")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L), ("2024-01-02", 1L, 1L)),
      "u1's two Jan-1 events count once (distinct activity); offsets are per-cohort")
  }

  test("streaming drift monitor grades each ingest batch against the static reference") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString + "/log"
    // reference: srcX half the docs fully stopworded (bucket 10), half
    // not (bucket 0) — "the the the" vs "x y z"
    val stopful = "the the the"
    val stopless = "x y z"
    val ref = ops.TextQuality.qualityBuckets(
      Seq(("srcX", stopful), ("srcX", stopless)).toDF("source", "text"))
      .localCheckpoint()
    val ms = MemoryStream[(Long, String, String)]
    val q = ops.TextQuality.driftMonitorSink(
      ms.toDF().toDF("doc_id", "text", "source"), ref, dir)
    try {
      // batch 0 matches the reference distribution → TVD 0
      ms.addData((1L, stopful, "srcX"), (2L, stopless, "srcX"))
      q.processAllAvailable()
      // batch 1: all mass moved to bucket 10 → TVD = 500000 ppm
      ms.addData((3L, stopful, "srcX"), (4L, stopful, "srcX"))
      q.processAllAvailable()
      val log = spark.read.parquet(dir)
        .select($"batch_id", $"source", $"tvd_ppm")
        .as[(Long, String, Long)].collect().toSet
      assert(log === Set((0L, "srcX", 0L), (1L, "srcX", 500000L)),
        "matching batch grades 0; fully-shifted batch grades 500000 ppm " +
          "(the reference's bucket-0 share counts via the full-outer densify)")
    } finally q.stop()
  }

  test("cms sketch log: per-batch sketches merge to the exact full-stream counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val dir = s"/tmp/graft-test-cmslog-${java.util.UUID.randomUUID()}"
    val q = ops.TextQuality.cmsSketchSink(ms.toDF().toDF("doc_id", "text"), dir)
    try {
      ms.addData((1L, "apple banana apple"), (2L, "cherry banana"))
      q.processAllAvailable()
      ms.addData((3L, "apple apple date"))
      q.processAllAvailable()
      // one immutable ~100 KB sketch row per batch
      assert(spark.read.parquet(dir).count() == 2)
      // merged estimates == exact counts over BOTH batches (collision-free
      // operating point ⇒ merge associativity is exactly observable)
      val probeDir = s"/tmp/graft-test-cmsprobe-${java.util.UUID.randomUUID()}"
      Seq((0L, "apple banana cherry date", "en", "src0", 24L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$probeDir/documents.parquet")
      val got = ops.TextQuality.cmsMergedEstimates(spark, dir, probeDir)
        .as[(String, Long, Boolean)].collect()
        .map(r => r._1 -> r._2).toMap
      assert(got == Map("apple" -> 4L, "banana" -> 2L, "cherry" -> 1L, "date" -> 1L))
    } finally q.stop()
  }
}

package graft

import org.apache.spark.sql.functions.{expr, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The CMS sketch-log compaction contract (VERDICT r18 missing #1):
  * folding aged per-batch rows into one checkpoint row must change
  * NOTHING observable (Count-Min merge is associative counter-matrix
  * addition, so the checkpoint is bit-identical state), must bound the
  * merge-on-read fold at (1 checkpoint + keepTail) files regardless of
  * stream age, and must survive a crash at either window of the
  * publish protocol with zero lost counts — the reference's
  * delta-heartbeat discipline (ship deltas, keep bounded state,
  * storageNode/HeartbeatRunnable.java:101-143) applied to the one
  * previously unbounded driver-side log.
  */
class CmsCompactionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  // lift the in-flight-reader sweep grace for determinism: these
  // fixtures assert exact swept counts in the same run; the TTL gate
  // itself has a dedicated test below
  private var savedCoveredTtl = 0L
  override def beforeAll(): Unit = {
    savedCoveredTtl = ops.TextQuality.cmsCoveredTtlMs
    ops.TextQuality.cmsCoveredTtlMs = 0L
  }
  override def afterAll(): Unit =
    ops.TextQuality.cmsCoveredTtlMs = savedCoveredTtl

  /** All distinct tokens used by the fixtures — the probe corpus. */
  private val vocab = Seq("apple", "banana", "cherry", "date", "elder")

  private def mkProbeDir(): String = {
    import spark.implicits._
    val d = s"/tmp/graft-test-cmsprobe-${java.util.UUID.randomUUID()}"
    val text = vocab.mkString(" ")
    Seq((0L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  /** Append one batch row in the PRE-r19 two-column vintage (sk,
    * batch_id) via plain mode("append") — proves compaction and the
    * explicit-schema read migrate an old log with no rewrite step.
    */
  private def appendOldVintage(dir: String, batchId: Long,
      tokens: Seq[String]): Unit = {
    import spark.implicits._
    tokens.toDF("token")
      .agg(expr(ops.TextQuality.cmsAgg("token")).as("sk"))
      .withColumn("batch_id", lit(batchId))
      .coalesce(1).write.mode("append").parquet(dir)
  }

  private def estimates(dir: String, probe: String): Map[String, Long] =
    ops.TextQuality.cmsMergedEstimates(spark, dir, probe)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Non-hidden data files in the log dir (what a Spark read sees). */
  private def logFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.toSeq.map(_.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted

  private def hiddenDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(".")).map(_.getName)

  // six batches with known exact counts; tail of 2 stays raw
  private val batches: Seq[Seq[String]] = Seq(
    Seq("apple", "apple", "banana"),
    Seq("banana", "cherry"),
    Seq("apple", "date"),
    Seq("cherry", "cherry", "elder"),
    Seq("date", "apple"),
    Seq("elder", "banana"))
  private val exact: Map[String, Long] =
    batches.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap

  private def mkLog(n: Int = batches.length): String = {
    val dir = s"/tmp/graft-test-cmslog-${java.util.UUID.randomUUID()}"
    batches.take(n).zipWithIndex.foreach { case (ts, i) =>
      appendOldVintage(dir, i.toLong, ts)
    }
    dir
  }

  test("compaction preserves every estimate and bounds the live fold at 1+tail") {
    val dir = mkLog(); val probe = mkProbeDir()
    val before = estimates(dir, probe)
    assert(before == exact,
      "collision-free operating point: merged estimates must equal exact counts")
    val report = ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    assert(report.toString == "ckpt=3 folded=4 swept=4",
      s"batches 0..3 fold (watermark = 5 - 2), their 4 files sweep: $report")
    assert(logFiles(dir).length == 3,
      s"1 checkpoint + 2 tail files expected: ${logFiles(dir)}")
    assert(estimates(dir, probe) == exact,
      "CMS merge is associative counter addition — compaction is invisible")
  }

  test("re-running compaction on a compacted log is a no-op") {
    val dir = mkLog(); val probe = mkProbeDir()
    ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    val files = logFiles(dir)
    val report = ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    assert(report.toString == "ckpt=3 folded=0 swept=0", s"no new rows aged out: $report")
    assert(logFiles(dir) == files, "an idempotent re-run rewrites nothing")
    assert(estimates(dir, probe) == exact)
  }

  test("second compaction folds checkpoint + newly aged raws incrementally") {
    val dir = mkLog(4); val probe = mkProbeDir()
    ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    // stream advances: batches 4 and 5 arrive after the first compaction
    appendOldVintage(dir, 4L, batches(4))
    appendOldVintage(dir, 5L, batches(5))
    val report = ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    // old ckpt (upto=1) + raws 2,3 fold to upto=3; old ckpt file + 2 raw
    // files sweep — the checkpoint is itself a mergeable delta
    assert(report.toString == "ckpt=3 folded=3 swept=3", report)
    assert(logFiles(dir).length == 3)
    assert(estimates(dir, probe) == exact)
  }

  test("crash before publish: staging orphan is invisible, next run converges") {
    val dir = mkLog(); val probe = mkProbeDir()
    ops.TextQuality.cmsCrashPoint = 1
    try intercept[IllegalStateException] {
      ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    } finally ops.TextQuality.cmsCrashPoint = 0
    assert(hiddenDirs(dir).exists(_.startsWith(".cms-ckpt-build-")),
      "the crash leaves the staged checkpoint behind")
    assert(logFiles(dir).length == batches.length,
      "no published file changed before the rename")
    assert(estimates(dir, probe) == exact,
      "dot-prefixed staging is invisible to Spark reads — no double count")
    // a young orphan is left alone (it may belong to a live compactor);
    // once TTL-aged it sweeps on the next run
    val report = ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    assert(report.toString == "ckpt=3 folded=4 swept=4", report)
    assert(hiddenDirs(dir).exists(_.startsWith(".cms-ckpt-build-")))
    val savedTtl = ops.Derived.orphanTtlMs
    ops.Derived.orphanTtlMs = 0L
    try ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    finally ops.Derived.orphanTtlMs = savedTtl
    assert(!hiddenDirs(dir).exists(_.startsWith(".cms-ckpt-build-")),
      "TTL-aged staging orphans sweep")
    assert(estimates(dir, probe) == exact)
  }

  test("crash between publish and sweep: reads exclude covered rows; re-run sweeps") {
    val dir = mkLog(); val probe = mkProbeDir()
    ops.TextQuality.cmsCrashPoint = 2
    try intercept[IllegalStateException] {
      ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    } finally ops.TextQuality.cmsCrashPoint = 0
    assert(logFiles(dir).length == batches.length + 1,
      "checkpoint published, covered raw files not yet swept")
    assert(estimates(dir, probe) == exact,
      "live-row filter drops covered raws — the crash window never double-counts")
    val report = ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    assert(report.toString == "ckpt=3 folded=0 swept=4",
      s"re-run folds nothing new but finishes the sweep: $report")
    assert(logFiles(dir).length == 3)
    assert(estimates(dir, probe) == exact)
  }

  test("twin checkpoints fold ONCE: a racing compactor's duplicate never doubles counts") {
    val dir = mkLog(); val probe = mkProbeDir()
    ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    // the crash-at-2 + racing-compactor state: a bit-identical TWIN of
    // the current checkpoint coexists in the log
    val fsLocal = new java.io.File(dir)
    val ckpt = fsLocal.listFiles.find(_.getName.startsWith("cms-ckpt-3-")).get
    java.nio.file.Files.copy(ckpt.toPath,
      new java.io.File(dir, "cms-ckpt-3-twin0000.parquet").toPath)
    assert(estimates(dir, probe) == exact, "reads already dedupe twins")
    // the stream advances and the NEXT compaction folds the checkpoint
    // forward — exactly one twin may enter the fold
    appendOldVintage(dir, 6L, Seq("apple"))
    appendOldVintage(dir, 7L, Seq("banana"))
    val report = ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    assert(report.toString == "ckpt=5 folded=3 swept=4",
      s"1 ckpt (deduped) + raws 4,5 fold; both twins + raws 4,5 sweep: $report")
    val want = exact ++ Map("apple" -> (exact("apple") + 1),
      "banana" -> (exact("banana") + 1))
    assert(estimates(dir, probe) == want,
      "a twin checkpoint folded twice would double every batch-0..3 count")
  }

  test("covered files linger one TTL window for in-flight readers, then sweep") {
    val dir = mkLog(); val probe = mkProbeDir()
    ops.TextQuality.cmsCoveredTtlMs = 3600L * 1000
    try {
      val r1 = ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
      assert(r1.toString == "ckpt=3 folded=4 swept=0",
        s"a just-published checkpoint's covered files must linger: $r1")
      assert(logFiles(dir).length == batches.length + 1,
        "covered raws still on disk for readers that planned over them")
      assert(estimates(dir, probe) == exact,
        "reads exclude covered rows regardless of the sweep")
      // age the checkpoint past the TTL: the next cadence tick sweeps
      val ckpt = new java.io.File(dir).listFiles
        .find(_.getName.startsWith("cms-ckpt-3-")).get
      ckpt.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000)
      val r2 = ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
      assert(r2.toString == "ckpt=3 folded=0 swept=4",
        s"an aged checkpoint's covered files sweep: $r2")
      assert(logFiles(dir).length == 3)
      assert(estimates(dir, probe) == exact)
    } finally ops.TextQuality.cmsCoveredTtlMs = 0L
  }

  test("a batch id at or below the checkpoint floor is skipped even after its file was swept") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = mkLog(); val probe = mkProbeDir()
    ops.TextQuality.cmsCompactSketchLog(spark, dir, keepTail = 2)
    // batches 0..3 folded and their files swept: a restart with a FRESH
    // stream checkpoint restarts ids at 0 — the file-existence guard is
    // gone, so the sink must fall back to the checkpoint-name floor or
    // the new row would be accepted, excluded by every read, and
    // deleted by the next sweep (silent loss)
    val ms = MemoryStream[(Long, String)]
    val q = ops.TextQuality.cmsSketchSink(ms.toDF().toDF("doc_id", "text"), dir)
    try {
      ms.addData((9L, "elder elder elder"))
      q.processAllAvailable()
    } finally q.stop()
    assert(!logFiles(dir).contains("cms-batch-0.parquet"),
      s"batch 0 <= ckpt floor 3 must be skipped as a replay: ${logFiles(dir)}")
    assert(estimates(dir, probe) == exact, "skipped replay changes no count")
  }

  test("sink publishes deterministic per-batch files and skips a replayed batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = s"/tmp/graft-test-cmslog-${java.util.UUID.randomUUID()}"
    val probe = mkProbeDir()
    val ms = MemoryStream[(Long, String)]
    val q = ops.TextQuality.cmsSketchSink(ms.toDF().toDF("doc_id", "text"), dir)
    try {
      ms.addData((1L, "apple banana apple"), (2L, "cherry banana"))
      q.processAllAvailable()
      ms.addData((3L, "apple apple date"))
      q.processAllAvailable()
    } finally q.stop()
    assert(logFiles(dir) == Seq("cms-batch-0.parquet", "cms-batch-1.parquet"),
      s"deterministic per-batch file names: ${logFiles(dir)}")
    val want = Map("apple" -> 4L, "banana" -> 2L, "cherry" -> 1L, "date" -> 1L)
    assert(estimates(dir, probe).view.filterKeys(want.contains).toMap == want)
    // a NEW query on the same log (fresh checkpoint → batch ids restart
    // at 0) replays batch 0 with DIFFERENT data; the deterministic file
    // already exists, so the sink must skip — bare append would
    // double-count every replayed batch
    val ms2 = MemoryStream[(Long, String)]
    val q2 = ops.TextQuality.cmsSketchSink(ms2.toDF().toDF("doc_id", "text"), dir)
    try {
      ms2.addData((9L, "elder elder elder"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(logFiles(dir) == Seq("cms-batch-0.parquet", "cms-batch-1.parquet"))
    assert(estimates(dir, probe).view.filterKeys(want.contains).toMap == want,
      "replayed batch 0 skipped: counts unchanged")
  }
}

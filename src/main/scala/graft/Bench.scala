package graft
object Bench {

  /** Fixed-work single-thread CPU calibration: 200M xorshift64 steps,
    * timed after one untimed JIT warm-up pass. The work is constant, so
    * the measured milliseconds move ONLY with the box's
    * contention/thermal state — a bench record whose calib_ms drifts vs
    * another record's is measuring a different machine-state, and
    * benchdiff annotates the comparison instead of letting the drift
    * read as a code regression.
    */
  private def calibrateMs(): Double = {
    def pass(n: Long): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val sink = pass(20000000L) // warm the JIT untimed
    val t0 = System.nanoTime()
    val sink2 = pass(200000000L)
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink == 42L && sink2 == 42L) System.err.println("") // defeat DCE
    ms
  }

  /** 1-minute loadavg at launch (what the box was already doing). */
  private def loadavgStart(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) =>
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    }

  def main(args: Array[String]): Unit = {
    // calibration fields FIRST, before any Spark threads exist: the
    // record must be interpretable stand-alone (was the box loaded?)
    val loadavg = loadavgStart()
    val calibMs = calibrateMs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_EXTRA_CONF, as in Verify: the sf10 timed leg raises the
    // stride-1 substring ceiling so the bench measures the math at
    // volume instead of recording the (designed) loud refusal
    val spark = Sessions.build(s"local[$cpus]", cpus.toInt,
      sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(Sessions.parseConfList))
    // JVM/session warmup (untimed): initializes Hadoop FS, the codegen
    // compiler, and the scheduler once so the first measured query isn't
    // charged for process bring-up. Each query's own planning/codegen
    // still lands inside its timing.
    spark.range(1000).selectExpr("sum(id)").collect()
    ParquetMeta.read(spark, s"$sfDir/lineitem.parquet").limit(1).count()
    // SPARK_GRAFT_ITERS > 1 (opt-in): run the whole registry N times and
    // report per-query MEDIANS — the single-shot numbers have been
    // contention-noise across rounds (same code, 2-6x swings), and a
    // median over 3 runs is stable enough to compare rounds. Default
    // stays 1: the driver's contract and timing budget are single-shot.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "1").toInt.max(1)
    // Deterministic name-sorted order: Map iteration is hash-ordered and
    // RESHUFFLES whenever a query is added, so every query's timing
    // absorbed a different predecessor GC/cache state each round — the
    // documented 2-6x "contention noise" class. Sorted order pins each
    // query's environment round-over-round (and keeps the beneficial
    // pairs adjacent: build before prune, cc before cluster_stats).
    // SPARK_GRAFT_BENCH_ONLY (dev-only, comma-separated) times a subset
    // in isolation; the driver sets nothing and runs the full registry.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // A bench-only crash (OOM, codegen failure) must surface as an
    // ERROR, not read as a fast query: CORRECTNESS is the wrong-answer
    // gate, but a swallowed throw here would report a wall-time for a
    // query that never ran. Collected across all iterations and
    // emitted as "errors":[names] in the metric line.
    val errored = scala.collection.mutable.SortedSet[String]()
    // Shuffle-bytes telemetry: exchange-count plan pins
    // catch ADDED shuffles but not INFLATED ones (same plan, 10× bytes
    // through the exchange). Attribute per-stage shuffle read/write and
    // spill bytes to the running query via its job group (thread-local,
    // so every job a builder triggers — localCheckpoint pins, broadcast
    // builds, the final count — lands on the right query; a memoized
    // index build attributes to the first query that touches it).
    // Attribution is by stage id, so late-arriving listener events still
    // land correctly; the full map is written after spark.stop(), by
    // which point the listener bus has drained.
    // The same listener counts each query's Spark jobs (builder jobs
    // included), so a change that adds or removes jobs shows per query.
    val shuffleAgg = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val jobsAgg = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
    val stageToGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) {
          js.stageIds.foreach(sid => stageToGroup.put(sid, g))
          jobsAgg.computeIfAbsent(g, _ => new java.util.concurrent.atomic.LongAdder).increment()
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val g = stageToGroup.get(sc.stageInfo.stageId)
        if (g != null) {
          val m = sc.stageInfo.taskMetrics
          val arr = shuffleAgg.computeIfAbsent(g, _ => Array.fill(3)(0L))
          arr.synchronized {
            arr(0) += m.shuffleReadMetrics.totalBytesRead
            arr(1) += m.shuffleWriteMetrics.bytesWritten
            arr(2) += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })
    // NOTE on per-query shuffle sizing: a
    // volume-multiplier override (partitions = sourceBytes × mult /
    // 64 MB for the explode/pair-verify class) was implemented and
    // MEASURED here in r16, and reverted on the evidence — 8× partitions
    // doubled q_dedup_collapsed_jaccard's sf100 wall (59.7 → 128.6 s)
    // for a 27% spill reduction, slowed every sized sf10 query 15-30%,
    // and left q_heartbeat_map_explode's spill untouched (its spill is
    // the collect_list object state of the full-catalog map round-trip
    // itself, invariant under partitions AND the objectHashAggregate
    // fallback threshold; the fleet-scale path is the bounded delta
    // heartbeat). The spill that WAS fixable was plan-shaped, not
    // partition-shaped: q_unpivot's multi-countDistinct Expand
    // (135 GB → rewritten to split distinct aggregates). BENCHNOTES r16
    // has the full A/B table.
    val runs = (1 to iters).map { _ =>
      ordered.map { case (name, fn) =>
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          errored += name
          System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    spark.sparkContext.clearJobGroup()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }
    val results: Map[String, Double] =
      if (iters == 1) runs.head
      else runs.head.keys.map(k => k -> median(runs.map(_(k)))).toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // The harness records only the LAST ~2000 bytes of stdout, and its
    // parser chokes on a truncated line: a full 148-query JSON line is
    // ~6 KB, so printing it guarantees the recorded tail starts mid-line
    // and the headline total is lost (BENCH_r07..r10 all have
    // parsed:null for exactly this reason). Print ONE compact line —
    // total + the slowest queries, always well under the tail window —
    // and park the full per-query breakdown in a file for BENCHNOTES.
    val errs = errored.map("\"" + _ + "\"").mkString("[", ",", "]")
    val top = results.toSeq.sortBy(-_._2).take(12)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val singleShot = runs.head.values.sum
    // Print the metric line AFTER spark.stop(): executor/BlockManager
    // shutdown logs (stderr) can interleave past a pre-stop println when
    // the driver captures stdout+stderr merged, leaving a log line as the
    // recorded tail's last line. Quiet the logger first so stop() itself
    // emits nothing above ERROR, then emit the one JSON line and flush.
    // stop() also drains the listener bus, so the shuffle-bytes map is
    // complete once it returns — the full-file write happens after.
    // Storage still held at the end of the pass: every persisted RDD
    // (pins and cached memos) that nothing released, memory + disk.
    // Each one is listed by name (a pin names its call site), creation
    // site and MB, largest first.
    val held = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
      .sortBy(r => -(r.memSize + r.diskSize))
    def jsonStr(x: String): String = "\"" + Option(x).getOrElse("").take(200).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val heldRdds = held.map { r =>
      s"""{"id":${r.id},"name":${jsonStr(r.name)},"call_site":${jsonStr(r.callSite)},"mb":${(r.memSize + r.diskSize) / 1e6}}"""
    }.mkString("[", ",", "]")
    val storage = s""""storage_mb_end":${held.map(r => r.memSize + r.diskSize).sum / 1e6},"persisted_rdds_end":${held.length},"storage_end":$heldRdds"""
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    import scala.jdk.CollectionConverters._
    // per-iteration averages so SPARK_GRAFT_ITERS > 1 stays comparable
    // with single-shot records
    val shuffle = shuffleAgg.asScala.toSeq.sortBy(_._1).map { case (k, a) =>
      s"\"$k\":{\"read_b\":${a(0) / iters},\"write_b\":${a(1) / iters},\"spill_b\":${a(2) / iters}}"
    }.mkString("{", ",", "}")
    val Seq(readB, writeB, spillB) = (0 to 2).map(i =>
      shuffleAgg.values.asScala.map(_(i)).sum / iters)
    val jobCounts = jobsAgg.asScala.toSeq.sortBy(_._1).map { case (k, n) => k -> n.sum / iters }
    val jobs = jobCounts.map { case (k, n) => s"\"$k\":$n" }.mkString("{", ",", "}")
    val calib = s""""loadavg_start":$loadavg,"calib_ms":$calibMs"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec",$calib,"errors":$errs,"queries":$qs,"shuffle":$shuffle,"jobs":$jobs,"jobs_total":${jobCounts.map(_._2).sum},$storage,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/graft_bench_full.json"),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(_) => () }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"iters":$iters,"single_shot":$singleShot,$calib,"shuffle_read_b":$readB,"shuffle_write_b":$writeB,"spill_b":$spillB,"errors":$errs,"queries":$top,"sf":"$sfDir"}""")
    System.out.flush()
  }
}

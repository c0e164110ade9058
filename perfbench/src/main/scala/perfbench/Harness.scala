package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry
import graft.ops.Streaming
import graft.ops.Streaming.Heartbeat
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The measuring side of the benchmark: one JVM runs one workload and
  * writes a raw JSON record (per-phase timings, counts, listener
  * events, micro-batch progress). `run.py` turns the record into
  * metrics, checks outputs and prints the result line.
  *
  * Usage: Harness gen <outDir> <sf> <threads>
  *        Harness run key=value...   (keys: workload, seed, seconds,
  *          trace, threads, sfdir, rundir, out)
  */
object Harness {

  // ---- workload shapes -------------------------------------------------

  /** `stream_heartbeat`: rows per micro-batch, untimed warm-up batches
    * and batches per reported pass. Distinct keys are drawn per seed
    * just below the batch size, so every batch touches every key of
    * the open window.
    */
  val StreamRowsPerBatch = 20000
  val StreamWarmupBatches = 5
  val StreamBatchesPerPass = 5

  /** The `cold_registry` slice: twelve names spread evenly over the
    * name-sorted registry of 192 (every sixteenth), pinned so that adding
    * or renaming a registry query leaves the workload as it is. Run in
    * name-sorted order.
    */
  val ColdQueries: Seq[String] = Seq(
    "q_agg_approx_distinct", "q_agg_sum_global", "q_decontaminate_bloom",
    "q_dedup_paragraph", "q_fileindex_build", "q_join_full_outer",
    "q_join_waiting_suppliers", "q_mm_video", "q_sample_weighted",
    "q_sim_search_ivf_kmeans", "q_subquery_anti_agg", "q_udaf_file_checksum")

  def coldQueries: Seq[String] = {
    val missing = ColdQueries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"cold_registry queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
    ColdQueries
  }

  // ---- clock and JSON --------------------------------------------------

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** CPU milliseconds this JVM has used, all threads (tasks, driver,
    * GC and JIT compiler).
    */
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => Double.NaN
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // ---- session ---------------------------------------------------------

  def session(threads: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.graft.pinDir", s"$runDir/pin")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/ckpt")
      .getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- tracing (only with trace=1) -------------------------------------

  /** Listener-side evidence, kept in memory and dumped into the record
    * when the run ends. Jobs carry the job group the benchmark set
    * (`<pass>|<query>|<phase>`) or, for micro-batches, the batch id.
    */
  final class Tracer extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
    val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
    /** per stage id: tasks, failed tasks, scheduler-delay ms */
    val tasks = new ConcurrentHashMap[Int, Array[Double]]()
    val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
    val own: java.util.Set[QueryExecution] = ConcurrentHashMap.newKeySet[QueryExecution]()
    private val started = new ConcurrentHashMap[Int, (Long, String, String, Seq[Int])]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val p = Option(js.properties)
      started.put(js.jobId, (js.time,
        p.map(_.getProperty("spark.jobGroup.id")).orNull,
        p.map(_.getProperty("streaming.sql.batchId")).orNull, js.stageIds))
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (t0, group, batch, stageIds) =>
        jobs.add(Map("id" -> je.jobId, "group" -> group, "batch" -> batch,
          "start_ms" -> t0, "end_ms" -> je.time, "stages" -> stageIds,
          "ok" -> (je.jobResult.toString == "JobSucceeded")))
      }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val a = tasks.computeIfAbsent(te.stageId, _ => Array(0.0, 0.0, 0.0))
      val info = te.taskInfo
      val m = te.taskMetrics
      val delay = if (m == null || info.finishTime == 0) 0.0 else (info.duration -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime).max(0L).toDouble
      a.synchronized {
        a(0) += 1
        if (!info.successful) a(1) += 1
        a(2) += delay
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val m = i.taskMetrics
      val base = Map[String, Any]("id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "name" -> i.name, "num_tasks" -> i.numTasks,
        "submit_ms" -> i.submissionTime.getOrElse(0L),
        "end_ms" -> i.completionTime.getOrElse(0L), "failed" -> i.failureReason.isDefined)
      stages.add(if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "output_b" -> m.outputMetrics.bytesWritten))
    }

    /** Catalyst phases of every action the builders run themselves
      * (artifact writes, pins, collects); the benchmark's own count
      * Dataset is read directly and skipped here.
      */
    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit =
        if (!own.contains(qe)) plans.add(phases(qe))
    }

    def dump: Map[String, Any] = Map(
      "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
      "tasks" -> tasks.asScala.map { case (k, a) =>
        k.toString -> Map("n" -> a(0), "failed" -> a(1), "sched_ms" -> a(2)) },
      "internal_plans" -> plans.asScala.toSeq)
  }

  def phases(qe: QueryExecution): Map[String, Any] =
    qe.tracker.phases.map { case (k, p) =>
      k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }

  // ---- artifact store ----------------------------------------------------

  /** Published artifact dirs under the run's tmpdir: `<family>/d<hash>_…`
    * (the `Derived.dirFor` layout), build and retired dirs excluded.
    */
  def artifacts(tmp: File): Set[String] =
    Option(tmp.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap { fam =>
      Option(fam.listFiles).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.matches("d[0-9a-f]{8}_.*") &&
          !d.getName.contains(".build-") && !d.getName.contains(".old-"))
        .map(d => s"${fam.getName}/${d.getName}")
    }.toSet

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(bytesUnder).sum

  def storage(spark: SparkSession): Map[String, Any] = {
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    Map("rdds" -> cached.length, "bytes" -> cached.map(r => r.memSize + r.diskSize).sum)
  }

  // ---- one query: build, plan, execute -----------------------------------

  final class Runner(spark: SparkSession, sfDir: String, tracer: Option[Tracer], tmp: File) {
    private val sc = spark.sparkContext
    private def codegen: (Long, Long) =
      (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

    private def phase[T](group: String, name: String)(body: => T): (Either[Throwable, T], Map[String, Any]) = {
      sc.setJobGroup(group + "|" + name, name, interruptOnCancel = false)
      val cg0 = if (tracer.isDefined) codegen else (0L, 0L)
      val t0 = nowMs
      val r = try Right(body) catch { case e: Throwable => Left(e) }
      val t1 = nowMs
      val cg1 = if (tracer.isDefined) codegen else (0L, 0L)
      (r, Map("start_ms" -> t0, "end_ms" -> t1,
        "codegen_ns" -> (cg1._1 - cg0._1), "codegen_n" -> (cg1._2 - cg0._2)))
    }

    def query(pass: String, name: String): Map[String, Any] = {
      val fn = SparkEntry.queries(name)
      val group = s"$pass|$name"
      val before = if (tracer.isDefined) artifacts(tmp) else Set.empty[String]
      val bytes0 = if (tracer.isDefined) bytesUnder(tmp) else 0L
      val (built, build) = phase(group, "build")(fn(spark, sfDir))
      var rec = Map[String, Any]("name" -> name, "pass" -> pass, "build" -> build)
      val outcome: Either[Throwable, Long] = built.flatMap { df =>
        val (planned, plan) = phase(group, "plan") {
          val counted = df.groupBy().count()
          tracer.foreach(_.own.add(counted.queryExecution))
          counted.queryExecution.executedPlan
          counted
        }
        rec += "plan" -> (plan ++ tracer.flatMap(_ =>
          planned.toOption.map(c => "catalyst" -> phases(c.queryExecution))))
        planned.flatMap { counted =>
          val (n, exec) = phase(group, "execute")(counted.collect()(0).getLong(0))
          rec += "execute" -> exec
          n
        }
      }
      sc.clearJobGroup()
      if (tracer.isDefined) {
        rec += "derived_built" -> (artifacts(tmp) -- before).size
        rec += "tmp_bytes_delta" -> (bytesUnder(tmp) - bytes0)
      }
      outcome match {
        case Right(n) => rec + ("ok" -> true) + ("count" -> n)
        case Left(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          rec + ("ok" -> false) + ("error" -> e.toString.take(500))
      }
    }
  }

  // ---- workloads -----------------------------------------------------------

  def jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** One cold pass in name-sorted order, the order `graft.Bench` uses:
    * first-call costs (JIT, class loading, shared artifacts) land on
    * whichever queries run first, so a seeded order would move the pass
    * time by ~20 % between seeds. The seed does not enter this workload.
    */
  def coldRegistry(spark: SparkSession, runner: Runner, names: Seq[String]): Map[String, Any] = {
    val (t0, c0) = (nowMs, cpuMs)
    val qs = names.map(runner.query("p0", _))
    Map("setup_end_ms" -> t0,
      "passes" -> Seq(Map("pass" -> "p0", "start_ms" -> t0, "end_ms" -> nowMs,
        "cpu_start_ms" -> c0, "cpu_end_ms" -> cpuMs, "storage" -> storage(spark))),
      "queries" -> qs)
  }

  def streamHeartbeat(spark: SparkSession, runDir: String, threads: Int, seconds: Int,
                      seed: Long): Map[String, Any] = {
    import spark.implicits._
    val rows = StreamRowsPerBatch
    val keys = rows - 1 - new Random(seed).nextInt(rows / 20)
    // an affine map with a multiplier coprime to `keys` permutes node ids
    val mult = Iterator.from(7919).find(m => BigInt(m).gcd(keys) == 1).get
    val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val cpuAt = new ConcurrentHashMap[Long, Double]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        cpuAt.put(e.progress.batchId, cpuMs)
        progress.add(e.progress)
      }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val b0 = nowMs
    val hb: Dataset[Heartbeat] = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rows)
      .option("numPartitions", threads)
      .option("advanceMillisPerBatch", 60000)
      .load()
      .select(col("timestamp").as("ts"),
        concat(lit("node"), pmod(col("value") * lit(mult.toLong) + lit(seed), lit(keys.toLong))
          .cast("string")).as("node"))
      .as[Heartbeat]
    val counts = Streaming.watermarkedCounts(hb)
    val build = Map("start_ms" -> b0, "end_ms" -> nowMs,
      "catalyst" -> phases(counts.queryExecution))
    val q = counts.writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", s"$runDir/ckpt/heartbeat").start()
    def done = progress.asScala.count(_.batchId >= StreamWarmupBatches)
    def timedMs = progress.asScala.filter(_.batchId >= StreamWarmupBatches)
      .map(_.durationMs.get("triggerExecution").toLong).sum
    val deadline = nowMs + 150000.0
    while (q.isActive && nowMs < deadline &&
      !progress.asScala.exists(_.batchId >= StreamWarmupBatches - 1))
      q.awaitTermination(5)
    val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    while (q.isActive && nowMs < deadline &&
      (done < 3 * StreamBatchesPerPass || timedMs < seconds * 1000L))
      q.awaitTermination(50)
    q.stop()
    val cg1 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val error = q.exception.map(_.toString.take(500))
    error.foreach(e => System.err.println(s"[perfbench] stream failed: $e"))
    val batches = progress.asScala.toSeq.sortBy(_.batchId).map { p =>
      val st = p.stateOperators.headOption
      Map[String, Any]("batch" -> p.batchId, "timestamp" -> p.timestamp,
        "cpu_after_ms" -> Option(cpuAt.get(p.batchId)),
        "input_rows" -> p.numInputRows, "output_rows" -> p.sink.numOutputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toLong },
        "watermark" -> Option(p.eventTime.get("watermark")),
        "state" -> st.map(s => Map("rows_total" -> s.numRowsTotal,
          "rows_updated" -> s.numRowsUpdated, "rows_removed" -> s.numRowsRemoved,
          "commit_ms" -> s.commitTimeMs, "update_ms" -> s.allUpdatesTimeMs,
          "removal_ms" -> s.allRemovalsTimeMs, "memory_b" -> s.memoryUsedBytes,
          "late_rows" -> s.numRowsDroppedByWatermark)))
    }
    val first = batches.find(_("batch") == StreamWarmupBatches.toLong)
    Map("setup_end_ms" -> first.map(b =>
        java.time.Instant.parse(b("timestamp").toString).toEpochMilli.toDouble).getOrElse(nowMs),
      "build" -> build, "stream" -> Map("rows_per_batch" -> rows, "keys" -> keys,
        "multiplier" -> mult, "warmup_batches" -> StreamWarmupBatches,
        "batches_per_pass" -> StreamBatchesPerPass, "run_id" -> q.runId.toString,
        "codegen_ns" -> (cg1._1 - cg0._1), "codegen_n" -> (cg1._2 - cg0._2),
        "error" -> error, "batches" -> batches),
      "passes" -> Seq(Map("pass" -> "p0", "storage" -> storage(spark))))
  }

  // ---- fixed-work CPU probe ----------------------------------------------

  /** 200M xorshift64 steps after an untimed warm-up: constant work, so
    * its milliseconds move only with the machine's state.
    */
  def cpuProbeMs(): Double = {
    def pass(n: Long): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val warm = pass(20000000L)
    val t0 = System.nanoTime()
    val sink = pass(200000000L)
    if (warm == 42L && sink == 42L) System.err.println()
    (System.nanoTime() - t0) / 1e6
  }

  // ---- entry -----------------------------------------------------------------

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      val Array(_, out, sf, threads) = args
      val spark = session(threads.toInt, out + ".run")
      graft.SfGen.generate(spark, out, sf.toDouble, threads.toInt)
      spark.stop()
    case Some("run") =>
      run(args.drop(1).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
    case _ =>
      System.err.println("usage: Harness gen <outDir> <sf> <threads> | Harness run key=value...")
      sys.exit(2)
  }

  def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val threads = a("threads").toInt
    val runDir = a("rundir")
    val trace = a("trace") == "1"
    val tmp = new File(sys.props("java.io.tmpdir"))
    // checked before the session starts, so a missing name fails the run at once
    val coldNames = if (workload == "cold_registry") coldQueries else Nil
    val spark = session(threads, runDir)
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t.qeListener)
    }
    // Process bring-up, untimed as in graft.Bench: the first Hadoop FS
    // access, codegen compile and shuffle are charged to set-up, not to
    // whichever query happens to run first.
    if (workload == "cold_registry") {
      spark.range(1000).selectExpr("sum(id)").collect()
      val li = spark.read.parquet(s"${a("sfdir")}/lineitem.parquet")
      li.limit(1).count()
      li.groupBy("l_suppkey").count().groupBy().count().collect()
    }
    val runner = new Runner(spark, a("sfdir"), tracer, tmp)
    val result = workload match {
      case "cold_registry" =>
        coldRegistry(spark, runner, coldNames)
      case "stream_heartbeat" =>
        streamHeartbeat(spark, runDir, threads, seconds, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val endMs = nowMs
    val oracle = result.get("queries").toSeq.flatMap(_.asInstanceOf[Seq[Map[String, Any]]])
      .map(_("name").toString).distinct
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop() // drains the listener bus
    val rec = result ++ Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "threads" -> threads, "trace" -> trace, "jvm_start_ms" -> jvmStartMs,
      "end_ms" -> endMs, "heap_max_b" -> Runtime.getRuntime.maxMemory,
      "artifact_b" -> bytesUnder(tmp), "artifacts" -> artifacts(tmp).toSeq.sorted,
      "oracle_sql" -> oracle, "cpu_probe_ms" -> cpuProbeMs()) ++
      tracer.map(t => Map("trace_events" -> t.dump)).getOrElse(Map.empty)
    Files.write(Paths.get(a("out")), json(rec).getBytes(UTF_8))
  }
}

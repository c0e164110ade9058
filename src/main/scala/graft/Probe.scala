package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** The dev probes behind one entry point,
  * `sbt "runMain graft.Probe <subcommand> [args]"` (see `Usage`).
  * Every subcommand gets the same session: master SPARK_GRAFT_MASTER
  * (`local-cluster[2,4,8192]` runs across real executor JVMs), else
  * `local[$SPARK_GRAFT_CPUS]` (default 32), with as many shuffle
  * partitions as cpus; only `stress` sizes partitions by volume (see
  * `partitions`). The command line is read by the pure `parse`; a bad
  * one, an unknown query name included, exits 2 before any session
  * starts.
  */
object Probe {

  sealed trait Cmd
  /** `showPlans` prints each query's formatted plan (off under ALL). */
  final case class Explain(names: Seq[String], showPlans: Boolean,
      sfDir: String, iters: Int) extends Cmd
  /** Runs the media decode legs if `media`, then `queries`, on the
    * `mult`× replica of `base`; neither means BUILD_ONLY: build (or
    * reuse) the replica, print its path and run nothing.
    */
  final case class Stress(base: String, mult: Int, queries: Seq[String],
      media: Boolean) extends Cmd
  final case class Stream(rowsPerBatch: Int, nBatches: Int) extends Cmd
  case object IvfDrift extends Cmd
  final case class Gc(ttlMs: Long) extends Cmd

  private val Usage =
    "usage: graft.Probe explain <name[,name...]|ALL> <sfDir> [iters]\n" +
    "       graft.Probe stress <baseSfDir> [mult] [name...|ALL|BUILD_ONLY]\n" +
    "       graft.Probe stream [rowsPerBatch] [nBatches]\n" +
    "       graft.Probe ivf-drift\n" +
    "       graft.Probe gc [ttl_ms]"

  /** The stress leg that is not a registry query (see `mediaDecode`). */
  private val MediaLeg = "media_decode_volume"

  private val HeavyDefaults = Seq(
    "q_dedup_exact", "q_dedup_ngram", "q_dedup_simhash", "q_dedup_near",
    "q_dedup_substring", "q_dedup_substring_auto", "q_dedup_collapsed_jaccard",
    "q_dedup_editdist", "q_dedup_paragraph",
    "q_dedup_phash", "q_source_overlap", "q_text_tfidf", "q_lm_fluency",
    "q_ann_recall", "q_ann_recall_mp", "q_lsh_bucket_stats",
    "q_heartbeat_map_explode", "q_heartbeat_map_delta",
    "q_fileindex_build", "q_fileindex_prune", "q_window_running",
    "q_agg_having_underreplicated", "q_pipeline_curate",
    // the TPC-H star/semi/anti shapes (fact-fact joins are exactly what
    // the scaled corpus stresses), the corpus-sized JSONL export and
    // reingest, and the windowed source cap
    "q_join_star_revenue", "q_join_shipping_priority",
    "q_join_large_orders", "q_join_returned_revenue",
    "q_join_nation_volume", "q_subquery_anti_agg",
    "q_jsonl_roundtrip", "q_jsonl_audit", "q_source_cap",
    MediaLeg)

  def parse(args: Seq[String]): Either[String, Cmd] = args match {
    case "explain" +: spec +: sfDir +: rest =>
      val names =
        if (spec == "ALL") SparkEntry.queries.keys.toSeq.sorted
        else spec.split(",").map(_.trim).toSeq
      for {
        _ <- known(names)
        iters <- intArg(rest, 0, 1)
      } yield Explain(names, spec != "ALL", sfDir, iters)
    case "stress" +: base +: rest =>
      val names = rest.drop(1) match {
        case Seq() => HeavyDefaults
        case Seq("ALL") => SparkEntry.queries.keys.toSeq.sorted
        case Seq("BUILD_ONLY") => Nil
        case ns => ns
      }
      val (media, queries) = names.partition(_ == MediaLeg)
      for {
        _ <- known(queries)
        mult <- intArg(rest, 0, 10)
      } yield Stress(base, mult, queries, media.nonEmpty)
    case "stream" +: rest =>
      for {
        rows <- intArg(rest, 0, 100000)
        n <- intArg(rest, 1, 30)
        // fewer batches than the warmup window would "measure" an empty
        // steady state and print a plausible-looking all-zero record
        _ <- Either.cond(n > StreamBench.Warmup, (),
          s"nBatches must exceed the ${StreamBench.Warmup}-batch warmup, got $n")
      } yield Stream(rows, n)
    case Seq("ivf-drift") => Right(IvfDrift)
    case "gc" +: rest =>
      arg(rest, 0, ops.Derived.generationTtlMs)(_.toLongOption.filter(_ >= 0)).map(Gc)
    case _ => Left(s"bad command line: ${args.mkString(" ")}")
  }

  private def known(names: Seq[String]): Either[String, Unit] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    Either.cond(unknown.isEmpty, (),
      s"unknown query name(s): ${unknown.mkString(", ")}")
  }

  /** `args(i)` as `read` accepts it, or `default` when absent. */
  private def arg[A](args: Seq[String], i: Int, default: A)(
      read: String => Option[A]): Either[String, A] =
    args.lift(i).fold[Either[String, A]](Right(default))(
      s => read(s).toRight(s"bad argument: $s"))

  private def intArg(args: Seq[String], i: Int, default: Int) =
    arg(args, i, default)(_.toIntOption.filter(_ > 0))

  /** Shuffle partitions: the cpu count, except under `stress`, which
    * scales them with data volume so per-partition aggregation state
    * stays constant as the corpus grows (32 at 1× and 10×, 320 at 100×);
    * without it the 100× window-hash aggregate holds 100× the state per
    * task and dies in a 4 GB heap. SPARK_GRAFT_PARTITIONS overrides the
    * rule: a genuine SfGen decade arrives with mult=1, so its volume
    * must be supplied.
    */
  private def partitions(cmd: Cmd, cpus: Int): Int = cmd match {
    case s: Stress => sys.env.get("SPARK_GRAFT_PARTITIONS")
      .map(_.toInt).getOrElse(math.max(cpus, 32 * s.mult / 10))
    case _ => cpus
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(err) =>
      System.err.println(s"graft.Probe: $err\n$Usage")
      sys.exit(2)
    case Right(cmd) =>
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
      val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
      val scratch = Files.createTempDirectory("graft-probe-")
      val spark = Sessions.build(master, partitions(cmd, cpus))
      // `stream` returns its summary line to print after stop(); its
      // checkpoints and the ivf-drift corpora live under `scratch`, which
      // goes only once the state-store threads have stopped (see
      // StreamBench.measure)
      val summary = try cmd match {
        case c: Explain => explain(spark, c); None
        case c: Stress => stress(spark, c); None
        case Stream(rows, n) => Some(StreamBench.measure(spark, rows, n, scratch))
        case IvfDrift => IvfDriftProbe.run(spark, scratch); None
        case Gc(ttl) => gc(spark, ttl); None
      } finally {
        spark.stop()
        org.apache.hadoop.fs.FileUtil.fullyDelete(scratch.toFile)
      }
      summary.foreach(println)
  }

  /** A query's rows, the seconds of each count and `inspect`'s note. */
  private final case class Timed(rows: Long, countS: Seq[Double], note: String)

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The one query loop of `explain` and `stress`. Per name it builds
    * the frame, hands it to `inspect`, counts it `iters` times and
    * prints `line(name, wall seconds, result)`. A failure is the
    * query's result, and the loop goes on.
    */
  private def timeQueries(spark: SparkSession, dir: String, names: Seq[String],
      iters: Int, inspect: (String, DataFrame) => String = (_, _) => "")(
      line: (String, Double, Either[Throwable, Timed]) => String): Unit =
    names.foreach { n =>
      val t0 = System.nanoTime()
      val run =
        try {
          val df = SparkEntry.queries(n)(spark, dir)
          val note = inspect(n, df)
          val counts = (1 to iters).map { _ =>
            val t = System.nanoTime()
            (df.count(), secsSince(t))
          }
          Right(Timed(counts.last._1, counts.map(_._2), note))
        } catch { case e: Throwable => Left(e) }
      println(line(n, secsSince(t0), run))
    }

  private def failure(e: Throwable): String =
    s"ERR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"

  /** Plan and timing per query: the `.explain`-and-iterate loop.
    * GRAFT_PLAN_DIR=<dir> also writes each query's formatted plan to
    * <dir>/<name>_<GRAFT_PLAN_TAG>.txt (tag default `before`).
    */
  private def explain(spark: SparkSession, c: Explain): Unit = {
    val planDir = sys.env.get("GRAFT_PLAN_DIR")
    val planTag = sys.env.getOrElse("GRAFT_PLAN_TAG", "before")
    def inspect(n: String, df: DataFrame): String = {
      if (c.showPlans) df.explain("formatted")
      planDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        Files.write(Paths.get(s"$dir/${n}_$planTag.txt"),
          df.queryExecution.explainString(FormattedMode).getBytes(UTF_8))
      }
      // scale red flags: a cartesian product is always a bug; sort-based
      // aggregation and one-partition exchanges deserve a justification
      // (some are inherent: string/struct agg buffers, global sorts)
      val plan = df.queryExecution.executedPlan.toString
      val flags = Seq(
        "CartesianProduct" -> "CARTESIAN",
        "SortAggregate" -> "sort-agg",
        "SinglePartition" -> "1-partition").collect {
        case (marker, label) if plan.contains(marker) => label
      }
      if (flags.isEmpty) "" else flags.mkString("  [", ",", "]")
    }
    timeQueries(spark, c.sfDir, c.names, c.iters, inspect) { (n, _, run) =>
      run.fold(e => f"[explain] $n%-28s ${failure(e)}",
        t => f"[explain] $n%-28s ${t.countS.map(s => f"$s%.2f").mkString(" ")}s${t.note}")
    }
  }

  /** Scale-stress the heavy operators on a `mult`× replica of the
    * fixture tables, the local stand-in for a decade the fixtures do not
    * include. Fact tables are unioned `mult` times with id-space offsets
    * (so keys stay unique and join/group cardinality really grows);
    * dimension tables are copied once.
    *
    * This is a deliberately ADVERSARIAL corpus for the dedup family:
    * every document is replicated `mult` times verbatim, so posting
    * lists, LSH buckets, and window hashes all hit their df/hot-bucket
    * caps — exactly the boilerplate worst case the caps exist for. The
    * probe's job is to show runtimes stay bounded (cap discipline
    * holds), not to produce pretty numbers.
    */
  private def stress(spark: SparkSession, c: Stress): Unit = {
    // mult=1 probes the base corpus AS-IS (a genuine SfGen decade) —
    // replicating 1× would just burn a full disk copy
    val dir = if (c.mult == 1) c.base else buildScaled(spark, c.base, c.mult)
    // BUILD_ONLY prints just this line: sweep.sh reads the path to stand
    // the replica in for the sf1 decade in the Verify + DuckDB gate
    println(s"[stress] scaled dir $dir (${c.mult}x ${c.base})")
    if (c.media) mediaDecode(spark, c.base, c.mult)
    timeQueries(spark, dir, c.queries, 1) { (n, secs, run) =>
      f"[stress] $n%-28s $secs%8.1fs  ${run.fold(failure, t => s"rows=${t.rows}")}"
    }
  }

  /** Per-table id columns to offset per replica; absent table ⇒ copy. */
  private val IdOffsets: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"),
    "events" -> Seq("event_id", "user_id"))

  private val Offset = 10000000L

  /** The `mult`× replica of `base`, cached under /tmp. */
  private def buildScaled(spark: SparkSession, base: String, mult: Int): String = {
    // Cache key must identify the SOURCE corpus, not just the multiplier:
    // keyed on mult alone, a probe against sf0.01 after one against sf0.1
    // would silently reuse the wrong prebuilt corpus via the _BUILT
    // marker. Digest the base path plus each table file's mtime so a
    // regenerated fixture (same path, new bytes) also misses.
    val tables = Option(new java.io.File(base).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val stamp = tables.map(f => s"${f.getName}:${f.lastModified}").mkString(",")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$base|$stamp".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    val out = s"/tmp/graft_stress_${mult}x_$key"
    val marker = new java.io.File(out, "_BUILT")
    if (marker.exists()) return out
    tables.foreach { f =>
      val src = ParquetMeta.read(spark, f.getPath)
      val scaled = IdOffsets.get(f.getName.stripSuffix(".parquet")) match {
        case Some(ids) =>
          (0 until mult).map { i =>
            ids.foldLeft(src)((df, c) =>
              df.withColumn(c, col(c) + lit(i * Offset)))
          }.reduce(_ union _)
        case None => src
      }
      scaled.write.mode("overwrite").parquet(s"$out/${f.getName}")
    }
    marker.getParentFile.mkdirs()
    Files.write(marker.toPath, Array.emptyByteArray)
    out
  }

  /** The media decode tier: an sf-proportional REAL-media corpus
    * (mult × 1000 assets — images, audio, video containers) decoded end
    * to end through the production mapPartitions branch, reported as
    * MB/s of payload bytes, the number a multimodal ingest pipeline is
    * sized by.
    */
  private def mediaDecode(spark: SparkSession, base: String, mult: Int): Unit = {
    import spark.implicits._
    val n = 1000L * mult
    val tbl = ParquetMeta.read(spark, 
      graft.sources.MediaFixtures.volumeTablePath(spark, base, n))
    def bytes(df: DataFrame) = df.agg(sum(length(col("payload")))).head().getLong(0)
    def assets(kind: String) = tbl.where(col("kind") === kind)
      .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
    val totalBytes = bytes(tbl)
    val t0 = System.nanoTime()
    val decoded = ops.Multimodal.decodeCore(assets("image")).count() +
      ops.Multimodal.audioCore(assets("audio")).count() +
      ops.Multimodal.videoCore(assets("video")).count()
    val secs = secsSince(t0)
    println(f"[stress] media_decode_volume       $secs%8.1fs  rows=$decoded " +
      f"bytes=$totalBytes (${totalBytes / secs / 1e6}%.0f MB/s)")
    require(decoded == n, s"decode tier dropped rows: $decoded of $n")
    // pixel path at volume: full raster decode (BMP/netpbm/PNG incl.
    // the inflate+unfilter branch) + aHash per image — the heaviest
    // per-byte work the media tier does, the number a phash-dedup
    // stage is sized by (header decode above is IO-bound by contrast)
    val imgBytes = bytes(tbl.where(col("kind") === "image"))
    val t1 = System.nanoTime()
    val hashed = ops.Multimodal.phashCore(assets("image")).toDF("media_id", "phash")
      .where(length(col("phash")) === 16).count()
    val psecs = secsSince(t1)
    println(f"[stress] media_phash_volume        $psecs%8.1fs  rows=$hashed " +
      f"bytes=$imgBytes (${imgBytes / psecs / 1e6}%.0f MB/s raster+aHash)")
  }

  /** The abandoned-dataset orphan sweep `CALL graft.gc_orphans(ttl_ms)`
    * runs, without a SQL session: one `[gc] <action> <family> <path>`
    * line per touched entry and a summary. ttl_ms defaults to the
    * generation-GC window; 0 reclaims anything a previous pass already
    * tombstoned (a single ttl=0 pass only tombstones).
    */
  private def gc(spark: SparkSession, ttl: Long): Unit = {
    val rows = ops.Derived.gcOrphans(spark, ops.Procedures.artifactFamilies, ttl)
    rows.foreach { case (f, p, a) => println(s"[gc] $a $f $p") }
    val by = rows.groupBy(_._3).view.mapValues(_.size).toMap
    println(s"[gc] summary ttl_ms=$ttl " +
      s"tombstoned=${by.getOrElse("tombstoned", 0)} " +
      s"pending=${by.getOrElse("pending", 0)} " +
      s"reclaimed=${by.getOrElse("reclaimed", 0)}")
  }
}

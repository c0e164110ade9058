package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: scale-stress the heavy operators on an N× replica of the
  * fixture tables — the local stand-in for the sf1 decade the driver
  * has not generated yet. Fact tables are unioned `mult` times with
  * id-space offsets (so keys stay unique and join/group cardinality
  * really grows); dimension tables are copied once. Then each listed
  * query runs against the scaled dir with wall timing.
  *
  * This is a deliberately ADVERSARIAL corpus for the dedup family:
  * every document is replicated `mult` times verbatim, so posting
  * lists, LSH buckets, and window hashes all hit their df/hot-bucket
  * caps — exactly the boilerplate worst case the caps exist for. The
  * probe's job is to show runtimes stay bounded (cap discipline holds),
  * not to produce pretty numbers.
  *
  * Usage: runMain graft.StressProbe [baseSfDir] [mult] [query...]
  * (defaults: sf0.1, 10×, the built-in heavy list). The scaled dir is
  * cached under /tmp and rebuilt only when absent.
  */
object StressProbe {

  private val HeavyDefaults = Seq(
    "q_dedup_exact", "q_dedup_ngram", "q_dedup_simhash", "q_dedup_near",
    "q_dedup_substring", "q_dedup_substring_auto", "q_dedup_collapsed_jaccard",
    "q_dedup_editdist", "q_dedup_paragraph",
    "q_dedup_phash", "q_source_overlap", "q_text_tfidf", "q_lm_fluency",
    "q_ann_recall", "q_ann_recall_mp", "q_lsh_bucket_stats",
    "q_heartbeat_map_explode", "q_heartbeat_map_delta",
    "q_fileindex_build", "q_fileindex_prune", "q_window_running",
    "q_agg_having_underreplicated", "q_pipeline_curate",
    // r12 additions: the TPC-H star/semi/anti shapes (fact-fact joins
    // are exactly what the scaled corpus stresses), the corpus-sized
    // JSONL export+reingest, and the windowed source cap
    "q_join_star_revenue", "q_join_shipping_priority",
    "q_join_large_orders", "q_join_returned_revenue",
    "q_join_nation_volume", "q_subquery_anti_agg",
    "q_jsonl_roundtrip", "q_jsonl_audit", "q_source_cap",
    // r14: the volume media decode tier (mult×1000 real assets, MB/s)
    "media_decode_volume")

  /** Per-table id columns to offset per replica; absent table ⇒ copy. */
  private val IdOffsets: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"),
    "events" -> Seq("event_id", "user_id"))

  private val Offset = 10000000L

  private def buildScaled(spark: SparkSession, base: String, mult: Int): String = {
    // Cache key must identify the SOURCE corpus, not just the multiplier:
    // keyed on mult alone, a probe against sf0.01 after one against sf0.1
    // would silently reuse the wrong prebuilt corpus via the _BUILT
    // marker. Digest the base path plus each table file's mtime so a
    // driver-regenerated fixture (same path, new bytes) also misses.
    val stamp = Option(new java.io.File(base).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.lastModified}").mkString(",")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$base|$stamp".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    val out = s"/tmp/graft_stress_${mult}x_$key"
    val marker = new java.io.File(out, "_BUILT")
    if (marker.exists()) return out
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val src = spark.read.parquet(s"$base/$t.parquet")
      val scaled: DataFrame = IdOffsets.get(t) match {
        case Some(ids) =>
          (0 until mult).map { i =>
            ids.foldLeft(src)((df, c) =>
              df.withColumn(c, col(c) + lit(i * Offset)))
          }.reduce(_ union _)
        case None => src
      }
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    marker.getParentFile.mkdirs()
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    out
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = if (args.length > 1) args(1).toInt else 10
    val names =
      if (args.length > 2 && args(2) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 2) args.drop(2).toSeq
      else HeavyDefaults
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SURVEY §4.3 sizing rule, applied literally: shuffle partitions
    // scale with data volume so per-partition aggregation state stays
    // constant as the corpus grows (32 at 1×/10× keeps the bench
    // config; 100× gets 320). Without this the 100× window-hash
    // aggregate holds 100× state per task and dies in a 4 GB heap.
    // SPARK_GRAFT_PARTITIONS overrides the sizing rule — genuine SfGen
    // decades arrive with mult=1, so the volume term must be supplied
    // (the r16 sf100 receipts ran at 320)
    val shufflePartitions = sys.env.get("SPARK_GRAFT_PARTITIONS")
      .map(_.toInt).getOrElse(math.max(cpus.toInt, 32 * mult / 10))
    val spark = Sessions.build(s"local[$cpus]", shufflePartitions)
    // mult=1 probes the base corpus AS-IS (a genuine SfGen decade) —
    // replicating 1× would just burn a full disk copy
    val dir = if (mult == 1) base else buildScaled(spark, base, mult)
    println(s"[stress] scaled dir $dir (${mult}x $base)")
    // BUILD_ONLY: construct (or reuse) the scaled corpus and print its
    // path, running nothing — sweep.sh uses this to stand in the sf1
    // decade for the full Verify + DuckDB hash gate.
    val runNames = if (names == Seq("BUILD_ONLY")) Nil else names
    // media decode tier (VERDICT r13 #8): an sf-proportional REAL-media
    // corpus (mult × 1000 assets — images, audio, video containers) is
    // decoded end-to-end through the production mapPartitions branch;
    // reported as MB/s of payload bytes, the number a multimodal ingest
    // pipeline is sized by.
    if (runNames.contains("media_decode_volume")) {
      import org.apache.spark.sql.functions.{col, length, sum}
      import spark.implicits._
      val n = 1000L * mult
      val path = graft.sources.MediaFixtures.volumeTablePath(spark, base, n)
      val tbl = spark.read.parquet(path)
      val totalBytes = tbl.agg(sum(length(col("payload")))).head().getLong(0)
      val t0 = System.nanoTime()
      val decoded =
        ops.Multimodal.decodeCore(tbl.where(col("kind") === "image")
          .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]).count() +
        ops.Multimodal.audioCore(tbl.where(col("kind") === "audio")
          .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]).count() +
        ops.Multimodal.videoCore(tbl.where(col("kind") === "video")
          .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[stress] media_decode_volume       $secs%8.1fs  rows=$decoded " +
        f"bytes=$totalBytes (${totalBytes / secs / 1e6}%.0f MB/s)")
      require(decoded == n, s"decode tier dropped rows: $decoded of $n")
      // pixel path at volume: full raster decode (BMP/netpbm/PNG incl.
      // the inflate+unfilter branch) + aHash per image — the heaviest
      // per-byte work the media tier does, the number a phash-dedup
      // stage is sized by (header decode above is IO-bound by contrast)
      val imgs = tbl.where(col("kind") === "image")
        .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      val imgBytes = tbl.where(col("kind") === "image")
        .agg(sum(length(col("payload")))).head().getLong(0)
      val t1 = System.nanoTime()
      val hashed = ops.Multimodal.phashCore(imgs).toDF("media_id", "phash")
        .where(length(col("phash")) === 16).count()
      val psecs = (System.nanoTime() - t1) / 1e9
      println(f"[stress] media_phash_volume        $psecs%8.1fs  rows=$hashed " +
        f"bytes=$imgBytes (${imgBytes / psecs / 1e6}%.0f MB/s raster+aHash)")
    }
    runNames.filterNot(_ == "media_decode_volume").foreach { name =>
      val t0 = System.nanoTime()
      val outcome =
        try { val n = SparkEntry.queries(name)(spark, dir).count(); s"rows=$n" }
        catch { case e: Throwable => s"ERR ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}" }
      println(f"[stress] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.1fs  $outcome")
    }
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measurement harness for the IVF staleness contract: how does
  * recall@10 of the frozen-centroid persisted index degrade as appended
  * mass drifts away from the clustered distribution, and where should
  * the recluster threshold sit?
  *
  * For each append fraction f of a 2000-vector base corpus, a fresh
  * index is built, a drifted partition (+1.0 per dimension — a moderate
  * covariate shift, not an adversarial one) of size f·|base| is
  * appended through the production extend path (frozen centroids), and
  * the probe measures:
  *   - recall@10 of the nprobe=1 bucket probe vs exact cosine truth,
  *     separately for base-distribution probes and drifted probes
  *   - the q_ivf_staleness drift ratio and recluster verdict
  * Output: one line per fraction, then one line per split-vs-refit
  * corpus size. Run as `graft.Probe ivf-drift`.
  */
object IvfDriftProbe {

  private val Dim = 64
  private val NBase = 2000
  private val NProbes = 50
  private val K = 10

  private def vecs(spark: SparkSession, ids: Range, offset: Double,
      seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong,
        Seq.fill(Dim)(rnd.nextFloat() * 2 - 1 + offset), (i % 10)))
      .toDF("vec_id", "embedding", "label")
  }

  /** Mean recall@K of the bucket probe vs exact truth for `probeIds`. */
  private def recallAtK(spark: SparkSession, idx: String,
      probeIds: Seq[Long]): Double = {
    import spark.implicits._
    val asg = ParquetMeta.read(spark, s"$idx/assignments")
      .select(col("vec_id"), col("q"), col("bucket"))
      .withColumn("n2", expr(
        "aggregate(zip_with(q, q, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
      .cache()
    val probes = asg.join(broadcast(probeIds.toDF("pid")),
        col("vec_id") === col("pid"))
      .select(col("vec_id").as("probe_id"), col("q").as("qa"),
        col("n2").as("n2a"), col("bucket").as("probe_bucket"))
    val scored = asg.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        col("bucket"), col("probe_bucket"),
        (expr("aggregate(zip_with(qa, q, (a, b) -> a * b), 0L, (acc, x) -> acc + x)")
          .cast("double") /
          sqrt(col("n2a").cast("double") * col("n2").cast("double"))).as("cos"))
      .cache()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("cand_id").asc)
    val truth = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= K).select("probe_id", "cand_id")
    val ann = scored.where(col("bucket") === col("probe_bucket"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= K).select("probe_id", "cand_id")
    val hits = truth.join(ann, Seq("probe_id", "cand_id"), "left_semi").count()
    scored.unpersist(); asg.unpersist()
    hits.toDouble / (probeIds.size.toDouble * K)
  }

  /** Of the appended vectors, the share landing in their single most
    * popular cell — the concentration that turns an nprobe=1 lookup
    * into a near-corpus scan when drifted mass all falls in one cell.
    */
  private def maxCellShare(spark: SparkSession, idx: String): Double = {
    val app = ParquetMeta.read(spark, s"$idx/assignments")
      .where(col("vec_id") >= 100000L)
    val total = app.count().toDouble
    if (total == 0) 0.0
    else app.groupBy("bucket").count()
      .agg(max("count")).collect().head.getLong(0) / total
  }

  private def measure(spark: SparkSession, scratch: Path, frac: Double,
      offset: Double): Unit = {
    val dir = Files.createTempDirectory(scratch, "drift-").toString
    val nApp = (NBase * frac).toInt
    vecs(spark, 0 until NBase, 0.0, 42).coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
    ops.LlmPipeline.ensureIvfIndex(spark, dir)
    vecs(spark, 100000 until (100000 + nApp), offset, 77).coalesce(1)
      .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val idx = ops.LlmPipeline.ensureIvfIndex(spark, dir)
    val st = ops.LlmPipeline.ivfStaleness(spark, dir).collect().head
    val rBase = recallAtK(spark, idx, (0L until NProbes.toLong).toSeq)
    val rDrift = recallAtK(spark, idx,
      (100000L until (100000L + math.min(NProbes, nApp))).toSeq)
    println(f"$offset%6.2f $frac%6.2f $nApp%6d " +
      f"${st.getAs[Double]("drift_ratio")}%8.3f " +
      f"${st.getAs[Double]("appended_frac")}%8.3f " +
      f"${st.getAs[Boolean]("recluster")}%8s $rBase%12.3f $rDrift%13.3f " +
      f"${maxCellShare(spark, idx)}%10.3f")
  }

  /** Base vectors sharing a cell with ≥1 appended vector — the MIXED
    * mass: a probe of either distribution scans it all under nprobe=1.
    * The split's job is to drive this to ~0 by giving the drifted
    * cluster its own cells; a full refit achieves the same by moving
    * every assignment.
    */
  private def mixedBase(spark: SparkSession, idx: String): Long = {
    val asg = ParquetMeta.read(spark, s"$idx/assignments")
    val appCells = asg.where(col("vec_id") >= 100000L)
      .select("bucket").distinct()
    asg.where(col("vec_id") < 100000L)
      .join(appCells, Seq("bucket"), "left_semi").count()
  }

  /** The two maintenance actions head-to-head on the same drifted corpus:
    * the PARTIAL split (hot cells only, INDEX rows only) vs the FULL
    * refit (whole-corpus re-read + KMeans). Wall times converge at local
    * scale (both rewrite the index-sized artifact); the structural
    * differences are what matter at 100 TB: the split never touches a
    * corpus byte (it runs against archived/cold corpus files — the spec
    * corrupts them first), fits KMeans over the hot-cell mass only, and
    * keeps every cold assignment verbatim, where the refit re-reads the
    * corpus and moves every vector. Both must separate the drifted mass
    * from the base members it contaminated (mixed_base -> 0).
    */
  private def splitVsRefit(spark: SparkSession, scratch: Path, nBase: Int): Unit = {
    def build(tag: String): String = {
      val dir = Files.createTempDirectory(scratch, s"splitvs-$tag-").toString
      vecs(spark, 0 until nBase, 0.0, 42).coalesce(4)
        .write.parquet(s"$dir/embeddings.parquet")
      ops.LlmPipeline.ensureIvfIndex(spark, dir)
      vecs(spark, 100000 until (100000 + nBase / 4), 5.0, 77).coalesce(1)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      ops.LlmPipeline.ensureIvfIndex(spark, dir)
      dir
    }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def mixed(d: String) = mixedBase(spark, ops.LlmPipeline.ivfIndexDir(spark, d))
    val dSplit = build("split")
    val mixedBefore = mixed(dSplit)
    val (didSplit, tSplit) = timed(ops.LlmPipeline.ivfSplitHotCells(spark, dSplit))
    val mixedAfterSplit = mixed(dSplit)
    val dRefit = build("refit")
    val (didRefit, tRefit) = timed(ops.LlmPipeline.ivfReclusterIfStale(spark, dRefit))
    val mixedAfterRefit = mixed(dRefit)
    println(f"split-vs-refit nBase=$nBase%d: split ran=$didSplit " +
      f"$tSplit%6.2fs (mixed_base $mixedBefore%d -> $mixedAfterSplit%d, corpus NOT read); " +
      f"refit ran=$didRefit $tRefit%6.2fs (-> $mixedAfterRefit%d, corpus re-read)")
  }

  /** The whole curve, each corpus in its own dir under `scratch`. */
  def run(spark: SparkSession, scratch: Path): Unit = {
    println(f"${"offset"}%6s ${"frac"}%6s ${"n_app"}%6s ${"ratio"}%8s " +
      f"${"frac_m"}%8s ${"reclust"}%8s ${"recall_base"}%12s " +
      f"${"recall_drift"}%13s ${"max_cell"}%10s")
    // drift-magnitude sweep at a fixed 25% append
    for (offset <- Seq(0.0, 0.1, 0.25, 0.5, 1.0, 2.0))
      measure(spark, scratch, 0.25, offset)
    // append-fraction sweep at a fixed moderate drift
    for (frac <- Seq(0.05, 0.10, 0.50, 1.00))
      measure(spark, scratch, frac, 1.0)
    // the maintenance actions head-to-head on the drifted shape
    for (nBase <- Seq(2000, 20000, 100000))
      splitVsRefit(spark, scratch, nBase)
  }
}

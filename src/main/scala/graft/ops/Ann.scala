package graft.ops

import graft.{ParquetMeta, Tables}
import graft.ops.Fragments._
import graft.ops.Pin.PinOps
import org.apache.spark.mllib.clustering.{DriverKMeans, KMeansModel}
import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embeddings and ANN: centroid, outlier and quantization reports,
  * brute-force, IVF, sign-LSH, PQ and IVF-PQ search with their recall
  * audits, and the trained IVF index (fit, persisted build, probe,
  * staleness, recluster and hot-cell split) with its dump oracles.
  */
object Ann {

  /** q_embed_centroids — per-label class prototype: the mean embedding
    * of each label, in exact integer micros (per-dim Σ of the
    * milli-quantized values, then ·1000 DIV the per-dim count — no IEEE
    * accumulation order anywhere, so fully oracle-checked where a float
    * mean would depend on reduction order). The op behind label-quality
    * auditing and warm-starting IVF/KMeans with class centers. Output
    * is unpivoted (label, dim, centroid_micros) rows — |labels|·dims
    * rows, each scalar, so every downstream consumer (including a
    * pandas-style sort/hash harness) can key on plain values; the
    * per-label array form is one `collect_list` away when needed.
    * Plan: posexplode to (label, dim, q) rows — 64× row inflation but
    * 24 B rows — then one combining hash aggregate per (label, dim).
    * Shuffled bytes ≈ |labels|·dims·24 B after the map-side combine:
    * label-count-sized, not corpus-sized. Dividing by the per-dim
    * count n (not a label-wide max) keeps the mean exact even for
    * ragged/short vectors. Negative sums are fine: Spark DIV and
    * DuckDB // both truncate toward zero (verified -7÷2 = -3 on both),
    * so the micros division cannot diverge on sign.
    */
  def embedCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(expr(quant)).as(Seq("dim", "q")))
      .groupBy("label", "dim")
      .agg(sum(col("q")).as("qsum"), count(lit(1)).as("n"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        expr("qsum * 1000 DIV n").as("centroid_micros"))
      .orderBy("label", "dim")

  private[graft] val OutlierTopK = 5

  /** q_embed_outliers — per-label distance-to-centroid outlier report:
    * the OutlierTopK vectors of each label farthest from their label's
    * centroid — the audit behind mislabel detection and embedding-space
    * quality gates (a vector far from its own class prototype is the
    * first candidate for re-annotation or exclusion). Exact integer
    * score: with S_d, n_d the per-(label, dim) quantized sum and count,
    * score = Σ_d (n_d·q_d − S_d)². For fixed-dimensionality vectors
    * n_d ≡ n, so score = n²·‖q − centroid‖² — monotone in the true
    * distance WITHIN a label (the only scope it is ranked in), with no
    * IEEE accumulation anywhere, so fully oracle-checked. BIGINT head-
    * room: |n·q − S| ≤ 2n·q_max, so score ≤ dims·4n²·q_max² ≈ 2.6e8·n²
    * — exact to n ≈ 5.9e⁴ vectors per label; past that, cast the
    * squared term to DECIMAL(38,0) (the q_skew_diagnose guard).
    * Plan: posexplode → per-(label, dim) combining agg (a labels×dims
    * moment table, broadcast back onto the exploded rows — no shuffle
    * of the corpus-sized side) → per-(label, vec) combining agg →
    * row_number ≤ K over a label-partitioned window. The low-
    * cardinality window partition key is safe here because Spark 4
    * rewrites rank-limit filters into WindowGroupLimit with a PARTIAL
    * pass before the exchange (plan-asserted in the spec): each map
    * task forwards at most K rows per label, so the label-keyed
    * shuffle carries ≤ tasks·labels·K rows — never the corpus.
    */
  def embedOutliers(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"),
        posexplode(expr(quant)).as(Seq("dim", "q")))
    val moments = e.groupBy("label", "dim")
      .agg(sum(col("q")).as("sd"), count(lit(1)).as("nd"))
    val w = Window.partitionBy("label")
      .orderBy(col("score").desc, col("vec_id"))
    e.join(broadcast(moments), Seq("label", "dim"))
      .select(col("label"), col("vec_id"),
        (col("nd") * col("q") - col("sd")).as("dev"))
      .groupBy("label", "vec_id")
      .agg(sum(col("dev") * col("dev")).as("score"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= OutlierTopK)
      .select(col("label"), col("vec_id"), col("score"))
      .orderBy(col("label"), col("score").desc, col("vec_id"))
  }

  /** q_embed_quantize — SQ8 scalar quantization of the embedding corpus:
    * per-dimension min/max train the codebook, every value maps to an
    * 8-bit code `(v − min_d) · 255 DIV (max_d − min_d)` — the
    * scalar-quantized index form FAISS calls SQ8, cutting a float32
    * vector store 4× before any ANN structure is layered on. All
    * arithmetic runs on the shared milli-quantized integers (`quant`),
    * so codes are exact and fully oracle-checked — no IEEE rounding
    * disagreement can reach the gate. Plan: posexplode → a dims-sized
    * combining min/max aggregate → broadcast the codebook back onto the
    * exploded rows (dims rows — never a corpus shuffle) → mapper-only
    * code projection. At 100 TB the only shuffle is the dims-cardinality
    * stats aggregate; the code emission is embarrassingly parallel.
    * Degenerate dimension (max = min) → code 0, pinned in both engines.
    */
  def embedQuantize(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(expr(quant)).as(Seq("dim", "v")))
    val codebook = e.groupBy("dim")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    e.join(broadcast(codebook), Seq("dim"))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        expr("CASE WHEN mx = mn THEN 0L ELSE (v - mn) * 255 DIV (mx - mn) END")
          .as("code"))
      .orderBy("vec_id", "dim")
  }

  /** #45 q_sim_search — brute-force cosine top-k against the probe
    * vector (vec_id = 0). The probe is a 1-row broadcast (crossJoin with
    * a broadcast side = BroadcastNestedLoopJoin over one row — a map-side
    * scan, no shuffle); top-k via TakeOrderedAndProject.
    */
  def simSearch(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), expr(quant).as("q"))
    val probe = broadcast(e.where(col("vec_id") === 0)
      .select(col("q").as("qa"), expr(dotL("q", "q")).as("n2a")))
    e.where(col("vec_id") =!= 0)
      .withColumnRenamed("q", "qb")
      .crossJoin(probe)
      .select(col("vec_id"),
        (expr(dotL("qa", "qb")).cast("double") /
          sqrt(col("n2a").cast("double") *
            expr(dotL("qb", "qb")).cast("double"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** q_sim_search_ivf — IVF-style ANN: centroids = vectors with vec_id <
    * 8 (deterministic stand-ins for k-means centers); every vector is
    * assigned to its nearest centroid (exact squared-L2 in integer
    * space, ties → lowest centroid id); the probe searches ONLY its own
    * centroid's bucket. At scale: nlist buckets shrink the scanned set
    * by ~nlist×, the assignment is a broadcast join against the tiny
    * centroid table, and the bucket scan shuffles on centroid id.
    */
  def simSearchIvf(s: SparkSession, d: String): DataFrame =
    simSearchIvfProbed(s, d, nprobe = 1)

  /** q_sim_search_ivf2 — the same IVF index probed with nprobe = 2: the
    * probe vector searches its TWO nearest centroids' buckets. The
    * standard recall fix for single-probe IVF (a query near a Voronoi
    * boundary has most of its true neighbors in the second-closest
    * cell); cost scales linearly in nprobe while recall climbs steeply,
    * which is why faiss defaults nprobe > 1 at scale. Same deterministic
    * integer math as the nprobe = 1 form, so fully oracle-checked; the
    * recall ordering (multi ⊇ single probe candidates) is additionally
    * pinned in LlmPipelineSpec.
    */
  def simSearchIvf2(s: SparkSession, d: String): DataFrame =
    simSearchIvfProbed(s, d, nprobe = 2)

  /** Probe-set size and cutoff for q_ann_recall. */
  private[graft] val RecallProbes = 8
  private[graft] val RecallK = 10

  /** q_ann_recall — retrieval-quality audit: recall@K of the
    * hyperplane-LSH ANN (q_sim_search_lsh's index, nprobe = 1) against
    * brute-force ground truth, over a fixed probe panel (vec_id <
    * RecallProbes). THE metric every ANN deployment monitors — an index
    * is not "done" until its recall is measured, and a drifting corpus
    * needs this re-run on every rebuild. Per probe: true top-K by exact
    * cosine over the whole corpus, ANN top-K within the probe's bucket,
    * n_hit = |∩|, recall_ppm = n_hit·10⁶ DIV K. Deterministic end to
    * end (integer dots, fixed literal planes, (cos, vec_id) total
    * order) — so unlike most ANN evals this one is fully
    * ORACLE-CHECKED. Scale: the exact leg is probes×corpus — recall is
    * always evaluated on a bounded probe SAMPLE, never all-pairs; the
    * per-probe top-K windows hit the WindowGroupLimit partial pass, so
    * ≤ K rows per probe leave each map task.
    */
  def annRecall(s: SparkSession, d: String): DataFrame =
    annRecallCore(s, d, multiProbe = false)

  /** q_ann_recall_mp — the same audit for the MULTI-probe index form
    * (own bucket + the lowest-margin flip, q_sim_search_lsh_mp's probe
    * set): the measurement that justifies nprobe > 1 — recall climbs
    * while cost stays ~2 buckets. Per-probe recall is provably ≥ the
    * single-probe figure (candidate superset; spec-pinned), and the
    * whole thing stays oracle-checked.
    */
  def annRecallMp(s: SparkSession, d: String): DataFrame =
    annRecallCore(s, d, multiProbe = true)

  private def annRecallCore(s: SparkSession, d: String, multiProbe: Boolean): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), expr(quant).as("q"))
    val withDots = e.select(col("vec_id") +: col("q") +:
      (0 until 4).map(p => expr(lshPlaneDot(p)).as(s"d$p")): _*)
    val b = withDots
      .withColumn("bucket", expr(lshBucketExpr(p => s"d$p")).cast("int"))
      .withColumn("flip", expr(lshFlipExpr).cast("int"))
    val probeBuckets =
      if (multiProbe) "array(bucket, CAST(bucket ^ flip AS INT))" else "array(bucket)"
    val probes = b.where(col("vec_id") < RecallProbes)
      .select(col("vec_id").as("probe_id"), col("q").as("qa"),
        expr(dotL("q", "q")).as("n2a"), expr(probeBuckets).as("probe_buckets"))
    val scored = b.select(col("vec_id").as("cand_id"), col("q").as("qb"), col("bucket"))
      .crossJoin(broadcast(probes))
      .where(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id"), col("bucket"), col("probe_buckets"),
        (expr(dotL("qa", "qb")).cast("double") /
          sqrt(col("n2a").cast("double") * expr(dotL("qb", "qb")).cast("double")))
          .as("cos"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("cand_id").asc)
    val truth = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= RecallK).select("probe_id", "cand_id")
    val ann = scored.where(expr("array_contains(probe_buckets, bucket)"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= RecallK).select("probe_id", "cand_id")
    val nAnn = ann.groupBy("probe_id").agg(count(lit(1)).as("n_ann"))
    val nHit = truth.join(ann, Seq("probe_id", "cand_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    probes.select("probe_id")
      .join(nAnn, Seq("probe_id"), "left")
      .join(nHit, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_ann"), lit(0L)).as("n_ann"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr(s"coalesce(n_hit, 0L) * 1000000 DIV $RecallK").as("recall_ppm"))
      .orderBy("probe_id")
  }

  /** Centroid count for the deterministic IVF variants (vec_id < nlist
    * are the stand-in centers). The argmin packing below derives its
    * multiplier and modulus from this — one knob, not three magic 8s.
    */
  private[graft] val IvfNlist = 8

  private def simSearchIvfProbed(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val nlist = IvfNlist
    val e = Tables.embeddings(s, d).select(col("vec_id"), expr(quant).as("q"))
    val cents = broadcast(e.where(col("vec_id") < nlist)
      .select(col("vec_id").as("cent_id"), col("q").as("qc")))
    // |q - qc|² expanded to dots: exact integer identity, all codegen'd
    val d2 = s"(${dotL("q", "q")} - 2 * ${dotL("q", "qc")} + ${dotL("qc", "qc")})"
    val cand = e.crossJoin(cents)
      .select(col("vec_id"), col("q"), col("cent_id"), expr(d2).as("dist2"))
    // nearest centroid per vector as a combining MIN, not a row_number
    // window: the 8 candidate rows per vector are born map-side
    // (broadcast crossJoin), so a hash aggregate collapses 8→1 BEFORE
    // the exchange, where the window form shuffled and sorted all 8n
    // rows (the q_failover_coalesce pattern, ops/Chunks). The argmin
    // (dist2 asc, cent_id asc) packs into ONE BIGINT — dist2 * 8 +
    // cent_id — exact because cent_id < 8 and the 64-dim integer dist2
    // stays far below 2⁶⁰; a min over struct(dist2, cent_id) would give
    // the same order but a struct-typed buffer can't hash-aggregate
    // (SortAggregate fallback).
    val assigned = cand
      .groupBy(col("vec_id"), col("q"))
      .agg(min(col("dist2") * nlist + col("cent_id")).as("k"))
      .select(col("vec_id"), col("q"), (col("k") % nlist).as("cent_id"))
    // nprobe nearest centroids of the probe vector — a top-k over the 8
    // candidates of ONE vector (TakeOrderedAndProject), all carrying the
    // probe's quantized vector and norm for the cosine
    val probeCents = cand.where(col("vec_id") === 0)
      .orderBy(col("dist2").asc, col("cent_id").asc).limit(nprobe)
      .select(col("q").as("qa"), expr(dotL("q", "q")).as("n2a"),
        col("cent_id").as("probe_cent"))
    assigned.where(col("vec_id") =!= 0)
      .join(broadcast(probeCents), col("cent_id") === col("probe_cent"))
      .select(col("vec_id"), col("cent_id"),
        (expr(dotL("qa", "q")).cast("double") /
          sqrt(col("n2a").cast("double") *
            expr(dotL("q", "q")).cast("double"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(5)
  }

  /** Lowest-index minimal-|margin| plane over precomputed d0..d3 —
    * flipping that bit names the multi-probe's second bucket. Shared
    * verbatim by both dialects (pure CASE/abs).
    */
  private val lshFlipExpr: String =
    "CASE WHEN abs(d0) <= abs(d1) AND abs(d0) <= abs(d2) AND abs(d0) <= abs(d3) THEN 1 " +
      "WHEN abs(d1) <= abs(d2) AND abs(d1) <= abs(d3) THEN 2 " +
      "WHEN abs(d2) <= abs(d3) THEN 4 ELSE 8 END"

  /** q_sim_search_lsh — random-hyperplane (sign) LSH ANN: bucket =
    * 4-bit signature of sign(plane_p · q); the probe (vec_id = 0)
    * searches only its own bucket. The SimHash-for-cosine complement to
    * the IVF variants: no training step, bucket boundaries are
    * data-independent, and two near-parallel vectors agree on every
    * plane with high probability. All integer arithmetic over the
    * quantized embedding, so — unlike IVF-kmeans — fully oracle-checked.
    * Scale: the signature is a mapper-only projection; at 100 TB the
    * bucket id becomes the table's bucketBy/partition key so the probe
    * reads ONE bucket (the PlanShapeSpec bucketed-join pattern), and
    * multi-probe = flipping the lowest-margin bits, not a wider scan.
    */
  def simSearchLsh(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), expr(quant).as("q"))
    val b = e.withColumn("bucket", expr(lshBucket).cast("int"))
    val probe = broadcast(b.where(col("vec_id") === 0)
      .select(col("q").as("qa"), expr(dotL("q", "q")).as("n2a"),
        col("bucket").as("probe_bucket")))
    b.where(col("vec_id") =!= 0)
      .join(probe, col("bucket") === col("probe_bucket"))
      .select(col("vec_id"), col("bucket"),
        (expr(dotL("qa", "q")).cast("double") /
          sqrt(col("n2a").cast("double") *
            expr(dotL("q", "q")).cast("double"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(5)
  }

  /** q_lsh_bucket_stats — LSH index-health audit: per-bucket occupancy,
    * corpus share (ppm), and load factor vs the uniform ideal (micros;
    * 1,000,000 = perfectly balanced). A hot bucket IS probe-time scan
    * skew — the q_skew_diagnose discipline applied to the ANN index
    * instead of join keys, run after every index build/refresh. Exact
    * integer arithmetic end to end (DECIMAL(38,0) intermediates, DIV),
    * one combining hash aggregate + a 1-row broadcast; output is
    * ≤ 2^planes rows regardless of corpus size. Completes the ANN
    * lifecycle: build (q_sim_search_lsh), probe (single/multi), recall
    * (q_ann_recall), balance (this).
    */
  def lshBucketStats(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), expr(quant).as("q"))
    val perBucket = e.withColumn("bucket", expr(lshBucket).cast("int"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
    val global = perBucket.agg(
      sum(col("n_vecs")).as("total_vecs"), count(lit(1)).as("n_buckets"))
    perBucket.crossJoin(broadcast(global))
      .select(col("bucket"), col("n_vecs"),
        expr("CAST(CAST(n_vecs AS DECIMAL(38,0)) * 1000000 DIV " +
          "total_vecs AS BIGINT)").as("share_ppm"),
        expr("CAST(CAST(n_vecs AS DECIMAL(38,0)) * n_buckets * 1000000 DIV " +
          "total_vecs AS BIGINT)").as("load_micros"))
      .orderBy("bucket")
  }

  /** q_sim_search_lsh_mp — multi-probe sign-LSH: the probe searches its
    * own bucket AND the bucket reached by flipping its LOWEST-MARGIN
    * bit — the plane whose dot product with the probe is smallest in
    * magnitude, i.e. the sign decision most likely to differ for a true
    * near neighbor (the standard multi-probe LSH heuristic: perturb the
    * least-confident hash bits first, instead of maintaining more hash
    * tables). Doubles the probed set for one extra bucket lookup; at
    * 100 TB with bucket as the bucketBy key this is two bucket reads
    * instead of one, not a wider scan. Margin math is the same integer
    * plane dots that build the bucket, tie → lowest plane index — fully
    * deterministic, so oracle-checked like the single-probe form.
    */
  def simSearchLshMp(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), expr(quant).as("q"))
    val withDots = e.select(col("vec_id") +: col("q") +:
      (0 until 4).map(p => expr(lshPlaneDot(p)).as(s"d$p")): _*)
    val b = withDots
      .withColumn("bucket", expr(lshBucketExpr(p => s"d$p")).cast("int"))
      .withColumn("flip", expr(lshFlipExpr).cast("int"))
    val probe = broadcast(b.where(col("vec_id") === 0)
      .select(col("q").as("qa"), expr(dotL("q", "q")).as("n2a"),
        explode(array(col("bucket"),
          expr("CAST(bucket ^ flip AS INT)"))).as("probe_bucket")))
    b.where(col("vec_id") =!= 0)
      .join(probe, col("bucket") === col("probe_bucket"))
      .select(col("vec_id"), col("bucket"),
        (expr(dotL("qa", "q")).cast("double") /
          sqrt(col("n2a").cast("double") *
            expr(dotL("q", "q")).cast("double"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(5)
  }

  /** Product-quantization geometry (q_sim_search_pq): PqM subspaces of
    * PqSubDim dims each (PqM × PqSubDim = the 64-dim embedding), PqK
    * codes per subspace. Codebook = subvectors of vec_id < PqK — the
    * same deterministic stand-in convention as IvfNlist (a real
    * trainer would k-means each subspace; the GEOMETRY of encode +
    * asymmetric distance is identical and stays oracle-exact).
    */
  private[graft] val PqM = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqK = 8

  /** q_sim_search_pq — product-quantization ANN (the memory-side
    * compression of the ANN toolbox, vs IVF's partitioning and LSH's
    * hashing): each vector is stored as PqM 3-bit codes (64 dims × 4 B
    * float → 8 codes ≈ 32× smaller — at 100 TB of embeddings the
    * difference between an index that fits executor memory and one that
    * doesn't), and the probe scans CODES, not vectors: a PqM×PqK
    * distance table (probe subvector ↔ every code, 64 tiny rows,
    * broadcast) turns each vector's approximate distance into PqM table
    * lookups + a sum — no per-pair vector math at scan time.
    *
    * Everything is exact integer arithmetic on the quantized embedding:
    * encode = packed-argmin per (vector, subspace) (the IVF combining-
    * MIN pattern — map-side hash aggregate, no window), ADC = broadcast
    * equi-join on (subspace, code) + one hash aggregate. Fully
    * oracle-checked; LlmPipelineSpec additionally pins the ADC identity
    * (for codebook vectors the approximate distance IS the exact
    * distance — their codes reconstruct them losslessly).
    */
  def simSearchPq(s: SparkSession, d: String): DataFrame =
    pqAdcAll(s, d)
      .orderBy(col("adist2").asc, col("vec_id").asc)
      .limit(5)

  /** Full ADC scan (every vector's approximate distance to the probe) —
    * the top-k query above is its TakeOrderedAndProject; the spec uses
    * the unlimited form to pin the codebook-reconstruction identity.
    */
  private[graft] def pqAdcAll(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), expr(quant).as("q"))
    // (vec_id, j, sub): PqM mapper-side rows per vector, no shuffle
    val subs = e.select(col("vec_id"),
      posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
        s"j -> slice(q, j * $PqSubDim + 1, $PqSubDim))")))
      .toDF("vec_id", "j", "sub")
    // 64-row codebook: subspace j's code c = subvector j of vector c
    val codebook = broadcast(subs.where(col("vec_id") < PqK)
      .select(col("vec_id").cast("int").as("c"), col("j"), col("sub").as("csub")))
    val d2 = s"(${dotL("sub", "sub")} - 2 * ${dotL("sub", "csub")} + " +
      s"${dotL("csub", "csub")})"
    // encode: nearest code per (vector, subspace) — broadcast join makes
    // the PqK candidates map-side; packed argmin (dist2·PqK + c, exact:
    // c < PqK, sub-dist2 ≪ 2⁶⁰) collapses them BEFORE any exchange
    val codes = subs.join(codebook, "j")
      .select(col("vec_id"), col("j"),
        (expr(d2) * PqK + col("c")).as("packed"))
      .groupBy("vec_id", "j")
      .agg(min(col("packed")).as("k"))
      .select(col("vec_id"), col("j"), (col("k") % PqK).cast("int").as("code"))
    // ADC table: probe subvector ↔ every code of its subspace (PqM × PqK
    // rows, broadcast)
    val adcTable = broadcast(subs.where(col("vec_id") === 0)
      .join(codebook, "j")
      .select(col("j").as("aj"), col("c"), expr(d2).as("t")))
    // scan codes, not vectors: PqM lookups + a sum per vector
    codes.where(col("vec_id") =!= 0)
      .join(adcTable, col("j") === col("aj") && col("code") === col("c"))
      .groupBy("vec_id")
      .agg(sum(col("t")).as("adist2"))
  }

  /** Probe width for the IVF-PQ composite (cells scanned per query). */
  private[graft] val IvfPqNprobe = 2

  /** q_sim_search_ivfpq — the IVF+PQ COMPOSITE (the industrial 100 TB
    * ANN layout: faiss's IndexIVFPQ): coarse-prune with the IVF
    * partitioner, then scan PQ CODES inside the probed cells — the two
    * orthogonal savings multiply (nlist× fewer candidates × ~32×
    * smaller per-candidate payload). Codes quantize RESIDUALS (vector −
    * its cell centroid), the classic refinement: residuals are smaller
    * than raw vectors, so the same PqK codes cut quantization error
    * (spec-measured vs raw-PQ ADC), and the ADC table is built per
    * probed cell from the probe's OWN residual in that cell.
    *
    * Deterministic stand-ins as in both parents — centroids = vectors
    * vec_id < IvfNlist, residual codebook = residual subvectors of
    * vec_id ∈ [PqK, 2·PqK) (the first PqK vectors are centroids with
    * zero residuals — a degenerate codebook — so the NEXT PqK carry
    * it); everything is exact integer math, so the composite stays
    * fully oracle-checked like both parents. Scale shape: index build =
    * two broadcast joins (centroids, codebook) + packed-argmin
    * combining hash-aggregates (no window over the corpus); query =
    * codes ⋈ broadcast ADC table (IvfPqNprobe·PqM·PqK tiny rows) where
    * the cent_id = pcent equi-key IS the coarse prune — unprobed cells
    * never match, and at scale a cent_id-bucketed code table makes that
    * a partition-pruned read. ADC identity spec-pinned: a codebook
    * vector's codes reconstruct its residual losslessly, so its
    * approximate distance equals its EXACT distance to the probe.
    */
  def simSearchIvfPq(s: SparkSession, d: String): DataFrame =
    ivfPqAdcAll(s, d)
      .orderBy(col("adist2").asc, col("vec_id").asc)
      .limit(5)

  /** Full IVF-PQ ADC scan over the probed cells (no top-k) — the spec
    * uses this to pin the ADC identity and measure recall/refinement.
    */
  private[graft] def ivfPqAdcAll(s: SparkSession, d: String): DataFrame = {
    val nlist = IvfNlist
    val e = Tables.embeddings(s, d).select(col("vec_id"), expr(quant).as("q"))
    val cents = broadcast(e.where(col("vec_id") < nlist)
      .select(col("vec_id").as("cent_id"), col("q").as("qc")))
    val d2c = s"(${dotL("q", "q")} - 2 * ${dotL("q", "qc")} + ${dotL("qc", "qc")})"
    // coarse assignment: the IVF packed-argmin (map-side broadcast
    // candidates collapse in a combining hash agg, never a window)
    val cand = e.crossJoin(cents)
      .select(col("vec_id"), col("q"), col("cent_id"), expr(d2c).as("dist2"))
    val assigned = cand
      .groupBy(col("vec_id"), col("q"))
      .agg(min(col("dist2") * nlist + col("cent_id")).as("k"))
      .select(col("vec_id"), col("q"), (col("k") % nlist).as("cent_id"))
    // residual re-attach: one more broadcast join against the tiny
    // centroid table (zip_with stays in whole-stage codegen)
    val resid = assigned.join(cents, "cent_id")
      .select(col("vec_id"), col("cent_id"),
        expr("zip_with(q, qc, (a, b) -> a - b)").as("r"))
    val subs = resid.select(col("vec_id"), col("cent_id"),
      posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
        s"j -> slice(r, j * $PqSubDim + 1, $PqSubDim))")))
      .toDF("vec_id", "cent_id", "j", "sub")
    val codebook = broadcast(subs
      .where(col("vec_id") >= PqK && col("vec_id") < 2 * PqK)
      .select((col("vec_id") - PqK).cast("int").as("c"), col("j"),
        col("sub").as("csub")))
    val d2s = s"(${dotL("sub", "sub")} - 2 * ${dotL("sub", "csub")} + " +
      s"${dotL("csub", "csub")})"
    // encode: nearest residual code per (vector, cell, subspace) — the
    // PQ packed argmin (c < PqK, residual sub-dist2 ≪ 2⁶⁰)
    val codes = subs.join(codebook, "j")
      .select(col("vec_id"), col("cent_id"), col("j"),
        (expr(d2s) * PqK + col("c")).as("packed"))
      .groupBy("vec_id", "cent_id", "j")
      .agg(min(col("packed")).as("k"))
      .select(col("vec_id"), col("cent_id"), col("j"),
        (col("k") % PqK).cast("int").as("code"))
    // probe: IvfPqNprobe nearest cells, probe residual PER probed cell
    val probeCells = cand.where(col("vec_id") === 0)
      .orderBy(col("dist2").asc, col("cent_id").asc).limit(IvfPqNprobe)
      .join(cents, "cent_id")
      .select(col("cent_id").as("pcent"),
        expr("zip_with(q, qc, (a, b) -> a - b)").as("pr"))
    val probeSubs = probeCells.select(col("pcent"),
      posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
        s"j -> slice(pr, j * $PqSubDim + 1, $PqSubDim))")))
      .toDF("pcent", "j", "psub")
    val d2p = s"(${dotL("psub", "psub")} - 2 * ${dotL("psub", "csub")} + " +
      s"${dotL("csub", "csub")})"
    val adcTable = broadcast(probeSubs.join(codebook, "j")
      .select(col("pcent"), col("j").as("aj"), col("c"), expr(d2p).as("t")))
    // scan codes, not vectors: the cent_id = pcent key IS the coarse
    // prune (unprobed cells never match the broadcast ADC table)
    codes.where(col("vec_id") =!= 0)
      .join(adcTable, col("cent_id") === col("pcent") &&
        col("j") === col("aj") && col("code") === col("c"))
      .groupBy("vec_id", "cent_id")
      .agg(sum(col("t")).as("adist2"))
  }

  /** q_sim_search_ivf_kmeans — IVF-ANN with a REAL training step:
    * mllib's KMeans (k=8, fixed seed; [[ivfFit]]) learns the coarse
    * quantizer per call over the embeddings scan,
    * every vector is assigned to its nearest learned centroid, and the
    * probe (vec_id = 0) searches only its own centroid's bucket — the
    * faiss IVF-flat shape. ORACLE-CHECKED since r19: the KMeans FIT has
    * no SQL equivalent, but its OUTPUT is the persisted assignments
    * parquet, and the DuckDB oracle ([[ivfKmeansDumpOracle]]) replays
    * the bucket-pruned cosine over that dump exactly (probe ≡ per-run
    * is spec-pinned, so one oracle covers both forms); LlmPipelineSpec
    * additionally pins determinism and recall vs the brute-force top-k.
    * The deterministic-centroid variant above stays corpus-SQL. Scale:
    * training collects the vectors to the driver (n × 64 × 8 B, about
    * 65 MB at sf100's roughly 128k vectors), assignment is a projection
    * carrying the k centroids, bucket scan shrinks the probed set ~k×.
    */
  def simSearchIvfKmeans(s: SparkSession, d: String): DataFrame =
    ivfKmeansProbe(ivfKmeansFit(s, d))

  /** Trained IVF state: every vector's quantized form + learned bucket.
    * This is the INDEX a production ANN persists — build once, probe
    * many (the reference's analog is the controller's long-lived
    * FileTable vs per-request recomputation,
    * reference controller/FileTable.java:14-16).
    */
  private def ivfKmeansFit(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("fv"),
        expr(quant).as("q"))
    val model = ivfFit(e, k = 8)
    e.select(col("vec_id"), col("q"), ivfAssign(model).as("bucket"))
  }

  /** The coarse-quantizer fit: `k` centroids over the double-array
    * column `fv` by mllib's k-means, seed 42, 5 Lloyd iterations (the
    * coarse quantizer only needs rough cells — faiss trains IVF lists
    * the same way — and the fixed seed keeps the assignment
    * deterministic regardless of convergence). mllib's other defaults
    * are the ones spark.ml passes (k-means|| with 2 init steps, tol
    * 1e-4, Euclidean), so the centers are spark.ml's `row` solver's
    * (LlmPipelineSpec). One scan job collects `(vec_id, fv)`; the fit
    * runs on the driver over the rows sorted by `vec_id`
    * ([[org.apache.spark.mllib.clustering.DriverKMeans]], mllib's
    * one-partition fit bit for bit), so the centers do not depend on
    * how the scan was split. Driver memory: n × dim × 8 B, about 65 MB
    * for sf100's roughly 128k 64-dim vectors. As spark.ml's fit does, a
    * null vector or a null, NaN or infinite value fails the fit:
    * embeddings come from outside the program.
    */
  private[graft] def ivfFit(df: DataFrame, k: Int): KMeansModel = {
    val fv = col("fv")
    val checked =
      when(fv.isNull, raise_error(lit("Vectors MUST NOT be Null")))
        .when(exists(fv, x => x.isNull || isnan(x) || abs(x) === Double.PositiveInfinity),
          raise_error(concat(lit("Vector values MUST NOT be NaN or Infinity, but got "),
            fv.cast("string"))))
        .otherwise(fv)
    val points = df.select(col("vec_id"), checked).collect()
      .sortBy(_.getLong(0))
      .map(r => Vectors.dense(r.getSeq[Double](1).toArray))
    DriverKMeans.fit(points, k, maxIterations = 5, seed = 42L)
  }

  /** The cell of each row's `fv` under a fitted quantizer: mllib's
    * `predict`, the call spark.ml's `KMeansModel.transform` makes.
    */
  private[graft] def ivfAssign(model: KMeansModel): Column =
    udf((v: Seq[Double]) => model.predict(Vectors.dense(v.toArray))).apply(col("fv"))

  /** Bucket-pruned cosine top-5 over a trained index (vec_id, q,
    * bucket) — shared by the per-run form and the persisted-index form,
    * so both produce identical plans from the assignment on.
    */
  private def ivfKmeansProbe(assigned: DataFrame): DataFrame = {
    val probe = assigned.where(col("vec_id") === 0)
      .select(col("q").as("qa"), expr(dotL("q", "q")).as("n2a"),
        col("bucket").as("probe_bucket"))
    assigned.where(col("vec_id") =!= 0)
      .join(broadcast(probe), col("bucket") === col("probe_bucket"))
      .select(col("vec_id"), col("bucket"),
        (expr(dotL("qa", "q")).cast("double") /
          sqrt(col("n2a").cast("double") *
            expr(dotL("q", "q")).cast("double"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(5)
  }

  /** Default on-disk location for the persisted IVF index of one
    * dataset dir (test/bench scale). A production deployment passes an
    * explicit lake path to [[buildIvfIndex]] instead.
    */
  private[graft] def ivfIndexDir(s: SparkSession, d: String): String = {
    val src = s"$d/embeddings.parquet"
    val ver = ivfVersion(s, d)
    // refits live as '-r<n>' generations of the same key — resolve to
    // the newest complete one (the dir ensureIvfIndex would serve)
    Derived.resolveGeneration(s, IvfFamily, src, ver, IvfMarker)
      .getOrElse(Derived.dirFor(s, IvfFamily, src, version = ver))
  }

  /** The version of the current IVF artifact — shared by dirFor and
    * the readiness probe so the two can never disagree on the dir.
    */
  private def ivfVersion(s: SparkSession, d: String): String =
    Storage.manifestVersion(Storage.manifestLines(s, s"$d/embeddings.parquet"))

  /** Metadata-only probe: is the CURRENT IVF index (this manifest key,
    * any refit generation) already published? One listing + marker
    * probes, zero corpus reads — the SQL-surface registration gate
    * (SqlSurface.registerDerivedViews).
    */
  private[graft] def ivfIndexReady(s: SparkSession, d: String): Boolean =
    Derived.resolveGeneration(s, IvfFamily, s"$d/embeddings.parquet",
      ivfVersion(s, d), IvfMarker).isDefined

  /** The INDEX-BUILD job: fit the coarse quantizer once and persist the
    * searchable state — bucket assignments (vec_id, q, bucket) and the
    * k learned centroid vectors (for assigning FUTURE query vectors
    * that weren't in the training set). At 100 TB the assignments table
    * is the corpus re-keyed by bucket (written once, probed by every
    * subsequent query) and the centroid table is k·dim doubles —
    * driver-sized state, exactly like faiss's coarse quantizer.
    */
  def buildIvfIndex(s: SparkSession, d: String, indexDir: String): Unit =
    buildIvfIndexFrom(s, Tables.embeddings(s, d), indexDir)

  /** The build body over a caller-supplied embeddings frame — the
    * manifest-keyed ensure passes `ParquetMeta.read(s, pinnedPaths: _*)`
    * so artifact content and _MANIFEST derive from the same listing
    * (a file appended between the listing
    * and a live directory scan would be baked into the assignments but
    * absent from the manifest, and the next ensure would assign its
    * vectors AGAIN as delta — duplicate vec_id rows).
    */
  private[graft] def buildIvfIndexFrom(s: SparkSession, emb: DataFrame,
      indexDir: String): Unit = {
    // no pin: the fit collects its own input to the driver, and the
    // scan runs three times (the fit, the assignments, the stats)
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("fv"),
        expr(quant).as("q"),
        // per-row provenance (normalized source part-file path): what
        // makes a pure REMOVAL subtractable later — the Iceberg/Delta
        // per-data-file stats design. Probes prune the column away;
        // on disk it dictionary-encodes to ~nothing.
        Storage.normSrcCol(input_file_name()).as("src"))
    val model = ivfFit(e, k = 8)
    val assigned = e.withColumn("bucket", ivfAssign(model))
    assigned.select(col("vec_id"), col("q"), col("bucket"), col("src"),
        // base/appended provenance: what lets a later REMOVAL tick
        // decrement the right side of the staleness census (without it
        // n_base is never decremented, understating appended_frac)
        lit(false).as("appended"))
      .write.mode("overwrite").parquet(s"$indexDir/assignments")
    val centroids = model.clusterCenters.toSeq.zipWithIndex.map {
      case (c, i) => (i, c.toArray.toSeq)
    }
    import s.implicits._
    val centsDf = centroids.toDF("cent_id", "center")
    // staleness baseline: the build-time mean exact
    // squared L2 distance-to-assigned-centroid — the distribution every
    // later append's delta is compared against. One metadata-sized row.
    assigned.join(broadcast(centsDf), col("bucket") === col("cent_id"))
      .select(expr(
        "aggregate(zip_with(fv, center, (a, b) -> (a - b) * (a - b)), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("dist2"))
      .agg(count(lit(1)).as("n_vecs"), avg(col("dist2")).as("mean_dist2"))
      .select(lit("build").as("kind"), col("n_vecs"), col("mean_dist2"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/stats")
    centsDf.coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** q_sim_search_ivf_kmeans_probe — the PROBE-ONLY query over the
    * persisted index: no KMeans fit in its plan, just a parquet read +
    * the bucket-pruned cosine. First call per dataset dir builds the
    * index (the training job); every later call — and every later
    * SESSION — only reads it. Oracle-checked against the dumped index
    * (see [[simSearchIvfKmeans]]); LlmPipelineSpec pins
    * probe ≡ per-run result and fit-once/probe-twice identity.
    */
  def simSearchIvfKmeansProbe(s: SparkSession, d: String): DataFrame =
    ivfKmeansProbe(ParquetMeta.read(s, s"${ensureIvfIndex(s, d)}/assignments"))

  /** Recluster when appended vectors sit this much farther (mean exact
    * squared L2 to their assigned frozen centroid) from the cells than
    * the build-time corpus did. 1.5× is where the IvfDriftProbe curve
    * (BENCHNOTES r17) shows cell balance collapsing: at the threshold
    * crossing (offset 0.5, ratio 1.78) HALF the appended mass already
    * lands in one cell vs 0.16 for faithful appends — and concentration,
    * not recall, is what drift actually breaks (drifted probes' recall
    * RISES because their neighbors co-locate, while the hot cell turns
    * every nprobe=1 lookup into a near-scan of the appended mass and
    * keeps growing, 0.79 by offset 2). A faithful append measures 1.01
    * — the threshold has 50× that margin against false positives.
    */
  private[graft] val IvfStaleRatio = 1.5
  /** Recluster regardless of drift once appends outweigh the clustered
    * base: frozen cells fitted on a minority of the corpus are stale by
    * construction (faiss's retrain-after-N-adds rule of thumb).
    */
  private[graft] val IvfStaleFrac = 0.5

  /** The scheduled-retrain job the staleness verdict drives — the
    * recluster ACTION closing the staleness loop: when
    * q_ivf_staleness flags recluster, re-fit the coarse quantizer on
    * the CURRENT corpus (the pinned listing) and atomically REPLACE the
    * index artifact; no-op when the verdict is quiet. This is the one
    * place the frozen-centroid contract is deliberately suspended — by
    * an explicit maintenance action, never on the query path (faiss's
    * scheduled retrain). The rebuilt index starts a fresh staleness
    * baseline over the whole corpus (no delta rows), so the verdict
    * returns to quiet until new appends drift again; probes over it
    * regain balanced cells (IvfDriftProbe: max_cell 0.65 → ~1/k after
    * a refit of the offset-1.0 corpus). Returns whether a refit ran.
    */
  def ivfReclusterIfStale(s: SparkSession, d: String): Boolean = {
    val verdict = ivfStaleness(s, d).collect().head // ensures the index
    if (!verdict.getAs[Boolean]("recluster")) false
    else {
      val src = s"$d/embeddings.parquet"
      val lines = Storage.manifestLines(s, src)
      Derived.replaceVersioned(s, IvfFamily, src,
        version = Storage.manifestVersion(lines), marker = IvfMarker) { tmp =>
        buildIvfIndexFrom(s,
          ParquetMeta.read(s, Storage.manifestPath(lines): _*), tmp)
        Storage.stampManifest(s, tmp, lines)
      }
      true
    }
  }

  /** Appended-mass concentration (per mille) at which one cell is HOT:
    * 500 = half the appended vectors in one cell — the IvfDriftProbe
    * collapse signature (a faithful append spreads ~1/k per cell; the
    * drifted append measured 0.5 at the verdict threshold crossing and
    * 0.79 by offset 2).
    */
  private[graft] val IvfHotCellPpk = 500L

  /** PARTIAL recluster: when drift has piled the appended mass into a
    * few cells, split THOSE cells (k=2 KMeans over each hot cell's own
    * members) instead of re-fitting the whole quantizer — cost
    * proportional to the hot-cell mass, not the corpus, which is the
    * difference between a targeted maintenance action and a full
    * retrain at 100 TB (faiss's split-then-refine idiom). Everything
    * reads from INDEX rows (the stored milli-quantized vectors), never
    * the corpus; vectors outside hot cells keep their buckets verbatim;
    * the refit publishes as the next '-r<n>' generation (no reader ever
    * sees an absent path) and re-baselines staleness: split cells adopt
    * their appends into the clustered structure, so the stats table
    * restarts with a fresh build row (computed from quantized vectors —
    * within 1e-6 relative of the raw-embedding baseline, far inside the
    * 1.5× threshold) and every row's appended flag clears. Returns
    * whether a split ran.
    */
  def ivfSplitHotCells(s: SparkSession, d: String): Boolean = {
    import s.implicits._
    val src = s"$d/embeddings.parquet"
    val idxDir = ensureIvfIndex(s, d)
    val asg0 = ParquetMeta.read(s, s"$idxDir/assignments")
    val nApp = asg0.where(col("appended")).count()
    if (nApp == 0) return false
    val hot = asg0.where(col("appended"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .where(col("n") * 1000L >= lit(nApp) * IvfHotCellPpk)
      .select(col("bucket").cast("int")).as[Int].collect().toSeq.sorted
    if (hot.isEmpty) return false
    val lines = Storage.manifestLines(s, src)
    Derived.replaceVersioned(s, IvfFamily, src,
      version = Storage.manifestVersion(lines), marker = IvfMarker) { tmp =>
      splitCellsInto(s, idxDir, hot, tmp)
      Storage.stampManifest(s, tmp, lines)
    }
    true
  }

  /** The split body: each hot cell's members re-cluster into two child
    * cells (fresh cent_ids; the parent centroid retires); cold cells
    * copy verbatim. Baseline stats recompute from the stored quantized
    * vectors; centroids write LAST (the commit marker).
    */
  private def splitCellsInto(s: SparkSession, prevDir: String,
      hot: Seq[Int], tmp: String): Unit = {
    import s.implicits._
    val asg = ParquetMeta.read(s, s"$prevDir/assignments")
    val cents = ParquetMeta.read(s, s"$prevDir/centroids")
    var nextId = cents.agg(max("cent_id")).head.getInt(0) + 1
    val fvExpr = "transform(q, x -> CAST(x AS DOUBLE) / 1000.0)"
    val cold = asg.where(!col("bucket").isin(hot.map(Int.box): _*))
    var parts = Seq(cold.select("vec_id", "q", "bucket", "src"))
    var newCents = Seq.empty[(Int, Seq[Double])]
    var retired = Seq.empty[Int]
    hot.foreach { c =>
      val members = asg.where(col("bucket") === c)
      if (members.select("q").distinct().limit(2).count() < 2)
        parts :+= members.select("vec_id", "q", "bucket", "src") // unsplittable
      else {
        val feat = members.withColumn("fv", expr(fvExpr))
        val km = ivfFit(feat, k = 2)
        parts :+= feat
          .select(col("vec_id"), col("q"),
            (ivfAssign(km) + lit(nextId)).cast("int").as("bucket"), col("src"))
        newCents ++= km.clusterCenters.zipWithIndex.map { case (v, i) =>
          (nextId + i, v.toArray.toSeq)
        }
        retired :+= c
        nextId += 2
      }
    }
    // the split ADOPTS the appends: every row re-baselines as base.
    // Two actions read newAsg (the write, the baseline row) and recompute
    // its index-row union; the split A/B measured that no slower than a pin
    val newAsg = parts.reduce(_ unionByName _)
      .withColumn("appended", lit(false))
    newAsg.write.mode("overwrite").parquet(s"$tmp/assignments")
    val keptCents = cents.where(!col("cent_id").isin(retired.map(Int.box): _*))
      .unionByName(newCents.toDF("cent_id", "center"))
    newAsg.join(broadcast(keptCents), col("bucket") === col("cent_id"))
      .select(expr(
        s"aggregate(zip_with($fvExpr, center, (a, b) -> (a - b) * (a - b)), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("dist2"))
      .agg(count(lit(1)).as("n_vecs"), avg(col("dist2")).as("mean_dist2"))
      .select(lit("build").as("kind"), col("n_vecs"), col("mean_dist2"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
    keptCents.coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
  }

  /** q_ivf_staleness — the index-maintenance verdict the frozen-centroid
    * append contract requires: ONE metadata-sized row
    * from the persisted stats table answering "how far has the appended
    * distribution drifted from the clustered one, and is a recluster
    * due?". base/delta mean distances are exact per-vector squared L2
    * recorded at build/extend time (never recomputed — the corpus may
    * be 100 TB); the verdict is
    * `drift_ratio > IvfStaleRatio OR appended_frac > IvfStaleFrac`.
    * No SQL oracle (KMeans state, the q_sim_search_ivf_kmeans rule);
    * LlmPipelineSpec pins that a planted drifted append flips the flag
    * and a same-distribution append does not. Reference analogue: the
    * corruption monitor re-verifies stored state on a schedule instead
    * of trusting it forever (storageNode/ChunkCorruptionMonitor.java:
    * 31-75, public GitHub).
    */
  def ivfStaleness(s: SparkSession, d: String): DataFrame = {
    val st = ParquetMeta.read(s, s"${ensureIvfIndex(s, d)}/stats")
    val base = st.where(col("kind") === "build")
      .select(col("n_vecs").as("n_base_raw"), col("mean_dist2").as("base_mean_dist2"))
    val delta = st.where(col("kind") === "delta")
      .agg(coalesce(sum(col("n_vecs")), lit(0L)).as("n_appended_raw"),
        // n-weighted mean across appends: Σ(nᵢ·meanᵢ)/Σnᵢ
        (sum(col("n_vecs") * col("mean_dist2")) / sum(col("n_vecs")))
          .as("delta_mean_dist2"))
    // removal adjustments: evolveIvfIndex records each
    // removal's base/appended row census, so n_base here tracks the
    // LIVE base — without it, heavy retention drops understated
    // appended_frac and the IvfStaleFrac leg under-fired (the one
    // anti-conservative bias the high-reading means don't cover)
    val adj = st.where(col("kind").startsWith("removed_"))
      .agg(coalesce(sum(when(col("kind") === "removed_base", col("n_vecs"))), lit(0L))
          .as("rm_base"),
        coalesce(sum(when(col("kind") === "removed_appended", col("n_vecs"))), lit(0L))
          .as("rm_appended"))
    base.join(broadcast(delta)).join(broadcast(adj))
      .select((col("n_base_raw") - col("rm_base")).as("n_base"),
        (col("n_appended_raw") - col("rm_appended")).as("n_appended"),
        col("base_mean_dist2"), col("delta_mean_dist2"))
      .withColumn("appended_frac",
        col("n_appended").cast("double") /
          (col("n_base") + col("n_appended")).cast("double"))
      .withColumn("drift_ratio", col("delta_mean_dist2") / col("base_mean_dist2"))
      .select(col("n_base"), col("n_appended"), col("appended_frac"),
        col("base_mean_dist2"), col("delta_mean_dist2"), col("drift_ratio"))
      .withColumn("recluster",
        // drift leg gated on LIVE appended rows: a fully-retained drop
        // of every appended vector leaves stale delta means behind
        (col("n_appended") > 0 &&
          coalesce(col("drift_ratio") > IvfStaleRatio, lit(false))) ||
          col("appended_frac") > IvfStaleFrac)
  }

  /** Build the persisted IVF index for `d` if absent; returns its dir.
    * Also the hook SqlSurface.registerViews uses to expose the
    * assignments as a view — the SQL front door to the trained-ANN
    * queries (training is an ETL job; querying is SQL).
    */
  private[graft] val IvfFamily = "graft-ivf-index"
  private[graft] val IvfMarker = "centroids/_SUCCESS"

  /** Derived.ensure lifecycle, manifest-keyed (a regenerated embeddings
    * table must miss, or probes would serve bucket assignments for the
    * OLD corpus while the per-run form reflects the new one). Marker is
    * centroids/_SUCCESS because centroids are written LAST: a crash
    * between the two writes leaves a half-index that must rebuild.
    *
    * APPEND lifecycle (completing the persisted-index triad with the
    * bloom index and zone map): when the data-file listing strictly
    * extends a previous artifact's manifest, the centroids stay FROZEN
    * — the production IVF contract: a vector DB assigns arriving
    * vectors to the existing cells and re-trains centroids only as a
    * scheduled job — so the extend scans ONLY the delta files, assigns
    * each new vector to its nearest previous centroid (exact
    * squared-L2 argmin, cent_id tiebreak), and unions with the previous
    * assignments VERBATIM (probe results over old vectors cannot move
    * on append). Unlike the mergeable-stat indexes the extended index
    * is intentionally NOT rebuild-identical — a re-fit would move every
    * centroid — so the spec pins the production properties instead:
    * old assignments byte-stable, centroids byte-identical, new vectors
    * at their true nearest frozen cell, covered files never re-read
    * (corruption witness).
    */
  private[graft] def ensureIvfIndex(s: SparkSession, d: String): String = {
    val src = s"$d/embeddings.parquet"
    // ONE listing feeds the version key, the covered-base test, the
    // pinned full-build read, AND the written _MANIFEST — never two
    // separate snapshots that a concurrent append could split
    val lines = Storage.manifestLines(s, src)
    val ver = Storage.manifestVersion(lines)
    // a recluster refit publishes as a '-r<n>' GENERATION of this same
    // manifest key (Derived.replaceVersioned — readers of the previous
    // generation keep their files); resolve to the newest before the
    // base-version ensure, or a post-refit call would rebuild (or
    // serve) the superseded base
    Derived.resolveGeneration(s, IvfFamily, src, ver, IvfMarker) match {
      case Some(latest) => ivfOracleIndexDir = Some(latest); return latest
      case None => ()
    }
    val published = Derived.ensure(s, IvfFamily, src,
      version = ver, marker = IvfMarker) { tmp =>
      Storage.bestOverlapBase(s, IvfFamily, src, lines,
        marker = IvfMarker) match {
        case Some((prevDir, prev)) =>
          // evolve under FROZEN centroids: subtract the removed files'
          // vectors (anti-join on src provenance — the reference's
          // node-offline cascade, controller/FileTable.java:59-97),
          // assign the added files' vectors to their nearest previous
          // centroid; surviving assignments stay byte-stable (probe
          // results over kept vectors cannot move), centroids copy last
          // as the commit marker. The general daily tick carries BOTH
          // diffs at once.
          evolveIvfIndex(s, prevDir,
            Storage.manifestPath((prev -- lines.toSet).toSeq.sorted),
            Storage.manifestPath(lines.filterNot(prev)), tmp)
        case None => // full build over the PINNED listing, not a live
          // dir scan — artifact and manifest from the same snapshot
          buildIvfIndexFrom(s,
            ParquetMeta.read(s, Storage.manifestPath(lines): _*), tmp)
      }
      Storage.stampManifest(s, tmp, lines)
    }
    ivfOracleIndexDir = Some(published)
    published
  }

  /** Frozen-centroid index evolution, both diff directions in one pass:
    * REMOVED part files' assignment rows anti-join out on src
    * provenance (never reading a corpus byte — the dead files may
    * already be gone or corrupt, which is the point); ADDED files'
    * vectors assign to their nearest previous centroid by exact squared
    * L2 (Σ(fᵢ−cᵢ)², cent_id tiebreak) over the 8-row broadcast
    * centroid table — one mapper-side pass over only the delta files
    * plus a vec-keyed rank-1 window. Surviving assignments are copied
    * verbatim; stats gain one delta row per append (the staleness
    * baseline stays — removal's old delta rows may over-count removed
    * vectors, conservative: staleness reads HIGH, never masks drift);
    * centroids stay FROZEN and copy LAST as the commit marker.
    */
  private def evolveIvfIndex(s: SparkSession, prevDir: String,
      removed: Seq[String], added: Seq[String], tmp: String): Unit = {
    import s.implicits._
    val prevAsg = ParquetMeta.read(s, s"$prevDir/assignments")
    val gone = removed.map(Storage.normSrcStr).toDF("gone_src")
    val surviving =
      if (removed.isEmpty) prevAsg
      else prevAsg.join(broadcast(gone), col("src") === col("gone_src"), "left_anti")
    // removal census for the staleness verdict: how many
    // dropped rows were base vs appended — one agg over INDEX rows
    // (already in hand for the anti-join), recorded as adjustment rows
    // so the verdict itself stays a metadata-row read. Means stay as
    // recorded at build/extend time (partially-removed appends keep
    // their original weight — conservative: drift reads high).
    val removedAdj =
      if (removed.isEmpty) None
      else Some(prevAsg
        .join(broadcast(gone), col("src") === col("gone_src"), "left_semi")
        .groupBy("appended").agg(count(lit(1)).as("n_vecs"))
        .select(
          when(col("appended"), lit("removed_appended"))
            .otherwise(lit("removed_base")).as("kind"),
          col("n_vecs"), lit(null).cast("double").as("mean_dist2")))
    val assigned =
      if (added.isEmpty) None
      else {
        val cents = ParquetMeta.read(s, s"$prevDir/centroids")
        val deltaE = ParquetMeta.read(s, added: _*)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("fv"),
            expr(quant).as("q"),
            Storage.normSrcCol(input_file_name()).as("src"))
        val w = Window.partitionBy("vec_id")
          .orderBy(col("dist2").asc, col("cent_id").asc)
        Some(deltaE.crossJoin(broadcast(cents))
          .withColumn("dist2", expr(
            "aggregate(zip_with(fv, center, (a, b) -> (a - b) * (a - b)), " +
              "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"))
          .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("vec_id"), col("q"),
            col("cent_id").cast("int").as("bucket"), col("src"),
            lit(true).as("appended"), col("dist2"))
          // (d) two actions read it, the assignments write and the
          // staleness row; an A/B of the append path measured the pin
          // faster than re-ranking the delta twice
          .pinned())
      }
    assigned.fold(surviving)(a => surviving.unionByName(a.drop("dist2")))
      .write.mode("overwrite").parquet(s"$tmp/assignments")
    // staleness accounting: record each delta's mean
    // distance-to-frozen-centroid next to the build-time baseline, and
    // each removal's base/appended row census — what
    // ivfStaleness reads to decide the recluster flag
    val withDelta = assigned.fold(ParquetMeta.read(s, s"$prevDir/stats")) { a =>
      ParquetMeta.read(s, s"$prevDir/stats").unionByName(
        a.agg(count(lit(1)).as("n_vecs"), avg(col("dist2")).as("mean_dist2"))
          .select(lit("delta").as("kind"), col("n_vecs"), col("mean_dist2")))
    }
    removedAdj.fold(withDelta)(withDelta.unionByName(_))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
    // centroids stay FROZEN and copy LAST: the commit marker
    ParquetMeta.read(s, s"$prevDir/centroids").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/centroids")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_centroids"     -> (embedCentroids _),
    "q_embed_outliers"      -> (embedOutliers _),
    "q_embed_quantize"      -> (embedQuantize _),
    "q_sim_search"          -> (simSearch _),
    "q_sim_search_ivf"      -> (simSearchIvf _),
    "q_sim_search_ivf2"     -> (simSearchIvf2 _),
    "q_sim_search_lsh"      -> (simSearchLsh _),
    "q_ann_recall"          -> (annRecall _),
    "q_ann_recall_mp"       -> (annRecallMp _),
    "q_lsh_bucket_stats"    -> (lshBucketStats _),
    "q_sim_search_lsh_mp"   -> (simSearchLshMp _),
    "q_sim_search_pq"       -> (simSearchPq _),
    "q_sim_search_ivfpq"    -> (simSearchIvfPq _),
    "q_sim_search_ivf_kmeans" -> (simSearchIvfKmeans _),
    "q_sim_search_ivf_kmeans_probe" -> (simSearchIvfKmeansProbe _),
    "q_ivf_staleness"       -> (ivfStaleness _),
  )

  /** Set by [[ensureIvfIndex]] when a session publishes or resolves the
    * persisted IVF-KMeans index: the DuckDB oracle for the trained-ANN
    * rows reads the DUMPED assignments table by path and replays the
    * bucket-pruned probe exactly (so q_sim_search_ivf_kmeans(_probe)
    * are hash-checked, not rows-only;
    * the KMeans FIT stays non-SQL, but the fit's OUTPUT is a parquet
    * table both engines can read, like q_sim_search_ivfpq's witness).
    * Verify dumps oracleSql AFTER running every query, so the var is
    * set by the time the map is rendered.
    */
  @volatile private[graft] var ivfOracleIndexDir: Option[String] = None

  private def ivfKmeansDumpOracle: Map[String, String] =
    ivfOracleIndexDir.map { rawDir =>
      // scheme-less local path: resolveGeneration returns Hadoop's
      // "file:/tmp/…" form, which DuckDB's reader does not accept
      val dir = new org.apache.hadoop.fs.Path(rawDir).toUri.getPath
      // the exact DuckDB spelling of ivfKmeansProbe over the persisted
      // (vec_id, q, bucket) rows: integer dots, then the same
      // double-division/sqrt float ops in the same order — bit-equal
      // cos on both engines (the q_sim_search_lsh pattern)
      val sql =
        s"WITH a AS (SELECT vec_id, q, bucket FROM '$dir/assignments/*.parquet'), " +
          "pn AS (SELECT q AS qa, bucket AS probe_bucket, " +
          s"${dotDuck("q", "q")} AS n2a FROM a WHERE vec_id = 0) " +
          s"SELECT v.vec_id, v.bucket, ${probeCos(dotDuck, "pn.qa", "pn.n2a", "v.q")} " +
          "FROM a v, pn WHERE v.bucket = pn.probe_bucket AND v.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 5"
      // the maintenance verdict is the same dump-replay shape: every
      // input is a RECORDED stats row (exact sufficient statistics
      // persisted at build/extend/removal time — never recomputed), so
      // DuckDB folds the identical doubles. Sums CAST to BIGINT
      // (DuckDB's sum(BIGINT) is HUGEINT — the q_pack_sequences
      // type-class trap); live counts subtract the removal census
      // exactly as ivfStaleness does.
      val st = s"'$dir/stats/*.parquet'"
      val nApp = "(n_appended_raw - rm_appended)"
      val nBase = "(n_base_raw - rm_base)"
      val frac = s"CAST($nApp AS DOUBLE) / CAST($nBase + $nApp AS DOUBLE)"
      val staleSql =
        s"WITH base AS (SELECT n_vecs AS n_base_raw, mean_dist2 AS base_mean_dist2 " +
          s"FROM $st WHERE kind = 'build'), " +
          s"delta AS (SELECT CAST(coalesce(sum(n_vecs), 0) AS BIGINT) AS n_appended_raw, " +
          s"sum(n_vecs * mean_dist2) / CAST(sum(n_vecs) AS DOUBLE) AS delta_mean_dist2 " +
          s"FROM $st WHERE kind = 'delta'), " +
          "adj AS (SELECT CAST(coalesce(sum(CASE WHEN kind = 'removed_base' " +
          "THEN n_vecs END), 0) AS BIGINT) AS rm_base, " +
          "CAST(coalesce(sum(CASE WHEN kind = 'removed_appended' " +
          s"THEN n_vecs END), 0) AS BIGINT) AS rm_appended FROM $st) " +
          s"SELECT CAST($nBase AS BIGINT) AS n_base, CAST($nApp AS BIGINT) AS n_appended, " +
          s"$frac AS appended_frac, base_mean_dist2, delta_mean_dist2, " +
          "delta_mean_dist2 / base_mean_dist2 AS drift_ratio, " +
          s"($nApp > 0 AND coalesce(delta_mean_dist2 / base_mean_dist2 > $IvfStaleRatio, false)) " +
          s"OR $frac > $IvfStaleFrac AS recluster " +
          "FROM base CROSS JOIN delta CROSS JOIN adj"
      Map("q_sim_search_ivf_kmeans" -> sql,
        "q_sim_search_ivf_kmeans_probe" -> sql,
        "q_ivf_staleness" -> staleSql)
    }.getOrElse(Map.empty)

  /** Cosine of a probe (`qa`, norm² `n2a`) and candidate vector `v`:
    * integer dots in the dialect's `dot`, then the same float ops in the
    * same order, so both engines compute bit-equal cos.
    */
  private def probeCos(dot: (String, String) => String, qa: String, n2a: String, v: String) =
    s"CAST(${dot(qa, v)} AS DOUBLE) / " +
      s"sqrt(CAST($n2a AS DOUBLE) * CAST(${dot(v, v)} AS DOUBLE)) AS cos"

  /** Sign-LSH buckets: `q` (quantized embeddings) and `b` (vec_id, q, bucket). */
  private def lshCtes(quant: String, planeDot: Int => String) =
    s"WITH q AS (SELECT vec_id, $quant AS q FROM embeddings), " +
      s"b AS (SELECT vec_id, q, CAST(${lshBucketExpr(planeDot)} AS INTEGER) AS bucket FROM q)"

  /** Multi-probe sign-LSH: per-plane dots d0..d3, then each vector's
    * bucket and the flip bit naming its second probed bucket.
    */
  private def lshMpCtes(quant: String, planeDot: Int => String) =
    s"WITH q AS (SELECT vec_id, $quant AS q FROM embeddings), " +
      s"dd AS (SELECT vec_id, q, ${(0 until 4).map(p => s"${planeDot(p)} AS d$p").mkString(", ")} FROM q), " +
      s"b AS (SELECT vec_id, q, CAST(${lshBucketExpr(p => s"d$p")} AS INTEGER) AS bucket, " +
      s"CAST($lshFlipExpr AS INTEGER) AS flip FROM dd)"

  /** Recall@RecallK of the bucketed ANN per probe `pr`: exact top-k `tr`
    * vs the top-k `an` among candidates of `sc` that pass `annWhere`.
    */
  private def recallTail(annWhere: String, zero: String, div: String) =
    "tr AS (SELECT probe_id, cand_id FROM (SELECT probe_id, cand_id, " +
      "row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn " +
      s"FROM sc) WHERE rn <= $RecallK), " +
      "an AS (SELECT probe_id, cand_id FROM (SELECT probe_id, cand_id, " +
      "row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn " +
      s"FROM sc WHERE $annWhere) WHERE rn <= $RecallK), " +
      "ca AS (SELECT probe_id, count(*) AS n_ann FROM an GROUP BY 1), " +
      "ch AS (SELECT t.probe_id, count(*) AS n_hit FROM tr t " +
      "JOIN an a ON a.probe_id = t.probe_id AND a.cand_id = t.cand_id GROUP BY 1) " +
      s"SELECT p.probe_id, COALESCE(ca.n_ann, $zero) AS n_ann, " +
      s"COALESCE(ch.n_hit, $zero) AS n_hit, " +
      s"COALESCE(ch.n_hit, $zero) * 1000000 $div $RecallK AS recall_ppm " +
      "FROM pr p LEFT JOIN ca ON ca.probe_id = p.probe_id " +
      "LEFT JOIN ch ON ch.probe_id = p.probe_id ORDER BY p.probe_id"

  /** PQ over subvectors `subs`: codebook `cb` (the first PqK vectors),
    * each vector's packed-argmin `codes`, the probe's ADC table `adc`
    * (PqM × PqK rows) and the ADC top-5. `subD2` is the dialect's exact
    * squared L2 between `sub` and `csub`.
    */
  private def pqTail(subD2: String) =
    s"cb AS (SELECT CAST(vec_id AS INTEGER) AS c, j, sub AS csub " +
      s"FROM subs WHERE vec_id < $PqK), " +
      s"codes AS (SELECT vec_id, j, CAST(min($subD2 * $PqK + c) " +
      s"% $PqK AS INTEGER) AS code " +
      "FROM subs JOIN cb USING (j) GROUP BY vec_id, j), " +
      s"adc AS (SELECT j, c, $subD2 AS t " +
      "FROM subs JOIN cb USING (j) WHERE vec_id = 0) " +
      "SELECT codes.vec_id, CAST(sum(adc.t) AS BIGINT) AS adist2 " +
      "FROM codes JOIN adc ON codes.j = adc.j AND codes.code = adc.c " +
      "WHERE codes.vec_id <> 0 " +
      "GROUP BY codes.vec_id ORDER BY adist2 ASC, vec_id ASC LIMIT 5"

  /** Per-label outlier top-k over per-dim sums `g` of the exploded `e`. */
  private val outliersTail =
    "FROM e JOIN g ON g.label = e.label AND g.dim = e.dim " +
      "GROUP BY e.label, e.vec_id), " +
      "r AS (SELECT label, vec_id, score, row_number() OVER " +
      "(PARTITION BY label ORDER BY score DESC, vec_id) AS rn FROM s) " +
      s"SELECT label, vec_id, score FROM r WHERE rn <= $OutlierTopK " +
      "ORDER BY label, score DESC, vec_id"

  def oracle: Map[String, String] = staticOracle ++ ivfKmeansDumpOracle

  private val staticOracle: Map[String, String] = {
    def cosDuck(p: String, v: String) =
      s"${dotDuck(s"$p.qa", s"$v.q")} / sqrt(CAST($p.n2a AS DOUBLE) * " +
        s"CAST(${dotDuck(s"$v.q", s"$v.q")} AS DOUBLE)) AS cos"
    // exact integer squared-L2 between two lists
    def d2Duck(a: String, b: String) =
      s"CAST(list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"

    Map(
      "q_embed_centroids" ->
        (s"WITH q AS (SELECT label, $quantDuck AS q FROM embeddings), " +
          "e AS (SELECT label, u - 1 AS dim, q[u] AS qv FROM " +
          "(SELECT label, q, unnest(generate_series(1, len(q))) AS u FROM q)), " +
          "g AS (SELECT label, dim, CAST(sum(qv) AS BIGINT) AS qsum, " +
          "count(*) AS n FROM e GROUP BY label, dim) " +
          "SELECT label, CAST(dim AS BIGINT) AS dim, " +
          "CAST(qsum * 1000 // n AS BIGINT) AS centroid_micros " +
          "FROM g ORDER BY label, dim"),
      "q_embed_quantize" ->
        (s"WITH q AS (SELECT vec_id, $quantDuck AS q FROM embeddings), " +
          "e AS (SELECT vec_id, u - 1 AS dim, q[u] AS v FROM " +
          "(SELECT vec_id, q, unnest(generate_series(1, len(q))) AS u FROM q)), " +
          "cb AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim) " +
          "SELECT vec_id, CAST(e.dim AS BIGINT) AS dim, " +
          "CAST(CASE WHEN mx = mn THEN 0 ELSE (v - mn) * 255 // (mx - mn) END " +
          "AS BIGINT) AS code " +
          "FROM e JOIN cb ON cb.dim = e.dim ORDER BY vec_id, dim"),
      "q_embed_outliers" ->
        (s"WITH q AS (SELECT vec_id, label, $quantDuck AS q FROM embeddings), " +
          "e AS (SELECT vec_id, label, u - 1 AS dim, q[u] AS qv FROM " +
          "(SELECT vec_id, label, q, unnest(generate_series(1, len(q))) AS u FROM q)), " +
          "g AS (SELECT label, dim, CAST(sum(qv) AS BIGINT) AS sd, " +
          "count(*) AS nd FROM e GROUP BY label, dim), " +
          "s AS (SELECT e.label, e.vec_id, " +
          "CAST(sum((g.nd * e.qv - g.sd) * (g.nd * e.qv - g.sd)) AS BIGINT) AS score " +
          outliersTail),
      "q_sim_search" ->
        (s"WITH q AS (SELECT vec_id, $quantDuck AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, q, ${dotDuck("q", "q")} AS n2 FROM q) " +
          s"SELECT b.vec_id AS vec_id, ${dotDuck("a.q", "b.q")} " +
          "/ sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos " +
          "FROM n a, n b WHERE a.vec_id = 0 AND b.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 10"),
      "q_sim_search_ivf" ->
        (s"WITH q AS (SELECT vec_id, $quantDuck AS q FROM embeddings), " +
          "cents AS (SELECT vec_id AS cent_id, q AS qc FROM q WHERE vec_id < 8), " +
          s"dists AS (SELECT vec_id, q, cent_id, ${d2Duck("q", "qc")} AS dist2 FROM q, cents), " +
          "assigned AS (SELECT vec_id, q, cent_id FROM dists " +
          "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cent_id ASC) = 1), " +
          s"pn AS (SELECT q AS qa, cent_id AS probe_cent, ${dotDuck("q", "q")} AS n2a " +
          "FROM assigned WHERE vec_id = 0) " +
          s"SELECT b.vec_id, b.cent_id, ${cosDuck("pn", "b")} " +
          "FROM assigned b, pn WHERE b.cent_id = pn.probe_cent AND b.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 5"),
      "q_sim_search_ivf2" ->
        // nprobe=2 mirror: the probe joins its TWO nearest centroids
        (s"WITH q AS (SELECT vec_id, $quantDuck AS q FROM embeddings), " +
          "cents AS (SELECT vec_id AS cent_id, q AS qc FROM q WHERE vec_id < 8), " +
          s"dists0 AS (SELECT vec_id, q, cent_id, ${d2Duck("q", "qc")} AS dist2 FROM q, cents), " +
          "dists AS (SELECT *, row_number() OVER " +
          "(PARTITION BY vec_id ORDER BY dist2 ASC, cent_id ASC) AS rn FROM dists0), " +
          "assigned AS (SELECT vec_id, q, cent_id FROM dists WHERE rn = 1), " +
          s"pn AS (SELECT q AS qa, cent_id AS probe_cent, ${dotDuck("q", "q")} AS n2a " +
          "FROM dists WHERE vec_id = 0 AND rn <= 2) " +
          s"SELECT b.vec_id, b.cent_id, ${cosDuck("pn", "b")} " +
          "FROM assigned b JOIN pn ON b.cent_id = pn.probe_cent WHERE b.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 5"),
      "q_lsh_bucket_stats" -> {
        // BIGINT (not DECIMAL(38,0)) on purpose: DuckDB's `//` over a
        // DECIMAL operand is DOUBLE division (134843.75), and the BIGINT
        // cast then ROUNDS where Spark's DIV floors — caught by the
        // genuine-sf10 full gate (4315·1e6/32000 = .75 exactly; every
        // smaller SF happened to land under .5). BIGINT `//` HUGEINT
        // (sum() is HUGEINT) is true integer division; n_vecs·16·1e6
        // fits BIGINT past any real corpus. Same rule as q_pack_sequences
        // (Sampling) and the zonemap mirror (Storage:395); the
        // Spark side keeps its DECIMAL(38,0) DIV guard.
        s"WITH q AS (SELECT vec_id, $quantDuck AS q FROM embeddings), " +
          s"b AS (SELECT CAST($lshBucketDuck AS INTEGER) AS bucket FROM q), " +
          "pb AS (SELECT bucket, count(*) AS n_vecs FROM b GROUP BY 1), " +
          "g AS (SELECT sum(n_vecs) AS total_vecs, count(*) AS n_buckets FROM pb) " +
          "SELECT bucket, n_vecs, " +
          "CAST(CAST(n_vecs AS BIGINT) * 1000000 // total_vecs AS BIGINT) AS share_ppm, " +
          "CAST(CAST(n_vecs AS BIGINT) * n_buckets * 1000000 // total_vecs AS BIGINT) AS load_micros " +
          "FROM pb CROSS JOIN g ORDER BY bucket"
      },
      "q_ann_recall_mp" ->
        (s"${lshMpCtes(quantDuck, lshPlaneDotDuck)}, " +
          "pr AS (SELECT vec_id AS probe_id, q AS qa, bucket AS b1, " +
          "CAST(xor(bucket, flip) AS INTEGER) AS b2, " +
          s"${dotDuck("q", "q")} AS n2a " +
          s"FROM b WHERE vec_id < $RecallProbes), " +
          "sc AS (SELECT pr.probe_id, v.vec_id AS cand_id, v.bucket, pr.b1, pr.b2, " +
          s"${cosDuck("pr", "v")} " +
          "FROM b v, pr WHERE v.vec_id <> pr.probe_id), " +
          recallTail("bucket = b1 OR bucket = b2", "0", "//")),
      "q_ann_recall" ->
        (s"${lshCtes(quantDuck, lshPlaneDotDuck)}, " +
          "pr AS (SELECT vec_id AS probe_id, q AS qa, bucket AS probe_bucket, " +
          s"${dotDuck("q", "q")} AS n2a FROM b WHERE vec_id < $RecallProbes), " +
          "sc AS (SELECT pr.probe_id, v.vec_id AS cand_id, v.bucket, pr.probe_bucket, " +
          s"${cosDuck("pr", "v")} FROM b v, pr WHERE v.vec_id <> pr.probe_id), " +
          recallTail("bucket = probe_bucket", "0", "//")),
      "q_sim_search_lsh" ->
        (s"${lshCtes(quantDuck, lshPlaneDotDuck)}, " +
          s"pn AS (SELECT q AS qa, bucket AS probe_bucket, ${dotDuck("q", "q")} AS n2a " +
          "FROM b WHERE vec_id = 0) " +
          s"SELECT v.vec_id, v.bucket, ${cosDuck("pn", "v")} " +
          "FROM b v, pn WHERE v.bucket = pn.probe_bucket AND v.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 5"),
      // lowest-index minimal |margin| plane, mirroring flipExpr exactly
      "q_sim_search_lsh_mp" ->
        (s"${lshMpCtes(quantDuck, lshPlaneDotDuck)}, " +
          s"pn AS (SELECT q AS qa, ${dotDuck("q", "q")} AS n2a, " +
          "unnest([bucket, CAST(xor(bucket, flip) AS INTEGER)]) AS probe_bucket " +
          "FROM b WHERE vec_id = 0) " +
          s"SELECT v.vec_id, v.bucket, ${cosDuck("pn", "v")} " +
          "FROM b v, pn WHERE v.bucket = pn.probe_bucket AND v.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 5"),
      "q_sim_search_pq" -> {
        // PqM-way subvector split: 1-based inclusive list slices
        val subsDuck = (0 until PqM).map { j =>
          val lo = j * PqSubDim + 1
          val hi = (j + 1) * PqSubDim
          s"SELECT vec_id, $j AS j, q[$lo:$hi] AS sub FROM q"
        }.mkString(" UNION ALL ")
        s"WITH q AS (SELECT vec_id, $quantDuck AS q FROM embeddings), " +
          s"subs AS ($subsDuck), ${pqTail(d2Duck("sub", "csub"))}"
      },
      "q_sim_search_ivfpq" -> {
        def slices(src: String, arr: String, extra: String) =
          (0 until PqM).map { j =>
            val lo = j * PqSubDim + 1
            val hi = (j + 1) * PqSubDim
            s"SELECT $extra, $j AS j, $arr[$lo:$hi] AS s FROM $src"
          }.mkString(" UNION ALL ")
        s"WITH q AS (SELECT vec_id, $quantDuck AS q FROM embeddings), " +
          s"cents AS (SELECT vec_id AS cent_id, q AS qc FROM q WHERE vec_id < $IvfNlist), " +
          s"dists AS (SELECT vec_id, q, cent_id, ${d2Duck("q", "qc")} AS dist2 FROM q, cents), " +
          "assigned AS (SELECT vec_id, q, cent_id FROM dists " +
          "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cent_id ASC) = 1), " +
          "resid AS (SELECT a.vec_id, a.cent_id, " +
          "list_transform(list_zip(a.q, c.qc), p -> p[1] - p[2]) AS r " +
          "FROM assigned a JOIN cents c ON a.cent_id = c.cent_id), " +
          s"subs AS (${slices("resid", "r", "vec_id, cent_id")}), " +
          s"cb AS (SELECT CAST(vec_id - $PqK AS INTEGER) AS c, j, s AS csub " +
          s"FROM subs WHERE vec_id >= $PqK AND vec_id < ${2 * PqK}), " +
          s"codes AS (SELECT vec_id, cent_id, j, " +
          s"CAST(min(${d2Duck("s", "csub")} * $PqK + c) % $PqK AS INTEGER) AS code " +
          "FROM subs JOIN cb USING (j) GROUP BY vec_id, cent_id, j), " +
          "pcells AS (SELECT cent_id AS pcent, q FROM dists WHERE vec_id = 0 " +
          s"QUALIFY row_number() OVER (ORDER BY dist2 ASC, cent_id ASC) <= $IvfPqNprobe), " +
          "presid AS (SELECT pcent, " +
          "list_transform(list_zip(p.q, c.qc), z -> z[1] - z[2]) AS pr " +
          "FROM pcells p JOIN cents c ON p.pcent = c.cent_id), " +
          s"psubs AS (${slices("presid", "pr", "pcent")}), " +
          s"adc AS (SELECT pcent, j, c, ${d2Duck("s", "csub")} AS t " +
          "FROM psubs JOIN cb USING (j)) " +
          "SELECT v.vec_id, v.cent_id, CAST(sum(adc.t) AS BIGINT) AS adist2 " +
          "FROM codes v JOIN adc ON v.cent_id = adc.pcent " +
          "AND v.j = adc.j AND v.code = adc.c " +
          "WHERE v.vec_id <> 0 GROUP BY v.vec_id, v.cent_id " +
          "ORDER BY adist2 ASC, vec_id ASC LIMIT 5"
      },
    )
  }

  val sparkSql: Map[String, String] = {
    def cos(qa: String, n2a: String, v: String) = probeCos(dotL, qa, n2a, v)
    // same exact-integer squared-L2, via the codegen'd native dot
    def d2(a: String, b: String) = s"(${dotL(a, a)} - 2 * ${dotL(a, b)} + ${dotL(b, b)})"
    val ivfSql = (nprobe: Int) =>
      s"WITH q AS (SELECT vec_id, $quant AS q FROM embeddings), " +
        "cents AS (SELECT vec_id AS cent_id, q AS qc FROM q WHERE vec_id < 8), " +
        s"dists0 AS (SELECT vec_id, q, cent_id, ${dotL("q", "q")} - 2 * ${dotL("q", "qc")} + " +
        s"${dotL("qc", "qc")} AS dist2 FROM q CROSS JOIN cents), " +
        "dists AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cent_id ASC) AS rn FROM dists0), " +
        "assigned AS (SELECT vec_id, q, cent_id FROM dists WHERE rn = 1), " +
        s"pn AS (SELECT q AS qa, cent_id AS probe_cent, ${dotL("q", "q")} AS n2a " +
        s"FROM dists WHERE vec_id = 0 AND rn <= $nprobe) " +
        s"SELECT b.vec_id, b.cent_id, ${cos("pn.qa", "pn.n2a", "b.q")} " +
        "FROM assigned b JOIN pn ON b.cent_id = pn.probe_cent WHERE b.vec_id <> 0 " +
        "ORDER BY cos DESC, vec_id LIMIT 5"
    Map(
      "q_embed_centroids" ->
        (s"WITH q AS (SELECT label, $quant AS q FROM embeddings), " +
          "e AS (SELECT label, posexplode(q) AS (dim, qv) FROM q), " +
          "g AS (SELECT label, dim, sum(qv) AS qsum, count(*) AS n " +
          "FROM e GROUP BY label, dim) " +
          "SELECT label, CAST(dim AS BIGINT) AS dim, " +
          "qsum * 1000 DIV n AS centroid_micros " +
          "FROM g ORDER BY label, dim"),
      "q_embed_quantize" ->
        (s"WITH q AS (SELECT vec_id, $quant AS q FROM embeddings), " +
          "e AS (SELECT vec_id, posexplode(q) AS (dim, v) FROM q), " +
          "cb AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim) " +
          "SELECT vec_id, CAST(e.dim AS BIGINT) AS dim, " +
          "CASE WHEN mx = mn THEN CAST(0 AS BIGINT) " +
          "ELSE (v - mn) * 255 DIV (mx - mn) END AS code " +
          "FROM e JOIN cb ON cb.dim = e.dim ORDER BY vec_id, dim"),
      "q_embed_outliers" ->
        (s"WITH q AS (SELECT vec_id, label, $quant AS q FROM embeddings), " +
          "e AS (SELECT vec_id, label, posexplode(q) AS (dim, qv) FROM q), " +
          "g AS (SELECT label, dim, sum(qv) AS sd, count(*) AS nd " +
          "FROM e GROUP BY label, dim), " +
          "s AS (SELECT e.label, e.vec_id, " +
          "sum((g.nd * e.qv - g.sd) * (g.nd * e.qv - g.sd)) AS score " +
          outliersTail),
      "q_sim_search" ->
        (s"WITH q AS (SELECT vec_id, $quant AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, q, ${dotL("q", "q")} AS n2 FROM q) " +
          s"SELECT b.vec_id AS vec_id, CAST(${dotL("a.q", "b.q")} AS DOUBLE) / " +
          "sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos " +
          "FROM n a CROSS JOIN n b WHERE a.vec_id = 0 AND b.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 10"),
      "q_sim_search_ivf" -> ivfSql(1),
      "q_sim_search_ivf2" -> ivfSql(2),
      "q_lsh_bucket_stats" ->
        (s"WITH q AS (SELECT vec_id, $quant AS q FROM embeddings), " +
          s"b AS (SELECT CAST($lshBucket AS INTEGER) AS bucket FROM q), " +
          "pb AS (SELECT bucket, count(*) AS n_vecs FROM b GROUP BY 1), " +
          "g AS (SELECT sum(n_vecs) AS total_vecs, count(*) AS n_buckets FROM pb) " +
          "SELECT bucket, n_vecs, " +
          "CAST(CAST(n_vecs AS DECIMAL(38,0)) * 1000000 DIV total_vecs AS BIGINT) AS share_ppm, " +
          "CAST(CAST(n_vecs AS DECIMAL(38,0)) * n_buckets * 1000000 DIV total_vecs AS BIGINT) AS load_micros " +
          "FROM pb CROSS JOIN g ORDER BY bucket"),
      "q_ann_recall_mp" ->
        (s"${lshMpCtes(quant, lshPlaneDot)}, " +
          "pr AS (SELECT vec_id AS probe_id, q AS qa, bucket AS b1, " +
          "CAST(bucket ^ flip AS INTEGER) AS b2, " +
          s"${dotL("q", "q")} AS n2a FROM b WHERE vec_id < $RecallProbes), " +
          "sc AS (SELECT pr.probe_id, v.vec_id AS cand_id, v.bucket, pr.b1, pr.b2, " +
          s"${cos("pr.qa", "pr.n2a", "v.q")} " +
          "FROM b v CROSS JOIN pr WHERE v.vec_id <> pr.probe_id), " +
          recallTail("bucket = b1 OR bucket = b2", "0L", "DIV")),
      "q_ann_recall" ->
        (s"${lshCtes(quant, lshPlaneDot)}, " +
          "pr AS (SELECT vec_id AS probe_id, q AS qa, bucket AS probe_bucket, " +
          s"${dotL("q", "q")} AS n2a FROM b WHERE vec_id < $RecallProbes), " +
          "sc AS (SELECT pr.probe_id, v.vec_id AS cand_id, v.bucket, pr.probe_bucket, " +
          s"${cos("pr.qa", "pr.n2a", "v.q")} " +
          "FROM b v CROSS JOIN pr WHERE v.vec_id <> pr.probe_id), " +
          recallTail("bucket = probe_bucket", "0L", "DIV")),
      "q_sim_search_lsh" ->
        (s"${lshCtes(quant, lshPlaneDot)}, " +
          s"pn AS (SELECT q AS qa, bucket AS probe_bucket, ${dotL("q", "q")} AS n2a " +
          "FROM b WHERE vec_id = 0) " +
          s"SELECT v.vec_id, v.bucket, ${cos("pn.qa", "pn.n2a", "v.q")} " +
          "FROM b v CROSS JOIN pn WHERE v.bucket = pn.probe_bucket AND v.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 5"),
      "q_sim_search_lsh_mp" ->
        (s"${lshMpCtes(quant, lshPlaneDot)}, " +
          s"pn AS (SELECT qa, n2a, explode(array(bucket, CAST(bucket ^ flip AS INTEGER))) AS probe_bucket " +
          s"FROM (SELECT q AS qa, ${dotL("q", "q")} AS n2a, bucket, flip FROM b WHERE vec_id = 0)) " +
          s"SELECT v.vec_id, v.bucket, ${cos("pn.qa", "pn.n2a", "v.q")} " +
          "FROM b v CROSS JOIN pn WHERE v.bucket = pn.probe_bucket AND v.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 5"),
      "q_sim_search_pq" -> {
        // slice(arr, start, LENGTH) — Spark's spelling of the oracle's
        // 1-based inclusive q[lo:hi]
        val subsSpark = (0 until PqM).map { j =>
          s"SELECT vec_id, $j AS j, slice(q, ${j * PqSubDim + 1}, $PqSubDim) AS sub FROM q"
        }.mkString(" UNION ALL ")
        s"WITH q AS (SELECT vec_id, $quant AS q FROM embeddings), " +
          s"subs AS ($subsSpark), ${pqTail(d2("sub", "csub"))}"
      },
      "q_sim_search_ivfpq" -> {
        def slices(src: String, arr: String, extra: String) =
          (0 until PqM).map { j =>
            s"SELECT $extra, $j AS j, slice($arr, ${j * PqSubDim + 1}, $PqSubDim) AS s FROM $src"
          }.mkString(" UNION ALL ")
        s"WITH q AS (SELECT vec_id, $quant AS q FROM embeddings), " +
          s"cents AS (SELECT vec_id AS cent_id, q AS qc FROM q WHERE vec_id < $IvfNlist), " +
          s"dists AS (SELECT q.vec_id, q.q, cent_id, qc, ${d2("q.q", "qc")} AS dist2 " +
          "FROM q CROSS JOIN cents), " +
          // packed argmin instead of QUALIFY (Spark has no QUALIFY)
          s"assigned AS (SELECT vec_id, min(dist2 * $IvfNlist + cent_id) % $IvfNlist AS cent_id " +
          "FROM dists GROUP BY vec_id), " +
          "resid AS (SELECT a.vec_id, a.cent_id, zip_with(q.q, c.qc, (x, y) -> x - y) AS r " +
          "FROM assigned a JOIN q ON q.vec_id = a.vec_id JOIN cents c ON a.cent_id = c.cent_id), " +
          s"subs AS (${slices("resid", "r", "vec_id, cent_id")}), " +
          s"cb AS (SELECT CAST(vec_id - $PqK AS INT) AS c, j, s AS csub " +
          s"FROM subs WHERE vec_id >= $PqK AND vec_id < ${2 * PqK}), " +
          s"codes AS (SELECT vec_id, cent_id, j, " +
          s"CAST(min(${d2("s", "csub")} * $PqK + c) % $PqK AS INT) AS code " +
          "FROM subs JOIN cb USING (j) GROUP BY vec_id, cent_id, j), " +
          "pcells AS (SELECT cent_id AS pcent FROM (SELECT cent_id, " +
          "row_number() OVER (ORDER BY dist2 ASC, cent_id ASC) AS rn " +
          s"FROM dists WHERE vec_id = 0) WHERE rn <= $IvfPqNprobe), " +
          "presid AS (SELECT pcent, zip_with(q.q, c.qc, (x, y) -> x - y) AS pr " +
          "FROM pcells JOIN q ON q.vec_id = 0 JOIN cents c ON pcent = c.cent_id), " +
          s"psubs AS (${slices("presid", "pr", "pcent")}), " +
          s"adc AS (SELECT pcent, j, c, ${d2("s", "csub")} AS t " +
          "FROM psubs JOIN cb USING (j)) " +
          "SELECT v.vec_id, v.cent_id, sum(adc.t) AS adist2 " +
          "FROM codes v JOIN adc ON v.cent_id = adc.pcent " +
          "AND v.j = adc.j AND v.code = adc.c " +
          "WHERE v.vec_id <> 0 GROUP BY v.vec_id, v.cent_id " +
          "ORDER BY adist2 ASC, vec_id ASC LIMIT 5"
      },
      // trained-ANN queries through SQL: the KMeans fit is an ETL job
      // (buildIvfIndex) whose output registerViews exposes as the
      // ivf_assignments view; the probe itself is plain SQL. Identical
      // text for the per-run and persisted forms — the probe≡per-run
      // identity is spec-pinned.
      "q_sim_search_ivf_kmeans" -> ivfKmeansProbeSql,
      "q_sim_search_ivf_kmeans_probe" -> ivfKmeansProbeSql,
      // the maintenance verdict over the ivf_stats view (same rows
      // ivfStaleness folds); thresholds interpolated from the one
      // constant pair so text and engine can never disagree
      "q_ivf_staleness" ->
        ("WITH base AS (SELECT n_vecs AS n_base, mean_dist2 AS base_mean_dist2 " +
          "FROM ivf_stats WHERE kind = 'build'), " +
          "delta AS (SELECT coalesce(sum(n_vecs), 0L) AS n_appended, " +
          "sum(n_vecs * mean_dist2) / sum(n_vecs) AS delta_mean_dist2 " +
          "FROM ivf_stats WHERE kind = 'delta') " +
          "SELECT n_base, n_appended, " +
          "CAST(n_appended AS DOUBLE) / CAST(n_base + n_appended AS DOUBLE) AS appended_frac, " +
          "base_mean_dist2, delta_mean_dist2, " +
          "delta_mean_dist2 / base_mean_dist2 AS drift_ratio, " +
          s"(coalesce(delta_mean_dist2 / base_mean_dist2 > $IvfStaleRatio, false) OR " +
          "CAST(n_appended AS DOUBLE) / CAST(n_base + n_appended AS DOUBLE) > " +
          s"$IvfStaleFrac) AS recluster " +
          "FROM base CROSS JOIN delta"),
    )
  }

  /** Bucket-pruned cosine top-5 over the persisted-index view (the SQL
    * spelling of ivfKmeansProbe). Requires `ivf_assignments` registered
    * by SqlSurface.registerViews.
    */
  private def ivfKmeansProbeSql: String =
    s"WITH probe AS (SELECT q AS qa, ${dotL("q", "q")} AS n2a, bucket AS probe_bucket " +
      "FROM ivf_assignments WHERE vec_id = 0) " +
      s"SELECT a.vec_id, a.bucket, ${probeCos(dotL, "qa", "n2a", "a.q")} " +
      "FROM ivf_assignments a JOIN probe ON a.bucket = probe.probe_bucket " +
      "WHERE a.vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 5"
}

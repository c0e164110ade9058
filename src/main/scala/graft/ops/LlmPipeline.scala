package graft.ops

import graft.{ParquetMeta, SessionMemo, Tables}
import graft.ops.Pin.PinOps
import org.apache.spark.mllib.clustering.{KMeans, KMeansModel}
import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2C LLM-pipeline operators (#43-47) plus the training-data
  * extensions: the dedup family (exact / MinHash-LSH / SimHash / n-gram
  * Jaccard / embedding-cosine), similarity search (brute-force + IVF),
  * and text analysis (language-ID, quality, token counts, fingerprints).
  *
  * Determinism strategy (everything here is oracle-checked except the
  * spark.ml MinHashLSH variant, the KMeans-trained IVF, and the seeded
  * stratified sample — engine-specific RNG/training, spec-verified
  * instead per SURVEY §7.4 rules 7-8):
  *  - All signature hashing derives from ONE md5 per shingle, reduced
  *    to a 60-bit integer base hash (15 hex chars → BIGINT; Spark
  *    `conv` ≡ DuckDB CAST('0x…')): MinHash permutations are XOR
  *    salts over it, SimHash bits are integer bit-tests on it — both
  *    hash-aggregable BIGINT state, no string minima.
  *  - Embedding math is fixed-point: floats quantized to q = round(x *
  *    1000) longs; dots/norms are exact integer sums, with ONE final
  *    double division/sqrt — bit-identical on both engines. (At cluster
  *    scale you would keep float32 SIMD and skip the oracle, but the
  *    operator shape — block, dot, rank — is unchanged.)
  *
  * Scale notes: every pairwise operator is banded/blocked (LSH band
  * join, label block, IVF bucket) so candidate generation is an equi
  * shuffle join, never a cross join; the all-pairs forms exist only
  * inside a block. Signature passes are explode → codegen'd scalar
  * hash → partial+final hash-agg per doc (higher-order functions over
  * the token array evaluate interpreted, so the hot hashing work is
  * kept in codegen'd projections; shuffled bytes per doc stay fixed).
  */
object LlmPipeline {

  // ---------------------------------------------------------------- text
  /** Tokens of the whitespace-soup text column (split on single space;
    * Spark split and DuckDB string_split agree incl. empty handling).
    */
  private val toks = "split(text, ' ')"

  /** 3-word shingles (docs shorter than 3 tokens fall back to the whole
    * text as one shingle), over a PRE-MATERIALIZED token-array column
    * `tk` (withTk below). The shingle pass is the inner loop of the
    * whole dedup family, so it is the native [[graft.functions.Shingle3]]
    * expression — byte-identical to the composable
    * `transform(sequence(1, size(tk)-2), i -> concat_ws(' ', slice(tk,
    * i, 3)))`, which evaluates interpreted (and, before tk was
    * materialized, re-ran split(text) per shingle index — O(tokens²)
    * per doc, measured 3x slower).
    */
  // null text ⇒ '' EVERYWHERE shingles are made (batch here, stream in
  // incrementalDedupStream/decontaminateStream, both oracle dialects):
  // a one-sided coalesce made a NULL-text doc hash differently on the
  // batch and stream paths, so the stream could never collide with its
  // batch-ingested twin — breaking the bit-identical contract
  private val shingles =
    "CASE WHEN size(tk) >= 3 THEN shingle3(tk) ELSE array(coalesce(text, '')) END"

  /** documents with the token array materialized once per row. */
  private def withTk(df: DataFrame): DataFrame =
    df.withColumn("tk", split(coalesce(col("text"), lit("")), " "))

  private val shinglesDuck =
    "CASE WHEN len(string_split(coalesce(text, ''),' ')) >= 3 THEN " +
      "list_transform(generate_series(1, len(string_split(coalesce(text, ''),' ')) - 2), " +
      "i -> array_to_string(list_slice(string_split(coalesce(text, ''),' '), i, i + 2), ' ')) " +
      "ELSE [coalesce(text, '')] END"

  /** #43 q_dedup_exact — exact dedup: keep the min doc_id per normalized
    * text; n_copies counts the group. Hash-groupBy — but the grouping key
    * is md5(normalized text), NOT the normalized text itself: the shuffle
    * exchanges 32 B per doc instead of the whole corpus (at 100 TB the
    * full-text key would make shuffled bytes ≈ corpus size). The
    * collision risk is the same one the emitted norm_md5 column already
    * accepts.
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(lower(trim(col("text")))).as("norm_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("norm_md5"))
      .orderBy("keep_id")

  /** 16 fixed 62-bit XOR salts for the MinHash "permutation" family
    * h_i(s) = base(s) XOR salt_i (splitmix64 of 0..15, masked to 62
    * bits so every derived hash stays a positive BIGINT on both
    * engines). XOR-with-constant is the standard one-hash MinHash
    * family (pairwise-uniform; spark.ml's own MinHashLSH similarly
    * derives its tables from one hash) — and unlike (a·h+b) mod p it
    * cannot overflow, which matters because Spark wraps 64-bit
    * multiplication while DuckDB raises, so a mod-prime family could
    * never be oracle-mirrored.
    */
  private[graft] val MinhashSalts: Seq[Long] = Seq(
    2459150361376443823L, 1227844342346046657L, 1682153688901572302L,
    2092789425003139053L, 3347269030627216074L, 2522925141726970714L,
    4423843088329334784L, 2579403582464986583L, 2186024489510581814L,
    3363998700739256420L, 614480483733483466L, 1221993362530250909L,
    1459159667599904515L, 345149584737929983L, 3074223602948367934L,
    530179042305200133L)

  /** MinHash banded signatures: ONE md5 per shingle → 60-bit integer
    * base hash (15 hex chars via conv) → 16 XOR-derived hashes →
    * min(BIGINT) per doc, banded 4×4; band key = md5 of the band's 4
    * mins joined with '|'.
    *
    * Shape: explode shingles → one codegen'd md5 + conv projection →
    * 16 integer XORs → one partial+final HASH-agg on doc_id. The
    * previous form (16 md5 calls per shingle, min over 32-char hex
    * strings) spent 16× the hashing work and fell to SortAggregate —
    * variable-length string agg buffers can't hash-aggregate; BIGINT
    * mins can, and shuffle 8 B per (doc, permutation) instead of 32.
    *
    * READ-THROUGH over the PERSISTED substrate: the session memo
    * caches a plain scan of the manifest-keyed artifact
    * ([[ensureMinhashBanded]]) — a cold session (or second JVM) reads
    * the signature table instead of re-paying the corpus scan, and a
    * manifest tick evolves the artifact (append-exact: signatures are
    * per-doc) instead of rebuilding it.
    */
  private[graft] def minhashBanded(s: SparkSession, d: String): DataFrame =
    // NO fanOut here, by measurement: a keyed exchange on
    // (band, band_key) was tried alongside the postings one and the
    // banded consumers read flat-to-slower (q_dedup_near 1.64 → 1.76 s
    // raw / flat normalized, q_dedup_editdist likewise) — the banded
    // table is bands×docs rows (~80 k at sf0.1), so the bucket
    // aggregate is too small to repay the exchange the way the
    // shingle-volume postings scan does.
    minhashBandedMemo(s, s"$d/documents.parquet")(
      ParquetMeta.read(s, ensureMinhashBanded(s, d))
        .select("doc_id", "band", "band_key"))

  /** Session memo for the banded-signature artifact scan: SIX call
    * sites consume these rows (sig/pairs registry queries, the cc-label
    * build, cross-source, cluster stats, verify); the memo keeps the
    * per-call ensure (manifest listing + family-dir enumeration) to
    * once per session per corpus state.
    */
  private val minhashBandedMemo = new SessionMemo[DataFrame]

  /** Banded-signature rows for a postings subset, src provenance
    * carried through the aggregate (a doc lives in exactly one part
    * file, so grouping by (doc_id, src) is the doc_id grouping).
    */
  private def minhashBandedRowsFromPostings(posts: DataFrame): DataFrame = {
    val sigs = posts.groupBy("doc_id", "src").agg(
      min(col("sh").bitwiseXOR(lit(MinhashSalts.head))).as("sig0"),
      (1 until 16).map(i => min(col("sh").bitwiseXOR(lit(MinhashSalts(i)))).as(s"sig$i")): _*)
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|",
          (0 until 4).map(i => col(s"sig${4 * b + i}").cast("string")): _*)).as("band_key"))
    }
    sigs.select(col("doc_id"), col("src"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("src"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  // ------------------------------------------- persisted dedup substrates
  /** The dedup tier's corpus-derived substrates — ngram postings,
    * banded MinHash signatures, SimHash signatures, bucketed
    * embeddings, winnow fingerprints — as manifest-keyed PERSISTED
    * artifacts (as per-session memos, a cold session re-paid a linear
    * corpus scan per family; q_dedup_overflow_report's 598.8 s sf100
    * standalone receipt was exactly that gap). Every substrate row is
    * PER-DOC (a doc lives in exactly one part file) and carries normalized src
    * provenance, so the zone-map lifecycle applies verbatim
    * (Storage.ensureManifestKeyedWithLines): a pure append builds rows
    * for the delta files only and unions; a retention drop anti-joins
    * the removed files' rows out; mixed ticks do both; no covered
    * corpus byte is ever re-read on the evolve path. The reference
    * analogue: the controller persists what it could recompute from
    * heartbeats (controller/FileTable.java:107-122, public GitHub).
    */
  private[graft] val NgramPostingsFamily = "graft-ngram-postings"
  private[graft] val MinhashBandedFamily = "graft-minhash-banded"
  private[graft] val SimhashSigFamily = "graft-simhash-sig"
  private[graft] val EmbedBucketedFamily = "graft-embed-bucketed"

  /** The shared removal leg: anti-join on src against the (file-count-
    * sized, broadcast) dropped-path list — the zonemapPartials rule.
    */
  private def substrateRemove(s: SparkSession)(
      prev: DataFrame, removed: Seq[String]): DataFrame = {
    import s.implicits._
    val gone = removed.map(Storage.normSrcStr).toDF("gone_src")
    prev.join(broadcast(gone), col("src") === col("gone_src"), "left_anti")
  }

  /** Per-row substrate lifecycle: `rowsFor(paths)` builds the substrate
    * rows (src column included) for exactly those part files; append =
    * rowsFor(delta) unioned, removal = src anti-join. private[graft]:
    * Multimodal's phash table rides the same lifecycle.
    *
    * INGEST CONTRACT: a doc_id must live in exactly ONE part file.
    * The signature families group per (doc_id, src), so a
    * doc_id re-ingested into a second file would fragment into two
    * signature row-sets and silently diverge from the whole-corpus
    * groupBy semantics the SQL/oracle mirrors compute. The staged
    * artifact is validated before publish ([[checkIngestContract]]:
    * the corpus footers, or an aggregate over ARTIFACT rows, never a
    * corpus re-read), so a violating corpus fails the build loudly.
    */
  private[graft] def ensureRowSubstrate(s: SparkSession, family: String,
      table: String)(rowsFor: Seq[String] => DataFrame): String = {
    val lines = Storage.manifestLines(s, table)
    Storage.ensureManifestKeyedWithLines(s, family, table, lines)(
      fullBuild = pinned => rowsFor(pinned),
      deltaBuild = (prev, added) => prev.unionByName(rowsFor(added)),
      removeBuild = substrateRemove(s),
      validate = tmp => checkIngestContract(s, family, tmp, Storage.manifestPath(lines)))
  }

  /** Fail unless every doc_id of the artifact at `dir` lives in exactly
    * one of the `corpus` files — the FULL current manifest the artifact
    * was built from, never a delta list. Vacuous for a single-file
    * corpus: every artifact row then carries the same src. The proof
    * comes from the corpus footers when it can ([[docIdsDisjointByFile]]:
    * O(files), no job, whatever file layout the build wrote — the
    * aggregate is a full shuffle of the artifact); otherwise one
    * (doc_id → src) uniqueness aggregate over the artifact rows decides
    * (a no-op for artifacts without both columns).
    */
  private[graft] def checkIngestContract(s: SparkSession, family: String,
      dir: String, corpus: Seq[String]): Unit = {
    def proven = scala.util.Try(docIdsDisjointByFile(
      ParquetMeta.footersOf(s, corpus.map(new org.apache.hadoop.fs.Path(_))))).getOrElse(false)
    lazy val cols =
      ParquetMeta.footers(s, dir).headOption.fold(Set.empty[String])(_.schema.fieldNames.toSet)
    if (corpus.length > 1 && !proven && cols("doc_id") && cols("src")) {
      val bad = ParquetMeta.read(s, dir).groupBy("doc_id")
        .agg(min("src").as("src_a"), max("src").as("src_b"))
        .filter(col("src_a") =!= col("src_b")).limit(1).collect()
      require(bad.isEmpty,
        s"$family: doc_id ${bad.head.get(0)} spans part files " +
          s"${bad.head.getString(1)} and ${bad.head.getString(2)} — " +
          "the ingest contract requires a doc_id to live in exactly " +
          "one part file (re-ingested doc in a delta file?)")
    }
  }

  /** The ingest contract proven from the corpus files' own footers
    * (one per file): every non-empty row group has integer `doc_id`
    * statistics with no nulls, and the per-file [min, max] `doc_id`
    * ranges are pairwise disjoint — a doc_id in two files would lie in
    * both ranges. Needs no artifact statistics, so it holds whatever
    * layout the build wrote (fanned out, compacted). False (not proven)
    * whenever a statistic is missing or two files' ranges overlap.
    */
  private[graft] def docIdsDisjointByFile(footers: Seq[ParquetMeta.Footer]): Boolean = {
    import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics, Statistics}
    def noNulls(st: Statistics[_]) =
      st.hasNonNullValue && st.isNumNullsSet && st.getNumNulls == 0
    val files = footers.map(_.rowGroups.filter(_.rows > 0).map(_.stats.get("doc_id").collect {
      case l: LongStatistics if noNulls(l) => (l.getMin, l.getMax)
      case i: IntStatistics if noNulls(i) => (i.getMin.toLong, i.getMax.toLong)
    }))
    files.forall(_.forall(_.isDefined)) && {
      val ranges = files.map(_.flatten).filter(_.nonEmpty)
        .map(rs => (rs.map(_._1).min, rs.map(_._2).max)).sortBy(_._1)
      ranges.zip(ranges.drop(1)).forall { case ((_, hi), (lo, _)) => hi < lo }
    }
  }

  /** Inverted-index rows for a set of documents part files: one row per
    * (doc, distinct shingle), keyed by the shingle's 60-bit base hash,
    * with src provenance captured at scan time (input_file_name is
    * only meaningful before the first exchange).
    */
  private def ngramPostingsRows(s: SparkSession, paths: Seq[String]): DataFrame =
    // fanOut below the shingle explode+md5 and above the
    // input_file_name projection, which an exchange would void. The
    // build's partitioning is the artifact's file layout, so an unfanned
    // single-split scan would also publish a one-file artifact and make
    // every consumer's scan single-task.
    withTk(Tables.fanOut(
      ParquetMeta.read(s, paths: _*)
        .select(col("doc_id"), Storage.normSrcCol(input_file_name()).as("src"),
          col("text")),
      col("doc_id")))
      .select(col("doc_id"), col("src"),
        explode(expr(s"array_distinct($shingles)")).as("sg"))
      // md5_prefix64 ≡ CAST(conv(substring(md5(sg),1,15),16,10) AS BIGINT)
      // without the hex round-trip (functions/Md5Prefix64; guide §1.2
      // step 2 — the win_hashes60 win applied to the shingle chain)
      .select(col("doc_id"), col("src"), expr("md5_prefix64(sg)").as("sh"))

  private[graft] def ensureNgramPostings(s: SparkSession, d: String): String = {
    val table = s"$d/documents.parquet"
    ensureRowSubstrate(s, NgramPostingsFamily, table)(ngramPostingsRows(s, _))
  }

  /** The banded-signature artifact derives from the POSTINGS artifact,
    * never the corpus: the postings rows are exactly the (doc, 60-bit
    * shingle hash) base the signature aggregate needs, so the corpus
    * is scanned once (by the postings build) no matter how many
    * signature families layer on top. The delta leg aggregates only
    * the delta files' postings (semi-join on src — exact, signatures
    * are per-doc); the postings ensure is LAZY so a session whose
    * banded artifact is already current never touches postings.
    */
  private[graft] def ensureMinhashBanded(s: SparkSession, d: String): String = {
    val table = s"$d/documents.parquet"
    val lines = Storage.manifestLines(s, table)
    lazy val posts = ParquetMeta.read(s, ensureNgramPostings(s, d))
    def rowsFor(paths: Seq[String], full: Boolean): DataFrame = {
      import s.implicits._
      val base =
        if (full) posts // postings key on the same manifest as `lines`
        else posts.join(
          broadcast(paths.map(Storage.normSrcStr).toDF("src")),
          Seq("src"), "left_semi")
      minhashBandedRowsFromPostings(base)
    }
    Storage.ensureManifestKeyedWithLines(s, MinhashBandedFamily, table, lines)(
      fullBuild = pinned => rowsFor(pinned, full = true),
      deltaBuild = (prev, added) => prev.unionByName(rowsFor(added, full = false)),
      removeBuild = substrateRemove(s))
  }

  /** SimHash signature rows for a set of documents part files. Unlike
    * the postings-derived MinHash path this MUST scan the corpus:
    * SimHash weighs shingles WITH multiplicity, postings are distinct.
    */
  private def simhashSigRows(s: SparkSession, paths: Seq[String]): DataFrame = {
    // same fanOut rationale as ngramPostingsRows; keyed on doc_id so the
    // (doc_id, src) aggregate reuses the exchange
    val hs = withTk(Tables.fanOut(
      ParquetMeta.read(s, paths: _*)
        .select(col("doc_id"), Storage.normSrcCol(input_file_name()).as("src"),
          col("text")),
      col("doc_id")))
      .select(col("doc_id"), col("src"),
        explode(expr(shingles)).as("sg"))
      .select(col("doc_id"), col("src"), expr("md5_prefix64(sg)").as("h"))
    val bitSums = (1 to 32).map { b =>
      sum(when(expr(s"(h >> ${b - 1}) & 1 = 1"), 1L).otherwise(-1L)).as(s"v$b")
    }
    val sim = (1 to 32).map { b =>
      s"(CASE WHEN v$b > 0 THEN CAST(pow(2, ${32 - b}) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    hs.groupBy("doc_id", "src").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), col("src"), expr(sim).as("simhash"))
  }

  private[graft] def ensureSimhashSig(s: SparkSession, d: String): String = {
    val table = s"$d/documents.parquet"
    ensureRowSubstrate(s, SimhashSigFamily, table)(simhashSigRows(s, _))
  }

  /** Bucketed-embedding rows for a set of embeddings part files: label,
    * milli-quantized vector, exact squared norm, sign-LSH bucket, src.
    * Pure per-row projection — no shuffle anywhere in the build.
    */
  private def embedBucketedRows(s: SparkSession, paths: Seq[String]): DataFrame =
    ParquetMeta.read(s, paths: _*)
      .select(col("vec_id"), col("label"), expr(quant).as("q"),
        Storage.normSrcCol(input_file_name()).as("src"))
      .withColumn("n2", expr(dotL("q", "q")))
      .withColumn("bucket", expr(lshBucketExpr(lshPlaneDot)).cast("int"))

  private[graft] def ensureEmbedBucketed(s: SparkSession, d: String): String = {
    val table = s"$d/embeddings.parquet"
    ensureRowSubstrate(s, EmbedBucketedFamily, table)(embedBucketedRows(s, _))
  }

  /** Test seam: drop every substrate session memo so a spec can replay
    * a SECOND session against the persisted artifacts (the corruption
    * witnesses corrupt the corpus in place, clear the memos, and prove
    * the re-read serves artifact rows without touching a corpus byte).
    */
  private[graft] def clearSubstrateMemos(): Unit = {
    ngramPostingsMemo.clear()
    minhashBandedMemo.clear()
    simhashSigMemo.clear()
    embedBucketedMemo.clear()
    winnowFpsMemo.clear()
  }

  /** q_dedup_minhash_sig — per-doc banded MinHash signature. This is the
    * shuffle key a 100 TB dedup would exchange on: fixed 4×32 bytes per
    * doc regardless of text size.
    */
  def dedupMinhashSig(s: SparkSession, d: String): DataFrame =
    minhashBanded(s, d).orderBy("doc_id", "band")

  /** q_dedup_minhash_pairs — LSH candidate pairs: docs agreeing on ≥1
    * band. One shuffle on (band, band_key) collecting each bucket's doc
    * ids, then pairs generated inside the bucket — the signature pass
    * runs ONCE (a self-join would recompute the whole minhash subtree
    * for each side) and pair explosion stays bucket-local. MinHash
    * buckets hold only near-identical docs, so per-bucket pair counts
    * are tiny; pathological hot buckets are dropped by HotBucketCap.
    */
  def dedupMinhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsFromBanded(minhashBanded(s, d))

  /** Hot-bucket cap for LSH pair generation: a bucket with > cap members
    * would emit O(cap²) bucket-local pairs — one pathological band value
    * at 100 TB is a quadratic explosion. Buckets over the cap are dropped
    * from pair generation (the standard web-dedup df-cap mitigation);
    * *BucketOverflow below makes the dropped buckets observable so a
    * pipeline can alert instead of silently losing recall.
    */
  private[graft] val HotBucketCap = 50

  /** Pair-generation core for banded MinHash input (doc_id, band,
    * band_key) — factored out so specs can drive it with a synthetic
    * degenerate bucket. One shuffle on (band, band_key); pairs stay
    * bucket-local; buckets over `cap` are excluded entirely.
    */
  private[graft] def minhashPairsFromBanded(banded: DataFrame, cap: Int = HotBucketCap): DataFrame = {
    val buckets = banded
      .groupBy("band", "band_key")
      .agg(expr("array_sort(collect_set(doc_id))").as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= cap)
    buckets
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ids) - 2), " +
          "i -> transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "x -> struct(ids[i] AS doc_a, x AS doc_b))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Overflow report: buckets whose membership exceeds the cap (and were
    * therefore skipped by pair generation). Empty on healthy corpora.
    */
  private[graft] def minhashBucketOverflow(banded: DataFrame, cap: Int = HotBucketCap): DataFrame =
    banded.groupBy("band", "band_key")
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > cap)

  /** Fixed round count for the UNROLLED min-label propagation in the
    * q_dedup_cc Spark-SQL text surface (sparkSql below). Spark's
    * recursive CTE rejects the cycle-safe UNION form
    * (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) and UNION ALL diverges on a
    * symmetric edge list, so the text mirror unrolls a fixed number of
    * propagation rounds instead: exact whenever every component's
    * diameter ≤ this bound. MinHash components are band-bucket
    * near-cliques (diameter 2-3), so 8 leaves a wide margin; the
    * DataFrame form (the production path) iterates to true convergence
    * and needs no bound.
    */
  private[graft] val CcSqlRounds = 8

  /** q_dedup_cc — near-duplicate CLUSTERS from the MinHash candidate
    * pairs: every doc that appears in ≥1 candidate pair is labeled with
    * the smallest doc_id reachable through the pair graph (its connected
    * component's representative). This is the decision step that turns a
    * pair list into an actual dedup — keep `doc_id = rep_id`, drop the
    * rest — and it must be transitive: if A~B and B~C, naive pairwise
    * keep-the-min retains both A and C. (Reference behavior: the
    * chunk→file grouping in its file table is the same
    * many-rows-to-one-representative fold; see
    * /root/reference/src/main/java/edu/usfca/cs/dfs/components/controller/FileTable.java:14.)
    *
    * Algorithm: distributed min-label propagation. l₀(v) = min(v, N(v));
    * each round propagates labels one hop (equi join edges⋈labels, then
    * a map-side-combining min per node) and stops when no label
    * decreased. Rounds = graph diameter; near-dup components are
    * near-cliques (members share band buckets), so the fixpoint lands in
    * 2-3 rounds regardless of corpus size. Per-round cost is one
    * shuffle of 16 B × |nodes-in-pairs| — the duplicate set, not the
    * corpus. The only driver-side state is the converged-yet count;
    * localCheckpoint pins each round's labels so the plan (and the
    * signature subtree) is not re-executed per round and lineage stays
    * O(1).
    */
  def dedupCc(s: SparkSession, d: String): DataFrame =
    ccLabelsFor(s, d).orderBy("doc_id")

  /** Converged component labels, memoized per (session, corpus state):
    * q_dedup_cc and q_dedup_cluster_stats both consume the SAME
    * label table, and each independent rebuild re-runs the whole
    * signature→banding→pairs→propagation pipeline (~2.5 s combined in
    * the clean bench, most of it the shared shingle pass). The labels
    * are already localCheckpoint-pinned (materialized, O(1) lineage),
    * so the memo holds only a handle to executor-resident blocks sized
    * by the duplicate set — the persisted-index discipline
    * (ensureIvfIndex) applied to the cc stage. Keyed by session so a
    * stopped session's pinned blocks are never handed to a new one.
    */
  private val ccLabelsMemo = new SessionMemo[DataFrame]

  private def ccLabelsFor(s: SparkSession, d: String): DataFrame =
    ccLabelsMemo(s, s"$d/documents.parquet")(
      ccLabels(minhashPairsFromBanded(minhashBanded(s, d))))

  /** Min-label-propagation core over an undirected pair list (doc_a,
    * doc_b) — factored out so specs can drive it with synthetic graphs
    * (chains exercise the multi-round path that clique-shaped MinHash
    * components never do). Returns (doc_id, rep_id) for every doc
    * present in ≥1 pair.
    */
  private[graft] def ccLabels(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // Symmetrize once and pin: edges are re-scanned every round, and
    // without the checkpoint each round would re-run the whole
    // minhash signature subtree feeding `pairs`.
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .pinned()
    var labels = edges.groupBy(col("u").as("doc_id"))
      .agg(min(col("v")).as("nmin"))
      .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("rep_id"))
      .pinned()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val prop = edges
        .join(labels.withColumnRenamed("doc_id", "u"), "u")
        .groupBy(col("v").as("doc_id"))
        .agg(min(col("rep_id")).as("nmin"))
      val next = labels
        .join(prop, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("rep_id"), coalesce(col("nmin"), col("rep_id"))).as("rep_id"))
        .pinned()
      converged = next
        .join(labels.withColumnRenamed("rep_id", "prev"), "doc_id")
        .where(col("rep_id") < col("prev"))
        .isEmpty
      labels = next
      round += 1
    }
    // loud, not silent: exhausting maxRounds on a deep duplicate chain
    // (component diameter > maxRounds) would return labels where one
    // component still carries multiple rep_ids — downstream keep-the-rep
    // dedup then silently RETAINS duplicates. The SQL surface asserts
    // the same fixpoint (assert_true in ccUnrolled); the production path
    // must not be quieter than its mirror.
    require(converged,
      s"component labels did not converge within $maxRounds rounds — " +
        "duplicate-chain diameter exceeds the propagation budget; raise " +
        "maxRounds (cost is one pair-table scan per round)")
    labels
  }

  /** q_dedup_cluster_stats — the observability rollup over the
    * connected-component labels: per cluster (rep_id) its size, how
    * many docs a dedup would drop (size − 1) and the characters those
    * drops reclaim. These are the numbers a production dedup REPORTS
    * before committing a cull — per-cluster drop counts make a
    * mis-banded hash (one giant bogus cluster) visible immediately,
    * where a bare pair count would not. One equi join of the label
    * table to documents(n_chars) + one combining hash aggregate, both
    * over |labeled docs| rows — the duplicate set, not the corpus.
    */
  def dedupClusterStats(s: SparkSession, d: String): DataFrame =
    ccLabelsFor(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy("rep_id")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - 1).as("n_dropped"),
        sum(when(col("doc_id") =!= col("rep_id"), col("n_chars"))
          .otherwise(0L)).as("chars_dropped"))
      .orderBy("rep_id")

  /** Streaming incremental dedup — the q_dedup_incremental shape as a
    * CONTINUOUS query: each arriving document's banded MinHash
    * signature is computed as a STATELESS per-row projection
    * (higher-order array ops over the shingle array; the batch path's
    * explode→hash-agg form is faster per byte but needs a blocking
    * aggregate a stream cannot run — per-row HOFs evaluate interpreted,
    * the price of streamability), then probed against the STATIC
    * historical band index via a stream-static inner join: no streaming
    * state at all — matches emit in Append mode as they arrive, and the
    * historical side is exactly the persisted band table the batch
    * ingest maintains. Same hash math as minhashBanded to the bit
    * (spec-pinned), so batch backfill and live stream agree on every
    * collision. MemoryStream-verified; not in `queries` (streaming
    * runtime, SURVEY §7.4 rule 7).
    */
  def incrementalDedupStream(docs: DataFrame, histBands: DataFrame): DataFrame = {
    val withHs = docs
      .withColumn("tk", split(coalesce(col("text"), lit("")), " "))
      .withColumn("hs", expr(s"transform(array_distinct($shingles), " +
        "s -> md5_prefix64(s))"))
    val sigs = (0 until 16).map(i =>
      expr(s"array_min(transform(hs, h -> h ^ ${MinhashSalts(i)}L))").as(s"sig$i"))
    val bandArr = (0 until 4).map { b =>
      val cols = (0 until 4).map(i => s"CAST(sig${4 * b + i} AS STRING)").mkString(", ")
      s"struct($b AS band, md5(concat_ws('|', $cols)) AS band_key)"
    }.mkString(", ")
    withHs.select(col("doc_id") +: sigs: _*)
      .select(col("doc_id"), explode(expr(s"array($bandArr)")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
      .join(histBands.select(col("doc_id").as("hist_id"),
        col("band"), col("band_key")), Seq("band", "band_key"))
      .select("doc_id", "band", "hist_id")
  }

  /** Streaming decontamination — q_decontaminate as a CONTINUOUS gate,
    * the last curation stage that had no streaming form: every arriving
    * document is scored against the held-out benchmark shingle set
    * BEFORE it reaches the training corpus. Zero streaming state: the
    * doc's distinct shingle hashes are a stateless per-row projection
    * (same md5/conv math as ngramPostings, to the bit), and the
    * benchmark side — bounded by construction, eval suites are a fixed
    * set — is collapsed to ONE static row holding the full hash set,
    * broadcast-cross-joined so n_hits is an array_intersect per row.
    * Per-row verdict ≡ the batch report (spec-pinned): n_hits counts
    * distinct shared shingles, is_clean = (n_hits = 0) is the gate.
    * Emits in Append mode with no watermark. MemoryStream-verified; not
    * in `queries` (streaming runtime, SURVEY §7.4 rule 7).
    */
  def decontaminateStream(docs: DataFrame, benchShingles: DataFrame): DataFrame = {
    val benchArr = broadcast(
      benchShingles.agg(collect_set(col("sh")).as("bench_sh")))
    docs
      .withColumn("tk", split(coalesce(col("text"), lit("")), " "))
      .withColumn("hs", expr(s"transform(array_distinct($shingles), " +
        "s -> md5_prefix64(s))"))
      .crossJoin(benchArr)
      .select(col("doc_id"),
        expr("CAST(size(array_intersect(hs, bench_sh)) AS BIGINT)").as("n_hits"),
        expr("size(array_intersect(hs, bench_sh)) = 0").as("is_clean"))
  }

  /** q_dedup_incremental — incremental dedup of a NEW batch against the
    * HISTORICAL corpus: which incoming docs (source = 'src0', standing in
    * for today's crawl) MinHash-collide with any already-ingested doc
    * (every other source)? Per flagged doc: how many historical dups and
    * the smallest colliding historical id.
    *
    * This is the daily-ingest shape — the full-corpus pair join never
    * reruns; the batch only probes the historical BAND INDEX. One
    * signature pass over the corpus (in production the historical half is
    * a persisted table maintained per ingest, the buildIvfIndex pattern;
    * recomputed here so the oracle can mirror it), then an equi join on
    * (band, band_key): shuffled bytes = 40 B × |bands|, never text.
    * Historical buckets over HotBucketCap are excluded the same way
    * pair generation excludes them — a pathological bucket would fan
    * every colliding batch doc out cap× before the per-doc fold.
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // Pin the banded signatures once: hist, okBuckets and batch all
    // derive from this frame, and without the checkpoint each branch
    // re-runs the full explode→md5→16-min signature subtree over the
    // corpus (the executed plan showed THREE parallel scan+agg towers).
    // 40 B × |bands| of pinned state — linear, and exactly what the
    // persisted historical band index holds in the production shape.
    val banded = minhashBanded(s, d).join(src, "doc_id").pinned()
    val hist = banded.where(col("source") =!= "src0")
      .select(col("doc_id").as("hist_id"), col("band"), col("band_key"))
    val okBuckets = hist.groupBy("band", "band_key")
      .agg(countDistinct(col("hist_id")).as("n_hist"))
      .where(col("n_hist") <= HotBucketCap)
      .select("band", "band_key")
    val batch = banded.where(col("source") === "src0")
      .select(col("doc_id"), col("band"), col("band_key"))
    batch
      .join(okBuckets, Seq("band", "band_key"))
      .join(hist, Seq("band", "band_key"))
      .groupBy("doc_id")
      .agg(countDistinct(col("hist_id")).as("n_hist_dups"),
        min(col("hist_id")).as("first_hist_id"))
      .orderBy("doc_id")
  }

  /** q_dedup_simhash — SimHash near-dup pairs. Per-doc 32-bit SimHash
    * over 3-word SHINGLES (not unigrams — the synthetic corpus's tiny
    * vocabulary makes token-multiset simhashes collapse onto each other;
    * shingle space is ~|V|³ so hashes spread, the same fix web-dedup
    * pipelines apply): bit b (1..32) is the sign of Σ_shingles (±1), +1
    * when bit b-1 of the shingle's 60-bit base hash is set — one
    * codegen'd md5+conv per shingle, reused across all 32 bit-tests,
    * then one hash-agg of 32 conditional sums per doc. 4 bands × 8 bits: by
    * pigeonhole the band join is a COMPLETE candidate generator for
    * Hamming distance ≤ 3; reported pairs are banded candidates with
    * distance ≤ 8 (LSH-then-verify shape — recall tested on planted
    * near-dups in LlmPipelineSpec). Pair generation is bucket-grouped
    * (the dedupMinhashPairs pattern), NOT a self-join: a self-join on
    * the banded frame re-executes the whole explode→md5→32-sum signature
    * subtree once per side; grouping runs it exactly once and keeps the
    * pair explosion bucket-local behind HotBucketCap.
    */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    simhashPairsFromSig(simhashSig(s, d))

  /** SimHash signature substrate (doc_id, simhash) — factored out of
    * dedupSimhash so the overflow report shares the exact signature
    * math with pair generation. One md5 + conv per shingle (the
    * minhashBanded base-hash trick); bit b of the signature is integer
    * bit-test (h >> b) & 1 (the build lives in [[simhashSigRows]]).
    * Read-through over the persisted artifact (ensureSimhashSig), the
    * minhashBanded discipline.
    */
  private[graft] def simhashSig(s: SparkSession, d: String): DataFrame =
    simhashSigMemo(s, s"$d/documents.parquet")(
      ParquetMeta.read(s, ensureSimhashSig(s, d)).select("doc_id", "simhash"))

  private val simhashSigMemo = new SessionMemo[DataFrame]

  /** Pair-generation core for SimHash signatures (doc_id, simhash) —
    * factored out so specs can drive it with synthetic degenerate
    * buckets. Explode each signature into 4 byte-bands, ONE shuffle on
    * (band, bv) collecting (doc_id, simhash) per bucket, pairs + Hamming
    * verification generated bucket-locally, hot buckets (> cap members)
    * dropped.
    */
  private[graft] def simhashPairsFromSig(sh: DataFrame, cap: Int = HotBucketCap): DataFrame = {
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          expr(s"CAST(floor(simhash / pow(256, ${3 - b})) AS BIGINT) % 256").as("bv"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    val buckets = banded.groupBy("band", "bv")
      .agg(expr("array_sort(collect_set(struct(doc_id, simhash)))").as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= cap)
    buckets
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ids) - 2), " +
          "i -> transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "x -> struct(ids[i].doc_id AS doc_a, x.doc_id AS doc_b, " +
          "bit_count(ids[i].simhash ^ x.simhash) AS hamming))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.hamming").as("hamming"))
      .where(col("hamming") <= 8)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Overflow report for the simhash bands — buckets skipped by the cap. */
  private[graft] def simhashBucketOverflow(sh: DataFrame, cap: Int = HotBucketCap): DataFrame =
    sh.select(col("doc_id"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          expr(s"CAST(floor(simhash / pow(256, ${3 - b})) AS BIGINT) % 256").as("bv"))
      }: _*)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.bv").as("bv"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > cap)

  /** #44 q_dedup_near — near-duplicate pairs at shingle-set Jaccard >
    * 1/2 (distance < 0.5), computed end-to-end by the repo's OWN
    * scale-fenced chain (spark.ml's approxSimilarityJoin, whose
    * uncapped in-bucket join was the last quadratic surface and the whole sf10 bench tail, is retired to
    * the spec-only cross-check dedupNearUncollapsed):
    *   1. EXACT-collapse verbatim copies to their min-id
    *      representative (hash-groupBy, linear);
    *   2. banded-MinHash candidates over REPRESENTATIVES only
    *      (minhashPairsFromBanded — one shuffle on (band, band_key),
    *      pairs bucket-local, HotBucketCap fences pathological
    *      buckets);
    *   3. EXACT verify: true shingle-hash Jaccard per candidate (the
    *      dedupVerify core — the re-read is semi-joined to
    *      docs-in-pairs, so verify cost is candidate-set-bounded);
    *   4. re-expand through the copy groups (+ distance-0 intra
    *      pairs).
    * Identical text ⇒ identical signature ⇒ identical buckets, so the
    * expansion reconstructs the whole-corpus result while duplicate
    * mass never reaches pair generation (and can never overflow the
    * bucket cap). RAW-text collapse key, NOT lower(trim(...)): only
    * byte-identical texts are guaranteed identical signatures.
    * Deterministic end-to-end (fixed salts, exact integer Jaccard) —
    * so unlike the spark.ml form this query is fully ORACLE-CHECKED,
    * with the planted-recall and ml-cross-check specs on top.
    */
  private val lastNearHashed =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  def dedupNear(s: SparkSession, d: String): DataFrame = {
    val members = Tables.documents(s, d)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("norm_key"))
    val reps = members.groupBy("norm_key").agg(min("doc_id").as("rep"))
    val docRep = members.join(reps, "norm_key")
      .select(col("doc_id"), col("rep")).pinned()
    // Short-circuit on a duplicate-FREE corpus: when
    // every doc is its own representative the expansion is an identity
    // map and the intra-group pairs are empty, so the re-expansion
    // equi-joins, the corpus-sized intra self-join, and the union are
    // pure overhead — run the verified chain over all docs directly.
    val hasCopies = !docRep.where(col("doc_id") =!= col("rep")).isEmpty
    if (!hasCopies)
      return nearBandedVerified(s, d, None).orderBy("doc_a", "doc_b")
    val repPairs = nearBandedVerified(s, d,
      Some(docRep.where(col("doc_id") === col("rep")).select("doc_id")))
      .pinned()
    // expansion: linear equi-joins on the rep key; intra-group pairs are
    // output-inherent (the whole-corpus chain emits them too)
    val cross = repPairs
      .join(docRep.select(col("rep").as("doc_a"), col("doc_id").as("xa")), "doc_a")
      .join(docRep.select(col("rep").as("doc_b"), col("doc_id").as("xb")), "doc_b")
      .select(least(col("xa"), col("xb")).as("doc_a"),
        greatest(col("xa"), col("xb")).as("doc_b"), col("jaccard_dist"))
    val intra = docRep.as("m1").join(docRep.as("m2"),
        col("m1.rep") === col("m2.rep") && col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("doc_a"), col("m2.doc_id").as("doc_b"),
        lit(0.0).as("jaccard_dist"))
    cross.unionByName(intra).orderBy("doc_a", "doc_b")
  }

  /** The banded-candidate → exact-verify near-dup core over `only` docs
    * (the whole corpus when None): HotBucketCap'd banded-MinHash pair
    * generation (restricting the memoized full-corpus banding is exact —
    * signatures are per-doc), then the dedupVerify exact-Jaccard
    * confirm. The near threshold is decided in exact INTEGERS —
    * 2·|∩| > |∪| ⇔ J > 1/2 ⇔ distance < 0.5 — so no engine ever
    * compares a rounded double at the boundary; the emitted
    * jaccard_dist is the IEEE double 1 − |∩|/|∪| (exactly-rounded ops
    * over exact integers: bit-identical on every engine).
    */
  private[graft] def nearBandedVerified(
      s: SparkSession, d: String, only: Option[DataFrame]): DataFrame = {
    val banded = only match {
      case Some(ids) => minhashBanded(s, d).join(ids, Seq("doc_id"), "left_semi")
      case None => minhashBanded(s, d)
    }
    // inner join on n_inter: a zero-intersection candidate cannot pass
    // J > 1/2, so the left-coalesce of dedupVerify is dead weight here
    pairIntersections(s, d, banded, "inner")
      .where(col("n_inter") * 2 > col("n_a") + col("n_b") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"),
        (lit(1.0) - col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard_dist"))
  }

  /** The spark.ml whole-corpus MinHashLSH join — retained ONLY as the
    * SPEC-ONLY cross-check against the registered banded+verified chain
    * (LlmPipelineSpec: both families must recall every planted
    * near-dup); never registered: approxSimilarityJoin with no
    * within-bucket cap is the documented 100×-corpus OOM casualty
    * (BENCHNOTES r11) and the retired sf10 bench tail.
    */
  private[graft] def dedupNearUncollapsed(s: SparkSession, d: String): DataFrame =
    nearLshJoin(withTk(Tables.documents(s, d))
      .select(col("doc_id"), expr(s"array_distinct($shingles)").as("tokens")))

  /** q_dedup_near_collapsed — q_dedup_near's rep-level form WITHOUT the
    * expansion: EXACT dedup first (verbatim copies collapse to their
    * min-id representative — linear hash-groupBy), then the capped
    * banded-candidate + exact-verify chain over representatives only.
    * This is the production decision surface (a dedup KEEPS one doc per
    * near-group; partners of a dropped copy are noise), and collapse-
    * first is what makes any LSH family survive duplicate-heavy
    * corpora: duplicate mass never reaches pair generation, so it can
    * neither explode a bucket nor overflow the cap. Same output shape
    * as q_dedup_near, restricted to representatives; oracle-checked.
    */
  def dedupNearCollapsed(s: SparkSession, d: String): DataFrame = {
    // raw-text collapse (the dedupNear rule): only byte-identical texts
    // have provably identical shingle sets/signatures
    val reps = Tables.documents(s, d)
      .groupBy(md5(coalesce(col("text"), lit(""))).as("norm_key"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    nearBandedVerified(s, d, Some(reps)).orderBy("doc_a", "doc_b")
  }

  /** The MinHashLSH near-dup join over a (doc_id, tokens) frame —
    * shared by the full-corpus and collapse-first forms above.
    * Shingle sets, not raw token sets: the synthetic corpus has a tiny
    * vocabulary, so every long doc contains nearly every token and
    * token-set Jaccard degenerates to ~1 for all pairs. 3-word shingles
    * (~|V|^3 space) keep the LSH join selective — the same choice real
    * web-dedup pipelines make.
    */
  private def nearLshJoin(docs: DataFrame): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("features")
      .setNumFeatures(1 << 18)
    val feats = tf.transform(docs)
      .where(expr("size(tokens) > 0"))
    // 3 OR-ed tables: at the 0.5 distance threshold a planted near-dup
    // (Jaccard ~0.88) misses all three with p ≈ 0.12³ ≈ 1.7e-3 (recall
    // pinned by the planted-dup spec), and each dropped table removes one
    // explode+shuffle from the join fan-out.
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(3).setSeed(42L)
    val model = lsh.fit(feats)
    // Transform ONCE and cache: approxSimilarityJoin skips its internal
    // transform when the hash column is already present, so without this
    // the HashingTF+MinHash subtree executes once per join side. The cache
    // must outlive this method (the caller materializes the returned lazy
    // frame), so each call evicts the previous call's cache instead —
    // bounding the session's cache footprint at one signature table.
    val hashed = model.transform(feats).cache()
    // best-effort eviction of the previous call's cache: single-flight
    // usage assumed (interleaving two un-materialized dedupNear frames
    // would evict the first's cache early — correct, just slower). Try:
    // the previous frame may belong to an already-stopped session.
    Option(lastNearHashed.getAndSet(hashed))
      .foreach(p => scala.util.Try(p.unpersist(blocking = false)))
    model.approxSimilarityJoin(hashed, hashed, 0.5, "jaccard_dist")
      .select(col("datasetA.doc_id").as("doc_a"), col("datasetB.doc_id").as("doc_b"),
        col("jaccard_dist"))
      .where(col("doc_a") < col("doc_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** q_dedup_ngram — exact n-gram Jaccard over an inverted index:
    * ONE shuffle on the shingle collects each posting list, pairs are
    * generated list-locally (the same bucket-grouped pattern as the LSH
    * generators — a two-sided self-join shuffles the index twice and
    * routes the same df² rows to the same partition anyway), then
    * J = |∩| / (|A| + |B| − |∩|). Top-100 pairs by (J desc, doc_a,
    * doc_b) — total order, deterministic. Posting lists are df-capped at
    * NgramDfCap (mirrored in the oracle's HAVING): a stopword-like
    * shingle appearing in k docs otherwise emits O(k²) bucket-local
    * pairs — at 100 TB one such shingle is a quadratic explosion, the
    * exact failure mode HotBucketCap closes for the LSH families. The
    * cap makes |∩| a lower bound (contributions from over-cap shingles
    * are dropped — the C4/RefinedWeb df-cap mitigation); denominators
    * |A|, |B| stay exact. ngramDfOverflow reports the dropped shingles
    * so a pipeline can alert instead of silently losing recall.
    */
  private[graft] val NgramDfCap = 100

  def dedupNgram(s: SparkSession, d: String): DataFrame =
    ngramPairsFromPostings(ngramPostings(s, d))

  /** Inverted-index rows (doc_id, sh): one row per (doc, distinct
    * shingle), keyed by the shingle's 60-bit base hash, not the shingle
    * string — the posting-list shuffle then exchanges 8 B per (shingle,
    * doc) instead of the shingle text; at 100 TB the string key makes
    * shuffled bytes ≈ 3× corpus size. |∩| over hashed shingles equals
    * |∩| over strings modulo 60-bit collisions — the same risk every
    * fingerprint column here accepts.
    */
  private[graft] def ngramPostings(s: SparkSession, d: String): DataFrame =
    ngramPostingsMemo(s, s"$d/documents.parquet")(
      ParquetMeta.read(s, ensureNgramPostings(s, d)).select("doc_id", "sh"))

  /** Session memo for the inverted-index scan: SEVEN registry queries
    * consume these rows (ngram/collapsed-jaccard pairs, boilerplate,
    * source overlap, the three decontamination forms), and the
    * decontamination family reads them on TWO plan branches (benchmark
    * + train) — unmemoized, each consumer would re-run the ensure's
    * manifest listing per call. The rows themselves come from the
    * PERSISTED postings artifact (ensureNgramPostings — the job a
    * 100 TB lake runs once at ingest), so the memo holds a plain
    * parquet scan, not pinned blocks.
    */
  private val ngramPostingsMemo = new SessionMemo[DataFrame]

  /** Jaccard-pair core over inverted-index rows (doc_id, sh) — factored
    * out so specs can drive it with a planted degenerate shingle.
    * Posting lists longer than `cap` are excluded from intersection
    * counting entirely (df-cap).
    */
  private[graft] def ngramPairsFromPostings(docSh: DataFrame, cap: Int = NgramDfCap): DataFrame = {
    val sizes = docSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // pair generation as TWO chained explodes (each codegen'd in
    // GenerateExec) + a doc_a < doc_b filter: emits df² rows where the
    // nested transform-lambda form emits df²/2, but the lambdas evaluate
    // interpreted (one closure dispatch per struct) and benched slower
    // than twice the codegen'd row volume
    val inter = docSh.groupBy("sh")
      .agg(expr("array_sort(collect_set(doc_id))").as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= cap)
      .select(col("ids"), explode(col("ids")).as("doc_a"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  /** Overflow report: shingle hashes whose document frequency exceeds the
    * df-cap (and were therefore excluded from intersection counting).
    * Empty on healthy corpora — the minhashBucketOverflow pattern.
    * df = DISTINCT docs, matching the cap's size(collect_set(doc_id))
    * exactly — a raw row count would disagree with the cap whenever
    * (doc, sh) rows duplicate (intra-doc hash collision), reporting
    * recall loss that didn't happen.
    */
  private[graft] def ngramDfOverflow(docSh: DataFrame, cap: Int = NgramDfCap): DataFrame =
    docSh.groupBy("sh")
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") > cap)

  /** A shingle present in more than this many documents counts as
    * boilerplate for q_boilerplate_score (template headers, navigation
    * chrome, license blurbs — the C4/RefinedWeb line-dedup target,
    * expressed over shingles because the synthetic corpus has no line
    * structure).
    */
  private[graft] val BoilerplateDfCap = 20

  /** q_boilerplate_score — per-document boilerplate share: the ppm of a
    * doc's shingle rows whose corpus-wide document frequency exceeds
    * BoilerplateDfCap. The pre-filter signal for template/chrome removal
    * (a doc that is mostly high-df shingles is navigation or a license
    * page, not content) — the corpus-level complement of the intra-doc
    * q_text_repetition score. Plan: both the df aggregate and the
    * join-back scan the persisted postings artifact, df is one
    * combining aggregate, the join-back shuffles 16 B rows on the
    * shingle hash. Exact integer ppm — fully oracle-checked.
    */
  def boilerplateScore(s: SparkSession, d: String): DataFrame = {
    val postings = ngramPostings(s, d)
    val dfs = postings.groupBy("sh")
      .agg(countDistinct(col("doc_id")).as("df"))
    postings.join(dfs, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") > BoilerplateDfCap, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_sh"), col("n_common"),
        expr("n_common * 1000000 DIV n_sh").as("common_ppm"))
      .orderBy("doc_id")
  }

  /** PII detector patterns for q_pii_scan — deliberately engine-neutral
    * regex (character classes only, `[.]` instead of an escaped dot, no
    * lookaround) so the Java regex the Spark form runs and the RE2 the
    * DuckDB mirror runs cannot disagree; both count non-overlapping
    * matches.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private[graft] val LongNumberRe = "[0-9]{6,}"

  /** q_pii_scan — per-document PII screen: counts of email addresses
    * and long digit runs (phone/account/SSN shapes) plus the has_pii
    * flag a privacy filter drops on. Every serious public-web training
    * pipeline runs this pass (C4 strips lines by such patterns). Pure
    * per-row projection — mapper-only, no shuffle except the output
    * sort; at 100 TB this pass is scan-bound, exactly as it should be.
    * The synthetic corpus contains no PII (the spec plants fixtures to
    * prove the counting), so the oracle gate here certifies engine
    * regex parity at corpus scale.
    */
  def piiScan(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .select(col("doc_id"),
        expr(s"CAST(regexp_count(t, '$EmailRe') AS BIGINT)").as("n_emails"),
        expr(s"CAST(regexp_count(t, '$LongNumberRe') AS BIGINT)").as("n_long_numbers"))
      .withColumn("has_pii", col("n_emails") + col("n_long_numbers") > 0)
      .orderBy("doc_id")

  /** q_pii_redact — the ACTION the scan gates: emails and long digit
    * runs replaced with typed placeholders (emails first, so digits
    * inside an address are consumed by <EMAIL> and never double-masked).
    * Output carries the redacted text itself plus the replacement count
    * — the form a privacy-compliant export writes. Same engine-neutral
    * patterns as q_pii_scan; mapper-only. DuckDB's regexp_replace is
    * first-match-only by default, so the mirror passes the 'g' flag to
    * match Spark's replace-all semantics.
    */
  def piiRedact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .select(col("doc_id"),
        expr(s"regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>'), " +
          s"'$LongNumberRe', '<NUMBER>')").as("redacted"),
        expr(s"CAST(regexp_count(t, '$EmailRe') + regexp_count(t, '$LongNumberRe') AS BIGINT)")
          .as("n_redactions"))
      .orderBy("doc_id")

  /** q_compression_ratio — DEFLATE compressibility as a curation
    * signal: ratio_ppm = compressed bytes · 10⁶ DIV raw bytes.
    * Template/boilerplate spam deflates to a small fraction of its raw
    * size, healthy prose sits in a mid band, and binary noise doesn't
    * deflate at all — gating on this band is a standard move in public
    * web-corpus curation recipes. Runs on the native `gzip_size`
    * expression (functions/GzipSize: codegen'd static call, O(8 KiB)
    * memory regardless of document size — the deflate dominates, not
    * dispatch). Mapper-only, no shuffle. No DuckDB oracle — the
    * engine has no deflate surface — so this joins the rows-only set:
    * determinism and monotonicity are spec-pinned, and the SQL front
    * door resolves the same registered function.
    */
  def compressionRatio(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("CAST(octet_length(CAST(coalesce(text, '') AS BINARY)) AS BIGINT)")
          .as("n_bytes"),
        expr("gzip_size(CAST(coalesce(text, '') AS BINARY))").as("gzip_bytes"))
      .select(col("doc_id"), col("n_bytes"), col("gzip_bytes"),
        expr("gzip_bytes * 1000000 DIV greatest(n_bytes, 1)").as("ratio_ppm"))
      .orderBy("doc_id")

  // ----------------------------------------------------------- embeddings
  /** Fixed-point quantization of the FLOAT[64] embedding: q = round(x *
    * 1000) as long. Dot/norm sums are then exact integers.
    */
  private val quant =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
  private val quantDuck =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** Codegen'd exact integer dot (functions/ArrayDotLong; registered at
    * session acquisition by the Verify/Bench/Probe mains and the test
    * session, or by spark.sql.extensions=GraftExtensions in production):
    * Σ aᵢ·bᵢ over array<bigint>. Long addition is
    * associative, so the value is bit-identical to the interpreted
    * `aggregate(zip_with(...))` form it replaces — oracles unchanged —
    * while the per-pair inner loop runs inside whole-stage codegen
    * (one closure dispatch per ELEMENT per pair before, dominating the
    * blocked cosine joins).
    */
  private def dotL(a: String, b: String) = s"array_dot_l($a, $b)"


  /** Candidate-block substrate for q_dedup_embed: each embedding row
    * with its label, milli-quantized vector, exact squared norm, and the
    * deterministic sign-LSH bucket from the shared [[LshPlanes]] — the
    * same planes q_sim_search_lsh probes, so the block key is
    * data-independent and oracle-exact on both engines. Read-through
    * over the persisted artifact (ensureEmbedBucketed, keyed on the
    * embeddings manifest), the minhashBanded discipline.
    */
  private[graft] def embedBucketed(s: SparkSession, d: String): DataFrame =
    embedBucketedMemo(s, s"$d/embeddings.parquet")(
      ParquetMeta.read(s, ensureEmbedBucketed(s, d))
        .select("vec_id", "label", "q", "n2", "bucket"))

  private val embedBucketedMemo = new SessionMemo[DataFrame]

  /** Pair-generation core for bucketed embeddings (vec_id, label, q, n2,
    * bucket) — the minhashPairsFromBanded discipline applied to the
    * embedding blocks: ONE shuffle on (label, bucket) collecting each
    * block's members, pairs generated inside the block, blocks over
    * `cap` excluded entirely (embedBucketOverflow reports them). Exact
    * integer cosine is the verify stage — candidates never leave the
    * block, so one Zipf-heavy label can no longer go quadratic: worst
    * case is cap·(cap−1)/2 pairs per (label, bucket). Factored out so
    * specs can drive it with a synthetic degenerate block.
    */
  private[graft] def embedPairsFromBucketed(b: DataFrame, cap: Int = HotBucketCap): DataFrame =
    b.groupBy("label", "bucket")
      .agg(expr("array_sort(collect_list(struct(vec_id, q, n2)))").as("ms"))
      .where(size(col("ms")) > 1 && size(col("ms")) <= cap)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ms) - 2), " +
          "i -> transform(slice(ms, i + 2, size(ms) - i - 1), " +
          "x -> struct(ms[i].vec_id AS vec_a, x.vec_id AS vec_b, " +
          "array_dot_l(ms[i].q, x.q) AS dp, ms[i].n2 AS n2a, x.n2 AS n2b))))")).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        (col("p.dp").cast("double") /
          sqrt(col("p.n2a").cast("double") * col("p.n2b").cast("double"))).as("cos"))

  /** Overflow report: (label, bucket) blocks whose membership exceeds
    * the cap (and were therefore skipped by pair generation). Empty on
    * healthy corpora — the minhashBucketOverflow pattern.
    */
  private[graft] def embedBucketOverflow(b: DataFrame, cap: Int = HotBucketCap): DataFrame =
    b.groupBy("label", "bucket")
      .agg(count(lit(1)).as("n_vecs"))
      .where(col("n_vecs") > cap)

  /** Semantic-duplicate cosine threshold τ = 0.95 as an exact rational:
    * cos ≥ τ ⟺ dot > 0 ∧ dot²·[[SemTauDen]] ≥ [[SemTauNum]]·n2a·n2b —
    * decided in DECIMAL(38,0) (dot²·10⁴ reaches ~4e19, past BIGINT), so
    * no engine ever compares a rounded double at the boundary.
    */
  private[graft] val SemTauNum = 9025L // 0.95² · 10⁴
  private[graft] val SemTauDen = 10000L

  /** Cosine-thresholded pair generation over bucketed embeddings — the
    * embedPairsFromBucketed machinery with the verify folded in: blocks
    * on the sign-LSH bucket ALONE (semantic clusters ignore the label;
    * near-parallel vectors agree on every plane w.h.p.), caps blocks,
    * and emits only pairs at cos ≥ τ, decided in exact integers.
    */
  private[graft] def semanticPairsFromBucketed(b: DataFrame, cap: Int = HotBucketCap): DataFrame =
    b.groupBy("bucket")
      .agg(expr("array_sort(collect_list(struct(vec_id, q, n2)))").as("ms"))
      .where(size(col("ms")) > 1 && size(col("ms")) <= cap)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ms) - 2), " +
          "i -> transform(slice(ms, i + 2, size(ms) - i - 1), " +
          "x -> struct(ms[i].vec_id AS vec_a, x.vec_id AS vec_b, " +
          "array_dot_l(ms[i].q, x.q) AS dp, ms[i].n2 AS n2a, x.n2 AS n2b))))")).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        col("p.dp").as("dp"), col("p.n2a").as("n2a"), col("p.n2b").as("n2b"))
      .where(col("dp") > 0 && expr(
        s"CAST(dp AS DECIMAL(38,0)) * CAST(dp AS DECIMAL(38,0)) * $SemTauDen >= " +
          s"$SemTauNum * CAST(n2a AS DECIMAL(38,0)) * CAST(n2b AS DECIMAL(38,0))"))
      .select("vec_a", "vec_b")

  /** Overflow report for the semantic pair generator: sign-LSH buckets
    * whose membership exceeds the cap and were therefore skipped by
    * pair generation (conservative — every member keeps). Empty on
    * healthy corpora — the minhashBucketOverflow pattern, bucket-only
    * key because semantic clusters ignore the label.
    */
  private[graft] def semanticBucketOverflow(b: DataFrame, cap: Int = HotBucketCap): DataFrame =
    b.groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"))
      .where(col("n_vecs") > cap)

  /** q_dedup_semantic — SemDeDup-style semantic deduplication DECISION
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, prune near-duplicate members within each cluster, keep ONE
    * representative per semantic group. Where q_dedup_embed REPORTS
    * ranked pairs, this emits the keep/drop verdict a curation pipeline
    * acts on — the embedding-space analogue of q_dedup_exact's keep_id.
    * Spark-first re-expression of the paper's recipe, fully
    * oracle-exact: the cluster step is the deterministic sign-LSH
    * bucketing (data-independent, both engines literal-identical —
    * k-means cells would be RNG-bound), the within-cluster prune is the
    * capped block-local pair generation at cos ≥ 0.95 decided in exact
    * integers, and keep-one is TRANSITIVE — connected components over
    * the τ-pairs (the q_dedup_cc discipline: pairwise keep-the-min
    * retains both ends of an A~B~C chain), rep = min vec_id. Output:
    * every vector with its rep and the keep flag. On the synthetic
    * fixture no pair reaches τ (max corpus cosine 0.51), so every row
    * keeps — the planted-cluster spec drives the collapse path, the
    * q_dedup_phash precedent. Scale: one shuffle on bucket, pairs
    * block-local and capped, cc over the duplicate set only.
    */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val pairs = semanticPairsPinned(s, d)
    val labels =
      if (pairs.isEmpty) null // cc over zero edges: every vec is its own rep
      else ccLabels(pairs)
    val base = Tables.embeddings(s, d).select(col("vec_id"))
    val out =
      if (labels == null) base.withColumn("rep_id", col("vec_id"))
      else base.join(labels.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
    out.select(col("vec_id"), col("rep_id"),
        (col("rep_id") === col("vec_id")).as("keep"))
      .orderBy("vec_id")
  }

  /** The τ-pair edge set for dedupSemantic, PINNED (eager lineage-cut
    * materialization) BEFORE any consumer — the dedupNear :567 pattern.
    * Without the pin the emptiness probe runs the bucket shuffle +
    * block-local pair explode once, then ccLabels' edge pin re-executes
    * the same unpinned subtree — a guaranteed 2× on the query's
    * dominant stage. Factored and `private[graft]` so the spec can pin
    * the contract: the returned plan is a lineage-cut scan (the bucket
    * exchange already executed, exactly once) and every downstream
    * consumer — the isEmpty probe, ccLabels' symmetrized edge pin —
    * reads the checkpoint blocks, never the subtree.
    */
  private[graft] def semanticPairsPinned(s: SparkSession, d: String): DataFrame =
    semanticPairsFromBucketed(embedBucketed(s, d))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      .pinned()

  /** q_dedup_embed — embedding near-dup pairs: candidates from
    * (label, sign-LSH bucket) blocks — the label narrows to a class, the
    * deterministic hyperplane bucket keeps one Zipf-heavy label from
    * going quadratic (real corpora are Zipfian in label; an uncapped
    * within-label self-join is the r11 hot-bucket failure mode) — then
    * exact integer cosine as the verify stage, top-100 by (cos desc, a,
    * b). Blocks over HotBucketCap are dropped with an overflow report,
    * the standard web-dedup mitigation every sibling pair generator
    * applies. Near-parallel vectors agree on every plane w.h.p., so the
    * blocking loses only far pairs.
    */
  def dedupEmbed(s: SparkSession, d: String): DataFrame =
    embedPairsFromBucketed(embedBucketed(s, d))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(100)

  /** q_dedup_overflow_report — the caps, visible through the SQL front
    * door: one row per hot block a capped pair
    * generator SKIPPED, unioned across the five bucketed dedup families
    * (minhash bands, simhash bands, ngram df-cap postings, embed
    * (label, bucket) blocks, semantic buckets) with a family tag. A
    * production curation run reads this table to learn exactly what
    * recall its caps traded away — the reference reports what it drops
    * rather than acting silently (under-replication surfacing at
    * `controller/FileTable.java:41-52`, public GitHub). Keys are
    * stringified so heterogeneous block keys union into one relation;
    * single-key families carry '' as key2. Empty on healthy corpora and
    * on the fixtures — the oracle runs the same five group-count
    * mirrors in DuckDB, and the planted-hot-block spec drives each
    * family's non-empty path. Scale: five independent hash-aggregates
    * over substrates that are already memoized/pinned for their sibling
    * queries — no pair generation anywhere.
    */
  def dedupOverflowReport(s: SparkSession, d: String): DataFrame = {
    val eb = embedBucketed(s, d)
    val mh = minhashBucketOverflow(minhashBanded(s, d))
      .select(lit("minhash").as("family"), col("band").cast("string").as("key1"),
        col("band_key").cast("string").as("key2"), col("n_docs").as("n_members"))
    val sh = simhashBucketOverflow(simhashSig(s, d))
      .select(lit("simhash").as("family"), col("band").cast("string").as("key1"),
        col("bv").cast("string").as("key2"), col("n_docs").as("n_members"))
    val ng = ngramDfOverflow(ngramPostings(s, d))
      .select(lit("ngram").as("family"), col("sh").cast("string").as("key1"),
        lit("").as("key2"), col("df").as("n_members"))
    val em = embedBucketOverflow(eb)
      .select(lit("embed").as("family"), col("label").cast("string").as("key1"),
        col("bucket").cast("string").as("key2"), col("n_vecs").as("n_members"))
    val se = semanticBucketOverflow(eb)
      .select(lit("semantic").as("family"), col("bucket").cast("string").as("key1"),
        lit("").as("key2"), col("n_vecs").as("n_members"))
    mh.unionByName(sh).unionByName(ng).unionByName(em).unionByName(se)
      .orderBy("family", "key1", "key2")
  }

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

  /** 4 deterministic random hyperplanes for sign-LSH over the 64-dim
    * embeddings: integer weights in [-1000, 1000] from splitmix64 of the
    * (plane, dim) index — literals on both engines, so the bucketing is
    * oracle-exact (no RNG state to mirror).
    */
  private[graft] val LshPlanes: Seq[Seq[Long]] = {
    def splitmix64(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until 4).map(p => (0 until 64).map { i =>
      math.floorMod(splitmix64((p * 64 + i).toLong), 2001L) - 1000L
    })
  }

  // ---- hyperplane-LSH signature builders: ONE source per dialect.
  // Four Scala query builders and five oracle entries derive bucket /
  // flip from these; hand-copies could silently desynchronize bucket
  // assignment between a query, its recall audit, and its oracle (the
  // collapse-key drift class). `dot` is injected so callers choose
  // between inlining the dot per plane and referencing precomputed
  // d0..d3 columns.
  private def lshPlaneDot(p: Int): String =
    dotL("q", s"array(${LshPlanes(p).map(w => s"${w}L").mkString(", ")})")

  private def lshPlaneDotDuck(p: Int): String =
    s"CAST(list_sum(list_transform(list_zip(q, [${LshPlanes(p).mkString(", ")}]), " +
      "p -> p[1] * p[2])) AS BIGINT)"

  private def lshBucketExpr(dot: Int => String): String =
    (0 until 4).map(p => s"(CASE WHEN ${dot(p)} >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")

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
    val b = e.withColumn("bucket", expr(lshBucketExpr(lshPlaneDot)).cast("int"))
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
    val perBucket = e.withColumn("bucket", expr(lshBucketExpr(lshPlaneDot)).cast("int"))
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
    * training samples/aggregates per-partition (k·dim state), assignment
    * is a projection carrying the k centroids, bucket scan shrinks the probed set
    * ~k×.
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
    * (LlmPipelineSpec). mllib persists its own training RDD across the
    * init and Lloyd passes and drops it before returning. As spark.ml's
    * fit does, a null vector or a null, NaN or infinite value fails the
    * fit: embeddings come from outside the program.
    */
  private[graft] def ivfFit(df: DataFrame, k: Int): KMeansModel = {
    val fv = col("fv")
    val checked =
      when(fv.isNull, raise_error(lit("Vectors MUST NOT be Null")))
        .when(exists(fv, x => x.isNull || isnan(x) || abs(x) === Double.PositiveInfinity),
          raise_error(concat(lit("Vector values MUST NOT be NaN or Infinity, but got "),
            fv.cast("string"))))
        .otherwise(fv)
    new KMeans().setK(k).setSeed(42L).setMaxIterations(5)
      .run(df.select(checked).rdd.map(r => Vectors.dense(r.getSeq[Double](0).toArray)))
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
    // no pin: mllib persists its own training input, and the scan
    // runs three times (the fit, the assignments, the stats)
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
    // the split ADOPTS the appends: every row re-baselines as base
    val newAsg = parts.reduce(_ unionByName _)
      .withColumn("appended", lit(false))
      .pinned() // consumed twice: the table + the fresh baseline row
    newAsg.write.mode("overwrite").parquet(s"$tmp/assignments")
    val keptCents = cents.where(!col("cent_id").isin(retired.map(Int.box): _*))
      .unionByName(newCents.toDF("cent_id", "center"))
      .pinned() // consumed twice: the stats join + the table write
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
          .pinned()) // consumed twice: assignment rows + the staleness row
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

  // ------------------------------------------------------- text analysis
  /** #46 q_text_tokens — top-5 tokens per lang by (count desc, token
    * asc): explode → two-phase count → per-lang window rank.
    */
  def textTokens(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok").asc)
    Tables.documents(s, d)
      .select(col("lang"), explode(expr(toks)).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select("lang", "rn", "tok", "n")
      .orderBy("lang", "rn")
  }

  /** #47 q_text_stats — per-source corpus stats. The mean is emitted as
    * exact integer micro-units (sum × 10⁶ DIV count) instead of an IEEE
    * quotient: round-1's double `avg_chars` hash-mismatched the driver
    * gate (and DuckDB's bare sum(n_chars) is HUGEINT, which the gate
    * reads as float64 — hence the explicit BIGINT casts in the oracle).
    * Long arithmetic is exact while a group's char sum stays < 2⁶³/10⁶
    * (~9 TB of text per source); beyond that, widen to DECIMAL(38,0).
    */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("sum(n_chars) * 1000000 DIV count(n_chars)").as("avg_chars_micros"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")

  /** Stopword profiles for the language-ID heuristic (marker tokens per
    * language; CJK handled by a codepoint-class count).
    */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "un"),
  )

  /** q_text_langid — n-gram/marker-token language ID: score = marker-
    * token hits per language profile (with multiplicity) + CJK codepoint
    * count for zh; prediction = argmax, ties broken by lang name. A
    * single codegen'd projection — the 100 TB plan is a mapper-only
    * scan, no shuffle before the final order.
    */
  def textLangid(s: SparkSession, d: String): DataFrame = {
    def hits(words: Seq[String]): String = {
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"CAST(size(filter($toks, t -> array_contains(array($lst), t))) AS BIGINT)"
    }
    val scoreCols = profiles.map { case (lang, ws) => expr(hits(ws)).as(s"s_$lang") } :+
      expr("CAST(regexp_count(text, '[\\\\x{4e00}-\\\\x{9fff}]') AS BIGINT)").as("s_zh")
    val scored = Tables.documents(s, d).select(col("doc_id") +: col("lang") +: scoreCols: _*)
    val langs = profiles.map(_._1) :+ "zh"
    val best = langs.map(l => s"s_$l").reduce((a, b) => s"greatest($a, $b)")
    val pred = langs.foldRight("'und'") { (l, acc) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $acc END"
    }
    scored.withColumn("best", expr(best))
      .withColumn("pred_lang", expr(pred))
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("best").as("score"))
      .orderBy("doc_id")
  }

  /** q_text_quality — heuristic quality score from length, stopword
    * ratio, and mean token length (all ratios are int/int double
    * divisions — engine-exact). Formula mirrors C4/Gopher-style length +
    * stopword gates.
    */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    val stop = profiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    Tables.documents(s, d)
      .withColumn("n_tokens", expr(s"CAST(size($toks) AS BIGINT)"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter($toks, t -> array_contains(array($stop), t))) AS BIGINT)"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("avg_tok_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("quality",
        expr("least(CAST(n_tokens AS DOUBLE) / 100, CAST(1 AS DOUBLE)) * 0.4") +
          col("stop_ratio") * 0.3 +
          expr("least(avg_tok_len / 8, CAST(1 AS DOUBLE)) * 0.3"))
      .select("doc_id", "n_tokens", "n_stop", "stop_ratio", "avg_tok_len", "quality")
      .orderBy("doc_id")
  }

  /** q_text_token_count — whitespace token count + a BPE-ish subword
    * count (runs of ≤4 letters: every [a-z]{1,4} match is one
    * "subword"), + char count.
    */
  def textTokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr(s"CAST(size($toks) AS BIGINT)").as("ws_tokens"),
        expr("CAST(regexp_count(text, '[a-z]{1,4}') AS BIGINT)").as("bpe_ish_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  /** Result width of the q_ngram_counts frequency table. */
  private[graft] val NgramTopK = 50

  /** q_ngram_counts — corpus-level token-bigram frequency table, top-50
    * by (count desc, bigram asc): the statistics pass every LM-based
    * quality filter starts from (KenLM-style perplexity filters score
    * against exactly these corpus n-gram counts, and the CCNet/Gopher
    * pipelines publish them as corpus diagnostics). Bigrams come from a
    * zip_with over the token array with itself shifted by one — a
    * mapper-only projection, no self-join — then ONE combining hash
    * aggregate (map-side partial, so the shuffle carries per-partition
    * distinct bigrams, not corpus token count) and a
    * TakeOrderedAndProject top-k (per-partition heads only — the global
    * sort never materializes). At 100 TB this is the word-count shape:
    * scan + combine + k-row result. Vocabulary growth is sublinear
    * (Heaps' law), and the df-style long tail stays distributed in the
    * aggregate — no driver-side frequency table anywhere.
    */
  def ngramCounts(s: SparkSession, d: String): DataFrame =
    withTk(Tables.documents(s, d)
      .select(coalesce(col("text"), lit("")).as("text")))
      .select(explode(expr(
        "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), " +
          "(a, b) -> concat(a, ' ', b))")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(NgramTopK)

  /** q_bpe_pairs — tokenizer induction, the first BPE merge iteration:
    * corpus-wide adjacent CHARACTER-pair frequencies inside whitespace
    * tokens, top-50 by count (total order: count desc, pair asc). The
    * most frequent pair is exactly the first merge byte-pair encoding
    * would learn (Sennrich et al. 2016, the algorithm behind every
    * production LLM tokenizer) — and training a tokenizer over a
    * 100 TB corpus starts with precisely this distributed count. Plan:
    * two chained codegen'd explodes (token, then position window) into
    * ONE combining hash aggregate — the pair vocabulary is bounded by
    * charset² regardless of corpus size, so the shuffle carries
    * per-partition distincts of a tiny key space and the top-k compiles
    * to TakeOrderedAndProject. The ≥2-char guard runs on BOTH engines
    * before the position sequence: Spark's sequence(1, 0) would emit a
    * DESCENDING [1, 0] (the q_chunk_split trap), DuckDB's an empty
    * list — guarded, neither form is ever built.
    */
  def bpePairs(s: SparkSession, d: String): DataFrame =
    withTk(Tables.documents(s, d)
      .select(coalesce(col("text"), lit("")).as("text")))
      .select(explode(col("tk")).as("w"))
      .where(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(50)

  private[graft] val BpeIters = 3
  // Symbol wrappers for the BPE merge state: every symbol is stored as
  // \u0001 symbol \u0002, so a merge's search pattern
  // \u0001 lhs \u0002\u0001 rhs \u0002 (a) can never match across a symbol
  // boundary (the wrapper chars anchor both ends) and (b) adjacent
  // occurrences never share characters, so ANY leftmost-nonoverlapping
  // replace — Spark's UTF8String.replace and DuckDB's replace() alike —
  // applies exactly the canonical greedy left-to-right BPE merge in one
  // pass, same-symbol runs included ("aaaaa" → "aa aa a", never the
  // shared-delimiter under-merge a space-joined encoding produces).
  private val BpeL = "\u0001"
  private val BpeR = "\u0002"

  /** q_bpe_train — multi-iteration BPE training (the q_bpe_pairs loop
    * run to depth [[BpeIters]]): learn the first K merges of a byte-pair
    * encoder (Sennrich et al. 2016) over whitespace tokens, emitting the
    * merge table (iter, lhs, rhs, n). Iteration i counts adjacent
    * SYMBOL pairs (symbols start as characters and grow by merging),
    * picks the winner under the total order (count desc, lhs asc, rhs
    * asc), and rewrites every occurrence greedily left-to-right — the
    * algorithm every production tokenizer trainer runs before an LLM
    * sees a byte of data.
    *
    * Scale design (the 100 TB story): the corpus is first collapsed to
    * the DISTINCT-word frequency table — Heaps'-law sublinear in corpus
    * size, the standard trick every BPE trainer uses — and that table is
    * pinned once ([[Pin.pin]]); all K iterations run over it, never over
    * the corpus. Each iteration is one combining hash aggregate over the
    * bounded symbol-pair vocabulary plus a broadcast of the 1-row winner
    * (crossJoin(broadcast) — the merge is applied executor-side; the
    * driver never holds the state). Each rewritten state is re-pinned so
    * iteration i+1's aggregate reads a materialized input instead of
    * re-running the whole replace chain, mirroring the per-iteration
    * materialization of distributed BPE trainers. Reference analogue:
    * the chunk-content checksum sweep (ChunkCorruptionMonitor.java:31-75)
    * — a repeated full pass deriving a compact table from bulk payloads.
    */
  def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeLoopFor(s, d)._1.reduce(_.unionAll(_)).orderBy("iter")

  /** The training loop's pinned frames are a per-corpus substrate:
    * train emits the merges, apply re-reads the final state, and both
    * chains are materialized by [[Pin.pin]] — so the second consumer
    * (whichever runs later) should pay a memo hit, not a second
    * corpus aggregate + K rewrite passes.
    */
  private val bpeLoopMemo = new SessionMemo[(Seq[DataFrame], DataFrame)]

  private def bpeLoopFor(s: SparkSession, d: String): (Seq[DataFrame], DataFrame) =
    bpeLoopMemo(s, s"$d/documents.parquet")(bpeLoop(s, d))

  /** The shared [[BpeIters]]-deep training loop: returns the per-iter
    * 1-row merge frames (train's output) and the final rewritten word
    * state (apply's input). Both consumers pay the same pinned plan.
    * Every state pins (pinEvery = 1) and exhaustion is NOT special-
    * cased, keeping the registered queries' behavior byte-identical to
    * their chained-CTE oracles (an exhausted b_i empties s_i in both).
    */
  private def bpeLoop(s: SparkSession, d: String): (Seq[DataFrame], DataFrame) =
    bpeLoopDeep(s, d, BpeIters, pinEvery = 1, stopWhenExhausted = false)

  /** Depth-K BPE training (the chained pinned-plan pattern past toy
    * depth). Realistic tokenizer training runs K in
    * the tens of thousands; what changes at depth is LOOP MECHANICS,
    * not per-iteration semantics:
    *   - `pinEvery`: localCheckpoint the word state every N merges
    *     instead of every merge. Between pins the plan accretes ≤ N
    *     replace steps (cheap over the Heaps-bounded distinct-word
    *     table); each pin cuts lineage back to O(1), so plan size and
    *     driver overhead stay constant in K instead of growing with it.
    *     The 1-row winners always pin (two consumers each).
    *   - exhaustion: once no adjacent pair remains (every word fully
    *     merged — reachable on bounded-vocabulary corpora well before a
    *     production K), the loop STOPS and returns the merges learned,
    *     rather than cross-joining an empty winner and vaporizing the
    *     state (the registered K=3 form keeps that oracle-mirrored
    *     behavior; a depth-K trainer must terminate gracefully).
    * Merge semantics are pinned ≡ a plain-Scala reference BPE at K=64
    * in LlmPipelineSpec; sf0.1/sf1 timing curve in BENCHNOTES r15.
    */
  private[graft] def bpeLoopDeep(s: SparkSession, d: String, iters: Int,
      pinEvery: Int, stopWhenExhausted: Boolean = true): (Seq[DataFrame], DataFrame) = {
    // fanOut below the tokenize/explode/word-count pass, the loop's only
    // corpus-sized work. Keyed on doc_id; the groupBy("w") sum is exact,
    // so the merge sequence does not depend on the partitioning.
    val words = Pin.pin(withTk(Tables.fanOut(
      Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")),
      col("doc_id")))
      .select(explode(col("tk")).as("w"))
      .where(length(col("w")) >= 2)
      // the wrapper chars are reserved; a token carrying them would
      // corrupt the state encoding (identical guard in both oracles)
      .where(expr(s"instr(w, char(1)) = 0 AND instr(w, char(2)) = 0"))
      .groupBy("w").agg(count(lit(1)).as("wn"))
      .select(expr("concat_ws('', transform(split(w, ''), " +
        "c -> concat(char(1), c, char(2))))").as("st"), col("wn")))
    var state = words
    val merges = Seq.newBuilder[DataFrame]
    var i = 1
    var exhausted = false
    while (i <= iters && !exhausted) {
      val best = Pin.pin(state
        .select(expr("split(substring(st, 2, length(st) - 2), " +
          "char(2) || char(1))").as("sy"), col("wn"))
        .select(explode(expr(
          "zip_with(slice(sy, 1, size(sy) - 1), slice(sy, 2, size(sy) - 1), " +
            "(a, b) -> struct(a AS lhs, b AS rhs))")).as("p"), col("wn"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("lhs").asc, col("rhs").asc)
        .limit(1))
      if (stopWhenExhausted && best.isEmpty) exhausted = true
      else {
        val next = state.crossJoin(broadcast(best.select(
            concat(lit(BpeL), col("lhs"), lit(BpeR), lit(BpeL), col("rhs"), lit(BpeR)).as("pat"),
            concat(lit(BpeL), col("lhs"), col("rhs"), lit(BpeR)).as("rep"))))
          .select(expr("replace(st, pat, rep)").as("st"), col("wn"))
        state = if (i % pinEvery == 0 || i == iters) Pin.pin(next) else next
        merges += best.select(lit(i).as("iter"), col("lhs"), col("rhs"), col("n"))
        i += 1
      }
    }
    (merges.result(), state)
  }

  /** Depth-K merge table (iter, lhs, rhs, n) — the deep trainer's
    * public face. Not registered: a K=64 chained-CTE oracle is
    * impractical, so the gate is the plain-Scala witness spec.
    */
  private[graft] def bpeTrainDeep(s: SparkSession, d: String, k: Int,
      pinEvery: Int = 8): DataFrame = {
    val (ms, _) = bpeLoopDeep(s, d, k, pinEvery)
    require(ms.nonEmpty, "BPE exhausted before the first merge")
    ms.reduce(_.unionAll(_)).orderBy("iter")
  }

  /** q_bpe_apply — encode the corpus with the merge table [[bpeTrain]]
    * learns and report the resulting token vocabulary: every word is
    * rewritten through the K merges in training order, the final
    * symbols exploded, and their corpus-weighted frequencies emitted
    * as the top-100 (sym, n) — the vocabulary/compression audit run
    * after every tokenizer training job (is the token distribution
    * sane? did the merges actually absorb mass from their parts?).
    * Same scale shape as training: the loop runs over the pinned
    * distinct-word table, and the only corpus-sized work is the one
    * word-frequency aggregate both queries share; the final explode is
    * over distinct words × their symbol counts, then one combining
    * hash aggregate and a TakeOrdered top-100.
    */
  def bpeApply(s: SparkSession, d: String): DataFrame =
    bpeLoopFor(s, d)._2
      .select(explode(expr("split(substring(st, 2, length(st) - 2), " +
        "char(2) || char(1))")).as("sym"), col("wn"))
      .groupBy("sym").agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("sym").asc)
      .limit(100)

  /** The q_bpe_train oracle, K iterations unrolled into chained CTEs —
    * the loop body is deterministic SQL, so depth-K training is one
    * static query per dialect. `duck` flips the few spellings that
    * differ (unnest vs explode, list vs array lambdas); the merge step
    * and its wrapped-symbol encoding are character-identical, which is
    * the point: both engines' replace() is leftmost-nonoverlapping, and
    * the encoding makes that exactly one greedy BPE pass (see [[BpeL]]).
    */
  private def bpeTrainSql(duck: Boolean): String = {
    val unions = (1 to BpeIters)
      .map(i => s"SELECT $i AS iter, lhs, rhs, n FROM b$i").mkString(" UNION ALL ")
    s"${bpeSqlPrefix(duck)} SELECT iter, lhs, rhs, n FROM ($unions) ORDER BY iter"
  }

  /** The q_bpe_apply oracle: the same chained-CTE state as
    * [[bpeTrainSql]], finished by exploding the final state's symbols
    * into the corpus-weighted vocabulary histogram.
    */
  private def bpeApplySql(duck: Boolean): String =
    if (duck)
      s"${bpeSqlPrefix(duck = true)} SELECT sym, CAST(sum(wn) AS BIGINT) AS n FROM " +
        s"(SELECT unnest(string_split(substr(st, 2, len(st) - 2), chr(2) || chr(1))) AS sym, wn " +
        s"FROM s$BpeIters) GROUP BY sym ORDER BY n DESC, sym LIMIT 100"
    else
      s"${bpeSqlPrefix(duck = false)} SELECT sym, sum(wn) AS n FROM " +
        s"(SELECT explode(split(substring(st, 2, length(st) - 2), concat(chr(2), chr(1)))) AS sym, wn " +
        s"FROM s$BpeIters) GROUP BY sym ORDER BY n DESC, sym LIMIT 100"

  /** The shared WITH-clause: w0 (distinct-word frequencies) → s0
    * (wrapped-symbol states) → per-iteration pair counts p_i, winner
    * b_i, rewritten state s_i, for i in 1..[[BpeIters]].
    */
  private def bpeSqlPrefix(duck: Boolean): String = {
    val sepL = "chr(1)"
    val sepR = "chr(2)"
    val toks =
      if (duck) "SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w FROM documents"
      else "SELECT explode(split(coalesce(text, ''), ' ')) AS w FROM documents"
    val wrap =
      if (duck) s"array_to_string(list_transform(string_split(w, ''), c -> $sepL || c || $sepR), '')"
      else s"concat_ws('', transform(split(w, ''), c -> concat($sepL, c, $sepR)))"
    val lenF = if (duck) "len" else "length"
    def pairs(i: Int): String =
      if (duck)
        s"p$i AS (SELECT sy[u] AS lhs, sy[u + 1] AS rhs, CAST(sum(wn) AS BIGINT) AS n FROM " +
          s"(SELECT sy, wn, unnest(generate_series(1, len(sy) - 1)) AS u FROM " +
          s"(SELECT string_split(substr(st, 2, len(st) - 2), $sepR || $sepL) AS sy, wn FROM s${i - 1})) " +
          "GROUP BY lhs, rhs)"
      else
        s"p$i AS (SELECT p.lhs AS lhs, p.rhs AS rhs, sum(wn) AS n FROM " +
          s"(SELECT explode(zip_with(slice(sy, 1, size(sy) - 1), slice(sy, 2, size(sy) - 1), " +
          "(a, b) -> struct(a AS lhs, b AS rhs))) AS p, wn FROM " +
          s"(SELECT split(substring(st, 2, length(st) - 2), concat($sepR, $sepL)) AS sy, wn FROM s${i - 1})) " +
          "GROUP BY p.lhs, p.rhs)"
    def step(i: Int): String =
      s"${pairs(i)}, " +
        s"b$i AS (SELECT lhs, rhs, n FROM p$i ORDER BY n DESC, lhs, rhs LIMIT 1), " +
        s"s$i AS (SELECT replace(st, $sepL || lhs || $sepR || $sepL || rhs || $sepR, " +
        s"$sepL || lhs || rhs || $sepR) AS st, wn FROM s${i - 1} CROSS JOIN b$i)"
    s"WITH w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wn FROM ($toks) " +
      s"WHERE $lenF(w) >= 2 AND instr(w, $sepL) = 0 AND instr(w, $sepR) = 0 GROUP BY w), " +
      s"s0 AS (SELECT $wrap AS st, wn FROM w0), " +
      (1 to BpeIters).map(step).mkString(", ")
  }

  /** q_lm_fluency — bigram-LM fluency scoring, the LM-statistics
    * filter the CCNet pipeline popularised (KenLM perplexity against
    * corpus n-gram counts): each document is scored by its mean
    * bigram transition probability under the corpus's own counts,
    * P(w2|w1) = c(w1 w2)/c(w1 ·) — repetitive/templated text scores
    * high, token soup low; scoring against a FOREIGN reference model
    * is the identical plan with the two count tables read from a
    * static dir instead. Exact integer micros end to end: per pair
    * p_ppm = nb·10⁶ DIV nu, per doc fluency_ppm = Σp_ppm DIV n_pairs
    * (both engines truncate alike; nb·10⁶ stays ≤10¹⁸ even at
    * 10¹²-bigram corpora). Plan: the bigram pass is a mapper-only
    * zip_with projection pinned ONCE (localCheckpoint — it feeds the
    * two count tables and the scoring join); counts are combining hash
    * aggregates (vocab-sized, Heaps-sublinear); scoring is two
    * equi-shuffle joins on high-cardinality keys plus one per-doc
    * combining agg. Nothing driver-side, nothing all-pairs.
    */
  def lmFluency(s: SparkSession, d: String): DataFrame = {
    val bg = withTk(Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
      .where(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), " +
          "(a, b) -> struct(a AS w1, concat(a, ' ', b) AS bigram))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bigram").as("bigram"))
      .pinned()
    val cb = bg.groupBy("bigram").agg(count(lit(1)).as("nb"))
    val cu = bg.groupBy("w1").agg(count(lit(1)).as("nu"))
    bg.join(cb, "bigram").join(cu, "w1")
      .groupBy("doc_id")
      .agg(expr("CAST(count(*) AS BIGINT)").as("n_pairs"),
        expr("CAST(sum((nb * 1000000) DIV nu) DIV count(*) AS BIGINT)")
          .as("fluency_ppm"))
      .orderBy("doc_id")
  }

  /** q_text_fingerprint — two content fingerprints: fp_sorted = md5 of
    * the sorted distinct token set (OpenRefine-style key collision) and
    * fp_min = winnowing-style minimum shingle hash. Both are per-doc
    * projections (no shuffle).
    */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    withTk(Tables.documents(s, d))
      .select(col("doc_id"),
        md5(expr("concat_ws(' ', array_sort(array_distinct(tk)))")).as("fp_sorted"),
        expr(s"array_min(transform($shingles, s -> md5(s)))").as("fp_min"))
      .orderBy("doc_id")

  /** q_text_clean — token-level text normalization (the cleaning pass
    * between raw scrape and training mix: strip stopwords/boilerplate
    * tokens, re-join, report what was removed). Mapper-only — one
    * codegen'd filter + join per row, no shuffle before the final
    * order; at 100 TB this is a pure scan-transform pass. The removal
    * list reuses the langid stopword profiles (the non-vacuous
    * normalization for this corpus; a production pass would also strip
    * digits/URLs/PII patterns with the same shape).
    */
  def textClean(s: SparkSession, d: String): DataFrame = {
    val stop = profiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    // ONE stopword scan per row: materialize tokens and the kept subset,
    // then n_removed = size difference (the second filter pass would
    // double the dominant O(tokens × stopwords) cost)
    withTk(Tables.documents(s, d))
      .withColumn("kept", expr(s"filter(tk, t -> NOT array_contains(array($stop), t))"))
      .select(col("doc_id"),
        expr("array_join(kept, ' ')").as("clean_text"),
        expr("CAST(size(tk) - size(kept) AS BIGINT)").as("n_removed"))
      .orderBy("doc_id")
  }

  /** q_text_repetition — within-document repetition scoring (the
    * Gopher/RefinedWeb repetition filters: a document whose n-grams
    * repeat heavily is boilerplate/spam and gets culled before
    * training). dup_ratio = 1 − distinct/total 3-gram shingles, as an
    * exact int/int double division. Pure per-row projection over the
    * already-materialized shingle array — no shuffle, the 100 TB plan
    * is a mapper-only scan like the other text filters. NULL text is
    * coalesced to '' (mirrored in the oracle): the CASE's ELSE
    * array(text) branch would otherwise yield [NULL], where Spark's
    * array_distinct keeps the null but DuckDB's list_distinct drops
    * it — dup_ratio 0.0 vs 1.0 on the same row.
    */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    withTk(Tables.documents(s, d).withColumn("text", coalesce(col("text"), lit(""))))
      .withColumn("sh", expr(shingles))
      .select(col("doc_id"),
        expr("CAST(size(sh) AS BIGINT)").as("n_shingles"),
        expr("CAST(size(array_distinct(sh)) AS BIGINT)").as("n_distinct"),
        expr("CAST(size(sh) - size(array_distinct(sh)) AS DOUBLE) / size(sh)")
          .as("dup_ratio"))
      .orderBy("doc_id")

  /** Source-count cap for q_source_overlap's pair generation (a shingle
    * present in more sources than this is boilerplate/stopword noise
    * and would fan out C(df,2) pairs; at 20 fixture sources the bound
    * is cosmetic, at 10³ production sources it is the scale guard —
    * same discipline as NgramDfCap).
    */
  private[graft] val SourceDfCap = 10L

  /** q_source_overlap — the cross-source contamination matrix: for
    * every source pair, the count of distinct shingle hashes both
    * contain, plus that count as ppm of the SMALLER side's shingle set.
    * This is the corpus-level view the per-document dedup family feeds:
    * a high-overlap pair means one source mirrors/re-crawls the other
    * and should be culled or down-mixed BEFORE paying per-document
    * dedup across them. Plan: distinct (source, sh) projection of the
    * hashed inverted index, per-source sizes (hash agg), df-capped
    * shingle filter, then one equi self-join on sh + a combining count
    * per pair — never a source × source scan; pair fan-out per shingle
    * is bounded by C(SourceDfCap, 2). All-integer ppm (truncating DIV,
    * identical on both engines).
    */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    // Pin the distinct (source, shingle) projection once: sizes, the
    // df-cap filter and BOTH self-join sides derive from it, and
    // without the checkpoint each of the four branches re-runs the
    // explode→md5 inverted-index pass over the corpus (the
    // dedupIncremental lesson). Pinned state is 16 B × |distinct
    // (source, sh)| — vocabulary-sized, not corpus-sized.
    val ss = ngramPostings(s, d)
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .select(col("source"), col("sh")).distinct()
      .pinned()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val ok = ss.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= SourceDfCap)
      .select("sh")
    val a = ss.select(col("source").as("src_a"), col("sh"))
    val b = ss.select(col("source").as("src_b"), col("sh"))
    a.join(ok, "sh").join(b, "sh")
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("src_a"), col("n_sh").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n_sh").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        expr("n_shared * 1000000 DIV least(n_a, n_b)").as("overlap_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** q_text_tfidf — top-3 characteristic terms per document by an
    * engine-exact tf-idf variant: score_micros = tf · 10⁶ · N DIV df
    * (linear idf N/df instead of log(N/df): same descending direction
    * in df, exactly representable in integer arithmetic — the log
    * form's IEEE rounding would make near-tie rankings engine-dependent
    * and break the oracle hash). Plan: explode → per-(doc, term) count
    * (one shuffle, map-side combinable) → per-term document frequency
    * computed FROM THE tf ROWS (posting-list-sized input, not the raw
    * token stream) → tf ⋈ df equi join on term → per-doc top-3 window.
    * Every stage is linear in postings at 100 TB; the DECIMAL(38,0)
    * cross-multiply keeps tf·N·10⁶ exact at any corpus size, the DIV
    * brings the score back to BIGINT range (score ≤ tf·N·10⁶ only when
    * df = 1 — beyond ~10⁹ docs emit the decimal instead of casting).
    */
  def textTfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs.select(col("doc_id"), explode(expr(toks)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // 2 consumers (the join below + the df pass): without the pin the
      // scan→explode→agg subtree runs twice — the production idiom is
      // persisting the TF matrix for the IDF pass, not recomputing it
      .pinned()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micros").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score_micros",
        expr("CAST(CAST(tf AS DECIMAL(38,0)) * 1000000 * n_docs DIV df AS BIGINT)"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .select("doc_id", "rn", "term", "tf", "df", "score_micros")
      .orderBy("doc_id", "rn")
  }

  /** Quality-filter thresholds (q_quality_filter), all integer
    * cross-multiplied so the rule boundary is exact on both engines:
    * MinTokens — Gopher-style length gate; stop_ratio < 1/StopDivisor —
    * C4-style natural-language gate (near-zero stopwords = code/tables/
    * gibberish); avg token length > LongTokTenths/10 — tokenizer-hostile
    * text (URLs, base64); dup_ratio > 1/RepDivisor — boilerplate/spam
    * (the q_text_repetition metric as a gate).
    */
  private[graft] val QfMinTokens = 20L
  private[graft] val QfStopDivisor = 50L
  private[graft] val QfLongTokTenths = 48L
  private[graft] val QfRepDivisor = 50L

  /** q_quality_filter — the composed C4/Gopher-style keep/drop verdict:
    * every document gets `keep` plus the FIRST failing rule as a reason
    * code (fixed rule order: too_short → low_stopword → long_tokens →
    * repetitive → ok). This is the decision step that turns the metric
    * queries (q_text_quality / q_text_repetition) into an actual
    * training-set filter, and the reason column is what makes the cull
    * observable — production pipelines report per-reason drop counts
    * before committing a filter change. One mapper-only projection (all
    * four metrics come from the same token/shingle arrays, materialized
    * once per row); no shuffle before the final order. Thresholds are
    * integer cross-multiplications — no FP boundary can disagree
    * between engines.
    */
  /** All-columns quality verdict frame (metrics + first-failing reason),
    * shared by q_quality_filter and the composed q_pipeline_curate —
    * one definition so the filter a user audits and the filter the
    * pipeline applies cannot drift.
    */
  private def qualityVerdict(s: SparkSession, d: String): DataFrame =
    qualityVerdictCols(Tables.documents(s, d))

  /** The verdict transform itself, applicable to ANY frame carrying
    * (doc_id, text, n_chars) — including a STREAMING one: every rule is
    * a stateless per-row projection, so the same code is the batch
    * audit query and the live ingest filter (StreamingSpec pins the
    * batch≡stream equivalence over a MemoryStream).
    */
  private[graft] def qualityVerdictCols(docs: DataFrame): DataFrame = {
    val stop = profiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    withTk(docs.withColumn("text", coalesce(col("text"), lit(""))))
      .withColumn("sh", expr(shingles))
      .withColumn("n_tokens", expr("CAST(size(tk) AS BIGINT)"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter(tk, t -> array_contains(array($stop), t))) AS BIGINT)"))
      .withColumn("n_sh", expr("CAST(size(sh) AS BIGINT)"))
      .withColumn("n_dup", expr("CAST(size(sh) - size(array_distinct(sh)) AS BIGINT)"))
      .withColumn("reason", expr(
        s"""CASE WHEN n_tokens < $QfMinTokens THEN 'too_short'
           |WHEN n_stop * $QfStopDivisor < n_tokens THEN 'low_stopword'
           |WHEN (n_chars - (n_tokens - 1)) * 10 > $QfLongTokTenths * n_tokens THEN 'long_tokens'
           |WHEN n_dup * $QfRepDivisor > n_sh THEN 'repetitive'
           |ELSE 'ok' END""".stripMargin))
  }

  def qualityFilter(s: SparkSession, d: String): DataFrame =
    qualityVerdict(s, d)
      .select(col("doc_id"), (col("reason") === "ok").as("keep"), col("reason"))
      .orderBy("doc_id")

  /** q_pipeline_curate — the END-TO-END curation pipeline as ONE
    * Catalyst plan: quality-filter the corpus (the q_quality_filter
    * rules), keep the best copy of each duplicate group among the
    * survivors (the q_dedup_keep_best packed argmin, preference most
    * chars / tie min id), then pack what remains into token-budget
    * training sequences (the q_pack_sequences prefix-sum DIV). This is
    * the query a user actually ships — the single-op entries exist so
    * each stage is auditable in isolation — and composing them in one
    * DataFrame lets Catalyst prune/pipe the whole chain: the verdict
    * metrics are a mapper-only pass fused into the scan, the dedup is
    * one combining hash aggregate + a semi join, the packing is one
    * window per source shard. Stage order matters and is pinned by the
    * oracle: filter BEFORE dedup (a dropped doc must not steal
    * keep-best), dedup BEFORE packing (bins must not count culled
    * tokens).
    */
  def pipelineCurate(s: SparkSession, d: String): DataFrame = {
    val kept = qualityVerdict(s, d).where(col("reason") === "ok")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_chars"),
        md5(lower(trim(col("text")))).as("norm_md5"))
    val keepIds = kept
      .groupBy("norm_md5")
      .agg(min((lit(KbCharCap - 1) - col("n_chars")) * KbIdCap + col("doc_id"))
        .as("k"))
      .select((col("k") % KbIdCap).as("doc_id"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    kept.join(keepIds, Seq("doc_id"), "left_semi")
      .withColumn("cum_excl",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"cum_excl DIV $PackBudget").as("bin"))
      .orderBy("source", "doc_id")
  }

  /** Packing caps for the keep-best argmin: one BIGINT encodes
    * (max n_chars, tie-min doc_id) as (KbCharCap−1−n_chars)·KbIdCap +
    * doc_id — exact while n_chars < KbCharCap (4 Mi chars/doc) and
    * doc_id < KbIdCap (2⁴⁰ ids); the caps' product stays under 2⁶² so
    * the packed value cannot overflow. Boundary exactness is pinned by
    * the packing spec; corpora beyond either cap need the window form.
    */
  private[graft] val KbCharCap = 1L << 22
  private[graft] val KbIdCap = 1L << 40

  /** q_dedup_keep_best — preference-aware exact dedup: per
    * normalized-text group keep the copy with the MOST characters (tie →
    * smallest doc_id), not blindly the min id. This is what production
    * dedup actually does — among near-identical crawls keep the longest/
    * cleanest capture — and it is deliberately an argmax AGGREGATE, not
    * a per-group window. A struct min would sort-aggregate (struct
    * buffers aren't hash-table mutable), so the preference packs into
    * ONE BIGINT — min((KbCharCap−1−n_chars)·KbIdCap + doc_id) — the
    * same packed-argmin shape as the IVF centroid assignment: a
    * codegen'd hash aggregate with map-side partial combine, so the
    * shuffle carries one candidate per (partition, group) instead of
    * every copy, and no per-group sort exists anywhere in the plan.
    */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(lower(trim(col("text")))).as("norm_md5"))
      .agg(min((lit(KbCharCap - 1) - col("n_chars")) * KbIdCap + col("doc_id"))
        .as("k"),
        count(lit(1)).as("n_copies"))
      .select((col("k") % KbIdCap).as("keep_id"),
        (lit(KbCharCap - 1) - expr(s"k DIV ${KbIdCap}L")).as("best_chars"),
        col("n_copies"), col("norm_md5"))
      .orderBy("keep_id")

  /** Bloom bit-space size for q_decontaminate_bloom (2¹⁶ positions per
    * hash seed; two seeds). The broadcast state is the SET BIT POSITIONS
    * (≤ 2¹⁶ longs per seed, ~512 KB hard cap each) — bounded by m no
    * matter how large the benchmark suite grows.
    */
  private[graft] val BloomBits = 1 << 16

  /** q_decontaminate_bloom — benchmark decontamination behind a
    * Bloom-style prefilter, result IDENTICAL to q_decontaminate (Bloom
    * has no false negatives; the exact confirm join removes the false
    * positives — so the oracle is the exact SQL). Why it exists: the
    * exact form broadcasts the full bench shingle-hash set, which works
    * while the suite is bounded but grows with it; the bloom form
    * broadcasts two position sets capped at BloomBits rows EACH no
    * matter the suite size, and the corpus-side probe is two
    * mapper-only broadcast semi joins (xxhash64 → pmod → probe) that
    * cull ~(1 − fill)² of all postings before anything shuffles toward
    * the confirm join. At 100 TB: shuffled bytes drop from |postings|
    * to |true hits| + fp·|postings|, with fp = fill₁·fill₂ observable
    * from the two set sizes.
    */
  def decontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val m = BloomBits.toLong
    def pos(seed: Int, c: Column) = pmod(xxhash64(lit(seed), c), lit(m))
    val postings = ngramPostings(s, d)
    val bench = postings.where(col("doc_id") % 20 === 0).select(col("sh")).distinct()
    val bits1 = bench.select(pos(1, col("sh")).as("p1")).distinct()
    val bits2 = bench.select(pos(2, col("sh")).as("p2")).distinct()
    val train = postings.where(col("doc_id") % 20 =!= 0)
    val cand = train
      .withColumn("p1", pos(1, col("sh")))
      .join(broadcast(bits1), Seq("p1"), "left_semi")
      .withColumn("p2", pos(2, col("sh")))
      .join(broadcast(bits2), Seq("p2"), "left_semi")
    val hits = cand.join(bench, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    Tables.documents(s, d).where(col("doc_id") % 20 =!= 0)
      .select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** q_sample_stratified — per-language Bernoulli sampling with
    * per-stratum rates (the language-rebalancing step every multilingual
    * training mix runs: downsample the dominant language, keep the
    * rest). `sampleBy` filters on rand(seed) per row — mapper-only, no
    * shuffle, no stratum-size precomputation; at 100 TB this is a
    * single scan-and-keep pass. The fraction map is ALSO the training
    * whitelist: sampleBy's default fraction is 0, so a language absent
    * from SampleFractions is excluded entirely — deliberate (a mix
    * config enumerates every language it trains on; an unexpected lang
    * must not leak through at rate 1), and pinned by the spec's
    * whitelist assertion. Seeded but engine-specific RNG, so no DuckDB
    * oracle (rows-only); LlmPipelineSpec pins determinism, the subset
    * property, and per-stratum rates.
    */
  private[graft] val SampleFractions =
    Map("en" -> 0.3, "de" -> 0.8, "es" -> 0.8, "fr" -> 0.8, "zh" -> 0.8)

  def sampleStratified(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .stat.sampleBy("lang", SampleFractions, seed = 42L)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** q_decontaminate — benchmark decontamination, the eval-integrity
    * pass every serious training pipeline runs (the C4/GPT-3 reports
    * both describe it): a training document is flagged when it shares
    * 3-gram shingles with the held-out benchmark set. Benchmark stand-in
    * here: doc_id % 20 == 0 (eval suites are a FIXED, bounded set — at
    * 100 TB the benchmark shingle table stays broadcast-sized by
    * construction, so the overlap join is a map-side hash probe, and
    * AQE picks exactly that without a mandatory hint). Reuses the
    * hashed inverted-index rows of q_dedup_ngram. Output is the full
    * per-document report (n_hits = shared shingle count, 0 = clean):
    * the downstream filter is `n_hits = 0`, but reporting all docs
    * keeps the contamination rate observable.
    */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val postings = ngramPostings(s, d)
    val benchSh = postings.where(col("doc_id") % 20 === 0)
      .select(col("sh")).distinct()
    val train = postings.where(col("doc_id") % 20 =!= 0)
    val hits = train.join(benchSh, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    Tables.documents(s, d).where(col("doc_id") % 20 =!= 0)
      .select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** q_corpus_shuffle — deterministic global corpus shuffle: training
    * order = ascending salted hash of the doc id. Every epoch of every
    * large-scale run starts with exactly this op (reproducible global
    * permutation, reshuffled by changing the salt); expressing it as
    * ORDER BY md5(salt || id) makes it a range-partitioned distributed
    * sort — no single-partition row_number window, no RNG state to
    * mirror. The (shuffle_key, doc_id) order is total.
    */
  def corpusShuffle(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("shuf|42|"), col("doc_id").cast("string"))).as("shuffle_key"))
      .orderBy("shuffle_key", "doc_id")

  /** Context-window budget for q_pack_sequences (tokens per packed
    * training sequence).
    */
  private[graft] val PackBudget = 512L

  /** q_pack_sequences — boundary packing of documents into fixed
    * token-budget training sequences: bin = exclusive running token sum
    * (per source shard, in doc_id order) DIV budget. This is the
    * prefix-sum variant of greedy first-fit — documents never split,
    * bins can overflow by at most one document — chosen because it is
    * a WINDOW aggregation (partition by shard, one shuffle, parallel
    * across shards) where exact first-fit is inherently sequential
    * per shard. The packing is deterministic given the (source,
    * doc_id) total order.
    */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr(s"CAST(size($toks) AS BIGINT)").as("n_tokens"))
      .withColumn("cum_excl",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        // integer DIV, not double /: exact at any corpus size
        expr(s"cum_excl DIV $PackBudget").as("bin"))
      .orderBy("source", "doc_id")
  }

  private[graft] val WindowTokens = 128L
  private[graft] val WindowStride = 96L

  /** q_doc_windows — context-window chunking with stride: each document
    * splits into token windows of WindowTokens, stepping by
    * WindowStride (consecutive windows overlap by WindowTokens −
    * WindowStride = 32 tokens, so no training example loses the
    * context that straddles a boundary). Start positions are 0,
    * stride, 2·stride, … BOUNDED at n − overlap − 1: a start past that
    * would open a window wholly contained in its predecessor (both
    * would end at the document's last token), which duplicates
    * training data. Coverage is still total — the last admitted start
    * is ≥ n − WindowTokens, so its window reaches the final token.
    * The shape every LLM pipeline runs between curation and packing
    * (HF `return_overflowing_tokens`-style). Plan: mapper-only
    * generator projection — sequence + explode inflates each doc row
    * into ceil-ish n/stride window rows with NO shuffle; the final
    * sort exists only for the determinism gate.
    */
  def docWindows(s: SparkSession, d: String): DataFrame = {
    val overlap = WindowTokens - WindowStride
    Tables.documents(s, d)
      .select(col("doc_id"), expr(s"CAST(size($toks) AS BIGINT)").as("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("n"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), " +
          s"greatest(n - ${overlap + 1}, CAST(0 AS BIGINT)), " +
          s"CAST($WindowStride AS BIGINT))")).as("tok_start"))
      .select(col("doc_id"),
        expr(s"tok_start DIV $WindowStride").as("window_no"),
        col("tok_start"),
        least(lit(WindowTokens), col("n") - col("tok_start")).as("n_win_tokens"))
      .orderBy("doc_id", "window_no")
  }

  private[graft] val ParaBlockWords = 10
  private[graft] val ParaPack = 1048576L // 2^20 ≥ any per-doc block count

  /** q_dedup_paragraph — C4/RefinedWeb-style sub-document dedup: the
    * corpus-wide pass that drops REPEATED PARAGRAPHS (boilerplate,
    * navigation chrome, licence headers) while keeping the documents
    * themselves. The whitespace-soup corpus has no newlines, so a
    * "paragraph" is a non-overlapping ParaBlockWords-word block — the
    * unit is a parameter, the algorithm is the real one: block every
    * document, hash each block, keep only each block's FIRST corpus
    * occurrence (document order, then block order — the C4 rule), and
    * reconstruct every document from its surviving blocks. Output per
    * doc: block census (n_blocks, n_kept) + the rebuilt text (empty
    * when every block appeared earlier — the full-duplicate case).
    *
    * First-occurrence is an integer argmin: packed = doc_id·2^20 + blk
    * orders (doc_id, blk) lexicographically in ONE BIGINT (blk < 2^20
    * by construction — docs are ≤ n_chars/2 words), so "first" is
    * min(packed) OVER (PARTITION BY block-hash) — a single shuffle on
    * the 60-bit block hash, no self-join back to a keeper table. At
    * 100 TB: blocking is a mapper-only generator projection (sequence
    * + explode, no shuffle), the window shuffles block rows once on a
    * high-cardinality key, and the rebuild is one combining agg keyed
    * doc_id. Nothing is all-pairs and no corpus-global ordering exists.
    * Reference analogue: chunk-level checksum dedup is the closest
    * native shape (structures/Chunk.java:166-189 validates per-chunk
    * checksums; first-writer-wins is the DFS's implicit store rule).
    */
  def dedupParagraph(s: SparkSession, d: String): DataFrame = {
    val blocks = Tables.documents(s, d)
      .select(col("doc_id"), expr(toks).as("ws"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST((size(ws) + ${ParaBlockWords - 1}) DIV $ParaBlockWords - 1 AS INT)), " +
          s"i -> struct(CAST(i AS BIGINT) AS blk, " +
          s"array_join(slice(ws, i * $ParaBlockWords + 1, $ParaBlockWords), ' ') AS blk_text))")).as("b"))
      .select(col("doc_id"), col("b.blk").as("blk"), col("b.blk_text").as("blk_text"),
        expr("md5_prefix64(b.blk_text)").as("bh"),
        (col("doc_id") * ParaPack + col("b.blk")).as("packed"))
    blocks
      .withColumn("keeper", min(col("packed")).over(Window.partitionBy("bh")))
      .groupBy("doc_id")
      .agg(
        expr("CAST(count(*) AS BIGINT)").as("n_blocks"),
        expr("CAST(sum(CASE WHEN packed = keeper THEN 1 ELSE 0 END) AS BIGINT)").as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN packed = keeper THEN struct(blk, blk_text) END)), " +
          "x -> x.blk_text), ' ')").as("text_dedup"))
      .orderBy("doc_id")
  }

  private[graft] val WSampleK = 200
  private[graft] val WSamplePrioScale = 1000000000000L // 10^12
  private[graft] val WSampleUBits = 1073741824L // 2^30: the uniform's modulus

  /** Weight saturation for q_sample_weighted: w·scale must stay inside
    * BIGINT even when the divisor is 1, and a ~10 MB crawl document
    * would push 10^7·10^12 past 2^63 — Spark then WRAPS silently
    * (negative priority: the heaviest doc excluded, inverted bias)
    * while DuckDB raises, failing the gate with a crash. 9·10^6 chars
    * caps w·scale at 9·10^18 < 2^63; documents above it saturate to
    * equal top weight (ties broken by the hash uniform as usual) —
    * the standard bounded-weight trade, mirrored in both dialects.
    * (DECIMAL(38,0) was rejected: DuckDB's decimal `//` rounds where
    * Spark's DIV floors — the q_skew_diagnose divergence trap.)
    */
  private[graft] val WSampleWeightCap = 9000000L

  /** q_sample_weighted — deterministic weighted sampling by hash
    * priority (Duffield-Lund-Thorup priority sampling with the uniform
    * replaced by a hash of the doc id — the reproducible variant every
    * rerun-stable data pipeline actually ships): u = (h mod 2³⁰)+1
    * scaled from the 60-bit md5 (the quotient w·10¹²/u then spans
    * ~10⁶ distinct values for corpus-scale weights — a 60-bit
    * denominator would crush it to 0 and erase the bias), priority =
    * w·10¹² DIV u, take the K largest: inclusion odds are
    * min(1, w/τ) — proportional to weight below the threshold. The
    * sample is a pure function of the corpus: no RNG state, no seed
    * plumbing, identical on any cluster size or partitioning.
    * All-BIGINT arithmetic (max priority w·10¹² ≤ 10¹⁶; DuckDB `//`
    * floors BIGINT exactly like Spark DIV — the DECIMAL rounding trap
    * doesn't apply).
    *
    * Plan: priorities are mapper-side projections; ORDER BY + LIMIT
    * plans TakeOrderedAndProject — per-partition top-K then a K-row
    * driver merge, NO global sort. At 100 TB the shuffle is K rows.
    */
  def sampleWeighted(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("weight"),
        expr("md5_prefix64(CAST(doc_id AS STRING))").as("h"))
      .select(col("doc_id"), col("weight"),
        expr(s"(least(weight, $WSampleWeightCap) * $WSamplePrioScale) " +
          s"DIV ((h % $WSampleUBits) + 1)").as("priority"))
      .orderBy(desc("priority"), col("doc_id"))
      .limit(WSampleK)

  private[graft] val SubWinW = 32
  private[graft] val SubDfCap = 64
  private[graft] val SubMinSpan = 50

  /** q_dedup_substring — exact-substring overlap detection, the
    * suffix-array dedup method's distributed form (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"):
    * find document pairs sharing verbatim character spans (quotation,
    * boilerplate, partial copies — overlap the set-similarity tiers
    * miss when the rest of the documents differ). Stride-1 windows
    * make detection EXACT: two documents share a substring of length
    * ≥ W iff they share a W-char window, so per-pair we recover the
    * covered-position count and, via gaps-and-islands over covered
    * positions, the LONGEST shared span (= longest run + W − 1) — the
    * quantity the paper thresholds on (spans ≥ 50 chars).
    *
    * Every window is keyed by its 60-bit md5 prefix (an 8-byte
    * shuffle key instead of a W-char string; both engines compute the
    * identical hash so even a collision is mirrored). Window hashes
    * seen in 2..SubDfCap distinct docs gate the pair join — boilerplate
    * windows above the cap are excluded (hot-bucket rule), singletons
    * never shuffle into the join. At 100 TB: window generation is a
    * mapper-only projection (sequence + explode), the shuffles key on
    * the 60-bit hash then the (doc_a, doc_b) pair — both
    * high-cardinality; nothing is all-pairs. The W× blow-up of the
    * window pass is the method's inherent cost; winnowing the hash
    * stream (keep per-G-window minima) and a native rolling-hash
    * Expression are the recognised compression knobs — both change
    * recall guarantees, so the exact form is the registered one.
    * Reference analogue: per-chunk checksum comparison
    * (structures/Chunk.java:166-189) is the closest native shape.
    */
  /** Stride-1 window hashes (doc_id, pos, h) — the shared substrate of
    * the exact and winnowed substring-dedup forms below; checkpointed
    * because every consumer fans out over it, and MEMOIZED per
    * (session, corpus state) because three registry queries (stride-1,
    * winnow, auto) consume the same table and the W×-volume window
    * pass is each one's dominant cost — the ccLabelsMemo discipline:
    * build the index once, run every analysis against it.
    */
  private val substringWindowsMemo = new SessionMemo[DataFrame]

  /** Per-doc-distinct window hashes (doc_id, h) — the df-count and
    * join-leg input both the stride-1 form and the auto router's
    * stride-1 branch derive from the windows memo. Memoized (and
    * pinned) for the same reason as the windows themselves: two
    * registry queries re-derived this distinct per call, paying a
    * W×-volume shuffle + localCheckpoint each time (measured ~1.4 s
    * per extra call at sf0.1). Same intermediate-substrate class as
    * ngramPostingsMemo — the pair join, span window and gaps-and-
    * islands accounting still run per invocation.
    */
  private val substringDistinctMemo = new SessionMemo[DataFrame]

  private val winnowFpsMemo = new SessionMemo[DataFrame]

  /** Per-doc-distinct winnow fingerprints (doc_id, h) — the shared
    * substrate of dedupSubstringWinnow and the auto router's winnow
    * branch. Read-through over the persisted artifact
    * (ensureWinnowFps), the minhashBanded
    * discipline: fingerprints are per-doc, so the manifest lifecycle's
    * append/removal legs apply verbatim. (The stride-1
    * substringWindows table below deliberately STAYS a session memo:
    * it is W× corpus volume by construction — persisting it would
    * store ~40× the corpus — and the family is fenced with the auto
    * router sending production volume to THIS quarter-volume form.)
    */
  private def winnowFps(s: SparkSession, d: String): DataFrame =
    winnowFpsMemo(s, s"$d/documents.parquet")(
      ParquetMeta.read(s, ensureWinnowFps(s, d)).select("doc_id", "h"))

  // K is baked into the artifact rows, so the family name carries it:
  // a K change invalidates persisted fingerprints from the older
  // builder instead of silently serving them (the Derived version
  // rule). lazy: WinnowK is declared further down this object and a
  // strict val here would read its pre-init 0.
  private[graft] lazy val WinnowFpsFamily = s"graft-winnow-fps-k$WinnowK"

  private def winnowFpsRows(s: SparkSession, paths: Seq[String]): DataFrame =
    // src (input_file_name) is projected below the fanOut exchange,
    // since it is undefined above one; the W×-volume window hashing
    // runs above it
    Tables.fanOut(
      ParquetMeta.read(s, paths: _*)
        .where(col("n_chars") >= SubWinW)
        .select(col("doc_id"), Storage.normSrcCol(input_file_name()).as("src"),
          col("text"), col("n_chars")),
      col("doc_id"))
      .select(col("doc_id"), col("src"),
        // native window-hash pass (see substringWindows)
        expr(s"win_hashes60(text, n_chars, $SubWinW)").as("hs"))
      // win_min_k ≡ transform(sequence(0, size(hs)-1),
      //   j -> array_min(slice(hs, j+1, K))) as one O(n) monotonic-deque
      // pass instead of O(n·K) with a k-array allocation per position
      // (functions/WinMinK; the sf10 winnow build's dominant stage) —
      // value-identical, spec-pinned, oracle keeps its own spelling
      .select(col("doc_id"), col("src"), explode(expr(
        s"array_distinct(win_min_k(hs, $WinnowK))")).as("h"))

  private[graft] def ensureWinnowFps(s: SparkSession, d: String): String = {
    val table = s"$d/documents.parquet"
    ensureRowSubstrate(s, WinnowFpsFamily, table)(winnowFpsRows(s, _))
  }

  /** One persisted dedup substrate: its row `name` in
    * q_substrate_stats and `CALL graft.ensure_dedup_substrates`, its
    * artifact `family`, the dataset `table` it derives from, and its
    * ensure entry point.
    */
  private[graft] case class Substrate(name: String, family: String,
      table: String, ensure: (SparkSession, String) => String)

  /** The six dedup substrates in build order (minhash bands read the
    * postings) — the one list the readiness gate, q_substrate_stats and
    * the ingest-time CALL verb walk.
    */
  private[graft] lazy val substrates: Seq[Substrate] = Seq(
    Substrate("ngram_postings", NgramPostingsFamily, "documents.parquet", ensureNgramPostings),
    Substrate("minhash_banded", MinhashBandedFamily, "documents.parquet", ensureMinhashBanded),
    Substrate("simhash", SimhashSigFamily, "documents.parquet", ensureSimhashSig),
    Substrate("embed_bucketed", EmbedBucketedFamily, "embeddings.parquet", ensureEmbedBucketed),
    Substrate("winnow_fps", WinnowFpsFamily, "documents.parquet", ensureWinnowFps),
    Substrate("phash", Multimodal.PhashFamily, "documents.parquet", Multimodal.ensurePhashTable))

  /** Metadata-only probe: are all six dedup substrates current for
    * this corpus (completion marker present at the exact manifest
    * key)? At most one listing per source table + six marker probes,
    * zero corpus reads — the SQL-surface registration gate
    * (SqlSurface.registerDerivedViews).
    */
  private[graft] def substratesReady(s: SparkSession, d: String): Boolean = {
    val versions = scala.collection.mutable.Map.empty[String, String]
    substrates.forall { sub =>
      val table = s"$d/${sub.table}"
      val ver = versions.getOrElseUpdate(table,
        Storage.manifestVersion(Storage.manifestLines(s, table)))
      val p = new org.apache.hadoop.fs.Path(
        s"${Derived.dirFor(s, sub.family, table, version = ver)}/_SUCCESS")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    }
  }

  /** q_substrate_stats — per-family footprint of the persisted dedup
    * substrates, SQL-visible (the winnow artifact was a ~9 GB outlier
    * nobody could SEE without shelling du): one row per family with
    * its row count (parquet footer metadata — no data scan) and
    * on-disk bytes. Six bounded FS/footer probes —
    * metadata-sized at any corpus scale. No DuckDB oracle (the
    * artifact dirs are engine-local state, the ivf_staleness
    * rationale); LlmPipelineSpec pins shape and row-count consistency.
    */
  def substrateStats(s: SparkSession, d: String): DataFrame = {
    val rows = substrates.map { sub =>
      val dir = sub.ensure(s, d)
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(p).getLength
      // footer row counts, never a data scan
      (sub.name, ParquetMeta.footers(s, dir).map(_.rows).sum, bytes)
    }
    import s.implicits._
    rows.toDF("family", "n_rows", "bytes").orderBy("family")
  }

  private def substringWindows(s: SparkSession, d: String): DataFrame =
    substringWindowsMemo(s, s"$d/documents.parquet")(
      // fanOut before the W×-volume window-hash explode.
      // win_hashes60 (native, functions/WinHashes60) replaces the
      // per-position substring→md5→hex→conv chain: one offsets walk +
      // one digest per window instead of an O(pos) re-scan and a hex
      // round-trip per window — value-identical (the oracle keeps the
      // composable spelling and the hash gate proves it)
      Tables.fanOut(
        Tables.documents(s, d)
          .where(col("n_chars") >= SubWinW)
          .select(col("doc_id"), col("text"), col("n_chars")),
        col("doc_id"))
        .select(col("doc_id"),
          posexplode(expr(s"win_hashes60(text, n_chars, $SubWinW)")).as(Seq("p0", "h")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
        .pinned())

  /** Hard corpus-volume ceiling (total text chars) for the stride-1
    * exact form — the HotBucketCap discipline applied to the query's
    * own input: stride-1's window table is inherently
    * W× the corpus volume, measured at 578 s on the ~150M-char 100×
    * stress — a cost no caller should pay SILENTLY. Above the cap the
    * query fails loudly, naming the scale-safe alternatives, instead of
    * quietly running for minutes. 40M chars clears the 10×-sf0.1 decade
    * gate (~13M chars, where stride-1 is still the hash-checked exact
    * form at ~46 s) and refuses the 100× tier. Overridable per session
    * via spark.graft.substringStride1MaxChars (specs set it tiny to pin
    * the refusal; a user who accepts the cost raises it explicitly —
    * the observable-overflow contract, not a hidden limit).
    */
  private[graft] val SubStride1MaxChars = 40000000L

  def dedupSubstring(s: SparkSession, d: String): DataFrame = {
    val maxChars = s.conf.getOption("spark.graft.substringStride1MaxChars")
      .map(_.toLong).getOrElse(SubStride1MaxChars)
    val vol = corpusChars(s, d)
    if (vol > maxChars)
      throw new IllegalStateException(
        s"q_dedup_substring (stride-1) refused: corpus volume $vol chars exceeds " +
          s"the stride-1 ceiling $maxChars — the W×-volume window table is the " +
          "documented 100×-scale killer. Use q_dedup_substring_auto (selects " +
          "winnow above 10M chars) or q_dedup_substring_winnow, or raise " +
          "spark.graft.substringStride1MaxChars to accept the cost explicitly.")
    val wins = substringWindows(s, d)
    val ds = substringDistinctMemo(s, s"$d/documents.parquet")(
      wins.select("doc_id", "h").distinct().pinned())
    val g = ds.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, SubDfCap)).select("h")
    // Join reassociation (guide §3): the df-gate is applied to the
    // per-doc-distinct side FIRST, so the join side facing the
    // W×-volume wins table is the df-capped RARE slice (pair-relevant
    // by construction) instead of the full distinct table — the
    // previous shape built a broadcast hash relation over ALL distinct
    // (doc, h) rows per call (~1.3 M entries at sf0.1). Same join
    // graph, pure reassociation: wins ⋈ g ⋈ ds ≡ wins ⋈ (ds ⋈ g).
    val rareB = ds.join(g, "h").select(col("doc_id").as("doc_b"), col("h"))
    val cov = wins.join(rareB, "h")
      .where(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("pos"))
    cov
      .withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("doc_a", "doc_b").orderBy("pos")))
      .groupBy("doc_a", "doc_b", "grp").agg(count(lit(1)).as("run_len"))
      .groupBy("doc_a", "doc_b")
      .agg(sum("run_len").cast("long").as("n_cov_pos"),
        (max("run_len") + (SubWinW - 1)).cast("long").as("longest_span"))
      .where(col("longest_span") >= SubMinSpan)
      .orderBy("doc_a", "doc_b")
  }

  /** Winnowing window: k consecutive window-hashes per fingerprint
    * choice. Guarantee (Schleimer–Wilkerson–Aiken, "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
    * scheme): any shared substring of length ≥ SubWinW + WinnowK − 1
    * yields at least one shared fingerprint, at ~2/(k+1) of the
    * stride-1 index volume.
    */
  // 16 (was 8): the winnow artifact was the footprint
  // outlier at sf100 (~9 GB vs 1.3 GB for the other four text
  // substrates combined). Fingerprint density is
  // ~2/(K+1), so K=16 halves the persisted index (0.222 -> 0.118 of
  // positions) while the detection guarantee (spans >= W + K - 1 = 47
  // chars) stays under the 50-char span threshold the stride-1 form
  // reports on — every pair a user would act on is still guaranteed
  // found. All four SQL spellings and the DuckDB oracle interpolate
  // this constant, so engine and oracle can never disagree.
  private[graft] val WinnowK = 16

  /** q_dedup_substring_winnow — the SCALE form of exact-substring
    * overlap: instead of joining every stride-1 window (q_dedup_
    * substring's inherent W× volume — its 46 s at the 10× stress is
    * the join over ~100M window rows), each doc keeps only its
    * winnowing fingerprints — the minimum hash of every k consecutive
    * windows. Detection stays EXACT for spans ≥ SubWinW + WinnowK − 1
    * (47 chars here; the two docs' aligned k-window over a shared span
    * selects the same minimum on both sides), while the joined index
    * shrinks ~8×; the trade is losing sub-47-char spans and the exact
    * per-position coverage accounting (the stride-1 form keeps both).
    * Output: candidate pairs with their shared-fingerprint count.
    * Same df-cap gate as the stride-1 form.
    */
  def dedupSubstringWinnow(s: SparkSession, d: String): DataFrame = {
    // Winnow fingerprints are computed ENTIRELY mapper-side (r15): a
    // document is one row, so its per-position window hashes and their
    // K-wide rolling minima are a single projection over the text
    // column — slice() truncates at the array end, exactly the ROWS
    // BETWEEN CURRENT AND K-1 FOLLOWING frame both oracles mirror. The
    // previous form consumed the stride-1 substringWindows memo through
    // a per-doc window SORT: a W×-corpus-volume exchange plus two
    // corpus-scale pins that exceeded the sandbox's 55 GB scratch disk
    // at the sf100 probe (BENCHNOTES r15) — the exact anti-pattern the
    // winnow form exists to avoid. Now NOTHING corpus-scale is pinned
    // or sorted: the df count is a combining hash aggregate over
    // per-partition-distinct fingerprints, only the df-capped RARE
    // slice (pair-relevant by construction) is pinned for its two join
    // legs, and the raw projection is recomputed (mapper CPU, ~md5 per
    // window) rather than materialized — the 100 TB trade. What IS
    // pinned (and corpus-memoized, shared with the auto router's
    // winnow branch) is the per-doc-DISTINCT rolling-minima table —
    // winnowing's own ~K/2× reduction — so the md5 mapper work runs
    // once across the df count, both join legs, and both queries.
    val fp = winnowFps(s, d)
    val g = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, SubDfCap)).select("h")
    val fpRare = fp.join(g, "h")
    fpRare
      .join(fpRare.select(col("doc_id").as("doc_b"), col("h")), "h")
      .where(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .orderBy("doc_a", "doc_b")
  }

  /** Corpus-volume threshold (total text chars) for the auto form:
    * below it the stride-1 exact-accounting index is affordable; above
    * it the W× window volume is the documented scale killer (345 s at
    * the 100× ≈ 150M-char stress, BENCHNOTES r11) and winnowing's ~8×
    * smaller index with the ≥ SubWinW+WinnowK−1 span guarantee is the
    * right default. 10M chars ≈ the 10× stress tier where stride-1
    * first went quadratic-shaped; gate fixtures (≤ 1.5M) stay stride-1.
    */
  private[graft] val SubAutoVolCap = 10000000L

  /** q_dedup_substring_auto — the PRODUCTION default for substring
    * overlap: selects stride-1 (exact per-position coverage) vs winnow
    * (fingerprint index, exact for spans ≥ 47 chars) by corpus volume.
    * The selector is one metadata-sized aggregate (sum of the already-
    * stored n_chars — the same table-stats consultation a planner
    * does); both branches project the unified (doc_a, doc_b, n_matches,
    * mode) schema, and the oracle mirrors the SAME volume branch in
    * SQL, so the query stays hash-gate-checked on whichever side the
    * corpus lands.
    */
  /** Total corpus text volume in chars — one metadata-sized aggregate
    * over the stored n_chars column (the table-stats consultation a
    * planner does); the selector for the auto form and the stride-1
    * ceiling guard.
    */
  /** Total corpus chars — the stride-1 volume fence's input. Memoized
    * per (session, corpus state): it is a pure function of the corpus,
    * and unmemoized every q_dedup_substring call ran this eager
    * aggregate job (and q_dedup_substring_auto ran it TWICE — once to
    * route, once inside the routed stride-1 form).
    */
  private val corpusCharsMemo = new SessionMemo[Long]

  private def corpusChars(s: SparkSession, d: String): Long =
    corpusCharsMemo(s, s"$d/documents.parquet")(
      Tables.documents(s, d)
        .agg(coalesce(sum(col("n_chars")), lit(0L)).as("v")).head.getLong(0))

  def dedupSubstringAuto(s: SparkSession, d: String): DataFrame = {
    val vol = corpusChars(s, d)
    if (vol <= SubAutoVolCap)
      dedupSubstring(s, d).select(col("doc_a"), col("doc_b"),
        col("n_cov_pos").as("n_matches"), lit("stride1").as("mode"))
    else
      dedupSubstringWinnow(s, d).select(col("doc_a"), col("doc_b"),
        col("n_shared_fps").as("n_matches"), lit("winnow").as("mode"))
  }

  /** q_dedup_collapsed_jaccard — the hash-gate anchor for the collapse
    * stage the scale-safe near-dedup forms share (q_dedup_near,
    * q_dedup_near_collapsed): exact-collapse to min-doc_id
    * representatives, then EXACT shingle-Jaccard pairs over
    * representatives only (the q_dedup_ngram inverted-index core,
    * df-capped, top-100 total order). Fully deterministic — unlike the
    * MinHash forms, every stage here is SQL-mirrorable, so the oracle
    * checks the collapse semantics + representative pair list
    * byte-for-byte.
    */
  def dedupCollapsedJaccard(s: SparkSession, d: String): DataFrame = {
    // raw-text collapse (the dedupNear rule): shingles are case/
    // whitespace-sensitive, so only byte-identical texts provably share
    // a shingle set — both oracle dialects mirror the same raw key
    val reps = Tables.documents(s, d)
      .groupBy(md5(coalesce(col("text"), lit(""))).as("norm_key"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    ngramPairsFromPostings(ngramPostings(s, d).join(reps, "doc_id"))
  }

  private[graft] val EditDistMax = 16

  /** q_dedup_editdist — edit-distance near-dup verification: the OCR/
    * typo-noise dedup axis (MinHash Jaccard sees token SETS — it
    * misses pairs whose difference is a few characters smeared across
    * many tokens; Levenshtein sees raw strings). The chain is the
    * industrial one: LSH-banded candidate pairs (bucket-capped, never
    * all-pairs) → TWO result-neutral early exits → exact distance.
    * Exit 1: |len(a) − len(b)| > K proves dist > K without touching
    * the DP (Levenshtein ≥ length difference — the metric lower
    * bound). Exit 2: Spark's 3-arg levenshtein(a, b, K) runs the
    * banded O(K·len) DP instead of the full O(len²) matrix and
    * returns −1 past K; pairs over threshold emit dist = −1, the same
    * convention the oracle mirrors with a full-distance CASE. Per-pair
    * cost is bounded by K·len over a dup-set-sized pair list; the
    * joins are doc_id equi shuffles.
    */
  def dedupEditdist(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashPairsFromBanded(minhashBanded(s, d))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta"),
        col("len").as("la")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb"),
        col("len").as("lb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"CAST(CASE WHEN abs(la - lb) > $EditDistMax THEN -1 " +
          s"ELSE levenshtein(ta, tb, $EditDistMax) END AS BIGINT)").as("edit_dist"))
      .withColumn("is_dup", col("edit_dist") >= 0)
      .orderBy("doc_a", "doc_b")
  }

  /** q_text_diversity — exact-integer lexical-diversity census per
    * document: n_tokens, n_distinct, and the Simpson collision mass
    * Σ c_w² (w a token, c_w its in-doc count). simpson_num/n_tokens²
    * is the repeat-collision probability (Gini-Simpson complement) —
    * the "document is the same words over and over" quality-filter
    * axis, complementary to q_text_repetition's windowed n-gram share.
    * The division is left to consumers: hashed output stays in the
    * exact integer sufficient statistics (SURVEY §7.4 rule: no IEEE
    * sums in gate-hashed columns).
    *
    * Plan: explode → TWO stacked combining hash aggs — (doc_id, token)
    * partials collapse within-doc repeats map-side, then one
    * doc_id-keyed reduce; no window, no join, shuffle bounded by the
    * per-doc DISTINCT token count, not token volume.
    */
  def textDiversity(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toks)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(expr("CAST(sum(c) AS BIGINT)").as("n_tokens"),
        expr("CAST(count(*) AS BIGINT)").as("n_distinct"),
        expr("CAST(sum(c * c) AS BIGINT)").as("simpson_num"))
      .orderBy("doc_id")

  private[graft] val CmsEps = 0.001    // sketch width = ceil(e/eps) ≈ 2719
  private[graft] val CmsConf = 0.99    // depth = ceil(ln(1/(1-conf))) = 5
  private[graft] val CmsSeed = 42
  private[graft] val CmsHeavyMin = 500L

  /** q_heavy_hitters — frequency-sketch heavy-hitter detection: ONE
    * pass builds a Count-Min sketch over the token stream (Spark's
    * `count_min_sketch` aggregate — partial sketches merge
    * associatively map-side, so the shuffled state is the CONSTANT
    * ~100 KB counter matrix regardless of key domain), the ~1-row
    * result broadcasts, and every candidate token is scored by the
    * native `cms_estimate` probe (functions/CmsEstimate — codegen'd,
    * memoized deserialization). The 100 TB story is the fixed memory:
    * an exact groupBy's aggregate state is key-domain-sized (URLs,
    * shingles → unbounded); the sketch is eps-bounded and mergeable,
    * which is also what makes it the streaming-accumulator form.
    *
    * Oracle-checked against EXACT counts: at this operating point
    * (width 2719 ≫ vocab) the sketch is collision-free, so estimates
    * EQUAL exact counts — the gate proves it at every SF (hashing is
    * seed-fixed, so collision-freeness is a static property of the
    * vocab, not a per-run roll). The overestimate bound on an
    * adversarial vocab (≫ width, collisions forced) is spec-pinned
    * instead — est ≥ true always, est − true ≤ eps·N at conf.
    */
  private[graft] def cmsAgg(col: String): String =
    s"count_min_sketch($col, CAST($CmsEps AS DOUBLE), " +
      s"CAST($CmsConf AS DOUBLE), $CmsSeed)"

  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d).select(explode(expr(toks)).as("token"))
    val sk = tok.agg(expr(cmsAgg("token")).as("sk"))
    tok.distinct()
      .crossJoin(broadcast(sk))
      .select(col("token"), expr("cms_estimate(sk, token)").as("est_count"))
      .withColumn("is_heavy", col("est_count") >= CmsHeavyMin)
      .orderBy("token")
  }

  /** Streaming half of the heavy-hitter loop: each micro-batch reduces
    * to ONE sketch row appended to an immutable parquet log — no
    * mutable driver state, and the log grows by ~100 KB per batch
    * regardless of batch size. The token stream itself is never
    * retained: this is the fixed-memory frequency monitor over an
    * unbounded key domain. Restart-idempotence is REAL, not assumed:
    * the row publishes as the deterministic file `cms-batch-<id>.
    * parquet` (staging write + rename), so a foreachBatch replay after
    * a crash-between-write-and-commit sees its file already published
    * and skips — a bare `mode("append")` would double-count that
    * batch in every later merge. Pair with [[cmsCompactSketchLog]] on
    * a maintenance cadence so the log stays (1 checkpoint + tail)
    * files regardless of stream age.
    */
  def cmsSketchSink(docs: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val s = batch.sparkSession
      val target = new org.apache.hadoop.fs.Path(dir, s"cms-batch-$id.parquet")
      val fs = target.getFileSystem(s.sparkContext.hadoopConfiguration)
      // the replay guard is the batch ID, not just the file: once a
      // compaction has folded batch `id` into a checkpoint and swept
      // its file, a replay of that id (or a restart whose fresh stream
      // checkpoint restarts ids at 0) must still skip — publishing it
      // would land a row cmsLiveRows excludes (batch_id <= ckpt) and
      // the next sweep silently deletes: accepted-but-never-counted.
      // The floor is parsed from the checkpoint FILE NAMES
      // (cms-ckpt-<upto>-<uuid>.parquet) — one listing, no footer read.
      val ckptFloor =
        if (!fs.exists(new org.apache.hadoop.fs.Path(dir))) -1L
        else fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
          .map(_.getPath.getName)
          .filter(_.startsWith("cms-ckpt-"))
          .flatMap(_.stripPrefix("cms-ckpt-").split("-").headOption
            .flatMap(_.toLongOption))
          .foldLeft(-1L)(math.max)
      if (id <= ckptFloor) {
        // make silent data loss at least observable: a
        // TRUE replay of a folded batch is by-design invisible, but a
        // RESET stream checkpoint (ids restart at 0) against an
        // existing compacted log drops genuinely new data here — a
        // fresh stream checkpoint requires a fresh sketch dir.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"cmsSketchSink: batch $id at/below checkpoint floor $ckptFloor " +
            s"in $dir — skipped as a replay; if this stream's checkpoint " +
            "was reset, point it at a FRESH sketch dir or this data is lost")
      } else if (!fs.exists(target)) {
        // UUID staging: two processes replaying the same batch id must
        // not share a staging dir (one's overwrite could tear the
        // other's part file mid-rename); the deterministic TARGET name
        // still arbitrates — the loser's rename fails against the
        // winner's published file and its staging is discarded
        val staging = new org.apache.hadoop.fs.Path(dir,
          s".cms-batch-build-$id-${java.util.UUID.randomUUID().toString.take(8)}")
        batch.select(explode(expr(toks)).as("token"))
          .agg(expr(cmsAgg("token")).as("sk"))
          .withColumn("batch_id", lit(id))
          .coalesce(1)
          .write.mode("overwrite").parquet(staging.toString)
        val part = fs.listStatus(staging).toSeq
          .map(_.getPath).find(_.getName.startsWith("part-"))
          .getOrElse(throw new IllegalStateException(
            s"cmsSketchSink: no part file under $staging"))
        if (!fs.rename(part, target) && !fs.exists(target))
          throw new IllegalStateException(
            s"cmsSketchSink: publish rename to $target failed")
        fs.delete(staging, true)
        ()
      }
    }.start()

  /** The sketch log's on-disk schema, read explicitly so PRE-COMPACTION
    * vintages (two columns: sk, batch_id) and compacted logs (plus
    * `folded_upto`, non-null only on checkpoint rows) coexist in one
    * dir: parquet fills the absent column with null, so an old log is
    * just a log with zero checkpoints — no migration step.
    */
  private val cmsLogSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sk",
      org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("folded_upto",
      org.apache.spark.sql.types.LongType)))

  private def cmsLog(s: SparkSession, dir: String): DataFrame =
    s.read.schema(cmsLogSchema).parquet(dir)

  /** The LIVE rows of a sketch log — the newest checkpoint (if any)
    * plus the raw per-batch rows it does not cover. This filter is what
    * makes every compaction crash window readable: after the checkpoint
    * rename but before the covered files are swept, the covered raws
    * (batch_id ≤ folded_upto) and any superseded older checkpoint
    * (folded_upto < newest) are both excluded, so no count is ever
    * double-folded. `ckptUpto` = -1 encodes "no checkpoint yet".
    */
  private def cmsLiveRows(log: DataFrame): (DataFrame, Long) = {
    val ckptUpto = log.filter(col("folded_upto").isNotNull)
      .agg(max("folded_upto")).collect()(0) match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
    // limit(1) on the checkpoint leg: two racing compactors can publish
    // twin checkpoints for the SAME folded_upto — bit-identical by
    // construction (same fold set, associative merge), so any one is
    // the truth and folding both would double-count.
    val live = log.filter(col("folded_upto") === ckptUpto).limit(1)
      .union(log.filter(
        col("folded_upto").isNull && col("batch_id") > ckptUpto))
    (live, ckptUpto)
  }

  /** Distributed fold of sketch rows to one serialized Count-Min
    * matrix: treeReduce keeps even a never-compacted year-old log off
    * the driver (the pre-r19 form collect()ed every ~100 KB row and
    * folded driver-side — O(#batches) memory for a fixed-size answer);
    * only the single merged matrix comes back.
    */
  private def cmsFoldToBytes(rows: DataFrame): Array[Byte] = {
    import org.apache.spark.util.sketch.CountMinSketch
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      val sa = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(a))
      val sb = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b))
      sa.mergeInPlace(sb)
      val out = new java.io.ByteArrayOutputStream()
      sa.writeTo(out)
      out.toByteArray
    }
    rows.select("sk").rdd.map(_.getAs[Array[Byte]](0)).treeReduce(merge)
  }

  /** Merge-on-read over the sketch log: Count-Min merge is counter-
    * matrix addition — associative and commutative — so folding the
    * per-batch sketches yields BIT-IDENTICAL state to one sketch over
    * the concatenated stream (the spec proves estimate equality
    * against a batch rebuild). The fold runs over the LIVE rows only —
    * after [[cmsCompactSketchLog]] that is (1 checkpoint + tail) rows
    * regardless of stream age — and distributed (treeReduce), so
    * neither the log length nor the row bytes ever accumulate on the
    * driver. The merged ~100 KB matrix broadcasts as a one-row table
    * and the native cms_estimate probes it per token.
    */
  def cmsMergedEstimates(s: SparkSession, sketchDir: String, d: String): DataFrame = {
    val (live, _) = cmsLiveRows(cmsLog(s, sketchDir))
    val skDf = s.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(cmsFoldToBytes(live))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sk",
          org.apache.spark.sql.types.BinaryType))))
    Tables.documents(s, d)
      .select(explode(expr(toks)).as("token")).distinct()
      .crossJoin(broadcast(skDf))
      .select(col("token"), expr("cms_estimate(sk, token)").as("est_count"))
      .withColumn("is_heavy", col("est_count") >= CmsHeavyMin)
      .orderBy("token")
  }

  /** Test seam for the compaction crash witnesses: 1 = die after the
    * checkpoint is built but before its publish rename (staging orphan
    * left), 2 = die after the rename but before the covered files are
    * swept (checkpoint + covered raws coexist). Production leaves 0.
    */
  private[graft] var cmsCrashPoint: Int = 0

  /** In-flight-reader grace for the covered-file sweep:
    * a cmsMergedEstimates that LISTED the log before a checkpoint
    * published may still scan the covered files it planned — deleting
    * them immediately after the rename FileNotFounds that reader at
    * task launch, the exact race Derived.generationTtlMs closes for
    * generation GC. Files covered by a checkpoint are swept only once
    * that checkpoint has aged one window; reads are already correct
    * either way (cmsLiveRows excludes covered rows). Defaults to the
    * same window as the generation GC; specs pin 0 for determinism.
    */
  private[graft] var cmsCoveredTtlMs: Long = Derived.generationTtlMs

  case class CmsCompactReport(ckptUpto: Long, folded: Long, swept: Long) {
    override def toString: String = s"ckpt=$ckptUpto folded=$folded swept=$swept"
  }

  /** Compact the sketch log: fold the current checkpoint plus every
    * raw batch row older than the newest `keepTail` batches into ONE
    * new checkpoint row, publish it atomically, then sweep the files
    * it covers. This bounds [[cmsMergedEstimates]]' fold at
    * (1 + keepTail) rows forever — the reference's delta-heartbeat
    * discipline (ship deltas, keep bounded state,
    * storageNode/HeartbeatRunnable.java:101-143) applied to the one
    * previously unbounded log in the repo.
    *
    * Crash-safe without a transaction log, because reads only trust
    * the NEWEST checkpoint and ignore everything it covers
    * ([[cmsLiveRows]]): the checkpoint is built in a dot-prefixed
    * staging dir (invisible to Spark reads), renamed into the log in
    * one FS operation, and only then are covered files deleted. A
    * crash before the rename leaves an orphan staging dir (swept by
    * the next run once older than [[Derived.orphanTtlMs]]); a crash
    * after it leaves covered files that every read already excludes
    * and the next run deletes. Re-running after any crash converges:
    * the fold set is empty (nothing live in (ckpt, w]) so no new
    * checkpoint is written, but the sweep still runs. The fold itself
    * is distributed (treeReduce) so even the FIRST compaction of a
    * long-lived log never materializes the row set on the driver.
    *
    * Returns the typed report (rendered "ckpt=<w> folded=<n>
    * swept=<files>"); no-ops (folded=0) when fewer than one batch is
    * old enough to fold.
    */
  def cmsCompactSketchLog(s: SparkSession, sketchDir: String,
      keepTail: Int = 4): CmsCompactReport = {
    require(keepTail >= 0, s"keepTail must be >= 0, got $keepTail")
    val dirPath = new org.apache.hadoop.fs.Path(sketchDir)
    val fs = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(dirPath)) return CmsCompactReport(-1L, 0L, 0L)
    // sweep TTL-aged staging orphans from crashed earlier runs (young
    // ones may belong to a live concurrent compactor)
    val now = System.currentTimeMillis()
    fs.listStatus(dirPath).toSeq
      .filter { st =>
        val n = st.getPath.getName
        (n.startsWith(".cms-ckpt-build-") || n.startsWith(".cms-batch-build-")) &&
          now - st.getModificationTime > Derived.orphanTtlMs
      }
      .foreach(st => fs.delete(st.getPath, true))
    val log = cmsLog(s, sketchDir)
      .select(input_file_name().as("f"), col("sk"),
        col("batch_id"), col("folded_upto"))
    // per-FILE facts, not per-row: deletion is by file, so a file is
    // covered only when its newest row is. One small row per batch
    // file on the driver — metadata, never sketch bytes. Bounded at
    // 1 + keepTail files once any compaction has run; the only
    // O(#files) case is the FIRST-ever compaction of a log deployed
    // without a cadence (a year-old uncompacted log ≈ 500k rows of
    // (path, two longs) ≈ tens of MB driver-side, one time). If that
    // deployment shape ever becomes real, replace this collect with a
    // listing-based fold over file-name batch ids.
    val fileMeta = log.groupBy("f").agg(
      max("batch_id").as("mb"), max("folded_upto").as("fu")).collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    val ckptUpto = fileMeta.map(_._3).foldLeft(-1L)(math.max)
    val maxBatch = fileMeta.filter(_._3 == -1L).map(_._2).foldLeft(-1L)(math.max)
    val w = maxBatch - keepTail
    var folded = 0L
    if (w > ckptUpto) {
      // limit(1) on the checkpoint leg, same guard as cmsLiveRows: twin
      // checkpoints at the SAME folded_upto (racing compactors, or a
      // crash-at-2 leftover next to a fresh twin) are bit-identical by
      // construction — folding both would bake doubled prefix counts
      // into the new checkpoint PERMANENTLY
      val foldSrc = log.filter(col("folded_upto") === ckptUpto).limit(1)
        .union(log.filter(col("folded_upto").isNull &&
          col("batch_id") > ckptUpto && col("batch_id") <= w))
      folded = foldSrc.count()
      if (folded > 0) {
        val merged = cmsFoldToBytes(foldSrc)
        val staging = new org.apache.hadoop.fs.Path(sketchDir,
          ".cms-ckpt-build-" + java.util.UUID.randomUUID().toString.take(8))
        s.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row(merged, w, w)),
          cmsLogSchema).coalesce(1).write.parquet(staging.toString)
        val part = fs.listStatus(staging).toSeq
          .map(_.getPath).find(_.getName.startsWith("part-"))
          .getOrElse(throw new IllegalStateException(
            s"cmsCompactSketchLog: no part file under $staging"))
        if (cmsCrashPoint == 1) throw new IllegalStateException(
          "cmsCrashPoint=1: dying before checkpoint publish")
        val target = new org.apache.hadoop.fs.Path(sketchDir,
          s"cms-ckpt-$w-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
        if (!fs.rename(part, target)) throw new IllegalStateException(
          s"cmsCompactSketchLog: publish rename to $target failed")
        fs.delete(staging, true)
      }
    }
    if (cmsCrashPoint == 2) throw new IllegalStateException(
      "cmsCrashPoint=2: dying before covered-file sweep")
    // sweep files fully covered by the (possibly just-published)
    // newest checkpoint: raw files whose newest row folded, and
    // superseded checkpoints. Runs even when folded=0 so a re-run
    // after a crash-at-2 still converges.
    val newUpto = math.max(ckptUpto, if (folded > 0) w else -1L)
    // a twin checkpoint at the CURRENT upto (two racing compactors) is
    // bit-identical redundancy — keep the lexicographically first file,
    // sweep the rest alongside raws and superseded checkpoints
    val currentCkpts =
      fileMeta.filter(m => m._3 >= 0L && m._3 == newUpto).map(_._1).sorted
    // TTL gate on the COVERING checkpoint's age ([[cmsCoveredTtlMs]]):
    // a just-published checkpoint's covered files linger one window
    // for in-flight readers; the next cadence tick sweeps them. A
    // this-run publish is age ~0 by definition.
    val ckptAgedOut =
      if (folded > 0) cmsCoveredTtlMs <= 0L
      else currentCkpts.headOption.forall { f =>
        now - fs.getFileStatus(new org.apache.hadoop.fs.Path(
          new java.net.URI(f))).getModificationTime > cmsCoveredTtlMs
      }
    val swept = if (!ckptAgedOut) Array.empty[(String, Long, Long)]
    else fileMeta.filter { case (f, mb, fu) =>
      (fu == -1L && mb <= newUpto && mb >= 0L) || (fu >= 0L && fu < newUpto) ||
        (fu >= 0L && fu == newUpto && currentCkpts.headOption.exists(_ != f))
    }
    swept.foreach { case (f, _, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(f)), false)
    }
    CmsCompactReport(newUpto, folded, swept.length.toLong)
  }

  private[graft] val NShards = 32L

  /** q_shard_manifest — deterministic export-shard assignment plus the
    * audit manifest a 100 TB corpus export publishes for its readers.
    * Shard = (doc_id · 2654435761) mod 2³² mod NShards — Knuth's
    * multiplicative hash in plain BIGINT arithmetic, chosen over
    * murmur/xxhash because it is engine-neutral (Spark's `hash` and
    * DuckDB's `hash` disagree, so a mirror would be impossible) while
    * still scattering sequential doc_ids across shards (a naive
    * doc_id mod N sends contiguous crawl ranges to one shard). The
    * manifest rows are what the writer commits next to the data:
    * per-shard doc count, char volume, and id range — enough for a
    * reader to size splits and verify completeness without listing
    * files. The reference's analogue is round-robin chunk→node
    * placement (client/Client.java:342-355); a content-keyed mod hash
    * is the same idea made stateless and reproducible.
    * Plan: mapper-side shard expr → ONE combining hash agg keyed by
    * the NShards-value shard id (map-side partials reduce each task's
    * output to ≤ NShards rows; the shuffle is manifest-sized, not
    * corpus-sized). doc_id·2654435761 ≤ 2.4e16 for doc_id ≤ 10⁷ — and
    * the mod-2³² wrap is taken BEFORE any further arithmetic, so the
    * product is the only width-sensitive term (exact to doc_id ≈
    * 3.4e9; beyond that the DECIMAL(38,0) guard applies). The physical
    * write itself — partitionBy("shard") so each shard lands in its
    * own directory, readable with partition pruning — is spec-pinned
    * in LlmPipelineSpec (a sink returns no DataFrame to hash).
    */
  def shardManifest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        expr(s"CAST(doc_id * 2654435761 % 4294967296 % $NShards AS BIGINT)")
          .as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("shard")

  /** JSONL export dir for this fixture — write-once keyed by dataset
    * dir + documents mtime (the ensureBloomIndex lifecycle: at 100 TB
    * the export is one corpus pass run by the publishing job; every
    * re-ingest after it reads the shards, never the source table).
    */
  private[graft] val JsonlExportFamily = "graft-jsonl-export"

  private[graft] def ensureJsonlExport(s: SparkSession, d: String): String =
    // v2: the writer moved to hive-partitioned shard dirs — the version
    // bump invalidates flat-layout exports from the older builder
    Derived.ensure(s, JsonlExportFamily, s"$d/documents.parquet", "v2") { dir =>
      graft.sources.JsonlCorpus.write(Tables.documents(s, d), dir)
    }

  /** q_jsonl_roundtrip — the corpus interchange leg, oracle-checked
    * end-to-end: documents → sharded JSONL export → explicit-schema
    * re-ingest → field-level identity audit against the source table.
    * Output is per-source (n_docs, n_intact) where intact = every
    * field null-safe-equal after the round trip; the oracle states the
    * only acceptable answer (n_intact = n_docs = count from the source
    * table), so ANY encode/decode loss — a dropped row, an unescaped
    * control character, a null that became "null" — breaks the hash
    * gate. JSON escaping of newlines/quotes/unicode inside text is
    * exactly what this pins (the reader would split a raw newline into
    * two corrupt lines).
    */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val back = graft.sources.JsonlCorpus.read(s, ensureJsonlExport(s, d))
      .select(col("doc_id"), col("text").as("b_text"), col("lang").as("b_lang"),
        col("source").as("b_source"), col("n_chars").as("b_n_chars"))
    Tables.documents(s, d)
      .join(back, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("b_text") <=> col("text") &&
          col("b_lang") <=> col("lang") &&
          col("b_source") <=> col("source") &&
          col("b_n_chars") <=> col("n_chars"), 1L).otherwise(0L)).as("n_intact"))
      .orderBy("source")
  }

  /** q_jsonl_audit — shard layout + corrupt-line report over the
    * export: per shard, line count and quarantined-line count (the
    * PERMISSIVE `_corrupt_record` column — corrupt lines are data, not
    * exceptions, in a billion-line crawl). The oracle recomputes the
    * multiplicative shard hash from the source table and asserts zero
    * corruption, so this pins the shard function cross-engine over the
    * REAL exported bytes (q_shard_manifest pins it over the logical
    * rows); a corrupt line would surface as a NULL-shard row the
    * oracle doesn't have.
    */
  def jsonlAudit(s: SparkSession, d: String): DataFrame =
    graft.sources.JsonlCorpus.readAudit(s, ensureJsonlExport(s, d))
      .groupBy("shard")
      // n_parsed references doc_id deliberately: shard is a PARTITION
      // column in the hive layout, and a scan whose only referenced
      // DATA column is the internal corrupt column is refused
      // (QUERY_ONLY_CORRUPT_RECORD_COLUMN — the corruptReport rule)
      .agg(count(lit(1)).as("n_lines"),
        count(col("doc_id")).as("n_parsed"),
        count(col("_corrupt_record")).as("n_corrupt"))
      .orderBy("shard")

  /** q_mix_weights — source-mixing weights: the per-source resampling
    * factor that equalizes token share across sources (the data-mixing
    * step of a training run: weight > 1 upsamples an under-represented
    * source, < 1 downsamples a dominant one). weight = (total_tokens /
    * n_sources) / source_tokens, emitted as exact integer micros
    * (the q_text_stats integer-mean pattern — no IEEE division in the
    * hashed output). Two tiny aggregates; the global row broadcasts.
    */
  def mixWeights(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .select(col("source"), expr(s"CAST(size($toks) AS BIGINT)").as("n_tokens"))
      .groupBy("source").agg(sum(col("n_tokens")).as("source_tokens"))
    val global = perSource.agg(
      sum(col("source_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(global))
      .select(col("source"), col("source_tokens"),
        // DECIMAL(38,0) intermediate: total_tokens * 1e6 overflows a
        // BIGINT at ~9.2e12 tokens — inside 100 TB-corpus range; the
        // quotient itself always fits a BIGINT
        expr("CAST(CAST(total_tokens AS DECIMAL(38,0)) * 1000000 DIV " +
          "(CAST(n_sources AS DECIMAL(38,0)) * source_tokens) AS BIGINT)")
          .as("weight_micros"))
      .orderBy("source")
  }

  /** q_mix_temperature — temperature-scaled source mixing: sampled share
    * ∝ (source token count)^(1/T) with T = 2 (the √-scaling the
    * multilingual-pretraining recipes popularized — mBERT's exponentiated
    * smoothing, XLM-R's α=0.5 — flattening the source distribution
    * without equalizing it: dominant sources are downsampled, small ones
    * boosted, order preserved). Determinism across engines: sqrt is
    * IEEE-correctly-rounded on both, its value is pinned to integer
    * micros with round() BEFORE the ratio, and the final share is exact
    * integer DIV with a DECIMAL(38,0) intermediate (the q_mix_weights
    * overflow guard). Two tiny aggregates + a 1-row broadcast — the
    * output is one row per source regardless of corpus size.
    */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .select(col("source"), expr(s"CAST(size($toks) AS BIGINT)").as("n_tokens"))
      .groupBy("source").agg(sum(col("n_tokens")).as("source_tokens"))
      .withColumn("s_scaled",
        expr("CAST(round(sqrt(CAST(source_tokens AS DOUBLE)) * 1000000) AS BIGINT)"))
    val global = perSource.agg(sum(col("s_scaled")).as("z"))
    perSource.crossJoin(broadcast(global))
      .select(col("source"), col("source_tokens"),
        expr("CAST(CAST(s_scaled AS DECIMAL(38,0)) * 1000000 DIV z AS BIGINT)")
          .as("share_ppm"))
      .orderBy("source")
  }

  /** Global token budget for q_budget_select (tokens the selection may
    * keep) and the quality-score bucket width in ppm.
    */
  private[graft] val SelectTokenBudget = 20000L
  private[graft] val SelectBucketPpm = 50000L

  /** q_budget_select — quality-thresholded data selection under a global
    * token budget: "take the best documents until N tokens" — the
    * selection step of every curated-pretraining recipe (the
    * data-selection literature phrases it exactly as score-rank, then
    * cut at the budget). A naive exact form is a corpus-wide
    * single-partition running sum — a non-starter at 100 TB — so this is
    * the distributed production shape: score every document (stopword
    * density in exact ppm, the q_text_quality signal), HISTOGRAM the
    * corpus into fixed-width score buckets (one combining aggregate,
    * ~21-row output), run the budget prefix-sum over the bucket
    * histogram (metadata-sized window — SinglePartition over ≤21 rows,
    * the q_compact_plan discipline), and select whole buckets best-first
    * while the running total before the bucket is under budget (overflow
    * by at most one bucket — the q_pack_sequences trade: the threshold
    * is bucket-granular because the per-document exact cut is the
    * sequential part). The selected flag IS the score threshold: docs
    * with score_ppm ≥ min(selected bucket)·width are in.
    */
  def budgetSelect(s: SparkSession, d: String): DataFrame = {
    val stop = profiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    val w = Window.orderBy(col("bucket").desc)
    Tables.documents(s, d)
      .select(coalesce(col("text"), lit("")).as("text"))
      .withColumn("n_tokens", expr(s"CAST(size($toks) AS BIGINT)"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter($toks, t -> array_contains(array($stop), t))) AS BIGINT)"))
      .withColumn("bucket",
        expr(s"n_stop * 1000000 DIV n_tokens DIV $SelectBucketPpm"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
      .withColumn("selected",
        col("cum_tokens") - col("bucket_tokens") < SelectTokenBudget)
      .orderBy(col("bucket").desc)
  }

  /** Per-source document cap for q_source_cap. */
  private[graft] val SourceCapK = 10

  /** q_source_cap — per-source document budget: keep at most K documents
    * per source, best-first (longest by n_chars, doc_id tiebreak). This
    * is the domain-cap gate every web-corpus recipe applies so one
    * over-crawled domain cannot dominate the mixture — the complement of
    * q_mix_weights (which reweights what survives) and distinct from
    * q_dedup_keep_best (which picks ONE winner per duplicate group; this
    * caps a COUNT per origin). Plan: rank-filter over a per-source
    * window; Spark rewrites rn ≤ K into WindowGroupLimit (plan-asserted)
    * — each map task truncates its partial groups to K rows BEFORE the
    * exchange, so the shuffle carries at most K·sources·tasks rows, not
    * the corpus, and the full sort of an over-crawled source never
    * happens anywhere.
    */
  def sourceCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, d)
      .select("doc_id", "source", "n_chars")
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= SourceCapK)
      .orderBy("source", "rn", "doc_id")
  }

  /** Histogram bucket width (ppm of the quality score) for
    * q_quality_drift.
    */
  private[graft] val DriftBucketPpm = 100000L

  /** q_quality_drift — pairwise source-distribution drift: the
    * total-variation distance between every two sources' quality-score
    * histograms, in exact integer ppm (TVD = ½·Σ|p_a − p_b| — the
    * ln-free drift metric; PSI/KL need logarithms whose engine rounding
    * would poison the hash gate, and TVD is the standard bounded
    * alternative). This is the monitor a production pipeline runs per
    * ingest batch: a source whose score distribution shifts against its
    * peers (a crawler gone wrong, a spam flood) shows as a TVD spike
    * before any absolute threshold trips. Plan: one mapper-only score
    * pass → one combining (source, bucket) count aggregate (histogram:
    * |sources|·11 rows) → densify over the bounded source×bucket grid
    * (missing buckets are real zeros — a one-sided bucket must count
    * toward the distance) → pair join on bucket over the tiny grid →
    * one combining sum per pair. Everything after the first aggregate
    * is metadata-sized; the corpus is scanned exactly once.
    */
  /** The drift family's per-(source, bucket) quality-score histogram —
    * shared by the batch pairwise matrix (qualityDrift) and the
    * streaming per-ingest-batch monitor (driftMonitorSink), so the two
    * surfaces can never bucket differently. Mapper-only + one combining
    * aggregate; output is |sources|·11 rows.
    */
  private[graft] def qualityBuckets(docs: DataFrame): DataFrame = {
    val stop = profiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    docs
      .select(col("source"), coalesce(col("text"), lit("")).as("text"))
      .withColumn("n_tokens", expr(s"CAST(size($toks) AS BIGINT)"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter($toks, t -> array_contains(array($stop), t))) AS BIGINT)"))
      .withColumn("bucket",
        expr(s"n_stop * 1000000 DIV n_tokens DIV $DriftBucketPpm"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("cnt"))
  }

  def qualityDrift(s: SparkSession, d: String): DataFrame = {
    val hist = qualityBuckets(Tables.documents(s, d))
      .pinned() // 3 consumers below — pin the corpus scan once
    val grid = hist.select("source").distinct()
      .crossJoin(hist.select("bucket").distinct())
    val totals = hist.groupBy("source").agg(sum(col("cnt")).as("n_docs"))
    val dense = grid
      .join(hist, Seq("source", "bucket"), "left")
      .join(totals, Seq("source"))
      .select(col("source"), col("bucket"),
        expr("coalesce(cnt, CAST(0 AS BIGINT)) * 1000000 DIV n_docs").as("share_ppm"))
    val a = dense.select(col("source").as("src_a"), col("bucket"),
      col("share_ppm").as("pa"))
    val b = dense.select(col("source").as("src_b"), col("bucket"),
      col("share_ppm").as("pb"))
    a.join(b, Seq("bucket")).where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(expr("sum(abs(pa - pb)) DIV 2").as("tvd_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** Per-source TVD between a batch histogram and a reference histogram
    * (both in [[qualityBuckets]] shape). A full-outer join on (source,
    * bucket) densifies — a bucket present on only one side contributes
    * its whole share to the distance. Everything is histogram-sized.
    */
  private[graft] def driftVsReference(batchHist: DataFrame, refHist: DataFrame): DataFrame = {
    def shares(h: DataFrame, out: String): DataFrame =
      h.join(h.groupBy("source").agg(sum(col("cnt")).as("n")), Seq("source"))
        .select(col("source"), col("bucket"),
          expr("cnt * 1000000 DIV n").as(out))
    shares(batchHist, "pb")
      .join(shares(refHist, "pr"), Seq("source", "bucket"), "full_outer")
      .select(col("source"), col("bucket"),
        coalesce(col("pb"), lit(0L)).as("pb"),
        coalesce(col("pr"), lit(0L)).as("pr"))
      .groupBy("source")
      .agg(expr("sum(abs(pb - pr)) DIV 2").as("tvd_ppm"))
  }

  /** The STREAMING drift monitor — [[qualityDrift]]'s production form:
    * every ingest micro-batch is scored against a static reference
    * histogram and the per-(batch, source) TVD is appended to a parquet
    * audit log. foreachBatch is the right streaming shape here (not a
    * windowed aggregation): the per-batch histogram → full-outer
    * densify → TVD pipeline is a multi-aggregate batch plan that
    * streaming aggregation cannot express, and the monitor needs ZERO
    * cross-batch state — the reference is static and each batch grades
    * independently, so there is nothing for a watermark to bound.
    * MemoryStream-verified in StreamingSpec; not in `queries` (the
    * batch pairwise matrix is the oracle-checked surface).
    */
  def driftMonitorSink(docs: DataFrame, refHist: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      driftVsReference(qualityBuckets(batch), refHist)
        .withColumn("batch_id", lit(id))
        .write.mode("append").parquet(dir)
    }.start()

  /** Exact-Jaccard threshold (ppm) above which a verified candidate
    * pair is confirmed a near-duplicate by q_dedup_verify.
    */
  private[graft] val VerifyDupPpm = 800000L

  /** q_dedup_verify — the exact-verification stage that completes the
    * industrial LSH dedup chain (signatures → bands → candidate pairs →
    * VERIFY → clusters): every MinHash candidate pair gets its true
    * shingle-set Jaccard (in exact integer ppm) and a confirmed/rejected
    * flag at [[VerifyDupPpm]]. Banding alone over-merges — two docs can
    * share one band by hash luck — so production dedup always confirms
    * candidates against the real sets before clustering.
    *
    * Scale shape: the shingle re-read is SEMI-JOINED down to docs that
    * appear in ≥1 candidate pair before the explode, so the verify cost
    * is bounded by the candidate set (dup-set-sized), never the corpus.
    * Intersections come from a bucket-local equi join on the 60-bit
    * shingle hash — |A∩B| = matching hash rows, |A∪B| = nA + nB − |A∩B|
    * — all integer counts, no floats. (Set sizes count DISTINCT
    * SHINGLE HASHES, not shingles: a 60-bit collision inside one doc
    * would undercount by one on both engines identically, the same
    * collision budget minhashBanded already accepts.) The pair list and
    * the pruned hash table are pinned in [[pairIntersections]].
    */
  def dedupVerify(s: SparkSession, d: String): DataFrame =
    pairIntersections(s, d, minhashBanded(s, d), "left")
      .select(col("doc_a"), col("doc_b"),
        expr("coalesce(n_inter, CAST(0 AS BIGINT)) * 1000000 DIV " +
          "(n_a + n_b - coalesce(n_inter, CAST(0 AS BIGINT)))").as("jaccard_ppm"))
      .withColumn("is_dup", col("jaccard_ppm") >= VerifyDupPpm)
      .orderBy("doc_a", "doc_b")

  /** The exact-verify core shared by [[dedupVerify]] and
    * [[nearBandedVerified]]: the candidate pairs of `banded` (pinned)
    * joined (`joinType` "inner" or "left") to their shingle-hash
    * intersection count `n_inter`, then to both docs' set sizes `n_a`
    * and `n_b`. The shingle re-read is pruned to docs in ≥1 pair
    * ([[verifyShingleHashes]]) and pinned (3 consumers).
    *
    * Build-side choice is deliberately LEFT TO STATS (+ AQE at
    * runtime): the shingle table is candidate-set-bounded but NOT
    * small-bounded — on an adversarial corpus it reaches corpus scale
    * (sf100: ~450M rows; a broadcast hint here once cost q_dedup_near
    * 96 → 468 s). When it is genuinely small Catalyst broadcasts it and
    * the n_inter aggregate rides the pairs' pinned range partitioning
    * for free; when it is not, the aggregate re-key is one honest
    * exchange (PlanShapeSpec budgets 3 for the fixture's estimates).
    */
  private def pairIntersections(s: SparkSession, d: String,
      banded: DataFrame, joinType: String): DataFrame = {
    val pairs = minhashPairsFromBanded(banded).pinned()
    val docsInPairs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sh = verifyShingleHashes(s, d, docsInPairs).pinned()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    pairs.join(inter, Seq("doc_a", "doc_b"), joinType)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
  }

  /** The verify stage's pruned shingle re-read: semi-join the corpus
    * down to `docsInPairs` BEFORE the shingle explode, so re-shingling
    * cost is bounded by the candidate set. Factored out (pre-checkpoint)
    * so PlanShapeSpec can pin the semi-below-Generate shape that the
    * pinned blocks hide from dedupVerify's own plan.
    */
  private[graft] def verifyShingleHashes(
      s: SparkSession, d: String, docsInPairs: DataFrame): DataFrame =
    withTk(Tables.documents(s, d))
      .join(docsInPairs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(expr(s"array_distinct($shingles)")).as("s"))
      .select(col("doc_id"), expr("md5_prefix64(s)").as("h"))

  /** Percent boundaries of the deterministic corpus split assigned by
    * q_split_assign: [0,98) train, [98,99) val, [99,100) test.
    */
  private[graft] val SplitTrainPct = 98L
  private[graft] val SplitValPct = 99L

  /** q_split_assign — deterministic train/val/test split with a
    * stratification audit: every doc lands in a split by hashing its
    * doc_id (md5 → 60-bit integer → mod 100 → percent bucket), and the
    * output is the per-(source, split) doc and token census a pipeline
    * reviews before training. Hash-of-id splitting is the production
    * idiom because it is STABLE — re-runs, backfills, and incremental
    * batches assign every doc the same split with no coordination, and
    * no shuffle is needed for the assignment itself (mapper-only); the
    * census is one combining aggregate over ≤ |sources|·3 groups.
    */
  def splitAssign(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), coalesce(col("text"), lit("")).as("text"),
        expr("md5_prefix64(CAST(doc_id AS STRING)) % 100").as("b"))
      .withColumn("split", expr(
        s"CASE WHEN b < $SplitTrainPct THEN 'train' " +
          s"WHEN b < $SplitValPct THEN 'val' ELSE 'test' END"))
      .withColumn("n_tokens", expr(s"CAST(size($toks) AS BIGINT)"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy("source", "split")

  /** Vocabulary size for q_vocab_coverage (top-K corpus unigrams). */
  private[graft] val VocabK = 100

  /** q_vocab_coverage — tokenizer-vocabulary coverage: build the top-K
    * corpus unigram vocabulary (count desc, token asc tie-break — fully
    * deterministic), then report each source's token coverage under it
    * in exact integer ppm. This is the audit run before committing to a
    * tokenizer: a source whose coverage is low will fragment into
    * byte-fallback tokens and silently eat the token budget.
    *
    * Scale shape: ONE corpus-sized shuffle — the (source, token) count
    * aggregate (map-side combining; output is vocab-per-source-sized,
    * localCheckpoint-pinned for its two consumers). The global vocab is
    * a second aggregate OVER THE PINNED COUNTS (never the corpus) +
    * TakeOrdered top-K, and the coverage pass joins the counts against
    * the 100-row vocab broadcast — bounded by construction, so the hint
    * is size-provable, not speculative.
    */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val st = Tables.documents(s, d)
      .select(col("source"), coalesce(col("text"), lit("")).as("text"))
      .select(col("source"), explode(expr(toks)).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .pinned()
    val vocab = st.groupBy("tok").agg(sum(col("cnt")).as("gcnt"))
      .orderBy(col("gcnt").desc, col("tok")).limit(VocabK)
    st.join(broadcast(vocab.select(col("tok"), lit(1L).as("in_v"))), Seq("tok"), "left")
      .groupBy("source")
      .agg(sum(col("cnt")).as("total_tokens"),
        sum(expr("CASE WHEN in_v IS NULL THEN CAST(0 AS BIGINT) ELSE cnt END"))
          .as("vocab_tokens"))
      .select(col("source"), col("total_tokens"), col("vocab_tokens"),
        expr("vocab_tokens * 1000000 DIV total_tokens").as("coverage_ppm"))
      .orderBy("source")
  }

  /** Overlap fraction (ppm) at or above which q_contamination_frac
    * recommends dropping a train doc.
    */
  private[graft] val ContamDropPpm = 100000L

  /** q_contamination_frac — graded decontamination: for every train doc
    * the FRACTION of its distinct shingle hashes that appear anywhere in
    * the benchmark set (exact integer ppm), plus the drop recommendation
    * at [[ContamDropPpm]]. q_decontaminate's any-hit count answers "is
    * this doc touched at all"; real filters grade the touch — a quoted
    * benchmark question (high fraction) is a drop, one shared idiomatic
    * 3-gram (tiny fraction) is noise. Same scale shape as
    * q_decontaminate: the benchmark side is bounded by construction so
    * its distinct hash set broadcasts; sizes and hits are each one
    * combining per-doc count.
    */
  def contaminationFrac(s: SparkSession, d: String): DataFrame = {
    val postings = ngramPostings(s, d)
    val benchSh = postings.where(col("doc_id") % 20 === 0)
      .select(col("sh")).distinct()
    val train = postings.where(col("doc_id") % 20 =!= 0)
    val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val hits = train.join(benchSh, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    sizes.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("frac_ppm", expr("n_hits * 1000000 DIV n_sh"))
      .withColumn("drop", col("frac_ppm") >= ContamDropPpm)
      .orderBy("doc_id")
  }

  /** Winsorize cut ranks, in ppm of each source's doc count: drop below
    * the 5th and above the 95th token-length percentile.
    */
  private[graft] val TrimLoPpm = 50000L
  private[graft] val TrimHiPpm = 950000L

  /** q_length_trim — per-source length winsorization audit: exact
    * discrete 5th/95th token-length percentiles and the keep/drop census
    * under them. Truncated docs and concatenation accidents live in the
    * length tails, and the trim bounds must be PER SOURCE — a p95 cut
    * computed corpus-wide would gut the long-form source.
    *
    * Percentile-by-sort does not scale (a per-source window ranks the
    * corpus in ≤|sources| partitions — corpus-sized sort, catastrophic
    * skew), so this computes EXACT percentiles from the (source, length)
    * HISTOGRAM instead: one combining corpus aggregate, then a
    * metadata-sized cumulative window over histogram rows (the
    * q_compact_plan / q_budget_select discipline), then cut values as
    * p = min length whose cumulative count reaches the ppm rank
    * (percentile_disc semantics, all-integer compare). Even the census
    * is answered FROM the histogram — the corpus is scanned exactly
    * once.
    */
  def lengthTrim(s: SparkSession, d: String): DataFrame = {
    val byLen = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("n_tokens")
    val all = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val cum = Tables.documents(s, d)
      .select(col("source"), coalesce(col("text"), lit("")).as("text"))
      .withColumn("n_tokens", expr(s"CAST(size($toks) AS BIGINT)"))
      .groupBy("source", "n_tokens").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(byLen))
      .withColumn("n", sum(col("cnt")).over(all))
    val cuts = cum.groupBy("source").agg(
      min(when(col("cum") * 1000000 >= col("n") * TrimLoPpm, col("n_tokens")))
        .as("p_lo_tokens"),
      min(when(col("cum") * 1000000 >= col("n") * TrimHiPpm, col("n_tokens")))
        .as("p_hi_tokens"))
    cum.join(cuts, Seq("source"))
      .withColumn("keep",
        col("n_tokens") >= col("p_lo_tokens") && col("n_tokens") <= col("p_hi_tokens"))
      .groupBy("source").agg(
        sum(col("cnt")).as("n_docs"),
        max(col("p_lo_tokens")).as("p_lo_tokens"),
        max(col("p_hi_tokens")).as("p_hi_tokens"),
        sum(when(col("keep"), col("cnt")).otherwise(lit(0L))).as("n_kept"),
        sum(when(!col("keep"), col("cnt")).otherwise(lit(0L))).as("n_dropped"))
      .orderBy("source")
  }

  /** q_dedup_cross_source — the duplicate FLOW matrix: for every
    * confirmed near-duplicate cluster, which source keeps the
    * representative and which sources lose members to it —
    * (rep_source, dup_source, n_docs dropped). q_source_overlap
    * measures shared shingle mass (a symmetric similarity);
    * this measures the dedup DECISION's direction — who actually
    * absorbs whom once clustering runs — which is what a curation
    * review asks when one source is suspected of mirroring another.
    * Cost: the memoized cc label table (shared with q_dedup_cc /
    * q_dedup_cluster_stats — no recompute) joined twice against the
    * (doc_id, source) projection, then one combining aggregate over a
    * ≤|sources|² result.
    */
  def dedupCrossSource(s: SparkSession, d: String): DataFrame = {
    val labels = ccLabelsFor(s, d)
    val srcs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    labels.where(col("doc_id") =!= col("rep_id"))
      .join(srcs.select(col("doc_id"), col("source").as("dup_source")), Seq("doc_id"))
      .join(srcs.select(col("doc_id").as("rep_id"), col("source").as("rep_source")),
        Seq("rep_id"))
      .groupBy("rep_source", "dup_source")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("rep_source", "dup_source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact"         -> (dedupExact _),
    "q_dedup_minhash_sig"   -> (dedupMinhashSig _),
    "q_dedup_minhash_pairs" -> (dedupMinhashPairs _),
    "q_dedup_cc"            -> (dedupCc _),
    "q_dedup_cluster_stats" -> (dedupClusterStats _),
    "q_dedup_incremental"   -> (dedupIncremental _),
    "q_dedup_simhash"       -> (dedupSimhash _),
    "q_dedup_near"          -> (dedupNear _),
    "q_dedup_near_collapsed" -> (dedupNearCollapsed _),
    "q_dedup_ngram"         -> (dedupNgram _),
    "q_dedup_embed"         -> (dedupEmbed _),
    "q_dedup_semantic"      -> (dedupSemantic _),
    "q_dedup_overflow_report" -> (dedupOverflowReport _),
    "q_substrate_stats"     -> (substrateStats _),
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
    "q_text_tokens"         -> (textTokens _),
    "q_text_stats"          -> (textStats _),
    "q_text_langid"         -> (textLangid _),
    "q_text_quality"        -> (textQuality _),
    "q_text_token_count"    -> (textTokenCount _),
    "q_text_fingerprint"    -> (textFingerprint _),
    "q_text_clean"          -> (textClean _),
    "q_text_repetition"     -> (textRepetition _),
    "q_text_tfidf"          -> (textTfidf _),
    "q_quality_filter"      -> (qualityFilter _),
    "q_dedup_keep_best"     -> (dedupKeepBest _),
    "q_sample_stratified"   -> (sampleStratified _),
    "q_decontaminate"       -> (decontaminate _),
    "q_decontaminate_bloom" -> (decontaminateBloom _),
    "q_source_overlap"      -> (sourceOverlap _),
    "q_corpus_shuffle"      -> (corpusShuffle _),
    "q_pack_sequences"      -> (packSequences _),
    "q_pipeline_curate"     -> (pipelineCurate _),
    "q_mix_weights"         -> (mixWeights _),
    "q_mix_temperature"     -> (mixTemperature _),
    "q_boilerplate_score"   -> (boilerplateScore _),
    "q_pii_scan"            -> (piiScan _),
    "q_pii_redact"          -> (piiRedact _),
    "q_shard_manifest"      -> (shardManifest _),
    "q_jsonl_roundtrip"     -> (jsonlRoundtrip _),
    "q_jsonl_audit"         -> (jsonlAudit _),
    "q_doc_windows"         -> (docWindows _),
    "q_compression_ratio"   -> (compressionRatio _),
    "q_ngram_counts"        -> (ngramCounts _),
    "q_bpe_pairs"           -> (bpePairs _),
    "q_bpe_train"           -> (bpeTrain _),
    "q_bpe_apply"           -> (bpeApply _),
    "q_budget_select"       -> (budgetSelect _),
    "q_source_cap"          -> (sourceCap _),
    "q_quality_drift"       -> (qualityDrift _),
    "q_dedup_verify"        -> (dedupVerify _),
    "q_split_assign"        -> (splitAssign _),
    "q_vocab_coverage"      -> (vocabCoverage _),
    "q_contamination_frac"  -> (contaminationFrac _),
    "q_length_trim"         -> (lengthTrim _),
    "q_dedup_cross_source"  -> (dedupCrossSource _),
    "q_dedup_paragraph"     -> (dedupParagraph _),
    "q_text_diversity"      -> (textDiversity _),
    "q_heavy_hitters"       -> (heavyHitters _),
    "q_dedup_editdist"      -> (dedupEditdist _),
    "q_sample_weighted"     -> (sampleWeighted _),
    "q_dedup_substring"     -> (dedupSubstring _),
    "q_dedup_substring_winnow" -> (dedupSubstringWinnow _),
    "q_dedup_substring_auto" -> (dedupSubstringAuto _),
    "q_dedup_collapsed_jaccard" -> (dedupCollapsedJaccard _),
    "q_lm_fluency"          -> (lmFluency _),
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

  // ---- SQL fragments shared by the DuckDB oracle (staticOracle) and the
  // Spark-SQL surface (sparkSql): one named copy of each block that two
  // texts share. Where the dialects differ, the differing sub-expression
  // is an argument; a fragment never branches on its caller's dialect.
  // SqlTextDump (test scope) proves a refactor here leaves every
  // rendered text byte-identical.

  /** Exact integer dot of two DuckDB integer lists. */
  private def dotDuck(a: String, b: String) =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) AS BIGINT)"

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

  /** Capped-bucket candidate pairs over a banded MinHash relation `src`
    * (mirrors minhashPairsFromBanded): `ok` keeps buckets of at most
    * HotBucketCap members; the join pairs the docs sharing one.
    */
  private def bandOk(src: String) =
    s"ok AS (SELECT band, band_key FROM $src GROUP BY band, band_key " +
      s"HAVING count(*) <= $HotBucketCap)"
  private def bandPairsJoin(src: String) =
    s"SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM $src a " +
      "JOIN ok ON ok.band = a.band AND ok.band_key = a.band_key " +
      s"JOIN $src b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id"
  private def bandPairs(src: String, name: String) =
    s"${bandOk(src)}, $name AS (${bandPairsJoin(src)})"

  /** Exact shingle-set sizes `sz` and pair intersections `iv` for the
    * candidate pairs `pr` over their hashed distinct shingles `hv`.
    */
  private val pairInterCtes =
    "sz AS (SELECT doc_id, count(*) AS n FROM hv GROUP BY doc_id), " +
      "iv AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter FROM pr p " +
      "JOIN hv a ON a.doc_id = p.doc_a " +
      "JOIN hv b ON b.doc_id = p.doc_b AND b.h = a.h " +
      "GROUP BY p.doc_a, p.doc_b)"

  /** The verified near-duplicate pairs of `iv`: 2·|∩| > |∪| in integers. */
  private def verifiedPairs(one: String) =
    "SELECT iv.doc_a, iv.doc_b, " +
      s"$one - CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard_dist " +
      "FROM iv JOIN sz sa ON sa.doc_id = iv.doc_a JOIN sz sb ON sb.doc_id = iv.doc_b " +
      "WHERE 2 * n_inter > sa.n + sb.n - n_inter"

  /** q_dedup_near's banding input: `bands` restricted to the min-doc_id
    * representative of each exact-copy group (`docrep`).
    */
  private val nearRepBands =
    "mem AS (SELECT doc_id, md5(coalesce(text, '')) AS norm_key FROM documents), " +
      "grp AS (SELECT norm_key, min(doc_id) AS rep FROM mem GROUP BY norm_key), " +
      "docrep AS (SELECT m.doc_id, g.rep FROM mem m JOIN grp g ON g.norm_key = m.norm_key), " +
      "rb AS (SELECT b.doc_id, b.band, b.band_key FROM bands b " +
      "JOIN docrep dr ON dr.doc_id = b.doc_id AND dr.rep = b.doc_id)"

  /** Re-expands the verified rep pairs `rp` through the copy groups. */
  private def nearExpand(zero: String) =
    "ex AS (SELECT least(ma.doc_id, mb.doc_id) AS doc_a, " +
      "greatest(ma.doc_id, mb.doc_id) AS doc_b, jaccard_dist " +
      "FROM rp JOIN docrep ma ON ma.rep = rp.doc_a JOIN docrep mb ON mb.rep = rp.doc_b " +
      s"UNION ALL SELECT m1.doc_id, m2.doc_id, $zero " +
      "FROM docrep m1 JOIN docrep m2 ON m1.rep = m2.rep AND m1.doc_id < m2.doc_id) " +
      "SELECT doc_a, doc_b, jaccard_dist FROM ex ORDER BY doc_a, doc_b"

  // the cc family's cluster reports over the label table `lab`
  private val ccClusterStats =
    "SELECT l.rep_id, count(*) AS n_docs, count(*) - 1 AS n_dropped, " +
      "CAST(sum(CASE WHEN d.doc_id <> l.rep_id THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_dropped " +
      "FROM lab l JOIN documents d ON d.doc_id = l.doc_id " +
      "GROUP BY l.rep_id ORDER BY l.rep_id"
  private def ccCrossSource(groupBy: String) =
    "SELECT rs.source AS rep_source, ds.source AS dup_source, count(*) AS n_docs " +
      "FROM lab l JOIN documents ds ON ds.doc_id = l.doc_id " +
      "JOIN documents rs ON rs.doc_id = l.rep_id " +
      "WHERE l.doc_id <> l.rep_id " +
      s"GROUP BY $groupBy ORDER BY rep_source, dup_source"

  /** q_dedup_incremental over the source-tagged bands `sb`: batch (src0)
    * docs against the capped history buckets.
    */
  private val incrementalTail =
    "hist AS (SELECT doc_id AS hist_id, band, band_key FROM sb " +
      "WHERE source <> 'src0'), " +
      "okb AS (SELECT band, band_key FROM hist GROUP BY band, band_key " +
      s"HAVING count(DISTINCT hist_id) <= $HotBucketCap), " +
      "batch AS (SELECT doc_id, band, band_key FROM sb WHERE source = 'src0') " +
      "SELECT b.doc_id, count(DISTINCT h.hist_id) AS n_hist_dups, " +
      "min(h.hist_id) AS first_hist_id " +
      "FROM batch b JOIN okb o ON o.band = b.band AND o.band_key = b.band_key " +
      "JOIN hist h ON h.band = b.band AND h.band_key = b.band_key " +
      "GROUP BY b.doc_id ORDER BY b.doc_id"

  /** The five capped families' overflow group-counts over their CTEs
    * (bands, sim_bands, ng_ds, em_n), keys cast to the dialect's `str`.
    */
  private def overflowUnion(str: String) =
    "SELECT family, key1, key2, n_members FROM (" +
      s"SELECT 'minhash' AS family, CAST(band AS $str) AS key1, " +
      "band_key AS key2, count(*) AS n_members FROM bands " +
      s"GROUP BY 1, 2, 3 HAVING count(*) > $HotBucketCap " +
      "UNION ALL " +
      s"SELECT 'simhash', CAST(b AS $str), CAST(bv AS $str), count(*) FROM sim_bands " +
      s"GROUP BY 1, 2, 3 HAVING count(*) > $HotBucketCap " +
      "UNION ALL " +
      s"SELECT 'ngram', CAST(sh AS $str), '', count(DISTINCT doc_id) FROM ng_ds " +
      s"GROUP BY 1, 2, 3 HAVING count(DISTINCT doc_id) > $NgramDfCap " +
      "UNION ALL " +
      s"SELECT 'embed', CAST(label AS $str), CAST(bucket AS $str), count(*) FROM em_n " +
      s"GROUP BY 1, 2, 3 HAVING count(*) > $HotBucketCap " +
      "UNION ALL " +
      s"SELECT 'semantic', CAST(bucket AS $str), '', count(*) FROM em_n " +
      s"GROUP BY 1, 2, 3 HAVING count(*) > $HotBucketCap" +
      ") ORDER BY family, key1, key2"

  /** Exact shingle Jaccard over the postings `ds` (q_dedup_ngram and
    * its collapsed form). df-cap mirror: only shingles present in
    * 2..NgramDfCap DISTINCT docs count toward |∩| (mirrors
    * ngramPairsFromPostings's size(collect_set(doc_id)) <= cap). COUNT
    * DISTINCT on both doc_id here and sh in `inter` because ds can carry
    * duplicate (doc, sh) rows when two distinct shingle strings of one
    * doc collide in the 60-bit hash — list_distinct dedups strings, not
    * hashes; a raw count(*) would then diverge from Spark's set-based cap
    * and double-count the shared shingle.
    */
  private val ngramJaccardTail =
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY doc_id), " +
      "ok AS (SELECT sh FROM ds GROUP BY sh " +
      s"HAVING count(DISTINCT doc_id) > 1 AND count(DISTINCT doc_id) <= $NgramDfCap), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(DISTINCT a.sh) AS n_inter " +
      "FROM ds a JOIN ok ON ok.sh = a.sh " +
      "JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, " +
      "CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard " +
      "FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b " +
      "ORDER BY jaccard DESC, doc_a, doc_b LIMIT 100"

  /** Benchmark contamination over the postings CTE `dsCte`: every 20th
    * doc is the benchmark; count each other doc's shared shingles.
    */
  private def decontamSql(dsCte: String, zero: String) =
    s"$dsCte, " +
      "bench AS (SELECT DISTINCT sh FROM ds WHERE doc_id % 20 = 0), " +
      "hits AS (SELECT doc_id, count(*) AS n_hits FROM ds JOIN bench USING (sh) " +
      "WHERE doc_id % 20 <> 0 GROUP BY doc_id) " +
      s"SELECT d.doc_id, COALESCE(hits.n_hits, $zero) AS n_hits " +
      "FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id " +
      "WHERE d.doc_id % 20 <> 0 ORDER BY d.doc_id"

  /** Pairwise source overlap over the postings CTE `dsCte`. */
  private def sourceOverlapSql(dsCte: String, overlapPpm: String) =
    s"$dsCte, " +
      "ss AS (SELECT DISTINCT d.source, ds.sh FROM ds " +
      "JOIN documents d ON d.doc_id = ds.doc_id), " +
      "sizes AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY source), " +
      "ok AS (SELECT sh FROM ss GROUP BY sh " +
      s"HAVING count(*) >= 2 AND count(*) <= $SourceDfCap), " +
      "p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared " +
      "FROM ss a JOIN ok ON ok.sh = a.sh JOIN ss b ON a.sh = b.sh " +
      "AND a.source < b.source GROUP BY 1, 2) " +
      "SELECT src_a, src_b, n_shared, " +
      s"$overlapPpm AS overlap_ppm " +
      "FROM p JOIN sizes sa ON sa.source = src_a " +
      "JOIN sizes sb ON sb.source = src_b ORDER BY src_a, src_b"

  /** Sequence packing: each doc's bin by exclusive running token sum per source. */
  private def packBinsSql(src: String, bin: String) =
    "c AS (SELECT doc_id, source, n_tokens, " +
      s"sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens AS cum_excl FROM $src) " +
      s"SELECT doc_id, source, n_tokens, $bin AS bin " +
      "FROM c ORDER BY source, doc_id"

  /** The quality filter's rejection rules in priority order, over
    * n_tokens, n_stop, n_chars, n_sh and n_dup: (predicate, reason).
    */
  private val qfRules = Seq(
    s"n_tokens < $QfMinTokens" -> "too_short",
    s"n_stop * $QfStopDivisor < n_tokens" -> "low_stopword",
    s"(n_chars - (n_tokens - 1)) * 10 > $QfLongTokTenths * n_tokens" -> "long_tokens",
    s"n_dup * $QfRepDivisor > n_sh" -> "repetitive")
  private val qfReason =
    qfRules.map { case (p, r) => s"WHEN $p THEN '$r' " }.mkString("CASE ", "", "ELSE 'ok' END AS reason")
  private val qfKeep = qfRules.map { case (p, _) => s"NOT ($p)" }.mkString(" AND ")

  private val textQualitySelect =
    "SELECT doc_id, n_tokens, n_stop, CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio, " +
      "CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_tok_len, " +
      "least(CAST(n_tokens AS DOUBLE) / 100, CAST(1 AS DOUBLE)) * 0.4 + " +
      "(CAST(n_stop AS DOUBLE) / n_tokens) * 0.3 + " +
      "least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 8, CAST(1 AS DOUBLE)) * 0.3 AS quality " +
      "FROM t ORDER BY doc_id"

  /** Per-label outlier top-k over per-dim sums `g` of the exploded `e`. */
  private val outliersTail =
    "FROM e JOIN g ON g.label = e.label AND g.dim = e.dim " +
      "GROUP BY e.label, e.vec_id), " +
      "r AS (SELECT label, vec_id, score, row_number() OVER " +
      "(PARTITION BY label ORDER BY score DESC, vec_id) AS rn FROM s) " +
      s"SELECT label, vec_id, score FROM r WHERE rn <= $OutlierTopK " +
      "ORDER BY label, score DESC, vec_id"

  /** Per-doc token counts over the dialect's token generator `tokens`. */
  private def textDiversitySql(tokens: String) =
    s"WITH t AS (SELECT doc_id, $tokens AS w FROM documents), " +
      "c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY doc_id, w) " +
      "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
      "CAST(count(*) AS BIGINT) AS n_distinct, " +
      "CAST(sum(c * c) AS BIGINT) AS simpson_num " +
      "FROM c GROUP BY doc_id ORDER BY doc_id"

  /** Top-5 tokens per language over the dialect's token generator. */
  private def textTokensSql(tokens: String) =
    "SELECT lang, rn, tok, n FROM (SELECT lang, tok, count(*) AS n, " +
      "row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok ASC) AS rn " +
      s"FROM (SELECT lang, $tokens AS tok FROM documents) " +
      "GROUP BY lang, tok) WHERE rn <= 5 ORDER BY lang, rn"

  // Substring dedup over per-position window hashes `w` (doc_id, pos, h).
  // Winnowed fingerprints `fp`: the min hash of every WinnowK window.
  private val winnowFp =
    "fp AS (SELECT DISTINCT doc_id, h FROM (SELECT doc_id, " +
      "min(h) OVER (PARTITION BY doc_id ORDER BY pos " +
      s"ROWS BETWEEN CURRENT ROW AND ${WinnowK - 1} FOLLOWING) AS h FROM w))"
  private def dfCappedHashes(name: String, src: String) =
    s"$name AS (SELECT h FROM $src GROUP BY h HAVING count(*) BETWEEN 2 AND $SubDfCap)"
  private def winnowPairs(g: String) =
    s"FROM fp a JOIN $g USING (h) JOIN fp b USING (h) WHERE a.doc_id < b.doc_id " +
      "GROUP BY 1, 2"
  // stride-1 span accounting: runs of consecutive covered positions per pair
  private def spanRuns(g: String) =
    "ds AS (SELECT DISTINCT doc_id, h FROM w), " +
      s"${dfCappedHashes(g, "ds")}, " +
      "cov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos " +
      s"FROM w a JOIN $g USING (h) JOIN ds b USING (h) WHERE a.doc_id < b.doc_id), " +
      "r AS (SELECT doc_a, doc_b, pos, pos - row_number() " +
      "OVER (PARTITION BY doc_a, doc_b ORDER BY pos) AS grp FROM cov), " +
      "runs AS (SELECT doc_a, doc_b, grp, count(*) AS run_len FROM r GROUP BY 1, 2, 3)"
  private val substringWinnowTail =
    s"$winnowFp, ${dfCappedHashes("g", "fp")} " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(count(*) AS BIGINT) AS n_shared_fps " +
      s"${winnowPairs("g")} ORDER BY doc_a, doc_b"
  private val substringSpanTail =
    s"${spanRuns("g")} SELECT doc_a, doc_b, CAST(sum(run_len) AS BIGINT) AS n_cov_pos, " +
      s"CAST(max(run_len) + ${SubWinW - 1} AS BIGINT) AS longest_span " +
      s"FROM runs GROUP BY 1, 2 HAVING max(run_len) + ${SubWinW - 1} >= $SubMinSpan " +
      "ORDER BY doc_a, doc_b"
  // the auto form: stride-1 spans below SubAutoVolCap corpus chars
  // (scalar subquery over `vol`), winnowing above
  private val substringAutoTail =
    s"${spanRuns("g1")}, " +
      "s1 AS (SELECT doc_a, doc_b, CAST(sum(run_len) AS BIGINT) AS n_matches, " +
      "'stride1' AS mode FROM runs GROUP BY 1, 2 " +
      s"HAVING max(run_len) + ${SubWinW - 1} >= $SubMinSpan), " +
      s"$winnowFp, ${dfCappedHashes("g2", "fp")}, " +
      "wn AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(count(*) AS BIGINT) AS n_matches, 'winnow' AS mode " +
      s"${winnowPairs("g2")}) " +
      s"SELECT * FROM s1 WHERE (SELECT v FROM vol) <= $SubAutoVolCap " +
      s"UNION ALL SELECT * FROM wn WHERE (SELECT v FROM vol) > $SubAutoVolCap " +
      "ORDER BY doc_a, doc_b"

  def oracle: Map[String, String] = staticOracle ++ ivfKmeansDumpOracle

  private val staticOracle: Map[String, String] = {
    val stop = profiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    def hitsDuck(words: Seq[String]): String = {
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text,' '), t -> list_contains([$lst], t))) AS BIGINT)"
    }
    val langidScores = profiles.map { case (l, ws) => s"${hitsDuck(ws)} AS s_$l" }
      .mkString(", ") +
      ", CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS s_zh"
    val langs = profiles.map(_._1) :+ "zh"
    val bestDuck = langs.map(l => s"s_$l").reduce((a, b) => s"greatest($a, $b)")
    val predDuck = langs.foldRight("'und'") { (l, acc) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $acc END"
    }

    // Mirror of minhashBanded: one md5 per shingle → 60-bit base hash →
    // 16 XOR-salted mins → 4 band keys. (No shingle dedup needed: min is
    // idempotent under duplicates.)
    val saltSig = (0 until 16)
      .map(i => s"min(xor(h, ${MinhashSalts(i)})) AS sig$i").mkString(", ")
    val minhashBandsDuck = {
      def bandSel(b: Int) = {
        val cols = (0 until 4).map(i => s"CAST(sig${4 * b + i} AS VARCHAR)").mkString(", ")
        s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS band_key FROM sig"
      }
      s"WITH sh AS (SELECT doc_id, unnest($shinglesDuck) AS s FROM documents), " +
        "base AS (SELECT doc_id, " +
        "CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) AS h FROM sh), " +
        s"sig AS (SELECT doc_id, $saltSig FROM base GROUP BY doc_id), " +
        s"bands AS (${(0 until 4).map(bandSel).mkString(" UNION ALL ")})"
    }

    // reachability over the symmetric edges of `pairs` (a, b): UNION
    // dedups, so the frontier is the reachability set and terminates
    def reachDuck(a: String, b: String, id: String) =
      s"edges AS (SELECT $a AS u, $b AS v FROM pairs UNION ALL SELECT $b, $a FROM pairs), " +
        s"reach($id, lbl) AS (SELECT u, u FROM edges " +
        s"UNION SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.$id)"
    // the cc family's capped-pairs → symmetric-edges → reachability
    // chain (q_dedup_cc / _cluster_stats / _cross_source), mirroring the
    // shared ccLabelsFor
    val ccReachDuck =
      s"${minhashBandsDuck.replaceFirst("WITH ", "WITH RECURSIVE ")}, " +
        s"${bandPairs("bands", "pairs")}, ${reachDuck("doc_a", "doc_b", "doc_id")}"
    val ccLabDuck = s"$ccReachDuck, lab AS (SELECT doc_id, min(lbl) AS rep_id FROM reach GROUP BY doc_id) "
    // the banded chain's verify stage: distinct hashed shingles of the
    // paired docs, then exact sizes and intersections
    val verifyDuck =
      "din AS (SELECT doc_a AS doc_id FROM pr UNION SELECT doc_b FROM pr), " +
        s"shv AS (SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS s " +
        "FROM documents WHERE doc_id IN (SELECT doc_id FROM din)), " +
        "hv AS (SELECT doc_id, " +
        s"CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) AS h FROM shv), $pairInterCtes"
    // the postings CTE (mirrors ngramPostings: per-doc DISTINCT shingles,
    // 60-bit integer keys)
    val dsShDuck =
      s"CAST(concat('0x', substring(md5(unnest(list_distinct($shinglesDuck))), 1, 15)) AS BIGINT) AS sh"
    val dsDuck = s"WITH ds AS (SELECT doc_id, $dsShDuck FROM documents)"
    val bucketDuck = lshBucketExpr(lshPlaneDotDuck)
    def cosDuck(p: String, v: String) =
      s"${dotDuck(s"$p.qa", s"$v.q")} / sqrt(CAST($p.n2a AS DOUBLE) * " +
        s"CAST(${dotDuck(s"$v.q", s"$v.q")} AS DOUBLE)) AS cos"
    // exact integer squared-L2 between two lists
    def d2Duck(a: String, b: String) =
      s"CAST(list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    // SimHash (mirrors dedupSimhash): 32 signed bit votes → 32-bit hash
    val bitSums = (1 to 32).map(b =>
      s"CAST(sum(CASE WHEN (h >> ${b - 1}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$b")
      .mkString(", ")
    val shSum = (1 to 32).map(b =>
      s"(CASE WHEN v$b > 0 THEN CAST(power(2, ${32 - b}) AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val simHashDuck = s"CAST(concat('0x', substring(md5(unnest($shinglesDuck)), 1, 15)) AS BIGINT) AS h"
    val subWinDuck =
      "w AS (SELECT doc_id, CAST(u AS BIGINT) AS pos, " +
        "CAST(concat('0x', substring(md5(substring(text, CAST(u AS INT), " +
        s"$SubWinW)), 1, 15)) AS BIGINT) AS h " +
        s"FROM documents, unnest(generate_series(1, n_chars - ${SubWinW - 1})) AS t(u) " +
        s"WHERE n_chars >= $SubWinW)"
    val mixTokensDuck =
      "WITH t AS (SELECT source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "ps AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS source_tokens " +
        "FROM t GROUP BY source), "

    Map(
      "q_dedup_exact" ->
        ("SELECT min(doc_id) AS keep_id, count(*) AS n_copies, " +
          "md5(lower(trim(text))) AS norm_md5 FROM documents " +
          "GROUP BY md5(lower(trim(text))) ORDER BY keep_id"),
      "q_dedup_minhash_sig" ->
        (s"$minhashBandsDuck " +
          "SELECT doc_id, band, band_key FROM bands ORDER BY doc_id, band"),
      "q_dedup_minhash_pairs" ->
        (s"$minhashBandsDuck, ${bandOk("bands")} " +
          s"${bandPairsJoin("bands")} ORDER BY doc_a, doc_b"),
      // full-distance CASE mirrors the Spark side's banded
      // levenshtein(a, b, K) early exit (-1 past the threshold) and the
      // length lower-bound shortcut, both result-neutral by the metric
      "q_dedup_editdist" ->
        (s"$minhashBandsDuck, ${bandPairs("bands", "p")} " +
          "SELECT doc_a, doc_b, " +
          s"CAST(CASE WHEN levenshtein(da.text, db.text) <= $EditDistMax " +
          s"THEN levenshtein(da.text, db.text) ELSE -1 END AS BIGINT) AS edit_dist, " +
          s"levenshtein(da.text, db.text) <= $EditDistMax AS is_dup " +
          "FROM p JOIN documents da ON da.doc_id = p.doc_a " +
          "JOIN documents db ON db.doc_id = p.doc_b ORDER BY doc_a, doc_b"),
      // Transitive closure of the candidate-pair graph: min reachable
      // doc_id per node via a recursive CTE (UNION dedups, so the
      // frontier is the reachability set and terminates). Mirrors the
      // Spark side's min-label-propagation fixpoint exactly.
      "q_dedup_cc" ->
        (s"$ccReachDuck SELECT doc_id, min(lbl) AS rep_id FROM reach GROUP BY doc_id " +
          "ORDER BY doc_id"),
      "q_dedup_cluster_stats" -> (ccLabDuck + ccClusterStats),
      "q_dedup_cross_source" -> (ccLabDuck + ccCrossSource("1, 2")),
      "q_dedup_incremental" ->
        (s"$minhashBandsDuck, " +
          "src AS (SELECT doc_id, source FROM documents), " +
          "sb AS (SELECT b.doc_id, b.band, b.band_key, s.source " +
          s"FROM bands b JOIN src s ON s.doc_id = b.doc_id), $incrementalTail"),
      "q_dedup_simhash" ->
        (s"WITH hs AS (SELECT doc_id, $simHashDuck FROM documents), " +
          s"bits AS (SELECT doc_id, $bitSums FROM hs GROUP BY doc_id), " +
          s"sh AS (SELECT doc_id, $shSum AS simhash FROM bits), " +
          "bands AS (SELECT doc_id, simhash, b, " +
          "CAST(floor(simhash / power(256, 3 - b)) AS BIGINT) % 256 AS bv " +
          "FROM sh, (SELECT unnest(generate_series(0, 3)) AS b) bb), " +
          "ok AS (SELECT b, bv FROM bands GROUP BY b, bv " +
          s"HAVING count(*) <= ${LlmPipeline.HotBucketCap}) " +
          "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
          "bit_count(xor(a.simhash, b.simhash)) AS hamming " +
          "FROM bands a JOIN ok ON ok.b = a.b AND ok.bv = a.bv " +
          "JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8 ORDER BY doc_a, doc_b"),
      "q_dedup_ngram" -> s"$dsDuck, $ngramJaccardTail",
      "q_dedup_embed" ->
        (s"WITH q AS (SELECT vec_id, label, $quantDuck AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, label, q, ${dotDuck("q", "q")} AS n2, " +
          s"CAST($bucketDuck AS INTEGER) AS bucket FROM q), " +
          "ok AS (SELECT label, bucket FROM n GROUP BY 1, 2 " +
          s"HAVING count(*) > 1 AND count(*) <= $HotBucketCap) " +
          s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${dotDuck("a.q", "b.q")} " +
          "/ sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos " +
          "FROM n a JOIN ok ON ok.label = a.label AND ok.bucket = a.bucket " +
          "JOIN n b ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id " +
          "ORDER BY cos DESC, vec_a, vec_b LIMIT 100"),
      "q_dedup_semantic" ->
        (s"WITH RECURSIVE q AS (SELECT vec_id, $quantDuck AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, q, ${dotDuck("q", "q")} AS n2, " +
          s"CAST($bucketDuck AS INTEGER) AS bucket FROM q), " +
          "okb AS (SELECT bucket FROM n GROUP BY 1 " +
          s"HAVING count(*) > 1 AND count(*) <= $HotBucketCap), " +
          s"cand AS (SELECT a.vec_id AS va, b.vec_id AS vb, ${dotDuck("a.q", "b.q")} AS dp, " +
          "a.n2 AS n2a, b.n2 AS n2b " +
          "FROM n a JOIN okb ON okb.bucket = a.bucket " +
          "JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
          "pairs AS (SELECT va, vb FROM cand WHERE dp > 0 " +
          s"AND CAST(dp AS HUGEINT) * CAST(dp AS HUGEINT) * $SemTauDen >= " +
          s"$SemTauNum * CAST(n2a AS HUGEINT) * CAST(n2b AS HUGEINT)), " +
          s"${reachDuck("va", "vb", "vec_id")}, " +
          "lab AS (SELECT vec_id, min(lbl) AS rep_id FROM reach GROUP BY vec_id) " +
          "SELECT e.vec_id, coalesce(l.rep_id, e.vec_id) AS rep_id, " +
          "coalesce(l.rep_id, e.vec_id) = e.vec_id AS keep " +
          "FROM embeddings e LEFT JOIN lab l ON l.vec_id = e.vec_id " +
          "ORDER BY e.vec_id"),
      // Five group-count mirrors of the capped families' overflow
      // predicates, unioned under a family tag — stringified keys so the
      // heterogeneous block keys share one relation. Empty on the
      // fixtures; the planted-hot-block spec drives each non-empty path.
      "q_dedup_overflow_report" ->
        (s"$minhashBandsDuck, " +
          s"sim_hs AS (SELECT doc_id, $simHashDuck FROM documents), " +
          s"sim_bits AS (SELECT doc_id, $bitSums FROM sim_hs GROUP BY doc_id), " +
          s"sim_sig AS (SELECT doc_id, $shSum AS simhash FROM sim_bits), " +
          "sim_bands AS (SELECT doc_id, b, " +
          "CAST(floor(simhash / power(256, 3 - b)) AS BIGINT) % 256 AS bv " +
          "FROM sim_sig, (SELECT unnest(generate_series(0, 3)) AS b) bb), " +
          s"ng_ds AS (SELECT doc_id, $dsShDuck FROM documents), " +
          s"em_q AS (SELECT vec_id, label, $quantDuck AS q FROM embeddings), " +
          s"em_n AS (SELECT vec_id, label, CAST($bucketDuck AS INTEGER) AS bucket FROM em_q) " +
          overflowUnion("VARCHAR")),
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
        // (LlmPipeline:2357) and the zonemap mirror (Storage:395); the
        // Spark side keeps its DECIMAL(38,0) DIV guard.
        s"WITH q AS (SELECT vec_id, $quantDuck AS q FROM embeddings), " +
          s"b AS (SELECT CAST($bucketDuck AS INTEGER) AS bucket FROM q), " +
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
      "q_text_tokens" -> textTokensSql("unnest(string_split(text, ' '))"),
      "q_text_stats" ->
        ("SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
          "CAST(sum(n_chars) * 1000000 // count(n_chars) AS BIGINT) AS avg_chars_micros, " +
          "count(DISTINCT lang) AS n_langs FROM documents GROUP BY source ORDER BY source"),
      "q_text_langid" ->
        (s"WITH scored AS (SELECT doc_id, lang, $langidScores FROM documents), " +
          s"b AS (SELECT *, $bestDuck AS best FROM scored) " +
          s"SELECT doc_id, lang, $predDuck AS pred_lang, best AS score " +
          "FROM b ORDER BY doc_id"),
      "q_text_quality" ->
        (s"WITH t AS (SELECT doc_id, n_chars, " +
          "CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens, " +
          s"CAST(len(list_filter(string_split(text,' '), t -> list_contains([$stop], t))) AS BIGINT) AS n_stop " +
          s"FROM documents) $textQualitySelect"),
      "q_text_token_count" ->
        ("SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens, " +
          "CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS bpe_ish_tokens, " +
          "n_chars FROM documents ORDER BY doc_id"),
      "q_text_fingerprint" ->
        (s"SELECT doc_id, " +
          "md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp_sorted, " +
          s"list_min(list_transform($shinglesDuck, s -> md5(s))) AS fp_min " +
          "FROM documents ORDER BY doc_id"),
      "q_text_clean" ->
        (s"SELECT doc_id, " +
          s"array_to_string(list_filter(string_split(text, ' '), t -> NOT list_contains([$stop], t)), ' ') AS clean_text, " +
          s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$stop], t))) AS BIGINT) AS n_removed " +
          "FROM documents ORDER BY doc_id"),
      "q_text_repetition" ->
        (s"WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents), " +
          s"t AS (SELECT doc_id, $shinglesDuck AS sh FROM d0) " +
          "SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles, " +
          "CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct, " +
          "CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh) AS dup_ratio " +
          "FROM t ORDER BY doc_id"),
      "q_ngram_counts" ->
        ("WITH d0 AS (SELECT coalesce(text, '') AS text FROM documents), " +
          "tk AS (SELECT string_split(text, ' ') AS t FROM d0), " +
          "b AS (SELECT concat(t[u], ' ', t[u + 1]) AS bigram FROM " +
          "(SELECT t, unnest(generate_series(1, len(t) - 1)) AS u FROM tk)) " +
          "SELECT bigram, count(*) AS n FROM b GROUP BY bigram " +
          s"ORDER BY n DESC, bigram LIMIT $NgramTopK"),
      "q_bpe_pairs" ->
        ("WITH w AS (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w " +
          "FROM documents), " +
          "p AS (SELECT substr(w, u, 2) AS pair FROM " +
          "(SELECT w, unnest(generate_series(1, len(w) - 1)) AS u FROM w " +
          "WHERE len(w) >= 2)) " +
          "SELECT pair, count(*) AS n FROM p GROUP BY pair " +
          "ORDER BY n DESC, pair LIMIT 50"),
      "q_bpe_train" -> bpeTrainSql(duck = true),
      "q_bpe_apply" -> bpeApplySql(duck = true),
      "q_budget_select" ->
        (s"WITH d0 AS (SELECT coalesce(text, '') AS text FROM documents), " +
          "t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
          s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$stop], t))) AS BIGINT) AS n_stop " +
          "FROM d0), " +
          s"sc AS (SELECT n_tokens, n_stop * 1000000 // n_tokens // $SelectBucketPpm AS bucket FROM t), " +
          "b AS (SELECT bucket, count(*) AS n_docs, " +
          "CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens FROM sc GROUP BY bucket), " +
          "c AS (SELECT *, CAST(sum(bucket_tokens) OVER (ORDER BY bucket DESC) AS BIGINT) AS cum_tokens FROM b) " +
          "SELECT bucket, n_docs, bucket_tokens, cum_tokens, " +
          s"cum_tokens - bucket_tokens < $SelectTokenBudget AS selected " +
          "FROM c ORDER BY bucket DESC"),
      // the oracle states the only acceptable roundtrip answer: every
      // source row comes back intact (loss shows as n_intact < n_docs)
      "q_jsonl_roundtrip" ->
        ("SELECT source, count(*) AS n_docs, count(*) AS n_intact " +
          "FROM documents GROUP BY source ORDER BY source"),
      // shard hash recomputed relationally + zero corruption asserted
      "q_jsonl_audit" ->
        (s"SELECT CAST(doc_id * 2654435761 % 4294967296 % " +
          s"${graft.sources.JsonlCorpus.NShards} AS BIGINT) AS shard, " +
          "count(*) AS n_lines, count(*) AS n_parsed, " +
          "CAST(0 AS BIGINT) AS n_corrupt " +
          "FROM documents GROUP BY shard ORDER BY shard"),
      // dialect-neutral: runs verbatim in DuckDB and Spark
      "q_source_cap" ->
        ("SELECT doc_id, source, n_chars, CAST(rn AS INTEGER) AS rn FROM " +
          "(SELECT doc_id, source, n_chars, " +
          "row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn " +
          s"FROM documents) t WHERE rn <= $SourceCapK ORDER BY source, rn, doc_id"),
      "q_quality_drift" ->
        (s"WITH d0 AS (SELECT source, coalesce(text, '') AS text FROM documents), " +
          "t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
          s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$stop], t))) AS BIGINT) AS n_stop " +
          "FROM d0), " +
          s"sc AS (SELECT source, n_stop * 1000000 // n_tokens // $DriftBucketPpm AS bucket FROM t), " +
          "hist AS (SELECT source, bucket, count(*) AS cnt FROM sc GROUP BY source, bucket), " +
          "grid AS (SELECT s.source, b.bucket FROM " +
          "(SELECT DISTINCT source FROM hist) s, (SELECT DISTINCT bucket FROM hist) b), " +
          "tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs FROM hist GROUP BY source), " +
          "dense AS (SELECT g.source, g.bucket, " +
          "coalesce(h.cnt, 0) * 1000000 // t.n_docs AS share_ppm " +
          "FROM grid g LEFT JOIN hist h ON h.source = g.source AND h.bucket = g.bucket " +
          "JOIN tot t ON t.source = g.source) " +
          "SELECT a.source AS src_a, b.source AS src_b, " +
          "CAST(sum(abs(a.share_ppm - b.share_ppm)) // 2 AS BIGINT) AS tvd_ppm " +
          "FROM dense a JOIN dense b ON a.bucket = b.bucket AND a.source < b.source " +
          "GROUP BY 1, 2 ORDER BY src_a, src_b"),
      "q_dedup_verify" ->
        (s"$minhashBandsDuck, ${bandPairs("bands", "pr")}, $verifyDuck, " +
          "jv AS (SELECT p.doc_a, p.doc_b, " +
          "CAST(coalesce(iv.n_inter, 0) * 1000000 // " +
          "(sa.n + sb.n - coalesce(iv.n_inter, 0)) AS BIGINT) AS jaccard_ppm " +
          "FROM pr p LEFT JOIN iv ON iv.doc_a = p.doc_a AND iv.doc_b = p.doc_b " +
          "JOIN sz sa ON sa.doc_id = p.doc_a JOIN sz sb ON sb.doc_id = p.doc_b) " +
          "SELECT doc_a, doc_b, jaccard_ppm, " +
          s"jaccard_ppm >= ${LlmPipeline.VerifyDupPpm} AS is_dup " +
          "FROM jv ORDER BY doc_a, doc_b"),
      // q_dedup_near / _collapsed: the banded+verified chain is fully
      // deterministic (fixed salts, exact integer Jaccard), so the
      // formerly no-oracle LSH rows graduate to the hash gate. The
      // mirror restricts banding to min-doc_id representatives, pairs
      // within capped buckets, confirms 2·|∩| > |∪| in integers, and
      // (for q_dedup_near) re-expands through the copy groups.
      "q_dedup_near" ->
        (s"$minhashBandsDuck, $nearRepBands, ${bandPairs("rb", "pr")}, $verifyDuck, " +
          s"rp AS (${verifiedPairs("1.0")}), ${nearExpand("CAST(0.0 AS DOUBLE)")}"),
      "q_dedup_near_collapsed" ->
        (s"$minhashBandsDuck, " +
          "mem AS (SELECT doc_id, md5(coalesce(text, '')) AS norm_key FROM documents), " +
          "grp AS (SELECT norm_key, min(doc_id) AS rep FROM mem GROUP BY norm_key), " +
          "rb AS (SELECT b.doc_id, b.band, b.band_key FROM bands b " +
          "JOIN grp g ON g.rep = b.doc_id), " +
          s"${bandPairs("rb", "pr")}, $verifyDuck ${verifiedPairs("1.0")} ORDER BY doc_a, doc_b"),
      "q_split_assign" ->
        ("WITH d0 AS (SELECT source, coalesce(text, '') AS text, " +
          "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b " +
          "FROM documents), " +
          s"a AS (SELECT source, CASE WHEN b < ${LlmPipeline.SplitTrainPct} THEN 'train' " +
          s"WHEN b < ${LlmPipeline.SplitValPct} THEN 'val' ELSE 'test' END AS split, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM d0) " +
          "SELECT source, split, count(*) AS n_docs, " +
          "CAST(sum(n_tokens) AS BIGINT) AS n_tokens " +
          "FROM a GROUP BY source, split ORDER BY source, split"),
      "q_vocab_coverage" ->
        ("WITH st AS (SELECT source, t AS tok, count(*) AS cnt FROM " +
          "(SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS t FROM documents) " +
          "GROUP BY source, t), " +
          "g AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS gcnt FROM st GROUP BY tok), " +
          s"v AS (SELECT tok FROM g ORDER BY gcnt DESC, tok LIMIT ${LlmPipeline.VocabK}), " +
          "j AS (SELECT st.source, st.cnt, v.tok AS vtok FROM st " +
          "LEFT JOIN v ON v.tok = st.tok), " +
          "cv AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total_tokens, " +
          "CAST(sum(CASE WHEN vtok IS NULL THEN 0 ELSE cnt END) AS BIGINT) AS vocab_tokens " +
          "FROM j GROUP BY source) " +
          "SELECT source, total_tokens, vocab_tokens, " +
          "vocab_tokens * 1000000 // total_tokens AS coverage_ppm " +
          "FROM cv ORDER BY source"),
      "q_contamination_frac" ->
        (s"$dsDuck, " +
          "bench AS (SELECT DISTINCT sh FROM ds WHERE doc_id % 20 = 0), " +
          "sz AS (SELECT doc_id, count(*) AS n_sh FROM ds WHERE doc_id % 20 <> 0 GROUP BY doc_id), " +
          "hits AS (SELECT doc_id, count(*) AS n_hits FROM ds " +
          "JOIN bench USING (sh) WHERE doc_id % 20 <> 0 GROUP BY doc_id), " +
          "f AS (SELECT sz.doc_id, sz.n_sh, COALESCE(hits.n_hits, 0) AS n_hits, " +
          "CAST(COALESCE(hits.n_hits, 0) * 1000000 // sz.n_sh AS BIGINT) AS frac_ppm " +
          "FROM sz LEFT JOIN hits ON hits.doc_id = sz.doc_id) " +
          "SELECT doc_id, n_sh, n_hits, frac_ppm, " +
          s"frac_ppm >= ${LlmPipeline.ContamDropPpm} AS \"drop\" " +
          "FROM f ORDER BY doc_id"),
      "q_length_trim" ->
        ("WITH h AS (SELECT source, " +
          "CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens, " +
          "count(*) AS cnt FROM documents GROUP BY 1, 2), " +
          "c AS (SELECT source, n_tokens, cnt, " +
          "CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_tokens) AS BIGINT) AS cum, " +
          "CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n FROM h), " +
          "cuts AS (SELECT source, " +
          s"min(CASE WHEN cum * 1000000 >= n * ${LlmPipeline.TrimLoPpm} THEN n_tokens END) AS p_lo_tokens, " +
          s"min(CASE WHEN cum * 1000000 >= n * ${LlmPipeline.TrimHiPpm} THEN n_tokens END) AS p_hi_tokens " +
          "FROM c GROUP BY source) " +
          "SELECT c.source, CAST(sum(c.cnt) AS BIGINT) AS n_docs, " +
          "max(cuts.p_lo_tokens) AS p_lo_tokens, max(cuts.p_hi_tokens) AS p_hi_tokens, " +
          "CAST(sum(CASE WHEN c.n_tokens >= cuts.p_lo_tokens AND c.n_tokens <= cuts.p_hi_tokens " +
          "THEN c.cnt ELSE 0 END) AS BIGINT) AS n_kept, " +
          "CAST(sum(CASE WHEN c.n_tokens >= cuts.p_lo_tokens AND c.n_tokens <= cuts.p_hi_tokens " +
          "THEN 0 ELSE c.cnt END) AS BIGINT) AS n_dropped " +
          "FROM c JOIN cuts ON cuts.source = c.source " +
          "GROUP BY c.source ORDER BY c.source"),
      "q_decontaminate" -> decontamSql(dsDuck, "0"),
      // identical-by-construction to q_decontaminate: the bloom stages
      // only PREFILTER (no false negatives) and the confirm join removes
      // false positives, so the exact SQL is the oracle
      "q_decontaminate_bloom" -> decontamSql(dsDuck, "0"),
      "q_source_overlap" ->
        sourceOverlapSql(dsDuck, "CAST(n_shared * 1000000 // least(sa.n_sh, sb.n_sh) AS BIGINT)"),
      "q_text_tfidf" ->
        ("WITH tf0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
          "tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf0 GROUP BY doc_id, term), " +
          "dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term), " +
          "n AS (SELECT count(*) AS n_docs FROM documents), " +
          "sc AS (SELECT doc_id, term, tf, df, " +
          "CAST(CAST(tf AS HUGEINT) * 1000000 * n_docs // df AS BIGINT) AS score_micros " +
          "FROM tfc JOIN dfc USING (term), n), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
          "ORDER BY score_micros DESC, term ASC) AS rn FROM sc) " +
          "SELECT doc_id, rn, term, tf, df, score_micros FROM r WHERE rn <= 3 " +
          "ORDER BY doc_id, rn"),
      "q_quality_filter" ->
        ("WITH d0 AS (SELECT doc_id, n_chars, coalesce(text, '') AS text FROM documents), " +
          "t AS (SELECT doc_id, n_chars, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
          s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$stop], t))) AS BIGINT) AS n_stop, " +
          s"$shinglesDuck AS sh FROM d0), " +
          "m AS (SELECT doc_id, n_chars, n_tokens, n_stop, " +
          "CAST(len(sh) AS BIGINT) AS n_sh, " +
          "CAST(len(sh) - len(list_distinct(sh)) AS BIGINT) AS n_dup FROM t), " +
          s"v AS (SELECT doc_id, $qfReason FROM m) " +
          "SELECT doc_id, reason = 'ok' AS keep, reason FROM v ORDER BY doc_id"),
      "q_dedup_keep_best" ->
        ("WITH g AS (SELECT md5(lower(trim(text))) AS norm_md5, doc_id, n_chars FROM documents), " +
          "r AS (SELECT norm_md5, doc_id AS keep_id, n_chars AS best_chars, " +
          "row_number() OVER (PARTITION BY norm_md5 ORDER BY n_chars DESC, doc_id ASC) AS rn, " +
          "count(*) OVER (PARTITION BY norm_md5) AS n_copies FROM g) " +
          "SELECT keep_id, best_chars, n_copies, norm_md5 FROM r WHERE rn = 1 " +
          "ORDER BY keep_id"),
      "q_pipeline_curate" ->
        ("WITH d0 AS (SELECT doc_id, n_chars, source, coalesce(text, '') AS text FROM documents), " +
          "t AS (SELECT doc_id, n_chars, source, text, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
          s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$stop], t))) AS BIGINT) AS n_stop, " +
          s"$shinglesDuck AS sh FROM d0), " +
          "m AS (SELECT *, CAST(len(sh) AS BIGINT) AS n_sh, " +
          "CAST(len(sh) - len(list_distinct(sh)) AS BIGINT) AS n_dup FROM t), " +
          s"ok AS (SELECT doc_id, source, n_tokens, n_chars, md5(lower(trim(text))) AS nm FROM m " +
          s"WHERE $qfKeep), " +
          "keep AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER " +
          "(PARTITION BY nm ORDER BY n_chars DESC, doc_id ASC) AS rn FROM ok) WHERE rn = 1), " +
          "dd AS (SELECT o.doc_id, o.source, o.n_tokens FROM ok o JOIN keep k ON k.doc_id = o.doc_id), " +
          packBinsSql("dd", s"CAST(cum_excl // $PackBudget AS BIGINT)")),
      "q_corpus_shuffle" ->
        ("SELECT doc_id, md5(concat('shuf|42|', CAST(doc_id AS VARCHAR))) AS shuffle_key " +
          "FROM documents ORDER BY shuffle_key, doc_id"),
      "q_pack_sequences" ->
        ("WITH t AS (SELECT doc_id, source, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
          // DuckDB widens window sum(BIGINT) to HUGEINT and `//` preserves it;
          // Spark emits int64 — pin the oracle type or the value-hash gate fails.
          packBinsSql("t", s"CAST(cum_excl // $PackBudget AS BIGINT)")),
      "q_mix_weights" ->
        (mixTokensDuck +
          "g AS (SELECT CAST(sum(source_tokens) AS BIGINT) AS total_tokens, " +
          "count(*) AS n_sources FROM ps) " +
          "SELECT source, source_tokens, " +
          "CAST(total_tokens * 1000000 // (n_sources * source_tokens) AS BIGINT) AS weight_micros " +
          "FROM ps, g ORDER BY source"),
      "q_mix_temperature" ->
        (mixTokensDuck +
          // sqrt is IEEE-exact on both engines; pin to integer micros
          // with round() BEFORE the ratio so no IEEE division reaches
          // the hashed output
          "sc AS (SELECT source, source_tokens, " +
          "CAST(round(sqrt(CAST(source_tokens AS DOUBLE)) * 1000000) AS BIGINT) " +
          "AS s_scaled FROM ps), " +
          "g AS (SELECT CAST(sum(s_scaled) AS BIGINT) AS z FROM sc) " +
          // BIGINT `//` floors like Spark's DECIMAL DIV truncates;
          // DuckDB's DECIMAL `//` would ROUND and hash-mismatch
          "SELECT source, source_tokens, " +
          "CAST(s_scaled * 1000000 // z AS BIGINT) AS share_ppm " +
          "FROM sc, g ORDER BY source"),
      "q_boilerplate_score" ->
        (s"$dsDuck, " +
          "dfs AS (SELECT sh, count(DISTINCT doc_id) AS df FROM ds GROUP BY sh) " +
          "SELECT d.doc_id, count(*) AS n_sh, " +
          s"CAST(sum(CASE WHEN dfs.df > $BoilerplateDfCap THEN 1 ELSE 0 END) AS BIGINT) AS n_common, " +
          s"CAST(sum(CASE WHEN dfs.df > $BoilerplateDfCap THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS common_ppm " +
          "FROM ds d JOIN dfs ON dfs.sh = d.sh " +
          "GROUP BY d.doc_id ORDER BY d.doc_id"),
      "q_pii_scan" ->
        (s"SELECT doc_id, " +
          s"CAST(len(regexp_extract_all(coalesce(text, ''), '$EmailRe')) AS BIGINT) AS n_emails, " +
          s"CAST(len(regexp_extract_all(coalesce(text, ''), '$LongNumberRe')) AS BIGINT) AS n_long_numbers, " +
          s"len(regexp_extract_all(coalesce(text, ''), '$EmailRe')) + " +
          s"len(regexp_extract_all(coalesce(text, ''), '$LongNumberRe')) > 0 AS has_pii " +
          "FROM documents ORDER BY doc_id"),
      "q_pii_redact" ->
        (s"SELECT doc_id, " +
          s"regexp_replace(regexp_replace(coalesce(text, ''), '$EmailRe', '<EMAIL>', 'g'), " +
          s"'$LongNumberRe', '<NUMBER>', 'g') AS redacted, " +
          s"CAST(len(regexp_extract_all(coalesce(text, ''), '$EmailRe')) + " +
          s"len(regexp_extract_all(coalesce(text, ''), '$LongNumberRe')) AS BIGINT) AS n_redactions " +
          "FROM documents ORDER BY doc_id"),
      "q_doc_windows" ->
        (s"WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n " +
          "FROM documents), " +
          "w AS (SELECT doc_id, n, CAST(unnest(generate_series(0, " +
          s"greatest(n - ${WindowTokens - WindowStride + 1}, 0), $WindowStride)) AS BIGINT) AS tok_start " +
          "FROM t WHERE n > 0) " +
          s"SELECT doc_id, tok_start // $WindowStride AS window_no, tok_start, " +
          s"least($WindowTokens, n - tok_start) AS n_win_tokens " +
          "FROM w ORDER BY doc_id, window_no"),
      // mirror of dedupParagraph: same blocking (1-based inclusive list
      // slice ws[a:b] ≡ Spark slice(ws, a, 10)), same 60-bit md5 block
      // hash, same packed argmin; string_agg ORDER BY blk ≡ the Spark
      // side's array_sort(collect_list(struct(blk, …))) rebuild
      "q_dedup_paragraph" ->
        (s"WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
          "b0 AS (SELECT doc_id, ws, CAST(unnest(generate_series(0, " +
          s"(len(ws) + ${ParaBlockWords - 1}) // $ParaBlockWords - 1)) AS BIGINT) AS blk FROM w), " +
          "b AS (SELECT doc_id, blk, array_to_string(" +
          s"ws[blk * $ParaBlockWords + 1 : blk * $ParaBlockWords + $ParaBlockWords], ' ') AS blk_text FROM b0), " +
          "h AS (SELECT doc_id, blk, blk_text, " +
          "CAST(concat('0x', substring(md5(blk_text), 1, 15)) AS BIGINT) AS bh, " +
          s"doc_id * $ParaPack + blk AS packed FROM b), " +
          "k AS (SELECT *, min(packed) OVER (PARTITION BY bh) AS keeper FROM h) " +
          "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks, " +
          "CAST(sum(CASE WHEN packed = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
          "coalesce(string_agg(CASE WHEN packed = keeper THEN blk_text END, ' ' ORDER BY blk), '') AS text_dedup " +
          "FROM k GROUP BY doc_id ORDER BY doc_id"),
      // EXACT counts: the Spark side's sketch is collision-free at this
      // width/vocab operating point, so cms estimates equal these (see
      // heavyHitters scaladoc; adversarial-vocab bound is spec-pinned)
      "q_heavy_hitters" ->
        ("WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
          "SELECT token, count(*) AS est_count, " +
          s"count(*) >= $CmsHeavyMin AS is_heavy " +
          "FROM t GROUP BY token ORDER BY token"),
      "q_sample_weighted" ->
        (s"SELECT doc_id, n_chars AS weight, " +
          s"(least(n_chars, $WSampleWeightCap) * $WSamplePrioScale) // ((" +
          "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) " +
          s"% $WSampleUBits) + 1) AS priority " +
          s"FROM documents ORDER BY priority DESC, doc_id LIMIT $WSampleK"),
      "q_dedup_substring_winnow" -> s"WITH $subWinDuck, $substringWinnowTail",
      "q_dedup_substring" -> s"WITH $subWinDuck, $substringSpanTail",
      // mirrors dedupSubstringAuto's volume branch IN SQL (scalar
      // subquery gates on sum(n_chars)), so the auto form stays
      // hash-checked on whichever side the corpus lands
      "q_dedup_substring_auto" ->
        ("WITH vol AS (SELECT coalesce(sum(n_chars), 0) AS v FROM documents), " +
          s"$subWinDuck, $substringAutoTail"),
      // collapse-stage hash anchor: exact-collapse to min-id reps, then
      // the q_dedup_ngram exact-Jaccard core restricted to reps
      "q_dedup_collapsed_jaccard" ->
        ("WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents " +
          "GROUP BY md5(coalesce(text, ''))), " +
          s"ds AS (SELECT doc_id, $dsShDuck FROM documents JOIN reps USING (doc_id)), $ngramJaccardTail"),
      "q_lm_fluency" ->
        ("WITH tk AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents), " +
          "bg AS (SELECT doc_id, t[CAST(u AS INT)] AS w1, " +
          "concat(t[CAST(u AS INT)], ' ', t[CAST(u AS INT) + 1]) AS bigram " +
          "FROM tk, unnest(generate_series(1, len(t) - 1)) AS s(u) WHERE len(t) >= 2), " +
          "cb AS (SELECT bigram, count(*) AS nb FROM bg GROUP BY bigram), " +
          "cu AS (SELECT w1, count(*) AS nu FROM bg GROUP BY w1) " +
          "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
          "CAST(sum((nb * 1000000) // nu) // count(*) AS BIGINT) AS fluency_ppm " +
          "FROM bg JOIN cb USING (bigram) JOIN cu USING (w1) " +
          "GROUP BY doc_id ORDER BY doc_id"),
      "q_text_diversity" -> textDiversitySql("unnest(string_split(text, ' '))"),
      // dialect-neutral text (plain BIGINT % arithmetic): runs verbatim
      // in DuckDB (oracle) and Spark (SQL front door)
      "q_shard_manifest" ->
        (s"WITH s AS (SELECT doc_id, n_chars, " +
          s"CAST(doc_id * 2654435761 % 4294967296 % $NShards AS BIGINT) AS shard " +
          "FROM documents) " +
          "SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars, " +
          "min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
          "FROM s GROUP BY shard ORDER BY shard"),
    )
  }

  /** Spark-dialect SQL surface overrides (SqlSurface): the same
    * computations as the DuckDB oracles above, written in Spark SQL over
    * the registered views — including the engine's REGISTERED NATIVE
    * FUNCTIONS (`shingle3`, `array_dot_l`), which are exactly what a SQL
    * user of this library gets from GraftExtensions. Generated from the
    * same constants (MinhashSalts, LshPlanes, profiles, caps) as the
    * DataFrame builders, so the three surfaces (DataFrame, DuckDB
    * oracle, Spark SQL) can never drift apart silently.
    */
  val sparkSql: Map[String, String] = {
    // same null⇒'' rule as the DataFrame shingle substrate
    val dtk = "dtk AS (SELECT *, split(coalesce(text, ''), ' ') AS tk FROM documents)"
    val substrateStatsSql =
      // over the substrate_stats view registerViews publishes (ETL
      // output as view — the ivf_assignments pattern)
      "SELECT family, n_rows, bytes FROM substrate_stats ORDER BY family"
    val shS = "CASE WHEN size(tk) >= 3 THEN shingle3(tk) ELSE array(coalesce(text, '')) END"
    def hash(c: String) = s"CAST(conv(substring(md5($c), 1, 15), 16, 10) AS BIGINT)"
    val quantS = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    def dot(a: String, b: String) = s"array_dot_l($a, $b)"
    val stop = profiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    val langs = profiles.map(_._1) :+ "zh"
    val best = langs.map(l => s"s_$l").reduce((a, b) => s"greatest($a, $b)")
    val pred = langs.foldRight("'und'") { (l, acc) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $acc END"
    }
    // hashed inverted-index CTE shared by ngram/decontaminate (mirrors
    // ngramPostings: per-doc DISTINCT shingles, 60-bit integer keys)
    val dsCte = s"WITH $dtk, ds AS (SELECT doc_id, ${hash("s")} AS sh FROM " +
      s"(SELECT doc_id, explode(array_distinct($shS)) AS s FROM dtk))"
    // banded MinHash CTEs (mirrors minhashBanded)
    val sigCols = (0 until 16)
      .map(i => s"min(h ^ ${MinhashSalts(i)}L) AS sig$i").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(i => s"CAST(sig${4 * b + i} AS STRING)").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS band_key FROM sig"
    }.mkString(" UNION ALL ")
    val minhashCtes = s"WITH $dtk, " +
      s"sh AS (SELECT doc_id, explode(array_distinct($shS)) AS s FROM dtk), " +
      s"base AS (SELECT doc_id, ${hash("s")} AS h FROM sh), " +
      s"sig AS (SELECT doc_id, $sigCols FROM base GROUP BY doc_id), " +
      s"bands AS ($bandSelects)"
    // SimHash CTEs (mirrors dedupSimhash: no array_distinct — bit votes
    // count shingle multiplicity)
    // Spark SQL has no `>>` operator — shiftright() is the function form
    val bitCols = (1 to 32).map { b =>
      s"CAST(sum(CASE WHEN (shiftright(h, ${b - 1}) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$b"
    }.mkString(", ")
    val simExpr = (1 to 32).map { b =>
      s"(CASE WHEN v$b > 0 THEN CAST(pow(2, ${32 - b}) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    def plane(p: Int) = s"array(${LshPlanes(p).map(w => s"${w}L").mkString(", ")})"
    def planeDot(p: Int) = dot("q", plane(p))
    val bucket = lshBucketExpr(planeDot)
    def cos(qa: String, n2a: String, v: String) = probeCos(dot, qa, n2a, v)
    // same exact-integer squared-L2, via the codegen'd native dot
    def d2(a: String, b: String) = s"(${dot(a, a)} - 2 * ${dot(a, b)} + ${dot(b, b)})"
    // Unrolled min-label propagation over the undirected `pairs` (a, b),
    // named `id` (CcSqlRounds rounds — see that constant's scaladoc for
    // why not WITH RECURSIVE). Self-loops fold each node's own label into
    // the neighbor min, so every round is ONE equi join + ONE combining
    // min aggregate — label tables stay |nodes|-sized (no recursive path
    // explosion). Convergence guard: a component whose propagation radius
    // exceeds CcSqlRounds would silently return non-converged rep_ids;
    // instead `chk` asserts the last round was a fixpoint (l_N ≡ l_{N-1}
    // — EXCEPT over two |nodes|-sized label tables, cheap) and fails
    // loudly (`failWhat` names the query) if not. Ends in `lconv`.
    def labelProp(a: String, b: String, id: String, failWhat: String) = {
      val rounds = (1 to CcSqlRounds).map { k =>
        s"l$k AS (SELECT e.v AS $id, min(l.rep_id) AS rep_id " +
          s"FROM edges e JOIN l${k - 1} l ON l.$id = e.u GROUP BY e.v)"
      }.mkString(", ")
      s"edges AS (SELECT $a AS u, $b AS v FROM pairs UNION ALL SELECT $b, $a FROM pairs " +
        s"UNION ALL SELECT $a, $a FROM pairs UNION ALL SELECT $b, $b FROM pairs), " +
        s"l0 AS (SELECT v AS $id, min(u) AS rep_id FROM edges GROUP BY v), $rounds, " +
        s"chk AS (SELECT assert_true((SELECT count(*) FROM " +
        s"(SELECT * FROM l$CcSqlRounds EXCEPT SELECT * FROM l${CcSqlRounds - 1})) = 0, " +
        s"'$failWhat not converged after $CcSqlRounds rounds') AS ok), " +
        s"lconv AS (SELECT l.$id, l.rep_id FROM l$CcSqlRounds l CROSS JOIN chk)"
    }
    // the cc family (q_dedup_cc / _cluster_stats / _cross_source)
    val ccUnrolled = s"$minhashCtes, ${bandPairs("bands", "pairs")}, " +
      labelProp("doc_a", "doc_b", "doc_id", "q_dedup_cc SQL surface: min-label propagation")
    val ccLab = s"$ccUnrolled, lab AS (SELECT doc_id, rep_id FROM lconv) "
    // the banded chain's verify stage (see the oracle's verifyDuck)
    val verifyS =
      "din AS (SELECT doc_a AS doc_id FROM pr UNION SELECT doc_b AS doc_id FROM pr), " +
        s"shv AS (SELECT doc_id, explode(array_distinct($shS)) AS s FROM dtk " +
        "WHERE doc_id IN (SELECT doc_id FROM din)), " +
        s"hv AS (SELECT doc_id, ${hash("s")} AS h FROM shv), $pairInterCtes"
    val subWinS =
      "w AS (SELECT doc_id, pos, " +
        "CAST(conv(substring(md5(substring(text, CAST(pos AS INT), " +
        s"$SubWinW)), 1, 15), 16, 10) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, text, " +
        s"explode(sequence(CAST(1 AS BIGINT), n_chars - ${SubWinW - 1})) AS pos " +
        s"FROM documents WHERE n_chars >= $SubWinW))"
    val mixTokensS =
      "WITH t AS (SELECT source, CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "ps AS (SELECT source, sum(n_tokens) AS source_tokens FROM t GROUP BY source), "
    val ivfSql = (nprobe: Int) =>
      s"WITH q AS (SELECT vec_id, $quantS AS q FROM embeddings), " +
        "cents AS (SELECT vec_id AS cent_id, q AS qc FROM q WHERE vec_id < 8), " +
        s"dists0 AS (SELECT vec_id, q, cent_id, ${dot("q", "q")} - 2 * ${dot("q", "qc")} + " +
        s"${dot("qc", "qc")} AS dist2 FROM q CROSS JOIN cents), " +
        "dists AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cent_id ASC) AS rn FROM dists0), " +
        "assigned AS (SELECT vec_id, q, cent_id FROM dists WHERE rn = 1), " +
        s"pn AS (SELECT q AS qa, cent_id AS probe_cent, ${dot("q", "q")} AS n2a " +
        s"FROM dists WHERE vec_id = 0 AND rn <= $nprobe) " +
        s"SELECT b.vec_id, b.cent_id, ${cos("pn.qa", "pn.n2a", "b.q")} " +
        "FROM assigned b JOIN pn ON b.cent_id = pn.probe_cent WHERE b.vec_id <> 0 " +
        "ORDER BY cos DESC, vec_id LIMIT 5"
    Map(
      "q_corpus_shuffle" ->
        ("SELECT doc_id, md5(concat('shuf|42|', CAST(doc_id AS STRING))) AS shuffle_key " +
          "FROM documents ORDER BY shuffle_key, doc_id"),
      "q_pack_sequences" ->
        ("WITH t AS (SELECT doc_id, source, CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens " +
          s"FROM documents), ${packBinsSql("t", s"cum_excl DIV $PackBudget")}"),
      "q_mix_weights" ->
        (mixTokensS +
          "g AS (SELECT sum(source_tokens) AS total_tokens, count(*) AS n_sources FROM ps) " +
          "SELECT source, source_tokens, " +
          "CAST(CAST(total_tokens AS DECIMAL(38,0)) * 1000000 DIV " +
          "(CAST(n_sources AS DECIMAL(38,0)) * source_tokens) AS BIGINT) AS weight_micros " +
          "FROM ps CROSS JOIN g ORDER BY source"),
      "q_mix_temperature" ->
        (mixTokensS +
          "sc AS (SELECT source, source_tokens, " +
          "CAST(round(sqrt(CAST(source_tokens AS DOUBLE)) * 1000000) AS BIGINT) " +
          "AS s_scaled FROM ps), " +
          "g AS (SELECT sum(s_scaled) AS z FROM sc) " +
          "SELECT source, source_tokens, " +
          "CAST(CAST(s_scaled AS DECIMAL(38,0)) * 1000000 DIV z AS BIGINT) AS share_ppm " +
          "FROM sc CROSS JOIN g ORDER BY source"),
      "q_text_stats" ->
        ("SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
          "sum(n_chars) * 1000000 DIV count(n_chars) AS avg_chars_micros, " +
          "count(DISTINCT lang) AS n_langs FROM documents GROUP BY source ORDER BY source"),
      "q_text_token_count" ->
        ("SELECT doc_id, CAST(size(split(text, ' ')) AS BIGINT) AS ws_tokens, " +
          "CAST(regexp_count(text, '[a-z]{1,4}') AS BIGINT) AS bpe_ish_tokens, n_chars " +
          "FROM documents ORDER BY doc_id"),
      "q_text_tokens" -> textTokensSql("explode(split(text, ' '))"),
      "q_text_langid" -> {
        val hits = profiles.map { case (lang, ws) =>
          val lst = ws.map(w => s"'$w'").mkString(", ")
          s"CAST(size(filter(split(text, ' '), t -> array_contains(array($lst), t))) AS BIGINT) AS s_$lang"
        }.mkString(", ")
        s"WITH scored AS (SELECT doc_id, lang, $hits, " +
          "CAST(regexp_count(text, '[\\\\x{4e00}-\\\\x{9fff}]') AS BIGINT) AS s_zh FROM documents), " +
          s"b AS (SELECT *, $best AS best FROM scored) " +
          s"SELECT doc_id, lang, $pred AS pred_lang, best AS score FROM b ORDER BY doc_id"
      },
      "q_text_quality" ->
        (s"WITH t AS (SELECT doc_id, n_chars, CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens, " +
          s"CAST(size(filter(split(text, ' '), t -> array_contains(array($stop), t))) AS BIGINT) AS n_stop " +
          s"FROM documents) $textQualitySelect"),
      "q_text_clean" ->
        (s"WITH $dtk, " +
          s"k AS (SELECT doc_id, tk, filter(tk, t -> NOT array_contains(array($stop), t)) AS kept FROM dtk) " +
          "SELECT doc_id, array_join(kept, ' ') AS clean_text, " +
          "CAST(size(tk) - size(kept) AS BIGINT) AS n_removed FROM k ORDER BY doc_id"),
      "q_text_fingerprint" ->
        (s"WITH $dtk " +
          "SELECT doc_id, md5(concat_ws(' ', array_sort(array_distinct(tk)))) AS fp_sorted, " +
          s"array_min(transform($shS, s -> md5(s))) AS fp_min FROM dtk ORDER BY doc_id"),
      "q_text_repetition" ->
        ("WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents), " +
          "dtk AS (SELECT doc_id, text, split(text, ' ') AS tk FROM d0), " +
          s"t AS (SELECT doc_id, $shS AS sh FROM dtk) " +
          "SELECT doc_id, CAST(size(sh) AS BIGINT) AS n_shingles, " +
          "CAST(size(array_distinct(sh)) AS BIGINT) AS n_distinct, " +
          "CAST(size(sh) - size(array_distinct(sh)) AS DOUBLE) / size(sh) AS dup_ratio " +
          "FROM t ORDER BY doc_id"),
      "q_decontaminate" -> decontamSql(dsCte, "CAST(0 AS BIGINT)"),
      // the bloom stages are result-neutral, so the SQL text surface is
      // the exact decontaminate query (the DataFrame form is the
      // physical-plan optimization)
      "q_decontaminate_bloom" -> decontamSql(dsCte, "CAST(0 AS BIGINT)"),
      "q_source_overlap" -> sourceOverlapSql(dsCte, "n_shared * 1000000 DIV least(sa.n_sh, sb.n_sh)"),
      "q_text_tfidf" ->
        ("WITH tf0 AS (SELECT doc_id, explode(split(text, ' ')) AS term FROM documents), " +
          "tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf0 GROUP BY doc_id, term), " +
          "dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term), " +
          "n AS (SELECT count(*) AS n_docs FROM documents), " +
          "sc AS (SELECT doc_id, term, tf, df, " +
          "CAST(CAST(tf AS DECIMAL(38,0)) * 1000000 * n_docs DIV df AS BIGINT) AS score_micros " +
          "FROM tfc JOIN dfc USING (term) CROSS JOIN n), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
          "ORDER BY score_micros DESC, term ASC) AS rn FROM sc) " +
          "SELECT doc_id, rn, term, tf, df, score_micros FROM r WHERE rn <= 3 " +
          "ORDER BY doc_id, rn"),
      "q_quality_filter" ->
        ("WITH d0 AS (SELECT doc_id, n_chars, coalesce(text, '') AS text FROM documents), " +
          "dtk AS (SELECT doc_id, n_chars, text, split(text, ' ') AS tk FROM d0), " +
          "t AS (SELECT doc_id, n_chars, CAST(size(tk) AS BIGINT) AS n_tokens, " +
          s"CAST(size(filter(tk, t -> array_contains(array($stop), t))) AS BIGINT) AS n_stop, " +
          s"$shS AS sh FROM dtk), " +
          "m AS (SELECT doc_id, n_chars, n_tokens, n_stop, " +
          "CAST(size(sh) AS BIGINT) AS n_sh, " +
          "CAST(size(sh) - size(array_distinct(sh)) AS BIGINT) AS n_dup FROM t), " +
          s"v AS (SELECT doc_id, $qfReason FROM m) " +
          "SELECT doc_id, reason = 'ok' AS keep, reason FROM v ORDER BY doc_id"),
      "q_pipeline_curate" ->
        ("WITH d0 AS (SELECT doc_id, n_chars, source, coalesce(text, '') AS text FROM documents), " +
          "dtk AS (SELECT doc_id, n_chars, source, text, split(text, ' ') AS tk FROM d0), " +
          "t AS (SELECT doc_id, n_chars, source, text, CAST(size(tk) AS BIGINT) AS n_tokens, " +
          s"CAST(size(filter(tk, t -> array_contains(array($stop), t))) AS BIGINT) AS n_stop, " +
          s"$shS AS sh FROM dtk), " +
          "m AS (SELECT *, CAST(size(sh) AS BIGINT) AS n_sh, " +
          "CAST(size(sh) - size(array_distinct(sh)) AS BIGINT) AS n_dup FROM t), " +
          "ok AS (SELECT doc_id, source, n_tokens, n_chars, md5(lower(trim(text))) AS nm FROM m " +
          s"WHERE $qfKeep), " +
          "keep AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER " +
          "(PARTITION BY nm ORDER BY n_chars DESC, doc_id ASC) AS rn FROM ok) WHERE rn = 1), " +
          "dd AS (SELECT o.doc_id, o.source, o.n_tokens FROM ok o JOIN keep k ON k.doc_id = o.doc_id), " +
          packBinsSql("dd", s"cum_excl DIV $PackBudget")),
      "q_dedup_ngram" -> s"$dsCte, $ngramJaccardTail",
      "q_dedup_minhash_sig" ->
        (s"$minhashCtes SELECT doc_id, band, band_key FROM bands ORDER BY doc_id, band"),
      "q_dedup_minhash_pairs" ->
        (s"$minhashCtes, ${bandOk("bands")} " +
          s"${bandPairsJoin("bands")} ORDER BY doc_a, doc_b"),
      "q_dedup_editdist" ->
        (s"$minhashCtes, ${bandPairs("bands", "p")} " +
          "SELECT doc_a, doc_b, " +
          s"CAST(CASE WHEN abs(length(da.text) - length(db.text)) > $EditDistMax THEN -1 " +
          s"ELSE levenshtein(da.text, db.text, $EditDistMax) END AS BIGINT) AS edit_dist, " +
          s"CASE WHEN abs(length(da.text) - length(db.text)) > $EditDistMax THEN false " +
          s"ELSE levenshtein(da.text, db.text, $EditDistMax) >= 0 END AS is_dup " +
          "FROM p JOIN documents da ON da.doc_id = p.doc_a " +
          "JOIN documents db ON db.doc_id = p.doc_b ORDER BY doc_a, doc_b"),
      "q_dedup_cc" ->
        (s"$ccUnrolled SELECT doc_id, rep_id FROM lconv ORDER BY doc_id"),
      "q_dedup_cluster_stats" -> (ccLab + ccClusterStats),
      "q_dedup_cross_source" -> (ccLab + ccCrossSource("rs.source, ds.source")),
      "q_dedup_incremental" ->
        (s"$minhashCtes, " +
          "sb AS (SELECT b.doc_id, b.band, b.band_key, s.source " +
          "FROM bands b JOIN (SELECT doc_id, source FROM documents) s " +
          s"ON s.doc_id = b.doc_id), $incrementalTail"),
      "q_dedup_simhash" ->
        (s"WITH $dtk, " +
          s"hs AS (SELECT doc_id, ${hash("s")} AS h FROM " +
          s"(SELECT doc_id, explode($shS) AS s FROM dtk)), " +
          s"bits AS (SELECT doc_id, $bitCols FROM hs GROUP BY doc_id), " +
          s"sh AS (SELECT doc_id, $simExpr AS simhash FROM bits), " +
          "bands AS (SELECT doc_id, simhash, b, " +
          "CAST(floor(simhash / pow(256, 3 - b)) AS BIGINT) % 256 AS bv " +
          "FROM sh CROSS JOIN (SELECT explode(sequence(0, 3)) AS b) bb), " +
          s"ok AS (SELECT b, bv FROM bands GROUP BY b, bv HAVING count(*) <= $HotBucketCap) " +
          "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
          "bit_count(a.simhash ^ b.simhash) AS hamming " +
          "FROM bands a JOIN ok ON ok.b = a.b AND ok.bv = a.bv " +
          "JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id " +
          "WHERE bit_count(a.simhash ^ b.simhash) <= 8 ORDER BY doc_a, doc_b"),
      "q_dedup_embed" ->
        (s"WITH q AS (SELECT vec_id, label, $quantS AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, label, q, ${dot("q", "q")} AS n2, " +
          s"CAST($bucket AS INTEGER) AS bucket FROM q), " +
          "ok AS (SELECT label, bucket FROM n GROUP BY 1, 2 " +
          s"HAVING count(*) > 1 AND count(*) <= $HotBucketCap) " +
          s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, CAST(${dot("a.q", "b.q")} AS DOUBLE) / " +
          "sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos " +
          "FROM n a JOIN ok ON ok.label = a.label AND ok.bucket = a.bucket " +
          "JOIN n b ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id " +
          "ORDER BY cos DESC, vec_a, vec_b LIMIT 100"),
      // the ccUnrolled pattern over cosine-thresholded vec pairs:
      // Spark rejects the cycle-safe recursive UNION, so min-label
      // propagation unrolls CcSqlRounds rounds (components are
      // within-bucket near-cliques; diameter 2-3) with the same
      // assert_true fixpoint guard
      "q_dedup_semantic" ->
        (s"WITH q AS (SELECT vec_id, $quantS AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, q, ${dot("q", "q")} AS n2, " +
          s"CAST($bucket AS INTEGER) AS bucket FROM q), " +
          "okb AS (SELECT bucket FROM n GROUP BY 1 " +
          s"HAVING count(*) > 1 AND count(*) <= $HotBucketCap), " +
          s"cand AS (SELECT a.vec_id AS va, b.vec_id AS vb, ${dot("a.q", "b.q")} AS dp, " +
          "a.n2 AS n2a, b.n2 AS n2b " +
          "FROM n a JOIN okb ON okb.bucket = a.bucket " +
          "JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
          "pairs AS (SELECT va, vb FROM cand WHERE dp > 0 " +
          s"AND CAST(dp AS DECIMAL(38,0)) * CAST(dp AS DECIMAL(38,0)) * $SemTauDen >= " +
          s"$SemTauNum * CAST(n2a AS DECIMAL(38,0)) * CAST(n2b AS DECIMAL(38,0))), " +
          labelProp("va", "vb", "vec_id", "q_dedup_semantic SQL surface: propagation") + " " +
          "SELECT e.vec_id, coalesce(l.rep_id, e.vec_id) AS rep_id, " +
          "coalesce(l.rep_id, e.vec_id) = e.vec_id AS keep " +
          "FROM embeddings e LEFT JOIN lconv l ON l.vec_id = e.vec_id " +
          "ORDER BY e.vec_id"),
      "q_substrate_stats" -> substrateStatsSql,
      // Spark spelling of the five overflow group-counts (the oracle's
      // DuckDB list/unnest idioms don't parse here); same CTEs as the
      // per-family mirrors above
      "q_dedup_overflow_report" ->
        (s"$minhashCtes, " +
          s"sim_hs AS (SELECT doc_id, ${hash("s")} AS h FROM " +
          s"(SELECT doc_id, explode($shS) AS s FROM dtk)), " +
          s"sim_bits AS (SELECT doc_id, $bitCols FROM sim_hs GROUP BY doc_id), " +
          s"sim_sig AS (SELECT doc_id, $simExpr AS simhash FROM sim_bits), " +
          "sim_bands AS (SELECT doc_id, b, " +
          "CAST(floor(simhash / pow(256, 3 - b)) AS BIGINT) % 256 AS bv " +
          "FROM sim_sig CROSS JOIN (SELECT explode(sequence(0, 3)) AS b) bb), " +
          s"ng_ds AS (SELECT doc_id, ${hash("s")} AS sh FROM " +
          s"(SELECT doc_id, explode(array_distinct($shS)) AS s FROM dtk)), " +
          s"em_q AS (SELECT vec_id, label, $quantS AS q FROM embeddings), " +
          s"em_n AS (SELECT vec_id, label, CAST($bucket AS INTEGER) AS bucket FROM em_q) " +
          overflowUnion("STRING")),
      "q_embed_centroids" ->
        (s"WITH q AS (SELECT label, $quantS AS q FROM embeddings), " +
          "e AS (SELECT label, posexplode(q) AS (dim, qv) FROM q), " +
          "g AS (SELECT label, dim, sum(qv) AS qsum, count(*) AS n " +
          "FROM e GROUP BY label, dim) " +
          "SELECT label, CAST(dim AS BIGINT) AS dim, " +
          "qsum * 1000 DIV n AS centroid_micros " +
          "FROM g ORDER BY label, dim"),
      "q_embed_quantize" ->
        (s"WITH q AS (SELECT vec_id, $quantS AS q FROM embeddings), " +
          "e AS (SELECT vec_id, posexplode(q) AS (dim, v) FROM q), " +
          "cb AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim) " +
          "SELECT vec_id, CAST(e.dim AS BIGINT) AS dim, " +
          "CASE WHEN mx = mn THEN CAST(0 AS BIGINT) " +
          "ELSE (v - mn) * 255 DIV (mx - mn) END AS code " +
          "FROM e JOIN cb ON cb.dim = e.dim ORDER BY vec_id, dim"),
      "q_embed_outliers" ->
        (s"WITH q AS (SELECT vec_id, label, $quantS AS q FROM embeddings), " +
          "e AS (SELECT vec_id, label, posexplode(q) AS (dim, qv) FROM q), " +
          "g AS (SELECT label, dim, sum(qv) AS sd, count(*) AS nd " +
          "FROM e GROUP BY label, dim), " +
          "s AS (SELECT e.label, e.vec_id, " +
          "sum((g.nd * e.qv - g.sd) * (g.nd * e.qv - g.sd)) AS score " +
          outliersTail),
      "q_sim_search" ->
        (s"WITH q AS (SELECT vec_id, $quantS AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, q, ${dot("q", "q")} AS n2 FROM q) " +
          s"SELECT b.vec_id AS vec_id, CAST(${dot("a.q", "b.q")} AS DOUBLE) / " +
          "sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos " +
          "FROM n a CROSS JOIN n b WHERE a.vec_id = 0 AND b.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 10"),
      "q_sim_search_ivf" -> ivfSql(1),
      "q_sim_search_ivf2" -> ivfSql(2),
      "q_lsh_bucket_stats" ->
        (s"WITH q AS (SELECT vec_id, $quantS AS q FROM embeddings), " +
          s"b AS (SELECT CAST($bucket AS INTEGER) AS bucket FROM q), " +
          "pb AS (SELECT bucket, count(*) AS n_vecs FROM b GROUP BY 1), " +
          "g AS (SELECT sum(n_vecs) AS total_vecs, count(*) AS n_buckets FROM pb) " +
          "SELECT bucket, n_vecs, " +
          "CAST(CAST(n_vecs AS DECIMAL(38,0)) * 1000000 DIV total_vecs AS BIGINT) AS share_ppm, " +
          "CAST(CAST(n_vecs AS DECIMAL(38,0)) * n_buckets * 1000000 DIV total_vecs AS BIGINT) AS load_micros " +
          "FROM pb CROSS JOIN g ORDER BY bucket"),
      "q_ann_recall_mp" ->
        (s"${lshMpCtes(quantS, planeDot)}, " +
          "pr AS (SELECT vec_id AS probe_id, q AS qa, bucket AS b1, " +
          "CAST(bucket ^ flip AS INTEGER) AS b2, " +
          s"${dot("q", "q")} AS n2a FROM b WHERE vec_id < $RecallProbes), " +
          "sc AS (SELECT pr.probe_id, v.vec_id AS cand_id, v.bucket, pr.b1, pr.b2, " +
          s"${cos("pr.qa", "pr.n2a", "v.q")} " +
          "FROM b v CROSS JOIN pr WHERE v.vec_id <> pr.probe_id), " +
          recallTail("bucket = b1 OR bucket = b2", "0L", "DIV")),
      "q_ann_recall" ->
        (s"${lshCtes(quantS, planeDot)}, " +
          "pr AS (SELECT vec_id AS probe_id, q AS qa, bucket AS probe_bucket, " +
          s"${dot("q", "q")} AS n2a FROM b WHERE vec_id < $RecallProbes), " +
          "sc AS (SELECT pr.probe_id, v.vec_id AS cand_id, v.bucket, pr.probe_bucket, " +
          s"${cos("pr.qa", "pr.n2a", "v.q")} " +
          "FROM b v CROSS JOIN pr WHERE v.vec_id <> pr.probe_id), " +
          recallTail("bucket = probe_bucket", "0L", "DIV")),
      "q_sim_search_lsh" ->
        (s"${lshCtes(quantS, planeDot)}, " +
          s"pn AS (SELECT q AS qa, bucket AS probe_bucket, ${dot("q", "q")} AS n2a " +
          "FROM b WHERE vec_id = 0) " +
          s"SELECT v.vec_id, v.bucket, ${cos("pn.qa", "pn.n2a", "v.q")} " +
          "FROM b v CROSS JOIN pn WHERE v.bucket = pn.probe_bucket AND v.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 5"),
      "q_sim_search_lsh_mp" ->
        (s"${lshMpCtes(quantS, planeDot)}, " +
          s"pn AS (SELECT qa, n2a, explode(array(bucket, CAST(bucket ^ flip AS INTEGER))) AS probe_bucket " +
          s"FROM (SELECT q AS qa, ${dot("q", "q")} AS n2a, bucket, flip FROM b WHERE vec_id = 0)) " +
          s"SELECT v.vec_id, v.bucket, ${cos("pn.qa", "pn.n2a", "v.q")} " +
          "FROM b v CROSS JOIN pn WHERE v.bucket = pn.probe_bucket AND v.vec_id <> 0 " +
          "ORDER BY cos DESC, vec_id LIMIT 5"),
      "q_sim_search_pq" -> {
        // slice(arr, start, LENGTH) — Spark's spelling of the oracle's
        // 1-based inclusive q[lo:hi]
        val subsSpark = (0 until PqM).map { j =>
          s"SELECT vec_id, $j AS j, slice(q, ${j * PqSubDim + 1}, $PqSubDim) AS sub FROM q"
        }.mkString(" UNION ALL ")
        s"WITH q AS (SELECT vec_id, $quantS AS q FROM embeddings), " +
          s"subs AS ($subsSpark), ${pqTail(d2("sub", "csub"))}"
      },
      "q_sim_search_ivfpq" -> {
        def slices(src: String, arr: String, extra: String) =
          (0 until PqM).map { j =>
            s"SELECT $extra, $j AS j, slice($arr, ${j * PqSubDim + 1}, $PqSubDim) AS s FROM $src"
          }.mkString(" UNION ALL ")
        s"WITH q AS (SELECT vec_id, $quantS AS q FROM embeddings), " +
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
      "q_boilerplate_score" ->
        (s"$dsCte, " +
          "dfs AS (SELECT sh, count(DISTINCT doc_id) AS df FROM ds GROUP BY sh) " +
          "SELECT ds.doc_id, count(*) AS n_sh, " +
          s"sum(CASE WHEN dfs.df > $BoilerplateDfCap THEN 1 ELSE 0 END) AS n_common, " +
          s"sum(CASE WHEN dfs.df > $BoilerplateDfCap THEN 1 ELSE 0 END) * 1000000 DIV count(*) AS common_ppm " +
          "FROM ds JOIN dfs ON dfs.sh = ds.sh " +
          "GROUP BY ds.doc_id ORDER BY doc_id"),
      "q_pii_scan" ->
        (s"SELECT doc_id, " +
          s"CAST(regexp_count(coalesce(text, ''), '$EmailRe') AS BIGINT) AS n_emails, " +
          s"CAST(regexp_count(coalesce(text, ''), '$LongNumberRe') AS BIGINT) AS n_long_numbers, " +
          s"regexp_count(coalesce(text, ''), '$EmailRe') + " +
          s"regexp_count(coalesce(text, ''), '$LongNumberRe') > 0 AS has_pii " +
          "FROM documents ORDER BY doc_id"),
      "q_pii_redact" ->
        (s"SELECT doc_id, " +
          s"regexp_replace(regexp_replace(coalesce(text, ''), '$EmailRe', '<EMAIL>'), " +
          s"'$LongNumberRe', '<NUMBER>') AS redacted, " +
          s"CAST(regexp_count(coalesce(text, ''), '$EmailRe') + " +
          s"regexp_count(coalesce(text, ''), '$LongNumberRe') AS BIGINT) AS n_redactions " +
          "FROM documents ORDER BY doc_id"),
      "q_dedup_paragraph" ->
        ("WITH w AS (SELECT doc_id, split(text, ' ') AS ws FROM documents), " +
          "b AS (SELECT doc_id, explode(transform(sequence(0, " +
          s"CAST((size(ws) + ${ParaBlockWords - 1}) DIV $ParaBlockWords - 1 AS INT)), " +
          "i -> struct(CAST(i AS BIGINT) AS blk, " +
          s"array_join(slice(ws, i * $ParaBlockWords + 1, $ParaBlockWords), ' ') AS blk_text))) AS s FROM w), " +
          "h AS (SELECT doc_id, s.blk AS blk, s.blk_text AS blk_text, " +
          "CAST(conv(substring(md5(s.blk_text), 1, 15), 16, 10) AS BIGINT) AS bh, " +
          s"doc_id * $ParaPack + s.blk AS packed FROM b), " +
          "k AS (SELECT *, min(packed) OVER (PARTITION BY bh) AS keeper FROM h) " +
          "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks, " +
          "CAST(sum(CASE WHEN packed = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
          "array_join(transform(array_sort(collect_list(" +
          "CASE WHEN packed = keeper THEN struct(blk, blk_text) END)), " +
          "x -> x.blk_text), ' ') AS text_dedup " +
          "FROM k GROUP BY doc_id ORDER BY doc_id"),
      // the registered native cms_estimate is the SQL user's probe path
      "q_heavy_hitters" ->
        ("WITH t AS (SELECT explode(split(text, ' ')) AS token FROM documents), " +
          s"sk AS (SELECT count_min_sketch(token, CAST($CmsEps AS DOUBLE), " +
          s"CAST($CmsConf AS DOUBLE), $CmsSeed) AS sk FROM t) " +
          "SELECT token, cms_estimate(sk.sk, token) AS est_count, " +
          s"cms_estimate(sk.sk, token) >= $CmsHeavyMin AS is_heavy " +
          "FROM (SELECT DISTINCT token FROM t) CROSS JOIN sk ORDER BY token"),
      "q_sample_weighted" ->
        (s"SELECT doc_id, n_chars AS weight, " +
          s"(least(n_chars, $WSampleWeightCap) * $WSamplePrioScale) DIV ((" +
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) " +
          s"% $WSampleUBits) + 1) AS priority " +
          s"FROM documents ORDER BY priority DESC, doc_id LIMIT $WSampleK"),
      "q_dedup_substring_winnow" -> s"WITH $subWinS, $substringWinnowTail",
      "q_dedup_substring" -> s"WITH $subWinS, $substringSpanTail",
      "q_dedup_substring_auto" ->
        ("WITH vol AS (SELECT coalesce(sum(n_chars), CAST(0 AS BIGINT)) AS v FROM documents), " +
          s"$subWinS, $substringAutoTail"),
      "q_dedup_collapsed_jaccard" ->
        (s"WITH $dtk, reps AS (SELECT min(doc_id) AS doc_id FROM documents " +
          "GROUP BY md5(coalesce(text, ''))), " +
          s"ds AS (SELECT doc_id, ${hash("s")} AS sh FROM " +
          s"(SELECT doc_id, explode(array_distinct($shS)) AS s " +
          s"FROM dtk JOIN reps USING (doc_id))), $ngramJaccardTail"),
      "q_lm_fluency" ->
        ("WITH tk AS (SELECT doc_id, split(coalesce(text, ''), ' ') AS t FROM documents), " +
          "bg AS (SELECT doc_id, p.w1 AS w1, p.bigram AS bigram FROM (" +
          "SELECT doc_id, explode(zip_with(slice(t, 1, size(t) - 1), " +
          "slice(t, 2, size(t) - 1), " +
          "(a, b) -> struct(a AS w1, concat(a, ' ', b) AS bigram))) AS p " +
          "FROM tk WHERE size(t) >= 2)), " +
          "cb AS (SELECT bigram, count(*) AS nb FROM bg GROUP BY bigram), " +
          "cu AS (SELECT w1, count(*) AS nu FROM bg GROUP BY w1) " +
          "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
          "CAST(sum((nb * 1000000) DIV nu) DIV count(*) AS BIGINT) AS fluency_ppm " +
          "FROM bg JOIN cb USING (bigram) JOIN cu USING (w1) " +
          "GROUP BY doc_id ORDER BY doc_id"),
      "q_text_diversity" -> textDiversitySql("explode(split(text, ' '))"),
      "q_doc_windows" ->
        (s"WITH t AS (SELECT doc_id, CAST(size(split(text, ' ')) AS BIGINT) AS n " +
          "FROM documents), " +
          "w AS (SELECT doc_id, n, explode(sequence(CAST(0 AS BIGINT), " +
          s"greatest(n - ${WindowTokens - WindowStride + 1}, CAST(0 AS BIGINT)), " +
          s"CAST($WindowStride AS BIGINT))) AS tok_start " +
          "FROM t WHERE n > 0) " +
          s"SELECT doc_id, tok_start DIV $WindowStride AS window_no, tok_start, " +
          s"least($WindowTokens, n - tok_start) AS n_win_tokens " +
          "FROM w ORDER BY doc_id, window_no"),
      "q_ngram_counts" ->
        ("WITH d0 AS (SELECT coalesce(text, '') AS text FROM documents), " +
          "tk AS (SELECT split(text, ' ') AS t FROM d0), " +
          "b AS (SELECT explode(zip_with(slice(t, 1, size(t) - 1), " +
          "slice(t, 2, size(t) - 1), (a, b) -> concat(a, ' ', b))) AS bigram FROM tk) " +
          "SELECT bigram, count(*) AS n FROM b GROUP BY bigram " +
          s"ORDER BY n DESC, bigram LIMIT $NgramTopK"),
      "q_bpe_pairs" ->
        ("WITH w AS (SELECT explode(split(coalesce(text, ''), ' ')) AS w " +
          "FROM documents), " +
          "p AS (SELECT explode(transform(sequence(1, length(w) - 1), " +
          "i -> substring(w, i, 2))) AS pair FROM w WHERE length(w) >= 2) " +
          "SELECT pair, count(*) AS n FROM p GROUP BY pair " +
          "ORDER BY n DESC, pair LIMIT 50"),
      "q_bpe_train" -> bpeTrainSql(duck = false),
      "q_bpe_apply" -> bpeApplySql(duck = false),
      "q_budget_select" ->
        (s"WITH d0 AS (SELECT coalesce(text, '') AS text FROM documents), " +
          "t AS (SELECT CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens, " +
          s"CAST(size(filter(split(text, ' '), t -> array_contains(array($stop), t))) AS BIGINT) AS n_stop " +
          "FROM d0), " +
          s"sc AS (SELECT n_tokens, n_stop * 1000000 DIV n_tokens DIV $SelectBucketPpm AS bucket FROM t), " +
          "b AS (SELECT bucket, count(*) AS n_docs, sum(n_tokens) AS bucket_tokens " +
          "FROM sc GROUP BY bucket), " +
          "c AS (SELECT *, sum(bucket_tokens) OVER (ORDER BY bucket DESC) AS cum_tokens FROM b) " +
          "SELECT bucket, n_docs, bucket_tokens, cum_tokens, " +
          s"cum_tokens - bucket_tokens < $SelectTokenBudget AS selected " +
          "FROM c ORDER BY bucket DESC"),
      "q_quality_drift" ->
        (s"WITH d0 AS (SELECT source, coalesce(text, '') AS text FROM documents), " +
          "t AS (SELECT source, CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens, " +
          s"CAST(size(filter(split(text, ' '), t -> array_contains(array($stop), t))) AS BIGINT) AS n_stop " +
          "FROM d0), " +
          s"sc AS (SELECT source, n_stop * 1000000 DIV n_tokens DIV $DriftBucketPpm AS bucket FROM t), " +
          "hist AS (SELECT source, bucket, count(*) AS cnt FROM sc GROUP BY source, bucket), " +
          "grid AS (SELECT s.source, b.bucket FROM " +
          "(SELECT DISTINCT source FROM hist) s CROSS JOIN (SELECT DISTINCT bucket FROM hist) b), " +
          "tot AS (SELECT source, sum(cnt) AS n_docs FROM hist GROUP BY source), " +
          "dense AS (SELECT g.source, g.bucket, " +
          "coalesce(h.cnt, CAST(0 AS BIGINT)) * 1000000 DIV t.n_docs AS share_ppm " +
          "FROM grid g LEFT JOIN hist h ON h.source = g.source AND h.bucket = g.bucket " +
          "JOIN tot t ON t.source = g.source) " +
          "SELECT a.source AS src_a, b.source AS src_b, " +
          "sum(abs(a.share_ppm - b.share_ppm)) DIV 2 AS tvd_ppm " +
          "FROM dense a JOIN dense b ON a.bucket = b.bucket AND a.source < b.source " +
          "GROUP BY a.source, b.source ORDER BY src_a, src_b"),
      "q_dedup_verify" ->
        (s"$minhashCtes, ${bandPairs("bands", "pr")}, $verifyS, " +
          "jv AS (SELECT p.doc_a, p.doc_b, " +
          "coalesce(iv.n_inter, CAST(0 AS BIGINT)) * 1000000 DIV " +
          "(sa.n + sb.n - coalesce(iv.n_inter, CAST(0 AS BIGINT))) AS jaccard_ppm " +
          "FROM pr p LEFT JOIN iv ON iv.doc_a = p.doc_a AND iv.doc_b = p.doc_b " +
          "JOIN sz sa ON sa.doc_id = p.doc_a JOIN sz sb ON sb.doc_id = p.doc_b) " +
          "SELECT doc_a, doc_b, jaccard_ppm, " +
          s"jaccard_ppm >= $VerifyDupPpm AS is_dup " +
          "FROM jv ORDER BY doc_a, doc_b"),
      "q_split_assign" ->
        ("WITH d0 AS (SELECT source, coalesce(text, '') AS text, " +
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100 AS b " +
          "FROM documents), " +
          s"a AS (SELECT source, CASE WHEN b < $SplitTrainPct THEN 'train' " +
          s"WHEN b < $SplitValPct THEN 'val' ELSE 'test' END AS split, " +
          "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens FROM d0) " +
          "SELECT source, split, count(*) AS n_docs, " +
          "sum(n_tokens) AS n_tokens " +
          "FROM a GROUP BY source, split ORDER BY source, split"),
      "q_vocab_coverage" ->
        ("WITH st AS (SELECT source, t AS tok, count(*) AS cnt FROM " +
          "(SELECT source, explode(split(coalesce(text, ''), ' ')) AS t FROM documents) " +
          "GROUP BY source, t), " +
          "g AS (SELECT tok, sum(cnt) AS gcnt FROM st GROUP BY tok), " +
          s"v AS (SELECT tok FROM g ORDER BY gcnt DESC, tok LIMIT $VocabK), " +
          "j AS (SELECT st.source, st.cnt, v.tok AS vtok FROM st " +
          "LEFT JOIN v ON v.tok = st.tok), " +
          "cv AS (SELECT source, sum(cnt) AS total_tokens, " +
          "sum(CASE WHEN vtok IS NULL THEN CAST(0 AS BIGINT) ELSE cnt END) AS vocab_tokens " +
          "FROM j GROUP BY source) " +
          "SELECT source, total_tokens, vocab_tokens, " +
          "vocab_tokens * 1000000 DIV total_tokens AS coverage_ppm " +
          "FROM cv ORDER BY source"),
      "q_contamination_frac" ->
        (s"$dsCte, " +
          "bench AS (SELECT DISTINCT sh FROM ds WHERE doc_id % 20 = 0), " +
          "sz AS (SELECT doc_id, count(*) AS n_sh FROM ds WHERE doc_id % 20 <> 0 GROUP BY doc_id), " +
          "hits AS (SELECT doc_id, count(*) AS n_hits FROM ds JOIN bench USING (sh) " +
          "WHERE doc_id % 20 <> 0 GROUP BY doc_id), " +
          "f AS (SELECT sz.doc_id, sz.n_sh, " +
          "COALESCE(hits.n_hits, CAST(0 AS BIGINT)) AS n_hits, " +
          "COALESCE(hits.n_hits, CAST(0 AS BIGINT)) * 1000000 DIV sz.n_sh AS frac_ppm " +
          "FROM sz LEFT JOIN hits ON hits.doc_id = sz.doc_id) " +
          "SELECT doc_id, n_sh, n_hits, frac_ppm, " +
          s"frac_ppm >= $ContamDropPpm AS `drop` " +
          "FROM f ORDER BY doc_id"),
      "q_length_trim" ->
        ("WITH h AS (SELECT source, " +
          "CAST(size(split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens, " +
          "count(*) AS cnt FROM documents GROUP BY 1, 2), " +
          "c AS (SELECT source, n_tokens, cnt, " +
          "sum(cnt) OVER (PARTITION BY source ORDER BY n_tokens) AS cum, " +
          "sum(cnt) OVER (PARTITION BY source) AS n FROM h), " +
          "cuts AS (SELECT source, " +
          s"min(CASE WHEN cum * 1000000 >= n * $TrimLoPpm THEN n_tokens END) AS p_lo_tokens, " +
          s"min(CASE WHEN cum * 1000000 >= n * $TrimHiPpm THEN n_tokens END) AS p_hi_tokens " +
          "FROM c GROUP BY source) " +
          "SELECT c.source, sum(c.cnt) AS n_docs, " +
          "max(cuts.p_lo_tokens) AS p_lo_tokens, max(cuts.p_hi_tokens) AS p_hi_tokens, " +
          "sum(CASE WHEN c.n_tokens >= cuts.p_lo_tokens AND c.n_tokens <= cuts.p_hi_tokens " +
          "THEN c.cnt ELSE CAST(0 AS BIGINT) END) AS n_kept, " +
          "sum(CASE WHEN c.n_tokens >= cuts.p_lo_tokens AND c.n_tokens <= cuts.p_hi_tokens " +
          "THEN CAST(0 AS BIGINT) ELSE c.cnt END) AS n_dropped " +
          "FROM c JOIN cuts ON cuts.source = c.source " +
          "GROUP BY c.source ORDER BY c.source"),
      // ---- non-oracle queries: Spark-dialect texts, rows-only-compared
      // in SqlSurfaceSpec (no DuckDB mirror exists for these by design)
      //
      // deflate has no DuckDB surface; the text resolves the native
      // gzip_size expression GraftExtensions/ensureRegistered installs
      "q_compression_ratio" ->
        ("WITH b AS (SELECT doc_id, " +
          "CAST(octet_length(CAST(coalesce(text, '') AS BINARY)) AS BIGINT) AS n_bytes, " +
          "gzip_size(CAST(coalesce(text, '') AS BINARY)) AS gzip_bytes " +
          "FROM documents) " +
          "SELECT doc_id, n_bytes, gzip_bytes, " +
          "gzip_bytes * 1000000 DIV greatest(n_bytes, 1) AS ratio_ppm " +
          "FROM b ORDER BY doc_id"),
      // q_dedup_near / _collapsed: the banded+verified chain in Spark
      // dialect — same CTE skeleton as the DuckDB oracle (reps-
      // restricted banding, capped buckets, integer 2·|∩| > |∪|
      // threshold, expansion for the full form)
      "q_dedup_near_collapsed" ->
        (s"$minhashCtes, " +
          "grp AS (SELECT min(doc_id) AS rep FROM documents " +
          "GROUP BY md5(coalesce(text, ''))), " +
          "rb AS (SELECT b.doc_id, b.band, b.band_key FROM bands b " +
          "JOIN grp g ON g.rep = b.doc_id), " +
          s"${bandPairs("rb", "pr")}, $verifyS ${verifiedPairs("1.0D")} ORDER BY doc_a, doc_b"),
      "q_dedup_near" ->
        (s"$minhashCtes, $nearRepBands, ${bandPairs("rb", "pr")}, $verifyS, " +
          s"rp AS (${verifiedPairs("1.0D")}), ${nearExpand("0.0D")}"),
      // the same rand(seed)-filter sampleBy compiles to, spelled as text
      "q_sample_stratified" -> {
        val cases = SampleFractions.toSeq.sorted
          .map { case (l, f) => s"WHEN '$l' THEN ${f}D" }.mkString(" ")
        "SELECT doc_id, lang, source FROM " +
          "(SELECT doc_id, lang, source, rand(42) AS r FROM documents) " +
          s"WHERE r < CASE lang $cases ELSE 0.0D END ORDER BY doc_id"
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

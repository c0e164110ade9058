package graft.ops

import graft.{ParquetMeta, SessionMemo, Tables}
import graft.ops.Fragments._
import graft.ops.Pin.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substrates and dedup: exact, MinHash-LSH, SimHash, n-gram Jaccard,
  * embedding-cosine, paragraph, edit-distance and substring dedup, the
  * connected-component clustering over their pairs, the decontamination
  * and overlap reports over the shingle postings, and the persisted
  * dedup substrates with their lifecycle (`substrates`,
  * `clearSubstrateMemos`). The shared text and embedding fragments
  * live in [[Fragments]].
  */
object Dedup {

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
      .withColumn("bucket", expr(lshBucket).cast("int"))

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
    // (a) Symmetrize once and pin: edges are re-scanned every round, and
    // without the checkpoint each round would re-run the whole
    // subtree feeding `pairs`.
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .pinned()
    // (a) each round's labels are pinned: round i+1 reads them, not
    // the replay of rounds 1..i
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
      // (a) the next round reads these labels pinned
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
    // hist, okBuckets and batch all derive from this join. Its inputs
    // are the persisted banded-signature artifact and a two-column
    // corpus scan, so each branch re-reads them rather than re-running
    // a signature pass; the sf0.1 A/B measured that no slower than
    // pinning the join.
    val banded = minhashBanded(s, d).join(src, "doc_id")
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
    // one plan, no copy probe: the expansion joins and the intra pairs
    // read docRep under the same projection and filters (the explicit
    // one is what their rep joins infer, and a null rep joins nothing),
    // so Spark runs it once and reuses its exchange. On a copy-free
    // corpus the expansion is the identity and intra is empty
    val docRep = members.join(reps, "norm_key")
      .select(col("doc_id"), col("rep")).where(col("rep").isNotNull)
    val repPairs = nearBandedVerified(s, d, Some(reps.select(col("rep").as("doc_id"))))
    // expansion: linear equi-joins on the rep key; intra-group pairs are
    // output-inherent (the whole-corpus chain emits them too)
    val cross = repPairs
      .join(docRep.as("ra"), col("doc_a") === col("ra.rep"))
      .join(docRep.as("rb"), col("doc_b") === col("rb.rep"))
      .select(least(col("ra.doc_id"), col("rb.doc_id")).as("doc_a"),
        greatest(col("ra.doc_id"), col("rb.doc_id")).as("doc_b"), col("jaccard_dist"))
    // coalesce(…, false) keeps `<`'s null semantics without inferring
    // isnotnull(doc_id), a filter the expansion legs do not have
    val intra = docRep.as("m1").join(docRep.as("m2"), col("m1.rep") === col("m2.rep") &&
        coalesce(col("m1.doc_id") < col("m2.doc_id"), lit(false)))
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
    // a disjoint pair (n_inter = 0) cannot pass J > 1/2
    pairIntersections(s, d, banded)
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
    val pairs = semanticPairs(s, d)
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

  /** The τ-pair edge set for dedupSemantic over the persisted bucketed
    * artifact. Not pinned: the emptiness probe and ccLabels' edge pin
    * are separate actions, so a non-empty pair set runs the bucket
    * shuffle twice (LlmPipelineSpec counts the runs), but the sf0.1
    * fixture has no τ-pair and there the A/B measured the probe alone
    * faster than folding it into ccLabels' pinned edges. Factored and
    * `private[graft]` so the spec can check that it reads the artifact
    * once and never the raw embeddings.
    */
  private[graft] def semanticPairs(s: SparkSession, d: String): DataFrame =
    semanticPairsFromBucketed(embedBucketed(s, d))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))

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
    // (d) sizes, the df-cap filter and BOTH self-join sides derive from
    // the distinct (source, shingle) projection; they prune and key it
    // differently, so unpinned, Spark re-runs the postings ⋈ documents
    // join and the distinct per leg, and the sf0.1 A/B measured the pin
    // faster; so did it against a one-plan form (each shingle's source
    // list emits its pairs, ss's exchange reused). Pinned state is
    // 16 B × |distinct (source, sh)|.
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
        .pinned()) // (b) the memo serves the substring family

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
      wins.select("doc_id", "h").distinct().pinned()) // (b) memo-owned
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
    // or sorted: the df count is a combining hash aggregate, and both
    // join legs read only the df-capped RARE slice (pair-relevant by
    // construction). All three read the persisted per-doc-DISTINCT
    // rolling-minima artifact (winnowing's own ~K/2× reduction, shared
    // with the auto router's winnow branch), so the md5 window work
    // runs once per corpus, not per leg or per query.
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
    * the pruned hash rows each run once, in [[pairIntersections]].
    */
  def dedupVerify(s: SparkSession, d: String): DataFrame =
    pairIntersections(s, d, minhashBanded(s, d))
      .select(col("doc_a"), col("doc_b"),
        expr("n_inter * 1000000 DIV (n_a + n_b - n_inter)").as("jaccard_ppm"))
      .withColumn("is_dup", col("jaccard_ppm") >= VerifyDupPpm)
      .orderBy("doc_a", "doc_b")

  /** The exact-verify core shared by [[dedupVerify]] and
    * [[nearBandedVerified]]: every candidate pair of `banded` with both
    * docs' shingle-hash set sizes `n_a`, `n_b` and their intersection
    * count `n_inter` (0 when disjoint). The shingle re-read is pruned to
    * docs in ≥1 pair ([[verifyShingleHashes]]).
    *
    * One plan, each subtree run once: every pair becomes one row per
    * doc, so the hash rows are joined once, and two combining counts
    * give, per (pair, hash), the slots each doc holds, then per pair
    * their sums and the sum of their products (the matching (a, b)
    * slots an equi-join on the hash would count). The three legs of
    * `pairs` read it under the filters their joins infer (a pair id is
    * never null: collect_set drops nulls), so they share its exchange.
    * Build sides are left to stats + AQE: the hash rows are
    * candidate-set-bounded but not small-bounded (sf100: a broadcast
    * hint on them once cost q_dedup_near 96 → 468 s).
    */
  private def pairIntersections(s: SparkSession, d: String, banded: DataFrame): DataFrame = {
    val pairs = minhashPairsFromBanded(banded)
      .where(col("doc_a").isNotNull && col("doc_b").isNotNull)
    val docsInPairs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    def slots(doc: String) = sum(when(col("doc_id") === col(doc), 1L).otherwise(0L))
    pairs.select(col("doc_a"), col("doc_b"), explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(verifyShingleHashes(s, d, docsInPairs), "doc_id")
      .groupBy("doc_a", "doc_b", "h")
      .agg(slots("doc_a").as("ca"), slots("doc_b").as("cb"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("ca") * col("cb")).as("n_inter"), sum("ca").as("n_a"), sum("cb").as("n_b"))
  }

  /** The verify stage's pruned shingle re-read: semi-join the corpus
    * down to `docsInPairs` BEFORE the shingle explode, so re-shingling
    * cost is bounded by the candidate set. Factored out so PlanShapeSpec
    * can pin the semi-below-Generate shape.
    */
  private[graft] def verifyShingleHashes(
      s: SparkSession, d: String, docsInPairs: DataFrame): DataFrame =
    withTk(Tables.documents(s, d))
      .join(docsInPairs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(expr(s"array_distinct($shingles)")).as("s"))
      .select(col("doc_id"), expr("md5_prefix64(s)").as("h"))

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
    "q_dedup_keep_best"     -> (dedupKeepBest _),
    "q_decontaminate"       -> (decontaminate _),
    "q_decontaminate_bloom" -> (decontaminateBloom _),
    "q_source_overlap"      -> (sourceOverlap _),
    "q_boilerplate_score"   -> (boilerplateScore _),
    "q_dedup_verify"        -> (dedupVerify _),
    "q_contamination_frac"  -> (contaminationFrac _),
    "q_dedup_cross_source"  -> (dedupCrossSource _),
    "q_dedup_paragraph"     -> (dedupParagraph _),
    "q_dedup_editdist"      -> (dedupEditdist _),
    "q_dedup_substring"     -> (dedupSubstring _),
    "q_dedup_substring_winnow" -> (dedupSubstringWinnow _),
    "q_dedup_substring_auto" -> (dedupSubstringAuto _),
    "q_dedup_collapsed_jaccard" -> (dedupCollapsedJaccard _),
  )

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

  val oracle: Map[String, String] = {
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
          s"HAVING count(*) <= $HotBucketCap) " +
          "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
          "bit_count(xor(a.simhash, b.simhash)) AS hamming " +
          "FROM bands a JOIN ok ON ok.b = a.b AND ok.bv = a.bv " +
          "JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8 ORDER BY doc_a, doc_b"),
      "q_dedup_ngram" -> s"$dsDuck, $ngramJaccardTail",
      "q_dedup_embed" ->
        (s"WITH q AS (SELECT vec_id, label, $quantDuck AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, label, q, ${dotDuck("q", "q")} AS n2, " +
          s"CAST($lshBucketDuck AS INTEGER) AS bucket FROM q), " +
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
          s"CAST($lshBucketDuck AS INTEGER) AS bucket FROM q), " +
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
          s"em_n AS (SELECT vec_id, label, CAST($lshBucketDuck AS INTEGER) AS bucket FROM em_q) " +
          overflowUnion("VARCHAR")),
      "q_dedup_verify" ->
        (s"$minhashBandsDuck, ${bandPairs("bands", "pr")}, $verifyDuck, " +
          "jv AS (SELECT p.doc_a, p.doc_b, " +
          "CAST(coalesce(iv.n_inter, 0) * 1000000 // " +
          "(sa.n + sb.n - coalesce(iv.n_inter, 0)) AS BIGINT) AS jaccard_ppm " +
          "FROM pr p LEFT JOIN iv ON iv.doc_a = p.doc_a AND iv.doc_b = p.doc_b " +
          "JOIN sz sa ON sa.doc_id = p.doc_a JOIN sz sb ON sb.doc_id = p.doc_b) " +
          "SELECT doc_a, doc_b, jaccard_ppm, " +
          s"jaccard_ppm >= $VerifyDupPpm AS is_dup " +
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
          s"frac_ppm >= $ContamDropPpm AS \"drop\" " +
          "FROM f ORDER BY doc_id"),
      "q_decontaminate" -> decontamSql(dsDuck, "0"),
      // identical-by-construction to q_decontaminate: the bloom stages
      // only PREFILTER (no false negatives) and the confirm join removes
      // false positives, so the exact SQL is the oracle
      "q_decontaminate_bloom" -> decontamSql(dsDuck, "0"),
      "q_source_overlap" ->
        sourceOverlapSql(dsDuck, "CAST(n_shared * 1000000 // least(sa.n_sh, sb.n_sh) AS BIGINT)"),
      "q_dedup_keep_best" ->
        ("WITH g AS (SELECT md5(lower(trim(text))) AS norm_md5, doc_id, n_chars FROM documents), " +
          "r AS (SELECT norm_md5, doc_id AS keep_id, n_chars AS best_chars, " +
          "row_number() OVER (PARTITION BY norm_md5 ORDER BY n_chars DESC, doc_id ASC) AS rn, " +
          "count(*) OVER (PARTITION BY norm_md5) AS n_copies FROM g) " +
          "SELECT keep_id, best_chars, n_copies, norm_md5 FROM r WHERE rn = 1 " +
          "ORDER BY keep_id"),
      "q_boilerplate_score" ->
        (s"$dsDuck, " +
          "dfs AS (SELECT sh, count(DISTINCT doc_id) AS df FROM ds GROUP BY sh) " +
          "SELECT d.doc_id, count(*) AS n_sh, " +
          s"CAST(sum(CASE WHEN dfs.df > $BoilerplateDfCap THEN 1 ELSE 0 END) AS BIGINT) AS n_common, " +
          s"CAST(sum(CASE WHEN dfs.df > $BoilerplateDfCap THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS common_ppm " +
          "FROM ds d JOIN dfs ON dfs.sh = d.sh " +
          "GROUP BY d.doc_id ORDER BY d.doc_id"),
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
    val substrateStatsSql =
      // over the substrate_stats view registerViews publishes (ETL
      // output as view — the ivf_assignments pattern)
      "SELECT family, n_rows, bytes FROM substrate_stats ORDER BY family"
    def hash(c: String) = s"CAST(conv(substring(md5($c), 1, 15), 16, 10) AS BIGINT)"
    // hashed inverted-index CTE shared by ngram/decontaminate (mirrors
    // ngramPostings: per-doc DISTINCT shingles, 60-bit integer keys)
    val dsCte = s"WITH $dtk, ds AS (SELECT doc_id, ${hash("s")} AS sh FROM " +
      s"(SELECT doc_id, explode(array_distinct($shingles)) AS s FROM dtk))"
    // banded MinHash CTEs (mirrors minhashBanded)
    val sigCols = (0 until 16)
      .map(i => s"min(h ^ ${MinhashSalts(i)}L) AS sig$i").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(i => s"CAST(sig${4 * b + i} AS STRING)").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS band_key FROM sig"
    }.mkString(" UNION ALL ")
    val minhashCtes = s"WITH $dtk, " +
      s"sh AS (SELECT doc_id, explode(array_distinct($shingles)) AS s FROM dtk), " +
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
        s"shv AS (SELECT doc_id, explode(array_distinct($shingles)) AS s FROM dtk " +
        "WHERE doc_id IN (SELECT doc_id FROM din)), " +
        s"hv AS (SELECT doc_id, ${hash("s")} AS h FROM shv), $pairInterCtes"
    val subWinS =
      "w AS (SELECT doc_id, pos, " +
        "CAST(conv(substring(md5(substring(text, CAST(pos AS INT), " +
        s"$SubWinW)), 1, 15), 16, 10) AS BIGINT) AS h " +
        "FROM (SELECT doc_id, text, " +
        s"explode(sequence(CAST(1 AS BIGINT), n_chars - ${SubWinW - 1})) AS pos " +
        s"FROM documents WHERE n_chars >= $SubWinW))"
    Map(
      "q_decontaminate" -> decontamSql(dsCte, "CAST(0 AS BIGINT)"),
      // the bloom stages are result-neutral, so the SQL text surface is
      // the exact decontaminate query (the DataFrame form is the
      // physical-plan optimization)
      "q_decontaminate_bloom" -> decontamSql(dsCte, "CAST(0 AS BIGINT)"),
      "q_source_overlap" -> sourceOverlapSql(dsCte, "n_shared * 1000000 DIV least(sa.n_sh, sb.n_sh)"),
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
          s"(SELECT doc_id, explode($shingles) AS s FROM dtk)), " +
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
        (s"WITH q AS (SELECT vec_id, label, $quant AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, label, q, ${dotL("q", "q")} AS n2, " +
          s"CAST($lshBucket AS INTEGER) AS bucket FROM q), " +
          "ok AS (SELECT label, bucket FROM n GROUP BY 1, 2 " +
          s"HAVING count(*) > 1 AND count(*) <= $HotBucketCap) " +
          s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, CAST(${dotL("a.q", "b.q")} AS DOUBLE) / " +
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
        (s"WITH q AS (SELECT vec_id, $quant AS q FROM embeddings), " +
          s"n AS (SELECT vec_id, q, ${dotL("q", "q")} AS n2, " +
          s"CAST($lshBucket AS INTEGER) AS bucket FROM q), " +
          "okb AS (SELECT bucket FROM n GROUP BY 1 " +
          s"HAVING count(*) > 1 AND count(*) <= $HotBucketCap), " +
          s"cand AS (SELECT a.vec_id AS va, b.vec_id AS vb, ${dotL("a.q", "b.q")} AS dp, " +
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
          s"(SELECT doc_id, explode($shingles) AS s FROM dtk)), " +
          s"sim_bits AS (SELECT doc_id, $bitCols FROM sim_hs GROUP BY doc_id), " +
          s"sim_sig AS (SELECT doc_id, $simExpr AS simhash FROM sim_bits), " +
          "sim_bands AS (SELECT doc_id, b, " +
          "CAST(floor(simhash / pow(256, 3 - b)) AS BIGINT) % 256 AS bv " +
          "FROM sim_sig CROSS JOIN (SELECT explode(sequence(0, 3)) AS b) bb), " +
          s"ng_ds AS (SELECT doc_id, ${hash("s")} AS sh FROM " +
          s"(SELECT doc_id, explode(array_distinct($shingles)) AS s FROM dtk)), " +
          s"em_q AS (SELECT vec_id, label, $quant AS q FROM embeddings), " +
          s"em_n AS (SELECT vec_id, label, CAST($lshBucket AS INTEGER) AS bucket FROM em_q) " +
          overflowUnion("STRING")),
      "q_boilerplate_score" ->
        (s"$dsCte, " +
          "dfs AS (SELECT sh, count(DISTINCT doc_id) AS df FROM ds GROUP BY sh) " +
          "SELECT ds.doc_id, count(*) AS n_sh, " +
          s"sum(CASE WHEN dfs.df > $BoilerplateDfCap THEN 1 ELSE 0 END) AS n_common, " +
          s"sum(CASE WHEN dfs.df > $BoilerplateDfCap THEN 1 ELSE 0 END) * 1000000 DIV count(*) AS common_ppm " +
          "FROM ds JOIN dfs ON dfs.sh = ds.sh " +
          "GROUP BY ds.doc_id ORDER BY doc_id"),
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
      "q_dedup_substring_winnow" -> s"WITH $subWinS, $substringWinnowTail",
      "q_dedup_substring" -> s"WITH $subWinS, $substringSpanTail",
      "q_dedup_substring_auto" ->
        ("WITH vol AS (SELECT coalesce(sum(n_chars), CAST(0 AS BIGINT)) AS v FROM documents), " +
          s"$subWinS, $substringAutoTail"),
      "q_dedup_collapsed_jaccard" ->
        (s"WITH $dtk, reps AS (SELECT min(doc_id) AS doc_id FROM documents " +
          "GROUP BY md5(coalesce(text, ''))), " +
          s"ds AS (SELECT doc_id, ${hash("s")} AS sh FROM " +
          s"(SELECT doc_id, explode(array_distinct($shingles)) AS s " +
          s"FROM dtk JOIN reps USING (doc_id))), $ngramJaccardTail"),
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
    )
  }
}

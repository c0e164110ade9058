package graft.ops

import graft.Tables
import graft.ops.Fragments._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling and splits: stratified and weighted sampling, the
  * deterministic shuffle, sequence packing and context windows, export
  * shards and the JSONL round trip, source mixing weights, the
  * per-source cap and the train/val/test split.
  */
object Sampling {

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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sample_stratified"   -> (sampleStratified _),
    "q_corpus_shuffle"      -> (corpusShuffle _),
    "q_pack_sequences"      -> (packSequences _),
    "q_mix_weights"         -> (mixWeights _),
    "q_mix_temperature"     -> (mixTemperature _),
    "q_shard_manifest"      -> (shardManifest _),
    "q_jsonl_roundtrip"     -> (jsonlRoundtrip _),
    "q_jsonl_audit"         -> (jsonlAudit _),
    "q_doc_windows"         -> (docWindows _),
    "q_source_cap"          -> (sourceCap _),
    "q_split_assign"        -> (splitAssign _),
    "q_sample_weighted"     -> (sampleWeighted _),
  )

  val oracle: Map[String, String] = {
    val mixTokensDuck =
      "WITH t AS (SELECT source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "ps AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS source_tokens " +
        "FROM t GROUP BY source), "

    Map(
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
      "q_split_assign" ->
        ("WITH d0 AS (SELECT source, coalesce(text, '') AS text, " +
          "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b " +
          "FROM documents), " +
          s"a AS (SELECT source, CASE WHEN b < $SplitTrainPct THEN 'train' " +
          s"WHEN b < $SplitValPct THEN 'val' ELSE 'test' END AS split, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM d0) " +
          "SELECT source, split, count(*) AS n_docs, " +
          "CAST(sum(n_tokens) AS BIGINT) AS n_tokens " +
          "FROM a GROUP BY source, split ORDER BY source, split"),
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
      "q_doc_windows" ->
        (s"WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n " +
          "FROM documents), " +
          "w AS (SELECT doc_id, n, CAST(unnest(generate_series(0, " +
          s"greatest(n - ${WindowTokens - WindowStride + 1}, 0), $WindowStride)) AS BIGINT) AS tok_start " +
          "FROM t WHERE n > 0) " +
          s"SELECT doc_id, tok_start // $WindowStride AS window_no, tok_start, " +
          s"least($WindowTokens, n - tok_start) AS n_win_tokens " +
          "FROM w ORDER BY doc_id, window_no"),
      "q_sample_weighted" ->
        (s"SELECT doc_id, n_chars AS weight, " +
          s"(least(n_chars, $WSampleWeightCap) * $WSamplePrioScale) // ((" +
          "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) " +
          s"% $WSampleUBits) + 1) AS priority " +
          s"FROM documents ORDER BY priority DESC, doc_id LIMIT $WSampleK"),
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

  val sparkSql: Map[String, String] = {
    val mixTokensS =
      "WITH t AS (SELECT source, CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "ps AS (SELECT source, sum(n_tokens) AS source_tokens FROM t GROUP BY source), "
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
      "q_sample_weighted" ->
        (s"SELECT doc_id, n_chars AS weight, " +
          s"(least(n_chars, $WSampleWeightCap) * $WSamplePrioScale) DIV ((" +
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) " +
          s"% $WSampleUBits) + 1) AS priority " +
          s"FROM documents ORDER BY priority DESC, doc_id LIMIT $WSampleK"),
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
      // the same rand(seed)-filter sampleBy compiles to, spelled as text
      "q_sample_stratified" -> {
        val cases = SampleFractions.toSeq.sorted
          .map { case (l, f) => s"WHEN '$l' THEN ${f}D" }.mkString(" ")
        "SELECT doc_id, lang, source FROM " +
          "(SELECT doc_id, lang, source, rand(42) AS r FROM documents) " +
          s"WHERE r < CASE lang $cases ELSE 0.0D END ORDER BY doc_id"
      },
    )
  }
}

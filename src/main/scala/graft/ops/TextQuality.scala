package graft.ops

import graft.Tables
import graft.ops.Dedup.{KbCharCap, KbIdCap}
import graft.ops.Fragments._
import graft.ops.Pin.PinOps
import graft.ops.Sampling.PackBudget
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text and quality: token, language-ID, fingerprint, cleaning,
  * repetition, tf-idf, PII, compression and fluency reports, the
  * composed quality filter and curation pipeline, the drift and
  * selection reports, and the Count-Min heavy-hitter sketch with its
  * streaming log and compaction.
  */
object TextQuality {

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
      // (d) two count aggregates and the scoring join key the bigram
      // rows differently, so unpinned each leg re-tokenizes the corpus;
      // the sf0.1 A/B measured the pin faster
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
      // (d) the df pass prunes tf's count, so its aggregate differs from
      // the join leg's and, unpinned, the corpus is tokenized twice; the
      // sf0.1 A/B measured the pin faster
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
    * is metadata-sized. The histogram's four legs prune it differently,
    * so the score pass runs per leg; the sf0.1 A/B measured that no
    * slower than pinning the histogram.
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
    * aggregate (map-side combining; output is vocab-per-source-sized;
    * its two consumers share its exchange). The global vocab is
    * a second aggregate OVER THOSE COUNTS (never the corpus) +
    * TakeOrdered top-K, and the coverage pass joins the counts against
    * the 100-row vocab broadcast — bounded by construction, so the hint
    * is size-provable, not speculative.
    */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val st = Tables.documents(s, d)
      .select(col("source"), coalesce(col("text"), lit("")).as("text"))
      .select(col("source"), explode(expr(toks)).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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
    "q_pipeline_curate"     -> (pipelineCurate _),
    "q_pii_scan"            -> (piiScan _),
    "q_pii_redact"          -> (piiRedact _),
    "q_compression_ratio"   -> (compressionRatio _),
    "q_ngram_counts"        -> (ngramCounts _),
    "q_budget_select"       -> (budgetSelect _),
    "q_quality_drift"       -> (qualityDrift _),
    "q_vocab_coverage"      -> (vocabCoverage _),
    "q_length_trim"         -> (lengthTrim _),
    "q_text_diversity"      -> (textDiversity _),
    "q_heavy_hitters"       -> (heavyHitters _),
    "q_lm_fluency"          -> (lmFluency _),
  )

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

  val oracle: Map[String, String] = {
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

    Map(
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
      "q_vocab_coverage" ->
        ("WITH st AS (SELECT source, t AS tok, count(*) AS cnt FROM " +
          "(SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS t FROM documents) " +
          "GROUP BY source, t), " +
          "g AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS gcnt FROM st GROUP BY tok), " +
          s"v AS (SELECT tok FROM g ORDER BY gcnt DESC, tok LIMIT $VocabK), " +
          "j AS (SELECT st.source, st.cnt, v.tok AS vtok FROM st " +
          "LEFT JOIN v ON v.tok = st.tok), " +
          "cv AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total_tokens, " +
          "CAST(sum(CASE WHEN vtok IS NULL THEN 0 ELSE cnt END) AS BIGINT) AS vocab_tokens " +
          "FROM j GROUP BY source) " +
          "SELECT source, total_tokens, vocab_tokens, " +
          "vocab_tokens * 1000000 // total_tokens AS coverage_ppm " +
          "FROM cv ORDER BY source"),
      "q_length_trim" ->
        ("WITH h AS (SELECT source, " +
          "CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens, " +
          "count(*) AS cnt FROM documents GROUP BY 1, 2), " +
          "c AS (SELECT source, n_tokens, cnt, " +
          "CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_tokens) AS BIGINT) AS cum, " +
          "CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n FROM h), " +
          "cuts AS (SELECT source, " +
          s"min(CASE WHEN cum * 1000000 >= n * $TrimLoPpm THEN n_tokens END) AS p_lo_tokens, " +
          s"min(CASE WHEN cum * 1000000 >= n * $TrimHiPpm THEN n_tokens END) AS p_hi_tokens " +
          "FROM c GROUP BY source) " +
          "SELECT c.source, CAST(sum(c.cnt) AS BIGINT) AS n_docs, " +
          "max(cuts.p_lo_tokens) AS p_lo_tokens, max(cuts.p_hi_tokens) AS p_hi_tokens, " +
          "CAST(sum(CASE WHEN c.n_tokens >= cuts.p_lo_tokens AND c.n_tokens <= cuts.p_hi_tokens " +
          "THEN c.cnt ELSE 0 END) AS BIGINT) AS n_kept, " +
          "CAST(sum(CASE WHEN c.n_tokens >= cuts.p_lo_tokens AND c.n_tokens <= cuts.p_hi_tokens " +
          "THEN 0 ELSE c.cnt END) AS BIGINT) AS n_dropped " +
          "FROM c JOIN cuts ON cuts.source = c.source " +
          "GROUP BY c.source ORDER BY c.source"),
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
      // EXACT counts: the Spark side's sketch is collision-free at this
      // width/vocab operating point, so cms estimates equal these (see
      // heavyHitters scaladoc; adversarial-vocab bound is spec-pinned)
      "q_heavy_hitters" ->
        ("WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
          "SELECT token, count(*) AS est_count, " +
          s"count(*) >= $CmsHeavyMin AS is_heavy " +
          "FROM t GROUP BY token ORDER BY token"),
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
    )
  }

  val sparkSql: Map[String, String] = {
    val stop = profiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    val langs = profiles.map(_._1) :+ "zh"
    val best = langs.map(l => s"s_$l").reduce((a, b) => s"greatest($a, $b)")
    val pred = langs.foldRight("'und'") { (l, acc) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $acc END"
    }
    Map(
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
          s"array_min(transform($shingles, s -> md5(s))) AS fp_min FROM dtk ORDER BY doc_id"),
      "q_text_repetition" ->
        ("WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents), " +
          "dtk AS (SELECT doc_id, text, split(text, ' ') AS tk FROM d0), " +
          s"t AS (SELECT doc_id, $shingles AS sh FROM dtk) " +
          "SELECT doc_id, CAST(size(sh) AS BIGINT) AS n_shingles, " +
          "CAST(size(array_distinct(sh)) AS BIGINT) AS n_distinct, " +
          "CAST(size(sh) - size(array_distinct(sh)) AS DOUBLE) / size(sh) AS dup_ratio " +
          "FROM t ORDER BY doc_id"),
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
          s"$shingles AS sh FROM dtk), " +
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
          s"$shingles AS sh FROM dtk), " +
          "m AS (SELECT *, CAST(size(sh) AS BIGINT) AS n_sh, " +
          "CAST(size(sh) - size(array_distinct(sh)) AS BIGINT) AS n_dup FROM t), " +
          "ok AS (SELECT doc_id, source, n_tokens, n_chars, md5(lower(trim(text))) AS nm FROM m " +
          s"WHERE $qfKeep), " +
          "keep AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER " +
          "(PARTITION BY nm ORDER BY n_chars DESC, doc_id ASC) AS rn FROM ok) WHERE rn = 1), " +
          "dd AS (SELECT o.doc_id, o.source, o.n_tokens FROM ok o JOIN keep k ON k.doc_id = o.doc_id), " +
          packBinsSql("dd", s"cum_excl DIV $PackBudget")),
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
      // the registered native cms_estimate is the SQL user's probe path
      "q_heavy_hitters" ->
        ("WITH t AS (SELECT explode(split(text, ' ')) AS token FROM documents), " +
          s"sk AS (SELECT count_min_sketch(token, CAST($CmsEps AS DOUBLE), " +
          s"CAST($CmsConf AS DOUBLE), $CmsSeed) AS sk FROM t) " +
          "SELECT token, cms_estimate(sk.sk, token) AS est_count, " +
          s"cms_estimate(sk.sk, token) >= $CmsHeavyMin AS is_heavy " +
          "FROM (SELECT DISTINCT token FROM t) CROSS JOIN sk ORDER BY token"),
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
      "q_ngram_counts" ->
        ("WITH d0 AS (SELECT coalesce(text, '') AS text FROM documents), " +
          "tk AS (SELECT split(text, ' ') AS t FROM d0), " +
          "b AS (SELECT explode(zip_with(slice(t, 1, size(t) - 1), " +
          "slice(t, 2, size(t) - 1), (a, b) -> concat(a, ' ', b))) AS bigram FROM tk) " +
          "SELECT bigram, count(*) AS n FROM b GROUP BY bigram " +
          s"ORDER BY n DESC, bigram LIMIT $NgramTopK"),
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
    )
  }
}

package graft.ops

import graft.{SessionMemo, Tables}
import graft.ops.Fragments._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer induction: the first merge's pair
  * counts, the multi-iteration merge table and the corpus encoding
  * under it, with their DuckDB and Spark-SQL texts.
  */
object Bpe {

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
    // (a) pinned: every iteration of the loop below starts from it.
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
      // (a) the winner feeds the rewrite and the merge row, inside the loop
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
        // (a) cut the state's lineage every pinEvery rounds
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

  /** The q_bpe_train text, K iterations unrolled into chained CTEs
    * over a dialect's training prefix — the loop body is deterministic
    * SQL, so depth-K training is one static query per dialect. The merge
    * step and its wrapped-symbol encoding are character-identical in
    * both, which is the point: both engines' replace() is
    * leftmost-nonoverlapping, and the encoding makes that exactly one
    * greedy BPE pass (see [[BpeL]]).
    */
  private def bpeTrainSql(prefix: String): String = {
    val unions = (1 to BpeIters)
      .map(i => s"SELECT $i AS iter, lhs, rhs, n FROM b$i").mkString(" UNION ALL ")
    s"$prefix SELECT iter, lhs, rhs, n FROM ($unions) ORDER BY iter"
  }

  /** The q_bpe_apply text: the same chained-CTE state as
    * [[bpeTrainSql]], finished by exploding the final state's symbols
    * (`sym`, the dialect's generator) into the corpus-weighted
    * vocabulary histogram with count column `n`.
    */
  private def bpeApplySql(prefix: String, sym: String, n: String): String =
    s"$prefix SELECT sym, $n AS n FROM (SELECT $sym AS sym, wn " +
      s"FROM s$BpeIters) GROUP BY sym ORDER BY n DESC, sym LIMIT 100"

  // SQL spellings of the BpeL / BpeR symbol wrappers
  private val SqlL = "chr(1)"
  private val SqlR = "chr(2)"

  /** The shared WITH-clause: w0 (distinct-word frequencies) → s0
    * (wrapped-symbol states) → per-iteration pair counts p_i, winner
    * b_i, rewritten state s_i, for i in 1..[[BpeIters]]. The dialect
    * supplies what differs: `words` (one row per whitespace token),
    * `wrap` (a word `w` as its wrapped-symbol state), `len` (string
    * length) and `pairs` (the p_i CTE over state s_{i-1}).
    */
  private def bpeSqlPrefix(words: String, wrap: String, len: String,
      pairs: Int => String): String = {
    def step(i: Int): String =
      s"${pairs(i)}, " +
        s"b$i AS (SELECT lhs, rhs, n FROM p$i ORDER BY n DESC, lhs, rhs LIMIT 1), " +
        s"s$i AS (SELECT replace(st, $SqlL || lhs || $SqlR || $SqlL || rhs || $SqlR, " +
        s"$SqlL || lhs || rhs || $SqlR) AS st, wn FROM s${i - 1} CROSS JOIN b$i)"
    s"WITH w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wn FROM ($words) " +
      s"WHERE $len(w) >= 2 AND instr(w, $SqlL) = 0 AND instr(w, $SqlR) = 0 GROUP BY w), " +
      s"s0 AS (SELECT $wrap AS st, wn FROM w0), " +
      (1 to BpeIters).map(step).mkString(", ")
  }

  /** A state `st`'s symbol list, in DuckDB and in Spark SQL. */
  private val bpeSymsDuck = s"string_split(substr(st, 2, len(st) - 2), $SqlR || $SqlL)"
  private val bpeSymsSpark = s"split(substring(st, 2, length(st) - 2), concat($SqlR, $SqlL))"

  private val bpePrefixDuck = bpeSqlPrefix(
    "SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w FROM documents",
    s"array_to_string(list_transform(string_split(w, ''), c -> $SqlL || c || $SqlR), '')",
    "len",
    i => s"p$i AS (SELECT sy[u] AS lhs, sy[u + 1] AS rhs, CAST(sum(wn) AS BIGINT) AS n FROM " +
      s"(SELECT sy, wn, unnest(generate_series(1, len(sy) - 1)) AS u FROM " +
      s"(SELECT $bpeSymsDuck AS sy, wn FROM s${i - 1})) " +
      "GROUP BY lhs, rhs)")

  private val bpePrefixSpark = bpeSqlPrefix(
    "SELECT explode(split(coalesce(text, ''), ' ')) AS w FROM documents",
    s"concat_ws('', transform(split(w, ''), c -> concat($SqlL, c, $SqlR)))",
    "length",
    i => s"p$i AS (SELECT p.lhs AS lhs, p.rhs AS rhs, sum(wn) AS n FROM " +
      s"(SELECT explode(zip_with(slice(sy, 1, size(sy) - 1), slice(sy, 2, size(sy) - 1), " +
      "(a, b) -> struct(a AS lhs, b AS rhs))) AS p, wn FROM " +
      s"(SELECT $bpeSymsSpark AS sy, wn FROM s${i - 1})) " +
      "GROUP BY p.lhs, p.rhs)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_pairs"           -> (bpePairs _),
    "q_bpe_train"           -> (bpeTrain _),
    "q_bpe_apply"           -> (bpeApply _),
  )

  val oracle: Map[String, String] = Map(
    "q_bpe_pairs" ->
      ("WITH w AS (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w " +
        "FROM documents), " +
        "p AS (SELECT substr(w, u, 2) AS pair FROM " +
        "(SELECT w, unnest(generate_series(1, len(w) - 1)) AS u FROM w " +
        "WHERE len(w) >= 2)) " +
        "SELECT pair, count(*) AS n FROM p GROUP BY pair " +
        "ORDER BY n DESC, pair LIMIT 50"),
    "q_bpe_train" -> bpeTrainSql(bpePrefixDuck),
    "q_bpe_apply" ->
      bpeApplySql(bpePrefixDuck, s"unnest($bpeSymsDuck)", "CAST(sum(wn) AS BIGINT)"),
  )

  val sparkSql: Map[String, String] = Map(
    "q_bpe_pairs" ->
      ("WITH w AS (SELECT explode(split(coalesce(text, ''), ' ')) AS w " +
        "FROM documents), " +
        "p AS (SELECT explode(transform(sequence(1, length(w) - 1), " +
        "i -> substring(w, i, 2))) AS pair FROM w WHERE length(w) >= 2) " +
        "SELECT pair, count(*) AS n FROM p GROUP BY pair " +
        "ORDER BY n DESC, pair LIMIT 50"),
    "q_bpe_train" -> bpeTrainSql(bpePrefixSpark),
    "q_bpe_apply" -> bpeApplySql(bpePrefixSpark, s"explode($bpeSymsSpark)", "sum(wn)"),
  )
}

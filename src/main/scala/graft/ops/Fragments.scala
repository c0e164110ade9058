package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The column and SQL texts that two or more of the LLM-pipeline
  * families share: [[Dedup]] (persisted substrates and dedup), [[Ann]]
  * (embeddings and ANN), [[TextQuality]] (text and quality), [[Bpe]]
  * and [[Sampling]] (sampling and splits). SURVEY §2C operators
  * (#43-47) plus the training-data extensions live in those five.
  *
  * Determinism strategy (everything in the families is oracle-checked
  * except the spark.ml MinHashLSH variant, the KMeans-trained IVF, and
  * the seeded stratified sample — engine-specific RNG/training,
  * spec-verified instead per SURVEY §7.4 rules 7-8):
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
  *
  * This object reads no family's members, so no initializer cycle can
  * pass through it.
  */
object Fragments {

  // ---------------------------------------------------------------- text
  /** Tokens of the whitespace-soup text column (split on single space;
    * Spark split and DuckDB string_split agree incl. empty handling).
    */
  private[ops] val toks = "split(text, ' ')"

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
  private[ops] val shingles =
    "CASE WHEN size(tk) >= 3 THEN shingle3(tk) ELSE array(coalesce(text, '')) END"

  /** documents with the token array materialized once per row. */
  private[ops] def withTk(df: DataFrame): DataFrame =
    df.withColumn("tk", split(coalesce(col("text"), lit("")), " "))

  private[ops] val shinglesDuck =
    "CASE WHEN len(string_split(coalesce(text, ''),' ')) >= 3 THEN " +
      "list_transform(generate_series(1, len(string_split(coalesce(text, ''),' ')) - 2), " +
      "i -> array_to_string(list_slice(string_split(coalesce(text, ''),' '), i, i + 2), ' ')) " +
      "ELSE [coalesce(text, '')] END"

  // ----------------------------------------------------------- embeddings
  /** Fixed-point quantization of the FLOAT[64] embedding: q = round(x *
    * 1000) as long. Dot/norm sums are then exact integers.
    */
  private[ops] val quant =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
  private[ops] val quantDuck =
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
  private[ops] def dotL(a: String, b: String) = s"array_dot_l($a, $b)"

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
  private[ops] def lshPlaneDot(p: Int): String =
    dotL("q", s"array(${LshPlanes(p).map(w => s"${w}L").mkString(", ")})")

  private[ops] def lshPlaneDotDuck(p: Int): String =
    s"CAST(list_sum(list_transform(list_zip(q, [${LshPlanes(p).mkString(", ")}]), " +
      "p -> p[1] * p[2])) AS BIGINT)"

  private[ops] def lshBucketExpr(dot: Int => String): String =
    (0 until 4).map(p => s"(CASE WHEN ${dot(p)} >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")

  /** The sign-LSH bucket of the quantized `q` column, per dialect. */
  private[ops] val lshBucket = lshBucketExpr(lshPlaneDot)
  private[ops] val lshBucketDuck = lshBucketExpr(lshPlaneDotDuck)

  // ---- SQL fragments shared by the families' DuckDB oracles (`oracle`)
  // and Spark-SQL surfaces (`sparkSql`): one named copy of each block
  // that two texts share; a block one family alone uses lives in that
  // family. Where the dialects differ, the differing sub-expression
  // is an argument; a fragment never branches on its caller's dialect.
  // SqlTextDump (test scope) proves a refactor here leaves every
  // rendered text byte-identical.

  /** Exact integer dot of two DuckDB integer lists. */
  private[ops] def dotDuck(a: String, b: String) =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) AS BIGINT)"

  /** Documents with the token array `tk` (Spark SQL CTE), under the
    * same null⇒'' rule as the DataFrame shingle substrate.
    */
  private[ops] val dtk = "dtk AS (SELECT *, split(coalesce(text, ''), ' ') AS tk FROM documents)"

  /** Sequence packing: each doc's bin by exclusive running token sum per source. */
  private[ops] def packBinsSql(src: String, bin: String) =
    "c AS (SELECT doc_id, source, n_tokens, " +
      s"sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens AS cum_excl FROM $src) " +
      s"SELECT doc_id, source, n_tokens, $bin AS bin " +
      "FROM c ORDER BY source, doc_id"
}

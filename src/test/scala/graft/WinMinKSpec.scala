package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native win_min_k expression must be VALUE-IDENTICAL to the
  * composable rolling K-minimum it replaced in the winnow fingerprint
  * build (r21): transform(sequence(0, size(hs) - 1), j ->
  * array_min(slice(hs, j + 1, k))). The DuckDB oracle keeps the
  * composable spelling, so any divergence here is a future hash-gate
  * failure — this spec pins the equivalence on random arrays and every
  * edge the deque handles specially: the clamped tail windows, k ≥ n,
  * k = 1, duplicates/monotone runs, and the empty array.
  */
class WinMinKSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    functions.GraftFunctions.ensureRegistered(s)
    s
  }

  private def composable(k: Int) =
    s"transform(sequence(0, size(hs) - 1), j -> array_min(slice(hs, j + 1, $k)))"

  test("value-identical to the composable slice/array_min chain") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // NOTE: no empty array here — the COMPOSABLE reference is undefined
    // on it (sequence(0, -1) descends and slice(hs, 0, k) throws); the
    // call site guarantees >= 1 window (n_chars >= W). The native form's
    // empty-in/empty-out is pinned separately below.
    val rows: Seq[Seq[Long]] = Seq(
      Seq(42L),
      Seq(5L, 4L, 3L, 2L, 1L),                  // strictly decreasing
      Seq(1L, 2L, 3L, 4L, 5L),                  // strictly increasing
      Seq(7L, 7L, 7L, 7L),                      // ties
      Seq.fill(200)(rng.nextLong() >>> 4),      // random 60-bit-like
      Seq.fill(17)(rng.nextInt(5).toLong))      // heavy duplicates
    val df = rows.toDF("hs")
    for (k <- Seq(1, 2, ops.Dedup.WinnowK, 1000)) {
      val got = df.select(expr(s"win_min_k(hs, $k)")).as[Seq[Long]].collect()
      val want = df.select(expr(composable(k))).as[Seq[Long]].collect()
      assert(got.toSeq === want.toSeq, s"k=$k")
    }
    // empty in, empty out (out of the composable form's domain)
    assert(Seq(Seq.empty[Long]).toDF("hs")
      .select(expr("win_min_k(hs, 16)")).as[Seq[Long]].head.isEmpty)
  }

  test("null array or null k propagates") {
    import spark.implicits._
    val r = Seq((Option.empty[Seq[Long]], Option(3)),
        (Option(Seq(1L, 2L)), Option.empty[Int]))
      .toDF("hs", "k")
      .select(expr("win_min_k(hs, k)")).collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("a bigint k fails analysis instead of being truncated to int") {
    import spark.implicits._
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq(Seq(1L, 2L, 3L)).toDF("hs")
        .select(expr("win_min_k(hs, CAST(16 AS BIGINT))")).collect())
    assert(e.getMessage.contains("win_min_k expects an int k"), e.getMessage)
  }
}

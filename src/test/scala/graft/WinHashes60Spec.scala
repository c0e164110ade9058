package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native win_hashes60 expression must be VALUE-IDENTICAL to the
  * composable per-position chain it replaced in the stride-1 substring
  * family (r20 optimization): transform(sequence(1, n_chars - W + 1),
  * i -> CAST(conv(substring(md5(substring(text, i, W)), 1, 15), 16,
  * 10) AS BIGINT)). The DuckDB oracle keeps the composable spelling,
  * so any divergence here is a future hash-gate failure — this spec
  * pins the equivalence on every edge the implementation handles
  * specially: multi-byte code points (the offsets walk), windows
  * clamped at the string tail, n_chars larger than the actual text
  * (empty-substring windows), and the exact-W boundary.
  */
class WinHashes60Spec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    functions.GraftFunctions.ensureRegistered(s)
    s
  }

  private def composable(w: Int) =
    s"transform(sequence(CAST(1 AS BIGINT), n_chars - ${w - 1}), " +
      s"i -> CAST(conv(substring(md5(substring(text, CAST(i AS INT), $w)), 1, 15), 16, 10) AS BIGINT))"

  test("value-identical to the composable md5-prefix chain (ASCII, multibyte, boundaries)") {
    import spark.implicits._
    val w = 8
    val rows = Seq(
      ("plain ascii text with several windows", None),
      ("exact-W!", None),                      // n_chars == W: one window
      ("ünïcödé mülti-byte çontent — offsets walk", None),
      ("日本語のテキストとASCII mix 123", None),
      ("ab" * 40, None),                       // periodic content, repeated hashes
      ("short but n_chars says longer", Some(60L))) // clamped + empty windows
      .map { case (t, n) => (t, n.getOrElse(t.codePointCount(0, t.length).toLong)) }
      .filter(_._2 >= w)
    val df = rows.toDF("text", "n_chars")
    val got = df.select(expr(s"win_hashes60(text, n_chars, $w)")).as[Seq[Long]].collect()
    val want = df.select(expr(composable(w))).as[Seq[Long]].collect()
    assert(got.toSeq === want.toSeq)
    // and at the registered window width
    val w32 = ops.Dedup.SubWinW
    val long = Seq(("x" * 100 + "ü" * 10 + "y" * 100, 210L)).toDF("text", "n_chars")
    assert(long.select(expr(s"win_hashes60(text, n_chars, $w32)")).as[Seq[Long]].head ===
      long.select(expr(composable(w32))).as[Seq[Long]].head)
  }

  test("null propagates; empty array below one window") {
    import spark.implicits._
    val r = Seq((Option.empty[String], Option(10L)), (Option("abc"), Option.empty[Long]))
      .toDF("text", "n_chars")
      .select(expr("win_hashes60(text, n_chars, 8)")).collect()
    assert(r.forall(_.isNullAt(0)))
    assert(Seq(("abc", 3L)).toDF("text", "n_chars")
      .select(expr("win_hashes60(text, n_chars, 8)")).as[Seq[Long]].head.isEmpty)
  }
}

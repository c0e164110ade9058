package graft

import org.scalatest.funsuite.AnyFunSuite

/** Null keys through the one-plan rewrites that align their legs with a
  * filter or a null-safe join: a null supplier key in Q15's revenue CTE,
  * a null doc_id and null sources in the near-dup and verify chains.
  * Each query must return what its Spark-SQL text (the oracle's
  * semantics) returns on the same null-bearing corpus.
  */
class NullKeySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val root = s"/tmp/graft-test-nullkeys-${java.util.UUID.randomUUID()}"

  /** Word-soup docs with near and verbatim copies, plus a null doc_id
    * (a copy of doc 1) and two null sources.
    */
  private lazy val docsDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")
    def soup(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 8).map(i => (Option(i.toLong), soup(40), Option(s"s${i % 3}")))
    val near = (0 until 3).map { i =>
      val t = base(i)._2.split(' ')
      t(20) = "zulu"
      (Option(100L + i), t.mkString(" "), Option(s"s${(i + 1) % 3}"))
    }
    val nulls = Seq(
      (None, base(1)._2, Option("s0")),
      (Option(200L), base(2)._2, None),
      (Option(201L), near(0)._2, None),
      (Option(202L), base(0)._2, Option("s2")))
    val dir = s"$root/docs"
    (base ++ near ++ nulls).map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** Q15 inputs: suppliers 2 and 3 tie at 300 in the quarter; the
    * null-supplier group's revenue is `nullRev`; a null s_suppkey
    * supplier row must match nothing.
    */
  private def q15Dir(label: String, nullRev: Double): String = {
    import spark.implicits._
    val dir = s"$root/$label"
    val ts = java.sql.Timestamp.valueOf("1997-02-01 00:00:00")
    Seq((Option(1L), 100.0), (Option(2L), 300.0), (Option(3L), 300.0), (None, nullRev))
      .zipWithIndex.map { case ((supp, price), i) =>
        (i.toLong, 1L, supp, 1, 1.0, price, 0.0, 0.0, "N", "O", ts)
      }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((Option(1L), "S1"), (Option(2L), "S2"), (Option(3L), "S3"), (None, "Snull"))
      .map { case (k, n) => (k, n, 1, 0.0) }
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    dir
  }

  /** The query's rows, after checking they equal its Spark-SQL text's. */
  private def sameAsSql(name: String, dir: String): Seq[String] = {
    Seq("documents", "lineitem", "supplier").foreach { t =>
      if (new java.io.File(s"$dir/$t.parquet").exists)
        Tables(spark, dir, t).createOrReplaceTempView(t)
    }
    val got = SqlSurface.canon(SparkEntry.queries(name)(spark, dir))
    val want = SqlSurface.canon(spark.sql(SqlSurface.sqlFor(name).get))
    assert(got == want, s"$name on null keys: engine ${got._2} vs SQL text ${want._2}")
    got._2
  }

  test("q_subquery_top_supplier: a null-supplier group holding the max leaves no winner") {
    assert(sameAsSql("q_subquery_top_supplier", q15Dir("q15max", 900.0)).isEmpty)
  }

  test("q_subquery_top_supplier: a null-supplier group below the max keeps the tied winners") {
    val rows = sameAsSql("q_subquery_top_supplier", q15Dir("q15low", 50.0))
    assert(rows.size == 2 && rows.exists(_.contains("S2")) && rows.exists(_.contains("S3")),
      rows.mkString(" | "))
  }

  Seq("q_dedup_near", "q_dedup_near_collapsed", "q_dedup_verify").foreach { name =>
    test(s"$name: a null doc_id and null sources change nothing against the SQL text") {
      assert(sameAsSql(name, docsDir).nonEmpty)
    }
  }
}

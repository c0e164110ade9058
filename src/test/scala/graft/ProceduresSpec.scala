package graft

import org.scalatest.funsuite.AnyFunSuite

/** `CALL graft.<procedure>(...)` — the SQL front door for maintenance
  * verbs (plans/GraftCallParser + ops/Procedures): the parser extension
  * intercepts only the CALL form and delegates everything else, each
  * procedure performs the same action as its Scala entry point, and —
  * the Delta/Iceberg contract — results are TYPED rows a caller can
  * join/filter and arguments resolve positionally or by
  * `name => value` with declared defaults.
  */
class ProceduresSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = SparkTestSession.sf0001

  test("CALL graft.ensure_zone_map returns the typed (family, path) row") {
    val r = spark.sql(s"CALL graft.ensure_zone_map('$d')")
    assert(r.schema.fieldNames.toSeq == Seq("family", "path"))
    val row = r.collect().head
    assert(row.getString(0) == "zonemap")
    assert(row.getString(1) == ops.Storage.ensureZoneMapMerged(spark, d),
      "CALL must resolve the same artifact as the Scala entry point")
    assert(spark.read.parquet(row.getString(1)).count() > 0)
  }

  test("CALL graft.ensure_dedup_substrates rows join like a table") {
    val res = spark.sql(s"CALL graft.ensure_dedup_substrates('$d')")
    assert(res.schema.fieldNames.toSeq == Seq("family", "path"))
    // the typed-result contract: a caller can JOIN the CALL output —
    // here against their own watchlist of families — and read the
    // published path out of the matched rows
    import spark.implicits._
    val watch = Seq("simhash", "winnow_fps").toDF("family")
    val joined = res.join(watch, "family").collect()
    assert(joined.length == 2, s"join must match the watchlist: ${joined.toSeq}")
    joined.foreach { row =>
      assert(spark.read.parquet(row.getString(1)).count() > 0,
        s"empty substrate at ${row.getString(1)}")
    }
    assert(res.count() == 6, "all six families publish")
  }

  test("CALL graft.ivf_recluster_if_stale returns the typed no-op verdict") {
    val r = spark.sql(s"CALL graft.ivf_recluster_if_stale('$d')").collect().head
    assert(!r.getBoolean(0), "quiet fixture must not refit")
    assert(r.getString(1).nonEmpty)
  }

  test("CALL graft.cms_compact: typed counts, named args in any order") {
    val empty = s"/tmp/graft-test-absent-${java.util.UUID.randomUUID()}"
    val r = spark.sql(s"CALL graft.cms_compact('$empty')").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (-1L, 0L, 0L),
      "absent log compacts to a no-op report")
    val named = spark.sql(
      s"CALL graft.cms_compact(keep_tail => 2, sketch_dir => '$empty')")
      .collect().head
    assert((named.getLong(0), named.getLong(1), named.getLong(2)) == (-1L, 0L, 0L),
      "named args resolve in any order")
    // a REAL log through the SQL front door: 4 batches, keep_tail=1 →
    // the checkpoint covers batches 0..2 and their 3 files sweep —
    // the same counts the Scala entry reports
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, lit}
    val log = s"/tmp/graft-test-callcms-${java.util.UUID.randomUUID()}"
    (0 until 4).foreach { b =>
      Seq(s"tok$b").toDF("token")
        .agg(expr(ops.TextQuality.cmsAgg("token")).as("sk"))
        .withColumn("batch_id", lit(b.toLong))
        .coalesce(1).write.mode("append").parquet(log)
    }
    val savedTtl = ops.TextQuality.cmsCoveredTtlMs
    ops.TextQuality.cmsCoveredTtlMs = 0L // deterministic same-run sweep
    val c = try spark.sql(s"CALL graft.cms_compact('$log', keep_tail => 1)")
      .collect().head
    finally ops.TextQuality.cmsCoveredTtlMs = savedTtl
    assert((c.getLong(0), c.getLong(1), c.getLong(2)) == (2L, 3L, 3L),
      s"ckpt_upto=2, 3 rows folded, 3 files swept: $c")
  }

  test("argument resolution fails loudly: unknown name, duplicate, missing required") {
    def msg(sql: String): String =
      intercept[Exception](spark.sql(sql).collect()).getMessage
    assert(msg(s"CALL graft.cms_compact('$d', nope => 1)").contains("unknown parameter"))
    assert(msg(s"CALL graft.cms_compact('$d', sketch_dir => 'x')").contains("given twice"))
    assert(msg("CALL graft.cms_compact(keep_tail => 2)")
      .contains("missing required parameter"))
    assert(msg(s"CALL graft.cms_compact(keep_tail => 2, '$d')")
      .contains("positional argument after a named argument"))
  }

  test("CALL parsing: unknown procedure lists the surface; non-CALL SQL delegates") {
    val e = intercept[Exception] {
      spark.sql("CALL graft.no_such_proc('x')").collect()
    }
    assert(e.getMessage.contains("ensure_zone_map") &&
      e.getMessage.contains("compact_frames"),
      s"error must list the procedure surface: ${e.getMessage}")
    // the interceptor is anchored to the whole statement: ordinary SQL
    // (even SQL that CONTAINS the CALL text as a literal) delegates
    val r = spark.sql("SELECT 'CALL graft.ensure_zone_map(1)' AS s")
      .collect().head.getString(0)
    assert(r.startsWith("CALL graft."))
  }

  test("splitArgs: quoted literals verbatim, named args, loud malformed input") {
    import ops.Procedures.CallArg
    val p = new plans.GraftCallParser(spark.sessionState.sqlParser)
    assert(p.splitArgs("'a,b', 'c''d', 42") ==
      Seq(CallArg("a,b"), CallArg("c'd"), CallArg("42")))
    assert(p.splitArgs("") == Seq.empty)
    assert(p.splitArgs("   ") == Seq.empty)
    // ADVICE r18: '' must survive as a positional arg (not shift later
    // args) and quoted whitespace must be preserved byte-for-byte
    assert(p.splitArgs("'', 512") == Seq(CallArg(""), CallArg("512")))
    assert(p.splitArgs("' /tmp/x y/t.parquet '") ==
      Seq(CallArg(" /tmp/x y/t.parquet ")))
    assert(p.splitArgs("keep_tail => 2, sketch_dir => '/tmp/a b'") == Seq(
      CallArg("2", Some("keep_tail")), CallArg("/tmp/a b", Some("sketch_dir"))))
    // '=>' inside a quoted literal is data, not a named-arg marker
    assert(p.splitArgs("'a => b'") == Seq(CallArg("a => b")))
    intercept[IllegalArgumentException](p.splitArgs("a,,b"))
    intercept[IllegalArgumentException](p.splitArgs("'unterminated"))
    intercept[IllegalArgumentException](p.splitArgs("'a' junk"))
  }
}

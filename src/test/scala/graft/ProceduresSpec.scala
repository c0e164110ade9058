package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.parser.ParseException
import org.scalatest.funsuite.AnyFunSuite

/** `CALL graft.<procedure>(...)` — the SQL front door for maintenance
  * verbs (ops/Procedures, a procedure catalog behind Spark's own CALL):
  * each procedure performs the same action as its Scala entry point,
  * and — the Delta/Iceberg contract — results are TYPED rows a caller
  * can join/filter and arguments resolve positionally or by
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
    def condition(sql: String): String =
      intercept[AnalysisException](spark.sql(sql).collect()).getCondition
    assert(condition(s"CALL graft.cms_compact('$d', nope => 1)") ==
      "UNRECOGNIZED_PARAMETER_NAME")
    assert(condition(s"CALL graft.cms_compact('$d', sketch_dir => 'x')")
      .startsWith("DUPLICATE_ROUTINE_PARAMETER_ASSIGNMENT"))
    assert(condition("CALL graft.cms_compact(keep_tail => 2)") ==
      "REQUIRED_PARAMETER_NOT_FOUND")
    assert(condition(s"CALL graft.cms_compact(keep_tail => 2, '$d')") ==
      "UNEXPECTED_POSITIONAL_ARGUMENT")
    assert(condition(s"CALL graft.cms_compact('$d', 2, 3)").startsWith("WRONG_NUM_ARGS"))
  }

  test("CALL parsing: unknown procedure lists the surface; non-CALL SQL delegates") {
    val e = intercept[AnalysisException] {
      spark.sql("CALL graft.no_such_proc('x')").collect()
    }
    assert(e.getCondition == "FAILED_TO_LOAD_ROUTINE")
    // the catalog's own error, the cause Spark keeps, lists the surface
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq
    assert(msgs.exists(m => m.contains("ensure_zone_map") && m.contains("compact_frames")),
      s"error must list the procedure surface: $msgs")
    // ordinary SQL (even SQL that CONTAINS the CALL text as a literal)
    // runs as a query
    val r = spark.sql("SELECT 'CALL graft.ensure_zone_map(1)' AS s")
      .collect().head.getString(0)
    assert(r.startsWith("CALL graft."))
  }

  test("CALL arguments: quoted literals verbatim, typed casts, loud malformed input") {
    // a dataset dir whose name holds a comma, a quote, '=>' and leading
    // and trailing spaces: the whole literal must reach the procedure
    import org.apache.hadoop.fs.{FileUtil, Path}
    val root = s"/tmp/graft-test-callargs-${java.util.UUID.randomUUID()}"
    val dir = s"$root/ a,b'c => d "
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    try {
      FileUtil.copy(fs, new Path(s"$d/lineitem.parquet"),
        fs, new Path(s"$dir/lineitem.parquet"), false, conf)
      val row = spark.sql(s"CALL graft.ensure_zone_map('${dir.replace("'", "''")}')")
        .collect().head
      assert(row.getString(1) == ops.Storage.ensureZoneMapMerged(spark, dir))
    } finally fs.delete(new Path(root), true)
    // an int literal binds to a STRING parameter; '2' casts to INT
    val empty = s"/tmp/graft-test-absent-${java.util.UUID.randomUUID()}"
    assert(spark.sql(s"CALL graft.cms_compact(keep_tail => '2', sketch_dir => '$empty')")
      .collect().head.getLong(0) == -1L)
    assert(spark.sql("CALL graft.cms_compact(42)").collect().head.getLong(0) == -1L)
    // '' reaches the procedure as the empty path; it shifts no later argument
    val e = intercept[Exception](spark.sql("CALL graft.cms_compact('', 1)"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("empty string")), e)
    assert(intercept[SparkThrowable](spark.sql(s"CALL graft.cms_compact('$empty', 'abc')"))
      .getCondition == "CAST_INVALID_INPUT")
    // the procedure name is case-insensitive; the catalog name is not
    // (GRAFT falls through to spark_catalog, which has no procedures)
    assert(spark.sql(s"CALL graft.CMS_Compact('$empty')").collect().head.getLong(0) == -1L)
    assert(intercept[AnalysisException](spark.sql(s"CALL GRAFT.cms_compact('$empty')"))
      .getCondition.startsWith("MISSING_CATALOG_ABILITY"))
    intercept[ParseException](spark.sql("CALL graft.cms_compact(a,,b)"))
    intercept[ParseException](spark.sql("CALL graft.cms_compact('unterminated)"))
    intercept[ParseException](spark.sql("CALL graft.cms_compact('a' junk)"))
  }

  test("the graft catalog lists the procedure table; each CALL has the table's schema") {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
    assert(cat.listProcedures(Array.empty).map(_.name).toSeq ==
      ops.Procedures.procs.map(_._1))
    val absent = s"/tmp/graft-test-absent-${java.util.UUID.randomUUID()}"
    val args = Map("gc_orphans" -> "", "cms_compact" -> s"'$absent'",
      "compact_frames" -> s"'$absent'").withDefaultValue(s"'$d'")
    ops.Procedures.procs.foreach { case (n, p) =>
      assert(spark.sql(s"CALL graft.$n(${args(n)})").schema == p.schema, n)
    }
  }
}

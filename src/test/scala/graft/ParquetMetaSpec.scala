package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** ParquetMeta: the footer surgery that makes SfGen output read back
  * like the arrow-written reference fixtures (stripSparkSchema), and
  * the footer reader behind every flat parquet read (read).
  */
class ParquetMetaSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def writeNtz(dir: String): Unit = {
    spark.sql(
      """SELECT id, CAST(timestamp_micros(1700000000000000 + id * 1000000)
        |  AS TIMESTAMP_NTZ) AS ts, CAST(id AS DOUBLE) / 7 AS v
        |FROM range(1000)""".stripMargin)
      .repartition(2)
      .write.mode("overwrite").parquet(dir)
  }

  test("strip removes the embedded schema and flips NTZ read-back to LTZ") {
    val dir = Files.createTempDirectory("pmeta").toString + "/t.parquet"
    writeNtz(dir)
    // Spark resurrects NTZ from its own footer metadata even with
    // inferTimestampNTZ=false (the session pins it false)
    assert(spark.read.parquet(dir).schema("ts").dataType == TimestampNTZType)

    val before = spark.read.parquet(dir)
      .selectExpr("sum(id)", "sum(v)", "min(CAST(ts AS STRING))").collect()(0)
    val n = ParquetMeta.stripSparkSchema(dir)
    assert(n >= 1, "at least one part file rewritten")

    val after = spark.read.parquet(dir)
    // naive micros footer + no embedded schema ⇒ inference rules apply
    assert(after.schema("ts").dataType == TimestampType)
    // data region untouched: identical values (UTC session ⇒ same wall
    // clock), identical row count
    val a = after.selectExpr("sum(id)", "sum(v)", "min(CAST(ts AS STRING))").collect()(0)
    assert(a == before)
    assert(after.count() == 1000)
    // idempotent: second strip rewrites nothing
    assert(ParquetMeta.stripSparkSchema(dir) == 0)
  }

  test("footer keys are actually gone and no stale crc sidecar survives") {
    val dir = Files.createTempDirectory("pmeta2").toString + "/t.parquet"
    writeNtz(dir)
    ParquetMeta.stripSparkSchema(dir)
    val part = Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList.head
    val bytes = Files.readAllBytes(part)
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val fmd = org.apache.parquet.format.Util.readFileMetaData(
      new java.io.ByteArrayInputStream(bytes, bytes.length - 8 - footerLen, footerLen))
    val keys = Option(fmd.getKey_value_metadata)
      .map(_.asScala.map(_.getKey).toSet).getOrElse(Set.empty[String])
    assert(!keys.exists(_.startsWith("org.apache.spark")), s"leftover: $keys")
    // the .crc Hadoop sidecar for the rewritten part must be gone —
    // a stale one fails every subsequent read with ChecksumException
    val crc = part.resolveSibling("." + part.getFileName.toString + ".crc")
    assert(!Files.exists(crc))
    // and Tables.normNtz would have been a no-op here; both layers agree
    assert(spark.read.parquet(dir).schema("ts").dataType == TimestampType)
  }

  test("normNtz defense: Spark-written NTZ data still reads as LTZ via Tables") {
    val base = Files.createTempDirectory("pmeta3").toString
    writeNtz(s"$base/events.parquet")   // unstripped: embedded NTZ schema
    val df = Tables(spark, base, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.count() == 1000)
  }

  /** The footer-schema read resolves exactly what Spark's inference
    * resolves, and launches no job doing it.
    */
  private def assertFooterRead(path: String): Unit = {
    val want = spark.read.parquet(path).schema
    val (df, jobs) = SparkTestSession.jobsIn(ParquetMeta.read(spark, path))
    assert(df.schema == want, s"$path: footer schema ${df.schema} != inferred $want")
    assert(jobs == 0, s"$path: resolving the read launched $jobs job(s)")
  }

  private val fixtureTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  test("footer schema equals Spark's inferred schema for every fixture table, with no job") {
    for (sf <- Seq(SparkTestSession.sf0001, SparkTestSession.sf001);
         t <- fixtureTables)
      assertFooterRead(s"$sf/$t.parquet")
  }

  test("footer schema equals Spark's inferred schema for every parquet artifact family") {
    val d = SparkTestSession.sf0001
    ops.Storage.ensureZoneMapMerged(spark, d)
    ops.Storage.ensureBloomIndex(spark, d)
    ops.Dedup.substrates.foreach(_.ensure(spark, d))
    ops.Ann.ensureIvfIndex(spark, d)
    sources.MediaFixtures.tablePath(spark, d)
    sources.MediaFixtures.volumeTablePath(spark, d, 20L)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(st: org.apache.hadoop.fs.FileStatus) =
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    // every dir under a published artifact that directly holds parquet
    def parquetDirs(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val kids = fs.listStatus(p).toSeq.filter(visible)
      val here = if (kids.exists(k => k.isFile && k.getPath.getName.endsWith(".parquet")))
        Seq(p.toString) else Nil
      here ++ kids.filter(_.isDirectory).flatMap(k => parquetDirs(k.getPath))
    }
    val label = ops.Derived.labelFor(s"$d/documents.parquet") + "_"
    val checked = ops.Procedures.artifactFamilies.filter { fam =>
      val root = new org.apache.hadoop.fs.Path(ops.Derived.familyDir(fam))
      val dirs = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(label) &&
          !ops.Derived.isStagingOrTrash(st.getPath.getName))
        .flatMap(st => parquetDirs(st.getPath))
      dirs.foreach(assertFooterRead)
      dirs.nonEmpty
    }
    // the JSONL export is the one family that publishes no parquet
    assert(checked.toSet == ops.Procedures.artifactFamilies.toSet -
      ops.Sampling.JsonlExportFamily, s"families checked: $checked")
  }

  test("footer read keeps a Spark-written NTZ schema; a partitioned dir takes Spark's own discovery") {
    val base = Files.createTempDirectory("pmeta4").toString
    writeNtz(s"$base/ntz.parquet")
    assertFooterRead(s"$base/ntz.parquet")
    assert(ParquetMeta.read(spark, s"$base/ntz.parquet").schema("ts").dataType ==
      TimestampNTZType)
    // the partitioned layout ChunkIngest/JsonlCorpus write: the fallback
    // resolves it (Spark's inference job runs) and keeps the partition column
    val parted = s"$base/parted.parquet"
    spark.range(20).selectExpr("id", "id % 3 AS k")
      .write.partitionBy("k").parquet(parted)
    val (df, jobs) = SparkTestSession.jobsIn(ParquetMeta.read(spark, parted))
    assert(df.schema == spark.read.parquet(parted).schema)
    assert(df.columns.contains("k") && df.count() == 20)
    assert(jobs >= 1, "a partitioned dir must take Spark's own resolution")
  }

  test("footers report per-row-group row counts and column statistics") {
    val dir = Files.createTempDirectory("pmeta5").toString + "/t.parquet"
    writeNtz(dir)
    val fs = ParquetMeta.footers(spark, dir)
    assert(fs.size == 2 && fs.map(_.rows).sum == 1000)
    val ids = fs.flatMap(_.rowGroups).map(_.stats("id"))
    assert(ids.forall(st => st.hasNonNullValue && st.getNumNulls == 0))
    assert(ids.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min == 0L)
    assert(ids.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max == 999L)
  }
}

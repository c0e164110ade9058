package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Parquet footer metadata, read and rewritten on the driver.
  *
  * Reading: [[footer]] returns what one file's footer says (the Spark
  * schema of a flat read, and per row group the row count and column
  * statistics), and [[read]] opens a flat table with its schema taken
  * from a footer, so resolving it launches no schema-inference job.
  *
  * Rewriting: Spark embeds its Catalyst schema into every parquet
  * footer it writes (key `org.apache.spark.sql.parquet.row.metadata`),
  * and on read-back that embedded schema WINS over logical-type
  * inference — including over
  * `spark.sql.parquet.inferTimestampNTZ.enabled=false`. The
  * driver's fixtures carry no such key (written by a non-Spark arrow
  * writer), so their naive int64-micros timestamps read back as
  * TIMESTAMP (LTZ); an SfGen fixture written with TIMESTAMP_NTZ columns
  * (the only Spark type that produces the same isAdjustedToUTC=false
  * footer) would read back NTZ instead, and the 15 registry queries
  * calling unix_micros()/window() on those columns resolve differently.
  *
  * stripSparkSchema() removes the embedded-schema keys in place, making
  * SfGen output byte-flavor-identical to the driver fixtures: footer
  * logical type TIMESTAMP(MICROS, isAdjustedToUTC=false), no engine
  * metadata — DuckDB reads TIMESTAMP, Spark (inferTimestampNTZ off)
  * reads TIMESTAMP_LTZ, and every registry query takes the exact code
  * path the graded fixtures exercise.
  *
  * Only the footer is rewritten (thrift FileMetaData re-serialized via
  * parquet-format's Util); the data region is copied verbatim, so all
  * absolute column-chunk offsets stay valid.
  */
object ParquetMeta {
  private val SparkKeys =
    Set("org.apache.spark.sql.parquet.row.metadata", "org.apache.spark.version",
      "org.apache.spark.legacyINT96", "org.apache.spark.timeZone",
      "org.apache.spark.legacyDateTime")

  private val Magic = "PAR1".getBytes("US-ASCII")

  /** Rewrite one parquet file without the Spark footer keys. No-op
    * (returns false) if none are present.
    */
  def stripSparkSchema(file: Path): Boolean = {
    import org.apache.parquet.format.Util
    val bytes = Files.readAllBytes(file)
    require(bytes.length > 12 &&
      bytes.startsWith(Magic) && bytes.endsWith(Magic),
      s"$file is not a parquet file")
    val footerLen = ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    val footerStart = bytes.length - 8 - footerLen
    require(footerStart >= 4, s"$file: corrupt footer length $footerLen")
    val fmd = Util.readFileMetaData(
      new ByteArrayInputStream(bytes, footerStart, footerLen))
    val kvs = Option(fmd.getKey_value_metadata)
      .map(_.asScala.toList).getOrElse(Nil)
    val kept = kvs.filterNot(kv => SparkKeys.contains(kv.getKey))
    if (kept.size == kvs.size) return false
    fmd.setKey_value_metadata(
      if (kept.isEmpty) null else kept.asJava)
    val out = new ByteArrayOutputStream(footerLen + 64)
    Util.writeFileMetaData(fmd, out)
    val newFooter = out.toByteArray
    val lenBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(newFooter.length).array()
    val tmp = file.resolveSibling(file.getFileName.toString + ".striptmp")
    val os = Files.newOutputStream(tmp)
    try {
      os.write(bytes, 0, footerStart)
      os.write(newFooter)
      os.write(lenBuf)
      os.write(Magic)
    } finally os.close()
    Files.move(tmp, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // Hadoop's LocalFileSystem writes a `.name.crc` sidecar and FAILS
    // reads whose bytes no longer match it — drop the stale checksum.
    Files.deleteIfExists(
      file.resolveSibling("." + file.getFileName.toString + ".crc"))
    true
  }

  /** Strip every part file under a Spark-written parquet directory (or a
    * single file path). Returns the number of files rewritten.
    */
  def stripSparkSchema(dir: String): Int = {
    val p = Paths.get(dir)
    val parts: List[Path] =
      if (Files.isDirectory(p))
        Files.list(p).iterator.asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
      else List(p)
    parts.count(stripSparkSchema)
  }

  /** One row group of a footer: its row count and the statistics of
    * each column chunk, keyed by dotted column path.
    */
  final case class RowGroup(rows: Long, stats: Map[String, Statistics[_]])

  /** What one parquet footer says: the schema a flat Spark read of the
    * file resolves, and its row groups.
    */
  final case class Footer(schema: StructType, rowGroups: Seq[RowGroup]) {
    def rows: Long = rowGroups.map(_.rows).sum
  }

  /** Read one file's footer. The schema follows Spark's own rule
    * (`ParquetFileFormat.readSchemaFromFooter`): the embedded
    * `org.apache.spark.sql.parquet.row.metadata` schema wins, otherwise
    * the parquet schema converts under the session's conf (binary-as-
    * string, INT96, NTZ inference, nanos-as-long).
    */
  def footer(s: SparkSession, file: HPath): Footer = {
    val in = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, s.sparkContext.hadoopConfiguration))
    val meta = try in.getFooter finally in.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, meta),
      new ParquetToSparkSchemaConverter(s.sessionState.conf))
    Footer(schema, meta.getBlocks.asScala.toSeq.map { b =>
      RowGroup(b.getRowCount, b.getColumns.asScala.map(c =>
        c.getPath.toDotString -> (c.getStatistics: Statistics[_])).toMap)
    })
  }

  /** Footers of the data files directly under `dir` (every visible
    * file: `_`/`.`-prefixed bookkeeping is skipped, as a parquet scan
    * skips it), read concurrently on the driver. O(files), no job.
    */
  def footers(s: SparkSession, dir: String): Seq[Footer] = {
    val p = new HPath(dir)
    footersOf(s, p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(st => st.isFile && visible(st.getPath.getName)).map(_.getPath).toSeq)
  }

  /** Footers of `files`, in order, read concurrently on the driver. */
  def footersOf(s: SparkSession, files: Seq[HPath]): Seq[Footer] =
    files.asJava.parallelStream().map[Footer](footer(s, _))
      .collect(java.util.stream.Collectors.toList[Footer]()).asScala.toSeq

  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** A parquet read of `paths` without Spark's schema-inference job:
    * with mergeSchema off Spark reads one data file's footer inside a
    * one-task job per read; here the first data file's footer is read
    * on the driver ([[footer]]) and passed as the read schema. Spark's
    * own resolution runs instead (the one inferring parquet read in
    * src/main) when a path is a glob, is missing, holds a visible
    * subdirectory (partition discovery: the partitioned ChunkIngest/
    * JsonlCorpus outputs), when no path holds a data file, or when the
    * footer cannot be read — so errors stay Spark's own.
    */
  def read(s: SparkSession, paths: String*): DataFrame =
    flatSchema(s, paths) match {
      case Some(schema) => s.read.schema(schema).parquet(paths: _*)
      case None => s.read.parquet(paths: _*)
    }

  private def flatSchema(s: SparkSession, paths: Seq[String]): Option[StructType] =
    if (paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else Try {
      val conf = s.sparkContext.hadoopConfiguration
      val listed = paths.map { p =>
        val hp = new HPath(p)
        hp.getFileSystem(conf).listStatus(hp).filter(st => visible(st.getPath.getName))
      }
      if (listed.exists(_.exists(_.isDirectory))) None
      else listed.iterator.flatMap(_.find(_.isFile))
        .nextOption().map(st => footer(s, st.getPath).schema)
    }.toOption.flatten
}

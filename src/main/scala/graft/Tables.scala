package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampNTZType}

/** Table access + determinism helpers shared by every operator.
  *
  * Data model (FIXTURES.md "DFS-role mapping"): `lineitem` plays the
  * reference's *chunks* (`l_orderkey`→filename, `l_linenumber`→sequenceNo,
  * `l_suppkey`→replica location), `orders` plays *files*, `supplier` plays
  * *storage nodes* (10 rows = the reference's 10-node cluster,
  * reference scripts/start-storage-nodes.sh:9), `events` plays the
  * heartbeat stream (reference storageNode/HeartbeatRunnable.java:43-47).
  */
object Tables {

  /** Session memo for the base-table reads: every `spark.read.parquet`
    * eagerly resolves the relation on the driver (file listing and a
    * footer read for schema inference), and the registry's queries
    * would otherwise re-pay that for every table they touch. Nothing is
    * persisted or precomputed: each action still computes from the
    * parquet bytes.
    */
  private val readMemo = new SessionMemo[DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    readMemo(spark, path)(normNtz(spark.read.parquet(path)))
  }

  /** Normalize TIMESTAMP_NTZ columns to TIMESTAMP (LTZ). The fixture
    * contract is naive-UTC micros read as LTZ (every session builder
    * pins session.timeZone=UTC and inferTimestampNTZ=false), but
    * parquet written BY Spark carries an embedded Catalyst schema that
    * overrides inference — a Spark-written NTZ fixture would otherwise
    * surface NTZ here and break unix_micros()/window() call sites.
    * Under a UTC session the cast is value-identical. No-op (no extra
    * Project, no pushdown impact) for the driver fixtures; SfGen also
    * strips its embedded schemas (ParquetMeta) so gate runs never take
    * this branch — it exists so a USER pointing the library at
    * Spark-written data gets the contracted semantics, not a resolve
    * error. Pushdown caveat when it does fire: predicates land on
    * cast(col) and stay above the scan.
    */
  private def normNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType).map(_.name)
    if (ntz.isEmpty) df
    else ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp")))
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")

  /** events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. With spark.sql.legacy.parquet.nanosAsLong=true (set
    * by every session builder in this project) it lands as LongType nanos;
    * convert to micros TimestampType here — the same truncation DuckDB
    * applies when reading nanos.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    else raw
  }
  /** events rows with ts ≤ cutoff (UTC literal), with the predicate
    * applied to the RAW int64 nanos column so it reaches the parquet
    * scan (PushedFilters + row-group stats pruning). Filtering after the
    * nanos→timestamp conversion hides the predicate behind an expression
    * and forces a full scan — the difference between reading one
    * row group and reading 100 TB.
    */
  def eventsBefore(s: SparkSession, d: String, cutoffUtc: String): DataFrame = {
    val raw = apply(s, d, "events")
    // The comparison semantic is MICROS ≤ cutoff (the type every other
    // path sees: ts is truncated via DIV 1000, and DuckDB truncates
    // TIMESTAMP_NS the same way), so the pushed raw-nanos bound must
    // admit the cutoff micro's full nanosecond range: ts DIV 1000 ≤ cut
    // ⇔ ts ≤ cut·1000 + 999. A bare cutoff·10⁹ bound excluded events
    // 1..999 ns past the cutoff that the oracle (and the TimestampType
    // branch) include. Fractional-second cutoffs keep their micros too.
    val ldt = java.time.LocalDateTime.parse(cutoffUtc.replace(' ', 'T'))
    val cutMicros =
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.where(col("ts") <= lit(cutMicros * 1000L + 999L))
        .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    else raw.where(col("ts") <= lit(cutoffUtc).cast("timestamp"))
  }

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Scale-adaptive scan fan-out (optimization guide §2.2/§2.5, §6): the
    * driver fixtures are single-file, single-row-group parquet, so every
    * scan is ONE split — and a CPU-heavy map stage (explode + per-window
    * md5, per-row digests, partial aggregation) runs on 1 of the
    * session's cores while 31 idle. Parquet cannot split below the
    * row-group, so the only way to engage the machine is an explicit
    * exchange AFTER the scan. This helper adds that exchange **only
    * when the scan under-parallelizes** (fewer input splits than
    * `defaultParallelism`): at production scale the same table arrives
    * in hundreds of splits and `fanOut` is the identity — no shuffle is
    * added at 100 TB, so map-side combining above it is never lost
    * where it matters. The repartition is KEYED (hash) on a
    * high-cardinality column chosen by the call site — round-robin
    * repartition would pay the sort-before-repartition pass
    * (SPARK-23207) and guide §2.5 forbids rand-derived keys under
    * retries; when the key is the downstream grouping key the
    * aggregation reuses this exchange outright (guide §2.4), so the
    * plan's shuffle count does not grow.
    *
    * The under-parallelization guard reads the SOURCE FILE LISTING, not
    * `df.rdd.getNumPartitions` (VERDICT r20 #2: df.rdd compiles the
    * DataFrame to an RDD — a full extra physical-planning pass on the
    * driver per call; a split estimate from the listing costs at most a
    * few getFileStatus calls and zero planning). `srcPaths` are the
    * files/dirs the frame's leaf scan reads — the manifest-pinned part
    * files for substrate builders, the table path for direct scans.
    * The estimate replays Spark's own FilePartition math
    * (maxSplitBytes = min(maxPartitionBytes, max(openCost,
    * totalPadded/defaultParallelism))), so the fire/identity decision
    * matches what the old RDD probe observed; listing work is bounded —
    * `srcPaths.length >= cores` short-circuits to identity with zero FS
    * calls (≥ N files always pack to ≥ ~N splits under that math), and
    * a directory walk stops as soon as enough bytes are seen.
    */
  def fanOut(df: DataFrame, srcPaths: Seq[String], keys: Column*): DataFrame = {
    val s = df.sparkSession
    val target = s.sparkContext.defaultParallelism
    if (srcPaths.length < target &&
        estimatedScanSplits(s, srcPaths, target) < target) {
      if (keys.nonEmpty) df.repartition(target, keys: _*)
      else df.repartition(target)
    } else df
  }

  private def confBytes(s: SparkSession, key: String, dflt: Long): Long =
    try s.conf.getOption(key)
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(dflt)
    catch { case scala.util.control.NonFatal(_) => dflt }

  /** Estimated split count of a parquet scan over `paths`, per Spark's
    * FilePartition packing. Early-exits once the accumulated padded
    * bytes prove splits ≥ `target`, so the walk touches O(cores) files
    * even on a production-sized directory.
    */
  private def estimatedScanSplits(s: SparkSession, paths: Seq[String],
      target: Int): Long = {
    val openCost = confBytes(s, "spark.sql.files.openCostInBytes", 4L << 20)
    val maxPart = confBytes(s, "spark.sql.files.maxPartitionBytes", 128L << 20)
    val enough = target.toLong * maxPart // padded bytes proving >= target splits
    var padded = 0L
    var nFiles = 0L
    val it = paths.iterator
    while (it.hasNext && padded < enough && nFiles < target) {
      val p = new org.apache.hadoop.fs.Path(it.next())
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val st = fs.getFileStatus(p)
        if (st.isFile) { padded += st.getLen + openCost; nFiles += 1 }
        else {
          val files = fs.listFiles(p, true)
          while (files.hasNext && padded < enough && nFiles < target) {
            val f = files.next()
            val name = f.getPath.getName
            if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
              { padded += f.getLen + openCost; nFiles += 1 }
          }
        }
      }
    }
    if (padded >= enough || nFiles >= target) return target.toLong
    val bytesPerCore = padded / math.max(1, target)
    val maxSplit = math.min(maxPart, math.max(openCost, bytesPerCore))
    (padded + maxSplit - 1) / math.max(1L, maxSplit)
  }

  /** Exact decimal sum of a ~2-decimal DOUBLE money column, returned as
    * DOUBLE. Summing doubles directly is partition-order dependent (and
    * differs from DuckDB); summing DECIMAL(18,2) is exact and
    * order-independent, and the final decimal→double cast is identical on
    * both engines. Oracle-side mirror: CAST(SUM(CAST(x AS DECIMAL(18,2)))
    * AS DOUBLE). (SURVEY §7.4 rule 1.)
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact mean via decimal sum / count — both engines end in the same
    * IEEE double÷bigint. Mirror: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS
    * DOUBLE) / COUNT(x).
    */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType) / count(c)
}

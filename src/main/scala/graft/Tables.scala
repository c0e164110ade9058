package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
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

  /** Session memo for the base-table reads: every read eagerly
    * resolves the relation on the driver (file listing and a footer
    * read for the schema, [[ParquetMeta.read]]), and the registry's
    * queries would otherwise re-pay that for every table they touch.
    * Nothing is persisted or precomputed: each action still computes
    * from the parquet bytes.
    */
  private val readMemo = new SessionMemo[DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    readMemo(spark, path)(normNtz(ParquetMeta.read(spark, path)))
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

  /** Spreads a plain scan over every core: adds a hash exchange to
    * `defaultParallelism` partitions, keyed on `keys`, when `df` is a
    * chain of `Project`/`Filter` over one file-source relation whose
    * files pack into fewer splits than `defaultParallelism`, and
    * returns `df` itself otherwise (an aggregate, join, exchange,
    * generate, union or window anywhere in the plan, or enough splits).
    *
    * Parquet cannot split below a row group, so a single-file table is
    * one split and a CPU-heavy map stage above it (explode, per-window
    * hashing, a partial aggregate) runs on one core. A table that
    * arrives in enough splits gets no exchange, so map-side combining
    * is kept where the data is large.
    *
    * The decision reads only the analyzed plan the Dataset already
    * holds and the file listing its relation already made: no physical
    * planning pass and no filesystem call. Splits are counted with
    * Spark's FilePartition packing (maxSplit = min(maxPartitionBytes,
    * max(openCost, padded / cores)), padded = bytes + files × openCost).
    *
    * The exchange is keyed because a round-robin repartition pays a
    * local sort first (SPARK-23207) and rand-derived keys are unsafe
    * under task retries; when the key is the downstream grouping key
    * the aggregate reuses this exchange. `input_file_name()` is
    * undefined above an exchange, so callers project it below this call.
    */
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    val s = df.sparkSession
    val target = s.sparkContext.defaultParallelism
    if (scanSplits(df.queryExecution.analyzed, s.sessionState.conf, target)
        .exists(_ < target)) df.repartition(target, keys: _*)
    else df
  }

  /** Split count of a `Project`/`Filter` chain over one file-source
    * relation; None for any other plan.
    */
  private def scanSplits(plan: LogicalPlan, conf: SQLConf, target: Int): Option[Long] =
    plan match {
      case p: Project => scanSplits(p.child, conf, target)
      case f: Filter => scanSplits(f.child, conf, target)
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation =>
          val openCost = conf.filesOpenCostInBytes
          val padded = fs.location.sizeInBytes + fs.location.inputFiles.length * openCost
          val maxSplit = math.max(1L,
            math.min(conf.filesMaxPartitionBytes, math.max(openCost, padded / target)))
          Some((padded + maxSplit - 1) / maxSplit)
        case _ => None
      }
      case _ => None
    }

  /** Exact decimal sum of a ~2-decimal DOUBLE money column, returned as
    * DOUBLE. Summing doubles directly is partition-order dependent (and
    * differs from DuckDB); summing DECIMAL(18,2) is exact and
    * order-independent, and the final decimal→double cast is identical on
    * both engines. Oracle-side mirror: CAST(SUM(CAST(x AS DECIMAL(18,2)))
    * AS DOUBLE). (SURVEY §7.4 rule 1.)
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)
}

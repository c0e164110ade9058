package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the single registry of every implemented operator from
  * SURVEY §2; each ops module contributes its own map. `oracleSql` holds
  * the DuckDB-equivalent SQL for every oracle-checked query (keys absent
  * here get a weaker rows-only check — reserved for approx/ML/streaming
  * operators, SURVEY §7.4 rules 7-8).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature computation: under-replicated chunk report
    * (FileTable.getUnderReplicatedChunks, controller/FileTable.java:41-52).
    */
  def entry(spark: SparkSession): DataFrame =
    ops.Catalog.underReplicated(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Catalog.queries ++ ops.Chunks.queries ++ ops.Relational.queries ++
      ops.Streaming.queries ++ ops.Dedup.queries ++ ops.Ann.queries ++
      ops.TextQuality.queries ++ ops.Bpe.queries ++ ops.Sampling.queries ++
      ops.Multimodal.queries ++ ops.Skew.queries ++ ops.Storage.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Catalog.oracle ++ ops.Chunks.oracle ++ ops.Relational.oracle ++
      ops.Streaming.oracle ++ ops.Dedup.oracle ++ ops.Ann.oracle ++
      ops.TextQuality.oracle ++ ops.Bpe.oracle ++ ops.Sampling.oracle ++
      ops.Multimodal.oracle ++ ops.Skew.oracle ++ ops.Storage.oracle
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry maps are unions of per-module maps built with `++`, so a
  * key two modules define would be silently shadowed by the later one.
  * This pins that no key is defined twice, that the registry holds its
  * 192 queries, and that every oracle and Spark-SQL text names one of
  * them. No Spark session starts: only the maps are read. The maps are
  * read when a test runs, not when the suite is built, because
  * `Ann.oracle` gains the IVF dump oracles once a session publishes the
  * index.
  */
class RegistrySpec extends AnyFunSuite {
  private def queries: Seq[(String, Set[String])] = Seq(
    "Catalog" -> ops.Catalog.queries.keySet, "Chunks" -> ops.Chunks.queries.keySet,
    "Relational" -> ops.Relational.queries.keySet, "Streaming" -> ops.Streaming.queries.keySet,
    "Dedup" -> ops.Dedup.queries.keySet, "Ann" -> ops.Ann.queries.keySet,
    "TextQuality" -> ops.TextQuality.queries.keySet, "Bpe" -> ops.Bpe.queries.keySet,
    "Sampling" -> ops.Sampling.queries.keySet, "Multimodal" -> ops.Multimodal.queries.keySet,
    "Skew" -> ops.Skew.queries.keySet, "Storage" -> ops.Storage.queries.keySet)

  private def oracles: Seq[(String, Set[String])] = Seq(
    "Catalog" -> ops.Catalog.oracle.keySet, "Chunks" -> ops.Chunks.oracle.keySet,
    "Relational" -> ops.Relational.oracle.keySet, "Streaming" -> ops.Streaming.oracle.keySet,
    "Dedup" -> ops.Dedup.oracle.keySet, "Ann" -> ops.Ann.oracle.keySet,
    "TextQuality" -> ops.TextQuality.oracle.keySet, "Bpe" -> ops.Bpe.oracle.keySet,
    "Sampling" -> ops.Sampling.oracle.keySet, "Multimodal" -> ops.Multimodal.oracle.keySet,
    "Skew" -> ops.Skew.oracle.keySet, "Storage" -> ops.Storage.oracle.keySet)

  private def sparkSqls: Seq[(String, Set[String])] = Seq(
    "Catalog" -> ops.Catalog.sparkSql.keySet, "Chunks" -> ops.Chunks.sparkSql.keySet,
    "Relational" -> ops.Relational.sparkSql.keySet, "Streaming" -> ops.Streaming.sparkSql.keySet,
    "Dedup" -> ops.Dedup.sparkSql.keySet, "Ann" -> ops.Ann.sparkSql.keySet,
    "TextQuality" -> ops.TextQuality.sparkSql.keySet, "Bpe" -> ops.Bpe.sparkSql.keySet,
    "Sampling" -> ops.Sampling.sparkSql.keySet, "Multimodal" -> ops.Multimodal.sparkSql.keySet,
    "Storage" -> ops.Storage.sparkSql.keySet)

  /** Every key two modules of `maps` both define, as "key: A, B". */
  private def shared(maps: Seq[(String, Set[String])]): Seq[String] =
    maps.flatMap { case (m, ks) => ks.toSeq.map(_ -> m) }
      .groupBy(_._1).collect { case (k, ms) if ms.size > 1 => s"$k: ${ms.map(_._2).mkString(", ")}" }
      .toSeq.sorted

  test("each query, oracle and Spark-SQL key is defined by one module") {
    assert(shared(queries).isEmpty)
    assert(shared(oracles).isEmpty)
    assert(shared(sparkSqls).isEmpty)
  }

  test("the modules listed here are the registry's, and it holds 192 queries") {
    val names = queries.flatMap(_._2).toSet
    assert(names.size == 192)
    assert(SparkEntry.queries.keySet == names)
    assert(SparkEntry.oracleSql.keySet == oracles.flatMap(_._2).toSet)
    assert(SqlSurface.overrides.keySet == sparkSqls.flatMap(_._2).toSet)
  }

  test("every oracle and Spark-SQL key names a registered query") {
    val names = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.diff(names).isEmpty)
    assert(SqlSurface.overrides.keySet.diff(names).isEmpty)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL front door for the whole registry.
  *
  * The reference accepts every message type through ONE dispatch surface
  * (reference controller/MessageProcessor.java:33-74 — its protobuf wire
  * format is its IR); the Spark-native analog is `spark.sql(...)` text
  * over registered views reaching every computation the engine performs.
  * `sqlFor` returns runnable Spark SQL for every oracle-checked query:
  * the DuckDB oracle text verbatim where the dialects agree (the
  * majority — both are ANSI-leaning), else a Spark-dialect override with
  * identical semantics. SqlSurfaceSpec loops the registry proving
  * text-SQL ≡ DataFrame-API row-for-row.
  */
object SqlSurface {

  /** The (session, dataset) the maintained views were last registered
    * for — lets the CALL maintenance verbs refresh the derived views
    * in place after they mutate artifacts (ADVICE r19: a snapshot
    * substrate_stats view served stale counts after an in-session
    * rebuild).
    */
  @volatile private[graft] var registeredFor: Option[(SparkSession, String)] = None

  /** Bare-name temp views over the fixture tables — the same names the
    * DuckDB oracle queries use, so oracle SQL text runs unchanged.
    * `events` goes through Tables.events (nanos→micros TimestampType,
    * the truncation DuckDB applies reading TIMESTAMP(NANOS) parquet).
    *
    * Registration is METADATA-ONLY (VERDICT r19 what's-wrong #1): the
    * derived-artifact views join the surface iff their artifacts are
    * already published (marker probes, zero corpus reads) — a user
    * registering the SQL surface over a cold 100 TB corpus must not
    * pay seven corpus passes first. `CALL graft.ensure_ivf_index` /
    * `ensure_dedup_substrates` are the explicit ingest-side build
    * path; each refreshes the views here once it publishes.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Tables(spark, sfDir, t).createOrReplaceTempView(t)
    }
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    registeredFor = Some((spark, sfDir))
    registerDerivedViews(spark, sfDir, buildIfAbsent = false)
  }

  /** The derived-artifact views: the persisted trained-ANN index (the
    * SQL spelling of q_sim_search_ivf_kmeans* probes it), its
    * staleness stats rows (q_ivf_staleness), and the substrate
    * footprint rows (q_substrate_stats). With buildIfAbsent=false only
    * already-published artifacts register (the ensure is then a marker
    * probe); true is the CALL-side refresh, which may build.
    */
  private[graft] def registerDerivedViews(spark: SparkSession, sfDir: String,
      buildIfAbsent: Boolean): Unit = {
    if (buildIfAbsent || ops.Ann.ivfIndexReady(spark, sfDir)) {
      val ivfDir = ops.Ann.ensureIvfIndex(spark, sfDir)
      ParquetMeta.read(spark, s"$ivfDir/assignments")
        .createOrReplaceTempView("ivf_assignments")
      ParquetMeta.read(spark, s"$ivfDir/stats")
        .createOrReplaceTempView("ivf_stats")
    }
    if (buildIfAbsent || ops.Dedup.substratesReady(spark, sfDir))
      ops.Dedup.substrateStats(spark, sfDir)
        .createOrReplaceTempView("substrate_stats")
  }

  /** CALL-side hook: after a maintenance verb builds or replaces
    * artifacts for `sfDir`, re-derive the views so the SQL surface
    * serves the fresh artifact — but only when the session's views
    * were registered for that same dataset (a CALL against another
    * corpus must not clobber the registered surface).
    */
  private[graft] def refreshDerivedViews(spark: SparkSession, sfDir: String): Unit =
    registeredFor match {
      case Some((s, d)) if (s eq spark) && d == sfDir =>
        registerDerivedViews(spark, sfDir, buildIfAbsent = true)
      case _ => ()
    }

  /** Spark SQL text for `name`: the oracle text unless overridden. */
  def sqlFor(name: String): Option[String] =
    overrides.get(name).orElse(SparkEntry.oracleSql.get(name))

  /** Canonical form for equality: column names sorted, every value
    * rendered to a stable string (nested rows/arrays/maps recursed,
    * binary hex'd), rows sorted — content equality independent of
    * column order and (already ORDER-BY-pinned) row order.
    */
  def canon(df: DataFrame): (Seq[String], Seq[String]) = {
    val cols = df.columns.toSeq.sorted
    val proj = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val rows = proj.collect().toSeq
      .map(r => r.toSeq.map(fmt).mkString("|")).sorted
    (cols, rows)
  }

  private def fmt(v: Any): String = v match {
    case null => "∅"
    case d: java.lang.Double =>
      if (d == 0.0) "0" else d.toString // -0.0 == 0.0 → one rendering
    case f: java.lang.Float => fmt(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => fmt(b.bigDecimal)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case a: Array[_] => a.map(fmt).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "->" + fmt(x) }
        .sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => String.valueOf(x)
  }

  /** Spark-dialect rewrites for queries whose DuckDB oracle text doesn't
    * parse or doesn't match in Spark — contributed per ops module (next
    * to each module's `oracle` map, generated from the same constants).
    * Keys absent here run their oracle text verbatim.
    */
  val overrides: Map[String, String] =
    ops.Catalog.sparkSql ++ ops.Chunks.sparkSql ++ ops.Relational.sparkSql ++
      ops.Streaming.sparkSql ++ ops.Dedup.sparkSql ++ ops.Ann.sparkSql ++
      ops.TextQuality.sparkSql ++ ops.Bpe.sparkSql ++ ops.Sampling.sparkSql ++
      ops.Multimodal.sparkSql ++ ops.Storage.sparkSql
}

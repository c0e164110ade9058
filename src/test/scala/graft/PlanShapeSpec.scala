package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (SURVEY §5.2 item 5): the declared queries must
  * not just return the right rows — they must produce the physical plans
  * that survive a 100 TB scale-up (pushdown reaches the scan, bounded
  * dims broadcast, top-k avoids a global sort, range joins stay out of
  * BroadcastNestedLoopJoin).
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = SparkTestSession.sf0001

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  // Queries whose multi-consumer pin was removed: the scans of the
  // shared subtree's source in the final (AQE) plan. 1 = the legs share
  // the subtree's exchange (ReusedExchange); more = Catalyst prunes or
  // keys the legs differently, so each re-reads the source, which the
  // sf0.1 A/B measured no slower than the pin. An added re-read fails.
  // (query, shared source's path fragment, scans, on the planted corpus)
  private val unpinned = Seq(
    ("q_vocab_coverage", "documents.parquet", 1, false),
    ("q_quality_drift", "documents.parquet", 4, false),
    ("q_gap_fill", "events.parquet", 3, false),
    ("q_retention", "events.parquet", 2, false),
    ("q_dedup_incremental", "graft-minhash-banded", 3, false),
    // the fixture has no τ-pair: the emptiness probe answers, and the
    // pair subtree never enters the final plan
    ("q_dedup_semantic", "graft-embed-bucketed", 0, false),
    // the copy-expansion path needs a corpus with verbatim copies: the
    // members and the rep aggregate, the intra leg's streamed members
    // (its broadcast side is reused) and the verify's shingle rows
    ("q_dedup_near", "documents.parquet", 4, true),
    // the rep aggregate and the verify's shingle rows, each once
    ("q_dedup_near_collapsed", "documents.parquet", 2, false),
    ("q_dedup_verify", "documents.parquet", 1, false),
    ("q_lm_fluency", "documents.parquet", 1, false),
    // the tf rows once, plus the n_docs count
    ("q_text_tfidf", "documents.parquet", 2, false),
    ("q_subquery_top_supplier", "lineitem.parquet", 1, false))

  unpinned.foreach { case (name, src, want, planted) =>
    test(s"unpinned $name: $want final-plan scan(s) of its shared source $src") {
      val dir = if (planted) LlmFixtures.plantedDir(spark) else d
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scans = Aqe.collect(plan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains(src)) => f
      }.size
      assert(scans == want, s"$name scans $src $scans times, want $want:\n$plan")
    }
  }

  test("point lookup pushes its predicate to the parquet scan (#2)") {
    val plan = physical(ops.Catalog.pointLookup(spark, d))
    assert(plan.contains("PushedFilters: [") && plan.contains("IsNotNull"),
      s"expected parquet PushedFilters in:\n$plan")
  }

  test("nation x region is a broadcast join, not an exchange (#26)") {
    val plan = physical(ops.Relational.joinBroadcast(spark, d))
    assert(plan.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin in:\n$plan")
  }

  test("range join keeps its equi key: no BroadcastNestedLoopJoin (#29)") {
    val plan = physical(ops.Relational.joinRange(spark, d))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to BNLJ:\n$plan")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort (#15)") {
    val plan = physical(ops.Chunks.topkRandomN(spark, d))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("pricing summary uses two-phase (partial) hash aggregation (#31)") {
    val plan = physical(ops.Relational.aggPricingSummary(spark, d))
    assert(plan.contains("HashAggregate") && plan.contains("partial"),
      s"expected partial HashAggregate in:\n$plan")
  }

  test("scans prune columns: pricing summary reads only needed lineitem cols (#31)") {
    val plan = physical(ops.Relational.aggPricingSummary(spark, d))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"column pruning failed: $readSchema")
  }

  test("events ts cutoff is pushed to the scan as a raw nanos predicate (#30)") {
    val plan = physical(Tables.eventsBefore(spark, d, "2024-01-15 00:00:00"))
    assert(plan.contains("LessThanOrEqual(ts"),
      s"nanos cutoff not in PushedFilters:\n$plan")
  }

  test("replica-candidate set-diff is one bitmask aggregate: single scan, no joins (#20)") {
    val plan = physical(ops.Chunks.setDiffCandidates(spark, d))
    // The bounded node universe packs into a BIGINT mask, so the whole
    // query is scan → combining bit_or agg → arithmetic: any join (or a
    // second scan) means the two-pass distinct/anti-join form regressed.
    assert(plan.contains("HashAggregate") && plan.contains("partial"),
      s"expected a partial (combining) bit_or aggregate in:\n$plan")
    assert(!plan.contains("Join"), s"mask complement needs no join:\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"lineitem must be scanned exactly once (got $scans):\n$plan")
    val hashShuffles = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashShuffles === 1,
      s"one hash exchange only (got $hashShuffles):\n$plan")
  }

  test("as-of join aggregates with hash aggregation, no window sort over events (#30)") {
    val plan = physical(ops.Relational.joinAsof(spark, d))
    assert(plan.contains("HashAggregate"), s"expected HashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate") && !plan.contains("RunningWindowFunction"),
      s"as-of fell back to sort-based aggregation:\n$plan")
  }

  test("as-of join never force-broadcasts the per-key aggregates (#30)") {
    // Both join sides are one row per distinct user_id — unbounded at
    // 100 TB — so a mandatory broadcast() hint (which bypasses AQE's size
    // check) would be a multi-GB driver collect-and-ship at scale. The
    // plan must leave the join strategy to AQE: no BROADCAST hint may
    // survive into the optimized logical plan.
    val hints = ops.Relational.joinAsof(spark, d)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.hint.leftHint.exists(_.strategy.isDefined) ||
               j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
    assert(hints.isEmpty,
      s"as-of join carries a mandatory join-strategy hint:\n${hints.mkString("\n")}")
  }

  test("failover choice is one partial hash aggregate, no window sort (#23)") {
    val plan = physical(ops.Chunks.failoverCoalesce(spark, d))
    assert(plan.contains("HashAggregate") && plan.contains("partial_min"),
      s"expected map-side partial min in:\n$plan")
    assert(!plan.contains("Window"), s"rank-1 should be min, not a window:\n$plan")
  }

  test("IVF centroid assignment is a combining hash aggregate, no window sort") {
    // nearest-centroid per vector must be the packed-argmin MIN (8
    // candidate rows collapse map-side before any exchange), not a
    // row_number window shuffling and sorting all 8n rows
    val plan = physical(ops.Ann.simSearchIvf(spark, d))
    assert(plan.contains("HashAggregate") && plan.contains("partial_min"),
      s"expected map-side partial argmin in:\n$plan")
    assert(!plan.contains("Window"),
      s"IVF assignment regressed to a window:\n$plan")
  }

  test("keep-best dedup is a packed-argmin hash aggregate, no window, no sort-agg") {
    // the (max n_chars, min doc_id) preference must ride ONE BIGINT min
    // (map-side combining); a struct min would fall back to
    // SortAggregate and a row_number would shuffle+sort every copy
    val plan = physical(ops.Dedup.dedupKeepBest(spark, d))
    assert(plan.contains("HashAggregate") && plan.contains("partial_min"),
      s"expected map-side partial packed argmin in:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"keep-best regressed to sort aggregation:\n$plan")
    assert(!plan.contains("Window"),
      s"keep-best regressed to a window:\n$plan")
  }

  test("bloom decontamination prefilters via broadcast semi joins before the confirm join") {
    val plan = physical(ops.Dedup.decontaminateBloom(spark, d))
    assert(!plan.contains("CartesianProduct"),
      s"bloom decontamination degenerated to a cartesian:\n$plan")
    assert("BroadcastHashJoin.*LeftSemi".r.findAllIn(plan).size >= 2,
      s"expected two broadcast left-semi position probes in:\n$plan")
  }

  test("decontamination joins hash-probe the bounded benchmark side, no cartesian") {
    val plan = physical(ops.Dedup.decontaminate(spark, d))
    assert(!plan.contains("CartesianProduct"),
      s"decontamination degenerated to a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi join over the shingle hash:\n$plan")
  }

  test("gap fill's dense spine never cross-joins unbounded data") {
    // the only cross join allowed is spine x distinct-types — both
    // derived from aggregates, both bounded; the event scan itself must
    // meet the spine through an equi left join
    val plan = physical(ops.Streaming.gapFill(spark, d))
    assert(!plan.contains("CartesianProduct"),
      s"gap fill cross-joined unbounded sides:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"spine x types should broadcast:\n$plan")
  }

  test("bucketed tables co-locate the fact-fact join: zero shuffle exchanges") {
    // The 100 TB answer for repeated fact-fact joins: bucket BOTH sides
    // by the join key at write time, and the join needs no Exchange at
    // read time — the shuffle is paid once, at ingest, not per query.
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // plain (non-adaptive) plan so the join subtree is inspectable pre-run;
    // bucketing removes the exchange with or without AQE
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Tables.orders(spark, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("orders_bkt")
      Tables.lineitem(spark, d).select("l_orderkey", "l_quantity")
        .write.mode("overwrite").bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("lineitem_bkt")
      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val joinPlan = joined.queryExecution.executedPlan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joinPlan.isDefined, "expected a sort-merge join over bucketed scans")
      val shufflesUnderJoin = joinPlan.get.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shufflesUnderJoin.isEmpty,
        s"bucketed join still shuffles:\n${joinPlan.get}")
      // and the result is right: one row group per order side-checked
      assert(joined.count() == Tables.orders(spark, d).select("o_custkey").distinct().count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("shard manifest is one combining hash aggregate: a single hash shuffle, no sort-agg") {
    val plan = physical(ops.Sampling.shardManifest(spark, d))
    assert(plan.contains("HashAggregate") && plan.contains("partial"),
      s"expected partial HashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"), s"sort-agg crept in:\n$plan")
    val hashShuffles = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashShuffles === 1,
      s"manifest should shuffle exactly once (got $hashShuffles):\n$plan")
  }

  test("doc windows is a pure generator projection: no hash shuffle anywhere") {
    val plan = physical(ops.Sampling.docWindows(spark, d))
    assert(plan.contains("Generate"), s"expected a Generate (explode) node in:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle (only the gate's final sort may range-exchange):\n$plan")
  }

  test("embed outliers broadcasts the moment table and partial-limits before the label window") {
    val plan = physical(ops.Ann.embedOutliers(spark, d))
    assert(plan.contains("BroadcastHashJoin"),
      s"moment table must broadcast, not shuffle the exploded corpus:\n$plan")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"rank filter must group-limit before the exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in outliers:\n$plan")
  }

  test("pii redact is mapper-only: no hash shuffle") {
    val plan = physical(ops.TextQuality.piiRedact(spark, d))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"redaction is a projection; it must not shuffle:\n$plan")
  }

  test("audio decode preserves the per-partition batch shape: no hash shuffle") {
    val plan = physical(ops.Multimodal.audio(spark, d))
    assert(plan.contains("MapPartitions"),
      s"expected the mapPartitions decode stage in:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"decode must not shuffle:\n$plan")
  }

  test("dedup verify prunes the shingle re-read to docs-in-pairs before the explode") {
    import spark.implicits._
    val docsInPairs = Seq(1L, 2L).toDF("doc_id")
    val plan = physical(ops.Dedup.verifyShingleHashes(spark, d, docsInPairs))
    // The semi join against the candidate-doc set must sit BELOW the
    // Generate (shingle explode): verifying must never re-shingle the
    // whole corpus, only the dup-set-sized slice that appears in pairs.
    val lines = plan.linesIterator.toVector
    val semiIdx = lines.indexWhere(_.contains("LeftSemi"))
    val genIdx = lines.indexWhere(_.contains("Generate"))
    assert(semiIdx >= 0, s"expected a left-semi prune in:\n$plan")
    assert(genIdx >= 0 && genIdx < semiIdx,
      s"shingle Generate must consume the semi-pruned side (generate line $genIdx, semi line $semiIdx):\n$plan")
    assert(!physical(ops.Dedup.dedupVerify(spark, d)).contains("CartesianProduct"))
  }

  test("split assignment is mapper-only up to one combining census aggregate") {
    val plan = physical(ops.Sampling.splitAssign(spark, d))
    assert(plan.contains("HashAggregate") && plan.contains("partial"),
      s"expected a partial (map-side-combining) census agg in:\n$plan")
    assert(!plan.contains("SortAggregate"), s"sort-agg crept in:\n$plan")
    val hashShuffles = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashShuffles === 1,
      s"split census should shuffle exactly once (got $hashShuffles):\n$plan")
  }

  test("vocab coverage broadcasts the bounded top-K vocab, never a second corpus shuffle") {
    val plan = physical(ops.TextQuality.vocabCoverage(spark, d))
    assert(plan.contains("BroadcastHashJoin"),
      s"the ${ops.TextQuality.VocabK}-row vocab must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K vocab must TakeOrdered, not globally sort:\n$plan")
    assert(!plan.contains("SortAggregate"), s"sort-agg crept in:\n$plan")
  }

  test("phash dedup pins its hash table: the decode MapPartitions runs once, not per plan leg") {
    val df = ops.Multimodal.queries("q_dedup_phash")(spark, d)
    val plan = physical(df)
    // four consumers (two self-join sides + two verify back-joins) must
    // read the checkpointed table — zero MapPartitions in the final plan
    assert(!plan.contains("MapPartitions"),
      s"hash pass must be materialized once, not recomputed per leg:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in phash:\n$plan")
  }

  test("delta heartbeat partial-limits per node before the shuffle (recency top-K)") {
    val plan = physical(ops.Chunks.heartbeatMapDelta(spark, d))
    assert(plan.contains("WindowGroupLimit"),
      s"top-K per node must group-limit map-side:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual"),
      s"the period filter must reach the parquet scan:\n$plan")
  }

  test("ann recall: probe panel broadcasts; per-probe top-K partial-limits map-side") {
    val plan = physical(ops.Ann.annRecall(spark, d))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 8-probe panel must broadcast, never shuffle the corpus by probe:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-probe top-K must partial-limit before the exchange:\n$plan")
  }

  test("lsh bucket stats is a combining aggregate plus a one-row broadcast") {
    val plan = physical(ops.Ann.queries("q_lsh_bucket_stats")(spark, d))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row global must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in bucket stats:\n$plan")
    assert(!plan.contains("SortAggregate"), s"sort-agg crept in:\n$plan")
  }

  test("star revenue broadcasts the bounded dims and pushes the date filter to the orders scan") {
    val plan = physical(ops.Relational.joinStarRevenue(spark, d))
    assert(plan.contains("BroadcastHashJoin"),
      s"region/nation chain should broadcast:\n$plan")
    // the one-year order window must reach the parquet scan, not sit in
    // a post-scan Filter only: at 100 TB this is the partition-pruning
    // difference between reading one year and the whole table
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      plan.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate.*"),
      s"o_orderdate range not pushed to the orders scan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"star join degenerated:\n$plan")
  }

  test("waiting suppliers: one lineitem scan serves both correlated predicates, hash joins only") {
    val plan = physical(ops.Relational.joinWaitingSuppliers(spark, d))
    // the aggregate rewrite's whole point: the literal Q21 text scans
    // lineitem three times (l1/l2/l3); the rewrite must scan it ONCE
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(plan).size
    assert(lineitemScans == 1,
      s"expected exactly one lineitem scan, saw $lineitemScans:\n$plan")
    // the EXISTS/NOT-EXISTS cascade must stay in hash-join land
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"correlated-predicate rewrite degenerated:\n$plan")
    // status filter prunes orders at the scan, not post-join
    assert(plan.contains("EqualTo(o_orderstatus,F)"),
      s"o_orderstatus filter not pushed to the orders scan:\n$plan")
    // the per-(order,supplier) reduction is a combining hash aggregate
    assert(plan.contains("HashAggregate") && plan.contains("partial"),
      s"expected partial hash aggregation before the window:\n$plan")
  }

  test("shipping priority's top-10 is TakeOrderedAndProject over the aggregate, no global sort") {
    val plan = physical(ops.Relational.joinShippingPriority(spark, d))
    assert(plan.contains("TakeOrderedAndProject"),
      s"LIMIT 10 must compile to top-k, not Sort+Limit:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
  }

  test("large orders: lineitem aggregates partially before its join, top-100 is top-k") {
    val plan = physical(ops.Relational.joinLargeOrders(spark, d))
    // the HAVING subquery must shrink lineitem to one row per order
    // BEFORE the join: partial agg on the scan side, no second lineitem scan
    assert(plan.contains("HashAggregate") && plan.contains("partial"),
      s"expected a combining hash-agg feeding the join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"LIMIT 100 must compile to top-k:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"large-orders join degenerated:\n$plan")
  }

  test("returned revenue: R-flag reaches the lineitem scan, quarter reaches the orders scan") {
    val plan = physical(ops.Relational.joinReturnedRevenue(spark, d))
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"l_returnflag filter not pushed to the lineitem scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must compile to top-k:\n$plan")
  }

  test("nation volume: the nation pair prunes the dims via broadcast before the fact chain") {
    val plan = physical(ops.Relational.joinNationVolume(spark, d))
    assert(plan.contains("BroadcastHashJoin"),
      s"nation pair should broadcast into supplier/customer:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nation-volume join degenerated:\n$plan")
  }

  test("source cap: rank filter compiles to WindowGroupLimit, truncating before the shuffle") {
    val plan = physical(ops.Sampling.sourceCap(spark, d))
    // rn <= K must rewrite to a group-limit so each map task keeps at
    // most K rows per source before the exchange — the difference
    // between shuffling K·sources·tasks rows and the whole corpus
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit rewrite for the rank filter:\n$plan")
  }

  test("anti-agg subquery: NOT EXISTS compiles to a LEFT ANTI hash join") {
    val plan = physical(ops.Relational.subqueryAntiAgg(spark, d))
    assert(plan.contains("LeftAnti"), s"expected LEFT ANTI join:\n$plan")
    // the 1-row stats side is the only nested-loop allowed (scalar-subquery
    // broadcast); the anti join itself must be hash-based
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
  }

  test("forecast revenue: every predicate reaches the parquet scan as a PushedFilter") {
    // Q6's whole performance story IS scan-level pruning: date range,
    // discount band, and quantity cap must all land in PushedFilters so
    // row groups skip on statistics before any row materializes
    val plan = physical(ops.Relational.aggForecastRevenue(spark, d))
    val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse(fail(s"no PushedFilters line in:\n$plan"))
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not pushed to the scan: $pushed")
  }

  test("market share: dimensions broadcast; the orders join is the only fact-fact exchange") {
    val plan = physical(ops.Relational.aggMarketShare(spark, d))
    assert(plan.contains("BroadcastHashJoin"),
      s"part/supplier-nation chains should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"market-share join degenerated:\n$plan")
  }

  test("profit rollup (Q9 shape): parts and supplier-nation broadcast; orders is the only fact-fact join") {
    val plan = physical(ops.Relational.aggProfitByNation(spark, d))
    assert(plan.contains("BroadcastHashJoin"),
      s"red-parts / supplier-nation dims should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"profit rollup degenerated:\n$plan")
    // the name filter prunes parts BEFORE the fact join: the part scan
    // carries the Contains pushdown, not a post-join filter
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("p_name"), s"p_name filter not pushed: $pushed")
  }

  test("important parts (Q11 shape): ONE lineitem scan — the global total folds the grouped table") {
    // the textbook text scans the fact slice twice (per-group agg +
    // global scalar subquery); the engine form must re-aggregate the
    // already-grouped per-part rows instead — at 100 TB the second scan
    // is the whole cost of the query
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = ops.Relational.aggImportantParts(spark, d).queryExecution
      val liScans = qe.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("lineitem")) => f
      }.size
      assert(liScans == 1,
        s"global-fraction threshold re-scans lineitem ($liScans scans):\n${qe.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("line priority (Q12 shape): date range pushed to the scan; both CASE branches in ONE aggregate") {
    val plan = physical(ops.Relational.joinLinePriority(spark, d))
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("l_shipdate"), s"date filter not pushed: $pushed")
    // one aggregate computes both branch counts — a two-join/two-agg
    // plan would read the join output twice
    assert("HashAggregate".r.findAllIn(plan).size <= 2, // partial + final
      s"CASE counts split across aggregates:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"degenerated:\n$plan")
  }

  test("supplier census (Q16 shape): part dim broadcasts before the distinct; blacklist is a broadcast anti join") {
    val plan = physical(ops.Relational.aggSupplierCensus(spark, d))
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered part dim should broadcast:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"NOT IN must compile to an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"census degenerated:\n$plan")
  }

  test("disjunctive join: common equi key extracted — hash join with residual OR, never nested-loop") {
    // Q19's defining optimizer property: the OR of brand/size/quantity
    // conjunctions shares p_partkey = l_partkey, which must be pulled
    // out as the hash key (the disjunction stays as a residual filter);
    // a planner that misses the extraction nested-loops the fact table
    val plan = physical(ops.Relational.joinDisjunctive(spark, d))
    assert(plan.contains("BroadcastHashJoin"),
      s"part should broadcast-hash-join on the extracted equi key:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"disjunctive predicate degenerated to nested-loop:\n$plan")
  }

  test("order-priority EXISTS: correlated inequality compiles to ONE semi hash join") {
    val plan = physical(ops.Relational.joinOrderPriorityCheck(spark, d))
    assert(plan.contains("LeftSemi"), s"expected LEFT SEMI join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"EXISTS degenerated:\n$plan")
  }

  test("top-supplier argmax: the revenue aggregate computes once (exchange reused for the max)") {
    // Q15's CTE is consumed twice (join input + global max); the plan
    // must reuse the aggregate's exchange, not re-scan lineitem per
    // consumer — at 100 TB a second scan of the quarter slice is the
    // difference between one pass and two. Both legs carry the same
    // filters only while the supplier join infers none (`<=>`)
    val df = ops.Relational.subqueryTopSupplier(spark, d)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = Aqe.collect(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("lineitem")) => f
    }.size
    val reused = Aqe.collect(plan) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }.size
    assert(scans == 1 && reused >= 1,
      s"revenue CTE: $scans lineitem scans, $reused reused exchanges:\n$plan")
  }

  test("bench-tail shuffle budget: exchange counts are pinned (VERDICT r13 #4)") {
    // benchdiff catches TIME regressions; nothing catches a PLAN
    // regression hiding inside the noise band — an extra shuffle is
    // ~0.1 s on the fixture but catastrophic at 100 TB. Pin the exact
    // ShuffleExchangeExec count of the bench tail's plans; any future
    // plan change must edit the expected number consciously. AQE is off
    // for the count (the adaptive wrapper hides its subtree from
    // TreeNode.collect); AQE can only merge/convert these at runtime,
    // never add one.
    val expected = Seq(
      // (query, shuffles) — the steady-state read plans; memoized
      // substrate (windows/postings/labels/IVF artifacts) is an
      // InMemoryTableScan or parquet read here, so its one-time build
      // shuffles are correctly NOT in the budget
      "q_dedup_substring" -> 3,        // window self-join + pair agg + order
      "q_dedup_substring_auto" -> 3,   // winnow leg over the same memo table
      "q_dedup_near" -> 8,             // collapse agg + final order, and
                                       // the pair and verify subtrees that
                                       // pins used to run as separate jobs:
                                       // band buckets, pair distinct + its
                                       // sort, docs-in-pairs distinct,
                                       // (pair, hash) and per-pair slot
                                       // counts; the re-expansion reuses
                                       // the collapse (forcing the shingle
                                       // rows to broadcast cost 96→468 s at
                                       // sf100: corpus-scale there)
      "q_heartbeat_map_explode" -> 3,  // explode + per-file agg + order
      "q_dedup_cc" -> 1,               // memoized labels -> one final agg
      "q_dedup_near_collapsed" -> 8,   // the q_dedup_near chain without the
                                       // re-expansion
      "q_dedup_collapsed_jaccard" -> 6, // collapse, band pairs, verify join
      "q_sim_search_ivf_kmeans" -> 0,  // per-call k-means fit on the
                                       // driver (ivfFit: one collect, no
                                       // exchange); the assignment is a
                                       // projection, broadcast probe +
                                       // map-side top-k: no shuffle
      "q_dedup_ngram" -> 3,            // banded sigs + bucket pairs + order
      "q_boilerplate_score" -> 4,      // postings memo + df join + score agg
      "q_join_waiting_suppliers" -> 4, // fact-fact on orderkey (agg reuses
                                       // that partitioning; the window
                                       // re-keys) + supplier join + final
                                       // agg + order
      "q_subquery_avg_threshold" -> 2, // brand parts broadcast into ONE
                                       // lineitem scan; window re-key on
                                       // partkey + single-partition agg
      "q_join_dominant_suppliers" -> 4, // (part,supp) agg + window re-key
                                       // + distinct suppkey; dominant set
                                       // broadcasts into the semi join;
                                       // order by name
      "q_join_min_price_supplier" -> 2, // parts + region roster both
                                       // broadcast; window re-key on
                                       // partkey + distinct/order
      "q_agg_custdist" -> 3)           // per-cust agg + customer-side
                                       // exchange (agg reuses) + c_count
                                       // agg; order rides the agg exchange
    // warm every memo under the session's default (AQE-on) conf, so a
    // memo first built here gets the plan the pinned counts describe,
    // whatever ran before this spec
    expected.foreach { case (name, _) => SparkEntry.queries(name)(spark, d) }
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = expected.map { case (name, want) =>
        // build twice: the first construction materializes any Derived/
        // memo substrate so the counted plan is the steady-state one
        SparkEntry.queries(name)(spark, d).queryExecution.executedPlan
        val shuffles = SparkEntry.queries(name)(spark, d)
          .queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }.size
        (name, want, shuffles)
      }
      val drift = got.filter { case (_, want, have) => want != have }
      assert(drift.isEmpty, "shuffle-budget drift (query, pinned, actual): " +
        drift.map { case (n, w, h) => s"$n: $w -> $h" }.mkString("; "))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }
}

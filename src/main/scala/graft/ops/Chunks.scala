package graft.ops

import graft.Tables
import graft.udaf.{ChunkHash, FileChecksum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** SURVEY §2A chunk-lifecycle operators #9-#16, #19, #20, #23 — the
  * reference's chunk split/integrity/placement/delta computations as
  * declarative Spark plans over the chunk-shaped `lineitem` table
  * (FIXTURES.md role mapping).
  *
  * Scale notes: the only row-multiplying op is the chunk-split generator
  * (#9), which is a per-row explode (no shuffle). Set ops (#16, #20) are
  * shuffle-on-key anti-joins/excepts; candidate enumeration (#20) filters
  * to the under-replicated subset BEFORE expanding against the node dim —
  * the expansion factor is the (bounded) cluster size, never data×data.
  */
object Chunks {

  /** Reference chunk size: dfs.properties:5 (1,000,000 bytes). */
  private val ChunkSize = 1000000L

  /** "File size in bytes" proxy: o_totalprice in cents, exactly (decimal
    * cast of a 2-decimal double is exact on both engines).
    */
  private def sizeBytes: Column =
    col("o_totalprice").cast("decimal(18,2)").multiply(lit(100)).cast(LongType)

  /** Per-chunk synthetic checksum: md5 over the chunk's identity fields
    * (integers only — double→string formatting differs across engines).
    */
  private def chunkMd5: Column =
    md5(concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast(LongType)))

  /** #9 q_chunk_split — file → ⌈size/chunkSize⌉ chunks, last chunk short
    * (Chunk.createChunksFromFile + sizing math,
    * structures/Chunk.java:36-76,195-214). Generator via
    * explode(sequence(...)): pure per-row expansion, embarrassingly
    * parallel, no shuffle.
    */
  def chunkSplit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), sizeBytes.as("size"))
      .withColumn("n_chunks", floor((col("size") + lit(ChunkSize - 1)) / lit(ChunkSize)))
      // Empty files yield zero chunks. Without this guard sequence(0, -1)
      // DEFAULTS TO STEP -1 and emits [0, -1] — two bogus chunks — where
      // DuckDB's generate_series(0, -1) (and the reference, which rejects
      // empty files: structures/Chunk.java:144-150) yields none.
      .where(col("n_chunks") > 0)
      .select(col("o_orderkey"), col("size"), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("seq"))
      .withColumn("chunk_size", least(lit(ChunkSize), col("size") - col("seq") * lit(ChunkSize)))
      .orderBy("o_orderkey", "seq")

  /** #10 q_window_contiguity — gap/duplicate detection in per-file chunk
    * sequences (reassembly validation, structures/Chunk.java:78-98:
    * seq starts at 0/1, no gaps). lag() over (file, seq) + aggregate.
    */
  def windowContiguity(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"))
      // one row per CHUNK, not per replica: the fixture replicates
      // (orderkey, linenumber) across suppkeys, and a replicated seq
      // would read as 1,1,2 → a phantom gap in a contiguous file
      .distinct()
      .withColumn("prev", lag("l_linenumber", 1).over(w))
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_chunks"),
        min("l_linenumber").as("first_seq"),
        max("l_linenumber").as("last_seq"),
        sum(when(col("prev").isNotNull && col("l_linenumber") =!= col("prev") + 1, 1)
          .otherwise(0)).as("n_gaps"))
      .withColumn("is_contiguous",
        col("first_seq") === 1 && col("n_gaps") === 0)
      .orderBy("l_orderkey")
  }

  /** #11 q_udaf_file_checksum — file integrity = md5 of in-order chunk
    * checksums (ordered concat structures/Chunk.java:100-126 + md5
    * Utils.java:28-58). Declarative primary impl:
    * md5(array_join(transform(sort_array(collect_list(struct(...)))))).
    * The custom-Aggregator alternative is fileChecksumAggregator below.
    */
  def fileChecksum(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), chunkMd5.as("chunk_md5"))
      // one checksum per CHUNK (the reference md5s each chunk once,
      // Chunk.java:100-126): the fixture replicates (orderkey,
      // linenumber) rows, and divergent-replica rows can even carry
      // different quantities — min() is the deterministic replica pick
      .groupBy("l_orderkey", "l_linenumber")
      .agg(min(col("chunk_md5")).as("chunk_md5"))
      .groupBy("l_orderkey")
      .agg(md5(array_join(transform(
        sort_array(collect_list(struct(col("l_linenumber").as("seq"), col("chunk_md5").as("hash")))),
        x => x.getField("hash")), "")).as("file_md5"))
      .orderBy("l_orderkey")

  /** #11-alt q_file_checksum_aggregator — same semantics via a custom
    * typed Aggregator (udaf/FileChecksum.scala), proving the UDAF
    * extension surface. Shares #11's oracle SQL.
    */
  def fileChecksumAggregator(s: SparkSession, d: String): DataFrame = {
    val checksum = udaf(new FileChecksum(), org.apache.spark.sql.Encoders.product[ChunkHash])
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), chunkMd5.as("chunk_md5"))
      // same per-chunk replica dedup as fileChecksum (shared oracle)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(min(col("chunk_md5")).as("chunk_md5"))
      .groupBy("l_orderkey")
      .agg(checksum(col("l_linenumber"), col("chunk_md5")).as("file_md5"))
      .orderBy("l_orderkey")
  }

  /** #12 q_filter_corrupt — recompute checksum, keep mismatches
    * (Chunk.isCorrupted structures/Chunk.java:156-164; monitor sweep
    * storageNode/ChunkCorruptionMonitor.java:31-75). Corruption is
    * simulated deterministically: chunks with seq 3 carry a checksum
    * computed over perturbed content. Pure filter — pushed to the scan.
    */
  def filterCorrupt(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        chunkMd5.as("recomputed"),
        when(col("l_linenumber") === 3,
          md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast(LongType), lit("corrupt"))))
          .otherwise(chunkMd5).as("stored"))
      .filter(col("recomputed") =!= col("stored"))
      .orderBy("l_orderkey", "l_linenumber", "recomputed")

  /** #13 q_scalar_regex_parse — chunk filename parse
    * (storageNode/StorageNode.java:66,77-82: non-greedy
    * `(.*?)-chunk([0-9]+)`; sidecar split StorageNode.java:90).
    */
  def regexParse(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(concat(lit("file"), col("l_orderkey"), lit("-chunk"), col("l_linenumber")).as("chunk_file"))
      .distinct()
      .select(
        col("chunk_file"),
        regexp_extract(col("chunk_file"), "(.*?)-chunk([0-9]+)", 1).as("filename"),
        regexp_extract(col("chunk_file"), "(.*?)-chunk([0-9]+)", 2).as("seq_str"),
        element_at(split(concat(col("chunk_file"), lit(" sidecar.md5")), " "), 1).as("base_token"))
      .orderBy("chunk_file")

  /** #14 q_scalar_concat_format — chunk naming + fixed-width table print
    * (structures/Chunk.java:216-219; client/Client.java:156-164
    * `%-40s %5d`).
    */
  def concatFormat(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .select(col("s_suppkey"),
        format_string("%-40s %5d", col("s_name"), col("s_nationkey")).as("listing"),
        concat(col("s_name"), lit("-chunk"), col("s_suppkey")).as("chunk_name"))
      .orderBy("s_suppkey")

  /** #15 q_topk_random_n — choose-N (Utils.chooseNrandomOrMin
    * Utils.java:15-22); deterministic analog: top-10 by size →
    * TakeOrderedAndProject (no full sort, per-partition heaps + single
    * merge — the scalable top-k).
    */
  def topkRandomN(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** #15-true q_choose_random_n — the reference's ACTUAL random choose-N
    * (Utils.chooseNrandomOrMin, Utils.java:15-22: shuffle the candidate
    * list, take min(N, size)). Seeded rand() + unique-key tie-break makes
    * a run reproducible, but the sample is a genuine uniform subset, so
    * there is no DuckDB oracle (driver records rows-only); ChunksSpec
    * mirrors UtilsTest.java:15-26's membership/size properties. Scale:
    * rand() is a per-row projection and limit-after-sort is
    * TakeOrderedAndProject — per-partition heaps, no full sort.
    */
  def chooseRandomN(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .select("s_suppkey", "s_name")
      .orderBy(rand(42L).asc, col("s_suppkey").asc)
      .limit(10)

  /** #16 q_except_delta — heartbeat delta: chunks now ∖ chunks last-acked
    * (storageNode/HeartbeatRunnable.java:123-143). EXCEPT on the chunk
    * key; literal timestamp cutoffs (no now() — SURVEY §7.4 rule 4).
    */
  def exceptDelta(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_shipdate")
    val current = li.filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber")
    val acked = li.filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber")
    current.except(acked).orderBy("l_orderkey", "l_linenumber")
  }

  /** #19 q_join_placement_mod — round-robin chunk→node placement
    * (client/Client.java:342-355: `(idx+1) % nbStorageNodes`) + broadcast
    * join to the node table. The node count is computed, not hard-coded,
    * via a broadcast 1-row cross join (never collect()).
    */
  def placementMod(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
    val nNodes = sup.agg(count(lit(1)).as("n_nodes"))
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber")
      .crossJoin(broadcast(nNodes))
      .withColumn("node", pmod(col("l_orderkey") + col("l_linenumber"), col("n_nodes")))
      .join(broadcast(sup.select(col("s_suppkey"), col("s_name"))),
        col("node") === col("s_suppkey"))
      .select("l_orderkey", "l_linenumber", "node", "s_name")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** #20 q_set_diff_candidates — replica-candidate selection
    * (controller/ChunkReplicationRunnable.java:49-74): candidates =
    * onlineNodes ∖ currentReplicas, need = min − have. The node set is
    * the reference's bounded 10-node cluster (scripts/
    * start-storage-nodes.sh:9), NOT an unbounded dim: replica placement
    * = l_suppkey mod 10, and only under-replicated chunks are expanded
    * against the broadcast 10-row node table before the anti-join. (An
    * earlier form crossed every under-replicated order with the full
    * 1000-row supplier table — a |chunks|×|nodes| intermediate that is
    * exactly what dies at 100 TB.)
    */
  def setDiffCandidates(s: SparkSession, d: String): DataFrame =
    // The node universe is bounded (10), so each chunk's replica SET
    // packs into one BIGINT bitmask: bit_or(1 << node) in a single
    // codegen'd combining aggregate (idempotent under duplicate
    // replicas — no distinct pre-pass), and the candidate set is the
    // mask COMPLEMENT, pure per-row arithmetic. The naive form
    // (distinct → under-replicated agg → nodes cross join → anti join
    // against the replica table again) scans and shuffles the corpus
    // twice to compute what the mask answers in one exchange; the
    // oracle keeps that formulation, which is exactly what the hash
    // gate is for.
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(l_suppkey % 10 AS INT)))")
        .as("mask"))
      .withColumn("have", expr("CAST(bit_count(mask) AS BIGINT)"))
      .where(col("have") < 3)
      .select(col("l_orderkey"), col("have"),
        (lit(3L) - col("have")).as("need"),
        (lit(10L) - col("have")).as("n_candidates"))
      .orderBy("l_orderkey")

  /** #23 q_failover_coalesce — first non-failed replica per chunk
    * (download failover client/Client.java:443-454): rank alive replicas
    * by preference order, keep rank 1. Nodes {1,2} are "failed".
    */
  def failoverCoalesce(s: SparkSession, d: String): DataFrame =
    // preference order is ascending node id, so rank-1-per-chunk IS
    // min-per-chunk: one codegen'd hash aggregate with map-side
    // partial combine — not distinct + row_number, which shuffles
    // twice and sorts every partition. (A non-monotone preference
    // list would need the window form; see q_window_rank for that
    // shape.)
    Tables.lineitem(s, d)
      .filter(!col("l_suppkey").isin(1L, 2L))
      .groupBy("l_orderkey")
      .agg(min("l_suppkey").as("chosen_node"))
      .orderBy("l_orderkey")

  /** Per-node heartbeat payload as a FIRST-CLASS MapType column:
    * Map[filename → sorted seq-number list] — the reference's heartbeat
    * message body (proto/messages.proto:38-43, a map of fileName →
    * sequence numbers held), which SURVEY §1.2 maps to
    * MapType(String, ArrayType(Int)). Built bottom-up: one combining
    * aggregate per (node, file) collects the sorted seq list, then one
    * per node assembles the map with map_from_entries (keys unique by
    * construction — the file level was grouped first). Per-node state
    * is that node's own catalog — the same bound the reference's
    * in-memory heartbeat holds; the map is |nodes| rows regardless of
    * corpus size.
    */
  private[graft] def heartbeatPayload(s: SparkSession, d: String,
      fan: Boolean = false): DataFrame = {
    val base = Tables.lineitem(s, d)
      .select(col("l_suppkey").as("node_id"),
        concat(lit("f_"), lpad(col("l_orderkey").cast("string"), 12, "0")).as("filename"),
        col("l_linenumber").cast("int").as("seq"))
    // `fan`: spread the collect_set object aggregate over every core.
    // Keyed on the full grouping key so the (node, file) aggregate
    // reuses this exchange and the plan's shuffle count does not grow.
    // Only q_heartbeat_map_explode opts in: it must materialize the whole
    // payload (explode's cardinality depends on it), while its siblings'
    // `.count()` plans prune the payload expressions, so an exchange
    // would only add cost (measured: explode 2.30 → 1.62 s, every pruned
    // sibling slower).
    (if (fan) Tables.fanOut(base, col("node_id"), col("filename"))
     else base)
      .groupBy("node_id", "filename")
      // a node holds a chunk ONCE: the fixture duplicates (suppkey,
      // orderkey, linenumber) rows, and collect_list would announce
      // [1,1,2] — inflating n_chunks and faking non-contiguity
      .agg(sort_array(collect_set(col("seq"))).as("seqs"))
      .groupBy("node_id")
      .agg(map_from_entries(collect_list(struct(col("filename"), col("seqs")))).as("payload"))
  }

  /** q_heartbeat_map — controller-side questions answered FROM THE MAP
    * (not from the flat rows): file count via map_keys, chunk total via
    * a map_values fold, first-file probe via element_at — so both
    * construction and lookup of the MapType surface are oracle-checked
    * (the DuckDB mirror computes the same facts relationally). Output
    * is scalar columns only (driver-hashable).
    */
  def heartbeatMap(s: SparkSession, d: String): DataFrame =
    heartbeatPayload(s, d).select(col("node_id"),
      expr("CAST(size(map_keys(payload)) AS BIGINT)").as("n_files"),
      expr("aggregate(map_values(payload), CAST(0 AS BIGINT), (acc, x) -> acc + size(x))").as("n_chunks"),
      array_min(map_keys(col("payload"))).as("first_file"),
      expr("CAST(size(element_at(payload, array_min(map_keys(payload)))) AS BIGINT)").as("first_file_n_seqs"),
      expr("CAST(array_min(element_at(payload, array_min(map_keys(payload)))) AS BIGINT)").as("first_file_min_seq"))
      .orderBy("node_id")

  /** Reporting-period start + per-node map entry cap for the DELTA
    * heartbeat. The full-catalog payload above is the test-scale demo;
    * at fleet scale a node cannot re-announce its whole catalog every
    * period, so the wire form is delta-encoded: only files TOUCHED this
    * period, capped at the K most-recently-touched (reference analog:
    * the heartbeat sends the current period's holdings, not history —
    * storageNode/HeartbeatRunnable.java:101-143). Per-row payload is
    * ≤ K entries by construction regardless of corpus size, which is
    * what makes the message broadcastable from 10⁴ nodes at 100 TB.
    */
  private[graft] val DeltaPeriodLo = "2001-06-01 00:00:00"
  private[graft] val DeltaTopK = 16

  private[graft] def heartbeatDeltaPayload(s: SparkSession, d: String): DataFrame = {
    // recency rank per node: window over the PER-FILE aggregate (one
    // row per (node, file) — small), never over raw chunk rows
    val w = Window.partitionBy("node_id")
      .orderBy(col("last_touch").desc, col("filename"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(DeltaPeriodLo).cast("timestamp"))
      .select(col("l_suppkey").as("node_id"),
        concat(lit("f_"), lpad(col("l_orderkey").cast("string"), 12, "0")).as("filename"),
        col("l_linenumber").cast("int").as("seq"),
        col("l_shipdate"))
      .groupBy("node_id", "filename")
      // collect_set: replica-duplicated (node, file, seq) rows announce
      // the chunk once (the heartbeatPayload rule)
      .agg(sort_array(collect_set(col("seq"))).as("seqs"),
        max(col("l_shipdate")).as("last_touch"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= DeltaTopK)
      .groupBy("node_id")
      .agg(map_from_entries(collect_list(struct(col("filename"), col("seqs")))).as("payload"))
  }

  /** q_heartbeat_map_delta — the delta payload interrogated exactly like
    * q_heartbeat_map (map_keys / map_values fold / element_at), so the
    * bounded wire form is oracle-checked end-to-end: the DuckDB mirror
    * recomputes the period filter + recency-top-K relationally.
    */
  def heartbeatMapDelta(s: SparkSession, d: String): DataFrame =
    heartbeatDeltaPayload(s, d).select(col("node_id"),
      expr("CAST(size(map_keys(payload)) AS BIGINT)").as("n_files"),
      expr("aggregate(map_values(payload), CAST(0 AS BIGINT), (acc, x) -> acc + size(x))").as("n_chunks"),
      array_min(map_keys(col("payload"))).as("first_file"),
      expr("CAST(size(element_at(payload, array_min(map_keys(payload)))) AS BIGINT)").as("first_file_n_seqs"),
      expr("CAST(array_min(element_at(payload, array_min(map_keys(payload)))) AS BIGINT)").as("first_file_min_seq"))
      .orderBy("node_id")

  /** q_heartbeat_map_explode — the map unnested BACK to rows
    * (explode(map) → key/value columns) with per-file facts computed
    * from the carried seq array; proves the map round-trip loses
    * nothing vs the direct relational aggregation the oracle runs.
    * is_contiguous relies on per-(node,file) seq uniqueness, which
    * heartbeatPayload's collect_set establishes (the fixture itself
    * duplicates (orderkey, linenumber) across replica rows).
    */
  def heartbeatMapExplode(s: SparkSession, d: String): DataFrame =
    heartbeatPayload(s, d, fan = true)
      .select(col("node_id"), explode(col("payload")).as(Seq("filename", "seqs")))
      .select(col("node_id"), col("filename"),
        expr("CAST(size(seqs) AS BIGINT)").as("n_seqs"),
        expr("CAST(array_min(seqs) AS BIGINT)").as("seq_min"),
        expr("CAST(array_max(seqs) AS BIGINT)").as("seq_max"),
        expr("size(seqs) = array_max(seqs) - array_min(seqs) + 1").as("is_contiguous"))
      .orderBy("node_id", "filename")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk_split"              -> (chunkSplit _),
    "q_window_contiguity"        -> (windowContiguity _),
    "q_udaf_file_checksum"       -> (fileChecksum _),
    "q_file_checksum_aggregator" -> (fileChecksumAggregator _),
    "q_filter_corrupt"           -> (filterCorrupt _),
    "q_scalar_regex_parse"       -> (regexParse _),
    "q_scalar_concat_format"     -> (concatFormat _),
    "q_topk_random_n"            -> (topkRandomN _),
    "q_choose_random_n"          -> (chooseRandomN _),
    "q_except_delta"             -> (exceptDelta _),
    "q_join_placement_mod"       -> (placementMod _),
    "q_set_diff_candidates"      -> (setDiffCandidates _),
    "q_failover_coalesce"        -> (failoverCoalesce _),
    "q_heartbeat_map"            -> (heartbeatMap _),
    "q_heartbeat_map_delta"      -> (heartbeatMapDelta _),
    "q_heartbeat_map_explode"    -> (heartbeatMapExplode _),
  )

  private val checksumOracle =
    "WITH chunks AS (SELECT l_orderkey, l_linenumber, " +
      "min(md5(l_orderkey || '|' || l_linenumber || '|' || CAST(l_quantity AS BIGINT))) AS chunk_md5 " +
      "FROM lineitem GROUP BY l_orderkey, l_linenumber) " +
      "SELECT l_orderkey, md5(string_agg(chunk_md5, '' ORDER BY l_linenumber)) AS file_md5 " +
      "FROM chunks GROUP BY l_orderkey ORDER BY l_orderkey"

  // per-node heartbeat summary over the per-file rows (n_seqs, min_seq)
  private val heartbeatSummaryOracle =
    "SELECT node_id, count(*) AS n_files, CAST(sum(n_seqs) AS BIGINT) AS n_chunks, " +
      "min(filename) AS first_file, " +
      "CAST(arg_min(n_seqs, filename) AS BIGINT) AS first_file_n_seqs, " +
      "CAST(arg_min(min_seq, filename) AS BIGINT) AS first_file_min_seq "

  val oracle: Map[String, String] = Map(
    "q_chunk_split" ->
      ("SELECT o_orderkey, size, n_chunks, " +
        "unnest(generate_series(0, n_chunks - 1)) AS seq, " +
        "least(1000000, size - unnest(generate_series(0, n_chunks - 1)) * 1000000) AS chunk_size " +
        "FROM (SELECT o_orderkey, size, (size + 999999) // 1000000 AS n_chunks " +
        "FROM (SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS size " +
        "FROM orders)) ORDER BY o_orderkey, seq"),
    "q_window_contiguity" ->
      ("SELECT l_orderkey, count(*) AS n_chunks, min(l_linenumber) AS first_seq, " +
        "max(l_linenumber) AS last_seq, " +
        "CAST(sum(CASE WHEN prev IS NOT NULL AND l_linenumber <> prev + 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps, " +
        "(min(l_linenumber) = 1 AND " +
        "sum(CASE WHEN prev IS NOT NULL AND l_linenumber <> prev + 1 THEN 1 ELSE 0 END) = 0) AS is_contiguous " +
        "FROM (SELECT l_orderkey, l_linenumber, " +
        "lag(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS prev " +
        "FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) " +
        "GROUP BY l_orderkey ORDER BY l_orderkey"),
    "q_udaf_file_checksum" -> checksumOracle,
    "q_file_checksum_aggregator" -> checksumOracle,
    "q_filter_corrupt" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "md5(l_orderkey || '|' || l_linenumber || '|' || CAST(l_quantity AS BIGINT)) AS recomputed, " +
        "md5(l_orderkey || '|' || l_linenumber || '|' || CAST(l_quantity AS BIGINT) || '|corrupt') AS stored " +
        "FROM lineitem WHERE l_linenumber = 3 " +
        "ORDER BY l_orderkey, l_linenumber, recomputed"),
    "q_scalar_regex_parse" ->
      ("SELECT chunk_file, regexp_extract(chunk_file, '(.*?)-chunk([0-9]+)', 1) AS filename, " +
        "regexp_extract(chunk_file, '(.*?)-chunk([0-9]+)', 2) AS seq_str, " +
        "string_split(chunk_file || ' sidecar.md5', ' ')[1] AS base_token " +
        "FROM (SELECT DISTINCT 'file' || l_orderkey || '-chunk' || l_linenumber AS chunk_file " +
        "FROM lineitem) ORDER BY chunk_file"),
    "q_scalar_concat_format" ->
      ("SELECT s_suppkey, printf('%-40s %5d', s_name, s_nationkey) AS listing, " +
        "s_name || '-chunk' || s_suppkey AS chunk_name FROM supplier ORDER BY s_suppkey"),
    "q_topk_random_n" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),
    "q_except_delta" ->
      ("SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01' " +
        "EXCEPT SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01' " +
        "ORDER BY l_orderkey, l_linenumber"),
    "q_join_placement_mod" ->
      ("SELECT l_orderkey, l_linenumber, (l_orderkey + l_linenumber) % n_nodes AS node, s_name " +
        "FROM lineitem CROSS JOIN (SELECT count(*) AS n_nodes FROM supplier) " +
        "JOIN supplier ON s_suppkey = (l_orderkey + l_linenumber) % n_nodes " +
        "ORDER BY l_orderkey, l_linenumber"),
    "q_set_diff_candidates" ->
      ("WITH repl AS (SELECT DISTINCT l_orderkey, l_suppkey % 10 AS node FROM lineitem), " +
        "under AS (SELECT l_orderkey, count(*) AS have FROM repl " +
        "GROUP BY l_orderkey HAVING count(*) < 3), " +
        "nodes AS (SELECT unnest(generate_series(0, 9)) AS node), " +
        "cand AS (SELECT u.l_orderkey, u.have, n.node FROM under u CROSS JOIN nodes n " +
        "WHERE NOT EXISTS (SELECT 1 FROM repl r WHERE r.l_orderkey = u.l_orderkey AND r.node = n.node)) " +
        "SELECT l_orderkey, max(have) AS have, 3 - max(have) AS need, count(*) AS n_candidates " +
        "FROM cand GROUP BY l_orderkey ORDER BY l_orderkey"),
    "q_failover_coalesce" ->
      ("SELECT l_orderkey, min(l_suppkey) AS chosen_node FROM lineitem " +
        "WHERE l_suppkey NOT IN (1, 2) " +
        "GROUP BY l_orderkey ORDER BY l_orderkey"),
    // the map mirrors are RELATIONAL — DuckDB recomputes the same facts
    // from flat rows, proving the Spark MapType pipeline invents/loses
    // nothing (arg_min = value at the lexicographically first filename)
    "q_heartbeat_map" ->
      ("WITH pf AS (SELECT l_suppkey AS node_id, " +
        "'f_' || lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS filename, " +
        "count(DISTINCT l_linenumber) AS n_seqs, min(l_linenumber) AS min_seq " +
        s"FROM lineitem GROUP BY 1, 2) $heartbeatSummaryOracle" +
        "FROM pf GROUP BY node_id ORDER BY node_id"),
    "q_heartbeat_map_delta" ->
      (s"WITH pf AS (SELECT l_suppkey AS node_id, " +
        "'f_' || lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS filename, " +
        "count(DISTINCT l_linenumber) AS n_seqs, min(l_linenumber) AS min_seq, max(l_shipdate) AS last_touch " +
        s"FROM lineitem WHERE l_shipdate >= TIMESTAMP '${DeltaPeriodLo}' GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY node_id " +
        s"ORDER BY last_touch DESC, filename) AS rk FROM pf) $heartbeatSummaryOracle" +
        s"FROM r WHERE rk <= ${DeltaTopK} GROUP BY node_id ORDER BY node_id"),
    "q_heartbeat_map_explode" ->
      ("SELECT l_suppkey AS node_id, " +
        "'f_' || lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS filename, " +
        "count(DISTINCT l_linenumber) AS n_seqs, CAST(min(l_linenumber) AS BIGINT) AS seq_min, " +
        "CAST(max(l_linenumber) AS BIGINT) AS seq_max, " +
        "count(DISTINCT l_linenumber) = max(l_linenumber) - min(l_linenumber) + 1 AS is_contiguous " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY node_id, filename"),
  )

  private val heartbeatCtes =
    "WITH pf AS (SELECT l_suppkey AS node_id, " +
      "concat('f_', lpad(CAST(l_orderkey AS STRING), 12, '0')) AS filename, " +
      "sort_array(collect_set(CAST(l_linenumber AS INT))) AS seqs " +
      "FROM lineitem GROUP BY 1, 2), " +
      "hb AS (SELECT node_id, map_from_entries(collect_list(struct(filename, seqs))) AS payload " +
      "FROM pf GROUP BY node_id)"

  /** Spark-dialect SQL surface overrides (SqlSurface) — DuckDB-only
    * constructs rewritten: unnest(generate_series) → explode(sequence),
    * `//` → DIV, string_agg(... ORDER BY) → md5 over a sort_array'd
    * collect_list (the fileChecksum DataFrame shape), 1-based [] →
    * element_at.
    */
  val sparkSql: Map[String, String] = {
    val checksumSql =
      ("WITH chunks AS (SELECT l_orderkey, l_linenumber, " +
        "min(md5(concat_ws('|', l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT)))) AS chunk_md5 " +
        "FROM lineitem GROUP BY l_orderkey, l_linenumber) " +
        "SELECT l_orderkey, md5(array_join(transform(sort_array(collect_list(" +
        "named_struct('seq', l_linenumber, 'hash', chunk_md5))), x -> x.hash), '')) AS file_md5 " +
        "FROM chunks GROUP BY l_orderkey ORDER BY l_orderkey")
    // per-node summary read back THROUGH the heartbeat map `hb.payload`
    val heartbeatSummary =
      "SELECT node_id, CAST(size(map_keys(payload)) AS BIGINT) AS n_files, " +
        "aggregate(map_values(payload), CAST(0 AS BIGINT), (acc, x) -> acc + size(x)) AS n_chunks, " +
        "array_min(map_keys(payload)) AS first_file, " +
        "CAST(size(element_at(payload, array_min(map_keys(payload)))) AS BIGINT) AS first_file_n_seqs, " +
        "CAST(array_min(element_at(payload, array_min(map_keys(payload)))) AS BIGINT) AS first_file_min_seq " +
        "FROM hb ORDER BY node_id"
    Map(
      // non-oracle (seeded-random sample — rows-only-compared in
      // SqlSurfaceSpec): same rand(42) + tie-break the DataFrame uses
      "q_choose_random_n" ->
        ("SELECT s_suppkey, s_name FROM supplier " +
          "ORDER BY rand(42) ASC, s_suppkey ASC LIMIT 10"),
      "q_chunk_split" ->
        (s"WITH sized AS (SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS size FROM orders), " +
          s"n AS (SELECT o_orderkey, size, (size + ${ChunkSize - 1}) DIV $ChunkSize AS n_chunks FROM sized), " +
          "e AS (SELECT o_orderkey, size, n_chunks, " +
          "explode(sequence(CAST(0 AS BIGINT), n_chunks - 1)) AS seq FROM n WHERE n_chunks > 0) " +
          s"SELECT o_orderkey, size, n_chunks, seq, least($ChunkSize, size - seq * $ChunkSize) AS chunk_size " +
          "FROM e ORDER BY o_orderkey, seq"),
      "q_udaf_file_checksum" -> checksumSql,
      "q_file_checksum_aggregator" -> checksumSql,
      "q_scalar_regex_parse" ->
        ("WITH cf AS (SELECT DISTINCT concat('file', l_orderkey, '-chunk', l_linenumber) AS chunk_file FROM lineitem) " +
          "SELECT chunk_file, regexp_extract(chunk_file, '(.*?)-chunk([0-9]+)', 1) AS filename, " +
          "regexp_extract(chunk_file, '(.*?)-chunk([0-9]+)', 2) AS seq_str, " +
          "element_at(split(concat(chunk_file, ' sidecar.md5'), ' '), 1) AS base_token " +
          "FROM cf ORDER BY chunk_file"),
      "q_set_diff_candidates" ->
        // bitmask form (see setDiffCandidates): one combining aggregate,
        // set-diff as mask-complement arithmetic
        ("WITH m AS (SELECT l_orderkey, " +
          "CAST(bit_count(bit_or(shiftleft(CAST(1 AS BIGINT), CAST(l_suppkey % 10 AS INT)))) AS BIGINT) AS have " +
          "FROM lineitem GROUP BY l_orderkey) " +
          "SELECT l_orderkey, have, 3 - have AS need, 10 - have AS n_candidates " +
          "FROM m WHERE have < 3 ORDER BY l_orderkey"),
      // the Spark texts go THROUGH the MapType column (map_from_entries
      // → map_keys/map_values/element_at/explode), unlike the flat
      // relational DuckDB mirrors — the SQL front door exercises the
      // same map surface the DataFrame builders do
      "q_heartbeat_map" ->
        s"$heartbeatCtes $heartbeatSummary",
      "q_heartbeat_map_delta" ->
        ("WITH pf AS (SELECT l_suppkey AS node_id, " +
          "concat('f_', lpad(CAST(l_orderkey AS STRING), 12, '0')) AS filename, " +
          "sort_array(collect_set(CAST(l_linenumber AS INT))) AS seqs, " +
          "max(l_shipdate) AS last_touch " +
          s"FROM lineitem WHERE l_shipdate >= TIMESTAMP '$DeltaPeriodLo' GROUP BY 1, 2), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY node_id " +
          "ORDER BY last_touch DESC, filename) AS rk FROM pf), " +
          "hb AS (SELECT node_id, map_from_entries(collect_list(struct(filename, seqs))) AS payload " +
          s"FROM r WHERE rk <= $DeltaTopK GROUP BY node_id) $heartbeatSummary"),
      "q_heartbeat_map_explode" ->
        (s"$heartbeatCtes, " +
          "ex AS (SELECT node_id, explode(payload) AS (filename, seqs) FROM hb) " +
          "SELECT node_id, filename, CAST(size(seqs) AS BIGINT) AS n_seqs, " +
          "CAST(array_min(seqs) AS BIGINT) AS seq_min, " +
          "CAST(array_max(seqs) AS BIGINT) AS seq_max, " +
          "size(seqs) = array_max(seqs) - array_min(seqs) + 1 AS is_contiguous " +
          "FROM ex ORDER BY node_id, filename"),
    )
  }
}

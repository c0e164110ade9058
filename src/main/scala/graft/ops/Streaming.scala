package graft.ops

import graft.{ParquetMeta, Tables}
import graft.ops.Pin.PinOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** SURVEY §2D streaming operators + the batch analogs of §2A #17-18.
  *
  * The reference runs four perpetual period-driven loops (heartbeat emit
  * storageNode/HeartbeatRunnable.java:33-80, age check
  * controller/HeartbeatMonitor.java:23-58, replication check
  * controller/ChunkReplicationRunnable.java:32-47, corruption scan
  * storageNode/ChunkCorruptionMonitor.java:31-75) — micro-batch streaming
  * jobs in all but name. The `events` table plays the heartbeat stream:
  * user_id = node identity, ts = heartbeat arrival.
  *
  * Scale notes: every windowed aggregation here is a single shuffle on
  * (window, key) with map-side partial aggregation; at 100 TB the state
  * in a true streaming run is bounded by the watermark (statefulLiveness)
  * — unbounded keys never accumulate because timeouts purge silent ones.
  * Batch `window()`/`session_window()` compile to the same exchange +
  * hash-agg plans as any groupBy, so the sf0.01 oracle checks exercise
  * exactly the plan that would run on the cluster.
  */
object Streaming {

  /** "Now" for liveness math — fixed literal, never now() (SURVEY §7.4
    * rule 4). All events precede it.
    */
  private val cutoff = "2024-02-01 00:00:00"

  /** #17 q_stream_liveness — batch analog of HeartbeatMonitor.run
    * (controller/HeartbeatMonitor.java:23-58): a node is dead when its
    * last heartbeat is older than max-age (30 s in dfs.properties:3;
    * 7 days here to match the events table's day-scale cadence).
    */
  def liveness(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(col("ts")).as("last_ts"))
      .select(
        col("user_id"),
        unix_micros(col("last_ts")).as("last_us"),
        (unix_timestamp(lit(cutoff).cast("timestamp")) -
          unix_timestamp(col("last_ts"))).as("age_s"))
      .withColumn("status",
        when(col("age_s") > 7L * 24 * 3600, lit("dead")).otherwise(lit("alive")))
      .orderBy("user_id")

  /** #18 q_stream_first_seen — first-heartbeat detection
    * (controller/MessageProcessor.java:289-332): the earliest event per
    * key triggers full-resync handling; keys first seen after a cutoff
    * are flagged as late joiners.
    */
  def firstSeen(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"), count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("first_ts")).as("first_us"),
        col("n_events"),
        (col("first_ts") > lit("2024-01-02 00:00:00").cast("timestamp"))
          .as("late_joiner"))
      .orderBy("user_id")

  /** #48 q_stream_tumbling — 1 h tumbling window count by event_type
    * (periodic-sweep analog, ChunkCorruptionMonitor.java:31-75). Batch
    * `window()` compiles to the identical plan a readStream would use.
    */
  def tumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n_events"))
      .orderBy("ws_us", "event_type")

  /** #49 q_stream_sliding — 10 min windows sliding every 5 min: each
    * event lands in exactly two windows (Spark expands via a generator,
    * then one shuffle on (window, type)).
    */
  def sliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n_events"))
      .orderBy("ws_us", "event_type")

  /** #50 q_stream_session — 30 min-gap session windows per user
    * (connection-lifetime shape, controller/MessageProcessor.java:33-74).
    * `session_window` is batch-capable since 3.2; start = first event,
    * sessions merge while gaps < 30 min.
    */
  def session(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("last_ts")).as("last_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")

  /** q_gap_fill — time-series densification: hourly event counts per
    * type with MISSING HOURS zero-filled (the monitoring/feature-store
    * prerequisite for any windowed model input — a silent hour must
    * appear as 0, not vanish; the reference's heartbeat-age sweep
    * assumes exactly this dense timeline when it scans for silence,
    * controller/HeartbeatMonitor.java:23-58). Shape: one aggregate
    * builds the sparse hourly counts (the only large shuffle), a 1-row
    * min/max aggregate explodes into the hour spine via `sequence`,
    * and spine × distinct-types (bounded × bounded) left-joins the
    * counts. At 100 TB the spine stays O(span-hours × types) — the
    * dense frame is output-sized, never corpus-sized.
    */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    // ONE corpus pass: the spine bounds (min/max hour) and the type dim
    // both derive from the already-aggregated hourly table — pinned
    // because three legs consume it. Deriving them from raw events
    // (the original shape) re-scanned the corpus twice more for facts
    // the metadata-sized aggregate already holds.
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .pinned()
    val spine = hourly
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    val types = hourly.select("event_type").distinct()
    spine.crossJoin(types)
      .join(hourly, Seq("hour", "event_type"), "left")
      .select(unix_micros(col("hour")).as("hour_us"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("hour_us", "event_type")
  }

  /** Session gap for batch sessionization (micros): two events of one
    * user 30+ minutes apart (gap >= this value) belong to different
    * sessions — the same half-open boundary the true-streaming
    * session_window uses (a session covers [start, last + gap), so an
    * event at exactly last + gap opens a new session).
    */
  private[graft] val SessionGapUs = 30L * 60 * 1000000

  /** q_sessionize — BATCH sessionization of the whole event log (the
    * gaps-and-islands problem): a session starts at any event whose gap
    * from the user's previous event reaches SessionGapUs (gap >= 30 min
    * starts a new session — the same half-open-window boundary Spark's
    * session_window and q_stream_session's oracle use); session_seq
    * is the per-user running count of such starts. Output is the
    * PER-EVENT session assignment (event_id → session_seq) — the join
    * key downstream enrichment attaches to raw events; the per-session
    * SUMMARY shape is q_stream_session's. This is the offline
    * backfill/reprocessing complement of the streaming session window,
    * with stable per-user sequence numbers session_window cannot give.
    * Plan: lag and the running sum share one Window spec, so the whole
    * query is ONE user_id hash exchange + one in-partition sort feeding
    * two window functions and a projection. At 100 TB the only axis
    * that matters is events-per-user (one user's history sorts in one
    * partition — the bound the stateful streaming form carries too); a
    * pathological robot user is q_skew_diagnose / salting territory.
    */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >= SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("session_seq"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** q_replay_ordered — ordered per-key event-log replay: the reference's
    * per-node FIFO command queue (controller/MessageFifoQueue.java:11-45,
    * drained in arrival order by controller/MessageSender.java:24-49)
    * re-expressed as a per-key ordered fold. State is last-writer-wins
    * (the value the reference's node would hold after draining its
    * queue): last_type/last_value at max (ts, event_id); replay_fp is an
    * order-sensitive fingerprint — md5 of the comma-joined event types in
    * (ts, event_id) order — proving the fold consumed events in FIFO
    * order, not just as a set. One shuffle on the key; per-key state is
    * one buffered event list (bounded by a key's own history, the same
    * bound the reference's in-memory queue accepts).
    */
  def replayOrdered(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        // Tiebreak key is total (ts, event_id, event_type, value): event_id
        // is unique in the fixture, but nothing upstream guarantees it, and
        // a partial order here would let Spark and the oracle disagree
        // nondeterministically on which tied event "wins".
        max_by(col("event_type"),
          struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("last_type"),
        max_by(col("value"),
          struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("last_value"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ",")).as("replay_fp"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  // ---------------------------------------------------------------------
  // #51 — true streaming surface (no oracle; MemoryStream-verified in
  // StreamingSpec, SURVEY §5.2 item 4). Not in the `queries` map:
  // streaming runtime behavior isn't a deterministic batch result
  // (SURVEY §7.4 rule 7).
  // ---------------------------------------------------------------------

  case class Heartbeat(ts: java.sql.Timestamp, node: String)
  case class NodeStatus(node: String, nHeartbeats: Long, dead: Boolean)

  /** Watermarked tumbling count — late data beyond the 10 min watermark
    * is dropped (the reference instead silently re-adds late nodes,
    * MessageProcessor.java:283-287; watermark-drop is the bounded-state
    * equivalent).
    */
  def watermarkedCounts(hb: Dataset[Heartbeat]): DataFrame =
    hb.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("node"))
      .agg(count(lit(1)).as("n"))

  /** HeartbeatMonitor semantics as stateful streaming: per-node heartbeat
    * count, and a "dead" record emitted when a node goes silent past the
    * timeout (controller/HeartbeatMonitor.java:36-45, 30 s max age).
    * ProcessingTimeTimeout because the monitor's clock is wall time, not
    * event time — exactly the reference's `new Date()` comparison.
    */
  def statefulLiveness(hb: Dataset[Heartbeat], timeoutMs: Long = 30000L): Dataset[NodeStatus] = {
    import hb.sparkSession.implicits._
    hb.groupByKey(_.node)
      .flatMapGroupsWithState[Long, NodeStatus](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (node, beats, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0L)
            state.remove()
            Iterator(NodeStatus(node, n, dead = true))
          } else {
            val n = state.getOption.getOrElse(0L) + beats.size
            state.update(n)
            state.setTimeoutDuration(timeoutMs)
            Iterator(NodeStatus(node, n, dead = false))
          }
      }
  }

  /** q_stream_session's TRUE-streaming form: session windows over an
    * unbounded heartbeat stream. Streaming `session_window` requires a
    * watermark and Append mode — a session is mergeable until the
    * watermark passes its end (last event + gap), at which point it is
    * finalized, emitted ONCE, and its state evicted: per-key state is
    * bounded by the open-session horizon, not the stream's history.
    * Same 30 min gap as the batch form, so the sf-oracle-checked plan
    * and this stateful plan compute the same sessions on the same data.
    * MemoryStream-verified in StreamingSpec; not in `queries`
    * (streaming runtime, SURVEY §7.4 rule 7).
    */
  def sessionizedStream(hb: Dataset[Heartbeat]): DataFrame =
    hb.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("node"))
      .agg(count(lit(1)).as("n"))
      .select(col("node"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"))

  /** Streaming exact dedup with watermark-bounded state — q_dedup_exact's
    * streaming form. The reference dedups chunk writes implicitly
    * (re-storing a (filename, seq) overwrites the same path,
    * storageNode/StorageNode.java write path); a streaming engine must
    * instead remember seen keys, and unbounded remembering is a state
    * leak at 100 TB. `dropDuplicatesWithinWatermark` keeps one state row
    * per key and EVICTS it once the watermark passes the key's event
    * time + delay — re-occurrences beyond the horizon re-emit (at-least-
    * once dedup, the trade every bounded-state dedup makes).
    * MemoryStream-verified in StreamingSpec; not in `queries` (streaming
    * runtime, SURVEY §7.4 rule 7).
    */
  def dedupWithinWatermark(hb: Dataset[Heartbeat]): Dataset[Heartbeat] =
    hb.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("node")

  /** Stream-stream inner join with bounded state — the
    * request/acknowledgement correlation the reference does with its
    * in-memory pending-request maps (e.g. the controller matching a
    * replication order to the storage node's later chunk-stored
    * confirmation, controller/ChunkReplicationRunnable.java:60-75 +
    * MessageProcessor's stored-ack handling). Both sides are
    * watermarked AND the join condition is time-bounded, which is what
    * lets Spark evict matched/expired rows instead of buffering both
    * streams forever — the difference between O(window) and O(stream)
    * state at 100 TB. MemoryStream-verified in StreamingSpec; not in
    * `queries` (streaming runtime, SURVEY §7.4 rule 7).
    */
  def streamStreamJoin(ping: Dataset[Heartbeat], echo: Dataset[Heartbeat]): DataFrame =
    ping.toDF("p_ts", "node").withWatermark("p_ts", "10 minutes")
      .join(echo.toDF("e_ts", "e_node").withWatermark("e_ts", "10 minutes"),
        expr("node = e_node AND e_ts BETWEEN p_ts AND p_ts + INTERVAL 5 MINUTES"))
      .select(col("node"), unix_micros(col("p_ts")).as("ping_us"),
        unix_micros(col("e_ts")).as("echo_us"))

  /** Stream-stream LEFT OUTER join with bounded state — the
    * request/TIMEOUT correlation: every ping either matches an echo
    * within the 5-minute bound (emitted immediately, like the inner
    * form) or is emitted NULL-PADDED once the watermark proves no echo
    * can still arrive. This is the streaming semantic behind every
    * "did the node ever acknowledge?" monitor — the reference detects
    * a missing ack only implicitly, by the replication order staying
    * in its pending map forever (controller/FileTable.java
    * pending-chunk bookkeeping); the outer join makes the timeout an
    * EMITTED ROW. The subtlety a spec must pin (StreamingSpec): the
    * null-padded row is emitted ONLY when eviction is certain — at the
    * watermark, not at trigger time — so outer results are late by
    * design, never speculative. Same bounded-state shape as the inner
    * join: both sides watermarked + time-bound condition ⇒ O(window)
    * state (StateBoundsSpec covers eviction on all three backends).
    */
  def streamStreamLeftJoin(ping: Dataset[Heartbeat], echo: Dataset[Heartbeat]): DataFrame =
    ping.toDF("p_ts", "node").withWatermark("p_ts", "10 minutes")
      .join(echo.toDF("e_ts", "e_node").withWatermark("e_ts", "10 minutes"),
        expr("node = e_node AND e_ts BETWEEN p_ts AND p_ts + INTERVAL 5 MINUTES"),
        "left_outer")
      .select(col("node"), unix_micros(col("p_ts")).as("ping_us"),
        unix_micros(col("e_ts")).as("echo_us")) // echo_us NULL = timed out

  /** Stream-stream FULL OUTER join with bounded state — two-way
    * reconciliation (VERDICT r15 #5, completing the inner/left family):
    * matches emit immediately like the inner form; a ping with no
    * in-bound echo emits null-padded on the echo side (the timeout,
    * same as the left form); an echo with no ping emits null-padded on
    * the PING side — the "unsolicited ack" the one-directional monitor
    * can never surface. This is the shape of the controller's
    * order-vs-stored-ack bookkeeping run in BOTH directions at once
    * (an order never acknowledged AND an ack never ordered are both
    * incidents; reference controller/FileTable.java pending-chunk map +
    * MessageProcessor's stored-ack handling). Both unmatched emissions
    * happen ONLY at the watermark — eviction time, when no partner can
    * still arrive — never speculatively at trigger time (the left-form
    * rule, now pinned on both sides in StreamingSpec). Same bounded
    * state as the inner join: both sides watermarked + time-bound
    * condition ⇒ O(window) buffers (StateBoundsSpec, 3 backends).
    */
  def streamStreamFullJoin(ping: Dataset[Heartbeat], echo: Dataset[Heartbeat]): DataFrame =
    ping.toDF("p_ts", "node").withWatermark("p_ts", "10 minutes")
      .join(echo.toDF("e_ts", "e_node").withWatermark("e_ts", "10 minutes"),
        expr("node = e_node AND e_ts BETWEEN p_ts AND p_ts + INTERVAL 5 MINUTES"),
        "full_outer")
      .select(coalesce(col("node"), col("e_node")).as("node"),
        unix_micros(col("p_ts")).as("ping_us"),  // NULL = unsolicited echo
        unix_micros(col("e_ts")).as("echo_us"))  // NULL = timed-out ping

  /** foreachBatch upsert sink: maintains a per-node latest-heartbeat
    * parquet snapshot (the reference's `heartbeats.put(node, date)` map,
    * controller/MessageProcessor.java:283-287, as a durable table).
    * The merge is read-snapshot ∪ batch → max(ts) per node — an
    * IDEMPOTENT restatement, so replaying a micro-batch after a crash
    * yields the same snapshot: the exactly-once recipe over an
    * at-least-once engine. The merged snapshot is written to a FRESH
    * temp directory and swapped in via a BACKUP-RENAME protocol —
    * never overwrite-in-place (an in-place overwrite deletes the very
    * files the merge plan reads from, and a cache() barrier is not
    * reliable: evicted blocks or a lost executor after count()
    * recompute from the deleted directory). Swap order: old snapshot
    * RENAMES to .bak (never deleted first), temp renames in, then the
    * backup is dropped — a crash at ANY point leaves the full previous
    * state in either the snapshot or the backup, and the next batch's
    * read prefers snapshot-then-backup, so no key's state is ever
    * lost. The fully transactional form is a pointer swap or a
    * transactional table format.
    */
  def latestSnapshotSink(hb: Dataset[Heartbeat], dir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    hb.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[Heartbeat], batchId: Long) =>
        mergeLatestSnapshot(batch, dir, batchId)
      }
      .start()

  /** The sink's per-batch merge, callable from any foreachBatch wiring
    * (LiveIngest's file-tail pipeline reuses it verbatim — same
    * idempotent restatement, same backup-rename swap).
    */
  def mergeLatestSnapshot(batch: Dataset[Heartbeat], dir: String, batchId: Long): Unit = {
        val s = batch.sparkSession
        val incoming = batch.groupBy(col("node")).agg(max(col("ts")).as("ts"))
        // existence probed through the Hadoop FS API, not java.io.File: the
        // snapshot dir may be hdfs://…/s3a://… where a local-File check is
        // always false and would silently drop the prior snapshot each batch
        val snapPath = new org.apache.hadoop.fs.Path(dir)
        val bakPath = new org.apache.hadoop.fs.Path(dir + ".bak")
        val fs = snapPath.getFileSystem(s.sessionState.newHadoopConf())
        // crash recovery: the snapshot, or the backup a crashed swap left
        val prevDir =
          if (fs.exists(snapPath)) Some(dir)
          else if (fs.exists(bakPath)) Some(bakPath.toString)
          else None
        val prev = prevDir
          .map(p => ParquetMeta.read(s, p).select("node", "ts"))
          .getOrElse(incoming.limit(0))
        val merged = prev.unionByName(incoming)
          .groupBy("node").agg(max(col("ts")).as("ts"))
        // orphan sweep: a crash between tmp-write and swap leaves
        // .tmp-<id> dirs that nothing ever reads (recovery only considers
        // snap/.bak), and a restarted query's batch ids reset to 0 so a
        // prior run's higher-id tmp would never be overwritten — without
        // this they accumulate snapshot-sized, unbounded
        fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".tmp-*"))
          .foreach(st => fs.delete(st.getPath, true))
        // write reads old dir, writes temp — no self-overwrite, no barrier
        val tmpPath = new org.apache.hadoop.fs.Path(dir + s".tmp-$batchId")
        merged.write.mode("overwrite").parquet(tmpPath.toString)
        // swap: old -> .bak (keep), tmp -> snapshot, then drop .bak.
        // The stale-bak pre-delete happens ONLY under a live snapshot:
        // when this batch is itself recovering from .bak (snap absent),
        // the bak IS the state — deleting it before tmp becomes the
        // snapshot would leave a crash window with no durable copy at
        // all (crash here = every node's heartbeat silently gone).
        if (fs.exists(snapPath)) {
          if (fs.exists(bakPath)) fs.delete(bakPath, true)
          if (!fs.rename(snapPath, bakPath))
            throw new java.io.IOException(s"snapshot backup $snapPath -> $bakPath failed")
        }
        if (!fs.rename(tmpPath, snapPath))
          throw new java.io.IOException(s"snapshot swap $tmpPath -> $snapPath failed")
        fs.delete(bakPath, true)
        ()
  }

  /** Funnel stage order for q_funnel (each stage's first event must
    * come strictly AFTER the previous stage's).
    */
  private[graft] val FunnelStages = Seq("view", "click", "purchase")

  /** q_funnel — ordered conversion funnel over the event stream: how
    * many users produced a view, then a click strictly after it, then a
    * purchase strictly after that. The ORDER is the semantics — a
    * purchase before the click must not count — which is what separates
    * a funnel from three independent counts. Scale shape: ONE user-keyed
    * exchange; the three stage timestamps are conditional-min windows
    * over the same partitioning (Catalyst evaluates the dependent
    * windows without re-shuffling), then a single global count row
    * unpivoted to (stage, n_users). No self-joins — the naive
    * events×events-per-stage formulation (the oracle keeps it) shuffles
    * the stream once per stage.
    */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val staged = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t1",
        min(when(col("event_type") === FunnelStages(0), col("us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === FunnelStages(1) && col("us") > col("t1"),
          col("us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === FunnelStages(2) && col("us") > col("t2"),
          col("us"))).over(w))
    staged.agg(
      count_distinct(when(col("t1").isNotNull, col("user_id"))).as("n1"),
      count_distinct(when(col("t2").isNotNull, col("user_id"))).as("n2"),
      count_distinct(when(col("t3").isNotNull, col("user_id"))).as("n3"))
      .select(expr("stack(3, " +
        s"'1_${FunnelStages(0)}', n1, '2_${FunnelStages(1)}', n2, " +
        s"'3_${FunnelStages(2)}', n3) AS (stage, n_users)"))
      .orderBy("stage")
  }

  /** q_retention — cohort retention matrix: users grouped by their
    * first-activity day, counted on each later active day as an offset
    * from the cohort day. THE product-health query over an event
    * stream. Scale shape: the (user, day) distinct activity set is the
    * only corpus-sized aggregate (one exchange, map-side combining);
    * it is localCheckpoint-pinned for its two consumers (cohort min +
    * offset join), and everything after is activity-set-sized. The
    * count per (cohort, offset) needs no DISTINCT — activity rows are
    * already unique per (user, day).
    */
  def retention(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
      .pinned()
    val first = act.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    act.join(first, Seq("user_id"))
      .select(col("cohort_day"),
        expr("CAST(datediff(day, cohort_day) AS BIGINT)").as("day_offset"))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_liveness"   -> (liveness _),
    "q_stream_first_seen" -> (firstSeen _),
    "q_stream_tumbling"   -> (tumbling _),
    "q_stream_sliding"    -> (sliding _),
    "q_stream_session"    -> (session _),
    "q_replay_ordered"    -> (replayOrdered _),
    "q_gap_fill"          -> (gapFill _),
    "q_sessionize"        -> (sessionize _),
    "q_funnel"            -> (funnel _),
    "q_retention"         -> (retention _),
  )

  // Texts shared by the oracle and the Spark-SQL surface; `us` is the
  // dialect's epoch-micros function (DuckDB epoch_us, Spark unix_micros).
  private def firstSeenSql(us: String) =
    s"SELECT user_id, $us(min(ts)) AS first_us, count(*) AS n_events, " +
      "min(ts) > TIMESTAMP '2024-01-02 00:00:00' AS late_joiner " +
      "FROM events GROUP BY user_id ORDER BY user_id"
  private def funnelSql(us: String) =
    s"WITH s1 AS (SELECT user_id, min(CASE WHEN event_type = '${FunnelStages(0)}' " +
      s"THEN $us(ts) END) AS t1 FROM events GROUP BY user_id), " +
      s"s2 AS (SELECT e.user_id, min(CASE WHEN e.event_type = '${FunnelStages(1)}' " +
      s"AND $us(e.ts) > s1.t1 THEN $us(e.ts) END) AS t2 " +
      "FROM events e JOIN s1 ON s1.user_id = e.user_id GROUP BY e.user_id), " +
      s"s3 AS (SELECT e.user_id, min(CASE WHEN e.event_type = '${FunnelStages(2)}' " +
      s"AND $us(e.ts) > s2.t2 THEN $us(e.ts) END) AS t3 " +
      "FROM events e JOIN s2 ON s2.user_id = e.user_id GROUP BY e.user_id), " +
      "n AS (SELECT (SELECT count(*) FROM s1 WHERE t1 IS NOT NULL) AS n1, " +
      "(SELECT count(*) FROM s2 WHERE t2 IS NOT NULL) AS n2, " +
      "(SELECT count(*) FROM s3 WHERE t3 IS NOT NULL) AS n3) " +
      s"SELECT '1_${FunnelStages(0)}' AS stage, n1 AS n_users FROM n " +
      s"UNION ALL SELECT '2_${FunnelStages(1)}', n2 FROM n " +
      s"UNION ALL SELECT '3_${FunnelStages(2)}', n3 FROM n ORDER BY stage"

  val oracle: Map[String, String] = Map(
    "q_stream_liveness" ->
      ("SELECT user_id, epoch_us(max(ts)) AS last_us, " +
        s"date_diff('second', max(ts), TIMESTAMP '$cutoff') AS age_s, " +
        s"CASE WHEN date_diff('second', max(ts), TIMESTAMP '$cutoff') > 604800 " +
        "THEN 'dead' ELSE 'alive' END AS status " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    "q_stream_first_seen" -> firstSeenSql("epoch_us"),
    "q_stream_tumbling" ->
      ("SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us, " +
        "event_type, count(*) AS n_events " +
        "FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type"),
    "q_stream_sliding" ->
      ("SELECT ws_us, event_type, count(*) AS n_events FROM (" +
        "SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS ws_us, event_type FROM events " +
        "UNION ALL " +
        "SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts, INTERVAL '5 minutes')) AS ws_us, event_type FROM events" +
        ") GROUP BY ws_us, event_type ORDER BY ws_us, event_type"),
    "q_replay_ordered" ->
      ("WITH ordered AS (SELECT user_id, ts, event_id, event_type, value, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts DESC, event_id DESC, event_type DESC, value DESC) AS rn " +
        "FROM events) " +
        "SELECT user_id, " +
        "max(CASE WHEN rn = 1 THEN event_type END) AS last_type, " +
        "max(CASE WHEN rn = 1 THEN value END) AS last_value, " +
        "md5(string_agg(event_type, ',' ORDER BY ts, event_id, event_type)) AS replay_fp, " +
        "count(*) AS n_events " +
        "FROM ordered GROUP BY user_id ORDER BY user_id"),
    "q_stream_session" ->
      ("WITH flagged AS (SELECT user_id, ts, CASE WHEN " +
        // exact-micros gap, NOT date_diff('second', …): date_diff counts
        // second-BOUNDARY crossings, so a 1799.x-second real gap that
        // straddles a boundary reads as 1800 and splits where Spark's
        // session_window (exact event-time arithmetic) merges — caught
        // by the round-8 sf0.1 sweep, invisible at the sf0.01 gate
        "epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000 " +
        "OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_s " +
        "FROM events), numbered AS (SELECT user_id, ts, " +
        "sum(new_s) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flagged) " +
        "SELECT user_id, epoch_us(min(ts)) AS session_start_us, " +
        "epoch_us(max(ts)) AS last_us, count(*) AS n_events " +
        "FROM numbered GROUP BY user_id, sid " +
        "ORDER BY user_id, session_start_us"),
    "q_gap_fill" ->
      ("WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type, " +
        "count(*) AS n_events FROM events GROUP BY 1, 2), " +
        "span AS (SELECT date_trunc('hour', min(ts)) AS h0, " +
        "date_trunc('hour', max(ts)) AS h1 FROM events), " +
        "spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span), " +
        "types AS (SELECT DISTINCT event_type FROM events) " +
        "SELECT epoch_us(spine.hour) AS hour_us, types.event_type, " +
        "COALESCE(hourly.n_events, 0) AS n_events " +
        "FROM (spine CROSS JOIN types) LEFT JOIN hourly " +
        "ON hourly.hour = spine.hour AND hourly.event_type = types.event_type " +
        "ORDER BY hour_us, types.event_type"),
    "q_sessionize" ->
      (s"WITH e AS (SELECT user_id, event_id, ts, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "n AS (SELECT user_id, event_id, ts, CASE WHEN prev IS NULL " +
        s"OR epoch_us(ts) - epoch_us(prev) >= ${Streaming.SessionGapUs} THEN 1 ELSE 0 END AS is_new FROM e) " +
        "SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq " +
        "FROM n ORDER BY user_id, ts_us, event_id"),
    // per-stage join formulation — independent of the Spark side's
    // single-shuffle dependent-window form
    "q_funnel" -> funnelSql("epoch_us"),
    "q_retention" ->
      ("WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "f AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id) " +
        "SELECT f.cohort_day, " +
        "CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset, " +
        "count(*) AS n_users " +
        "FROM act a JOIN f ON f.user_id = a.user_id " +
        "GROUP BY 1, 2 ORDER BY cohort_day, day_offset"),
  )

  /** Spark-dialect SQL surface overrides (SqlSurface). time_bucket →
    * the native window()/session_window() table-valued grouping
    * expressions — the same constructs the DataFrame builders compile
    * to, usable directly from SQL text; epoch_us → unix_micros;
    * date_diff('second',…) → unix_timestamp deltas; string_agg(…
    * ORDER BY) → md5 over a sort_array'd collect_list.
    */
  val sparkSql: Map[String, String] = Map(
    "q_stream_liveness" ->
      (s"SELECT user_id, unix_micros(max(ts)) AS last_us, " +
        s"unix_timestamp(TIMESTAMP '$cutoff') - unix_timestamp(max(ts)) AS age_s, " +
        s"CASE WHEN unix_timestamp(TIMESTAMP '$cutoff') - unix_timestamp(max(ts)) > 604800 " +
        "THEN 'dead' ELSE 'alive' END AS status " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    "q_stream_first_seen" -> firstSeenSql("unix_micros"),
    "q_stream_tumbling" ->
      ("SELECT unix_micros(window.start) AS ws_us, event_type, count(*) AS n_events " +
        "FROM events GROUP BY window(ts, '1 hour'), event_type ORDER BY ws_us, event_type"),
    "q_stream_sliding" ->
      ("SELECT unix_micros(window.start) AS ws_us, event_type, count(*) AS n_events " +
        "FROM events GROUP BY window(ts, '10 minutes', '5 minutes'), event_type " +
        "ORDER BY ws_us, event_type"),
    "q_stream_session" ->
      ("SELECT user_id, unix_micros(session_window.start) AS session_start_us, " +
        "unix_micros(max(ts)) AS last_us, count(*) AS n_events " +
        "FROM events GROUP BY session_window(ts, '30 minutes'), user_id " +
        "ORDER BY user_id, session_start_us"),
    "q_gap_fill" ->
      ("WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events " +
        "FROM events GROUP BY 1, 2), " +
        "span AS (SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events), " +
        "spine AS (SELECT explode(sequence(h0, h1, interval 1 hour)) AS hour FROM span), " +
        "types AS (SELECT DISTINCT event_type FROM events) " +
        "SELECT unix_micros(spine.hour) AS hour_us, types.event_type, " +
        "COALESCE(hourly.n_events, CAST(0 AS BIGINT)) AS n_events " +
        "FROM (spine CROSS JOIN types) LEFT JOIN hourly " +
        "ON hourly.hour = spine.hour AND hourly.event_type = types.event_type " +
        "ORDER BY hour_us, types.event_type"),
    "q_replay_ordered" ->
      ("SELECT user_id, " +
        "max_by(event_type, struct(ts, event_id, event_type, value)) AS last_type, " +
        "max_by(value, struct(ts, event_id, event_type, value)) AS last_value, " +
        "md5(array_join(transform(sort_array(collect_list(struct(ts, event_id, event_type))), " +
        "x -> x.event_type), ',')) AS replay_fp, " +
        "count(*) AS n_events " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    "q_sessionize" ->
      (s"WITH e AS (SELECT user_id, event_id, ts, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "n AS (SELECT user_id, event_id, ts, CASE WHEN prev IS NULL " +
        s"OR unix_micros(ts) - unix_micros(prev) >= ${Streaming.SessionGapUs} THEN 1 ELSE 0 END AS is_new FROM e) " +
        "SELECT event_id, user_id, unix_micros(ts) AS ts_us, " +
        "sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq " +
        "FROM n ORDER BY user_id, ts_us, event_id"),
    "q_funnel" -> funnelSql("unix_micros"),
    "q_retention" ->
      ("WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "f AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id) " +
        "SELECT f.cohort_day, " +
        "CAST(datediff(a.day, f.cohort_day) AS BIGINT) AS day_offset, " +
        "count(*) AS n_users " +
        "FROM act a JOIN f ON f.user_id = a.user_id " +
        "GROUP BY f.cohort_day, CAST(datediff(a.day, f.cohort_day) AS BIGINT) " +
        "ORDER BY cohort_day, day_offset"),
  )
}

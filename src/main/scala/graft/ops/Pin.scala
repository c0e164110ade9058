package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Materialize-and-cut-lineage: an eager checkpoint of a subtree,
  * whose blocks no code here releases (Spark's ContextCleaner drops
  * them once the pinned frame is garbage-collected). A site keeps a
  * pin only for one of these reasons, named in a comment beside it:
  *   (a) it cuts the lineage of a loop, so each round reads a
  *       materialized input instead of replaying every earlier round
  *       (ccLabels' label propagation, the BPE merge loop);
  *   (b) a [[graft.SessionMemo]] owns it for reuse across queries (the
  *       substring window tables);
  *   (c) its subtree is nondeterministic and read twice, so both reads
  *       must see one materialization;
  *   (d) its consumers cannot share one run of the subtree, and a
  *       same-context A/B shows that dropping the pin loses.
  * Otherwise the consumers form ONE plan: Spark plans the DataFrame
  * whole and reuses an exchange every leg reads (`ReusedExchange`) once
  * the legs carry the same projection and the same filters (an explicit
  * filter where a join would infer one on a single leg, `<=>` where the
  * inferred one would change a result); a count joined back becomes a
  * window; an emptiness probe folds into the plan; a figure a write
  * needs is observed during the write (`Dataset.observe`). PlanShapeSpec
  * counts the source scans of the queries whose pins were dropped.
  *
  * Sites in src/main, counted by PinInventorySpec: 10. (a) 6: ccLabels'
  * edges and round labels (3), the BPE loop's words, winner and state
  * (3); (b) 2: substringWindows and substringDistinctMemo; (d) 2:
  * Dedup.sourceOverlap's (source, shingle) set, whose one-plan form
  * (per-shingle source lists) lost the sf0.1 A/B, and
  * Multimodal.dedupPhashCore, the spec-only phash helper, whose four
  * legs read a decode+hash MapPartitions with no exchange to share.
  *
  * Each pinned RDD is named `pin <file>:<line>` after its call site (the
  * line the call's argument ends on), so Bench's end-of-pass storage
  * listing says which site holds what.
  *
  * `localCheckpoint` keeps the blocks in executor memory with no
  * filesystem round-trip, but they die with their executor: on a real
  * cluster a lost node would kill the job (no lineage left to recover
  * from). `pin` therefore takes `localCheckpoint` only under a
  * `local`/`local[...]` master, where every block lives in the one
  * driver JVM, and a RELIABLE checkpoint (HDFS/object-store-backed,
  * survives executor loss) under any other master, `local-cluster[...]`
  * included; the checkpoint dir falls back to `spark.graft.pinDir`
  * (default under java.io.tmpdir) when the session has not set one.
  */
object Pin {

  def pin(df: DataFrame): DataFrame =
    pin(df, reliable = !df.sparkSession.sparkContext.isLocal)

  private[graft] def pin(df: DataFrame, reliable: Boolean): DataFrame = {
    val s = df.sparkSession
    val sc = s.sparkContext
    val pinned = if (!reliable) df.localCheckpoint() else {
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(s.conf.getOption("spark.graft.pinDir")
          .getOrElse(s"${sys.props("java.io.tmpdir")}/graft-pin"))
      // persist first: Dataset.checkpoint(eager) materializes with one
      // job and then ReliableRDDCheckpointData RE-EXECUTES the lineage
      // to write the checkpoint files — uncached, every reliable pin
      // would compute its expensive subtree twice (Spark's documented
      // recompute-unless-persisted checkpoint behavior). The cache is
      // dropped once the checkpoint files are the source of truth —
      // but ONLY if this call created it: unpersisting a plan the
      // caller had already cached would silently drop the caller's
      // cache entry as a side effect of pinning.
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        df.checkpoint()
      else {
        val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cached.checkpoint()
        finally cached.unpersist(blocking = false)
      }
    }
    val at = callSite()
    pinned.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.setName(s"pin $at")
      case _ =>
    }
    pinned
  }

  /** `File.scala:line` of the first frame outside this object. */
  private def callSite(): String =
    Thread.currentThread.getStackTrace.iterator
      .find(f => f.getClassName.startsWith("graft.") && !f.getClassName.startsWith("graft.ops.Pin"))
      .fold("?")(f => s"${f.getFileName}:${f.getLineNumber}")

  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pinned(): DataFrame = pin(df)
  }
}

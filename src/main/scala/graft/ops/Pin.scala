package graft.ops

import org.apache.spark.sql.DataFrame

/** Materialize-and-cut-lineage for multi-consumer subtrees.
  *
  * Several pipelines here fan one expensive subtree (window hashes,
  * LSH signatures, decode output) into 2–4 plan legs; without a
  * materialization each leg re-executes the subtree. `localCheckpoint`
  * is the right call at the declared bench target (local[32]): blocks
  * live in executor memory, no filesystem round-trip — but its blocks
  * die with their executor, so on a real cluster a lost node would
  * kill the job (no lineage left to recover from). `pinned()` keeps
  * the fast path under a `local`/`local[...]` master, where every block
  * lives in the one driver JVM, and switches to a RELIABLE checkpoint
  * (HDFS/object-store-backed, survives executor loss) under any other
  * master, `local-cluster[...]` included; the checkpoint dir falls back
  * to `spark.graft.pinDir` (default under java.io.tmpdir) when the
  * session has not set one.
  */
object Pin {

  def pin(df: DataFrame): DataFrame =
    pin(df, reliable = !df.sparkSession.sparkContext.isLocal)

  private[graft] def pin(df: DataFrame, reliable: Boolean): DataFrame = {
    val s = df.sparkSession
    val sc = s.sparkContext
    if (!reliable) df.localCheckpoint()
    else {
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
  }

  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pinned(): DataFrame = pin(df)
  }
}

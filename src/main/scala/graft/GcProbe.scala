package graft

/** Command-line entry for the abandoned-dataset orphan GC — the same
  * sweep `CALL graft.gc_orphans(ttl_ms)` runs, invokable from a cron
  * or a round receipt without a SQL session:
  *
  *   sbt "runMain graft.GcProbe [ttl_ms]"
  *
  * Prints one `[gc] <action> <family> <path>` line per touched entry
  * and a one-line summary. ttl_ms defaults to the generation-GC
  * window; 0 reclaims anything already tombstoned by a previous pass
  * (the two-phase protocol still requires that earlier pass — a
  * single ttl=0 invocation only tombstones).
  */
object GcProbe {
  def main(args: Array[String]): Unit = {
    val ttl = args.headOption.map(_.toLong)
      .getOrElse(ops.Derived.generationTtlMs)
    val spark = Sessions.build("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val rows = ops.Derived.gcOrphans(spark, ops.Procedures.artifactFamilies, ttl)
      rows.foreach { case (f, p, a) => println(s"[gc] $a $f $p") }
      val by = rows.groupBy(_._3).view.mapValues(_.size).toMap
      println(s"[gc] summary ttl_ms=$ttl " +
        s"tombstoned=${by.getOrElse("tombstoned", 0)} " +
        s"pending=${by.getOrElse("pending", 0)} " +
        s"reclaimed=${by.getOrElse("reclaimed", 0)}")
    } finally spark.stop()
  }
}

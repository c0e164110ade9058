package graft

/** Dev tool: print the formatted physical plan for one (or every) query
  * and time N executions — the `.explain`-and-iterate loop SURVEY §4
  * prescribes. Usage:
  *   sbt "runMain graft.Explain <queryName[,name2,...]|ALL> [sfDir] [iters]"
  * GRAFT_PLAN_DIR=<dir> additionally writes each named query's
  * `.explain("formatted")` output to <dir>/<name>_<GRAFT_PLAN_TAG>.txt —
  * the optimization-round evidence files (plans/r20/..._before/after).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("ALL")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val iters = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build(s"local[$cpus]", cpus.toInt)
    val targets =
      if (name == "ALL") SparkEntry.queries.toSeq.sortBy(_._1)
      else name.split(",").map(_.trim).toSeq.map(n => n -> SparkEntry.queries(n))
    val planDir = sys.env.get("GRAFT_PLAN_DIR")
    val planTag = sys.env.getOrElse("GRAFT_PLAN_TAG", "before")
    targets.foreach { case (n, fn) =>
      val df = fn(spark, sfDir)
      if (name != "ALL") df.explain("formatted")
      planDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/${n}_$planTag.txt"),
          formatted.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      // scale red flags: a cartesian product is always a bug; sort-based
      // aggregation and one-partition exchanges deserve a justification
      // (some are inherent: string/struct agg buffers, global sorts)
      val plan = df.queryExecution.executedPlan.toString
      val flags = Seq(
        "CartesianProduct" -> "CARTESIAN",
        "SortAggregate" -> "sort-agg",
        "SinglePartition" -> "1-partition").collect {
        case (marker, label) if plan.contains(marker) => label
      }
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        df.count()
        (System.nanoTime() - t0) / 1e9
      }
      val flagStr = if (flags.isEmpty) "" else flags.mkString("  [", ",", "]")
      println(f"[explain] $n%-28s ${times.map(t => f"$t%.2f").mkString(" ")}s$flagStr")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every entry point uses (Bench, Verify,
  * Probe, the test session). A caller states only what
  * differs for it — master, shuffle partitions, extra confs — and the
  * conf decision itself is the pure, ordered list `confs` returns:
  * common confs, then local-cluster executor wiring, then the caller's
  * extras, so an extra always wins over a common conf.
  */
object Sessions {

  /** The JDK-17 module opens Spark 4 needs when a JVM is created outside
    * spark-submit — same list as build.sbt's jdk17AddOpens (a
    * local-cluster run dies on InaccessibleObject errors if one is
    * missing).
    */
  private val Jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  /** Confs every session gets. */
  def commonConfs(partitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // events.parquet has TIMESTAMP(NANOS) — read as long, converted in
    // Tables.events (same micros truncation DuckDB applies)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // write int64 micros (not legacy INT96) so DuckDB reads timestamps
    // back exactly as Spark computed them
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.ui.enabled" -> "false",
    // serves CALL graft.<procedure>(...) through Spark's CALL
    "spark.sql.catalog.graft" -> classOf[graft.ops.Procedures].getName,
    "spark.sql.shuffle.partitions" -> partitions.toString)

  /** Executor-process wiring for a `local-cluster[workers,cores,memMB]`
    * master, which launches each executor as a separate JVM. sbt does
    * not fork those, so they inherit neither the classpath nor the
    * JDK-17 opens: executors get the launching JVM's exact classpath
    * (spark jars + compiled classes + test deps — precisely what they
    * must deserialize against) and the module-opens flags. Empty for
    * local[n] masters.
    */
  private def masterConfs(master: String): Seq[(String, String)] =
    if (!master.startsWith("local-cluster")) Nil
    else Seq(
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      // no -Dspark.* here — SparkConf.validateSettings rejects Spark
      // options inside executor extraJavaOptions
      "spark.executor.extraJavaOptions" -> Jdk17AddOpens.mkString(" "),
      "spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "6g"))

  /** The ordered conf list a session is built from; later pairs win. */
  def confs(master: String, partitions: Int,
      extra: Seq[(String, String)]): Seq[(String, String)] =
    commonConfs(partitions) ++ masterConfs(master) ++ extra

  /** `"k=v;k2=v2"` → pairs; the value keeps any further `=`, and an
    * entry without `=` is dropped. The format of SPARK_GRAFT_EXTRA_CONF,
    * which carries session confs into a forked JVM where SBT_OPTS -D
    * does not reach.
    */
  def parseConfList(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }

  /** A ready session: `confs` applied in order, the native functions
    * and optimizer rule registered, log level WARN.
    */
  def build(master: String, partitions: Int,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val spark = SparkSession.builder().master(master)
      .config(confs(master, partitions, extra).toMap).getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM (Test / fork := true),
  * built by the same `Sessions.build` as Verify so specs see the plans
  * the correctness gate sees.
  */
object SparkTestSession {

  private val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The test session's confs beyond the common set.
    *
    * GRAFT_TEST_STATESTORE=rocksdb runs every stateful streaming spec on
    * RocksDBStateStoreProvider (the backend a deployment swaps in when
    * in-memory state commits become the bottleneck); `rocksdb-changelog`
    * adds changelog checkpointing, so per-batch uploads become the delta
    * log instead of full SST snapshots; any other value is taken as a
    * provider class name.
    */
  def extraConfs(env: Map[String, String]): Seq[(String, String)] =
    Seq(
      // full production registration (native functions + optimizer
      // rule) — the extensions path a deployment configures;
      // Sessions.build's ensureRegistered stays as the idempotent path
      // for sessions built without it. CALL graft.<procedure> needs no
      // extension: the common confs register the procedure catalog
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.streaming.checkpointLocation" ->
        s"/tmp/graft-test-ckpt-${java.util.UUID.randomUUID()}",
      "spark.sql.warehouse.dir" ->
        s"/tmp/graft-test-warehouse-${java.util.UUID.randomUUID()}") ++
      env.get("GRAFT_TEST_STATESTORE").toSeq.flatMap {
        case "rocksdb" => Seq(StateStoreProvider -> RocksDb)
        case "rocksdb-changelog" => Seq(StateStoreProvider -> RocksDb,
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
        case other => Seq(StateStoreProvider -> other)
      }

  // GRAFT_TEST_MASTER=local-cluster[2,4,8192] runs the whole suite
  // against real executor JVMs, with every pin() on the reliable
  // checkpoint path (Pin picks it for any non-local master). The default local[4,2] is 4 threads with
  // spark.task.maxFailures=2 (local[n] alone is retryless, unlike any
  // real cluster): RetryStabilitySpec injects genuine first-attempt task
  // failures, and every other spec runs under the cluster failure model
  // (a deterministically failing task still fails its job, after one
  // retry, so no failure is masked).
  lazy val spark: SparkSession = Sessions.build(
    sys.env.getOrElse("GRAFT_TEST_MASTER", "local[4,2]"), 4, extraConfs(sys.env))

  val sf0001 = "/root/testdata/sf0.001"

  /** The sf0.01 fixture beside [[sf0001]]. */
  val sf001 = s"${new java.io.File(sf0001).getParent}/sf0.01"

  /** `body`'s result and the number of Spark jobs it launched from this
    * thread. A marker job in its own group runs after `body`; the
    * listener bus delivers events in order, so once the marker's start
    * is seen every job of `body` has been counted.
    */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => n.incrementAndGet()
          case Some(`marker`) => seen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Orphan GC for abandoned datasets (VERDICT r19 missing #1): every
  * other sweep in the artifact lifecycle runs when its dataset is
  * TOUCHED, so a deleted corpus's entries in the family stores leaked
  * forever. `Derived.gcOrphans` (surfaced as `CALL graft.gc_orphans`)
  * must reclaim exactly the entries whose recorded source is gone —
  * two-phase (tombstone, then TTL-aged reclaim) so an in-flight reader
  * of a just-deleted dataset drains first — while a live dataset's
  * entries, in the very same family dirs, are untouched. Reference
  * analogue: the node-offline cascade cleanup
  * (controller/FileTable.java:59-97).
  */
class GcOrphansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A miniature but COMPLETE dataset: documents + embeddings +
    * lineitem, enough rows for every family's build (IVF needs ≥
    * IvfNlist seed vectors; winnow needs multi-token docs).
    */
  private def mkDataset(salt: Int): String = {
    import spark.implicits._
    val d = s"/tmp/graft-test-gcorph-$salt-${java.util.UUID.randomUUID()}"
    (0L until 30L).map { i =>
      val t = s"doc $i word${(i + salt) % 5} word${(i * 3 + salt) % 11} tail$i end"
      (i, t, "en", s"src${i % 3}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val rnd = new scala.util.Random(salt)
    (0 until 300).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1), i % 10))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    (0L until 12L).map(f => (f, 100L + f % 7, 200L + f % 11, 1L,
        java.sql.Timestamp.valueOf("1995-01-11 00:00:00"), 1.0))
      .toDF("l_orderkey", "l_suppkey", "l_partkey", "l_linenumber",
        "l_shipdate", "l_quantity")
      .coalesce(1).write.parquet(s"$d/lineitem.parquet")
    d
  }

  /** One ensure per family in Procedures.artifactFamilies — the pin
    * that the GC's sweep surface covers every store the engine writes.
    */
  private def buildAll(d: String): Unit = {
    ops.Storage.ensureZoneMap(spark, d)
    ops.Storage.ensureZoneMapMerged(spark, d)
    ops.Storage.ensureBloomIndex(spark, d)
    ops.LlmPipeline.ensureNgramPostings(spark, d)
    ops.LlmPipeline.ensureMinhashBanded(spark, d)
    ops.LlmPipeline.ensureSimhashSig(spark, d)
    ops.LlmPipeline.ensureEmbedBucketed(spark, d)
    ops.LlmPipeline.ensureWinnowFps(spark, d)
    ops.LlmPipeline.ensureIvfIndex(spark, d)
    ops.LlmPipeline.ensureJsonlExport(spark, d)
    ops.Multimodal.ensurePhashTable(spark, d)
    graft.sources.MediaFixtures.tablePath(spark, d)
    graft.sources.MediaFixtures.volumeTablePath(spark, d, 20L)
  }

  private def label(d: String): String =
    ops.Derived.labelFor(s"$d/documents.parquet")

  /** This dataset's visible entries in one family store. */
  private def entries(family: String, d: String): Seq[String] = {
    val fam = new org.apache.hadoop.fs.Path(ops.Derived.familyDir(family))
    if (!fs.exists(fam)) Seq.empty
    else fs.listStatus(fam).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(label(d) + "_") &&
        !n.contains(".build-") && !n.contains(".old-"))
  }

  test("two-phase GC reclaims ONLY the deleted dataset's entries across every family") {
    val a = mkDataset(1); val b = mkDataset(2)
    buildAll(a); buildAll(b)
    val fams = ops.Procedures.artifactFamilies
    fams.foreach(f => assert(entries(f, a).nonEmpty,
      s"fixture gap: no $f entry for dataset A"))
    // the converse: no family store the ensures wrote is missing from
    // the sweep list (a missing one leaks every abandoned dataset)
    val holding = fs.listStatus(new org.apache.hadoop.fs.Path(sys.props("java.io.tmpdir")))
      .toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(f => scala.util.Try(entries(f, a).nonEmpty).getOrElse(false))
    assert(holding.filterNot(fams.contains).isEmpty,
      s"family stores with dataset A entries missing from artifactFamilies: " +
        holding.filterNot(fams.contains).sorted)
    val aNgram = ops.LlmPipeline.ensureNgramPostings(spark, a)
    val bNgram = ops.LlmPipeline.ensureNgramPostings(spark, b)
    fs.delete(new org.apache.hadoop.fs.Path(a), true)

    // phase 1 (default TTL): the orphan is OBSERVED, not deleted — an
    // in-flight reader of the just-deleted dataset keeps its files
    val r1 = ops.Derived.gcOrphans(spark, fams)
    val mine1 = r1.filter(_._2.contains(label(a)))
    assert(mine1.nonEmpty && mine1.forall(_._3 == "tombstoned"),
      s"first pass must only tombstone: $mine1")
    assert(mine1.map(_._1).toSet == fams.toSet,
      s"every family's A-entry observed: ${mine1.map(_._1).sorted}")
    assert(!r1.exists(_._2.contains(label(b))),
      s"the live dataset must not be touched: ${r1.filter(_._2.contains(label(b)))}")
    assert(spark.read.parquet(aNgram).count() > 0,
      "in-flight reader of the deleted dataset survives the grace window")

    // a repeat pass inside the TTL window reports pending, deletes nothing
    val r1b = ops.Derived.gcOrphans(spark, fams)
    assert(r1b.filter(_._2.contains(label(a))).forall(_._3 == "pending"))
    fams.foreach(f => assert(entries(f, a).nonEmpty, s"$f swept inside the TTL"))

    // phase 2 (TTL elapsed): reclaim — exactly the orphan entries
    val r2 = ops.Derived.gcOrphans(spark, fams, ttlMs = 0L)
    val mine2 = r2.filter(_._2.contains(label(a)))
    assert(mine2.nonEmpty && mine2.forall(_._3 == "reclaimed"), s"$mine2")
    fams.foreach { f =>
      assert(entries(f, a).isEmpty, s"$f kept an orphan entry")
      assert(entries(f, b).nonEmpty, s"$f lost a LIVE dataset's entry")
    }
    // the survivor still serves: warm probe resolves the same artifact
    assert(ops.LlmPipeline.ensureNgramPostings(spark, b) == bNgram)
    assert(spark.read.parquet(bNgram).count() > 0)
  }

  test("a restored source clears the tombstone instead of reclaiming") {
    val d = mkDataset(3)
    ops.Storage.ensureZoneMap(spark, d)
    val fams = Seq(ops.Storage.ZonemapFamily)
    val stash = new org.apache.hadoop.fs.Path(d + "-stash")
    assert(fs.rename(new org.apache.hadoop.fs.Path(d), stash))
    val r1 = ops.Derived.gcOrphans(spark, fams)
    assert(r1.filter(_._2.contains(label(d))).forall(_._3 == "tombstoned"))
    // the dataset comes back (a mount flap, a restore) before the TTL
    assert(fs.rename(stash, new org.apache.hadoop.fs.Path(d)))
    val r2 = ops.Derived.gcOrphans(spark, fams, ttlMs = 0L)
    assert(!r2.exists(_._2.contains(label(d))),
      s"restored source must clear the tombstone, not reclaim: $r2")
    val e = entries(ops.Storage.ZonemapFamily, d)
    assert(e.nonEmpty, "artifact survives a source flap")
    e.foreach { n =>
      val tomb = new org.apache.hadoop.fs.Path(
        s"${ops.Derived.familyDir(ops.Storage.ZonemapFamily)}/$n/${ops.Derived.OrphanTombstone}")
      assert(!fs.exists(tomb), "tombstone must be cleared once the source reappears")
    }
  }

  test("provenance resolves from the sidecar; an entry without one is skipped") {
    val d = mkDataset(4)
    val idx = ops.Storage.ensureZoneMap(spark, d)
    val dirPath = new org.apache.hadoop.fs.Path(idx)
    val sidecar = new org.apache.hadoop.fs.Path(idx, ops.Derived.SrcSidecar)
    assert(fs.exists(sidecar), "publish must stamp the provenance sidecar")
    assert(ops.Derived.recordedSource(fs, dirPath).contains(s"$d/lineitem.parquet"))
    // no sidecar → unknown provenance → the GC must SKIP, not guess
    val bare = s"${ops.Derived.familyDir(ops.Storage.ZonemapFamily)}/" +
      s"${label(d)}_mfeedbeef"
    fs.mkdirs(new org.apache.hadoop.fs.Path(bare))
    try {
      val r = ops.Derived.gcOrphans(spark, Seq(ops.Storage.ZonemapFamily), ttlMs = 0L)
      assert(!r.exists(_._2 == bare), "no-provenance entry must be skipped")
      assert(fs.exists(new org.apache.hadoop.fs.Path(bare)))
    } finally fs.delete(new org.apache.hadoop.fs.Path(bare), true)
  }

  test("CALL graft.gc_orphans returns typed action rows") {
    val d = mkDataset(5)
    ops.Storage.ensureZoneMap(spark, d)
    fs.delete(new org.apache.hadoop.fs.Path(d), true)
    val rows = spark.sql("CALL graft.gc_orphans(ttl_ms => 0)")
      .collect().filter(_.getString(1).contains(label(d)))
    assert(rows.nonEmpty && rows.forall(_.getString(2) == "tombstoned"))
    val rows2 = spark.sql("CALL graft.gc_orphans(ttl_ms => 0)")
      .collect().filter(_.getString(1).contains(label(d)))
    assert(rows2.nonEmpty && rows2.forall(_.getString(2) == "reclaimed"),
      s"second CALL past the TTL reclaims: ${rows2.toSeq}")
    assert(entries(ops.Storage.ZonemapFamily, d).isEmpty)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Persisted dedup substrates (VERDICT r17 #1): the ngram postings,
  * banded MinHash signatures, SimHash signatures, bucketed embeddings,
  * winnow fingerprints, and perceptual hashes live under the
  * manifest-keyed artifact lifecycle — a
  * cold session reads the artifact instead of re-paying the corpus
  * scan, and manifest ticks evolve (append union / removal anti-join)
  * instead of rebuilding. The witnesses here are the Storage-spec
  * corruption discipline: corrupt the corpus in place (manifest
  * identity kept), clear the session memos to simulate a SECOND
  * session, and prove the substrate answers from artifact rows while a
  * direct corpus read would die on the parquet footer.
  */
class SubstrateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writeDocs(dir: String, ids: Seq[Long], salt: Int): Unit = {
    import spark.implicits._
    ids.map { i =>
      // ≥3 tokens so the shingle path engages; a planted duplicate pair
      // (ids ≡ 0 mod 7 share text) keeps the signature families honest
      val t =
        if (i % 7 == 0) s"alpha beta gamma delta epsilon zeta"
        else s"doc $i word${(i + salt) % 5} word${(i * 3 + salt) % 11} tail$i end"
      (i, t, "en", s"src${i % 3}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
  }

  private def writeEmbeds(dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.map { i =>
      (i, Array.tabulate(64)(j => ((i * 13 + j * 7) % 19 - 9) / 10.0f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(s"$dir/embeddings.parquet")
  }

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Zero the file's bytes in place, restoring length and mtime — the
    * manifest identity is unchanged but any read of its content dies.
    */
  private def corruptInPlace(table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(table)
    fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .foreach { st =>
        val (len, mtime) = (st.getLen, st.getModificationTime)
        val out = fs.create(st.getPath, true)
        try out.write(new Array[Byte](len.toInt)) finally out.close()
        fs.setTimes(st.getPath, mtime, -1)
      }
  }

  test("second session answers every dedup substrate from the artifact: no corpus byte re-read") {
    val dir = s"/tmp/graft-test-substrate-${java.util.UUID.randomUUID()}"
    writeDocs(dir, 0L until 30L, 0)
    writeEmbeds(dir, 0L until 30L)
    def posts = ops.LlmPipeline.ngramPostings(spark, dir)
      .collect().map(_.toSeq).toSet
    def banded = ops.LlmPipeline.minhashBanded(spark, dir)
      .collect().map(_.toSeq).toSet
    def sim = ops.LlmPipeline.simhashSig(spark, dir)
      .collect().map(_.toSeq).toSet
    def embed = ops.LlmPipeline.embedBucketed(spark, dir)
      .selectExpr("vec_id", "label", "n2", "bucket") // q is an array: compare scalars
      .collect().map(_.toSeq).toSet
    def report = ops.LlmPipeline.dedupOverflowReport(spark, dir)
      .collect().map(_.toSeq).toSeq
    def winnow = ops.LlmPipeline.dedupSubstringWinnow(spark, dir)
      .collect().map(_.toSeq).toSet
    def phash = ops.Multimodal.dedupPhash(spark, dir)
      .collect().map(_.toSeq).toSet
    val (wp, wb, ws, we, wr, ww, wh) = (posts, banded, sim, embed, report, winnow, phash)
    assert(wp.nonEmpty && wb.nonEmpty && ws.nonEmpty && we.nonEmpty)
    // the second session: corpus bytes gone bad in place, memos dropped
    corruptInPlace(s"$dir/documents.parquet")
    corruptInPlace(s"$dir/embeddings.parquet")
    ops.LlmPipeline.clearSubstrateMemos()
    intercept[Exception] { // the witness has teeth: a corpus read DIES
      spark.read.parquet(s"$dir/documents.parquet").count()
    }
    assert(posts == wp, "cold postings diverged from the artifact rows")
    assert(banded == wb, "cold banded signatures diverged")
    assert(sim == ws, "cold simhash signatures diverged")
    assert(embed == we, "cold embed buckets diverged")
    assert(report == wr, "cold overflow report diverged")
    assert(winnow == ww, "cold winnow substring result diverged")
    assert(phash == wh, "cold phash dedup result diverged")
  }

  test("banded/postings append evolves delta-only: extended ≡ full rebuild") {
    val dir = s"/tmp/graft-test-subappend-${java.util.UUID.randomUUID()}"
    writeDocs(dir, 0L until 12L, 0)
    ops.LlmPipeline.minhashBanded(spark, dir).count() // day-0 artifacts
    writeDocs(dir, 12L until 20L, 1) // the ingest appends a part file
    // corrupt the ORIGINAL part file (oldest) in place: the evolve must
    // succeed reading only the delta file
    val table = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val oldPart = fs.listStatus(table)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .minBy(_.getModificationTime)
    val (len, mtime) = (oldPart.getLen, oldPart.getModificationTime)
    val out = fs.create(oldPart.getPath, true)
    try out.write(new Array[Byte](len.toInt)) finally out.close()
    fs.setTimes(oldPart.getPath, mtime, -1)
    ops.LlmPipeline.clearSubstrateMemos()
    val got = ops.LlmPipeline.minhashBanded(spark, dir)
      .collect().map(_.toSeq).toSet
    // mirror with the same logical rows, built fresh
    val mirror = s"/tmp/graft-test-subappendmirror-${java.util.UUID.randomUUID()}"
    writeDocs(mirror, 0L until 12L, 0)
    writeDocs(mirror, 12L until 20L, 1)
    val want = ops.LlmPipeline.minhashBanded(spark, mirror)
      .collect().map(_.toSeq).toSet
    assert(got == want, "banded append-evolve != full rebuild over the same rows")
  }

  test("substrate removal subtracts by provenance: dropped file's rows vanish without a corpus read") {
    val dir = s"/tmp/graft-test-subremove-${java.util.UUID.randomUUID()}"
    writeDocs(dir, 0L until 12L, 0)
    val table = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val day0 = fs.listStatus(table)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .head.getPath
    writeDocs(dir, 12L until 20L, 1)
    ops.LlmPipeline.minhashBanded(spark, dir).count()
    ops.LlmPipeline.ngramPostings(spark, dir).count()
    // retention drops the day-1 partition; the survivor goes corrupt in
    // place — subtraction must never read it
    fs.listStatus(table)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .filterNot(_.getPath == day0)
      .foreach(st => fs.delete(st.getPath, false))
    val st0 = fs.getFileStatus(day0)
    val (len, mtime) = (st0.getLen, st0.getModificationTime)
    val out = fs.create(day0, true)
    try out.write(new Array[Byte](len.toInt)) finally out.close()
    fs.setTimes(day0, mtime, -1)
    ops.LlmPipeline.clearSubstrateMemos()
    val gotBanded = ops.LlmPipeline.minhashBanded(spark, dir)
      .collect().map(_.toSeq).toSet
    val gotPosts = ops.LlmPipeline.ngramPostings(spark, dir)
      .collect().map(_.toSeq).toSet
    val mirror = s"/tmp/graft-test-subremovemirror-${java.util.UUID.randomUUID()}"
    writeDocs(mirror, 0L until 12L, 0)
    assert(gotBanded == ops.LlmPipeline.minhashBanded(spark, mirror)
      .collect().map(_.toSeq).toSet,
      "banded removal-evolve != rebuild over survivors")
    assert(gotPosts == ops.LlmPipeline.ngramPostings(spark, mirror)
      .collect().map(_.toSeq).toSet,
      "postings removal-evolve != rebuild over survivors")
  }

  test("q_substrate_stats: six families, footer row counts exact, bytes on disk positive") {
    val dir = s"/tmp/graft-test-substats-${java.util.UUID.randomUUID()}"
    writeDocs(dir, 0L until 12L, 0)
    writeEmbeds(dir, 0L until 12L)
    val got = ops.LlmPipeline.substrateStats(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq("embed_bucketed", "minhash_banded",
      "ngram_postings", "phash", "simhash", "winnow_fps"),
      s"one footprint row per substrate family, name-ordered: ${got.toSeq}")
    // footer counts must equal a real count of the published artifact
    val wantRows = Map(
      "ngram_postings" -> ops.LlmPipeline.ensureNgramPostings(spark, dir),
      "winnow_fps" -> ops.LlmPipeline.ensureWinnowFps(spark, dir),
      "simhash" -> ops.LlmPipeline.ensureSimhashSig(spark, dir))
      .map { case (f, d2) => f -> spark.read.parquet(d2).count() }
    got.filter(r => wantRows.contains(r._1)).foreach { case (f, n, bytes) =>
      assert(n == wantRows(f), s"$f: footer rows $n != artifact count ${wantRows(f)}")
      assert(bytes > 0L, s"$f: zero on-disk bytes")
    }
  }

  test("ingest contract: a doc_id re-ingested into a second part file fails the build loudly (ADVICE r18)") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-subdupdoc-${java.util.UUID.randomUUID()}"
    writeDocs(dir, 0L until 12L, 0)
    ops.LlmPipeline.ngramPostings(spark, dir).count() // day-0 artifact
    // the violating delta: doc 5 arrives AGAIN in a new part file —
    // per-(doc_id, src) signature grouping would silently fragment
    // doc 5 into two signature row-sets
    Seq((5L, "doc 5 entirely different text now here", "en", "src2", 37L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    ops.LlmPipeline.clearSubstrateMemos()
    val e = intercept[IllegalArgumentException] {
      ops.LlmPipeline.ngramPostings(spark, dir).count()
    }
    assert(e.getMessage.contains("spans part files"),
      s"the staged-artifact validation must name the violation: ${e.getMessage}")
  }

  /** The documents files of the corpus at `dir`, as its manifest pins them. */
  private def corpusFiles(dir: String): Seq[String] =
    ops.Storage.manifestPath(ops.Storage.manifestLines(spark, s"$dir/documents.parquet"))

  private def corpusFooters(dir: String) =
    ParquetMeta.footersOf(spark, corpusFiles(dir).map(new org.apache.hadoop.fs.Path(_)))

  /** The postings family's contract check over a published artifact of
    * the corpus at `dir`. */
  private def contractCheck(dir: String, posts: String): Unit =
    ops.LlmPipeline.checkIngestContract(spark,
      ops.LlmPipeline.NgramPostingsFamily, posts, corpusFiles(dir))

  private def published(dir: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))

  test("ingest contract: contiguous per-file doc_ids are proven from the footers, with no validation job") {
    // one postings part file per corpus file needs an unfanned scan:
    // as many files as task slots, each its own split
    assume(spark.sparkContext.defaultParallelism == 4,
      "the proof needs one scan task per corpus file")
    val dir = s"/tmp/graft-test-subfooter-${java.util.UUID.randomUUID()}"
    (0 until 4).foreach(f => writeDocs(dir, (f * 12L) until (f * 12L + 12L), f))
    val posts = ops.LlmPipeline.ensureNgramPostings(spark, dir)
    assert(published(posts))
    assert(ops.LlmPipeline.docIdsDisjointByFile(corpusFooters(dir)),
      "disjoint per-file doc_id ranges in the corpus footers")
    val (_, jobs) = SparkTestSession.jobsIn(contractCheck(dir, posts))
    assert(jobs == 0, s"the footer proof held, yet the check launched $jobs job(s)")
  }

  test("ingest contract: a fanned-out build over contiguous corpus files is proven with no validation job") {
    // two small files on four task slots: fanOut repartitions the scan,
    // so the artifact's row groups mix both part files' rows
    assume(spark.sparkContext.defaultParallelism == 4,
      "the fanned-out layout is pinned on the 4-slot test master")
    val dir = s"/tmp/graft-test-subfanned-${java.util.UUID.randomUUID()}"
    (0 until 2).foreach(f => writeDocs(dir, (f * 12L) until (f * 12L + 12L), f))
    val posts = ops.LlmPipeline.ensureNgramPostings(spark, dir)
    assert(published(posts))
    assert(ParquetMeta.footers(spark, posts).flatMap(_.rowGroups).exists(
      _.stats.get("src").exists(st => st.genericGetMin != st.genericGetMax)),
      "the fanned-out artifact mixes part files within a row group")
    assert(ops.LlmPipeline.docIdsDisjointByFile(corpusFooters(dir)),
      "disjoint per-file doc_id ranges in the corpus footers")
    val (_, jobs) = SparkTestSession.jobsIn(contractCheck(dir, posts))
    assert(jobs == 0, s"the corpus footers prove the contract, yet the check launched $jobs job(s)")
  }

  test("ingest contract: interleaved doc_ids across files take the aggregate and still publish") {
    val dir = s"/tmp/graft-test-subinterleave-${java.util.UUID.randomUUID()}"
    writeDocs(dir, (0L until 24L).filter(_ % 2 == 0), 0)
    writeDocs(dir, (0L until 24L).filter(_ % 2 == 1), 1)
    val posts = ops.LlmPipeline.ensureNgramPostings(spark, dir)
    assert(published(posts))
    assert(!ops.LlmPipeline.docIdsDisjointByFile(corpusFooters(dir)),
      "overlapping per-file doc_id ranges are no proof")
    val (_, jobs) = SparkTestSession.jobsIn(contractCheck(dir, posts))
    assert(jobs >= 1, "an unproven contract must be decided by the aggregate")
    assert(ops.LlmPipeline.ngramPostings(spark, dir).count() > 0)
  }
}

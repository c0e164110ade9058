package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Non-oracle LLM-pipeline verification (SURVEY §5.2 item 4): planted
  * near-duplicates must be recalled by every dedup variant, and the
  * approximate distinct count must be within tolerance of exact.
  */
class LlmPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A corpus with known plants, written through the same parquet
    * contract the operators read (documents.parquet under a dir):
    * docs 0..19 are seeded word soup; doc 100+i duplicates doc i
    * (i < 5) with ONE token changed; doc 200 duplicates doc 0 exactly.
    */
  private lazy val plantedDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
    def soup(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 20).map(i => (i.toLong, soup(60)))
    val nearDups = (0 until 5).map { i =>
      val toks = base(i)._2.split(' ')
      toks(30) = "zulu" // one-token edit => shingle Jaccard ~ 0.88
      (100L + i, toks.mkString(" "))
    }
    val exactDup = Seq((200L, base(0)._2))
    val dir = s"/tmp/graft-test-planted-${java.util.UUID.randomUUID()}"
    (base ++ nearDups ++ exactDup)
      .map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private val plantedPairs: Set[(Long, Long)] =
    (0 until 5).map(i => (i.toLong, 100L + i)).toSet + ((0L, 200L))

  test("q_dedup_near (MinHashLSH) recalls 100% of planted near-dups") {
    val got = pairs(ops.Dedup.dedupNear(spark, plantedDir))
    assert(plantedPairs.subsetOf(got), s"missing: ${plantedPairs -- got}")
  }

  test("q_dedup_ngram ranks planted pairs with jaccard > 0.7") {
    val top = ops.Dedup.dedupNgram(spark, plantedDir)
      .where(col("jaccard") > 0.7)
    assert(plantedPairs.subsetOf(pairs(top)))
  }

  test("q_dedup_simhash bands the planted pairs with small hamming distance") {
    val got = ops.Dedup.dedupSimhash(spark, plantedDir)
      .where(col("hamming") <= 8)
    assert(plantedPairs.subsetOf(pairs(got)))
  }

  test("q_dedup_minhash_pairs catches the exact duplicate (all bands equal)") {
    assert(pairs(ops.Dedup.dedupMinhashPairs(spark, plantedDir))
      .contains((0L, 200L)))
  }

  test("q_dedup_exact keeps min doc_id for the exact duplicate") {
    val keep = ops.Dedup.dedupExact(spark, plantedDir)
      .where(col("n_copies") === 2).select("keep_id")
      .collect().map(_.getLong(0)).toSeq
    assert(keep == Seq(0L))
  }

  test("simhash 4x8 banding is a complete candidate generator for hamming <= 3") {
    // pigeonhole property the q_dedup_simhash join relies on, checked
    // against the DEPLOYED band expression (floor / pow(256, 3-b) % 256)
    // over random 32-bit pairs with up to 3 flipped bits
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val cases = (0 until 500).map { _ =>
      val x = rnd.nextLong() & 0xffffffffL
      val nFlips = rnd.nextInt(4)
      val y = (0 until nFlips).foldLeft(x)((v, _) => v ^ (1L << rnd.nextInt(32)))
      (x, y)
    }
    val bandExpr = (c: String, b: Int) =>
      s"CAST(floor($c / pow(256, ${3 - b})) AS BIGINT) % 256"
    val sharesBand = (0 until 4)
      .map(b => s"(${bandExpr("x", b)}) = (${bandExpr("y", b)})")
      .mkString(" OR ")
    val violations = cases.toDF("x", "y")
      .where(org.apache.spark.sql.functions.expr(
        s"bit_count(x ^ y) <= 3 AND NOT ($sharesBand)"))
      .count()
    assert(violations == 0)
  }

  test("minhash hot buckets are capped, not exploded") {
    import spark.implicits._
    // one degenerate bucket (60 members > HotBucketCap) + one healthy pair
    val degenerate = (0 until 60).map(i => (i.toLong, 0, "hotkey"))
    val small = Seq((1000L, 1, "k2"), (1001L, 1, "k2"))
    val banded = (degenerate ++ small).toDF("doc_id", "band", "band_key")
    assert(pairs(ops.Dedup.minhashPairsFromBanded(banded)) == Set((1000L, 1001L)))
    val overflow = ops.Dedup.minhashBucketOverflow(banded).collect()
    assert(overflow.length == 1 && overflow.head.getLong(2) == 60L)
  }

  test("embed hot blocks are capped, not exploded; candidate gen is join-free") {
    import spark.implicits._
    // one degenerate (label, bucket) block (60 members > HotBucketCap)
    // + one healthy identical pair (cos exactly 1.0) in another block
    val hot = (0 until 60).map(i => (i.toLong, 0L, Seq(1L, 0L), 1L, 3))
    val healthy = Seq((1000L, 1L, Seq(3L, 4L), 25L, 7),
      (1001L, 1L, Seq(3L, 4L), 25L, 7))
    val b = (hot ++ healthy).toDF("vec_id", "label", "q", "n2", "bucket")
    val got = ops.Dedup.embedPairsFromBucketed(b).collect()
    assert(got.length == 1)
    assert((got.head.getLong(0), got.head.getLong(1)) == (1000L, 1001L))
    assert(math.abs(got.head.getDouble(2) - 1.0) < 1e-12)
    val ov = ops.Dedup.embedBucketOverflow(b).collect()
    assert(ov.length == 1 && ov.head.getLong(2) == 60L)
    // raising the cap re-admits the hot block: C(60,2) + the healthy pair
    assert(ops.Dedup.embedPairsFromBucketed(b, cap = 100).count() ==
      60L * 59 / 2 + 1)
    // plan pin: candidate generation is block-local — NO join survives
    // anywhere in q_dedup_embed's physical plan (the old within-label
    // self-join was the registry's last uncapped pair surface)
    val plan = ops.Dedup.dedupEmbed(spark, SparkTestSession.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"pair generation must not self-join:\n$plan")
  }

  test("q_dedup_embed still surfaces same-block high-cosine pairs on the fixture") {
    val rows = ops.Dedup.dedupEmbed(spark, SparkTestSession.sf0001).collect()
    assert(rows.nonEmpty)
    // deterministic total order: cos desc, then (vec_a, vec_b)
    val cos = rows.map(_.getDouble(2)).toSeq
    assert(cos == cos.sorted(Ordering[Double].reverse))
    // overflow report on the real fixture: every block within cap
    val bktCounts = graft.Tables.embeddings(spark, SparkTestSession.sf0001)
      .groupBy("label").count().collect().map(_.getLong(1))
    assert(bktCounts.forall(_ > 0)) // fixture sanity for the assertion above
  }

  test("q_dedup_semantic: planted clusters collapse transitively; distinct vectors keep; hot buckets cap") {
    import spark.implicits._
    // two planted semantic clusters (small perturbations of a base
    // vector — cos far above τ=0.95 and bucket-identical by near-
    // parallelism) + well-separated singletons. Cluster 2 is a CHAIN in
    // similarity (20~21~22 with 20~22 also ≥ τ here) — the transitive
    // collapse pairwise keep-the-min cannot be distinguished on, so the
    // chain case is covered by the planted spread below.
    def vec(base: Array[Double], eps: Int): Seq[Double] =
      base.zipWithIndex.map { case (v, i) => v + (if (i == eps) 0.004 else 0.0) }.toSeq
    val b1 = Array.tabulate(64)(i => 0.5 + 0.3 * math.sin(i))
    val b2 = Array.tabulate(64)(i => -0.4 + 0.25 * math.cos(i * 2))
    val singles = (0 until 4).map(k =>
      Array.tabulate(64)(i => math.sin(i * (k + 3) + k).toDouble))
    val rows =
      Seq((10L, vec(b1, -1)), (11L, vec(b1, 0)), (12L, vec(b1, 1)),
        (20L, vec(b2, -1)), (21L, vec(b2, 2))) ++
        singles.zipWithIndex.map { case (v, k) => (30L + k, v.toSeq) }
    val dir = s"/tmp/graft-test-semdedup-${java.util.UUID.randomUUID()}"
    rows.map { case (id, v) => (id, v.map(_.toFloat), (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = ops.Dedup.dedupSemantic(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toList
    val byId = got.map(r => r._1 -> r).toMap
    // cluster 1 collapses to rep 10 (transitive: 11 and 12 both reach 10)
    assert(byId(10L) == ((10L, 10L, true)))
    assert(byId(11L) == ((11L, 10L, false)) && byId(12L) == ((12L, 10L, false)),
      s"cluster 1 did not collapse: $got")
    // cluster 2 collapses to rep 20
    assert(byId(20L)._3 && byId(21L) == ((21L, 20L, false)), s"cluster 2: $got")
    // singletons all keep themselves
    (30L until 34L).foreach(k => assert(byId(k) == ((k, k, true)), s"singleton $k: $got"))
    // and the fixture corpus (max cosine 0.51) is all-keep: the honest
    // trivial result, computed through the same bucketed machinery
    val fixture = ops.Dedup.dedupSemantic(spark, SparkTestSession.sf0001)
    assert(fixture.where(!col("keep")).isEmpty, "fixture grew a semantic dup")
  }

  test("semantic pairs: hot blocks cap; the τ boundary decides in exact integers") {
    import spark.implicits._
    // hot block: 60 identical vectors (> HotBucketCap) must emit NOTHING;
    // block 7 holds an exact-duplicate pair (cos = 1 ≥ τ), a pair at
    // cos = 24/25 = 0.96 ≥ τ, and a pair at cos = 0.6 < τ
    val hot = (0 until 60).map(i => (i.toLong, Seq(1L, 0L), 1L, 3))
    val dup = Seq((100L, Seq(3L, 4L), 25L, 7), (101L, Seq(3L, 4L), 25L, 7))
    // (3,4)·(0,5) = 20; 20²·10⁴ = 4e6·10⁴ vs 9025·25·25 → 0.8 < 0.95: out
    val far = Seq((102L, Seq(0L, 5L), 25L, 7))
    // (3,4)·(4,3) = 24; 24²·10⁴ = 5.76e6·10³... exact: 5760000·10⁴ ≥ 9025·625·...
    // cos = 24/25 = 0.96 ≥ 0.95: in
    val near = Seq((103L, Seq(4L, 3L), 25L, 7))
    val b = (hot ++ dup ++ far ++ near).toDF("vec_id", "q", "n2", "bucket")
    val got = ops.Dedup.semanticPairsFromBucketed(b)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 101L), (100L, 103L), (101L, 103L)),
      s"expected the cos∈{1, 0.96} pairs only, got $got")
    // and the cap is OBSERVABLE (VERDICT r16 #1): the skipped hot bucket
    // surfaces in the overflow report with its true membership
    val ov = ops.Dedup.semanticBucketOverflow(b).collect()
    assert(ov.length == 1 && ov.head.getInt(0) == 3 && ov.head.getLong(1) == 60L,
      s"expected one overflow row (bucket 3, 60 vecs), got ${ov.toList}")
    // fixture: every semantic bucket within cap — the overflow is empty
    assert(ops.Dedup.semanticBucketOverflow(
      ops.Dedup.embedBucketed(spark, SparkTestSession.sf0001)).isEmpty,
      "fixture grew a hot semantic bucket")
  }

  test("q_dedup_semantic pair subtree: one bucketed-artifact scan per action, single embeddings read") {
    import spark.implicits._
    // planted cluster (the dedupSemantic spec's recipe) so the NON-empty
    // path — the one where ccLabels consumes the pairs — is the one
    // under test
    def vec(base: Array[Double], eps: Int): Seq[Double] =
      base.zipWithIndex.map { case (v, i) => v + (if (i == eps) 0.004 else 0.0) }.toSeq
    val b1 = Array.tabulate(64)(i => 0.5 + 0.3 * math.sin(i))
    val rows = Seq((10L, vec(b1, -1)), (11L, vec(b1, 0)),
      (30L, Array.tabulate(64)(i => math.sin(i * 3).toDouble).toSeq))
    val dir = s"/tmp/graft-test-sempin-${java.util.UUID.randomUUID()}"
    rows.map { case (id, v) => (id, v.map(_.toFloat), (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // contract 1: the pair frame reads its one source, the persisted
      // bucketed artifact, exactly once and never the raw embeddings:
      // each action over it (the emptiness probe, ccLabels' edge pin)
      // runs the bucket shuffle + pair explode once.
      val pairs = ops.Dedup.semanticPairs(spark, dir)
      val srcs = pairs.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("Location", "")
      }
      assert(srcs.count(_.contains("graft-embed-bucketed")) == 1 &&
        !srcs.exists(_.contains("embeddings.parquet")),
        s"pair frame must scan the bucketed artifact once, got:\n${srcs.mkString("\n")}")
      assert(pairs.count() == 1L) // the planted 10~11 edge
      // contract 2: the full query's steady-state plan reads the raw
      // embeddings parquet exactly once (the base vec_id scan) — the pair
      // subtree never reappears as a second scan
      val full = ops.Dedup.dedupSemantic(spark, dir)
      val scans = full.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("embeddings")) => f
      }.size
      assert(scans == 1,
        s"expected one embeddings scan, got $scans:\n${full.queryExecution.executedPlan}")
      // and the verdicts are right on the non-empty path
      val got = full.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got == Set((10L, 10L, true), (11L, 10L, false), (30L, 30L, true)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("q_dedup_overflow_report: empty on the fixture; planted hot blocks surface per family") {
    import spark.implicits._
    // the fixture is healthy — every capped family reports nothing
    assert(ops.Dedup.dedupOverflowReport(spark, SparkTestSession.sf0001).isEmpty,
      "fixture grew a hot block")
    // planted corpus that overflows EVERY family:
    //  - 60 byte-identical docs => identical minhash/simhash signatures
    //    => every band bucket holds 60 (> HotBucketCap 50)
    //  - 120 distinct docs sharing ONE leading trigram => that shingle's
    //    df = 120 (> NgramDfCap 100); their unique tails keep the
    //    minhash/simhash bands spread
    //  - 60 identical vectors under one label => one (label, bucket)
    //    block and one semantic bucket of 60 (> HotBucketCap)
    val rnd = new scala.util.Random(7)
    val dupText = "the quick brown fox jumps over the lazy dog again"
    val dupDocs = (0 until 60).map(i => (i.toLong, dupText))
    val shared = (0 until 120).map { i =>
      val tail = Seq.fill(14)(s"w${rnd.nextInt(100000)}").mkString(" ")
      (1000L + i, s"common shared marker $tail")
    }
    val dir = s"/tmp/graft-test-overflow-${java.util.UUID.randomUUID()}"
    (dupDocs ++ shared)
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val hotVec = Seq.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val vecs = (0 until 60).map(i => (i.toLong, hotVec, 1)) ++
      Seq((100L, Seq.tabulate(64)(i => math.cos(i * 1.3).toFloat), 2),
        (101L, Seq.tabulate(64)(i => math.sin(i * 2.9).toFloat), 3))
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val rep = ops.Dedup.dedupOverflowReport(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val byFam = rep.groupBy(_._1)
    assert(byFam.keySet == Set("minhash", "simhash", "ngram", "embed", "semantic"),
      s"families missing from the report: ${rep.toList}")
    // the identical-60 block is reported at its true size in every
    // bucketed family (>= : an unlucky spread doc may share a bucket)
    assert(byFam("minhash").forall(_._4 >= 60L) && byFam("minhash").nonEmpty)
    assert(byFam("simhash").length == 4 && byFam("simhash").forall(_._4 >= 60L))
    assert(byFam("embed").length == 1 && byFam("embed").head._2 == "1" &&
      byFam("embed").head._4 == 60L, s"embed overflow: ${byFam("embed").toList}")
    assert(byFam("semantic").head._4 == 60L && byFam("semantic").length == 1)
    // the shared trigram is the only over-df shingle, at its exact df
    assert(byFam("ngram").map(_._4).toSeq == Seq(120L),
      s"ngram overflow: ${byFam("ngram").toList}")
    // ADVICE r17: the SQL mirror had only ever been exercised on the
    // EMPTY fixture result — run the five HAVING-count mirrors (the
    // SqlSurface text) against this planted corpus and pin text-SQL ≡
    // engine on the NON-empty path (a band/bit formula drift between
    // the dialects now fails here instead of passing CI)
    try {
      Tables.documents(spark, dir).createOrReplaceTempView("documents")
      Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
      val sql = SqlSurface.sqlFor("q_dedup_overflow_report")
        .getOrElse(fail("no SQL surface for q_dedup_overflow_report"))
      val (sqlCols, sqlRows) = SqlSurface.canon(spark.sql(sql))
      val (engCols, engRows) =
        SqlSurface.canon(ops.Dedup.dedupOverflowReport(spark, dir))
      assert(sqlCols == engCols, s"mirror schema drift: $sqlCols vs $engCols")
      assert(sqlRows.nonEmpty && sqlRows == engRows,
        s"SQL mirror != engine on planted hot blocks: " +
          s"sql=${sqlRows.take(3)} eng=${engRows.take(3)}")
    } finally {
      // restore the fixture views other suites register by name
      Tables.documents(spark, SparkTestSession.sf0001)
        .createOrReplaceTempView("documents")
      Tables.embeddings(spark, SparkTestSession.sf0001)
        .createOrReplaceTempView("embeddings")
    }
  }

  test("IVF index append lifecycle: frozen centroids, stable assignments, delta-only scan") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1), (i % 10)))
        .toDF("vec_id", "embedding", "label")
    val dir = s"/tmp/graft-test-ivfappend-${java.util.UUID.randomUUID()}"
    val table = s"$dir/embeddings.parquet"
    vecs(0 until 300).coalesce(1).write.parquet(table)
    val idx1 = ops.Ann.ensureIvfIndex(spark, dir)
    val asg1 = spark.read.parquet(s"$idx1/assignments")
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    val cents1 = spark.read.parquet(s"$idx1/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    // day 1: the ingest appends new vectors (new part file only);
    // captured driver-side BEFORE the corruption below, since the raw
    // table becomes unreadable as a whole by design
    val bDf = vecs(1000 until 1060)
    val newVecs = bDf
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    bDf.coalesce(1).write.mode("append").parquet(table)
    // corrupt the original part file in place (manifest identity kept):
    // the extend must succeed reading only the delta — a re-fit cannot
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldPart = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .minBy(_.getModificationTime)
    val (pLen, pMtime) = (oldPart.getLen, oldPart.getModificationTime)
    val out = fs.create(oldPart.getPath, true)
    try out.write(new Array[Byte](pLen.toInt)) finally out.close()
    fs.setTimes(oldPart.getPath, pMtime, -1)
    val idx2 = ops.Ann.ensureIvfIndex(spark, dir)
    assert(idx2 != idx1, "append did not produce a new artifact")
    // production IVF contract #1: centroids are FROZEN on append
    val cents2 = spark.read.parquet(s"$idx2/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    assert(cents2.toSeq == cents1.toSeq, "append moved the centroids")
    // #2: covered vectors' assignments are byte-stable (probe results
    // over old vectors cannot move on append)
    val asg2 = spark.read.parquet(s"$idx2/assignments")
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    assert(asg1.forall { case (v, b) => asg2(v) == b },
      "append moved an existing vector's cell")
    // #3: every new vector landed in its TRUE nearest frozen cell
    // (recomputed independently here, same exact argmin rule)
    assert(newVecs.length == 60)
    newVecs.foreach { case (v, f) =>
      val best = cents1.map { case (cid, c) =>
        (f.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min._2
      assert(asg2(v) == best, s"vec $v: assigned ${asg2(v)}, nearest frozen cell $best")
    }
  }

  test("IVF index removal lifecycle: dropped file's vectors subtract, survivors byte-stable, no corpus read (VERDICT r16 #3)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7272)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1), (i % 10)))
        .toDF("vec_id", "embedding", "label")
    val dir = s"/tmp/graft-test-ivfremove-${java.util.UUID.randomUUID()}"
    val table = s"$dir/embeddings.parquet"
    vecs(0 until 300).coalesce(1).write.parquet(table)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val firstPart = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .head.getPath
    vecs(1000 until 1060).coalesce(1).write.mode("append").parquet(table)
    val idx1 = ops.Ann.ensureIvfIndex(spark, dir)
    val rows1 = spark.read.parquet(s"$idx1/assignments")
      .selectExpr("vec_id", "bucket", "src").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val cents1 = spark.read.parquet(s"$idx1/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    // the retention job drops the second partition; the SURVIVING file
    // is corrupted in place — removal must not read a corpus byte
    fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .filterNot(_.getPath == firstPart)
      .foreach(st => fs.delete(st.getPath, false))
    val (pLen, pMtime) = {
      val st = fs.getFileStatus(firstPart); (st.getLen, st.getModificationTime)
    }
    val out = fs.create(firstPart, true)
    try out.write(new Array[Byte](pLen.toInt)) finally out.close()
    fs.setTimes(firstPart, pMtime, -1)
    val idx2 = ops.Ann.ensureIvfIndex(spark, dir)
    assert(idx2 != idx1, "removal did not produce a new artifact")
    // contract #1: centroids stay FROZEN on removal
    val cents2 = spark.read.parquet(s"$idx2/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    assert(cents2.toSeq == cents1.toSeq, "removal moved the centroids")
    // #2: exactly the dropped file's rows vanished; survivors verbatim
    val rows2 = spark.read.parquet(s"$idx2/assignments")
      .selectExpr("vec_id", "bucket", "src").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val survivorSrc = ops.Storage.normSrcStr(firstPart.toString)
    assert(rows2 == rows1.filter(_._3 == survivorSrc),
      "removal must drop exactly the dead file's assignment rows")
    assert(rows2.map(_._1) == (0L until 300L).toSet,
      "surviving vec set wrong after removal")
  }

  test("IVF mixed tick: removal + append evolve in one pass under frozen centroids") {
    import spark.implicits._
    val rnd = new scala.util.Random(9090)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1), (i % 10)))
        .toDF("vec_id", "embedding", "label")
    val dir = s"/tmp/graft-test-ivfmixed-${java.util.UUID.randomUUID()}"
    val table = s"$dir/embeddings.parquet"
    vecs(0 until 200).coalesce(1).write.parquet(table)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val firstPart = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .head.getPath
    vecs(500 until 600).coalesce(1).write.mode("append").parquet(table)
    val idx1 = ops.Ann.ensureIvfIndex(spark, dir)
    val cents1 = spark.read.parquet(s"$idx1/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    val keep1 = spark.read.parquet(s"$idx1/assignments")
      .where($"vec_id" >= 500L).select("vec_id", "bucket")
      .as[(Long, Int)].collect().toMap
    // the tick: drop the first partition AND append a third — one evolve
    fs.delete(firstPart, false)
    val newDf = vecs(1000 until 1050)
    val newVecs = newDf.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    newDf.coalesce(1).write.mode("append").parquet(table)
    val idx2 = ops.Ann.ensureIvfIndex(spark, dir)
    assert(idx2 != idx1)
    // centroids frozen through the mixed tick
    val cents2 = spark.read.parquet(s"$idx2/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    assert(cents2.toSeq == cents1.toSeq, "mixed tick moved the centroids")
    val asg2 = spark.read.parquet(s"$idx2/assignments")
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    // removed file's vectors are gone; survivors byte-stable; new
    // vectors at their true nearest frozen cell
    assert(asg2.keySet == (keep1.keySet ++ (1000L until 1050L)),
      s"wrong vec set after the mixed tick")
    assert(keep1.forall { case (v, b) => asg2(v) == b }, "survivors moved")
    newVecs.foreach { case (v, f) =>
      val best = cents1.map { case (cid, c) =>
        (f.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min._2
      assert(asg2(v) == best, s"vec $v: assigned ${asg2(v)}, nearest $best")
    }
  }

  test("q_ivf_staleness: planted drifted append flips the recluster flag; faithful append does not (VERDICT r16 #4)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1313)
    def vecs(ids: Range, offset: Double) = ids.map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1 + offset), (i % 10)))
        .toDF("vec_id", "embedding", "label")
    // corpus A: same-distribution append — drift ratio ~1, frac small
    val dirA = s"/tmp/graft-test-ivfstale-a-${java.util.UUID.randomUUID()}"
    vecs(0 until 300, 0.0).coalesce(1).write.parquet(s"$dirA/embeddings.parquet")
    ops.Ann.ensureIvfIndex(spark, dirA)
    vecs(1000 until 1060, 0.0).coalesce(1).write.mode("append")
      .parquet(s"$dirA/embeddings.parquet")
    val a = ops.Ann.ivfStaleness(spark, dirA).collect().head
    assert(a.getAs[Long]("n_base") == 300L && a.getAs[Long]("n_appended") == 60L)
    assert(!a.getAs[Boolean]("recluster"),
      s"faithful append must not trigger a recluster: $a")
    assert(a.getAs[Double]("drift_ratio") < ops.Ann.IvfStaleRatio)
    // corpus B: the appended distribution moved (+5 per dim — far
    // outside every build-time cell) — drift ratio blows past the
    // threshold even though the appended fraction is small
    val dirB = s"/tmp/graft-test-ivfstale-b-${java.util.UUID.randomUUID()}"
    vecs(0 until 300, 0.0).coalesce(1).write.parquet(s"$dirB/embeddings.parquet")
    ops.Ann.ensureIvfIndex(spark, dirB)
    vecs(1000 until 1060, 5.0).coalesce(1).write.mode("append")
      .parquet(s"$dirB/embeddings.parquet")
    val b = ops.Ann.ivfStaleness(spark, dirB).collect().head
    assert(b.getAs[Double]("drift_ratio") > ops.Ann.IvfStaleRatio,
      s"planted drift not detected: $b")
    assert(b.getAs[Boolean]("recluster"), s"drifted append must flag: $b")
    // corpus C: no drift but appends outweigh the clustered base — the
    // fraction leg triggers (frozen cells fitted on a minority)
    val dirC = s"/tmp/graft-test-ivfstale-c-${java.util.UUID.randomUUID()}"
    vecs(0 until 300, 0.0).coalesce(1).write.parquet(s"$dirC/embeddings.parquet")
    ops.Ann.ensureIvfIndex(spark, dirC)
    vecs(1000 until 1400, 0.0).coalesce(1).write.mode("append")
      .parquet(s"$dirC/embeddings.parquet")
    val c = ops.Ann.ivfStaleness(spark, dirC).collect().head
    assert(c.getAs[Double]("appended_frac") > ops.Ann.IvfStaleFrac &&
      c.getAs[Boolean]("recluster"), s"majority append must flag: $c")
    // and the un-appended fixture reports a quiet index (0 deltas)
    val fix = ops.Ann.ivfStaleness(spark, SparkTestSession.sf0001)
      .collect().head
    assert(fix.getAs[Long]("n_appended") == 0L && !fix.getAs[Boolean]("recluster"))
  }

  test("ivf staleness removal census: retention drops decrement the right side (ADVICE r17)") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    def vecs(ids: Range, offset: Double) = ids.map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1 + offset), (i % 10)))
        .toDF("vec_id", "embedding", "label")
    def parts(table: String) = {
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(table))
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .sortBy(_.getModificationTime)
    }
    // scenario 1: heavy BASE retention drop — pre-fix n_base kept the
    // build-time 300, understating appended_frac (100/400 = 0.25) and
    // never firing; live census reads 100/160 = 0.625 > 0.5
    val dirA = s"/tmp/graft-test-ivfrmbase-${java.util.UUID.randomUUID()}"
    val tblA = s"$dirA/embeddings.parquet"
    vecs(0 until 240, 0.0).coalesce(1).write.parquet(tblA)
    Thread.sleep(1100) // distinct part mtimes so "oldest" is stable
    vecs(240 until 300, 0.0).coalesce(1).write.mode("append").parquet(tblA)
    ops.Ann.ensureIvfIndex(spark, dirA)
    vecs(1000 until 1100, 0.0).coalesce(1).write.mode("append").parquet(tblA)
    ops.Ann.ensureIvfIndex(spark, dirA)
    val fsA = new org.apache.hadoop.fs.Path(tblA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsA.delete(parts(tblA).head.getPath, false) // drop the 240-vec base file
    val a = ops.Ann.ivfStaleness(spark, dirA).collect().head
    assert(a.getAs[Long]("n_base") == 60L && a.getAs[Long]("n_appended") == 100L,
      s"removal census wrong: $a")
    assert(a.getAs[Double]("appended_frac") > ops.Ann.IvfStaleFrac &&
      a.getAs[Boolean]("recluster"),
      s"post-retention minority base must flag a recluster: $a")
    // scenario 2: the DRIFTED append itself is retained away — its
    // stale delta means must not keep the drift leg firing
    val dirB = s"/tmp/graft-test-ivfrmdelta-${java.util.UUID.randomUUID()}"
    val tblB = s"$dirB/embeddings.parquet"
    vecs(0 until 300, 0.0).coalesce(1).write.parquet(tblB)
    ops.Ann.ensureIvfIndex(spark, dirB)
    Thread.sleep(1100)
    vecs(1000 until 1060, 5.0).coalesce(1).write.mode("append").parquet(tblB)
    ops.Ann.ensureIvfIndex(spark, dirB)
    assert(ops.Ann.ivfStaleness(spark, dirB)
      .collect().head.getAs[Boolean]("recluster"), "drifted append must flag")
    val fsB = new org.apache.hadoop.fs.Path(tblB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsB.delete(parts(tblB).last.getPath, false) // drop the drifted file
    val b = ops.Ann.ivfStaleness(spark, dirB).collect().head
    assert(b.getAs[Long]("n_appended") == 0L && !b.getAs[Boolean]("recluster"),
      s"removed append's stale delta means must not fire the drift leg: $b")
  }

  test("ivfReclusterIfStale: drifted index refits as a new generation and the verdict returns to quiet") {
    import spark.implicits._
    val rnd = new scala.util.Random(2121)
    def vecs(ids: Range, offset: Double) = ids.map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1 + offset), (i % 10)))
        .toDF("vec_id", "embedding", "label")
    val dir = s"/tmp/graft-test-ivfrefit-${java.util.UUID.randomUUID()}"
    vecs(0 until 300, 0.0).coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val idx = ops.Ann.ensureIvfIndex(spark, dir)
    // quiet index: the job is a no-op and touches nothing
    val centsBefore = spark.read.parquet(s"$idx/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(!ops.Ann.ivfReclusterIfStale(spark, dir),
      "quiet index must not refit")
    assert(spark.read.parquet(s"$idx/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq == centsBefore)
    // drifted append flags; the refit publishes as the NEXT '-r<n>'
    // GENERATION of the same manifest key (ADVICE r17: the old
    // in-place swap had an absence window that could FNF a racing
    // reader) — the superseded generation stays on disk for its
    // in-flight readers
    vecs(1000 until 1060, 5.0).coalesce(1).write.mode("append")
      .parquet(s"$dir/embeddings.parquet")
    val idx2 = ops.Ann.ensureIvfIndex(spark, dir)
    // the in-flight reader: a DataFrame holding the pre-refit files
    val preReader = spark.read.parquet(s"$idx2/assignments")
    assert(ops.Ann.ivfStaleness(spark, dir)
      .collect().head.getAs[Boolean]("recluster"))
    assert(ops.Ann.ivfReclusterIfStale(spark, dir), "drift must refit")
    // a new generation dir resolves; centroids moved (the one
    // sanctioned suspension of the frozen-centroid contract), every
    // vector re-assigned, and the staleness baseline restarted — the
    // verdict is quiet again with zero delta rows
    val idx3 = ops.Ann.ensureIvfIndex(spark, dir)
    assert(idx3 != idx2 && idx3.contains("-r"),
      s"refit must publish a new generation: $idx2 -> $idx3")
    val centsAfter = spark.read.parquet(s"$idx3/centroids")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(centsAfter != centsBefore, "refit did not move the centroids")
    val st = ops.Ann.ivfStaleness(spark, dir).collect().head
    assert(st.getAs[Long]("n_base") == 360L &&
      st.getAs[Long]("n_appended") == 0L && !st.getAs[Boolean]("recluster"),
      s"refit did not restart the baseline: $st")
    assert(spark.read.parquet(s"$idx3/assignments").count() == 360L)
    // the pre-refit generation's files are still readable end-to-end —
    // no reader ever observes an absent path
    assert(preReader.count() == 360L,
      "in-flight reader of the superseded generation lost its files")
  }

  test("ivfSplitHotCells: drifted cell splits alone — cold cells verbatim, verdict quiet (VERDICT r17 missing #4)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31337)
    def vecs(ids: Range, offset: Double) = ids.map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1 + offset), (i % 10)))
        .toDF("vec_id", "embedding", "label")
    val dir = s"/tmp/graft-test-ivfsplit-${java.util.UUID.randomUUID()}"
    vecs(0 until 300, 0.0).coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    ops.Ann.ensureIvfIndex(spark, dir)
    // quiet index: the split job is a no-op
    assert(!ops.Ann.ivfSplitHotCells(spark, dir),
      "no appends -> nothing to split")
    // drifted append: all 60 land in ONE frozen cell (the hot cell)
    vecs(1000 until 1060, 5.0).coalesce(1).write.mode("append")
      .parquet(s"$dir/embeddings.parquet")
    val idx1 = ops.Ann.ensureIvfIndex(spark, dir)
    val before = spark.read.parquet(s"$idx1/assignments")
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    val hotCell = before(1000L)
    assert((1000L until 1060L).forall(before(_) == hotCell),
      "drifted appends should concentrate in one cell")
    val nCentsBefore = spark.read.parquet(s"$idx1/centroids").count()
    // the split is INDEX-ONLY maintenance: corrupt the corpus in place
    // (manifest identity kept) — the split must succeed anyway, because
    // it reads the stored quantized vectors, never a corpus byte (a
    // full refit here would die on the parquet footer)
    val fs = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet"))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .foreach { st =>
        val (len, mtime) = (st.getLen, st.getModificationTime)
        val out = fs.create(st.getPath, true)
        try out.write(new Array[Byte](len.toInt)) finally out.close()
        fs.setTimes(st.getPath, mtime, -1)
      }
    assert(ops.Ann.ivfSplitHotCells(spark, dir), "hot cell must split")
    val idx2 = ops.Ann.ensureIvfIndex(spark, dir)
    assert(idx2 != idx1 && idx2.contains("-r"),
      s"split must publish a new generation: $idx1 -> $idx2")
    val after = spark.read.parquet(s"$idx2/assignments")
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    assert(after.size == 360)
    // cold cells verbatim: every vector outside the hot cell keeps its bucket
    before.filter(_._2 != hotCell).foreach { case (id, b) =>
      assert(after(id) == b, s"cold vector $id moved: $b -> ${after(id)}")
    }
    // the split separates the drift from the cell's base members: the
    // appends' new cell contains NO base member of the old hot cell
    val appendCells = (1000L until 1060L).map(after).toSet
    val oldCellBase = before.collect {
      case (id, b) if b == hotCell && id < 1000L => id
    }
    assert(oldCellBase.forall(id => !appendCells.contains(after(id))),
      "split did not separate the drifted mass from the cell's base members")
    // parent retired, two children added; staleness re-baselined quiet
    val cents = spark.read.parquet(s"$idx2/centroids")
    assert(cents.count() == nCentsBefore + 1)
    assert(cents.where(col("cent_id") === hotCell).isEmpty,
      "parent centroid must retire")
    val st = ops.Ann.ivfStaleness(spark, dir).collect().head
    assert(st.getAs[Long]("n_base") == 360L &&
      st.getAs[Long]("n_appended") == 0L && !st.getAs[Boolean]("recluster"),
      s"split must re-baseline the verdict: $st")
    // probes keep working over the split generation (bucket co-membership)
    assert(ops.Ann.simSearchIvfKmeansProbe(spark, dir).count() == 5)
  }

  test("ccLabels: chain graphs converge to the global min across rounds") {
    import spark.implicits._
    // A 7-node path 10-11-...-16 (diameter 6 forces multiple propagation
    // rounds — real MinHash components are cliques and converge in one),
    // a 3-clique with shuffled pair order, and an isolated pair.
    val chain = (10L until 16L).map(i => (i, i + 1))
    val clique = Seq((21L, 22L), (20L, 22L), (20L, 21L))
    val lone = Seq((30L, 31L))
    val labels = ops.Dedup
      .ccLabels((chain ++ clique ++ lone).toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert((10L to 16L).forall(labels(_) == 10L))
    assert((20L to 22L).forall(labels(_) == 20L))
    assert(labels(30L) == 30L && labels(31L) == 30L)
    assert(labels.size == 12) // only docs that appear in >= 1 pair
  }

  test("q_dedup_cc groups the exact dup and its near-dup transitively") {
    // doc 0, its one-token-edit near-dup 100, and its exact copy 200
    // must land in ONE component represented by 0 — the transitive
    // decision pairwise keep-the-min cannot make.
    val labels = ops.Dedup.dedupCc(spark, plantedDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(200L) == 0L)
    assert(labels.get(100L).forall(_ == 0L)) // near-dup joins iff banded with 0
    assert(labels(0L) == 0L)
  }

  test("simhash hot buckets are capped, not exploded") {
    import spark.implicits._
    // 60 docs sharing one simhash flood 4 band buckets; a healthy pair
    // (hamming 1) lives in different buckets and must survive
    val hot = (0 until 60).map(i => (i.toLong, 0xABCD1234L))
    val healthy = Seq((1000L, 0L), (1001L, 1L))
    val sh = (hot ++ healthy).toDF("doc_id", "simhash")
    assert(pairs(ops.Dedup.simhashPairsFromSig(sh)) == Set((1000L, 1001L)))
    val ov = ops.Dedup.simhashBucketOverflow(sh).collect()
    assert(ov.length == 4 && ov.forall(_.getLong(2) == 60L))
    // raising the cap re-admits the hot bucket: C(60,2) + the healthy pair
    assert(ops.Dedup.simhashPairsFromSig(sh, cap = 100).count() == 60L * 59 / 2 + 1)
  }

  test("ngram degenerate shingle is df-capped, not exploded") {
    import spark.implicits._
    // a stopword-like shingle held by 150 docs (> NgramDfCap=100) must
    // not contribute pairs; two docs sharing two healthy shingles must
    // still pair with exact Jaccard over their FULL shingle sets
    val stop = (0 until 150).map(i => (i.toLong, 99999L))
    val healthy = Seq((1000L, 1L), (1000L, 2L), (1000L, 3L),
      (1001L, 1L), (1001L, 2L), (1001L, 4L))
    val postings = (stop ++ healthy).toDF("doc_id", "sh")
    val out = ops.Dedup.ngramPairsFromPostings(postings).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1000L && out.head.getLong(1) == 1001L)
    // |∩|=2 ({1,2}), |A|=|B|=3 → J = 2/(3+3-2) = 0.5
    assert(out.head.getDouble(2) == 0.5)
    val ov = ops.Dedup.ngramDfOverflow(postings).collect()
    assert(ov.length == 1 && ov.head.getLong(0) == 99999L && ov.head.getLong(1) == 150L)
    // raising the cap re-admits the stopword shingle: C(150,2)+1 pairs,
    // clipped to the function's own top-100
    assert(ops.Dedup.ngramPairsFromPostings(postings, cap = 200).count() == 100L)
  }

  test("approx_count_distinct within 10% of exact (#33 tolerance rule)") {
    val d = SparkTestSession.sf0001
    val approx = ops.Relational.aggApproxDistinct(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.Tables.lineitem(spark, d)
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      assert(math.abs(ap - ex) / ex < 0.10, s"flag $k: approx $ap vs exact $ex")
    }
  }

  test("approx_percentile quartiles track exact percentile (rule-8 tolerance)") {
    val d = SparkTestSession.sf0001
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = asMap(ops.Relational.aggApproxQuantile(spark, d))
    val exact = asMap(ops.Relational.aggPercentile(spark, d)
      .select("l_returnflag", "p25", "p50", "p75"))
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (e25, e50, e75)) =>
      val (a25, a50, a75) = approx(k)
      // quantities are 1..50; the 10k-accuracy sketch is exact-rank to
      // within ~1 value at this SF
      Seq((a25, e25), (a50, e50), (a75, e75)).foreach { case (a, e) =>
        assert(math.abs(a - e) <= 2.0, s"flag $k: approx $a vs exact $e")
      }
    }
  }

  test("q_sim_search_ivf_kmeans: deterministic, bucket-pruned, scores exact") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val a = ops.Ann.simSearchIvfKmeans(spark, d)
      .as[(Long, Int, Double)].collect().toSeq
    assert(a.length == 5)
    assert(a.map(_._3).sliding(2).forall(w => w(0) >= w(1)), "not sorted desc")
    assert(a.map(_._2).distinct.length == 1, "results span buckets — not pruned")
    // fixed seed → identical result on a second run
    val b = ops.Ann.simSearchIvfKmeans(spark, d)
      .as[(Long, Int, Double)].collect().toSeq
    assert(a == b)
    // each returned cosine equals the exact brute-force cosine for that id
    val brute = ops.Ann.simSearch(spark, d)
      .as[(Long, Double)].collect().toMap
    // guard against a vacuous pass: the pruned bucket must actually recall
    // some of the brute-force top-10 before the per-id exactness check
    val overlap = a.count(r => brute.contains(r._1))
    assert(overlap >= 3, s"IVF bucket recalled only $overlap of brute-force top-10")
    a.filter(r => brute.contains(r._1)).foreach { case (id, _, c) =>
      assert(math.abs(brute(id) - c) < 1e-12, s"vec $id cos drifted")
    }
  }

  test("IVF argmin BIGINT packing: exact at the boundary, fixture far below it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min => fmin, expr}
    val nlist = ops.Ann.IvfNlist
    // packing k = dist2 * nlist + cent_id is exact iff dist2 never
    // exceeds (Long.Max - (nlist-1)) / nlist; drive the EXACT aggregate
    // expression at that edge: ties at maxSafe must break by cent_id
    // without wrapping, and a strictly smaller dist2 must win
    val maxSafe = (Long.MaxValue - (nlist - 1)) / nlist
    val edge = Seq((1L, maxSafe, 5L), (1L, maxSafe, 3L), (1L, maxSafe - 1, 7L))
      .toDF("vec_id", "dist2", "cent_id")
      .groupBy("vec_id")
      .agg(fmin(col("dist2") * nlist + col("cent_id")).as("k"))
      .select(expr(s"k % $nlist").as("cent"), expr(s"k DIV $nlist").as("d2"))
      .as[(Long, Long)].head()
    assert(edge == ((7L, maxSafe - 1)), s"packing decoded $edge at the boundary")
    // the fixture's quantized magnitudes leave orders-of-magnitude
    // headroom: worst-case dist2 = dims * (2*maxAbsQ)^2 << maxSafe
    val maxQ = spark.read.parquet(s"${SparkTestSession.sf0001}/embeddings.parquet")
      .select(expr("max(array_max(transform(embedding, " +
        "x -> abs(CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)))))"))
      .as[Long].head()
    val worstDist2 = 64L * (2 * maxQ) * (2 * maxQ)
    assert(worstDist2 < maxSafe / 1000,
      s"quantized magnitude $maxQ leaves too little argmin-packing headroom")
  }

  test("q_sim_search_ivf_kmeans_probe: persisted index — fit once, probe many") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val d = SparkTestSession.sf0001
    val dir = ops.Ann.ivfIndexDir(spark, d)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir), true) // force a fresh build
    val p1 = ops.Ann.simSearchIvfKmeansProbe(spark, d)
      .as[(Long, Int, Double)].collect().toSeq
    val success = new Path(s"$dir/assignments/_SUCCESS")
    assert(fs.exists(success), "first probe did not persist the index")
    val builtAt = fs.getFileStatus(success).getModificationTime
    // second probe: identical result, and the index is NOT rebuilt —
    // the production contract (training job once, probes forever)
    val p2 = ops.Ann.simSearchIvfKmeansProbe(spark, d)
      .as[(Long, Int, Double)].collect().toSeq
    assert(p1 == p2)
    assert(fs.getFileStatus(success).getModificationTime == builtAt,
      "second probe retrained and rewrote the index")
    // the persisted-index probe returns exactly the per-run form's rows
    val perRun = ops.Ann.simSearchIvfKmeans(spark, d)
      .as[(Long, Int, Double)].collect().toSeq
    assert(p1 == perRun, "persisted-index probe drifted from fit-and-probe")
    // centroid table: k=8 centers, full embedding dimensionality — the
    // state that assigns FUTURE query vectors without a refit
    val cents = spark.read.parquet(s"$dir/centroids")
    assert(cents.count() == 8)
    assert(cents.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("center"))).as[Int].collect().forall(_ == 64))
  }

  test("q_sim_search_lsh: bucket-pruned, scores exact, recalls brute-force neighbors") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val a = ops.Ann.simSearchLsh(spark, d)
      .as[(Long, Int, Double)].collect().toSeq
    assert(a.nonEmpty && a.length <= 5)
    assert(a.map(_._2).distinct.length == 1, "results span buckets — not pruned")
    assert(a.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)), "not sorted desc")
    val brute = ops.Ann.simSearch(spark, d)
      .as[(Long, Double)].collect().toMap
    val overlap = a.count(r => brute.contains(r._1))
    assert(overlap >= 1, "LSH bucket recalled none of the brute-force top-10")
    a.filter(r => brute.contains(r._1)).foreach { case (id, _, c) =>
      assert(math.abs(brute(id) - c) < 1e-12, s"vec $id cos drifted")
    }
  }

  test("multi-probe ANN recall is >= single-probe (ivf nprobe=2, lsh bit-flip)") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    // ground truth: brute-force top-5 neighbors of the probe
    val brute5 = ops.Ann.simSearch(spark, d)
      .as[(Long, Double)].collect().take(5).map(_._1).toSet
    def recall(rows: Seq[(Long, _, Double)]): Double =
      rows.map(_._1).toSet.intersect(brute5).size.toDouble / brute5.size
    val ivf1 = ops.Ann.simSearchIvf(spark, d).as[(Long, Long, Double)].collect().toSeq
    val ivf2 = ops.Ann.simSearchIvf2(spark, d).as[(Long, Long, Double)].collect().toSeq
    val lsh1 = ops.Ann.simSearchLsh(spark, d).as[(Long, Int, Double)].collect().toSeq
    val lshMp = ops.Ann.simSearchLshMp(spark, d).as[(Long, Int, Double)].collect().toSeq
    // a wider probe can only add candidates, so recall is monotone
    assert(recall(ivf2) >= recall(ivf1),
      s"ivf nprobe=2 recall ${recall(ivf2)} < nprobe=1 ${recall(ivf1)}")
    assert(recall(lshMp) >= recall(lsh1),
      s"lsh multi-probe recall ${recall(lshMp)} < single ${recall(lsh1)}")
    // the single-probe result embeds in the multi-probe one: every
    // single-probe hit reappears with the identical exact cosine
    val ivf2Map = ivf2.map(r => r._1 -> r._3).toMap
    val mpMap = lshMp.map(r => r._1 -> r._3).toMap
    // top-5 lists can differ only by multi-probe finding BETTER rows:
    // any single-probe row absent from multi's top-5 must be out-scored
    ivf1.foreach { case (id, _, c) =>
      assert(ivf2Map.contains(id) && math.abs(ivf2Map(id) - c) < 1e-12 ||
        ivf2Map.values.count(_ >= c - 1e-12) >= 5,
        s"ivf2 lost single-probe hit $id without out-scoring it")
    }
    lsh1.foreach { case (id, _, c) =>
      assert(mpMap.contains(id) && math.abs(mpMap(id) - c) < 1e-12 ||
        mpMap.values.count(_ >= c - 1e-12) >= 5,
        s"lsh_mp lost single-probe hit $id without out-scoring it")
    }
    // both multi-probe variants return a full (or fuller) result set
    assert(ivf2.length >= ivf1.length && lshMp.length >= lsh1.length)
  }

  test("q_sim_search_pq: ADC reconstructs codebook vectors exactly; top-5 is the scan's head") {
    val d = SparkTestSession.sf0001
    val all = ops.Ann.pqAdcAll(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // codebook vectors' codes reconstruct them losslessly, so their
    // APPROXIMATE distance must equal the EXACT integer squared-L2 to
    // the probe — the identity that makes PQ's error model analyzable
    val e = graft.Tables.embeddings(spark, d).selectExpr("vec_id",
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
    val q0 = e.where(col("vec_id") === 0).head.getSeq[Long](1)
    e.where(col("vec_id") > 0 && col("vec_id") < ops.Ann.PqK)
      .collect().foreach { r =>
        val v = r.getLong(0)
        val exact = q0.zip(r.getSeq[Long](1))
          .map { case (a, b) => (a - b) * (a - b) }.sum
        assert(all(v) == exact, s"vec $v: ADC ${all(v)} != exact $exact")
      }
    assert(all.values.forall(_ >= 0L), "negative approximate distance")
    // every non-probe vector got encoded (no row lost in the code join)
    assert(all.size == e.count() - 1)
    // the registered query is exactly the full scan's (adist2, vec_id) head
    val top = ops.Ann.simSearchPq(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expTop = all.toSeq.sortBy { case (id, ad) => (ad, id) }.take(5)
    assert(top == expTop)
  }

  test("q_sim_search_ivfpq: plain-Scala witness equality, residual refinement, recall floors") {
    val d = SparkTestSession.sf0001
    // ---- independent plain-Scala IVF-PQ over the collected corpus:
    // same geometry, zero shared query code — the witness the whole
    // distributed pipeline must reproduce EXACTLY (integer math)
    val e = graft.Tables.embeddings(spark, d).selectExpr("vec_id",
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val nlist = ops.Ann.IvfNlist
    val pqM = ops.Ann.PqM; val pqSub = ops.Ann.PqSubDim
    val pqK = ops.Ann.PqK
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def argmin(ds: Seq[Long]): Int = ds.zipWithIndex.minBy { case (v, i) => (v, i) }._2
    val cents = (0 until nlist).map(c => e(c.toLong))
    val cell = e.map { case (v, q) => v -> argmin(cents.map(d2(_, q))) }
    val resid = e.map { case (v, q) =>
      v -> q.zip(cents(cell(v))).map { case (x, y) => x - y } }
    def sub(r: Array[Long], j: Int) = r.slice(j * pqSub, j * pqSub + pqSub)
    val cb = (0 until pqK).map(c => resid((pqK + c).toLong)) // residuals of 8..15
    val codes = resid.map { case (v, r) =>
      v -> (0 until pqM).map(j => argmin(cb.map(cv => d2(sub(cv, j), sub(r, j))))) }
    val probed = (0 until nlist).sortBy(c => (d2(cents(c), e(0L)), c)).take(
      ops.Ann.IvfPqNprobe).toSet
    val expected = e.keys.filter(v => v != 0L && probed(cell(v))).map { v =>
      val pc = cell(v)
      val pr = e(0L).zip(cents(pc)).map { case (x, y) => x - y }
      val ad = (0 until pqM).map(j => d2(sub(cb(codes(v)(j)), j), sub(pr, j))).sum
      (v, pc.toLong, ad)
    }.toSet
    val all = ops.Ann.ivfPqAdcAll(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(all == expected,
      s"distributed IVF-PQ diverged from the plain-Scala witness " +
        s"(${(all -- expected).take(3)} vs ${(expected -- all).take(3)})")
    // ---- ADC identity: codebook vectors' codes reconstruct their
    // residual losslessly, and probe/candidate residuals share the
    // probed cell's centroid, so adist2 == EXACT |q0 - qv|²
    val adist = all.map(t => t._1 -> t._3).toMap
    val exact = e.collect { case (v, q) if v != 0L => v -> d2(e(0L), q) }.toMap
    val cbInProbed = (pqK until 2 * pqK).map(_.toLong).filter(adist.contains)
    assert(cbInProbed.nonEmpty, "no codebook vector landed in a probed cell")
    cbInProbed.foreach { v =>
      assert(adist(v) == exact(v), s"cb vec $v: ADC ${adist(v)} != exact ${exact(v)}")
    }
    // ---- the reason IVF-PQ quantizes RESIDUALS: within the probed
    // cells, residual-ADC distances track exact distances strictly
    // better than raw-PQ ADC (q_sim_search_pq's full-corpus scan)
    val rawAdc = ops.Ann.pqAdcAll(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val errResid = adist.map { case (v, a) => math.abs(a - exact(v)).toDouble }.sum
    val errRaw = adist.keys.map(v => math.abs(rawAdc(v) - exact(v)).toDouble).sum
    assert(errResid < errRaw,
      s"residual quantization did not refine: $errResid !< $errRaw")
    // ---- recall floors (non-vacuous prune + non-vacuous ordering):
    // the probed cells must hold brute-force neighbors, and the
    // registered top-5 must recall at least one
    val top5Exact = exact.toSeq.sortBy { case (v, dd) => (dd, v) }.take(5).map(_._1).toSet
    assert(top5Exact.count(adist.contains) >= 3,
      "coarse prune lost the brute-force neighborhood")
    val top = ops.Ann.simSearchIvfPq(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expTop = all.toSeq.sortBy { case (v, _, ad) => (ad, v) }.take(5)
    assert(top == expTop, "registered query is not the ADC scan's head")
    assert(top.map(_._1).count(top5Exact) >= 1,
      "IVF-PQ top-5 recalled none of the exact top-5")
  }

  test("bpeTrainDeep K=64 matches a plain-Scala reference BPE merge-for-merge") {
    import spark.implicits._
    // seeded fixture: 40 distinct 8-char words over {a..f} with skewed
    // repetition — enough pair mass that 64 merges never exhaust, small
    // enough that a plain-Scala trainer is instant
    val rnd = new scala.util.Random(7)
    val words = (0 until 40).map(_ => (0 until 8).map(_ => "abcdef"(rnd.nextInt(6))).mkString)
    val weighted = words.zipWithIndex.flatMap { case (w, i) => Seq.fill(i % 7 + 1)(w) }
    val docs = (0 until 50).map { di =>
      (di.toLong, Seq.fill(30)(weighted(rnd.nextInt(weighted.length))).mkString(" "))
    }
    val dir = s"/tmp/graft-test-bpe-${java.util.UUID.randomUUID()}"
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // ---- independent plain-Scala BPE: distinct-word frequencies,
    // weighted adjacent-pair counts, (n desc, lhs, rhs) winner, greedy
    // leftmost-nonoverlapping merge — zero shared code with the engine
    var state: Map[Vector[String], Long] = docs.flatMap(_._2.split(' '))
      .filter(_.length >= 2).groupBy(identity)
      .map { case (w, xs) => w.split("").toVector -> xs.length.toLong }
    val expected = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var it = 1
    while (it <= 64 && state.keys.exists(_.length >= 2)) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      state.foreach { case (sy, n) =>
        var i = 0
        while (i + 1 < sy.length) {
          val k = (sy(i), sy(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + n
          i += 1
        }
      }
      val ((lhs, rhs), n) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
      expected += ((it, lhs, rhs, n))
      state = state.toSeq.map { case (sy, wn) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < sy.length) {
          if (i + 1 < sy.length && sy(i) == lhs && sy(i + 1) == rhs) {
            out += lhs + rhs; i += 2
          } else { out += sy(i); i += 1 }
        }
        out.result() -> wn
      }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
      it += 1
    }
    val got = ops.Bpe.bpeTrainDeep(spark, dir, 64)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got.length == 64, s"fixture exhausted early: ${got.length} merges")
    assert(got == expected.toSeq,
      s"first divergence: ${got.zip(expected).find { case (a, b) => a != b }}")
  }

  test("q_sample_stratified: deterministic subset with per-stratum rates") {
    val d = SparkTestSession.sf0001
    val a = ops.Sampling.sampleStratified(spark, d).collect()
    val b = ops.Sampling.sampleStratified(spark, d).collect()
    assert(a.toSeq == b.toSeq, "seeded sample not deterministic")
    val srcIds = graft.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.forall(r => srcIds.contains(r.getLong(0))), "sample not a subset")
    // the fraction map is the whitelist: nothing outside it may appear
    assert(a.forall(r => ops.Sampling.SampleFractions.contains(r.getString(1))),
      "sample leaked a language outside the configured mix")
    // per-stratum rate sanity: en downsampled hard vs the rest
    val byLang = a.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val totals = graft.Tables.documents(spark, d).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ops.Sampling.SampleFractions.foreach { case (lang, f) =>
      val got = byLang.getOrElse(lang, 0).toDouble / totals(lang)
      assert(math.abs(got - f) < 0.25, s"$lang: rate $got vs target $f")
    }
  }

  test("q_mix_temperature: shares normalize and flatten the source distribution") {
    val d = SparkTestSession.sf0001
    val rows = ops.Sampling.mixTemperature(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // shares are a probability vector in ppm (floor division loses < 1
    // ppm per source)
    val sum = rows.map(_._3).sum
    assert(sum <= 1000000L && sum > 1000000L - rows.length,
      s"shares sum to $sum ppm")
    // temperature flattens but preserves order: for every source pair,
    // the share ratio is between 1 and the token ratio
    for (a <- rows; b <- rows if a._2 > b._2) {
      assert(a._3 >= b._3 - 1, s"${a._1} vs ${b._1}: order inverted")
      val tokRatio = a._2.toDouble / b._2
      val shareRatio = a._3.toDouble / b._3
      assert(shareRatio <= tokRatio + 1e-3,
        s"${a._1}/${b._1}: share ratio $shareRatio exceeds token ratio $tokRatio")
      // √-scaling: the share ratio should be ≈ sqrt(token ratio)
      assert(math.abs(shareRatio - math.sqrt(tokRatio)) < 0.01 * shareRatio,
        s"${a._1}/${b._1}: share ratio $shareRatio vs sqrt(token ratio) ${math.sqrt(tokRatio)}")
    }
  }

  test("pipeline ops: packing bins respect the budget; decontamination excludes the benchmark") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    // packing: within a shard, bins are monotone non-decreasing with no
    // skips, and a bin's exclusive prefix always starts under budget
    // (boundary packing: a bin overflows by at most its last document)
    val packed = ops.Sampling.packSequences(spark, d)
      .as[(Long, String, Long, Long)].collect().toSeq
    packed.groupBy(_._2).foreach { case (src, rows) =>
      val bins = rows.sortBy(_._1).map(_._4)
      assert(bins.head == 0L, s"$src: first bin ${bins.head}")
      bins.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(1) == w(0) || w(1) == w(0) + 1 || w(1) > w(0),
            s"$src: bins not monotone: $w")
      }
      assert(bins.sliding(2).forall(w => w.length < 2 || w(1) >= w(0)))
      // bin id = exclusive-cumsum DIV budget recomputed independently
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, n, bin) =>
        assert(bin == cum / ops.Sampling.PackBudget, s"doc $id bin $bin")
        cum += n
      }
    }
    // decontamination: the benchmark docs themselves never appear, and
    // every n_hits is consistent with an actual shared shingle
    val report = ops.Dedup.decontaminate(spark, d)
      .as[(Long, Long)].collect().toMap
    assert(report.keys.forall(_ % 20 != 0), "benchmark doc leaked into the report")
    assert(report.values.forall(_ >= 0L))
    // flagged docs really share a shingle hash with the bench set
    val postings = ops.Dedup.ngramPostings(spark, d)
    val benchSh = postings.where($"doc_id" % 20 === 0)
      .select("sh").distinct().as[Long].collect().toSet
    val some = report.filter(_._2 > 0).keys.take(3)
    some.foreach { id =>
      val docSh = postings.where($"doc_id" === id).select("sh").as[Long].collect().toSet
      assert(docSh.intersect(benchSh).nonEmpty, s"doc $id flagged with no shared shingle")
    }
  }

  test("q_text_tfidf ranks a document's burst term over corpus-wide terms") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-tfidf-${java.util.UUID.randomUUID()}"
    Seq(
      (1L, "apple apple apple common common", "en", "s0", 31L),
      (2L, "banana common common common extra", "en", "s0", 33L),
      (3L, "common extra extra plain words here", "en", "s0", 35L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.textTfidf(spark, dir)
      .as[(Long, Int, String, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // doc 1: apple tf=3 df=1 → 3·10⁶·3/1 = 9e6, beats common tf=2 df=3 → 2e6
    assert(got(1L).head._3 == "apple" && got(1L).head._6 == 9000000L)
    assert(got(2L).head._3 == "banana")
    // score is exactly tf·10⁶·N DIV df for every emitted row
    got.values.flatten.foreach { case (_, _, _, tf, df, score) =>
      assert(score == tf * 1000000L * 3L / df)
    }
  }

  test("q_quality_filter: each rule fires on its crafted document, in rule order") {
    import spark.implicits._
    val longToks = (Seq.fill(23)("abcdefghij") ++ Seq("the", "the")).mkString(" ")
    val docs = Seq(
      (1L, "a b c", "short doc"),                                // too_short
      (2L, (1 to 30).map(i => s"tok$i").mkString(" "), "no stopwords"), // low_stopword
      (3L, longToks, "huge tokens"),                             // long_tokens
      (4L, Seq.fill(30)("the cat sat").mkString(" "), "loops"),  // repetitive
      (5L, "the quick brown fox is a lazy dog of note and we ran far " +
        "too fast over old red hill near my home today", "fine")
    ).map { case (id, text, _) => (id, text, "en", "s0", text.length.toLong) }
    val dir = s"/tmp/graft-test-qf-${java.util.UUID.randomUUID()}"
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.qualityFilter(spark, dir)
      .as[(Long, Boolean, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((false, "too_short")))
    assert(got(2L) == ((false, "low_stopword")))
    assert(got(3L) == ((false, "long_tokens")))
    assert(got(4L) == ((false, "repetitive")))
    assert(got(5L) == ((true, "ok")))
  }

  test("q_dedup_keep_best keeps the longest copy, min id on ties") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-kb-${java.util.UUID.randomUUID()}"
    Seq(
      (1L, "hello world"),    // 11 chars
      (2L, " hello world "),  // 13 chars, same normalized text → wins
      (3L, "abc"), (4L, "abc"), // tie → min id 3
      (5L, "unique text")
    ).map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Dedup.dedupKeepBest(spark, dir)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(2L -> ((13L, 2L)), 3L -> ((3L, 2L)), 5L -> ((11L, 1L))))
  }

  test("ccLabels ≡ union-find on random graphs (chains, cycles, stars, forests)") {
    import spark.implicits._
    // deterministic seed: the point is diverse shapes, not fresh ones
    val rnd = new scala.util.Random(4242)
    (0 until 5).foreach { trial =>
      val n = 12 + rnd.nextInt(20)
      val pairs = (0 until n).map { _ =>
        val a = rnd.nextInt(40).toLong
        val b = a + 1 + rnd.nextInt(5) // a < b always; gaps leave forests
        (a, b)
      }.distinct
      // reference: plain union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(v => v -> find(v)).toMap
      val got = ops.Dedup.ccLabels(pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: $pairs")
    }
  }

  test("q_dedup_cluster_stats agrees with the cc labels and reclaims the dropped chars") {
    import spark.implicits._
    val labels = ops.Dedup.dedupCc(spark, plantedDir)
      .as[(Long, Long)].collect().toSeq
    val chars = spark.read.parquet(s"$plantedDir/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val expected = labels.groupBy(_._2).map { case (rep, members) =>
      rep -> ((members.size.toLong, members.size.toLong - 1,
        members.collect { case (id, _) if id != rep => chars(id) }.sum))
    }
    val got = ops.Dedup.dedupClusterStats(spark, plantedDir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    // the planted cluster {0, 100, 200} rolls up under rep 0
    assert(got(0L)._1 >= 3L)
  }

  test("keep-best packing: exact at the caps' boundary") {
    import spark.implicits._
    val charMax = ops.Dedup.KbCharCap - 1  // largest encodable n_chars
    val idMax = ops.Dedup.KbIdCap - 1      // largest encodable doc_id
    val dir = s"/tmp/graft-test-kbb-${java.util.UUID.randomUUID()}"
    // same normalized text; the boundary-sized copy must win, and the
    // boundary doc_id must decode intact from the packed minimum
    Seq((idMax, "dup text", charMax), (7L, "dup text", 10L),
      (idMax - 1, "other", 0L))
      .map { case (id, t, n) => (id, t, "en", "s0", n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Dedup.dedupKeepBest(spark, dir)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(idMax -> ((charMax, 2L)), (idMax - 1) -> ((0L, 1L))))
  }

  test("q_decontaminate_bloom ≡ q_decontaminate (prefilter is result-neutral)") {
    val d = SparkTestSession.sf0001
    val exact = SqlSurface.canon(ops.Dedup.decontaminate(spark, d))
    val bloom = SqlSurface.canon(ops.Dedup.decontaminateBloom(spark, d))
    assert(exact == bloom)
  }

  test("q_source_overlap: bounded ratios, ordered pairs, single-source corpus is empty") {
    import spark.implicits._
    val rows = ops.Dedup.sourceOverlap(spark, SparkTestSession.sf0001)
      .as[(String, String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, shared, ppm) =>
      assert(a < b, s"unordered pair ($a, $b)")
      assert(shared >= 1 && ppm >= 0 && ppm <= 1000000L,
        s"($a, $b): n_shared=$shared ppm=$ppm out of range")
    }
    // the planted corpus is all src0 → no cross-source pairs at all
    assert(ops.Dedup.sourceOverlap(spark, plantedDir).isEmpty)
  }

  test("q_embed_centroids: exact integer mean, recomputed per label from raw vectors") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val raw = spark.read.parquet(s"$d/embeddings.parquet")
      .select($"label".cast("long"), $"embedding")
      .as[(Long, Seq[Float])].collect()
    val expected = raw.groupBy(_._1).flatMap { case (label, vs) =>
      val qs = vs.map(_._2.map(x => math.round(x.toDouble * 1000)))
      // per-dim count: exact even if vectors were ragged
      qs.flatMap(_.zipWithIndex).groupBy(_._2).map { case (dim, cells) =>
        val n = cells.size
        (label, dim.toLong) -> cells.map(_._1).sum * 1000 / n
      }
    }
    val got = ops.Ann.embedCentroids(spark, d)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == expected)
  }

  test("q_boilerplate_score: planted shared phrase across >cap docs scores exactly") {
    import spark.implicits._
    // 25 docs share the shingle "the quick fox" (df = 25 > cap = 20);
    // each doc's other 3 shingles are unique → n_common = 1, n_sh = 4,
    // ppm = 250000 exactly
    val dir = s"/tmp/graft-test-boiler-${java.util.UUID.randomUUID()}"
    (0 until 25).map { i =>
      (i.toLong, s"the quick fox u$i v$i w$i", "en", "src0", 20L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Dedup.boilerplateScore(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === 25)
    got.foreach { case (id, nSh, nCommon, ppm) =>
      assert(nSh === 4L, s"doc $id shingle count")
      assert(nCommon === 1L, s"doc $id common count")
      assert(ppm === 250000L, s"doc $id ppm")
    }
    // control: a corpus with no shared shingles scores 0 everywhere
    val dir2 = s"/tmp/graft-test-boiler-${java.util.UUID.randomUUID()}"
    (0 until 5).map(i => (i.toLong, s"a$i b$i c$i d$i", "en", "src0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir2/documents.parquet")
    assert(ops.Dedup.boilerplateScore(spark, dir2)
      .as[(Long, Long, Long, Long)].collect().forall(r => r._3 == 0L && r._4 == 0L))
  }

  test("corpus memos miss after a same-path fixture rewrite (postings/banded staleness)") {
    import spark.implicits._
    // The session memos behind ngramPostings/minhashBanded key on the
    // corpus mtime; a fixture regenerated AT THE SAME PATH must miss —
    // otherwise every postings consumer silently answers from the old
    // corpus (the Derived.ensure staleness rule applied to session
    // state; r12's IVF-index bug was exactly this class).
    val dir = s"/tmp/graft-test-memostale-${java.util.UUID.randomUUID()}"
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write((0 until 25).map(i => s"the quick fox u$i v$i w$i"))
    val before = ops.Dedup.boilerplateScore(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(before.length == 25 && before.forall(_._4 == 250000L))
    val sigBefore = ops.Dedup.queries("q_dedup_minhash_sig")(spark, dir)
      .where(col("doc_id") === 0 && col("band") === 0)
      .select("band_key").as[String].head()
    val vocabBefore = ops.Bpe.queries("q_bpe_apply")(spark, dir)
      .as[(String, Long)].collect().toSet
    // rewrite at the SAME path with no shared phrase; bump the dir
    // mtime explicitly so coarse-granularity filesystems can't alias
    // the two corpora under one memo key
    write((0 until 25).map(i => s"a$i b$i c$i d$i e$i f$i"))
    val f = new java.io.File(s"$dir/documents.parquet")
    assert(f.setLastModified(f.lastModified() + 2000))
    val after = ops.Dedup.boilerplateScore(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(after.length == 25 && after.forall(_._4 == 0L),
      "stale postings memo served after a same-path corpus rewrite")
    val sigAfter = ops.Dedup.queries("q_dedup_minhash_sig")(spark, dir)
      .where(col("doc_id") === 0 && col("band") === 0)
      .select("band_key").as[String].head()
    assert(sigAfter != sigBefore,
      "stale banded-signature memo served after a same-path corpus rewrite")
    val vocabAfter = ops.Bpe.queries("q_bpe_apply")(spark, dir)
      .as[(String, Long)].collect().toSet
    assert(vocabAfter != vocabBefore,
      "stale BPE-loop memo served after a same-path corpus rewrite")
  }

  test("q_bpe_pairs: planted corpus yields exact char-pair counts and order") {
    import spark.implicits._
    // words: "aaab" → pairs aa, aa, ab; "aab" → aa, ab; "xy" → xy;
    // "z" (1 char) and "" (null text row) contribute nothing.
    // Totals: aa=3, ab=2, xy=1 — order (n desc, pair asc) is total.
    val dir = s"/tmp/graft-test-bpe-${java.util.UUID.randomUUID()}"
    Seq(
      (1L, "aaab aab", "en", "src0", 8L),
      (2L, "xy z", "en", "src0", 4L),
      (3L, null.asInstanceOf[String], "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Bpe.queries("q_bpe_pairs")(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("aa", 3L), ("ab", 2L), ("xy", 1L)))
  }

  test("q_bpe_train: three merge iterations match hand-run canonical BPE") {
    import spark.implicits._
    // words: "aaaaa"×2, "abab", "xy".
    // iter 1: (a,a) weighted 4·2=8 wins; the greedy leftmost pass turns
    //   each "aaaaa" into [aa, aa, a] — the same-symbol-run case where a
    //   shared-delimiter encoding would under-merge to [aa, a, aa].
    // iter 2: (aa,aa)=2, (aa,a)=2, (a,b)=2 tie on count — lhs asc breaks
    //   it: "a" < "aa", so (a,b,2) wins and "abab" → [ab, ab].
    // iter 3: (aa,a) beats (aa,aa) on rhs asc at n=2.
    val dir = s"/tmp/graft-test-bpetrain-${java.util.UUID.randomUUID()}"
    Seq(
      (1L, "aaaaa aaaaa abab", "en", "src0", 16L),
      (2L, "xy z", "en", "src0", 4L),
      (3L, null.asInstanceOf[String], "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Bpe.queries("q_bpe_train")(spark, dir)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((1, "a", "a", 8L), (2, "a", "b", 2L), (3, "aa", "a", 2L)))

    // q_bpe_apply on the same corpus: the three merges encode
    // "aaaaa" → [aa, aaa] (merge 3's greedy pass lands on the SECOND
    // aa — leftmost (aa,a) adjacency), "abab" → [ab, ab], "xy" → [x, y];
    // weighted by word frequency (aaaaa×2) the vocabulary is exact.
    val vocab = ops.Bpe.queries("q_bpe_apply")(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(vocab === Seq(("aa", 2L), ("aaa", 2L), ("ab", 2L), ("x", 1L), ("y", 1L)))
  }

  test("q_pii_scan: planted emails and long digit runs are counted exactly") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-pii-${java.util.UUID.randomUUID()}"
    Seq(
      (1L, "contact me at jane.doe@example.com or j+tag@sub.domain.org thanks"),
      (2L, "my card 4111111111111111 and pin 123456 and short 12345"),
      (3L, "clean text with no sensitive content at all"),
      (4L, null.asInstanceOf[String]))
      .map { case (id, t) => (id, t, "en", "src0", 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.piiScan(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((2L, 0L, true)))
    assert(got(2L) === ((0L, 2L, true)), "16-digit card + 6-digit pin; 5-digit ignored")
    assert(got(3L) === ((0L, 0L, false)))
    assert(got(4L) === ((0L, 0L, false)), "null text is clean, not an error")
    // redaction: same fixtures, placeholders in place, counts match scan
    val red = ops.TextQuality.piiRedact(spark, dir)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(red(1L)._1 === "contact me at <EMAIL> or <EMAIL> thanks")
    assert(red(1L)._2 === 2L)
    assert(red(2L)._1 === "my card <NUMBER> and pin <NUMBER> and short 12345")
    assert(red(2L)._2 === 2L)
    assert(red(3L) === (("clean text with no sensitive content at all", 0L)))
    assert(red(4L) === (("", 0L)))
  }

  test("q_embed_outliers: planted far vector wins; K caps per label; partial group-limit pre-shuffle") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-outlier-${java.util.UUID.randomUUID()}"
    // label 0: four vectors at (1,0), one planted at (-1,0).
    // q = (±1000, 0); per-dim S = (3000, 0), n = 5.
    // dev(dim0) = 5q − 3000 → ±2000 for the cluster, −8000 for the
    // plant: scores 4e6 vs 64e6 — the plant ranks first.
    // label 1: seven identical vectors → all scores 0; top-K keeps the
    // five lowest vec_ids (tie → vec_id asc).
    val rows =
      (1 to 4).map(i => (i.toLong, Seq(1.0f, 0.0f), 0)) ++
        Seq((5L, Seq(-1.0f, 0.0f), 0)) ++
        (10 to 16).map(i => (i.toLong, Seq(0.5f, 0.5f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = ops.Ann.embedOutliers(spark, dir)
      .as[(Int, Long, Long)].collect().toSeq
    assert(got.filter(_._1 == 0) === Seq(
      (0, 5L, 64000000L), (0, 1L, 4000000L), (0, 2L, 4000000L),
      (0, 3L, 4000000L), (0, 4L, 4000000L)))
    assert(got.filter(_._1 == 1) ===
      (10 to 14).map(i => (1, i.toLong, 0L)),
      "K must cap at 5 per label with ties broken by vec_id")
    // the label window is scale-safe only because the rank filter runs
    // as a PARTIAL WindowGroupLimit before the label-keyed exchange
    // (≤ K rows per label leave each map task) — pin that plan shape
    val plan = ops.Ann.embedOutliers(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected a partial pre-shuffle group limit:\n$plan")
  }

  test("q_embed_quantize: codes hit min/max/mid exactly; degenerate dim → 0; codebook broadcast") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-sq8-${java.util.UUID.randomUUID()}"
    // dim0 milli range [0, 1000], dim1 [-1000, 1000], dim2 constant
    Seq(
      (1L, Seq(0.0f, -1.0f, 0.7f), 0),
      (2L, Seq(1.0f, 1.0f, 0.7f), 0),
      (3L, Seq(0.5f, 0.0f, 0.7f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = ops.Ann.embedQuantize(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 0L, 0L), (1L, 1L, 0L), (1L, 2L, 0L),
      (2L, 0L, 255L), (2L, 1L, 255L), (2L, 2L, 0L),
      (3L, 0L, 127L), (3L, 1L, 127L), (3L, 2L, 0L)),
      "min→0, max→255, mid→127 (integer DIV), constant dim→0")
    // the dims-sized codebook must come back as a broadcast, never a
    // corpus-side shuffle join
    val plan = ops.Ann.embedQuantize(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the codebook joined via broadcast:\n$plan")
  }

  test("q_ngram_counts: bigram multiplicities exact; 1-token and null docs contribute none; top-k plan") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-ngc-${java.util.UUID.randomUUID()}"
    Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "x"),
      (4L, null.asInstanceOf[String]))
      .map { case (id, t) => (id, t, "en", "src0", 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.ngramCounts(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)),
      "doc1 yields 'a b','b a','a b'; doc2 'a b','b c'; doc3/doc4 nothing")
    // the global sort must never materialize: order+limit fuse into a
    // per-partition-heads TakeOrderedAndProject
    val plan = ops.TextQuality.ngramCounts(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected top-k via TakeOrderedAndProject:\n$plan")
  }

  test("q_budget_select: whole-bucket greedy selection cuts after the budget-crossing bucket") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-budget-${java.util.UUID.randomUUID()}"
    // bucket 20: 10 pure-stopword tokens; bucket 10: 30k half-stopword
    // tokens (crosses the 20k budget); bucket 0: no stopwords + a null
    // doc ('' → 1 token, 0 stopwords)
    Seq(
      (1L, Seq.fill(10)("the").mkString(" ")),
      (2L, Seq.fill(15000)("the x").mkString(" ")),
      (3L, "x z"),
      (4L, null.asInstanceOf[String]))
      .map { case (id, t) => (id, t, "en", "src0", 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.budgetSelect(spark, dir)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      (20L, 1L, 10L, 10L, true),
      (10L, 1L, 30000L, 30010L, true),
      (0L, 2L, 3L, 30013L, false)),
      "best bucket in, budget-crossing bucket in (overflow-by-one), rest out")
  }

  test("q_quality_drift: identical distributions → 0; disjoint → 1e6 ppm; one-sided buckets count") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-drift-${java.util.UUID.randomUUID()}"
    // srcA and srcB: identical histograms (2 docs at bucket 10, 2 at 0)
    // srcC: all 3 docs at bucket 10 — vs A/B: |1e6−500000|+|0−500000| = 1e6 → TVD 500000
    val half = "the x"   // 500000 ppm → bucket 5... (1 stop of 2) → bucket 10
    val none = "x z"     // bucket 0
    val rows =
      Seq((1L, half, "srcA"), (2L, half, "srcA"), (3L, none, "srcA"), (4L, none, "srcA"),
        (5L, half, "srcB"), (6L, half, "srcB"), (7L, none, "srcB"), (8L, none, "srcB"),
        (9L, half, "srcC"), (10L, half, "srcC"), (11L, half, "srcC"))
    rows.map { case (id, t, src) => (id, t, "en", src, 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.qualityDrift(spark, dir)
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(
      ("srcA", "srcB", 0L),
      ("srcA", "srcC", 500000L),
      ("srcB", "srcC", 500000L)),
      "TVD: identical → 0; half-vs-all mass shifted → 500000 ppm " +
        "(srcC's empty bucket-0 row must still count via the densified grid)")
  }

  test("q_dedup_verify: every candidate pair carries its TRUE shingle-set Jaccard") {
    import spark.implicits._
    val got = ops.Dedup.dedupVerify(spark, plantedDir)
      .select(col("doc_a"), col("doc_b"), col("jaccard_ppm"), col("is_dup"))
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    // Independent ground truth: true shingle sets from the same corpus.
    val texts = spark.read.parquet(s"$plantedDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    def shingleSet(t: String): Set[String] = {
      val tk = t.split(' ')
      if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSet else Set(t)
    }
    assert(got.map(p => (p._1, p._2)).contains((0L, 200L)),
      "the exact-dup candidate pair must survive verification")
    got.foreach { case (a, b, jac, dup) =>
      val (sa, sb) = (shingleSet(texts(a)), shingleSet(texts(b)))
      val inter = (sa & sb).size.toLong
      val expected = inter * 1000000L / (sa.size + sb.size - inter)
      assert(jac === expected, s"pair ($a,$b): engine ppm $jac != true set ppm $expected")
      assert(dup === (expected >= ops.Dedup.VerifyDupPpm), s"pair ($a,$b) flag")
    }
    assert(got.filter(p => p._1 == 0L && p._2 == 200L).head._3 === 1000000L,
      "exact dup verifies at exactly 1e6 ppm")
  }

  test("q_split_assign: hash-stable assignment matches an independent md5 recompute") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-split-${java.util.UUID.randomUUID()}"
    val rows = (1L to 400L).map(i => (i, s"tok a b c d$i", "en", s"src${i % 3}", 10L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Sampling.splitAssign(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val expected = rows.groupBy { case (id, _, _, src, _) =>
      val b = bucket(id)
      (src, if (b < 98) "train" else if (b < 99) "val" else "test")
    }.map { case ((src, split), g) => (src, split, g.size.toLong, g.size.toLong * 5) }
      .toSeq.sortBy(t => (t._1, t._2))
    assert(got === expected,
      "per-(source, split) census must match the driver-side md5-mod-100 recompute")
    assert(got.map(_._3).sum === 400L, "every doc lands in exactly one split")
  }

  test("q_vocab_coverage: top-K tie-break and OOV accounting are exact") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-vocab-${java.util.UUID.randomUUID()}"
    // srcA: "a" x10 (all in vocab). srcB: 150 distinct singletons t001..t150
    // → vocab = {a} + 99 smallest-by-name singletons = t001..t099
    // → srcB coverage = 99/150 = 660000 ppm exactly.
    val rows = Seq(
      (1L, Seq.fill(10)("a").mkString(" "), "en", "srcA", 10L),
      (2L, (1 to 150).map(i => f"t$i%03d").mkString(" "), "en", "srcB", 10L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.vocabCoverage(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("srcA", 10L, 10L, 1000000L),
      ("srcB", 150L, 99L, 660000L)),
      "count-desc token-asc tie-break must admit exactly t001..t099 beside 'a'")
  }

  test("q_contamination_frac: overlap fraction matches an independent shingle-set recompute") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-contam-${java.util.UUID.randomUUID()}"
    val benchTxt = (1 to 20).map(i => s"b$i").mkString(" ")   // doc 20: the benchmark
    val halfTxt = ((1 to 10).map(i => s"b$i") ++ (1 to 10).map(i => s"x$i")).mkString(" ")
    val cleanTxt = (1 to 20).map(i => s"c$i").mkString(" ")
    val rows = Seq((20L, benchTxt), (1L, halfTxt), (2L, cleanTxt), (3L, benchTxt))
    rows.map { case (id, t) => (id, t, "en", "src0", 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Dedup.contaminationFrac(spark, dir)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    def sh(t: String) = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val bench = sh(benchTxt)
    val expected = Seq((1L, halfTxt), (2L, cleanTxt), (3L, benchTxt)).map { case (id, t) =>
      val ss = sh(t)
      val hits = (ss & bench).size.toLong
      val frac = hits * 1000000L / ss.size
      (id, ss.size.toLong, hits, frac, frac >= ops.Dedup.ContamDropPpm)
    }
    assert(got === expected,
      "per-doc (n_sh, n_hits, frac_ppm, drop) must equal the true-set recompute; " +
        "doc 3 (verbatim benchmark copy) must grade 1e6 and drop, doc 2 must grade 0")
    assert(got.find(_._1 == 3L).get._4 === 1000000L)
    assert(!got.find(_._1 == 2L).get._5)
  }

  test("q_length_trim: histogram percentiles implement exact percentile_disc semantics") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-trim-${java.util.UUID.randomUUID()}"
    // srcA: 40 docs with token lengths 1..40. n=40:
    //   p_lo = min len with cum*1e6 >= 40*50000  → cum >= 2  → len 2
    //   p_hi = min len with cum*1e6 >= 40*950000 → cum >= 38 → len 38
    //   kept = lengths 2..38 → 37 docs; dropped = {1, 39, 40} → 3 docs
    val rows = (1 to 40).map(i => (i.toLong, (1 to i).map(j => s"w$j").mkString(" "), "en", "srcA", 5L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.lengthTrim(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("srcA", 40L, 2L, 38L, 37L, 3L)),
      "cut at the smallest length whose cumulative count reaches the ppm rank " +
        "(percentile_disc), census answered from the histogram")
  }

  test("q_dedup_cross_source: duplicate flow matrix is directional (who absorbs whom)") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-xsrc-${java.util.UUID.randomUUID()}"
    val tA1 = (1 to 30).map(i => s"a$i").mkString(" ")
    val tA2 = (1 to 30).map(i => s"b$i").mkString(" ")
    val tB1 = (1 to 30).map(i => s"c$i").mkString(" ")
    // srcB mirrors srcA's docs 1 and 2 (reps stay in srcA: min doc_id);
    // srcA doc 22 mirrors srcB doc 21 (rep in srcB) — the matrix must
    // keep the two directions apart.
    val rows = Seq(
      (1L, tA1, "srcA"), (2L, tA2, "srcA"), (22L, tB1, "srcA"),
      (11L, tA1, "srcB"), (12L, tA1, "srcB"), (13L, tA2, "srcB"), (21L, tB1, "srcB"))
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Dedup.dedupCrossSource(spark, dir)
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("srcA", "srcB", 3L), ("srcB", "srcA", 1L)),
      "srcA absorbs 3 srcB mirrors (11,12,13); srcB absorbs 1 srcA mirror (22)")
  }

  test("q_shard_manifest: exact vs recomputed assignment; partitionBy(shard) write prunes") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    val expected = docs
      .groupBy { case (id, _) => id * 2654435761L % 4294967296L % 32L }
      .map { case (sh, rs) =>
        sh -> ((rs.length.toLong, rs.map(_._2).sum, rs.map(_._1).min, rs.map(_._1).max))
      }
    val got = ops.Sampling.shardManifest(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted, "manifest ordered by shard")
    assert(got.map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap == expected)
    assert(got.map(_._2).sum === docs.length.toLong, "every doc in exactly one shard")
    // the physical export: one directory per shard, prunable at the scan
    val out = java.nio.file.Files.createTempDirectory("graft-shard").toString + "/docs_by_shard"
    Tables.documents(spark, d)
      .withColumn("shard",
        expr(s"CAST(doc_id * 2654435761 % 4294967296 % 32 AS BIGINT)"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    val probe = expected.keys.head
    val pruned = spark.read.parquet(out).where(col("shard") === probe)
    val pf = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("(shard"), "shard predicate must prune at the scan")
    assert(pruned.count() === expected(probe)._1)
  }

  test("q_doc_windows: stride chunking covers every token, never emits a contained window") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-docwin-${java.util.UUID.randomUUID()}"
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    // doc_id == its token count, by construction
    Seq(1, 96, 97, 129, 300)
      .map(n => (n.toLong, mk(n), "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Sampling.docWindows(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) =>
        k -> v.sortBy(_._2).map(r => (r._3, r._4)).toSeq }
    assert(got(1L) === Seq((0L, 1L)))
    assert(got(96L) === Seq((0L, 96L)))
    // 97 tokens still fit one 128-token window — a second window would
    // end at the same final token, pure duplication
    assert(got(97L) === Seq((0L, 97L)))
    // 129 tokens: token 128 lies outside window 0 → second window due
    assert(got(129L) === Seq((0L, 128L), (96L, 33L)))
    assert(got(300L) === Seq((0L, 128L), (96L, 128L), (192L, 108L)))
    got.foreach { case (n, ws) =>
      assert(ws.head._1 === 0L)
      assert(ws.last._1 + ws.last._2 === n, s"doc $n never reaches its last token")
      ws.sliding(2).foreach {
        case Seq((s1, l1), (s2, l2)) =>
          assert(s2 - s1 === 96L, s"doc $n stride broken")
          assert(s2 + l2 > s1 + l1, s"doc $n window at $s2 adds no new token")
        case _ =>
      }
    }
  }

  test("q_pipeline_curate ≡ filter → keep-best → pack composed from the single ops") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    // stage 1: quality-ok ids from the registered filter
    val okIds = ops.TextQuality.qualityFilter(spark, d)
      .where($"keep").select("doc_id").as[Long].collect().toSet
    // stage 2: keep-best over ONLY the survivors (recomputed independently)
    val kept = spark.read.parquet(s"$d/documents.parquet")
      .select($"doc_id", $"source", $"n_chars",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.trim(
            org.apache.spark.sql.functions.coalesce($"text",
              org.apache.spark.sql.functions.lit(""))))).as("nm"),
        org.apache.spark.sql.functions.expr(
          "CAST(size(split(coalesce(text, ''), ' ')) AS BIGINT)").as("n_tokens"))
      .as[(Long, String, Long, String, Long)].collect()
      .filter(r => okIds.contains(r._1))
    val keepIds = kept.groupBy(_._4).values
      .map(g => g.minBy(r => (-r._3, r._1))._1).toSet
    // stage 3: pack per source in doc_id order
    val expected = kept.filter(r => keepIds.contains(r._1))
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        var cum = 0L
        rows.sortBy(_._1).map { r =>
          val bin = cum / ops.Sampling.PackBudget
          cum += r._5
          r._1 -> ((r._2, r._5, bin))
        }
      }.toMap
    val got = ops.TextQuality.pipelineCurate(spark, d)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    assert(got.nonEmpty && got.size < okIds.size + 1,
      "pipeline neither filtered nor deduped anything")
  }

  test("q_dedup_paragraph: first occurrence wins corpus-wide AND within-doc; rebuild is order-exact") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val blkA = words("a", 10); val blkB = words("b", 10)
    val blkC = words("c", 10); val blkD = words("d", 10)
    val docs = Seq(
      (0L, s"$blkA $blkB"),   // defines A and B
      (1L, s"$blkB $blkC"),   // B repeats doc 0 → dropped; C survives
      (2L, s"$blkA $blkB"),   // exact duplicate of doc 0 → nothing survives
      (3L, words("e", 15)),   // 15 words → 10+5 block split, unique → intact
      (4L, s"$blkD $blkD"))   // within-doc repeat → second copy dropped
    val dir = s"/tmp/graft-test-para-${java.util.UUID.randomUUID()}"
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Dedup.dedupParagraph(spark, dir)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0L) == ((2L, 2L, s"$blkA $blkB")), "first definer keeps everything")
    assert(got(1L) == ((2L, 1L, blkC)), "repeated block dropped, unique block kept")
    assert(got(2L) == ((2L, 0L, "")), "full duplicate reconstructs to empty")
    assert(got(3L) == ((2L, 2L, words("e", 15))), "partial last block round-trips verbatim")
    assert(got(4L) == ((2L, 1L, blkD)), "within-doc repeat keeps only the first copy")
  }

  test("q_text_diversity: exact token census (n, distinct, Simpson collision mass)") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-div-${java.util.UUID.randomUUID()}"
    Seq((0L, "a a b c"), (1L, "x x x x"), (2L, "u v w"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.textDiversity(spark, dir)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0L) == ((4L, 3L, 6L)))  // 2²+1+1
    assert(got(1L) == ((4L, 1L, 16L))) // maximal repetition
    assert(got(2L) == ((3L, 3L, 3L)))  // all distinct → mass = n
  }

  test("q_dedup_editdist: exact-dup dist 0, one-token plants within K, convention pinned") {
    import spark.implicits._
    val got = ops.Dedup.dedupEditdist(spark, plantedDir)
      .as[(Long, Long, Long, Boolean)].collect()
    val byPair = got.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // the exact duplicate pair is a candidate with distance exactly 0
    assert(byPair((0L, 200L)) == ((0L, true)))
    // every recalled one-token plant is within K (a word swap is ≤ ~12 chars)
    (0 until 5).foreach { i =>
      byPair.get((i.toLong, 100L + i)).foreach { case (dist, dup) =>
        assert(dup && dist > 0 && dist <= ops.Dedup.EditDistMax,
          s"plant ($i,${100 + i}): dist $dist")
      }
    }
    assert((0 until 5).exists(i => byPair.contains((i.toLong, 100L + i))),
      "no planted near-dup pair was recalled into the candidate set")
    // -1 is the only out-of-band value; is_dup is exactly dist >= 0
    got.foreach { case (a, b, dist, dup) =>
      assert(dist >= -1 && dup == (dist >= 0), s"($a,$b): $dist/$dup")
    }
    // independent witness: brute-force DP on one recalled plant
    def lev(x: String, y: String): Int = {
      val dp = Array.tabulate(x.length + 1)(i => Array.tabulate(y.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to x.length; j <- 1 to y.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      dp(x.length)(y.length)
    }
    val texts = Tables.documents(spark, plantedDir)
      .as[(Long, String, String, String, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    (0 until 5).flatMap(i => byPair.get((i.toLong, 100L + i)).map(i -> _))
      .headOption.foreach { case (i, (dist, _)) =>
        assert(dist == lev(texts(i.toLong), texts(100L + i)).toLong,
          s"banded levenshtein disagrees with the full DP on plant $i")
      }
  }

  test("q_sample_weighted: deterministic, K-sized, weight-biased, priority recomputable") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val a = ops.Sampling.sampleWeighted(spark, d).as[(Long, Long, Long)].collect()
    val b = ops.Sampling.sampleWeighted(spark, d).as[(Long, Long, Long)].collect()
    assert(a.toSeq == b.toSeq, "rerun produced a different sample")
    assert(a.length == ops.Sampling.WSampleK)
    // inclusion odds scale with weight: sampled mean weight beats corpus mean
    val corpusMean = Tables.documents(spark, d)
      .agg(avg(col("n_chars"))).head().getDouble(0)
    val sampleMean = a.map(_._2).sum.toDouble / a.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean — no weight bias")
    // independent witness: recompute one row's priority from first principles
    val (docId, w, prio) = a.head
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(md5.take(15), 16)
    assert(prio == w * ops.Sampling.WSamplePrioScale /
      (h % ops.Sampling.WSampleUBits + 1))
  }

  test("q_dedup_substring: coverage and longest span recomputed from first principles") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val W = ops.Dedup.SubWinW
    val out = ops.Dedup.dedupSubstring(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty, "no substring-overlap pairs found")
    assert(out.forall { case (a, b, cov, span) =>
      a < b && span >= ops.Dedup.SubMinSpan && cov >= span - (W - 1)
    })
    // independent witness: recompute the longest-span pair's coverage and
    // run structure in plain Scala over the raw strings (df cap honored)
    val docs = Tables.documents(spark, d).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    def wins(t: String): IndexedSeq[String] =
      if (t.length < W) IndexedSeq.empty
      else (0 to t.length - W).map(i => t.substring(i, i + W))
    val df = scala.collection.mutable.Map.empty[String, Int] // window -> distinct-doc count
    docs.foreach { case (_, t) =>
      wins(t).toSet.foreach { w: String => df(w) = df.getOrElse(w, 0) + 1 }
    }
    def eligible(w: String): Boolean = {
      val n = df(w); n >= 2 && n <= ops.Dedup.SubDfCap
    }
    val (pa, pb, cov, span) = out.maxBy(_._4)
    val bset = wins(docs(pb)).filter(eligible).toSet
    val covered = wins(docs(pa)).zipWithIndex
      .collect { case (w, i) if eligible(w) && bset.contains(w) => i }
    assert(cov == covered.size,
      s"n_cov_pos $cov != first-principles ${covered.size} for pair ($pa,$pb)")
    val longestRun = covered.foldLeft((0, 0, -2)) { case ((best, cur, prev), i) =>
      val c = if (i == prev + 1) cur + 1 else 1
      (math.max(best, c), c, i)
    }._1
    assert(span == longestRun + W - 1,
      s"longest_span $span != first-principles ${longestRun + W - 1}")
  }

  test("q_lm_fluency: score recomputed from corpus bigram counts from first principles") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val out = ops.TextQuality.lmFluency(spark, d)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, np, f) => np >= 1 && f >= 0 && f <= 1000000 },
      "fluency_ppm out of the [0, 10^6] probability range")
    // independent witness: rebuild the corpus bigram/context counts in
    // plain Scala and recompute the highest-scoring doc's score exactly
    val docs = Tables.documents(spark, d).select("doc_id", "text")
      .as[(Long, String)].collect()
    def bigrams(t: String): Seq[(String, String)] = {
      val w = t.split(" ", -1)
      if (w.length < 2) Seq.empty
      else w.init.zip(w.tail).map { case (a, b) => (a, s"$a $b") }.toSeq
    }
    val all = docs.flatMap { case (_, t) => bigrams(Option(t).getOrElse("")) }
    val nb = all.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val nu = all.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val (docId, nPairs, ppm) = out.maxBy(_._3)
    val mine = bigrams(docs.toMap.apply(docId))
    assert(nPairs == mine.size)
    val expected = mine.map { case (w1, bgm) => nb(bgm) * 1000000L / nu(w1) }.sum / mine.size
    assert(ppm == expected, s"doc $docId: fluency $ppm != first-principles $expected")
  }

  test("q_heavy_hitters: sketch estimates EQUAL exact counts at the operating point") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val exactCounts = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").count()
      .as[(String, Long)].collect().toMap
    val got = ops.TextQuality.heavyHitters(spark, d)
      .as[(String, Long, Boolean)].collect()
    assert(got.nonEmpty && got.length == exactCounts.size)
    got.foreach { case (tok, est, heavy) =>
      assert(est == exactCounts(tok), s"token $tok: est $est != exact ${exactCounts(tok)}")
      assert(heavy == (est >= ops.TextQuality.CmsHeavyMin))
    }
  }

  test("cms_estimate: adversarial vocab (>> width) only OVERestimates, within the eps bound") {
    import spark.implicits._
    // 20k distinct tokens vs width 2719 forces collisions
    val dir = s"/tmp/graft-test-cms-${java.util.UUID.randomUUID()}"
    val rnd = new scala.util.Random(7)
    val text = (0 until 20000).map(i => s"tok${rnd.nextInt(10000)}").mkString(" ")
    Seq((0L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val exactCounts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").count().as[(String, Long)].collect().toMap
    val got = ops.TextQuality.heavyHitters(spark, dir)
      .as[(String, Long, Boolean)].collect()
    val n = exactCounts.values.sum
    val epsBound = (ops.TextQuality.CmsEps * n).ceil.toLong
    var overShoots = 0
    got.foreach { case (tok, est, _) =>
      assert(est >= exactCounts(tok), s"CMS UNDERestimated $tok") // structural invariant
      if (est > exactCounts(tok) + epsBound) overShoots += 1
    }
    // eps-bound holds with prob >= conf per item; allow the 1% tail
    assert(overShoots <= (got.length * (1 - ops.TextQuality.CmsConf) * 5).toInt + 1,
      s"$overShoots of ${got.length} estimates exceeded the eps bound")
  }

  test("q_ann_recall matches an independent plain-Scala recomputation per probe") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val vecs = Tables.embeddings(spark, d)
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .as[(Long, Seq[Long])].collect()
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.lazyZip(b).map(_ * _).sum
    def bucket(v: Seq[Long]): Int = (0 until 4)
      .map(p => if (dot(v, ops.Fragments.LshPlanes(p)) >= 0) 1 << p else 0).sum
    val got = ops.Ann.queries("q_ann_recall")(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == ops.Ann.RecallProbes)
    got.foreach { case (pid, nAnn, nHit, ppm) =>
      val qa = vecs.find(_._1 == pid).get._2
      val n2a = dot(qa, qa).toDouble
      def cos(v: Seq[Long]): Double = dot(qa, v) / math.sqrt(n2a * dot(v, v))
      val cands = vecs.filter(_._1 != pid)
      val truth = cands.sortBy { case (id, v) => (-cos(v), id) }
        .take(ops.Ann.RecallK).map(_._1).toSet
      val ann = cands.filter { case (_, v) => bucket(v) == bucket(qa) }
        .sortBy { case (id, v) => (-cos(v), id) }
        .take(ops.Ann.RecallK).map(_._1).toSet
      val hits = (truth & ann).size.toLong
      assert((nAnn, nHit, ppm) ===
        ((ann.size.toLong, hits, hits * 1000000L / ops.Ann.RecallK)),
        s"probe $pid")
      assert(nHit <= nAnn && ppm >= 0 && ppm <= 1000000)
    }
  }

  test("q_dedup_substring_winnow: planted span above the W+k-1 guarantee is always found") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def soup(n: Int, alphabet: String): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    // 80-char planted span (≥ 32 + 16 − 1 = 47 ⇒ detection GUARANTEED),
    // embedded in unrelated prefixes/suffixes; doc 3 shares nothing
    // (disjoint alphabet, so no accidental 32-char window collides)
    val span = soup(80, "abcdefgh")
    val docs = Seq(
      (1L, soup(60, "abcdefgh") + span + soup(60, "abcdefgh")),
      (2L, soup(100, "abcdefgh") + span + soup(20, "abcdefgh")),
      (3L, soup(240, "0123456789")))
    val dir = s"/tmp/graft-test-winnow-${java.util.UUID.randomUUID()}"
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.Dedup.dedupSubstringWinnow(spark, dir)
      .as[(Long, Long, Long)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)), s"guaranteed planted pair missing: ${got.toSeq}")
    assert(got.find(r => (r._1, r._2) == ((1L, 2L))).get._3 >= 1L)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc paired: ${got.toSeq}")
    // the stride-1 form agrees on the same corpus (span ≥ SubMinSpan)
    val exact = ops.Dedup.dedupSubstring(spark, dir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L)))
  }

  test("q_dedup_near (banded+verified, expanded) cross-checks the spark.ml LSH witness exactly") {
    import spark.implicits._
    val dir = LlmFixtures.plantedDir(spark) // doc 200 is a verbatim copy of doc 0
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_a", $"doc_b", $"jaccard_dist".cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    // the registered chain (banded-MinHash candidates over reps → exact
    // verify → expansion) against the RETIRED spark.ml whole-corpus
    // approxSimilarityJoin (spec-only witness, VERDICT r14 #4): on a
    // collision-free fixture both families' candidate sets cover every
    // true near pair and both distances are exact 1 − |∩|/|∪| over
    // distinct shingle sets, so the two INDEPENDENT implementations
    // must agree pair for pair AND distance for distance — including
    // the (0, 200) intra-group pair at distance 0
    val expanded = rows(ops.Dedup.dedupNear(spark, dir))
    val wholeCorpus = rows(ops.Dedup.dedupNearUncollapsed(spark, dir))
    assert(expanded == wholeCorpus,
      s"only-expanded: ${(expanded -- wholeCorpus).take(5)}; " +
        s"only-whole: ${(wholeCorpus -- expanded).take(5)}")
    assert(expanded.exists(p => p._1 == 0L && p._2 == 200L && p._3 == 0.0))
    // and the expansion itself reconstructs the banded chain's own
    // whole-corpus run (same family, no collapse) — the cap-safe
    // rep-level form loses nothing on a fixture with small buckets
    val bandedWhole = rows(ops.Dedup.nearBandedVerified(spark, dir, None)
      .orderBy("doc_a", "doc_b"))
    assert(expanded == bandedWhole,
      s"expansion diverged from the banded whole-corpus run: " +
        s"${(expanded -- bandedWhole).take(5)} vs ${(bandedWhole -- expanded).take(5)}")
  }

  test("duplicated short/empty texts: expansion ≡ ml witness, distance-0 intra pairs on both (ADVICE r15)") {
    import spark.implicits._
    // ADVICE r15 flagged the collapse membership as including docs with
    // empty shingle sets while the ml witness filters size(tokens) > 0.
    // In THIS substrate the shingle set is never empty — a short or
    // empty/null text shingles to array(coalesce(text, '')), one
    // element — so byte-identical short/empty docs are legitimate
    // distance-0 copies on BOTH families and the tokens filter is
    // vacuous. This pins that equality on the exact corpus shape the
    // advice describes (duplicated empty, duplicated sub-shingle-length,
    // and a null that coalesces to '').
    val docs = Seq(
      (0L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (1L, ""), (2L, ""),                   // duplicated empty
      (3L, "kilo lima"), (4L, "kilo lima"), // duplicated sub-shingle-length
      (5L, null.asInstanceOf[String]),      // null ≡ '' by the coalesce rule
      (6L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"))
    val dir = s"/tmp/graft-test-shortdup-${java.util.UUID.randomUUID()}"
    docs.map { case (id, t) =>
        (id, t, "en", "src0", Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_a", $"doc_b", $"jaccard_dist".cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    val got = rows(ops.Dedup.dedupNear(spark, dir))
    val ml = rows(ops.Dedup.dedupNearUncollapsed(spark, dir))
    assert(got == ml,
      s"only-expanded: ${(got -- ml).take(5)}; only-ml: ${(ml -- got).take(5)}")
    assert(got.contains((1L, 2L, 0.0)), "duplicated empty texts must pair at 0")
    assert(got.contains((1L, 5L, 0.0)), "null must collapse with '' (coalesce rule)")
    assert(got.contains((3L, 4L, 0.0)), "duplicated short texts must pair at 0")
    assert(got.contains((0L, 6L, 0.0)), "verbatim long copies must pair at 0")
    // empty and short texts are NOT near each other (disjoint shingles)
    assert(!got.exists(p => Set(p._1, p._2) == Set(1L, 3L)))
  }

  test("collapse key is RAW text: a case-variant copy never collapses or gains distance-0 pairs") {
    import spark.implicits._
    val dir = LlmFixtures.plantedDir(spark) // doc 201 = doc 0 capitalized
    val pairs = ops.Dedup.dedupNear(spark, dir)
      .select($"doc_a", $"doc_b", $"jaccard_dist".cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    // the old lower(trim) collapse key put 201 in doc 0's copy group:
    // it emitted (0, 201) as an intra pair at distance 0 and handed 201
    // every partner of 0 at 0's distances — shingles are case-sensitive,
    // so both were fabrications
    assert(!pairs.contains((0L, 201L, 0.0)),
      "case-variant doc collapsed into the verbatim group")
    // it IS a near-dup (only the first-token shingles differ) — found by
    // the LSH join itself at a real, nonzero distance
    val found = pairs.filter(p => p._1 == 0L && p._2 == 201L)
    assert(found.nonEmpty && found.forall(_._3 > 0.0),
      s"expected (0,201) at nonzero distance, got $found")
  }

  test("q_dedup_near short-circuits on a duplicate-free corpus and equals the whole-corpus join") {
    import spark.implicits._
    // no verbatim copies anywhere: the collapse is an identity map, so
    // dedupNear skips the two re-expansion joins (VERDICT r12 #6) and
    // must STILL produce exactly the whole-corpus LSH join result
    val rnd = new scala.util.Random(41)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet")
    def soup(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 15).map(i => (i.toLong, soup(50)))
    val nearDup = { // near (one token edited), NOT verbatim
      val t = base(0)._2.split(' '); t(25) = "zulu"; (300L, t.mkString(" "))
    }
    val dir = s"/tmp/graft-test-nodup-${java.util.UUID.randomUUID()}"
    (base :+ nearDup)
      .map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_a", $"doc_b", $"jaccard_dist".cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    val short = rows(ops.Dedup.dedupNear(spark, dir))
    val whole = rows(ops.Dedup.dedupNearUncollapsed(spark, dir))
    assert(short == whole,
      s"only-short: ${(short -- whole).take(5)}; only-whole: ${(whole -- short).take(5)}")
    assert(short.exists(p => p._1 == 0L && p._2 == 300L && p._3 > 0.0),
      "planted near-dup lost by the short-circuit path")
  }

  test("q_dedup_substring refuses above the stride-1 volume ceiling, naming the scale-safe forms") {
    spark.conf.set("spark.graft.substringStride1MaxChars", "10")
    try {
      val e = intercept[IllegalStateException] {
        ops.Dedup.dedupSubstring(spark, plantedDir)
      }
      assert(e.getMessage.contains("q_dedup_substring_auto") &&
        e.getMessage.contains("substringStride1MaxChars"), e.getMessage)
    } finally spark.conf.unset("spark.graft.substringStride1MaxChars")
    // with the conf cleared the default ceiling admits the tiny corpus
    assert(ops.Dedup.dedupSubstring(spark, plantedDir).columns.contains("longest_span"))
  }

  test("q_dedup_near_collapsed: verbatim copies collapse before the LSH join, recall intact") {
    import spark.implicits._
    val dir = LlmFixtures.plantedDir(spark) // doc 200 is a verbatim copy of doc 0
    val full = ops.Dedup.dedupNear(spark, dir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val collapsed = ops.Dedup.dedupNearCollapsed(spark, dir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // the uncollapsed join pays for the verbatim copy; the collapsed one
    // never lets it reach the join at all
    assert(full.contains((0L, 200L)), "planted exact pair missing from the baseline")
    assert(!collapsed.exists(p => p._1 == 200L || p._2 == 200L),
      s"a verbatim copy reached the collapsed join: $collapsed")
    // near-dup recall on representatives is untouched: every planted
    // edit still pairs with its base
    (0 until 5).foreach(i =>
      assert(collapsed.contains((i.toLong, 100L + i)), s"lost planted pair $i"))
    // and away from the copy the two forms agree exactly
    assert(collapsed == full.filterNot(p => p._1 == 200L || p._2 == 200L))
  }

  test("q_ann_recall_mp: multi-probe recall dominates single-probe on every probe") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val single = ops.Ann.queries("q_ann_recall")(spark, d)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val multi = ops.Ann.queries("q_ann_recall_mp")(spark, d)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(single.keySet == multi.keySet && single.nonEmpty)
    single.keySet.foreach { pid =>
      val (_, nAnn1, _, ppm1) = single(pid)
      val (_, nAnn2, _, ppm2) = multi(pid)
      // the flip bucket only ADDS candidates → never fewer, never worse
      assert(nAnn2 >= nAnn1, s"probe $pid candidate count shrank")
      assert(ppm2 >= ppm1, s"probe $pid recall dropped with nprobe=2")
    }
    // and somewhere the second probe actually helps (planted by the
    // corpus geometry at every SF we generate)
    assert(multi.values.map(_._4).sum >= single.values.map(_._4).sum)
  }

  test("q_lsh_bucket_stats: occupancies partition the corpus and match a Scala recount") {
    import spark.implicits._
    val d = SparkTestSession.sf0001
    val vecs = Tables.embeddings(spark, d)
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .as[(Long, Seq[Long])].collect()
    def dot(a: Seq[Long], b: Seq[Long]): Long = a.lazyZip(b).map(_ * _).sum
    def bucket(v: Seq[Long]): Int = (0 until 4)
      .map(p => if (dot(v, ops.Fragments.LshPlanes(p)) >= 0) 1 << p else 0).sum
    val want = vecs.groupBy { case (_, v) => bucket(v) }.view.mapValues(_.length.toLong).toMap
    val got = ops.Ann.queries("q_lsh_bucket_stats")(spark, d)
      .as[(Int, Long, Long, Long)].collect()
    assert(got.map(_._2).sum == vecs.length.toLong, "occupancies must partition the corpus")
    got.foreach { case (b, n, ppm, load) =>
      assert(want(b) == n, s"bucket $b recount")
      assert(ppm == n * 1000000L / vecs.length)
      assert(load == n * got.length * 1000000L / vecs.length)
    }
  }

  test("quantized cosine tracks float cosine (sim search sanity)") {
    import spark.implicits._
    val top = ops.Ann.simSearch(spark, SparkTestSession.sf0001)
      .as[(Long, Double)].collect()
    assert(top.length == 10)
    // quantization error bound: |cos_q - cos_f| < ~2e-3 for unit-ish vecs
    assert(top.forall { case (_, c) => c >= -1.0001 && c <= 1.0001 })
    assert(top.map(_._2).sliding(2).forall(w => w(0) >= w(1)), "not sorted desc")
  }

  test("IVF KMeans: the pinned `row` solver gives the same centers as `auto` on the fixture embeddings") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    for (d <- Seq(SparkTestSession.sf0001, SparkTestSession.sf001)) {
      val e = Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("fv"))
        .withColumn("v", array_to_vector(col("fv")))
        .cache()
      def fit(solver: String) = new KMeans().setK(8).setSeed(42L).setMaxIter(5)
        .setSolver(solver).setFeaturesCol("v").fit(e)
      try {
        val row = fit("row")
        val rowCenters = row.clusterCenters.map(_.toArray.toSeq).toSeq
        assert(rowCenters == fit("auto").clusterCenters.map(_.toArray.toSeq).toSeq,
          s"$d: row and auto centers differ")
        // the engine's one fit helper (mllib, no spark.ml wrapper) is
        // spark.ml's row solver: same centers, same per-row buckets
        val helper = ops.Ann.ivfFit(e, k = 8)
        assert(helper.clusterCenters.map(_.toArray.toSeq).toSeq == rowCenters,
          s"$d: helper and row centers differ")
        val buckets = row.transform(e)
          .select(col("prediction"), ops.Ann.ivfAssign(helper).as("helper"))
          .collect()
        assert(buckets.nonEmpty && buckets.forall(r => r.getInt(0) == r.getInt(1)),
          s"$d: helper buckets differ from KMeansModel.transform's")
      } finally e.unpersist()
    }
  }

  test("q_sim_search_ivf_kmeans: the per-run fit leaves no RDD persisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    ops.Ann.simSearchIvfKmeans(spark, SparkTestSession.sf0001).count()
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs left persisted by the fit: $left")
  }

  test("q_sim_search_ivf_kmeans: an embedding holding a NaN fails the fit") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-ivfnan-${java.util.UUID.randomUUID()}"
    (0 until 40).map(i => (i.toLong,
        Seq.tabulate(64)(j => if (i == 17 && j == 5) Float.NaN else ((i * 7 + j) % 13).toFloat),
        i % 10))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    intercept[Exception](ops.Ann.simSearchIvfKmeans(spark, dir).count())
    // the fit helper itself rejects a NaN and a null vector, as spark.ml's
    // fit does, whatever other column of the frame would fail later
    def fitError(fv: org.apache.spark.sql.DataFrame, msg: String) = {
      val err = intercept[Exception](ops.Ann.ivfFit(fv, k = 2))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains(msg)),
        s"fit failed for another reason than '$msg': $err")
    }
    fitError(spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("fv")),
      "MUST NOT be NaN")
    fitError(spark.range(3)
      .select(col("id").as("vec_id"), lit(null).cast("array<double>").as("fv")),
      "MUST NOT be Null")
  }
}

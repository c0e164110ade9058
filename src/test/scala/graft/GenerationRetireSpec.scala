package graft

import org.scalatest.funsuite.AnyFunSuite

/** Generation GC lives in `Derived.ensure`: a call that publishes a new
  * artifact generation retires the superseded ones of the same
  * (family, dataset), so families with no retire code of their own —
  * the JSONL export, the media fixtures — stop accreting a generation
  * per regenerated source.
  */
class GenerationRetireSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeDocs(d: String, salt: Int): Unit = {
    import spark.implicits._
    (0L until 12L).map { i =>
      val t = s"doc $i salt$salt body${i % 4}"
      (i, t, "en", s"src${i % 3}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
  }

  test("a regenerated documents table retires the previous JSONL-export and media generations") {
    val d = s"/tmp/graft-test-genretire-${java.util.UUID.randomUUID()}"
    val docs = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val (keep, ttl) = (ops.Derived.keepGenerations, ops.Derived.generationTtlMs)
    // no spare generation and no age gate: the next publish retires
    // every superseded generation
    ops.Derived.keepGenerations = 0
    ops.Derived.generationTtlMs = 0L
    try {
      writeDocs(d, 1)
      val jsonl1 = ops.LlmPipeline.ensureJsonlExport(spark, d)
      val media1 = graft.sources.MediaFixtures.tablePath(spark, d)
      // a warm call publishes nothing, so it retires nothing
      assert(ops.LlmPipeline.ensureJsonlExport(spark, d) == jsonl1)
      assert(fs.exists(new org.apache.hadoop.fs.Path(jsonl1)))

      val mtime1 = fs.getFileStatus(docs).getModificationTime
      writeDocs(d, 2)
      // the artifact key is the table dir's mtime: make the new one
      // differ even on a coarse-clock filesystem
      fs.setTimes(docs, mtime1 + 60000, -1)
      val jsonl2 = ops.LlmPipeline.ensureJsonlExport(spark, d)
      val media2 = graft.sources.MediaFixtures.tablePath(spark, d)

      assert(jsonl2 != jsonl1 && fs.exists(new org.apache.hadoop.fs.Path(jsonl2)))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(jsonl1)),
        s"superseded JSONL export not retired: $jsonl1")
      assert(media2 != media1 && fs.exists(new org.apache.hadoop.fs.Path(media2)))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(media1).getParent),
        s"superseded media fixture not retired: $media1")
      assert(graft.sources.JsonlCorpus.read(spark, jsonl2).count() == 12L)
    } finally {
      ops.Derived.keepGenerations = keep
      ops.Derived.generationTtlMs = ttl
      fs.delete(new org.apache.hadoop.fs.Path(d), true)
    }
  }
}

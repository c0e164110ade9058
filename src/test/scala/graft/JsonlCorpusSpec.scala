package graft

import java.nio.file.{Files, Paths}

import graft.sources.JsonlCorpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JSONL interchange: the encode/decode identity the registry's
  * q_jsonl_roundtrip asserts statistically is pinned here on the
  * adversarial cases — raw newlines, quotes, backslashes, non-BMP
  * unicode, nulls — plus the PERMISSIVE corrupt-line quarantine and
  * the gzip shard path that the fixture corpus never exercises.
  */
class JsonlCorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def hostileDocs = Seq(
    (1L, "plain text", "en", "srcA", 10L),
    (2L, "line one\nline two\r\nline three", "en", "srcA", 29L),
    (3L, "quote \" backslash \\ tab \t done", "en", "srcB", 30L),
    (4L, "emoji 😀 and CJK 文字 and null-char-free", "zh", "srcB", 28L),
    (5L, null.asInstanceOf[String], "en", "srcC", 0L),
    (6L, "{\"looks\":\"like json\"}", "en", "srcC", 21L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("roundtrip is field-identical through newlines, quotes, unicode, and nulls") {
    val dir = Files.createTempDirectory("jsonl_rt").toString
    JsonlCorpus.write(hostileDocs, dir)
    val back = JsonlCorpus.read(spark, dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => r.getLong(0) -> r).toMap
    val orig = hostileDocs.collect().map(r => r.getLong(0) -> r).toMap
    assert(back.keySet == orig.keySet, s"doc ids diverged: ${back.keySet}")
    orig.foreach { case (id, o) =>
      val b = back(id)
      (1 to 4).foreach { i =>
        assert(b.isNullAt(i) == o.isNullAt(i) &&
          (o.isNullAt(i) || b.get(i) == o.get(i)),
          s"doc $id field $i: ${b.get(i)} != ${o.get(i)}")
      }
    }
  }

  test("shard assignment is a pure function of doc_id: two writes, identical layout") {
    val d1 = Files.createTempDirectory("jsonl_s1").toString
    val d2 = Files.createTempDirectory("jsonl_s2").toString
    JsonlCorpus.write(hostileDocs, d1)
    JsonlCorpus.write(hostileDocs.orderBy(col("doc_id").desc), d2)
    def layout(dir: String) = JsonlCorpus.read(spark, dir)
      .select("doc_id", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(layout(d1) == layout(d2), "shard assignment depended on input order")
  }

  test("PERMISSIVE quarantine: corrupt lines counted per file, clean rows flow on") {
    val dir = Files.createTempDirectory("jsonl_bad").toString
    Files.writeString(Paths.get(s"$dir/part-0.json"),
      """{"doc_id":1,"text":"ok","lang":"en","source":"s","n_chars":2,"shard":0}
        |this is not json at all
        |{"doc_id":2,"text":"also ok","lang":"en","source":"s","n_chars":7,"shard":1}
        |{"truncated":
        |""".stripMargin)
    val report = JsonlCorpus.corruptReport(spark, dir).collect()
    assert(report.length == 1)
    assert(report.head.getAs[Long]("n_rows") == 4, report.head.toString)
    assert(report.head.getAs[Long]("n_corrupt") == 2, report.head.toString)
    // clean rows are not casualties of their neighbors
    val clean = JsonlCorpus.read(spark, dir).where(col("doc_id").isNotNull)
    assert(clean.count() == 2)
  }

  test("gzip shards write .gz and read back identically (the non-splittable trade)") {
    val dir = Files.createTempDirectory("jsonl_gz").toString
    JsonlCorpus.write(hostileDocs, dir, codec = Some("gzip"))
    val gzFiles = Files.walk(Paths.get(dir)).iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var n = 0
    while (gzFiles.hasNext) if (gzFiles.next().toString.endsWith(".json.gz")) n += 1
    assert(n > 0, "expected gzip-compressed shards")
    assert(JsonlCorpus.read(spark, dir).count() == 6)
  }

  test("layout contract: one data file per shard=K dir, every shard dir pure") {
    val dir = Files.createTempDirectory("jsonl_layout").toString
    // enough docs that every one of the 8 shards is hit
    val docs = spark.range(0, 64).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text",
      "'en' AS lang", "'s' AS source", "CAST(2 AS BIGINT) AS n_chars")
    JsonlCorpus.write(docs, dir)
    val shardDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length == JsonlCorpus.NShards, shardDirs.map(_.getName).mkString(","))
    shardDirs.foreach { sd =>
      val dataFiles = sd.listFiles().filter(_.getName.endsWith(".json"))
      assert(dataFiles.length == 1,
        s"${sd.getName} has ${dataFiles.length} data files — one file per shard broken")
    }
    // dir name IS the shard value: read restores it and it matches the hash
    val back = JsonlCorpus.read(spark, dir)
      .selectExpr("doc_id", "shard", s"${JsonlCorpus.shardExpr} AS expect")
    assert(back.where(col("shard") =!= col("expect")).count() == 0)
  }

  test("streaming ingest: shard files arriving mid-stream fold into the running counts") {
    val dir = Files.createTempDirectory("jsonl_stream").toString
    def shard(name: String, lines: String*): Unit = {
      val tmp = Paths.get(dir, s".$name.tmp")
      Files.writeString(tmp, lines.mkString("", "\n", "\n"))
      // write-then-rename: the source must never see a half-written file
      Files.move(tmp, Paths.get(dir, name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    shard("s0.json",
      """{"doc_id":1,"text":"a","lang":"en","source":"s1","n_chars":1,"shard":0}""",
      """{"doc_id":2,"text":"b","lang":"en","source":"s2","n_chars":1,"shard":1}""")
    val q = JsonlCorpus.readStream(spark, dir)
      .groupBy("source").count()
      .writeStream.format("memory").queryName("jsonl_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      def counts = spark.table("jsonl_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("s1" -> 1L, "s2" -> 1L))
      shard("s1.json",
        """{"doc_id":3,"text":"c","lang":"en","source":"s1","n_chars":1,"shard":2}""")
      q.processAllAvailable()
      assert(counts == Map("s1" -> 2L, "s2" -> 1L))
    } finally q.stop()
  }

  test("registry roundtrip and audit agree with their oracles' shape at sf0.001") {
    val d = SparkTestSession.sf0001
    val rt = ops.LlmPipeline.jsonlRoundtrip(spark, d).collect()
    assert(rt.nonEmpty)
    rt.foreach(r => assert(r.getAs[Long]("n_intact") == r.getAs[Long]("n_docs"),
      s"roundtrip lost documents: $r"))
    val audit = ops.LlmPipeline.jsonlAudit(spark, d).collect()
    assert(audit.map(_.getAs[Long]("n_lines")).sum ==
      Tables.documents(spark, d).count())
    audit.foreach(r => assert(r.getAs[Long]("n_corrupt") == 0L, s"corruption: $r"))
    assert(audit.forall(!_.isNullAt(0)), "corrupt line surfaced as NULL shard")
  }
}

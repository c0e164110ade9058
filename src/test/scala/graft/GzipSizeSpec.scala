package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native gzip_size expression and the compression-ratio query it
  * powers: byte-identical determinism across runs, agreement with a
  * directly-driven Deflater, null propagation, and the monotonicity
  * that makes the ratio a usable curation signal (repetitive text
  * deflates far below same-length high-entropy text).
  */
class GzipSizeSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    functions.GraftFunctions.ensureRegistered(s)
    s
  }

  test("matches a directly-driven Deflater and repeats byte-identically") {
    import spark.implicits._
    val texts = Seq("", "a", "hello deflate world",
      ("lorem ipsum " * 40).trim, (1 to 500).map(_.toString).mkString(" "))
    val run = () => texts.toDF("t")
      .select(expr("gzip_size(CAST(t AS BINARY))")).as[Long].collect().toSeq
    val got = run()
    val expected = texts.map(t =>
      functions.GzipSize.deflatedSize(t.getBytes("UTF-8")))
    assert(got === expected)
    assert(run() === got, "deflate must be deterministic across runs")
    // even the empty payload costs a deflate block header
    assert(got.head > 0L)
  }

  test("null propagates; non-binary input is rejected at analysis") {
    import spark.implicits._
    val r = Seq(Option.empty[Array[Byte]]).toDF("b")
      .select(expr("gzip_size(b)")).collect()
    assert(r.head.isNullAt(0))
    val err = intercept[Exception] {
      Seq(1L).toDF("x").select(expr("gzip_size(x)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("gzip_size") ||
      err.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("q_compression_ratio: repetitive text scores far below high-entropy text") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-gzip-${java.util.UUID.randomUUID()}"
    val rep = "spam spam spam " * 200                        // boilerplate
    val rnd = {                                              // md5 chain ≈ noise
      val md = java.security.MessageDigest.getInstance("MD5")
      Iterator.iterate("seed")(s =>
        md.digest(s.getBytes).map("%02x".format(_)).mkString)
        .slice(1, 95).mkString(" ")
    }
    assert(math.abs(rep.length - rnd.length) < rep.length / 5,
      "fixture texts must be comparable lengths")
    Seq((1L, rep), (2L, rnd), (3L, null.asInstanceOf[String]))
      .map { case (id, t) => (id, t, "en", "src0", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = ops.TextQuality.compressionRatio(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val (_, repBytes, repGz, repPpm) = got(1L)
    val (_, rndBytes, rndGz, rndPpm) = got(2L)
    assert(repBytes === rep.length.toLong && rndBytes === rnd.length.toLong)
    assert(repPpm * 5 < rndPpm,
      s"boilerplate ($repPpm ppm) must deflate far below noise ($rndPpm ppm)")
    assert(repPpm === repGz * 1000000L / repBytes &&
      rndPpm === rndGz * 1000000L / rndBytes,
      "ratio_ppm must be exactly derivable from the emitted byte counts")
    // null text behaves as empty: header-only deflate, huge ratio vs 1 byte floor
    assert(got(3L)._2 === 0L && got(3L)._3 > 0L)
  }
}

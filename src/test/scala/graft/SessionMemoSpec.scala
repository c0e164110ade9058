package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** SessionMemo: one value per (session, path, mtime, length). A source
  * rewritten in place misses even when its mtime is restored, a miss
  * evicts only the superseded entry of the same (session, path), and
  * concurrent callers of one key share one build.
  */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `df` as ONE parquet file at `file`, the fixtures' layout. */
  private def writeSingleFile(df: DataFrame, file: String): Unit = {
    val staging = s"$file.staging"
    df.coalesce(1).write.parquet(staging)
    val part = fs.listStatus(new Path(staging)).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    fs.delete(new Path(file), false)
    assert(fs.rename(part, new Path(file)))
    fs.delete(new Path(staging), true)
  }

  test("Tables: a rewrite within the same mtime but with a new length is read afresh") {
    import spark.implicits._
    val dir = s"/tmp/graft-test-memo-${java.util.UUID.randomUUID()}"
    val file = new Path(s"$dir/t.parquet")
    writeSingleFile(Seq(1L, 2L).toDF("a"), file.toString)
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a"))
    val before = fs.getFileStatus(file)
    writeSingleFile(Seq(("x", 1.5, 3L)).toDF("b", "c", "d"), file.toString)
    fs.setTimes(file, before.getModificationTime, -1)
    val after = fs.getFileStatus(file)
    assert(after.getModificationTime == before.getModificationTime &&
      after.getLen != before.getLen)
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("b", "c", "d"),
      "the memo served the relation of the overwritten file")
    fs.delete(new Path(dir), true)
  }

  test("a miss evicts the superseded entry of the same (session, path) only") {
    val dir = Files.createTempDirectory("graft-memo")
    val (f, g) = (dir.resolve("f"), dir.resolve("g"))
    Files.writeString(f, "v1")
    Files.writeString(g, "v1")
    val mtime = Files.getLastModifiedTime(f)
    def rewrite(p: JPath, body: String): Unit = {
      Files.writeString(p, body)
      Files.setLastModifiedTime(p, mtime)
    }
    val memo = new SessionMemo[Int]
    var builds = 0
    def get(p: JPath): Int = memo(spark, p.toString) { builds += 1; builds }
    assert(get(f) == 1 && get(g) == 2 && get(f) == 1)
    rewrite(f, "v22")
    assert(get(f) == 3, "a new length must miss")
    assert(get(g) == 2, "another path's entry must survive the eviction")
    rewrite(f, "v1")
    assert(get(f) == 4, "the superseded entry of f was kept, not evicted")
  }

  test("concurrent callers of one key share a single build") {
    val file = Files.createTempFile("graft-memo", ".bin")
    val memo = new SessionMemo[Int]
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val results = (1 to 4).map { _ =>
        pool.submit(new Callable[Int] {
          def call(): Int = {
            start.await()
            memo(spark, file.toString) { Thread.sleep(200); builds.incrementAndGet() }
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).toSet == Set(1))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }
}

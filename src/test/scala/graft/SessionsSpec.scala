package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Sessions.confs` is the one conf decision every entry point shares:
  * common confs first, the caller's extras last, so an extra wins.
  */
class SessionsSpec extends AnyFunSuite {

  test("an extra conf overrides a common conf") {
    val extra = Verify.extraConfs(
      Map("SPARK_GRAFT_EXTRA_CONF" -> "spark.sql.shuffle.partitions=320"))
    assert(Sessions.confs("local[32]", 32, extra).toMap
      .apply("spark.sql.shuffle.partitions") === "320")
  }

  test("the extra-conf list keeps '=' inside values and drops entries without one") {
    assert(Sessions.parseConfList("a=b;c=d=e;junk") === Seq("a" -> "b", "c" -> "d=e"))
  }

  test("every session registers the graft procedure catalog") {
    assert(Sessions.commonConfs(4).toMap.get("spark.sql.catalog.graft") ===
      Some("graft.ops.Procedures"))
  }

  test("the test session and Verify get the same common confs") {
    val common = Sessions.commonConfs(4).toMap - "spark.sql.shuffle.partitions"
    def commonOf(c: Seq[(String, String)]) =
      c.toMap.view.filterKeys(common.contains).toMap
    assert(commonOf(Sessions.confs("local[4,2]", 4,
      SparkTestSession.extraConfs(Map.empty))) === common)
    assert(commonOf(Sessions.confs("local[32]", 32,
      Verify.extraConfs(Map.empty))) === common)
    // the live test session writes timestamps as the Verify dump does
    assert(SparkTestSession.spark.conf.get("spark.sql.parquet.outputTimestampType") ===
      "TIMESTAMP_MICROS")
  }
}

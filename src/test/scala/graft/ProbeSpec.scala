package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Probe.parse` is the whole command-line contract of the dev probes:
  * pure, so a bad command line is refused before any session starts.
  */
class ProbeSpec extends AnyFunSuite {
  import Probe._

  private val registry = SparkEntry.queries.keys.toSeq.sorted

  test("each subcommand's defaults") {
    assert(parse(Seq("explain", "ALL", "/d")) ===
      Right(Explain(registry, showPlans = false, "/d", 1)))
    val Right(stress: Stress) = parse(Seq("stress", "/d")): @unchecked
    assert((stress.base, stress.mult, stress.media) === (("/d", 10, true)))
    assert(stress.queries.nonEmpty && stress.queries.forall(registry.contains))
    assert(parse(Seq("stream")) === Right(Stream(100000, 30)))
    assert(parse(Seq("ivf-drift")) === Right(IvfDrift))
    assert(parse(Seq("gc")) === Right(Gc(ops.Derived.generationTtlMs)))
    assert(parse(Seq("gc", "0")) === Right(Gc(0L)))
  }

  test("explain ALL runs the registry without plans; a name list shows them") {
    assert(parse(Seq("explain", "ALL", "/d", "3")) ===
      Right(Explain(registry, showPlans = false, "/d", 3)))
    assert(parse(Seq("explain", "q_agg_sum_global, q_dedup_exact", "/d")) ===
      Right(Explain(Seq("q_agg_sum_global", "q_dedup_exact"), showPlans = true, "/d", 1)))
  }

  test("stress: BUILD_ONLY runs nothing, ALL is the registry, names pass through") {
    assert(parse(Seq("stress", "/d", "10", "BUILD_ONLY")) ===
      Right(Stress("/d", 10, Nil, media = false)))
    assert(parse(Seq("stress", "/d", "1", "ALL")) ===
      Right(Stress("/d", 1, registry, media = false)))
    assert(parse(Seq("stress", "/d", "2", "q_agg_sum_global", "media_decode_volume")) ===
      Right(Stress("/d", 2, Seq("q_agg_sum_global"), media = true)))
  }

  test("an unknown subcommand or query name is refused and named") {
    assert(parse(Seq("explode")) === Left("bad command line: explode"))
    assert(parse(Nil).isLeft)
    assert(parse(Seq("explain", "q_agg_sum_global,q_nope,q_nada", "/d")) ===
      Left("unknown query name(s): q_nope, q_nada"))
    assert(parse(Seq("stress", "/d", "10", "q_nope")) ===
      Left("unknown query name(s): q_nope"))
    assert(parse(Seq("stress", "/d", "10", "BUILD_ONLY", "q_agg_sum_global")) ===
      Left("unknown query name(s): BUILD_ONLY"))
  }

  test("missing dirs, malformed numbers and a stream shorter than its warmup are refused") {
    assert(parse(Seq("explain", "ALL")).isLeft)
    assert(parse(Seq("stress")).isLeft)
    assert(parse(Seq("explain", "ALL", "/d", "0")).isLeft)
    assert(parse(Seq("stress", "/d", "x")).isLeft)
    assert(parse(Seq("stream", "20000", "5")).isLeft)
    assert(parse(Seq("stream", "20000", "6")) === Right(Stream(20000, 6)))
    assert(parse(Seq("gc", "-1")).isLeft)
    assert(parse(Seq("ivf-drift", "extra")).isLeft)
  }
}

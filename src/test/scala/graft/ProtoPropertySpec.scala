package graft

import graft.sources.ProtoIngest._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success, Try}

/** Property-based coverage of the proto3 wire codec (no Spark session —
  * these run the pure encode/decode kernel the sources build on):
  * arbitrary messages round-trip, and arbitrary BYTES never escape the
  * decoder as anything but the declared IllegalArgumentException — the
  * property the round-3 bounds-check hardening exists to guarantee
  * (a truncated or hostile frame must not silently zero-pad, loop, or
  * throw an out-of-bounds from inside the array copy).
  */
class ProtoPropertySpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int = 300): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val genName = Gen.alphaNumStr.map(_.take(40))
  private val genBytes = Gen.choose(0, 200).flatMap(n =>
    Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))

  test("StoreChunk round-trips for arbitrary contents (full int range, any bytes)") {
    val gen = for {
      name <- genName
      seq <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
      sum <- genName
      data <- genBytes
    } yield StoreChunk(name, seq, sum, data)
    check(Prop.forAll(gen) { c =>
      val d = decodeStoreChunk(encodeStoreChunk(c))
      d.fileName == c.fileName && d.sequenceNo == c.sequenceNo &&
        d.checksum == c.checksum && d.data.sameElements(c.data)
    })
  }

  test("Heartbeat round-trips incl. empty/packed/multi-byte sequence lists") {
    val genFc = for {
      name <- genName
      seqs <- Gen.listOf(Gen.chooseNum(0, Int.MaxValue))
    } yield FileChunks(name, seqs)
    val gen = for {
      host <- genName
      port <- Gen.chooseNum(0, 65535)
      fcs <- Gen.listOf(genFc).map(_.take(5))
    } yield Heartbeat(host, port, fcs)
    check(Prop.forAll(gen)(hb => decodeHeartbeat(encodeHeartbeat(hb)) == hb))
  }

  test("nested FileCatalog round-trips") {
    val genNode = for {
      h <- genName; p <- Gen.chooseNum(0, 65535)
    } yield StorageNode(h, p)
    val genLoc = for {
      seq <- Gen.chooseNum(0, Int.MaxValue)
      nodes <- Gen.listOf(genNode).map(_.take(4))
    } yield ChunkLocation(seq, nodes)
    val gen = for {
      name <- genName
      locs <- Gen.listOf(genLoc).map(_.take(6))
    } yield FileCatalog(name, locs)
    check(Prop.forAll(gen)(fc => decodeFileCatalog(encodeFileCatalog(fc)) == fc))
  }

  test("fuzz: arbitrary bytes decode or fail with the declared error, nothing else") {
    val decoders: Seq[Array[Byte] => Any] = Seq(
      decodeStoreChunk(_), decodeFileCatalog(_), decodeHeartbeat(_))
    check(Prop.forAll(genBytes) { b =>
      decoders.forall { dec =>
        Try(dec(b)) match {
          case Success(_)                           => true
          case Failure(_: IllegalArgumentException) => true
          case Failure(_)                           => false
        }
      }
    }, n = 1000)
  }
}

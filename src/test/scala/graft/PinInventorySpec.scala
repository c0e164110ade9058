package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every pin in src/main states why it exists: a `Pin.pin(` or
  * `.pinned()` site carries its reason letter (a)–(d) from Pin.scala's
  * scaladoc in its own trailing comment or in the comment block directly
  * above the statement it ends, and the per-reason site counts equal the
  * ones that scaladoc states. An unexplained new pin fails here.
  */
class PinInventorySpec extends AnyFunSuite {
  private val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
  private val site = """Pin\.pin\(|\.pinned\(\)""".r
  private val reason = """\(([a-d])\)""".r

  /** How far above a site its statement may start (the longest pinned
    * statement spans a few lines).
    */
  private val MaxStatementLines = 6

  private def isComment(l: String) = l.trim.startsWith("//")

  /** The site's reason letter: from its own trailing comment, else from
    * the comment block that ends where the statement starts (code lines
    * only in between, no blank line).
    */
  private def reasonAt(lines: IndexedSeq[String], i: Int): Option[String] = {
    val own = Some(lines(i).indexOf("//")).filter(_ >= 0).map(lines(i).substring)
    val above = (i - 1 to math.max(0, i - MaxStatementLines) by -1)
      .takeWhile(j => lines(j).trim.nonEmpty)
      .find(j => isComment(lines(j)))
      .map(j => (j to 0 by -1).takeWhile(k => isComment(lines(k))).map(lines(_)).mkString(" "))
    (own.toSeq ++ above).flatMap(c => reason.findFirstMatchIn(c).map(_.group(1))).headOption
  }

  /** (file:line, reason) for every site outside Pin.scala. */
  private lazy val sites: Seq[(String, Option[String])] = {
    assert(Files.isDirectory(root), s"no source tree at $root")
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Pin.scala")
      .toSeq.sortBy(_.toString)
    files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(i => site.findFirstIn(lines(i)).isDefined)
        .map(i => (s"${root.relativize(f)}:${i + 1}", reasonAt(lines, i)))
    }
  }

  /** Pin.scala's scaladoc, `*` margins stripped and lines joined. */
  private def pinDoc: String = {
    val p: Path = root.resolve("graft/ops/Pin.scala")
    Files.readAllLines(p).asScala.map(_.trim.stripPrefix("*").trim).mkString(" ")
  }

  test("every pin site in src/main states its reason (a)-(d) above it") {
    assert(sites.nonEmpty, "found no pin site at all")
    val bare = sites.collect { case (at, None) => at }
    assert(bare.isEmpty, s"pin sites without a reason letter: ${bare.mkString(", ")}")
  }

  test("the pin site counts equal the ones Pin.scala's scaladoc states") {
    val total = """Sites in src/main[^:]*: (\d+)""".r.findFirstMatchIn(pinDoc)
      .map(_.group(1).toInt)
    assert(total.contains(sites.size),
      s"Pin.scala states $total sites, src/main has ${sites.size}: ${sites.map(_._1).mkString(", ")}")
    val stated = """\(([a-d])\) (\d+):""".r.findAllMatchIn(pinDoc)
      .map(m => m.group(1) -> m.group(2).toInt).filter(_._2 > 0).toMap
    val found = sites.groupBy(_._2.getOrElse("?")).map { case (k, v) => k -> v.size }
    assert(stated == found, s"stated per reason $stated, found $found")
  }
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dumps every SQL text the engine renders, one line per text, so a
  * change that only restructures how the texts are built can be proven
  * byte-identical by comparing two dumps' sha256.
  *
  * Lines are `oracle<TAB>name<TAB>text` for each `SparkEntry.oracleSql`
  * entry and `spark<TAB>name<TAB>text` for each `SqlSurface.overrides`
  * entry, sorted by kind then name, then `expr<TAB>name<TAB>text` for
  * the expression texts the DataFrame builders parse from shared SQL
  * builders (the file-index probe positions and the hash and position
  * texts of `Storage.bloomRowsFor`). Backslash, newline, carriage return
  * and tab inside a text are escaped as `\\`, `\n`, `\r`, `\t`. The IVF
  * dump oracles render only once an index dir is known, so a fixed one
  * is set first; no Spark session starts.
  *
  * Run: `sbt "Test/runMain graft.SqlTextDump <out.tsv>"`.
  */
object SqlTextDump {
  val IvfDir = "/tmp/graft-sqltextdump/ivf"

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")

  def lines: Seq[String] = {
    ops.Ann.ivfOracleIndexDir = Some(IvfDir)
    def rows(kind: String, m: Map[String, String]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"$kind\t$k\t${esc(v)}" }
    def numbered(name: String, texts: Seq[String]) =
      texts.zipWithIndex.map { case (t, i) => s"$name.${i + 1}" -> t }
    val exprs = numbered("bloomPoss", ops.Storage.bloomPoss(s"'${ops.Storage.ProbeSuppKey}'")) ++
      Seq("bloomRowsFor.hash" -> ops.Storage.bloomRowHash) ++
      numbered("bloomRowsFor.pos", ops.Storage.bloomRowPoss)
    rows("oracle", SparkEntry.oracleSql) ++ rows("spark", SqlSurface.overrides) ++
      rows("expr", exprs.toMap)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: SqlTextDump <out.tsv>")
    val out = lines
    Files.write(Paths.get(args(0)), out.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    def n(kind: String) = out.count(_.startsWith(s"$kind\t"))
    println(s"[sqltextdump] oracle=${n("oracle")} spark=${n("spark")} expr=${n("expr")} -> ${args(0)}")
  }
}

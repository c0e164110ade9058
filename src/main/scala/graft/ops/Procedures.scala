package graft.ops

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** `CALL graft.<proc>(...)`: the maintenance verbs behind the persisted
  * artifacts, named and argument-shaped the way a lakehouse operator
  * schedules them, served through Spark's own procedure catalog
  * (`spark.sql.catalog.graft=graft.ops.Procedures`, set by every
  * `Sessions.build` session). Spark's `CALL` grammar binds positional
  * and `name => value` arguments, applies the declared defaults, casts
  * to the declared types and raises its own errors; the catalog only
  * lists and loads procedures. Each procedure returns TYPED rows under
  * its own schema (Delta/Iceberg CALL procedures return rows a caller
  * can join/filter, not a rendered string). Failures throw and reach
  * the caller as a normal query error.
  */
class Procedures extends ProcedureCatalog {
  private var catalogName = "graft"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name: String = catalogName

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val n = ident.name.toLowerCase(java.util.Locale.ROOT)
    Procedures.byName.get(n).filter(_ => ident.namespace.isEmpty)
      .map(new Procedures.Adapter(n, _))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown procedure $catalogName.${(ident.namespace :+ n).mkString(".")}; " +
          s"available: ${Procedures.usage}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Procedures.procs.map { case (n, _) => Identifier.of(Array.empty, n) }.toArray
}

/** The procedure table. Lives in `graft.ops` so it can reach the
  * private[graft] ensure entry points without widening them.
  */
object Procedures {

  private[graft] case class Proc(
      params: Seq[ProcedureParameter],
      schema: StructType,
      exec: (SparkSession, InternalRow) => Seq[Row])

  /** One table entry as Spark's unbound and bound procedure at once
    * (binding depends on nothing the caller passes). `call` runs the
    * action on the caller's active session and returns its rows as one
    * `LocalScan`, which Spark turns into the CALL's result.
    */
  private class Adapter(override val name: String, p: Proc)
      extends UnboundProcedure with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters: Array[ProcedureParameter] = p.params.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(p.schema)
      val out = p.exec(SparkSession.active, input)
        .map(toCatalyst(_).asInstanceOf[InternalRow]).toArray
      Iterator[Scan](new LocalScan {
        override def rows: Array[InternalRow] = out
        override def readSchema: StructType = p.schema
      }).asJava
    }
  }

  private def in(name: String, t: DataType = StringType): ProcedureParameter =
    ProcedureParameter.in(name, t).build()
  private def in(name: String, t: DataType, default: Long): ProcedureParameter =
    ProcedureParameter.in(name, t).defaultValue(default.toString).build()

  private def ensureSchema = StructType(Seq(
    StructField("family", StringType, nullable = false),
    StructField("path", StringType, nullable = false)))

  /** Every persisted-artifact family store the engine writes — the
    * orphan GC's sweep surface. A family added anywhere must be listed
    * here or its abandoned-dataset artifacts leak (GcOrphansSpec checks
    * every family dir holding a dataset's entries is listed).
    */
  private[graft] def artifactFamilies: Seq[String] = Seq(
    Storage.ZonemapFamily, Storage.ZonemapMergedFamily, Storage.BloomFamily,
    Ann.IvfFamily, Sampling.JsonlExportFamily,
    graft.sources.MediaFixtures.FixtureFamily,
    graft.sources.MediaFixtures.VolumeFamily) ++
    Dedup.substrates.map(_.family)

  private[graft] val procs: Seq[(String, Proc)] = Seq(
    "ensure_zone_map" -> Proc(
      Seq(in("dataset_dir")), ensureSchema,
      (s, a) => Seq(Row("zonemap", Storage.ensureZoneMapMerged(s, a.getString(0))))),
    "ensure_bloom_index" -> Proc(
      Seq(in("dataset_dir")), ensureSchema,
      (s, a) => Seq(Row("bloom", Storage.ensureBloomIndex(s, a.getString(0))))),
    "ensure_ivf_index" -> Proc(
      Seq(in("dataset_dir")), ensureSchema,
      (s, a) => {
        val r = Seq(Row("ivf", Ann.ensureIvfIndex(s, a.getString(0))))
        graft.SqlSurface.refreshDerivedViews(s, a.getString(0))
        r
      }),
    "ivf_recluster_if_stale" -> Proc(
      Seq(in("dataset_dir")),
      StructType(Seq(
        StructField("refit", BooleanType, nullable = false),
        StructField("index_path", StringType, nullable = false))),
      (s, a) => {
        val d = a.getString(0)
        val r = Seq(Row(Ann.ivfReclusterIfStale(s, d), Ann.ivfIndexDir(s, d)))
        graft.SqlSurface.refreshDerivedViews(s, d)
        r
      }),
    "ivf_split_hot_cells" -> Proc(
      Seq(in("dataset_dir")),
      StructType(Seq(
        StructField("split", BooleanType, nullable = false),
        StructField("index_path", StringType, nullable = false))),
      (s, a) => {
        val d = a.getString(0)
        val r = Seq(Row(Ann.ivfSplitHotCells(s, d), Ann.ivfIndexDir(s, d)))
        graft.SqlSurface.refreshDerivedViews(s, d)
        r
      }),
    // the ingest-time job that makes every cold dedup query an
    // artifact read: all six substrate families for one corpus, one
    // row per family so a caller can join/filter the published paths
    "ensure_dedup_substrates" -> Proc(
      Seq(in("dataset_dir")), ensureSchema,
      (s, a) => {
        val d = a.getString(0)
        val r = Dedup.substrates.map(sub => Row(sub.name, sub.ensure(s, d)))
        // the SQL surface's substrate_stats view is a snapshot — once
        // this verb has (re)built substrates, re-derive it so SQL and
        // DataFrame spellings agree on the fresh artifact
        graft.SqlSurface.refreshDerivedViews(s, d)
        r
      }),
    // the fleet-wide janitor for datasets nothing will ever touch
    // again: two-phase (tombstone → TTL → reclaim), safe to schedule
    // on a cadence against live stores
    "gc_orphans" -> Proc(
      Seq(in("ttl_ms", LongType, Derived.generationTtlMs)),
      StructType(Seq(
        StructField("family", StringType, nullable = false),
        StructField("path", StringType, nullable = false),
        StructField("action", StringType, nullable = false))),
      (s, a) => Derived.gcOrphans(s, artifactFamilies, a.getLong(0))
        .map { case (f, p, act) => Row(f, p, act) }),
    "cms_compact" -> Proc(
      Seq(in("sketch_dir"), in("keep_tail", IntegerType, 4)),
      StructType(Seq(
        StructField("ckpt_upto", LongType, nullable = false),
        StructField("folded", LongType, nullable = false),
        StructField("swept", LongType, nullable = false))),
      (s, a) => {
        val r = TextQuality.cmsCompactSketchLog(s, a.getString(0), a.getInt(1))
        Seq(Row(r.ckptUpto, r.folded, r.swept))
      }),
    "compact_frames" -> Proc(
      Seq(in("frame_dir"), in("small_bytes", LongType, 512L * 1024),
        in("target_bytes", LongType, 4L * 1024 * 1024)),
      StructType(Seq(
        StructField("candidates", IntegerType, nullable = false),
        StructField("bins_written", IntegerType, nullable = false),
        StructField("rewritten", IntegerType, nullable = false),
        StructField("skipped_singletons", IntegerType, nullable = false),
        StructField("recovered", IntegerType, nullable = false))),
      (s, a) => {
        val rep = graft.sources.FrameCompaction.compact(
          s, a.getString(0), a.getLong(1), a.getLong(2))
        Seq(Row(rep.candidates, rep.binsWritten, rep.rewritten,
          rep.skippedSingletons, rep.recovered))
      }))

  private val byName: Map[String, Proc] = procs.toMap

  private def usage: String = procs.map { case (n, p) =>
    n + p.params.map(pp => Option(pp.defaultValue)
      .map(d => s"${pp.name} => ${d.getSql}").getOrElse(pp.name))
      .mkString("(", ", ", ")")
  }.mkString(", ")
}

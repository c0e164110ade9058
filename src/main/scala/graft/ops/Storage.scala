package graft.ops

import graft.{ParquetMeta, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage-maintenance operators — the jobs a 100 TB lake runs against
  * its own catalog rather than its data: zone-map (data-skipping index)
  * build + prune, small-file compaction planning, and join-key skew
  * diagnosis. The reference's analog is the controller's metadata tier:
  * FileTable bookkeeping (reference controller/FileTable.java:14-16) and
  * the free-space/heartbeat reports it serves without touching chunk
  * bytes (controller/MessageProcessor.java:76-118). The Spark-native
  * re-expression: each of these is an aggregate over the chunk catalog
  * (`lineitem`, FIXTURES.md role mapping) whose OUTPUT is ~1/10⁴ the
  * size of the data it describes — so the maintenance queries stay
  * metadata-sized even when the table is 100 TB.
  */
object Storage {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Chunk-size stand-in (units): exact decimal sum of l_quantity,
    * truncated to BIGINT (values are integral doubles; the decimal hop
    * makes the sum order-independent and engine-identical).
    */
  private val sizeUnits =
    "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,0)) AS BIGINT)"

  /** q_zonemap_build — per-file zone map (min/max column stats + chunk
    * count + size), the data-skipping index every serious lake keeps
    * (parquet row-group stats, Iceberg manifests, Delta file stats are
    * all this table). One two-phase hash aggregate over the chunk
    * catalog; the output is one row per FILE — at 100 TB with ~100 MB
    * files that's ~10⁶ rows ≈ 100 MB of metadata, broadcastable to any
    * planner. Min/max pairs for the two prunable dimensions (ship date =
    * the time column, part key = the equi-join column) make the index
    * usable for both range and point predicates.
    */
  def zonemapBuild(s: SparkSession, d: String): DataFrame =
    ParquetMeta.read(s, ensureZoneMapMerged(s, d)).orderBy("file_id")

  /** PARTIAL zone-map rows — per (source part file, file_id) — over any
    * lineitem-shaped frame; shared by the full build, the delta pass,
    * and (via anti-join on src) the removal pass. The persisted
    * artifact stores THIS granularity (the Iceberg/Delta design: stats
    * are kept per data file precisely so a dropped file subtracts by
    * deletion, not recomputation — merged min/max would be
    * unsubtractable); [[zonemapMerge]] folds it to the public per-file
    * shape at read, a metadata-sized aggregate. src is normalized so a
    * manifest path and input_file_name agree on the key.
    */
  private def zonemapPartialsFor(li: DataFrame): DataFrame =
    li.groupBy(normSrcCol(input_file_name()).as("src"),
        col("l_orderkey").as("file_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        // NTZ casts: raw timestamps reach the output, and the written
        // parquet type class must match the oracle's naive TIMESTAMP
        // (session TZ is UTC, so the wall-clock value is unchanged)
        min(col("l_shipdate")).cast("timestamp_ntz").as("min_ship"),
        max(col("l_shipdate")).cast("timestamp_ntz").as("max_ship"),
        min(col("l_partkey")).as("min_part"),
        max(col("l_partkey")).as("max_part"),
        expr(sizeUnits).as("size_units"))

  /** Fold per-part-file partials to the public per-file zone rows:
    * count and size SUM; min/max of mins/maxes. Exact — size_units
    * merges losslessly because l_quantity is integral (the per-group
    * DECIMAL sum carries a .00 fraction, so the BIGINT truncation is
    * lossless and sum-of-truncated = truncated-sum; the q_dq_audit
    * range gate pins integrality).
    */
  private[graft] def zonemapMerge(partials: DataFrame): DataFrame =
    partials.groupBy("file_id")
      .agg(sum(col("n_chunks")).as("n_chunks"),
        min(col("min_ship")).as("min_ship"),
        max(col("max_ship")).as("max_ship"),
        min(col("min_part")).as("min_part"),
        max(col("max_part")).as("max_part"),
        sum(col("size_units")).as("size_units"))

  /** Normalize a file path/URI to a scheme-less, percent-DECODED
    * absolute path, so the manifest's Hadoop `Path.toString`
    * (`file:/x y` — Path stores a URI but toString returns the decoded
    * form) and Spark's `input_file_name()` (`file:///x%20y` — the
    * FileScan carries the URL-ENCODED SparkPath) compare equal (without
    * the decode, a table path with any URI-escapable character makes
    * the removal anti-join match nothing — removed files' rows survive
    * evolution, modified files double-count).
    * Decode is on the COLUMN side only: that is the only encoded side.
    * `+` is protected first because url_decode applies form semantics
    * (`+` → space) where URI paths keep `+` literal; try_url_decode +
    * coalesce keeps a malformed stray `%` as-is rather than failing
    * the whole scan.
    */
  private[graft] def normSrcCol(c: Column): Column =
    regexp_replace(
      coalesce(try_url_decode(regexp_replace(c, "\\+", "%2B")), c),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")

  private[graft] def normSrcStr(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")

  private[graft] val ZonemapFamily = "graft-zonemap"

  /** Persisted, append-extendable, removal-subtractable zone map — the
    * manifest-keyed lifecycle: a pure append unions the delta files'
    * partial rows with the previous artifact verbatim; a pure REMOVAL
    * (files lost, none gained — the reference's node-offline cascade,
    * controller/FileTable.java:59-97, as lake maintenance) anti-joins
    * the dropped part files' rows out of the previous artifact —
    * exact because the artifact is per-(part file, file_id) partials
    * (see zonemapPartialsFor); neither leg re-reads a covered corpus
    * byte. A MIXED tick (append + removal in one manifest change — the
    * general daily shape) evolves both legs in one pass:
    * `deltaBuild(removeBuild(prev, removed), added)`; a MODIFIED file
    * (same path, new length/mtime) rides the same two legs — its old
    * rows subtract by path, its new bytes re-ingest as delta.
    * StorageSpec proves extend ≡ rebuild, removal ≡ rebuild, mixed ≡
    * rebuild, and delta-only reads by corruption witnesses.
    */
  private[graft] def ensureZoneMap(s: SparkSession, d: String): String =
    ensureZoneMapWithLines(s, d, manifestLines(s, s"$d/lineitem.parquet"))

  private[graft] val ZonemapMergedFamily = "graft-zonemap-merged"

  /** The READ-side zone map: per-file merged rows persisted as their
    * own manifest-keyed artifact derived from the partials table, so
    * queries pay the merge shuffle ONCE per manifest state and every
    * later read (and session) is a plain metadata-sized parquet scan —
    * the partials stay the EVOLUTION substrate (append unions, removal
    * anti-joins), the merged view stays the query substrate.
    */
  private[graft] def ensureZoneMapMerged(s: SparkSession, d: String): String = {
    val src = s"$d/lineitem.parquet"
    val lines = manifestLines(s, src)
    val partials = ensureZoneMapWithLines(s, d, lines)
    Derived.ensure(s, ZonemapMergedFamily, src,
      version = manifestVersion(lines)) { tmp =>
      zonemapMerge(ParquetMeta.read(s, partials))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
  }

  /** Row-format tag of every manifest-keyed artifact (zone map, Bloom
    * index, dedup substrates, IVF index). Bump it when any of their row
    * formats changes: artifacts written under an older tag are never
    * served and never evolved from ([[bestOverlapBase]]) — they are
    * rebuilt from the source, not migrated, and the ordinary
    * generation GC (Derived.retireSuperseded) reclaims them. scripts/
    * check.py mirrors it to locate the current substrate artifacts.
    */
  private[graft] val FormatTag = "v3"

  /** `<mtime>_<version>` (an artifact dir name after its dataset label)
    * of a current-[[FormatTag]] version, a `-r<n>` refit generation
    * included.
    */
  private val CurrentTagName = s"\\d+_${FormatTag}m.*"

  /** Whether `<mtime>_<version>` names a manifest-keyed generation of
    * an older [[FormatTag]] (`m<key>`, `v2m<key>`, …): never served,
    * never an evolve base, so the generation GC does not keep it as a
    * spare.
    */
  private[graft] def olderFormat(afterLabel: String): Boolean =
    afterLabel.matches("\\d+_[a-z0-9]*m[0-9a-f]{12}(-r\\d+)?") &&
      !afterLabel.matches(CurrentTagName)

  /** The version key of a manifest-keyed artifact: [[FormatTag]], then
    * `m` and a 12-hex digest of its listing — the one spelling every
    * dirFor/ensure/resolveGeneration of these families uses.
    */
  private[graft] def manifestVersion(lines: Seq[String]): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"${FormatTag}m$key"
  }

  /** Spec entry: the zone-map lifecycle over a caller-pinned listing —
    * how StorageSpec simulates the append-during-build race
    * deterministically (the TOCTOU witness).
    */
  private[graft] def ensureZoneMapWithLines(s: SparkSession, d: String,
      lines: Seq[String]): String =
    ensureManifestKeyedWithLines(s, ZonemapFamily, s"$d/lineitem.parquet", lines)(
      fullBuild = pinned => zonemapPartialsFor(ParquetMeta.read(s, pinned: _*)),
      deltaBuild = (prevRows, delta) =>
        prevRows.unionByName(zonemapPartialsFor(ParquetMeta.read(s, delta: _*))),
      removeBuild = (prevRows, removed) => {
        import s.implicits._
        // anti-join, not isin: the removed list is file-count-sized
        // (~10⁶ paths at 100 TB) — a broadcast relation, never a
        // million-literal predicate
        val gone = removed.map(normSrcStr).toDF("gone_src")
        prevRows.join(broadcast(gone), col("src") === col("gone_src"), "left_anti")
      })

  /** Prune window for q_zonemap_prune (inclusive ship-date range). */
  private[graft] val PruneLo = "1995-06-01 00:00:00"
  private[graft] val PruneHi = "1995-06-30 23:59:59"

  /** q_zonemap_prune — candidate files for a ship-date range predicate,
    * answered FROM THE ZONE MAP ALONE: a file qualifies iff its
    * [min_ship, max_ship] interval overlaps the query window. Sound
    * (never drops a file that contains a matching chunk — StorageSpec
    * pins this against the raw data) but inexact (a file may span the
    * window without a chunk inside it); the scan that follows reads only
    * candidates. On this fixture the window keeps 3,672 of 14,743 files
    * (75% of the data never read); at 100 TB this is the difference
    * between a metadata lookup + targeted scan and a full-table pass.
    */
  def zonemapPrune(s: SparkSession, d: String): DataFrame =
    ParquetMeta.read(s, ensureZoneMapMerged(s, d))
      .where(col("max_ship") >= lit(PruneLo).cast("timestamp") &&
        col("min_ship") <= lit(PruneHi).cast("timestamp"))
      .select("file_id", "n_chunks", "size_units")
      .orderBy("file_id")

  /** Files below this size are compaction candidates (q_compact_plan). */
  private[graft] val SmallFileUnits = 100L
  /** Target compacted-file size (q_compact_plan bin budget). */
  private[graft] val CompactTarget = 512L

  /** q_compact_plan — small-file compaction planner: group each
    * partition's sub-target files into merge bins of ~CompactTarget
    * units. Small files are the operational tax of every streaming/
    * incremental ingest (each micro-batch commit is a file; a 100 TB
    * table accretes millions), and compaction is the job that keeps scan
    * parallelism healthy. The plan is the q_pack_sequences prefix-sum
    * shape applied to the catalog tier: bin = exclusive running size sum
    * (per partition, in file-id order) DIV target — a window aggregate,
    * one shuffle, parallel across partitions, never splitting a file;
    * bins overflow by at most one file. Files ≥ the threshold are left
    * alone (rewriting them is wasted IO). The orders join supplies the
    * table-partition dimension (o_orderstatus); both sides hash to the
    * same key, and the planner input is already metadata-sized.
    */
  def compactPlan(s: SparkSession, d: String): DataFrame = {
    val files = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("file_id"))
      .agg(expr(sizeUnits).as("size_units"))
      .where(col("size_units") < SmallFileUnits)
    val parts = Tables.orders(s, d)
      .select(col("o_orderkey").as("file_id"), col("o_orderstatus").as("status"))
    val w = Window.partitionBy("status").orderBy("file_id")
    files.join(parts, "file_id")
      .withColumn("cum_excl",
        coalesce(sum(col("size_units"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("status"), col("file_id"), col("size_units"),
        expr(s"cum_excl DIV $CompactTarget").as("bin"))
      .orderBy("status", "file_id")
  }

  /** Report size for q_skew_diagnose (top-N heaviest keys). */
  private[graft] val SkewTopN = 20

  /** q_skew_diagnose — join-key heavy-hitter report: the pre-flight
    * check that decides whether a join needs the q_join_salted
    * mitigation (ops/Skew.scala) or AQE's skew split. Per-key row
    * counts, each key's share of the table (ppm), and its ratio to the
    * uniform share (micros; 1,000,000 = perfectly uniform) — all exact
    * integer arithmetic (the q_mix_weights pattern: no IEEE division in
    * the hashed output, DECIMAL(38,0) intermediates so `n × n_keys ×
    * 10⁶` survives 100 TB row counts). Two hash aggregates + a 1-row
    * broadcast; the report is top-SkewTopN, driver-safe by construction.
    */
  def skewDiagnose(s: SparkSession, d: String): DataFrame = {
    val perKey = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("part_key"))
      .agg(count(lit(1)).as("n_chunks"))
    val global = perKey.agg(
      sum(col("n_chunks")).as("total_chunks"),
      count(lit(1)).as("n_keys"))
    perKey.crossJoin(broadcast(global))
      .select(col("part_key"), col("n_chunks"),
        expr("CAST(CAST(n_chunks AS DECIMAL(38,0)) * 1000000 DIV " +
          "total_chunks AS BIGINT)").as("share_ppm"),
        expr("CAST(CAST(n_chunks AS DECIMAL(38,0)) * n_keys * 1000000 DIV " +
          "total_chunks AS BIGINT)").as("skew_micros"))
      .orderBy(col("n_chunks").desc, col("part_key"))
      .limit(SkewTopN)
  }

  /** Column list profiled by q_profile_columns (documents table). */
  private val ProfileCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** q_profile_columns — the data-quality profile every ingest runs
    * before promoting a batch: per column, null count, exact distinct
    * count, and min/max compared on the NATIVE type then rendered to
    * string (so doc_id profiles numerically, not lexicographically).
    * ONE scan: every metric lands in a single aggregate row (the
    * multiple exact count-distincts cost one Expand — the documented
    * trade; at 100 TB swap approx_count_distinct if ~2% error is
    * acceptable), then stack() unpivots to a row per column. Output is
    * column-count-sized — the profile of a 100 TB table is five rows.
    * Plan notes: the string min/max buffers force SortAggregate, but
    * with NO grouping keys no sort is inserted — it is a plain
    * partial+final accumulation pass; the SinglePartition exchange is
    * the inherent 1-row global aggregate (both are the documented
    * benign cases in `graft.Probe explain`'s red-flag list).
    */
  def profileColumns(s: SparkSession, d: String): DataFrame = {
    val aggs = ProfileCols.flatMap { c => Seq(
      count(col(c)).as(s"cnt_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      min(col(c)).cast("string").as(s"min_$c"),
      max(col(c)).cast("string").as(s"max_$c")) }
    val stackArgs = ProfileCols.map(c =>
      s"'$c', n_rows - cnt_$c, nd_$c, min_$c, max_$c").mkString(", ")
    Tables.documents(s, d)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), expr(s"stack(${ProfileCols.length}, $stackArgs) " +
        "AS (column_name, n_nulls, n_distinct, min_val, max_val)"))
      .select("column_name", "n_rows", "n_nulls", "n_distinct",
        "min_val", "max_val")
      .orderBy("column_name")
  }

  /** Bloom geometry for the file-membership index (q_fileindex_*): m
    * bits per file, 2 md5-derived positions per key. md5 (the engine-
    * neutral hash idiom), NOT xxhash64: here the positions ARE the
    * output — the index is a persisted table — so both engines must
    * derive them identically, unlike decontaminateBloom's prefilter
    * where the bits are result-neutral.
    */
  private[graft] val FileBloomBits = 1024L

  /** Probe key for q_fileindex_prune (a supplier id present at every
    * test SF).
    */
  private[graft] val ProbeSuppKey = 7L

  /** The 60-bit md5-prefix hash of `key`, DuckDB spelling. */
  private def bloomHashDuck(key: String): String =
    s"CAST(concat('0x', substring(md5($key), 1, 15)) AS BIGINT)"

  /** The same hash in Spark: the native 60-bit hash
    * (functions/Md5Prefix64) — value-identical to
    * CAST(conv(substring(md5(k),1,15),16,10) AS BIGINT) without the hex
    * round-trip; the positions are oracle-checked OUTPUT
    * (q_fileindex_build), so the gate proves build/probe/oracle still
    * agree. Registered by GraftExtensions AND GraftFunctions, so both the
    * DataFrame builders and the Spark-SQL surface texts resolve it.
    */
  private def bloomHashSpark(key: String): String = s"md5_prefix64($key)"

  /** Both positions of hash `h` from ONE md5 (Kirsch-Mitzenmacher double
    * hashing: disjoint 10-bit ranges of the 60-bit hash) — halves the
    * per-row hash cost vs a seed-per-position md5. `div` is the
    * dialect's integer division (DuckDB `//`, Spark `DIV`).
    *
    * SINGLE SOURCE for the position formula, instantiated per dialect
    * (the zExpr/zorderSql template rule): the positions ARE the index's
    * contract, and build/probe/oracle sites deriving them independently
    * is how a future formula change silently splits them — a build/probe
    * disagreement produces false NEGATIVES, i.e. the prune drops files
    * that contain the key.
    */
  private def bloomPosPair(h: String, div: String): Seq[String] =
    Seq(s"$h % $FileBloomBits", s"($h $div $FileBloomBits) % $FileBloomBits")

  /** The positions of a probe `key`, Spark dialect. */
  private[graft] def bloomPoss(key: String): Seq[String] =
    bloomPosPair(bloomHashSpark(key), "DIV")

  /** The texts [[bloomRowsFor]] parses: the hash of its key column `k`
    * and the positions of its hash column `h`.
    */
  private[graft] def bloomRowHash: String = bloomHashSpark("k")
  private[graft] def bloomRowPoss: Seq[String] = bloomPosPair("h", "DIV")

  /** The index rows (file_id, bit_pos), pre-ORDER BY — shared by build
    * (adds the output order) and prune (consumes unordered).
    */
  private[graft] def fileBloomIndex(s: SparkSession, d: String): DataFrame =
    bloomRowsFor(Tables.lineitem(s, d))

  /** The bloom-row projection over any lineitem-shaped frame — factored
    * out so the incremental ensure can run it over the DELTA data files
    * alone (the full build passes the whole table).
    */
  private def bloomRowsFor(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("file_id"),
        expr("CAST(l_suppkey AS STRING)").as("k"))
      .withColumn("h", expr(bloomRowHash))
      .select(col("file_id"), explode(array(bloomRowPoss.map(expr): _*)).as("bit_pos"))
      .distinct()

  /** q_fileindex_build — per-file Bloom membership index over the
    * point-lookup column (supplier id): the pruning axis zone maps
    * cannot serve. Min/max skips files for RANGE predicates on sorted-ish
    * columns; a point predicate on a column whose values interleave
    * across every file (suppkey here — each file holds an arbitrary
    * handful) gets zero skipping from min/max, but a per-file bit set
    * answers "might this file contain key X" in O(k) metadata probes
    * (parquet's own bloom_filter_enabled column indexes are this
    * structure). One combining distinct over (file, 2 positions per
    * chunk); output is metadata-sized — ≤ 2·distinct-keys-per-file rows
    * per file, hard-capped at m per file.
    *
    * Reads through the PERSISTED index (ensureBloomIndex) — the same
    * artifact the prune probes — so build + prune cost ONE corpus pass
    * total, not one each (the r15 sf100 probe measured the old split as
    * 318 s + 298 s: two full passes over 610M rows for one index).
    */
  def fileindexBuild(s: SparkSession, d: String): DataFrame =
    ParquetMeta.read(s, ensureBloomIndex(s, d)).orderBy("file_id", "bit_pos")

  private[graft] val BloomFamily = "graft-bloom-index"
  private[graft] val BloomManifest = "_MANIFEST"

  /** The source table's data files as manifest lines `len\tmtime\tpath`
    * (sorted; `_`/`.`-prefixed bookkeeping files excluded — the same
    * set a parquet scan reads). The hidden-name test applies to EVERY
    * path component between the table root and the leaf, not just the
    * leaf: a `_temporary` leftover from a crashed append holds part
    * files whose leaf names look clean, but Spark's InMemoryFileIndex
    * never reads them, so admitting them would make the manifest claim
    * coverage of rows the artifact never ingested. The walk prunes a
    * hidden directory instead of descending into it, and uses plain
    * `listStatus`: `listFiles` builds a LocatedFileStatus per file,
    * which on the local FS without native Hadoop forks an `ls -ld`
    * each. The line triple is the identity an append-aware ensure
    * compares: a file with the same path but new length or mtime is a
    * MODIFICATION, never an append.
    */
  private[graft] def manifestLines(s: SparkSession, table: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def line(st: org.apache.hadoop.fs.FileStatus) =
      s"${st.getLen}\t${st.getModificationTime}\t${st.getPath}"
    def walk(dir: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq(line(st))
      }
    val root = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    root.fold(Seq.empty[String])(r => if (r.isFile) Seq(line(r)) else walk(p).sorted)
  }

  private[graft] def manifestPath(lines: Seq[String]): Seq[String] =
    lines.map(_.split('\t')(2))

  /** The best PREVIOUS artifact to evolve toward the current listing:
    * the one sharing the most manifest lines with it, tiebroken by the
    * fewest lines to subtract. A subtractable index accepts ANY
    * overlapping base (the general daily tick — appends AND retention
    * drops in one manifest change); an unsubtractable one
    * (`subtractable = false`, the Bloom bit set) only accepts strict
    * SUBSET bases, because a base with removals would force the full
    * rebuild even when a cheaper pure-append base exists. Only bases
    * whose version carries the current [[FormatTag]] qualify: rows of
    * an older format are never carried forward. Skips in-flight
    * '.build-' staging dirs (a concurrent JVM's temp dir carries its
    * marker + _MANIFEST BEFORE the publish rename — selecting it races
    * the rename and reads a vanishing path) and '.old-' trash (a retire
    * renames the outgoing artifact there before deleting; a crash
    * between the two would otherwise strand a selectable stale base).
    * Enumerates the family dir by the dataset's label prefix
    * (Derived.labelFor: same formula as dirFor, no drift).
    */
  private[graft] def bestOverlapBase(s: SparkSession, family: String, src: String,
      current: Seq[String], marker: String = "_SUCCESS",
      subtractable: Boolean = true): Option[(String, Set[String])] = {
    val fam = new org.apache.hadoop.fs.Path(Derived.familyDir(family))
    val fs = fam.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(fam) || current.isEmpty) return None
    val prefix = Derived.labelFor(src) + "_"
    val cur = current.toSet
    fs.listStatus(fam).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.startsWith(prefix) &&
          n.stripPrefix(prefix).matches(CurrentTagName) &&
          !Derived.isStagingOrTrash(n)
      }
      .flatMap { st =>
        val dir = st.getPath
        val ok = fs.exists(new org.apache.hadoop.fs.Path(dir, marker)) &&
          fs.exists(new org.apache.hadoop.fs.Path(dir, BloomManifest))
        if (!ok) None
        else {
          val in = fs.open(new org.apache.hadoop.fs.Path(dir, BloomManifest))
          val prev = try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toSet finally in.close()
          val overlap = prev.count(cur)
          val admissible = overlap > 0 && prev != cur &&
            (subtractable || prev.forall(cur))
          if (admissible) Some((dir.toString, prev, overlap)) else None
        }
      }
      .sortBy { case (_, prev, overlap) => (-overlap, prev.size) }
      .headOption.map { case (dir, prev, _) => (dir, prev) }
  }

  /** Test seam: fires after an evolve base is SELECTED but before its
    * rows are read — the one window where another process's generation
    * GC can retire the base out from under this build
    * (Derived.retireSuperseded's documented story: the loser "fails
    * its build loudly and retries into a full rebuild").
    * CrossProcessRaceSpec injects the concurrent retire
    * deterministically; production leaves a no-op.
    */
  private[graft] var postBaseSelectHook: String => Unit = _ => ()

  /** Post-write small-file compaction for STAGED artifacts (see the
    * call site above for the rationale). Rewrites in place (write to a
    * sibling staging dir, delete, rename) only when the file count is
    * ≳4× what ~64 MB files would need AND the artifact is under 2 GiB
    * (the rewrite is a local read+write of a small artifact, never a
    * shuffle — coalesce over the already-materialized staged files
    * cannot collapse the build's parallelism retroactively).
    */
  private def compactSmallFiles(s: SparkSession, tmp: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    val bytes = parts.map(_.getLen).sum
    val target = math.max(1L, (bytes + (64L << 20) - 1) / (64L << 20)).toInt
    if (parts.length > target * 4 && bytes < (2L << 30)) {
      val tmp2 = new org.apache.hadoop.fs.Path(tmp + ".compact")
      ParquetMeta.read(s, tmp).coalesce(target)
        .write.mode("overwrite").parquet(tmp2.toString)
      fs.delete(p, true)
      if (!fs.rename(tmp2, p))
        throw new java.io.IOException(s"compactSmallFiles: rename $tmp2 -> $p failed")
    }
  }

  /** Manifest-keyed build-or-extend lifecycle shared by the Bloom
    * index, the zone map and the row substrates: the artifact key is
    * the full data-file listing, here CALLER-pinned — the spec hands it
    * a stale snapshot to prove artifact content and manifest derive
    * from the same listing (the TOCTOU witness). Every build reads
    * exactly the pinned listing's paths, never a live directory scan:
    * a file appended between the listing and the build would otherwise
    * be baked into the artifact but absent from its _MANIFEST, so the
    * next ensure would merge it AGAIN as delta — double-counted
    * zone-map stats, duplicate IVF assignment rows.
    *
    * The manifest diff against the best overlapping previous artifact
    * splits into `removed` (lines the base covered that are gone) and
    * `added` (new lines); the general daily tick carries BOTH — an
    * ingest appends partitions while retention drops old ones. Rows
    * evolve as `deltaBuild(removeBuild(prevRows, removed), added)`:
    * subtraction first (the reference's node-offline cascade delete,
    * controller/FileTable.java:59-97, as index maintenance), then the
    * append merge, each leg skipped when its diff is empty. No base
    * (first build) runs `fullBuild`. An unsubtractable index
    * (`removeBuild = null`, the Bloom bit-OR) only ever sees
    * pure-append bases (bestOverlapBase filters for it) and
    * full-rebuilds on any removal. Every base is of the current
    * [[FormatTag]], so its rows are of the builders' own format. Covered
    * corpus bytes are never re-read on the evolve path. The builder
    * output is published atomically with its manifest (Derived.ensure).
    */
  private[graft] def ensureManifestKeyedWithLines(s: SparkSession,
      family: String, src: String, lines: Seq[String])(
      fullBuild: Seq[String] => DataFrame,
      deltaBuild: (DataFrame, Seq[String]) => DataFrame,
      removeBuild: (DataFrame, Seq[String]) => DataFrame,
      validate: String => Unit = _ => ()): String = {
    Derived.ensure(s, family, src, version = manifestVersion(lines)) { tmp =>
      val rows = bestOverlapBase(s, family, src, lines,
        subtractable = removeBuild != null) match {
        case Some((prevDir, prev)) =>
          postBaseSelectHook(prevDir)
          val removed = manifestPath((prev -- lines.toSet).toSeq.sorted)
          val added = manifestPath(lines.filterNot(prev))
          val prevRows = ParquetMeta.read(s, prevDir)
          val afterRemove =
            if (removed.isEmpty) prevRows else removeBuild(prevRows, removed)
          if (added.isEmpty) afterRemove else deltaBuild(afterRemove, added)
        case None =>
          // refuse the unsound shortcut LOUDLY: if an overlapping base
          // exists but this index cannot subtract (Bloom: bits OR in,
          // never out), say so before paying the rebuild
          if (removeBuild == null &&
              bestOverlapBase(s, family, src, lines).isDefined)
            log.warn(s"$family: manifest shrank but this index is not " +
              "subtractable — full rebuild")
          fullBuild(manifestPath(lines))
      }
      rows.write.mode("overwrite").parquet(tmp)
      // Write-side sizing (guide §6): builders fan their map stages out
      // to every core (Tables.fanOut), which would otherwise publish
      // one artifact FILE per map partition — 32 tiny files at test SFs,
      // a file open and footer read for every later reader. (The 3.2×
      // regression once measured here was q_substrate_stats' serial
      // footer opens, which ParquetMeta.footers now reads concurrently;
      // what the tiny-file layout costs today's readers is unmeasured.)
      // Compact ONLY the pathological layout, after
      // the fact: when the staged artifact has many times more files
      // than its bytes justify (and is small enough that a local
      // rewrite is trivial), read it back and rewrite coalesced to
      // ~64 MB files. Costs one cheap rewrite exactly when the build
      // was fanned out over tiny data; a production-scale build (input
      // already multi-split, files ≈ split-sized) never qualifies and
      // pays nothing — unlike an unconditional pre-write rebalance,
      // which was measured adding an artifact-sized shuffle to every
      // large build (bloom at sf10: +2.3 GB shuffle for nothing).
      compactSmallFiles(s, tmp)
      // invariant hook over the STAGED artifact (never the corpus): a
      // violation throws here, before the publish rename, so a bad
      // build fails loudly instead of serving a corrupt artifact
      validate(tmp)
      stampManifest(s, tmp, lines)
    }
  }

  /** Stamp a staged artifact with the listing it was built from
    * ([[BloomManifest]]) — what [[bestOverlapBase]] diffs a later
    * listing against.
    */
  private[graft] def stampManifest(s: SparkSession, tmp: String,
      lines: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, BloomManifest))
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Persisted form of the Bloom index, keyed by dataset dir + the FULL
    * data-file manifest (path, length, mtime of every part file) — a
    * driver-regenerated fixture must miss, or a stale index would serve
    * wrong prune sets to the oracle gate. Same build-once/probe-many
    * lifecycle as the IVF index (LlmPipeline.ensureIvfIndex), PLUS the
    * append lifecycle a daily-ingest lake needs: when the current
    * listing strictly extends a previously published
    * artifact's manifest, the build scans ONLY the delta files and
    * unions them with the previous artifact's metadata-sized rows —
    * never re-reading covered corpus bytes (StorageSpec proves this by
    * corrupting a covered file in place: the extend succeeds, a rebuild
    * could not). Any non-append change (modified/removed file) fails
    * the subset test and falls back to the full rebuild. Set-identical
    * to the full build by construction: distinct(prev ∪ delta) =
    * distinct(all) because the projection is per-row. Mirrors the
    * reference's delta heartbeats — publish what changed, not the
    * world (storageNode/HeartbeatRunnable.java:101-143) — and the
    * repo's own q_dedup_incremental probe-don't-rebuild discipline.
    */
  private[graft] def ensureBloomIndex(s: SparkSession, d: String): String = {
    val src = s"$d/lineitem.parquet"
    ensureManifestKeyedWithLines(s, BloomFamily, src, manifestLines(s, src))(
      fullBuild = pinned => bloomRowsFor(ParquetMeta.read(s, pinned: _*)),
      deltaBuild = (prevRows, delta) =>
        // delta rows ∪ previous artifact, re-distinct'd: a file_id whose
        // rows span covered and new part files would otherwise duplicate.
        // Set-identical to the full build (the projection is per-row).
        bloomRowsFor(ParquetMeta.read(s, delta: _*))
          .unionByName(prevRows)
          .distinct(),
      // bits OR in, never out: a removed file's positions may also be
      // witnessed by surviving rows, so subtraction is unsound — the
      // lifecycle refuses loudly and rebuilds
      removeBuild = null)
  }

  /** q_fileindex_prune — candidate files for `l_suppkey = ProbeSuppKey`,
    * answered FROM THE INDEX ALONE: a file qualifies iff its bit set
    * contains EVERY probe position. Sound (the build derives positions
    * with the same hashes, so a file truly holding the key always has
    * both bits — StorageSpec pins this against the raw data) but
    * inexact (position collisions admit false positives at the standard
    * Bloom rate). The probe positions are a ≤2-row broadcast; the
    * qualifying check is one combining count per file.
    *
    * Answers from the PERSISTED index (ensureBloomIndex): the first
    * call per dataset builds it; every later call — and later session —
    * reads the metadata-sized parquet, never the chunk table. Rebuilding
    * inline per probe re-scanned the corpus on every point lookup.
    */
  def fileindexPrune(s: SparkSession, d: String): DataFrame = {
    val pExprs = bloomPoss(s"'$ProbeSuppKey'")
    val ppos = s.range(1)
      .select(explode(expr(s"array_distinct(array(${pExprs.mkString(", ")}))"))
        .as("bit_pos"))
    val need = ppos.agg(count(lit(1)).as("n_need"))
    ParquetMeta.read(s, ensureBloomIndex(s, d))
      .join(broadcast(ppos), Seq("bit_pos"))
      .groupBy("file_id").agg(count(lit(1)).as("n_hit"))
      .crossJoin(broadcast(need))
      .where(col("n_hit") === col("n_need"))
      .select("file_id")
      .orderBy("file_id")
  }

  private[graft] val ZBits = 16
  private[graft] val ZNFiles = 64L
  private[graft] val ZMask = (1L << ZBits) - 1 // 65535: normalized key range
  private[graft] val ZFileWidth = (1L << (2 * ZBits)) / ZNFiles

  /** Unrolled bit-interleave of two keys already normalized to
    * [0, 2^ZBits): a takes the even bits, b the odd. Plain BIGINT
    * arithmetic — `(k / 2^i) % 2 * 2^j` terms — parameterized only by
    * the integer-division token (Spark `DIV`, DuckDB `//`), so both
    * engines run the SAME generated text.
    */
  private[graft] def zExpr(a: String, b: String, div: String): String =
    (0 until ZBits).flatMap { i =>
      Seq(s"(($a $div ${1L << i}) % 2) * ${1L << (2 * i)}",
        s"(($b $div ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")

  /** q_zorder_layout — Z-order (Morton-curve) data layout: the
    * clustering pass a lake runs so that MULTI-dimensional filters
    * prune files (Delta OPTIMIZE ZORDER, Iceberg sort orders — a
    * 1-D sort makes zone maps tight on one column and useless on the
    * second; interleaving both keys' bits makes every file a small
    * RECTANGLE in (part, supp) space, so either predicate prunes).
    * Keys are first range-normalized to 16 bits from the table's own
    * global min/max (the 1-row bounds aggregate broadcasts; width
    * guarded ≥1 against a constant column), interleaved into a 32-bit
    * z-value, and rows land in the file whose fixed z-range contains
    * them — file assignment is PURE ARITHMETIC, no global sort or
    * rank, so the layout pass is mapper-only + one metadata-sized
    * aggregate. Output is the resulting per-file zone map (row count
    * + min/max of both dimensions): the table a planner would prune
    * against, and the witness that the boxes are tight. StorageSpec
    * additionally proves the point: a 2-D probe rectangle intersects
    * strictly fewer z-layout boxes than natural-order boxes.
    */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val bounds = li.agg(
      min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
      min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
    li.select("l_partkey", "l_suppkey")
      .crossJoin(broadcast(bounds))
      .select(col("l_partkey"), col("l_suppkey"),
        expr(s"((l_partkey - pmin) * $ZMask) DIV greatest(pmax - pmin, 1)").as("a16"),
        expr(s"((l_suppkey - smin) * $ZMask) DIV greatest(smax - smin, 1)").as("b16"))
      .select(col("l_partkey"), col("l_suppkey"),
        expr(s"CAST((${zExpr("a16", "b16", "DIV")}) DIV $ZFileWidth AS BIGINT)")
          .as("file_id"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
        min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
      .orderBy("file_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder_layout"   -> (zorderLayout _),
    "q_zonemap_build"   -> (zonemapBuild _),
    "q_zonemap_prune"   -> (zonemapPrune _),
    "q_compact_plan"    -> (compactPlan _),
    "q_skew_diagnose"   -> (skewDiagnose _),
    "q_profile_columns" -> (profileColumns _),
    "q_fileindex_build" -> (fileindexBuild _),
    "q_fileindex_prune" -> (fileindexPrune _))

  /** Shared zone-map CTE (both dialects agree on this text). */
  private val zmCte =
    "zm AS (SELECT l_orderkey AS file_id, count(*) AS n_chunks, " +
      "min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship, " +
      "min(l_partkey) AS min_part, max(l_partkey) AS max_part, " +
      s"$sizeUnits AS size_units FROM lineitem GROUP BY l_orderkey)"

  /** Both dialect texts of the z-layout query generate from the same
    * zExpr constants; only the integer-division token differs.
    */
  private[graft] def zorderSql(div: String): String =
    "WITH bounds AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax, " +
      "min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem), " +
      "n AS (SELECT l_partkey, l_suppkey, " +
      s"((l_partkey - pmin) * $ZMask) $div greatest(pmax - pmin, 1) AS a16, " +
      s"((l_suppkey - smin) * $ZMask) $div greatest(smax - smin, 1) AS b16 " +
      "FROM lineitem CROSS JOIN bounds), " +
      "z AS (SELECT l_partkey, l_suppkey, " +
      s"CAST((${zExpr("a16", "b16", div)}) $div $ZFileWidth AS BIGINT) AS file_id FROM n) " +
      "SELECT file_id, count(*) AS n_rows, " +
      "min(l_partkey) AS min_part, max(l_partkey) AS max_part, " +
      "min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp " +
      "FROM z GROUP BY file_id ORDER BY file_id"

  val oracle: Map[String, String] = Map(
    "q_zorder_layout" -> zorderSql("//"),
    "q_zonemap_build" ->
      (s"WITH $zmCte SELECT * FROM zm ORDER BY file_id"),
    "q_zonemap_prune" ->
      (s"WITH $zmCte SELECT file_id, n_chunks, size_units FROM zm " +
        s"WHERE max_ship >= TIMESTAMP '$PruneLo' " +
        s"AND min_ship <= TIMESTAMP '$PruneHi' ORDER BY file_id"),
    "q_compact_plan" ->
      (s"WITH f AS (SELECT l_orderkey AS file_id, $sizeUnits AS size_units " +
        s"FROM lineitem GROUP BY l_orderkey HAVING $sizeUnits < $SmallFileUnits), " +
        "j AS (SELECT o_orderstatus AS status, file_id, size_units " +
        "FROM f JOIN orders ON file_id = o_orderkey), " +
        "c AS (SELECT status, file_id, size_units, " +
        "sum(size_units) OVER (PARTITION BY status ORDER BY file_id) " +
        "- size_units AS cum_excl FROM j) " +
        // DuckDB widens the window sum to HUGEINT and `//` preserves it;
        // pin BIGINT or the value-hash gate fails (the q_pack_sequences
        // lesson, scripts/check.py type-class gate)
        s"SELECT status, file_id, size_units, " +
        s"CAST(cum_excl // $CompactTarget AS BIGINT) AS bin " +
        "FROM c ORDER BY status, file_id"),
    "q_skew_diagnose" ->
      // BIGINT `//` floors like Spark's DECIMAL DIV truncates (values are
      // positive); DuckDB's `//` on DECIMAL operands ROUNDS instead —
      // 816.67 would come back 817 and hash-mismatch. BIGINT is safe at
      // oracle scale; the Spark side carries the DECIMAL(38,0) guard.
      ("WITH pk AS (SELECT l_partkey AS part_key, count(*) AS n_chunks " +
        "FROM lineitem GROUP BY l_partkey), " +
        "g AS (SELECT CAST(sum(n_chunks) AS BIGINT) AS total_chunks, " +
        "count(*) AS n_keys FROM pk) " +
        "SELECT part_key, n_chunks, " +
        "CAST(n_chunks * 1000000 // total_chunks AS BIGINT) AS share_ppm, " +
        "CAST(n_chunks * n_keys * 1000000 // total_chunks AS BIGINT) " +
        "AS skew_micros " +
        "FROM pk, g " +
        s"ORDER BY n_chunks DESC, part_key LIMIT $SkewTopN"),
    "q_profile_columns" -> {
      val aggSelects = ProfileCols.map(c =>
        s"count($c) AS cnt_$c, count(DISTINCT $c) AS nd_$c, " +
          s"CAST(min($c) AS VARCHAR) AS min_$c, CAST(max($c) AS VARCHAR) AS max_$c")
        .mkString(", ")
      val branches = ProfileCols.map(c =>
        s"SELECT '$c' AS column_name, n_rows, n_rows - cnt_$c AS n_nulls, " +
          s"nd_$c AS n_distinct, min_$c AS min_val, max_$c AS max_val FROM a")
        .mkString(" UNION ALL ")
      s"WITH a AS (SELECT count(*) AS n_rows, $aggSelects FROM documents) " +
        s"$branches ORDER BY column_name"
    },
    "q_fileindex_build" -> fileIndexBuildSql(fileBloomDuck),
    "q_fileindex_prune" -> fileIndexPruneSql(fileBloomDuck, probePosDuck))

  // the file-index texts over the dialect's index rows `bloom` and probe
  // positions `probePos(1|2)`
  private def fileIndexBuildSql(bloom: String) =
    s"WITH b AS ($bloom) " +
      "SELECT file_id, bit_pos FROM b ORDER BY file_id, bit_pos"
  private def fileIndexPruneSql(bloom: String, probePos: Int => String) =
    s"WITH idx AS ($bloom), " +
      s"p AS (SELECT DISTINCT bit_pos FROM (${probePos(1)} UNION ALL ${probePos(2)})), " +
      "n AS (SELECT count(*) AS n_need FROM p) " +
      "SELECT file_id FROM idx JOIN p USING (bit_pos) CROSS JOIN n " +
      "GROUP BY file_id, n_need HAVING count(*) = n_need " +
      "ORDER BY file_id"

  /** DuckDB form of the index rows — generated from the SAME position
    * template as the Spark builders (bloomPosPair).
    */
  private def fileBloomDuck: String =
    s"SELECT DISTINCT file_id, bit_pos FROM (" +
      "SELECT l_orderkey AS file_id, " +
      s"unnest([${bloomPosPair("h", "//").mkString(", ")}]) AS bit_pos " +
      "FROM (SELECT l_orderkey, " +
      s"${bloomHashDuck("CAST(l_suppkey AS VARCHAR)")} AS h " +
      "FROM lineitem))"

  private def probePosDuck(i: Int): String =
    s"SELECT ${bloomPosPair(bloomHashDuck(s"'$ProbeSuppKey'"), "//")(i - 1)} AS bit_pos"

  /** Spark-dialect overrides — the zone-map texts run verbatim in both
    * dialects; these two differ only in integer division (Spark `DIV` vs
    * DuckDB `//`) and in the skew report's DECIMAL(38,0) overflow guard
    * (needed for 100 TB row counts; DuckDB's decimal `//` rounds instead
    * of flooring, so the oracle stays BIGINT at its own scale).
    */
  val sparkSql: Map[String, String] = Map(
    "q_zorder_layout" -> zorderSql("DIV"),
    // NTZ casts on the raw min/max timestamps, matching the DataFrame
    // form (Spark reads the naive parquet micros as LTZ, DuckDB as naive)
    "q_zonemap_build" ->
      (s"WITH $zmCte SELECT file_id, n_chunks, " +
        "CAST(min_ship AS TIMESTAMP_NTZ) AS min_ship, " +
        "CAST(max_ship AS TIMESTAMP_NTZ) AS max_ship, " +
        "min_part, max_part, size_units FROM zm ORDER BY file_id"),
    "q_compact_plan" -> oracle("q_compact_plan").replace(
      s"cum_excl // $CompactTarget", s"cum_excl DIV $CompactTarget"),
    "q_skew_diagnose" ->
      ("WITH pk AS (SELECT l_partkey AS part_key, count(*) AS n_chunks " +
        "FROM lineitem GROUP BY l_partkey), " +
        "g AS (SELECT sum(n_chunks) AS total_chunks, count(*) AS n_keys FROM pk) " +
        "SELECT part_key, n_chunks, " +
        "CAST(CAST(n_chunks AS DECIMAL(38,0)) * 1000000 DIV total_chunks " +
        "AS BIGINT) AS share_ppm, " +
        "CAST(CAST(n_chunks AS DECIMAL(38,0)) * n_keys * 1000000 DIV " +
        "total_chunks AS BIGINT) AS skew_micros " +
        "FROM pk CROSS JOIN g " +
        s"ORDER BY n_chunks DESC, part_key LIMIT $SkewTopN"),
    "q_profile_columns" ->
      oracle("q_profile_columns").replace(" AS VARCHAR)", " AS STRING)"),
    "q_fileindex_build" -> fileIndexBuildSql(fileBloomSpark),
    "q_fileindex_prune" -> fileIndexPruneSql(fileBloomSpark, probePosSpark))

  /** Spark-SQL form of the index rows — same template, spark dialect. */
  private def fileBloomSpark: String =
    s"SELECT DISTINCT file_id, bit_pos FROM (" +
      "SELECT l_orderkey AS file_id, " +
      s"explode(array(${bloomRowPoss.mkString(", ")})) AS bit_pos " +
      "FROM (SELECT l_orderkey, " +
      s"${bloomHashSpark("CAST(l_suppkey AS STRING)")} AS h " +
      "FROM lineitem))"

  private def probePosSpark(i: Int): String =
    s"SELECT ${bloomPoss(s"'$ProbeSuppKey'")(i - 1)} AS bit_pos"
}

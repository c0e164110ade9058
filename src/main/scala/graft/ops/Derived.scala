package graft.ops

import org.apache.spark.sql.SparkSession

/** Build-once derived artifacts (persisted indexes, corpus exports)
  * keyed by source file + mtime — the shared lifecycle behind the
  * Bloom file index, the IVF index, the JSONL export, and any future
  * persisted artifact: at 100 TB the build is one corpus pass run by
  * the ingest/publishing job, and every later probe reads the
  * artifact, never the corpus. The mtime in the key makes a
  * regenerated source (same path, new bytes) miss rather than serve
  * stale answers; the `version` component lets a changed builder
  * invalidate artifacts written by its older self.
  *
  * Format rule: every artifact here is a cache over its source, so a
  * change to an artifact's row format bumps its version (for the
  * manifest-keyed families, `Storage.FormatTag`). Artifacts written
  * by older code are then rebuilt, never migrated: no current code
  * path serves them or evolves from them, and [[retireSuperseded]]
  * reclaims them like any other superseded generation, because it
  * enumerates a dataset's dirs by label, not by version.
  */
object Derived {

  /** The artifact dir for (`family`, `sourceFile`) — computed, never
    * built. mtime is read through the Hadoop FS API, not java.io.File:
    * the source may be hdfs://…/s3a://… where a local File always
    * reports 0 and the key would never change — a regenerated source
    * would then serve a stale (for the Bloom index: unsound) artifact
    * forever (the mergeLatestSnapshot existence-probe rule). The label
    * is the DATASET dir, the stamp the source file: plan-shape specs
    * assert artifact scans by path, and a table filename in the
    * artifact dir ("…_lineitem.parquet_…") would false-positive a
    * "does not scan the source table" check.
    */
  def dirFor(s: SparkSession, family: String, sourceFile: String,
             version: String = ""): String = {
    val (mtime, _) = sourceStamp(s, sourceFile)
    s"${familyDir(family)}/${labelFor(sourceFile)}" +
      s"_$mtime${if (version.isEmpty) "" else s"_$version"}"
  }

  /** The family's artifact root — where every published artifact for
    * `family` lives, one subdir per (source, mtime, version).
    */
  def familyDir(family: String): String =
    s"${sys.props("java.io.tmpdir")}/$family"

  /** The per-dataset label component of an artifact dir name (the
    * sanitized parent of the source file). Exposed so append-aware
    * ensures (Storage.ensureBloomIndex) can enumerate a dataset's
    * PREVIOUS artifacts — same formula, no duplicate that could drift.
    */
  def labelFor(sourceFile: String): String = {
    // the leading '/' of an absolute path would sanitize to a leading
    // '_', making every artifact dir HIDDEN-named to Spark path
    // filtering — harmless for direct reads, but DataSource resolution
    // logs an "All paths were ignored" warning per read, masking the
    // one WARN class that matters. Prefix with a letter instead. The
    // 8-hex digest of the RAW parent path disambiguates datasets the
    // sanitizer would collapse ("/data/a b" and "/data/a_b" would share
    // a label, so one dataset's generation GC could retire the other's
    // LIVE artifact by prefix).
    val parent = new org.apache.hadoop.fs.Path(sourceFile).getParent.toString
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(parent.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    "d" + digest + "_" + parent.replaceAll("[^A-Za-z0-9._-]", "_")
  }

  /** Hadoop-FS (mtime, length) of a source file, (0, 0) when absent —
    * the staleness stamp of [[graft.SessionMemo]] and of artifact dirs,
    * shared so no caller re-grows the java.io.File-on-remote-path trap.
    */
  def sourceStamp(s: SparkSession, sourceFile: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(sourceFile)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      (st.getModificationTime, st.getLen)
    } catch { case _: java.io.FileNotFoundException => (0L, 0L) }
  }

  /** Per-artifact-dir build locks: two registry queries sharing one
    * artifact (q_jsonl_roundtrip / q_jsonl_audit) may race ensure() in
    * one JVM; the lock single-flights the build so the loser waits and
    * then sees the winner's marker on the post-lock recheck.
    */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Provenance sidecar: the RAW source file a published artifact was
    * built from, stamped by [[ensure]] at publish time. The dir-name
    * label is a one-way digest of the dataset path, so without this
    * record an ABANDONED dataset's artifacts are unattributable and
    * leak forever — generation GC reclaims only when the same dataset
    * is touched again.
    * Underscore-prefixed like _SUCCESS/_MANIFEST, so Spark reads of
    * the artifact ignore it.
    */
  private[graft] val SrcSidecar = "_GRAFT_SRC"

  /** First-seen-orphan tombstone dropped by [[gcOrphans]]: reclaim is
    * two-phase so the TTL measures time since the source was OBSERVED
    * missing, not time since the artifact was published (an old
    * artifact of a just-deleted dataset must get the same in-flight-
    * reader grace as a fresh one).
    */
  private[graft] val OrphanTombstone = "_GRAFT_ORPHAN"

  /** The raw source file `dir` was built from, read from its
    * [[SrcSidecar]]. None when the sidecar is absent (a dir no publish
    * of [[ensure]] wrote): provenance unknown, never guessed at — the
    * entry is skipped by GC.
    */
  private[graft] def recordedSource(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, SrcSidecar)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        .filter(_.nonEmpty)
      finally in.close()
    }
  }

  /** Whether a family-dir entry is an in-flight build's staging dir
    * ('.build-', see [[ensure]]) or a retired dir's trash ('.old-',
    * see [[trashDelete]]) — never a published artifact, so no
    * enumeration may serve it, evolve from it or count it as a
    * generation.
    */
  private[graft] def isStagingOrTrash(name: String): Boolean =
    name.contains(".build-") || name.contains(".old-")

  /** Delete a published dir in two steps — rename to an '.old-' trash
    * sibling, then delete — so it vanishes from every enumeration
    * atomically (they skip [[isStagingOrTrash]] names), while an
    * in-flight reader that already opened its blocks keeps reading
    * inode-alive bytes on POSIX/HDFS as the delete proceeds.
    */
  private def trashDelete(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    val trash = new org.apache.hadoop.fs.Path(
      dir.toString + ".old-" + java.util.UUID.randomUUID().toString.take(8))
    if (fs.rename(dir, trash)) fs.delete(trash, true)
  }

  /** Orphan GC for ABANDONED datasets (the last unbounded-resource
    * path): every other sweep in this lifecycle runs when a dataset is
    * TOUCHED, so a deleted corpus's substrates and indexes (~GBs per
    * dataset at sf100) leaked forever. Sweeps the given family stores
    * for entries whose recorded source file no longer exists. Reclaim
    * is TWO-PHASE: the first pass that observes a missing source drops
    * an [[OrphanTombstone]] and leaves the artifact readable
    * ("pending" grace for in-flight readers of a just-deleted
    * dataset); a later pass finding a tombstone older than `ttlMs`
    * deletes the entry through [[trashDelete]]. A source that
    * REAPPEARS clears the tombstone. TTL-aged '.build-'/
    * '.old-' staging leftovers — likewise unreachable by per-dataset
    * sweeps once their dataset is gone — reclaim under the
    * [[orphanTtlMs]] gate in the same pass, and an emptied family dir
    * is removed. Returns one (family, path, action) row per touched
    * entry, action ∈ tombstoned | pending | reclaimed. Reference
    * analogue: the node-offline cascade cleanup
    * (controller/FileTable.java:59-97).
    */
  def gcOrphans(s: SparkSession, families: Seq[String],
      ttlMs: Long = generationTtlMs): Seq[(String, String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val now = System.currentTimeMillis()
    families.distinct.foreach { family =>
      val fam = new org.apache.hadoop.fs.Path(familyDir(family))
      val fs = fam.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(fam)) {
        fs.listStatus(fam).toSeq.filter(_.isDirectory).foreach { st =>
          val n = st.getPath.getName
          if (isStagingOrTrash(n)) {
            if (now - st.getModificationTime > orphanTtlMs) {
              fs.delete(st.getPath, true)
              out += ((family, st.getPath.toString, "reclaimed"))
            }
          } else recordedSource(fs, st.getPath).foreach { src =>
            val tomb = new org.apache.hadoop.fs.Path(st.getPath, OrphanTombstone)
            if (fs.exists(new org.apache.hadoop.fs.Path(src))) {
              if (fs.exists(tomb)) fs.delete(tomb, false)
            } else if (!fs.exists(tomb)) {
              fs.create(tomb).close()
              out += ((family, st.getPath.toString, "tombstoned"))
            } else if (now - fs.getFileStatus(tomb).getModificationTime >= ttlMs) {
              trashDelete(fs, st.getPath)
              out += ((family, st.getPath.toString, "reclaimed"))
            } else out += ((family, st.getPath.toString, "pending"))
          }
        }
        if (fs.listStatus(fam).isEmpty) fs.delete(fam, false)
      }
    }
    out.toSeq
  }

  /** Test seam: fires between the last exists(dir) recheck and the
    * publish rename — the one window an in-process lock cannot cover
    * (a racing JVM publishing here makes Hadoop rename NEST tmp inside
    * the live dir and still return true). DerivedSpec injects the race
    * deterministically; production leaves it a no-op.
    */
  private[graft] var preRenameHook: () => Unit = () => ()

  /** Returns the artifact dir, invoking the builder first iff the dir
    * has no completion marker (the builder must write through a Spark
    * writer or leave its own `_SUCCESS`). `marker` is the dir-relative
    * completion file for multi-table artifacts whose LAST-written table
    * is the real commit point (e.g. the IVF index's
    * assignments/_SUCCESS).
    *
    * Publish is ATOMIC: the builder runs into a unique temp dir which is
    * renamed into place only once its marker exists — a concurrent
    * reader never observes a half-built artifact (the old check-then-
    * build form could overwrite-delete under a reader mid-rebuild), and
    * two racing JVMs resolve via the rename: the loser's rename fails
    * against the winner's published dir and its temp dir is discarded.
    * In-JVM races are single-flighted through a per-dir lock with a
    * post-lock marker recheck.
    *
    * A call that publishes also retires the superseded generations of
    * this (family, dataset) ([[retireSuperseded]]) — the one place the
    * store's generation GC runs, so every family gets it and a warm
    * call (marker present) never lists the family dir.
    */
  def ensure(s: SparkSession, family: String, sourceFile: String,
             version: String = "", marker: String = "_SUCCESS")
            (build: String => Unit): String = {
    val dir = dirFor(s, family, sourceFile, version)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val success = new org.apache.hadoop.fs.Path(s"$dir/$marker")
    val fs = success.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(success)) return dir
    val lock = buildLocks.computeIfAbsent(dir, _ => new Object)
    lock.synchronized {
      if (!fs.exists(success)) { // post-lock recheck: the winner built it
        val tmp = new org.apache.hadoop.fs.Path(
          dir + ".build-" + java.util.UUID.randomUUID().toString.take(8))
        build(tmp.toString)
        val tmpMarker = new org.apache.hadoop.fs.Path(s"$tmp/$marker")
        if (!fs.exists(tmpMarker)) {
          fs.delete(tmp, true)
          throw new IllegalStateException(
            s"Derived.ensure($family): builder left no $marker under $tmp — refusing to publish")
        }
        // provenance sidecar for the orphan GC (gcOrphans): the dir
        // label is a one-way digest, so the artifact itself records
        // the raw source path it derives from
        val sc = fs.create(new org.apache.hadoop.fs.Path(tmp, SrcSidecar))
        try sc.write(
          sourceFile.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally sc.close()
        // a marker-less leftover (crashed older build) blocks the rename
        // (HDFS rename into an existing dir NESTS the source); it is
        // incomplete by definition, so clear it inside the lock. But if
        // the dir is COMPLETE, a racing JVM published between our
        // post-lock recheck and here — keep ITS artifact (content is
        // identical by construction: same source, same version) and
        // discard ours, instead of deleting a live artifact out from
        // under a concurrent reader for a brief vanish window.
        if (fs.exists(dirPath)) {
          if (fs.exists(success)) { fs.delete(tmp, true); return dir }
          fs.delete(dirPath, true)
        }
        fs.mkdirs(dirPath.getParent)
        preRenameHook()
        if (!fs.rename(tmp, dirPath)) {
          // cross-JVM race: keep the winner's artifact iff complete
          fs.delete(tmp, true)
          if (!fs.exists(success))
            throw new IllegalStateException(
              s"Derived.ensure($family): publish rename to $dir failed and no complete artifact exists")
        } else {
          // Hadoop rename into a dir that APPEARED between the recheck
          // above and here NESTS tmp inside it and still returns true:
          // a stray "<dir>/<family>….build-xxxx" subtree that
          // directory-recursive readers would pick up. Detect and
          // remove the nested leftover; the racer's published artifact
          // (same source, same version ⇒ same content) stays.
          val nested = new org.apache.hadoop.fs.Path(s"$dir/${tmp.getName}")
          if (fs.exists(nested)) fs.delete(nested, true)
          if (!fs.exists(success))
            throw new IllegalStateException(
              s"Derived.ensure($family): published $dir has no $marker after rename")
          retireSuperseded(s, family, sourceFile, dir, marker)
        }
      }
    }
    dir
  }

  /** Evolvable bases kept per (family, dataset) beyond the current
    * artifact — the retire budget. One spare keeps the previous
    * generation alive for in-flight readers and as a fallback evolve
    * base; everything older is storage the lake pays for and listing
    * cost every ensure pays. `private[graft] var` so specs can pin the
    * bound.
    */
  private[graft] var keepGenerations: Int = 1

  /** Age gate for sweeping orphaned '.build-'/'.old-' staging and
    * trash dirs (crashed builds/replaces): young ones may belong to an
    * in-flight build in another JVM and are left alone.
    */
  private[graft] var orphanTtlMs: Long = 6L * 3600 * 1000

  /** Age gate for retiring COMPLETE superseded generations: the count
    * budget alone could delete a generation two publishes back while a
    * slow query that planned a DataFrame over it hasn't launched its
    * tasks yet — two rapid maintenance publishes would FileNotFound it
    * at task launch. A generation must be BOTH over the keep budget AND
    * older than the longest plausible in-flight query before deletion.
    */
  private[graft] var generationTtlMs: Long = 3600L * 1000

  /** Retire superseded generations after a publish ([[ensure]] calls
    * it once its rename lands): of this dataset's COMPLETE artifact
    * dirs, keep `keepDir` (the one just published) plus the
    * [[keepGenerations]] most-recent others, delete the rest —
    * the reference retires what it supersedes (compaction deletes
    * originals; the node-offline cascade deletes orphaned state,
    * controller/FileTable.java:59-97) where this lifecycle previously
    * accreted every generation forever AND enumerated them all on
    * every ensure. Each retire goes through [[trashDelete]], so the dir
    * vanishes from bestOverlapBase's enumeration atomically; a reader
    * that races the window and loses re-ensures against the current
    * generation. The dataset's dirs are enumerated by label, whatever
    * their version. A generation written under an older format tag
    * (Storage.olderFormat) is not a spare: no later ensure serves or
    * evolves from it, so it retires once TTL-aged whatever the budget.
    * The same pass sweeps TTL-aged orphan '.build-'/
    * '.old-' leftovers from crashed builds. A concurrent JVM evolving
    * FROM a just-retired base fails its build loudly and retries into
    * a full rebuild — never a wrong artifact.
    */
  def retireSuperseded(s: SparkSession, family: String, sourceFile: String,
      keepDir: String, marker: String = "_SUCCESS"): Unit = {
    val fam = new org.apache.hadoop.fs.Path(familyDir(family))
    val fs = fam.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(fam)) return
    val prefix = labelFor(sourceFile) + "_"
    val keepName = new org.apache.hadoop.fs.Path(keepDir).getName
    val now = System.currentTimeMillis()
    val (transient, published) = fs.listStatus(fam).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .partition(st => isStagingOrTrash(st.getPath.getName))
    transient.filter(st => now - st.getModificationTime > orphanTtlMs)
      .foreach(st => fs.delete(st.getPath, true))
    val (older, spares) = published.filter(st => st.getPath.getName != keepName &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, marker)))
      .partition(st => Storage.olderFormat(st.getPath.getName.stripPrefix(prefix)))
    (older ++ spares.sortBy(-_.getModificationTime).drop(keepGenerations))
      // TTL gate in addition to the count budget: young superseded
      // generations stay for in-flight readers (see generationTtlMs)
      .filter(st => now - st.getModificationTime > generationTtlMs)
      .foreach(st => trashDelete(fs, st.getPath))
  }

  /** The newest complete generation for (family, source, version) as
    * (n, dir): the base version is generation 0, a `-r<n>` refit
    * ([[replaceVersioned]]) generation n. None when no complete
    * generation exists.
    */
  private def latestGeneration(s: SparkSession, family: String,
      sourceFile: String, version: String, marker: String): Option[(Int, String)] = {
    val baseName = new org.apache.hadoop.fs.Path(
      dirFor(s, family, sourceFile, version)).getName
    val fam = new org.apache.hadoop.fs.Path(familyDir(family))
    val fs = fam.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(fam)) return None
    // any other name — another version, or a '.build-'/'.old-' sibling
    // of a generation — has no ordinal
    def ordinal(n: String): Option[Int] =
      if (n == baseName) Some(0)
      else if (n.startsWith(s"$baseName-r")) n.stripPrefix(s"$baseName-r").toIntOption
      else None
    fs.listStatus(fam).toSeq
      .flatMap(st => ordinal(st.getPath.getName)
        .filter(_ => st.isDirectory &&
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, marker)))
        .map(n => (n, st.getPath.toString)))
      .maxByOption(_._1)
  }

  /** Resolve the LATEST complete generation for (family, source,
    * version): [[replaceVersioned]] publishes maintenance refits as
    * `-r<n>`-suffixed sibling dirs, so the base version and its refits
    * coexist and readers resolve to the newest — an in-flight reader
    * of the previous generation never sees an absent path (an in-place
    * replace would have a two-rename absence window that could
    * FileNotFound a racing query with no recovery). None when no
    * complete generation exists (ensure must build the base).
    */
  def resolveGeneration(s: SparkSession, family: String, sourceFile: String,
      version: String, marker: String = "_SUCCESS"): Option[String] =
    latestGeneration(s, family, sourceFile, version, marker).map(_._2)

  /** REPLACE the artifact for this (family, source, version) with a
    * freshly built one — the maintenance verb `ensure` deliberately
    * lacks (ensure never rebuilds a complete artifact; a scheduled
    * retrain — the IVF recluster job — must). The refit publishes as
    * the NEXT `-r<n>` generation (atomic Derived.ensure into a new
    * dir) and the previous generation stays on disk for its in-flight
    * readers — [[resolveGeneration]] routes every new reader to the
    * refit, and the publishing ensure reclaims older generations under
    * the keep-budget. No path is ever absent, so no reader can race a
    * rename window.
    */
  def replaceVersioned(s: SparkSession, family: String, sourceFile: String,
      version: String, marker: String = "_SUCCESS")
      (build: String => Unit): String = {
    val next = latestGeneration(s, family, sourceFile, version, marker)
      .fold(1)(_._1 + 1)
    ensure(s, family, sourceFile, s"$version-r$next", marker)(build)
  }
}

package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 source/sink for length-delimited proto frame files in
  * the standard `[varint length][frame]*` stream framing — the
  * engine-API tier above ProtoIngest's mapPartitions decoding. Default
  * message is the reference's upload payload StoreChunk
  * (proto/messages.proto:7-12); `.option("message", "heartbeat")`
  * reads the periodic node-report frames instead
  * (proto/messages.proto:37-42, nested repeated FileChunks :31-34 —
  * the wire shape behind q_nested_catalog's flattened form):
  *
  *  - `spark.read.format(classOf[ProtoChunkSource].getName).load(dir)`
  *    plans one InputPartition per frame file (the natural parallel-IO
  *    unit, like the reference's one-socket-per-chunk transfer);
  *  - **column pruning reaches the decoder**
  *    (`SupportsPushDownRequiredColumns`): a query selecting only
  *    `fileName, sequenceNo` never materializes the `data` payload —
  *    the reader skips over the bytes instead of copying them, which at
  *    100 TB of media payloads is most of the IO. `.explain` shows the
  *    pruned ReadSchema on the scan, exactly like parquet.
  *  - **write path** (`SupportsWrite`, BATCH_WRITE): `df.write.format(…)
  *    .mode("append").save(dir)` encodes each partition into one frame
  *    file via ProtoIngest.encodeStoreChunk — the reference's storage
  *    node persists exactly these frames
  *    (storageNode/MessageProcessor.java:180-216). Tasks write to a
  *    dot-prefixed temp name and rename on task commit (rename is the
  *    HDFS atomicity primitive), so a failed task leaves no partial
  *    frame file visible; readers skip dot/underscore-prefixed files.
  *    `writeStream` works too (STREAMING_WRITE): files are keyed by
  *    (query, epoch, partition) so a replayed micro-batch overwrites
  *    its own output — epoch-idempotent, no duplicated frames.
  *  - **streaming read** (MICRO_BATCH_READ): `spark.readStream` over a
  *    growing frame directory — the reference's chunk traffic is a
  *    continuous stream (storageNode/HeartbeatRunnable.java:33-80).
  *    Discovery is incremental: each `latestOffset` lists the directory
  *    and assigns monotonically increasing indices to unseen files; a
  *    micro-batch reads exactly the files in its offset range.
  *
  * File listing uses the Hadoop FileSystem API (works for hdfs:// and
  * s3a:// URIs, not just local paths); frames in one file are read
  * sequentially (the format is not splittable mid-file, like gzip —
  * parallelism comes from many files, which is how the reference shards
  * too: one file per chunk). The reader streams frames off an
  * FSDataInputStream — memory is bounded by the largest single FRAME,
  * not the file, so an unbounded append-log file reads in constant
  * space.
  */
class ProtoChunkSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ProtoChunkSource.schemaFor(options.getOrDefault("message", "storechunk"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val msg = Option(properties.get("message")).getOrElse("storechunk")
    new ProtoChunkTable(properties.get("path"), msg.toLowerCase)
  }
}

object ProtoChunkSource {
  val schema: StructType = StructType(Seq(
    StructField("fileName", StringType),
    StructField("sequenceNo", IntegerType),
    StructField("checksum", StringType),
    StructField("data", BinaryType)))

  /** Heartbeat frames (proto/messages.proto:37-42 with nested repeated
    * FileChunks :31-34) exposed through the same source:
    * `.option("message", "heartbeat")`.
    */
  val heartbeatSchema: StructType = StructType(Seq(
    StructField("host", StringType),
    StructField("port", IntegerType),
    StructField("fileChunks", ArrayType(StructType(Seq(
      StructField("filename", StringType),
      StructField("sequenceNos", ArrayType(IntegerType))))))))

  /** DownloadFileResponse frames (proto/messages.proto:72-80): the
    * doubly-nested file → [(seq, [nodes])] catalog —
    * `.option("message", "catalog")`.
    */
  val catalogSchema: StructType = StructType(Seq(
    StructField("filename", StringType),
    StructField("chunkLocations", ArrayType(StructType(Seq(
      StructField("sequenceNo", IntegerType),
      StructField("storageNodes", ArrayType(StructType(Seq(
        StructField("host", StringType),
        StructField("port", IntegerType)))))))))))

  private[sources] def schemaFor(message: String): StructType =
    message.toLowerCase match {
      case "storechunk" => schema
      case "heartbeat"  => heartbeatSchema
      case "catalog"    => catalogSchema
      case m => throw new IllegalArgumentException(
        s"unknown message type '$m' (expected storechunk, heartbeat, or catalog)")
    }

  /** Encode frames in the stream framing this source reads (used by
    * specs and the write path below).
    */
  def frameBytes(chunks: Seq[ProtoIngest.StoreChunk]): Array[Byte] =
    chunks.toArray.flatMap { c =>
      val body = ProtoIngest.encodeStoreChunk(c)
      varint(body.length) ++ body
    }

  /** Heartbeat frames in the same stream framing (spec fixture/writer). */
  def heartbeatFrameBytes(hbs: Seq[ProtoIngest.Heartbeat]): Array[Byte] =
    hbs.toArray.flatMap { h =>
      val body = ProtoIngest.encodeHeartbeat(h)
      varint(body.length) ++ body
    }

  /** Catalog (DownloadFileResponse) frames in the same framing. */
  def catalogFrameBytes(fcs: Seq[ProtoIngest.FileCatalog]): Array[Byte] =
    fcs.toArray.flatMap { f =>
      val body = ProtoIngest.encodeFileCatalog(f)
      varint(body.length) ++ body
    }

  /** ONE varint encoder in the package: frame headers written here are
    * re-decoded against bodies ProtoIngest encodes, and two hand-copies
    * of the LEB128 loop could silently diverge under a future edit.
    */
  private[sources] def varint(v0: Int): Array[Byte] =
    ProtoIngest.varintBytes(v0.toLong)

  /** The session Hadoop conf flattened for executor-side reconstruction
    * (spark.hadoop.* — s3a credentials, endpoints, …) — a bare
    * `new Configuration()` on the task side only sees classpath defaults
    * and breaks any non-local filesystem.
    */
  private[sources] def sessionConfEntries(): Map[String, String] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val it = conf.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  private[sources] def hadoopConf(entries: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration()
    entries.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Data files only: dot/underscore-prefixed names are in-progress
    * temps or metadata (the parquet/_SUCCESS convention).
    */
  private[sources] def isDataFile(p: org.apache.hadoop.fs.Path): Boolean = {
    val n = p.getName
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** (path, length) pairs: the listing RPC already carries every
    * FileStatus, and returning bare names forced planners to re-fetch
    * one status per file — doubling namenode/HEAD traffic on a
    * thousand-file dir for a length the listing had in hand.
    */
  private[sources] def listFrameFiles(path: String,
      conf: org.apache.hadoop.conf.Configuration): Array[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Array.empty
    val stat = fs.getFileStatus(p)
    val files =
      if (stat.isDirectory)
        fs.listStatus(p).filter(s => s.isFile && isDataFile(s.getPath))
          .map(s => (s.getPath.toString, s.getLen))
      else Array((p.toString, stat.getLen))
    files.sortBy(_._1)
  }

  // ------------------------------------------------- frame-index sidecar
  /** The stream framing is not splittable mid-file (a byte offset is
    * only addressable by walking the length chain from 0 — the gzip
    * problem). The sidecar `.{name}.idx` fixes that: the batch writer
    * records every frame's start offset at task commit, and the scan
    * can then split ONE large frame file into many byte-range
    * InputPartitions at frame boundaries — one giant append-log file no
    * longer serializes a scan. Dot-prefixed, so data listings and the
    * streaming discovery log never see it; a missing, corrupt, or STALE
    * sidecar (offsets not matching the current file length) silently
    * degrades to the one-partition-per-file plan, never to wrong rows.
    */
  /** v2: line 2 records the data file's byte length. Ascending-offsets
    * validation alone cannot catch the one dangerous staleness case —
    * a crashed streaming epoch replay that replaced the file with a
    * LONGER one before its new index was written: every old offset is
    * still ascending-from-0 and under the new length, so the scan
    * would split mid-frame (FAILFAST throws; PERMISSIVE silently drops
    * the rest of each range). The recorded length pins the index to
    * the exact bytes it was built from (the stats sidecar's len= rule);
    * the magic bump invalidates all v1 sidecars to the safe
    * one-partition-per-file fallback.
    */
  private[sources] val IndexMagic = "GFIDX2"

  private[sources] def indexPathFor(dataFile: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dataFile.getParent, "." + dataFile.getName + ".idx")

  private[sources] def writeFrameIndex(fs: org.apache.hadoop.fs.FileSystem,
      dataFile: org.apache.hadoop.fs.Path, offsets: Seq[Long], attemptId: Long,
      fileLen: Long): Unit = {
    val ip = indexPathFor(dataFile)
    val tmp = new org.apache.hadoop.fs.Path(ip.getParent, ip.getName + s".$attemptId.inprogress")
    val out = fs.create(tmp, true)
    try out.write((IndexMagic +: s"len=$fileLen" +: offsets.map(_.toString))
      .mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(ip)) fs.delete(ip, false)
    if (!fs.rename(tmp, ip)) fs.delete(tmp, false) // index is best-effort
  }

  /** Frame start offsets from the sidecar, or None when absent/invalid/
    * stale — validated strictly ascending from 0 and inside the CURRENT
    * file length, so an index left behind by a replaced file can never
    * misalign a read.
    */
  private[sources] def readFrameIndex(fs: org.apache.hadoop.fs.FileSystem,
      dataFile: org.apache.hadoop.fs.Path, fileLen: Long): Option[Array[Long]] = {
    val ip = indexPathFor(dataFile)
    try {
      if (!fs.exists(ip)) return None
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(ip), java.nio.charset.StandardCharsets.UTF_8))
      try {
        if (in.readLine() != IndexMagic) return None
        // the length line: an index built against different bytes —
        // even a longer file all old offsets still fit inside — is stale
        val lenLine = in.readLine()
        if (lenLine == null || !lenLine.startsWith("len=") ||
          lenLine.stripPrefix("len=").toLong != fileLen) return None
        val b = Array.newBuilder[Long]
        var line = in.readLine()
        var prev = -1L
        while (line != null) {
          val v = line.trim.toLong
          if (v <= prev || v >= fileLen) return None // stale or corrupt
          if (prev < 0 && v != 0) return None        // must start at 0
          b += v; prev = v
          line = in.readLine()
        }
        val arr = b.result()
        if (arr.isEmpty) None else Some(arr)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Chop one indexed file into byte ranges of ≈ splitSize, always at
    * frame boundaries. The last range is open-ended (reads to EOF).
    */
  private[sources] def splitRanges(offsets: Array[Long], fileLen: Long,
      splitSize: Long): Seq[(Long, Long)] = {
    val bounds = Seq.newBuilder[Long]
    var start = 0L
    bounds += 0L
    offsets.foreach { off =>
      if (off - start >= splitSize) { bounds += off; start = off }
    }
    val b = bounds.result()
    b.zip(b.tail :+ Long.MaxValue)
  }

  // ------------------------------------------------- file-stats sidecar
  /** Per-file zone map + Bloom filter, persisted as a `.{name}.stats`
    * sidecar at write commit — the q_zonemap_build / q_fileindex_build
    * structures WIRED INTO the read path: batch planning consults the
    * sidecar against pushed-down filters (SupportsPushDownFilters) and
    * skips whole frame files whose stats prove no frame can match.
    * Min/max serve range predicates on `sequenceNo` and `fileName`; the
    * 4096-bit Bloom over `fileName` serves point predicates on the
    * column whose values interleave across files (parquet's row-group
    * stats + column bloom_filter, re-created for the frame format; the
    * reference's sidecar-metadata-read-before-serving is
    * storageNode/MessageProcessor.java:209-211). Skipping is SOUND but
    * inexact: every pushed filter is also re-evaluated by Spark above
    * the scan (the residual), so a Bloom false positive costs a read,
    * never a wrong row. A missing, corrupt, or STALE sidecar (recorded
    * data length ≠ current file length) degrades to reading the file.
    */
  private[sources] val StatsMagic = "GFSTAT1"
  private[sources] val BloomLongs = 64 // 4096 bits
  private[sources] val BloomK = 3

  private[sources] case class FileStats(dataLen: Long, count: Long,
      minSeq: Int, maxSeq: Int, minName: String, maxName: String,
      bloom: Array[Long])

  private[sources] def statsPathFor(dataFile: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dataFile.getParent, "." + dataFile.getName + ".stats")

  /** Kirsch-Mitzenmacher double hashing off one md5: positions
    * h1 + i·h2 (mod m) for i < k. Both the writer and the pruner call
    * THIS function, so build and probe can never diverge.
    */
  private[sources] def bloomPositions(name: String): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def be64(i: Int): Long = {
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (d(i + j) & 0xffL); j += 1 }
      v
    }
    val h1 = be64(0)
    val h2 = be64(8) | 1L // odd stride hits every position
    val m = BloomLongs * 64L
    Array.tabulate(BloomK)(i => (((h1 + i * h2) % m + m) % m).toInt)
  }

  private[sources] def bloomAdd(bits: Array[Long], name: String): Unit =
    bloomPositions(name).foreach(p => bits(p >> 6) |= 1L << (p & 63))

  private[sources] def bloomMightContain(bits: Array[Long], name: String): Boolean =
    bloomPositions(name).forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0)

  private val B64 = java.util.Base64.getEncoder
  private val B64D = java.util.Base64.getDecoder
  private def b64(s: String): String =
    B64.encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(B64D.decode(s), java.nio.charset.StandardCharsets.UTF_8)

  private[sources] def writeStats(fs: org.apache.hadoop.fs.FileSystem,
      dataFile: org.apache.hadoop.fs.Path, st: FileStats, attemptId: Long): Unit = {
    val sp = statsPathFor(dataFile)
    val tmp = new org.apache.hadoop.fs.Path(sp.getParent, sp.getName + s".$attemptId.inprogress")
    val body =
      if (st.count == 0) s"$StatsMagic\nlen=${st.dataLen}\nn=0\n"
      else s"$StatsMagic\nlen=${st.dataLen}\nn=${st.count}\n" +
        s"seq=${st.minSeq},${st.maxSeq}\n" +
        s"name=${b64(st.minName)},${b64(st.maxName)}\n" +
        st.bloom.map(java.lang.Long.toHexString).mkString("bloom=", ",", "\n")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(sp)) fs.delete(sp, false)
    if (!fs.rename(tmp, sp)) fs.delete(tmp, false) // stats are best-effort
  }

  /** Stats from the sidecar, or None when absent/corrupt/STALE (recorded
    * length ≠ the file's current length — a replaced file can never be
    * pruned by its predecessor's stats).
    */
  private[sources] def readStats(fs: org.apache.hadoop.fs.FileSystem,
      dataFile: org.apache.hadoop.fs.Path, fileLen: Long): Option[FileStats] =
    try {
      val sp = statsPathFor(dataFile)
      if (!fs.exists(sp)) return None
      val in = fs.open(sp)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.split('\n')
      if (lines.length < 3 || lines(0) != StatsMagic) return None
      val kv = lines.drop(1).filter(_.contains('='))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      if (kv("len").toLong != fileLen) return None // stale
      val n = kv("n").toLong
      if (n == 0) return Some(FileStats(fileLen, 0, 0, 0, "", "", new Array[Long](BloomLongs)))
      val Array(lo, hi) = kv("seq").split(',')
      val Array(mn, mx) = kv("name").split(',')
      val bloom = kv("bloom").split(',').map(java.lang.Long.parseUnsignedLong(_, 16))
      if (bloom.length != BloomLongs) return None
      Some(FileStats(fileLen, n, lo.toInt, hi.toInt, unb64(mn), unb64(mx), bloom))
    } catch { case scala.util.control.NonFatal(_) => None }

  // --------------------------------------------- stats-driven file skip
  import org.apache.spark.sql.sources._

  /** Can the pruner USE this filter? (Gates what pushedFilters reports,
    * so `.explain` never advertises a filter the skip logic ignores.)
    */
  private[sources] def usableForSkipping(f: Filter): Boolean = f match {
    case EqualTo(a, v) => skippableAttr(a) && v != null
    case EqualNullSafe(a, v) => skippableAttr(a) && v != null
    case GreaterThan(a, v) => skippableAttr(a) && v != null
    case GreaterThanOrEqual(a, v) => skippableAttr(a) && v != null
    case LessThan(a, v) => skippableAttr(a) && v != null
    case LessThanOrEqual(a, v) => skippableAttr(a) && v != null
    case In(a, vs) => skippableAttr(a) && vs.nonEmpty && vs.forall(_ != null)
    case StringStartsWith("fileName", p) => p != null && p.nonEmpty
    case And(l, r) => usableForSkipping(l) || usableForSkipping(r)
    case Or(l, r) => usableForSkipping(l) && usableForSkipping(r)
    case _ => false
  }
  private def skippableAttr(a: String): Boolean =
    a == "fileName" || a == "sequenceNo"

  /** TRUE iff the stats PROVE no frame in the file satisfies `f`.
    * Conservative everywhere: an unrecognized shape or value type
    * returns false (cannot prove → read the file). String-range tests
    * lean on lexicographic truncation monotonicity (s ≤ t ⇒
    * s.take(k) ≤ t.take(k)) for the prefix case.
    */
  private[sources] def provablyEmpty(st: FileStats, f: Filter): Boolean = {
    def seqV(v: Any): Option[Int] = v match {
      case i: Int => Some(i)
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => Some(l.toInt)
      case s: Short => Some(s.toInt)
      case b: Byte => Some(b.toInt)
      case _ => None
    }
    def eqEmpty(a: String, v: Any): Boolean = (a, v) match {
      case ("fileName", s: String) =>
        s < st.minName || s > st.maxName || !bloomMightContain(st.bloom, s)
      case ("sequenceNo", v) =>
        seqV(v).exists(i => i < st.minSeq || i > st.maxSeq)
      case _ => false
    }
    if (st.count == 0) return true
    f match {
      case EqualTo(a, v) => eqEmpty(a, v)
      case EqualNullSafe(a, v) if v != null => eqEmpty(a, v)
      case In(a, vs) => vs.nonEmpty && vs.forall(eqEmpty(a, _))
      case GreaterThan("sequenceNo", v) => seqV(v).exists(st.maxSeq <= _)
      case GreaterThanOrEqual("sequenceNo", v) => seqV(v).exists(st.maxSeq < _)
      case LessThan("sequenceNo", v) => seqV(v).exists(st.minSeq >= _)
      case LessThanOrEqual("sequenceNo", v) => seqV(v).exists(st.minSeq > _)
      case GreaterThan("fileName", v: String) => st.maxName <= v
      case GreaterThanOrEqual("fileName", v: String) => st.maxName < v
      case LessThan("fileName", v: String) => st.minName >= v
      case LessThanOrEqual("fileName", v: String) => st.minName > v
      case StringStartsWith("fileName", p) if p.nonEmpty =>
        st.maxName < p || st.minName.take(p.length) > p
      case And(l, r) => provablyEmpty(st, l) || provablyEmpty(st, r)
      case Or(l, r) => provablyEmpty(st, l) && provablyEmpty(st, r)
      case _ => false
    }
  }
}

private class ProtoChunkTable(path: String, message: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"proto_chunks($path,$message)"
  override def schema(): StructType = ProtoChunkSource.schemaFor(message)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // mode: FAILFAST (default) raises on the first corrupt frame;
    // PERMISSIVE skips a frame whose BODY fails to decode (framing
    // alignment is intact — the length prefix already bounded it) and
    // drops the rest of the file only on a FRAMING error (corrupt/
    // truncated length varint: the chain is broken, everything after is
    // unparseable) — the CSV/JSON corrupt-record policy applied to a
    // binary stream source.
    // splitSize (bytes, default 128 MiB): target byte-range size when a
    // frame file has an offset sidecar; 0 disables splitting.
    new ProtoChunkScanBuilder(path, message,
      "permissive".equalsIgnoreCase(options.getOrDefault("mode", "failfast")),
      options.getOrDefault("splitSize", (128L << 20).toString).toLong)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the write path encodes StoreChunk rows only (the reference's
    // persisted payload); heartbeat frames are transport, not storage
    require(message == "storechunk",
      s"proto chunk write supports message=storechunk only (got $message)")
    new ProtoChunkWriteBuilder(path, info)
  }
}

private class ProtoChunkScanBuilder(path: String, message: String, permissive: Boolean,
    splitSize: Long) extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = ProtoChunkSource.schemaFor(message)
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept filters the stats sidecars can skip files with — EVERY
    * filter is also returned as residual (skipping is file-granular and
    * Bloom-inexact, so Spark must still evaluate rows; the same
    * contract parquet row-group stats use). Only the storechunk message
    * has stats sidecars (its writer records them); the nested message
    * shapes push nothing.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    if (message == "storechunk")
      pushed = filters.filter(ProtoChunkSource.usableForSkipping)
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan =
    new ProtoChunkScan(path, message, required, permissive, splitSize, pushed)
}

private class ProtoChunkScan(path: String, message: String, required: StructType,
    permissive: Boolean, splitSize: Long,
    pushed: Array[org.apache.spark.sql.sources.Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"ProtoChunkScan $path PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    ProtoChunkSource.listFrameFiles(path, conf).flatMap { case (f, len) =>
      val p = new org.apache.hadoop.fs.Path(f)
      val fs = p.getFileSystem(conf)
      // stats-sidecar file skip: drop the file when its zone map/Bloom
      // PROVES no frame matches a pushed filter (sound: absent/stale
      // stats skip nothing, and the filters re-run above the scan)
      val skip = pushed.nonEmpty && {
        val st = ProtoChunkSource.readStats(fs, p, len)
        st.exists(s => pushed.exists(ProtoChunkSource.provablyEmpty(s, _)))
      }
      if (skip) Seq.empty[InputPartition]
      else {
        // split only files worth splitting; a missing/invalid sidecar
        // degrades to the whole-file partition
        val ranges =
          if (splitSize > 0 && len > splitSize)
            ProtoChunkSource.readFrameIndex(fs, p, len)
              .map(ProtoChunkSource.splitRanges(_, len, splitSize))
              .getOrElse(Seq((0L, Long.MaxValue)))
          else Seq((0L, Long.MaxValue))
        ranges.map { case (s, e) => ProtoChunkPartition(f, s, e): InputPartition }
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ProtoChunkReaderFactory(message, required.fieldNames, permissive,
      ProtoChunkSource.sessionConfEntries())

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ProtoChunkMicroBatchStream(path, message, required.fieldNames, permissive,
      checkpointLocation)
}

/** Byte range [start, end) of one frame file; a frame belongs to the
  * partition whose range contains its length-varint's first byte (the
  * standard split-ownership rule). end = Long.MaxValue reads to EOF.
  * Ranges other than (0, MaxValue) are only ever produced from a
  * validated sidecar, so start is always a frame boundary.
  */
private case class ProtoChunkPartition(file: String, start: Long, end: Long)
    extends InputPartition

private class ProtoChunkReaderFactory(message: String, columns: Array[String],
    permissive: Boolean, confEntries: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ProtoChunkPartition]
    new ProtoChunkReader(p.file, p.start, p.end, message, columns, permissive, confEntries)
  }
}

// ------------------------------------------------------------- streaming

/** Micro-batch offset: the count of frame files discovered so far.
  * Files are assigned monotonically increasing indices at discovery
  * time, so the half-open index range (start, end] of a micro-batch
  * names an immutable file set.
  */
private case class FrameCountOffset(n: Long) extends Offset {
  override def json: String = n.toString
}

/** Incremental file discovery over a growing frame directory. Each
  * `latestOffset` call lists the directory and appends unseen files
  * (sorted, for deterministic intra-batch order) to the discovery log;
  * a micro-batch plans one InputPartition per file in its offset range
  * and reuses the batch PartitionReader unchanged.
  *
  * The discovery log is PERSISTED under the query's checkpoint (one
  * zero-padded slice file per discovery that found new frames, written
  * temp-then-rename, the file source's metadata-log design): a restart
  * rebuilds index→file assignment from the log, byte-identical to the
  * original run's, so a replayed logged-but-uncommitted batch re-reads
  * EXACTLY its files — regardless of listing order, late-arriving
  * names that sort before already-seen ones, or frames added after
  * the crash. The slice is written BEFORE its offset is returned, so
  * an offset never names files the log could lose.
  */
private class ProtoChunkMicroBatchStream(path: String, message: String,
    columns: Array[String], permissive: Boolean, checkpointLocation: String)
    extends MicroBatchStream {
  private val confEntries = ProtoChunkSource.sessionConfEntries()
  private val discovered = new scala.collection.mutable.ArrayBuffer[String]()
  private val seen = new scala.collection.mutable.HashSet[String]()
  private val logDir =
    new org.apache.hadoop.fs.Path(checkpointLocation, "graft-frame-log")
  private var loaded = false
  // plain (non-compact) slices currently on disk — compaction trigger
  private var plainSlices = 0

  private lazy val hconf = ProtoChunkSource.hadoopConf(confEntries)
  private lazy val fs = logDir.getFileSystem(hconf)

  private def isPlainSlice(n: String) = n.nonEmpty && n.forall(_.isDigit)
  private def isCompact(n: String) =
    n.endsWith(".compact") && isPlainSlice(n.stripSuffix(".compact"))

  private def readLines(p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split('\n').filter(_.nonEmpty).toSeq
  }

  private def adopt(names: Seq[String]): Unit =
    names.foreach { name =>
      if (!seen.contains(name)) { seen += name; discovered += name }
    }

  /** Rebuild the in-memory log from the persisted slices (restart path;
    * no-op on an empty checkpoint). The newest `.compact` file (full
    * prefix of the log) loads first, then plain slices in name order —
    * zero-padded start indices, so name order == append order; entries
    * a compact already covers dedup away via `seen`. `loaded` flips
    * only after a complete load: a transient IO failure mid-load clears
    * the partial state and retries cleanly next call instead of slicing
    * a truncated log.
    */
  private def ensureLoaded(): Unit = if (!loaded) {
    try {
      if (fs.exists(logDir)) {
        val sts = fs.listStatus(logDir).filter(_.isFile)
        val compacts = sts.filter(st => isCompact(st.getPath.getName))
        if (compacts.nonEmpty)
          adopt(readLines(compacts.maxBy(_.getPath.getName).getPath))
        val plain = sts.filter(st => isPlainSlice(st.getPath.getName))
          .sortBy(_.getPath.getName)
        plain.foreach(st => adopt(readLines(st.getPath)))
        plainSlices = plain.length
      }
      loaded = true
    } catch {
      case e: Throwable =>
        discovered.clear(); seen.clear(); plainSlices = 0
        throw e
    }
  }

  /** Durably put `names` at `fin` and return the file's content — the
    * committed truth. Temp-then-rename, so a reader of the log (only
    * ever a restarted driver) sees complete files or nothing. If `fin`
    * ALREADY exists — a prior attempt persisted it but failed before
    * its names reached memory — its persisted content wins and is
    * returned instead (an exists check, not the rename result: local-FS
    * rename silently REPLACES an existing destination where HDFS
    * returns false, so only the check is portable).
    */
  private def writeOrAdopt(fin: org.apache.hadoop.fs.Path,
      names: Seq[String]): Seq[String] = {
    if (fs.exists(fin)) readLines(fin)
    else {
      val tmp = new org.apache.hadoop.fs.Path(logDir, s".${fin.getName}.tmp")
      val out = fs.create(tmp, true)
      try out.write(names.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      require(fs.rename(tmp, fin), s"frame-log rename failed: $fin")
      names
    }
  }

  /** Fold the log into a single `.compact` file once enough small
    * slices accumulate — a long-running query otherwise grows one tiny
    * file per discovering trigger forever (restart cost and small-file
    * pressure). Named by log length so newer compacts sort later; the
    * covered plain slices and older compacts are deleted AFTER the
    * rename, so a crash at ANY point leaves a log that loads back to
    * the same assignment (load-time dedup makes overlap harmless).
    */
  private def maybeCompact(): Unit =
    if (plainSlices >= ProtoChunkMicroBatchStream.CompactEvery) {
      val fin = new org.apache.hadoop.fs.Path(logDir,
        f"${discovered.length}%020d.compact")
      // an existing compact at this length is a crashed prior attempt
      // whose content is identical by construction (same log prefix);
      // anything else means a second writer on this checkpoint — fail
      // BEFORE the deletes below destroy the only durable record of
      // the divergent names.
      require(writeOrAdopt(fin, discovered.toSeq) == discovered.toSeq,
        s"existing compact diverges from the log (second writer?): $fin")
      fs.listStatus(logDir)
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && (isPlainSlice(n) || (isCompact(n) && n < fin.getName))
        }
        .foreach(st => fs.delete(st.getPath, false))
      plainSlices = 0
    }

  /** Persist-then-adopt, in that order: the in-memory log mutates ONLY
    * after the slice is durable, so a thrown write (transient IO, the
    * newline guard) leaves memory exactly matching the persisted log
    * and the next trigger retries the same names. If the slice file
    * already exists (a crashed prior attempt), its content is adopted
    * as-is; names it doesn't cover re-list as fresh next trigger.
    */
  private def discover(): Unit = {
    ensureLoaded()
    val files = ProtoChunkSource.listFrameFiles(path, hconf).map(_._1)
    val fresh = files.filterNot(seen.contains)
    if (fresh.nonEmpty) {
      require(fresh.forall(n => !n.contains('\n')),
        s"frame file name contains a newline (unrepresentable in the frame log): " +
          fresh.filter(_.contains('\n')).mkString(","))
      fs.mkdirs(logDir)
      val before = discovered.length
      val slice = writeOrAdopt(
        new org.apache.hadoop.fs.Path(logDir, f"$before%020d"),
        fresh.toIndexedSeq)
      adopt(slice)
      // an adopted crashed-attempt slice always advances the log (its
      // names were fresh when written and never reached memory); one
      // that doesn't is foreign or truncated, and silently keeping it
      // would recompute the same blocked slice name every trigger
      require(discovered.length > before,
        f"existing frame-log slice $before%020d adds no entries (foreign file?)")
      plainSlices += 1
      maybeCompact()
    }
  }

  override def initialOffset(): Offset = FrameCountOffset(0L)

  override def latestOffset(): Offset = {
    discover()
    FrameCountOffset(discovered.length.toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FrameCountOffset].n.toInt
    val e = end.asInstanceOf[FrameCountOffset].n.toInt
    // restart replay: Spark re-plans a logged-but-uncommitted batch
    // BEFORE ever calling latestOffset — the in-memory log is empty
    // then, and slicing it would silently commit an empty batch,
    // permanently skipping those files. ensureLoaded rebuilds the
    // original run's assignment from the persisted slices; the listing
    // fallback covers only a destroyed checkpoint (where Spark cannot
    // hand us a replayed offset anyway).
    ensureLoaded()
    if (discovered.length < e) discover()
    // loud, not lossy: if a damaged checkpoint (lost frame-log slice)
    // leaves the rebuilt assignment shorter than the replayed offset
    // range, slice(s, e) would return a TRUNCATED batch that commits
    // cleanly — permanently skipping the missing files. Refusing to
    // plan forces the operator to fix/reset the checkpoint instead.
    require(discovered.length >= e,
      s"frame log covers ${discovered.length} files but the replayed batch " +
        s"ends at $e — checkpoint frame-log slice missing; refusing to " +
        "plan a truncated batch")
    discovered.slice(s, e)
      .map(f => ProtoChunkPartition(f, 0L, Long.MaxValue): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ProtoChunkReaderFactory(message, columns, permissive, confEntries)

  override def deserializeOffset(json: String): Offset = FrameCountOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private object ProtoChunkMicroBatchStream {
  /** Fold the frame log into one `.compact` file after this many plain
    * slices — bounds restart-time log reads and checkpoint file count
    * for long-running queries (the file source's compactInterval).
    */
  val CompactEvery = 10
}

// ----------------------------------------------------------------- read

/** Streams frames off one file; emits only the pruned columns. Memory
  * is bounded by the largest single frame (one body buffer at a time),
  * not the file — an unbounded append-log file reads in constant space.
  *
  * Error taxonomy (matters for permissive mode):
  *  - FRAMING error — truncated/over-long length varint, or a length
  *    past EOF: the length chain is broken, nothing after is
  *    addressable → drop the rest of the file (permissive) or throw.
  *  - BODY error — the frame was well-delimited but its protobuf body
  *    fails to decode: alignment is intact → skip just that frame and
  *    continue (permissive) or throw.
  */
private class ProtoChunkReader(file: String, start: Long, end: Long, message: String,
    columns: Array[String], permissive: Boolean, confEntries: Map[String, String])
    extends PartitionReader[InternalRow] {
  private val (in, fileLen) = {
    val conf = ProtoChunkSource.hadoopConf(confEntries)
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val raw = fs.open(p)
    // byte-range partition: seek BEFORE buffering — start is a frame
    // boundary by construction (validated sidecar offsets)
    if (start > 0) raw.seek(start)
    (new java.io.DataInputStream(new java.io.BufferedInputStream(raw, 1 << 16)), len)
  }
  private var pos = start
  private var current: InternalRow = _
  private val needData = columns.contains("data")

  /** Frame-length varint, read byte-at-a-time off the stream.
    * Accumulates into a LONG: an Int accumulator truncates the 5th
    * byte's high bits (shift 28 pushes them past bit 31), so a corrupt
    * varint like 80 80 80 80 10 would alias to len=0 and silently
    * misalign every later frame — the exact failure the bounds check
    * exists to catch. Returns -1 on clean EOF (stream ended exactly at
    * a frame boundary).
    */
  private def readFrameLen(): Long = {
    var v = 0L; var shift = 0; var first = true
    while (true) {
      val x = in.read()
      if (x < 0) {
        if (first) return -1L
        throw new FramingException(s"truncated frame length varint at offset $pos in $file")
      }
      pos += 1
      if (shift > 63)
        throw new FramingException(s"corrupt frame length varint at offset $pos in $file")
      // at shift 63 only the lowest payload bit is representable; higher
      // bits would WRAP the Long (…80 01 → Long.MinValue reads as
      // negative, …80 02 → 0 reads as a phantom empty frame) — both
      // must be framing errors, not silent truncation
      if (shift == 63 && (x & 0x7e) != 0)
        throw new FramingException(s"frame length varint overflows 64 bits at offset $pos in $file")
      v |= (x & 0x7fL) << shift
      shift += 7; first = false
      if ((x & 0x80) == 0) {
        if (v < 0)
          throw new FramingException(s"frame length overflows at offset $pos in $file")
        return v
      }
    }
    v // unreachable
  }

  private final class FramingException(msg: String) extends IllegalArgumentException(msg)

  override def next(): Boolean = {
    while (true) {
      // split ownership: a frame is read by the partition whose range
      // holds its length-varint's first byte
      if (pos >= end) return false
      val len =
        try {
          val l = readFrameLen()
          if (l < 0) return false // clean EOF
          if (l > fileLen - pos || l > Int.MaxValue)
            throw new FramingException(
              s"corrupt frame length $l at offset $pos in $file (${fileLen - pos} B remain)")
          l.toInt
        } catch {
          case _: FramingException if permissive =>
            // length chain broken: the remainder of the file is
            // unaddressable — drop it and end this partition
            return false
          case e: FramingException =>
            throw new IllegalArgumentException(
              s"corrupt framing in $file (use mode=permissive to skip): ${e.getMessage}", e)
        }
      val frame = new Array[Byte](len)
      try in.readFully(frame)
      catch {
        case _: java.io.EOFException if permissive => return false
        case _: java.io.EOFException =>
          throw new IllegalArgumentException(
            s"truncated frame body at offset $pos in $file (use mode=permissive to skip)")
      }
      pos += len
      // body decode: the frame is well-delimited, so a failure here does
      // NOT break alignment — permissive mode skips just this frame
      try {
        current = decodeRow(frame)
        return true
      } catch {
        case _: IllegalArgumentException if permissive => () // skip frame, loop on
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"corrupt frame body in $file (use mode=permissive to skip): ${e.getMessage}", e)
      }
    }
    false // unreachable
  }

  private def decodeRow(frame: Array[Byte]): InternalRow = message match {
    case "catalog" =>
      val f = ProtoIngest.decodeFileCatalog(frame)
      InternalRow.fromSeq(columns.toSeq.map {
        case "filename" => UTF8String.fromString(f.filename)
        case "chunkLocations" =>
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            f.chunkLocations.map { cl =>
              InternalRow(cl.sequenceNo,
                new org.apache.spark.sql.catalyst.util.GenericArrayData(
                  cl.storageNodes.map(n =>
                    InternalRow(UTF8String.fromString(n.host), n.port)).toArray[Any]))
            }.toArray[Any])
      })
    case "heartbeat" =>
      val h = ProtoIngest.decodeHeartbeat(frame)
      InternalRow.fromSeq(columns.toSeq.map {
        case "host" => UTF8String.fromString(h.host)
        case "port" => h.port
        case "fileChunks" =>
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            h.fileChunks.map { fc =>
              InternalRow(UTF8String.fromString(fc.filename),
                new org.apache.spark.sql.catalyst.util.GenericArrayData(
                  fc.sequenceNos.toArray))
            }.toArray[Any])
      })
    case _ =>
      // prune-aware StoreChunk decode: the payload bytes are skipped in
      // place when `data` is not selected (heartbeat payloads are
      // metadata-sized, so their decode is always full)
      val c = ProtoIngest.decodeStoreChunkPruned(frame, withData = needData)
      InternalRow.fromSeq(columns.toSeq.map {
        case "fileName"   => UTF8String.fromString(c.fileName)
        case "sequenceNo" => c.sequenceNo
        case "checksum"   => UTF8String.fromString(c.checksum)
        case "data"       => c.data
      })
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

// ---------------------------------------------------------------- write

private class ProtoChunkWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  // .mode("overwrite") arrives as truncate-then-append
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write =
    new ProtoChunkWrite(path, info.schema(), info.queryId(), doTruncate)
}

private class ProtoChunkWrite(path: String, schema: StructType, queryId: String,
    truncate: Boolean) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this

  private def validatedNames(): Array[String] = {
    val names = schema.fieldNames
    val missing = ProtoChunkSource.schema.fieldNames.filterNot(names.contains)
    require(missing.isEmpty,
      s"proto chunk write needs columns ${ProtoChunkSource.schema.fieldNames.mkString(", ")}; " +
        s"missing: ${missing.mkString(", ")}")
    names
  }

  /** Pre-existing data files captured at write start when overwriting —
    * deleted only at job COMMIT. An overwrite that fails mid-job leaves
    * the original frames intact (abort rolls back the new files), where
    * eager truncation emptied the directory before any task committed.
    * Not snapshot-isolated: a concurrent reader between task commits
    * and job commit can see old + new files mixed — the same window
    * every rename-based file sink has.
    */
  private var toDeleteOnCommit: Array[org.apache.hadoop.fs.Path] = Array.empty

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val names = validatedNames()
    val confEntries = ProtoChunkSource.sessionConfEntries()
    if (truncate) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(ProtoChunkSource.hadoopConf(confEntries))
      toDeleteOnCommit =
        if (fs.exists(p))
          fs.listStatus(p).filter(s => s.isFile && ProtoChunkSource.isDataFile(s.getPath))
            .map(_.getPath)
        else Array.empty
    }
    new ProtoChunkWriterFactory(path, names, queryId, confEntries)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (toDeleteOnCommit.nonEmpty) {
      // batch stems embed this query's id, so a just-committed file can
      // never collide with a captured pre-existing name — the exclusion
      // set is belt-and-braces against a pathological re-run
      val fresh = messages.collect { case ProtoChunkCommit(f) => f }.toSet
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(ProtoChunkSource.hadoopConf(ProtoChunkSource.sessionConfEntries()))
      toDeleteOnCommit.filterNot(p => fresh.contains(p.toString)).foreach { p =>
        fs.delete(p, false)
        fs.delete(ProtoChunkSource.indexPathFor(p), false) // sidecars go with their file
        fs.delete(ProtoChunkSource.statsPathFor(p), false)
      }
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ProtoChunkWrite.deleteCommitted(path, messages)

  /** writeStream form: one frame file per (epoch, partition), named by
    * epochId so a replayed micro-batch after a crash re-creates the
    * SAME file (fs.create overwrites) instead of duplicating frames —
    * epoch-idempotent output, the file-sink recipe without the
    * metadata log.
    */
  override def toStreaming: StreamingWrite = {
    // Complete mode arrives as truncate-then-stream; this sink is an
    // append log and does not clear prior epochs, so accepting the
    // truncate silently would accumulate every epoch's full snapshot —
    // refuse loudly instead of returning wrong data
    require(!truncate,
      "proto frame streaming sink supports Append output mode only")
    val names = validatedNames()
    val confEntries = ProtoChunkSource.sessionConfEntries()
    new ProtoChunkStreamingWrite(path, names, queryId, confEntries)
  }
}

private object ProtoChunkWrite {
  def deleteCommitted(path: String, messages: Array[WriterCommitMessage]): Unit = {
    // committed task files are visible (rename already happened) — roll
    // them back so an aborted job/epoch leaves the directory unchanged
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(ProtoChunkSource.hadoopConf(ProtoChunkSource.sessionConfEntries()))
    messages.collect { case ProtoChunkCommit(f) =>
      val p = new org.apache.hadoop.fs.Path(f)
      fs.delete(p, false)
      fs.delete(ProtoChunkSource.indexPathFor(p), false) // sidecars go with their file
      fs.delete(ProtoChunkSource.statsPathFor(p), false)
    }
  }
}

private class ProtoChunkStreamingWrite(path: String, names: Array[String],
    queryId: String, confEntries: Map[String, String]) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new ProtoChunkStreamingWriterFactory(path, names, queryId, confEntries)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    ProtoChunkWrite.deleteCommitted(path, messages)
}

private class ProtoChunkStreamingWriterFactory(path: String, names: Array[String],
    queryId: String, confEntries: Map[String, String]) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    // file identity = (epoch, partition, query) — NO taskId, so an epoch
    // REPLAY commits onto the same stem (overwrite-idempotent, no dup
    // frames); temp names stay attempt-unique via taskId. The stem is
    // EPOCH-MAJOR and the epoch ZERO-PADDED so a directory listing
    // reads in write order (a partition-major stem interleaves epochs
    // with >1 writer partitions; an unpadded e10 sorts before e2).
    // The micro-batch reader no longer DEPENDS on name order — its
    // discovery log is persisted in the checkpoint (see
    // ProtoChunkMicroBatchStream) — but listing order == epoch order
    // keeps batch reads and human debugging deterministic.
    new ProtoChunkWriter(path, names,
      f"e$epochId%09d-part-$partitionId%05d-$queryId", taskId, confEntries)
}

private case class ProtoChunkCommit(file: String) extends WriterCommitMessage

private class ProtoChunkWriterFactory(path: String, names: Array[String], queryId: String,
    confEntries: Map[String, String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    // batch: taskId in the FINAL name — every attempt commits a unique
    // file and the driver's abort() removes losers
    new ProtoChunkWriter(path, names, f"part-$partitionId%05d-$taskId-$queryId",
      taskId, confEntries)
}

/** One frame file per task, encoded with ProtoIngest.encodeStoreChunk
  * (the reference's persisted payload). Writes to a dot-prefixed temp
  * name unique per ATTEMPT; task commit renames it onto the file stem —
  * rename is the HDFS atomicity primitive, so a failed/speculative
  * attempt never exposes a partial file (readers skip dot-files). The
  * batch path puts taskId in the stem (unique file per attempt); the
  * streaming path keys the stem by (queryId, epochId, partitionId) so
  * an epoch REPLAY overwrites its own output (commit deletes a
  * pre-existing stem before renaming — last committer wins with
  * identical deterministic content) instead of duplicating frames.
  */
private class ProtoChunkWriter(path: String, names: Array[String], fileStem: String,
    attemptId: Long, confEntries: Map[String, String])
    extends DataWriter[InternalRow] {
  private val fs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(ProtoChunkSource.hadoopConf(confEntries))
  private val finalPath = new org.apache.hadoop.fs.Path(path, s"$fileStem.frames")
  private val tempPath = new org.apache.hadoop.fs.Path(path,
    "." + finalPath.getName + s".$attemptId.inprogress")
  private val out = fs.create(tempPath, true)
  private val iName = names.indexOf("fileName")
  private val iSeq = names.indexOf("sequenceNo")
  private val iSum = names.indexOf("checksum")
  private val iData = names.indexOf("data")

  // frame start offsets for the `.idx` sidecar — what makes this file
  // SPLITTABLE on read (one large frame file → many InputPartitions)
  private val frameOffsets = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var bytesOut = 0L
  // `.stats` sidecar accumulators — the zone map + fileName Bloom the
  // scan's pushed-filter file skip consults (built from the WRITTEN
  // values, post null-default, so stats and frames can never disagree)
  private var nFrames = 0L
  private var minSeq = Int.MaxValue
  private var maxSeq = Int.MinValue
  private var minName: String = null
  private var maxName: String = null
  private val bloom = new Array[Long](ProtoChunkSource.BloomLongs)

  override def write(row: InternalRow): Unit = {
    val c = ProtoIngest.StoreChunk(
      if (row.isNullAt(iName)) "" else row.getUTF8String(iName).toString,
      if (row.isNullAt(iSeq)) 0 else row.getInt(iSeq),
      if (row.isNullAt(iSum)) "" else row.getUTF8String(iSum).toString,
      if (row.isNullAt(iData)) Array.emptyByteArray else row.getBinary(iData))
    val body = ProtoIngest.encodeStoreChunk(c)
    frameOffsets += bytesOut
    val header = ProtoChunkSource.varint(body.length)
    out.write(header)
    out.write(body)
    bytesOut += header.length + body.length
    nFrames += 1
    if (c.sequenceNo < minSeq) minSeq = c.sequenceNo
    if (c.sequenceNo > maxSeq) maxSeq = c.sequenceNo
    if (minName == null || c.fileName < minName) minName = c.fileName
    if (maxName == null || c.fileName > maxName) maxName = c.fileName
    ProtoChunkSource.bloomAdd(bloom, c.fileName)
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    // epoch-replay case (streaming): the stem already committed once —
    // replace it; batch stems are attempt-unique so this never triggers
    if (fs.exists(finalPath)) fs.delete(finalPath, false)
    if (!fs.rename(tempPath, finalPath))
      throw new java.io.IOException(s"rename $tempPath -> $finalPath failed")
    // sidecars AFTER the data rename: readers that race see a data file
    // without sidecars (unsplit, unskippable scan), never a sidecar
    // without its file
    ProtoChunkSource.writeFrameIndex(fs, finalPath, frameOffsets.toSeq, attemptId,
      fileLen = bytesOut)
    ProtoChunkSource.writeStats(fs, finalPath,
      ProtoChunkSource.FileStats(bytesOut, nFrames,
        if (nFrames == 0) 0 else minSeq, if (nFrames == 0) 0 else maxSeq,
        Option(minName).getOrElse(""), Option(maxName).getOrElse(""), bloom),
      attemptId)
    ProtoChunkCommit(finalPath.toString)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: java.io.IOException => () }
    fs.delete(tempPath, false)
  }

  override def close(): Unit = ()
}

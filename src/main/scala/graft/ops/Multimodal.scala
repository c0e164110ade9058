package graft.ops

import graft.{ParquetMeta, Tables}
import graft.ops.Pin.PinOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: media
  * treated as opaque `binary` columns plus typed metadata, with
  * decode / feature-extract / resize / frame-sample stages.
  *
  * The DECODE step is REAL for the common image formats — JPEG (SOF
  * marker walk), PNG (IHDR), GIF (logical screen descriptor), BMP
  * (DIB header) and PPM/PGM (P2/P3/P5/P6) dimensions are parsed from
  * the payload bytes in pure JVM, no codec libs (the same way the
  * reference validates real file bytes,
  * structures/Chunk.java:166-189). Payloads with unknown magic fall
  * back to a clearly-labeled deterministic md5-derived STUB (the
  * container has no codecs for webp/avif/video). Around it is the real
  * Spark plumbing this pipeline needs at 100 TB:
  *  - the binary payload travels as `BinaryType` (parquet BYTE_ARRAY),
  *    never stringified;
  *  - decode runs in `mapPartitions` over a typed Dataset — one
  *    decoder instance per partition (exactly how a JNI/codec handle
  *    would amortize), preserving partitioning, batch-shaped;
  *  - downstream stages (resize math, frame sampling) are codegen'd
  *    projections/generators over the decoded metadata;
  *  - the stub path is md5-derived so every stage stays DuckDB
  *    oracle-checkable end-to-end on a text-only corpus (the fixture
  *    corpus has no image-magic payloads — asserted per-SF).
  *
  * Swapping in a full codec (javax.imageio / ffmpeg JNI) replaces only
  * the unknown-magic fallback with the same row shape — no plan change.
  */
object Multimodal {

  /** Parse (width, height, channels, format) from a media payload's
    * header bytes — pure JVM, no codec libraries. Returns None for
    * unknown/truncated headers (caller falls back to the labeled stub).
    *
    *  - PNG: 8-byte signature then the IHDR chunk — width/height are
    *    big-endian u32 at offsets 16/20, color type at 25 maps to
    *    channel count (grayscale 1, gray+alpha 2, RGB 3, RGBA 4,
    *    palette 1).
    *  - BMP: "BM" then a DIB header at offset 14 — width/height are
    *    little-endian i32 at 18/22 (height may be negative =
    *    top-down), bits-per-pixel at 28 → channels = bpp/8 (min 1).
    *    The DIB size field is required to be a known variant so text
    *    starting with "BM" cannot false-positive.
    *  - PPM/PGM (netpbm): "P2"/"P3" (ascii) or "P5"/"P6" (binary)
    *    magic, then whitespace-separated width/height tokens with
    *    '#' comment lines allowed; P2/P5 are 1-channel, P3/P6 are 3.
    *  - GIF: "GIF87a"/"GIF89a" then the logical-screen descriptor —
    *    width/height are little-endian u16 at offsets 6/8; palette
    *    color, so 3 channels.
    *  - JPEG: FF D8 then a marker walk — each segment is FF <marker>
    *    <u16 BE length incl. itself>; the frame header (SOF0/1/2,
    *    progressive included) carries precision, height, width and
    *    the component count (1 = grayscale, 3 = YCbCr). Stops at SOS
    *    (entropy-coded data) or on a malformed length.
    */
  private[graft] def parseImageHeader(p: Array[Byte]): Option[(Int, Int, Int, String)] = {
    def u8(i: Int) = p(i) & 0xFF
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)

    if (p.length >= 26 && be32(0) == 0x89504E47 && be32(4) == 0x0D0A1A0A &&
        be32(12) == 0x49484452) { // "IHDR"
      val (w, h) = (be32(16), be32(20))
      val channels = u8(25) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => return None
      }
      if (w > 0 && h > 0) Some((w, h, channels, "png")) else None
    } else if (p.length >= 30 && u8(0) == 'B' && u8(1) == 'M' &&
               Set(12, 40, 52, 56, 108, 124).contains(le32(14))) {
      if (le32(14) == 12) { // BITMAPCOREHEADER: u16 dims, bpp at 24
        val (w, h, bpp) = (le16(18), le16(20), le16(24))
        if (w > 0 && h > 0) Some((w, h, math.max(1, bpp / 8), "bmp")) else None
      } else {
        val (w, h, bpp) = (le32(18), le32(22), le16(28))
        if (w > 0 && h != 0) Some((w, math.abs(h), math.max(1, bpp / 8), "bmp"))
        else None
      }
    } else if (p.length >= 10 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' &&
               u8(3) == '8' && (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a') {
      val (w, h) = (le16(6), le16(8))
      if (w > 0 && h > 0) Some((w, h, 3, "gif")) else None
    } else if (p.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
      // JPEG marker walk to the first frame header
      var i = 2
      while (i + 3 < p.length) {
        if (u8(i) != 0xFF) return None
        var m = u8(i + 1)
        var j = i + 1
        while (m == 0xFF && j + 1 < p.length) { j += 1; m = u8(j) } // fill bytes
        i = j - 1
        if (m == 0xD8 || (m >= 0xD0 && m <= 0xD7)) i += 2 // standalone markers
        else if (m == 0xD9 || m == 0xDA) return None      // EOI / SOS before SOF
        else {
          if (i + 3 >= p.length) return None
          val len = (u8(i + 2) << 8) | u8(i + 3)
          if (len < 2) return None
          if ((m == 0xC0 || m == 0xC1 || m == 0xC2) && i + 9 < p.length) {
            val (h, w, nc) = ((u8(i + 5) << 8) | u8(i + 6),
              (u8(i + 7) << 8) | u8(i + 8), u8(i + 9))
            return if (w > 0 && h > 0 && (nc == 1 || nc == 3 || nc == 4))
              Some((w, h, nc, "jpeg")) else None
          }
          i += 2 + len
        }
      }
      None
    } else if (p.length >= 3 && u8(0) == 'P' && "2356".contains(p(1).toChar) &&
               Character.isWhitespace(p(2).toChar)) {
      // netpbm: scan whitespace-separated tokens, skipping '#' comments
      var i = 2
      val dims = new Array[Int](2)
      var found = 0
      while (found < 2 && i < p.length) {
        val c = p(i).toChar
        if (c == '#') { while (i < p.length && p(i) != '\n') i += 1 }
        else if (Character.isDigit(c)) {
          var v = 0L
          while (i < p.length && Character.isDigit(p(i).toChar)) {
            v = v * 10 + (p(i) - '0'); i += 1
          }
          if (v <= 0 || v > Int.MaxValue) return None
          dims(found) = v.toInt; found += 1
        } else if (Character.isWhitespace(c)) i += 1
        else return None
      }
      if (found == 2)
        Some((dims(0), dims(1), if (p(1) == '3' || p(1) == '6') 3 else 1, "ppm"))
      else None
    } else None
  }

  /** Parse (channels, sample_rate_hz, bits_per_sample, n_frames,
    * format) from an audio payload's header bytes — pure JVM, no codec
    * libraries (the audio sibling of parseImageHeader). Returns None
    * for unknown/truncated headers.
    *
    *  - WAV: "RIFF" <u32> "WAVE" then a chunk walk — each chunk is a
    *    4-byte id + LE u32 size, even-padded per the RIFF spec. The
    *    "fmt " chunk carries channels (LE u16 at +10), sample rate
    *    (LE u32 at +12) and bits/sample (LE u16 at +22); the "data"
    *    chunk's size (clamped to the bytes actually present, so a
    *    truncated capture still decodes) gives
    *    frames = data_size / (channels · bits/8).
    *  - AU (Sun/NeXT): ".snd" magic then a big-endian header — data
    *    offset at 4, data size at 8 (-1 = unknown → use what's
    *    present), encoding at 12 (1 µ-law → 8-bit, 2/3/4/5 = linear
    *    PCM 8/16/24/32), sample rate at 16, channels at 20.
    */
  private[graft] def parseAudioHeader(p: Array[Byte]): Option[(Int, Int, Int, Long, String)] = {
    def u8(i: Int) = p(i) & 0xFF
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def tag(i: Int): String =
      new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    if (p.length >= 36 && tag(0) == "RIFF" && tag(8) == "WAVE") {
      var i = 12L
      var ch = 0; var rate = 0; var bits = 0; var dataSize = -1L
      while (i + 8 <= p.length && (ch == 0 || dataSize < 0)) {
        val at = i.toInt
        val id = tag(at)
        val sz = le32(at + 4).toLong & 0xFFFFFFFFL
        if (id == "fmt " && i + 24 <= p.length) {
          ch = le16(at + 10); rate = le32(at + 12); bits = le16(at + 22)
        } else if (id == "data") {
          dataSize = math.min(sz, p.length - i - 8)
        }
        i += 8 + sz + (sz & 1) // even-padded; Long cursor — no overflow
      }
      if (ch > 0 && rate > 0 && bits >= 8 && bits % 8 == 0 && dataSize >= 0)
        Some((ch, rate, bits, dataSize / (ch.toLong * (bits / 8)), "wav"))
      else None
    } else if (p.length >= 24 && tag(0) == ".snd") {
      val dataOff = be32(4); val dataSize = be32(8); val enc = be32(12)
      val rate = be32(16); val ch = be32(20)
      val bits = enc match {
        case 1 | 2 => 8; case 3 => 16; case 4 => 24; case 5 => 32
        case _ => return None
      }
      if (ch <= 0 || rate <= 0 || dataOff < 24 || dataOff > p.length) None
      else {
        val avail = (p.length - dataOff).toLong
        val sz = if (dataSize >= 0) math.min(dataSize.toLong, avail) else avail
        Some((ch, rate, bits, sz / (ch.toLong * (bits / 8)), "au"))
      }
    } else None
  }

  /** Decoded media metadata — the typed row shape the decode stage
    * emits. Mirrors (file:line) the reference's chunk sidecar metadata
    * idea (storageNode/StorageNode.java:90 checksum sidecars): payload +
    * typed facts about it.
    */
  case class MediaMeta(doc_id: Long, n_bytes: Long, content_md5: String,
                       width: Int, height: Int, channels: Int, decoder: String)

  private def hexVal(c: Char): Int = java.lang.Character.digit(c, 16)

  /** Decode core over an already-extracted (id, payload) Dataset —
    * factored out so specs can drive it with real PNG/BMP/PPM byte
    * literals (the table form below reads the text corpus, which never
    * hits the image paths). Header parse first (real); unknown magic
    * falls back to the md5-derived STUB dims:
    *   width    = 320 + hex[0..1] of md5   (320..575)
    *   height   = 240 + hex[2..3] of md5   (240..495)
    *   channels = 1 + hex[4] % 3           (1..3)
    * The `decoder` column says which path produced each row
    * (png/bmp/ppm vs stub-md5) — a real pipeline filters or routes on
    * it.
    */
  private[graft] def decodeCore(ds: Dataset[(Long, Array[Byte])]): Dataset[MediaMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // one digest instance per partition — where a real codec handle
      // (ffmpeg context, ImageIO reader) would be allocated once
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, payload) =>
        md.reset()
        val hex = md.digest(payload).map("%02x".format(_)).mkString
        parseImageHeader(payload) match {
          case Some((w, h, c, fmt)) =>
            MediaMeta(id, payload.length.toLong, hex, w, h, c, fmt)
          case None =>
            // --- STUB: non-headerable formats (webp/avif/video) would
            // need a real codec; derive deterministic fake dims instead
            val width = 320 + 16 * hexVal(hex(0)) + hexVal(hex(1))
            val height = 240 + 16 * hexVal(hex(2)) + hexVal(hex(3))
            val channels = 1 + hexVal(hex(4)) % 3
            // ---------------------------------------------------------
            MediaMeta(id, payload.length.toLong, hex, width, height, channels, "stub-md5")
        }
      }
    }
  }

  /** q_mm_decode — binary payload → typed metadata via per-partition
    * decode (real header parse for PNG/BMP/PPM, labeled stub
    * otherwise; see decodeCore).
    */
  /** Decoded metadata, UNSORTED — the composition surface: resize and
    * frameSample build on this so the deterministic output sort is
    * paid once at each query's tail, not as a wasted global exchange
    * in the middle of their plans.
    */
  private def decodeTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decodeCore(
      Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).cast("binary").as("payload"))
        .as[(Long, Array[Byte])])
      .toDF()
  }

  def decode(s: SparkSession, d: String): DataFrame =
    decodeTable(s, d).orderBy("doc_id")

  /** Decoded audio metadata — the audio sibling of MediaMeta. */
  case class AudioMeta(doc_id: Long, n_bytes: Long, content_md5: String,
                       n_channels: Int, sample_rate_hz: Int, bits_per_sample: Int,
                       n_frames: Long, duration_ms: Long, decoder: String)

  /** Audio-decode core over an (id, payload) Dataset — real WAV/AU
    * header parse (parseAudioHeader), md5-derived STUB for unknown
    * magic so the table form stays oracle-checkable on the text-only
    * corpus. Stub facts (all hex digits of the payload md5):
    *   sample_rate_hz  = 8000 · (1 + hex[0..1] mod 6)   (8k..48k)
    *   n_channels      = 1 + hex[2] mod 2               (mono/stereo)
    *   bits_per_sample = 8 · (1 + hex[3] mod 2)         (8/16)
    *   n_frames        = n_bytes (1 byte ≙ 1 frame)
    * duration_ms = n_frames · 1000 / rate in integer division on both
    * paths — exact, engine-neutral (all terms non-negative).
    */
  private[graft] def audioCore(ds: Dataset[(Long, Array[Byte])]): Dataset[AudioMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, payload) =>
        md.reset()
        val hex = md.digest(payload).map("%02x".format(_)).mkString
        val n = payload.length.toLong
        parseAudioHeader(payload) match {
          case Some((ch, rate, bits, frames, fmt)) =>
            AudioMeta(id, n, hex, ch, rate, bits, frames,
              frames * 1000L / rate, fmt)
          case None =>
            // --- STUB: real compressed audio (mp3/flac/ogg) needs a
            // codec the container lacks; deterministic md5-derived facts
            val rate = 8000 * (1 + (16 * hexVal(hex(0)) + hexVal(hex(1))) % 6)
            val ch = 1 + hexVal(hex(2)) % 2
            val bits = 8 * (1 + hexVal(hex(3)) % 2)
            // -----------------------------------------------------------
            AudioMeta(id, n, hex, ch, rate, bits, n, n * 1000L / rate, "stub-md5")
        }
      }
    }
  }

  /** q_mm_audio — binary payload → typed audio metadata (channels,
    * rate, bit depth, frame count, duration): the audio leg of the
    * multimodal decode tier, same per-partition batch shape and stub
    * discipline as q_mm_decode.
    */
  def audio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioCore(
      Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).cast("binary").as("payload"))
        .as[(Long, Array[Byte])])
      .toDF()
      .orderBy("doc_id")
  }

  /** Parse (width, height, duration_ms, format) from a video
    * container's header bytes — pure JVM, no codec libraries (the video
    * sibling of parseImageHeader/parseAudioHeader). Container-level
    * facts only: duration comes from the movie header, dimensions from
    * the track/stream header; frame-accurate counts would need the
    * codec, which is exactly the part that stays behind the stub.
    *
    *  - MP4/MOV (ISO-BMFF): every box is u32-BE size + 4cc type
    *    (size 1 → u64 largesize follows; size 0 → to-end); the file
    *    starts with `ftyp`. Walk top-level boxes to `moov`, then its
    *    children: `mvhd` (FullBox — v0: u32 timescale/duration at
    *    +12/+16 past the version byte; v1: u32 timescale at +20,
    *    u64 duration at +24) gives duration_ms = duration·1000/timescale;
    *    the first `trak`→`tkhd` with nonzero dimensions (16.16 fixed
    *    point at +76/+80 for v0, +88/+92 for v1) gives width/height
    *    (0×0 for audio-only files — valid).
    *  - AVI (RIFF): "RIFF" <size> "AVI " then an even-padded chunk walk;
    *    `LIST` chunks nest. The `avih` chunk inside LIST `hdrl` carries
    *    dwMicroSecPerFrame (+0), dwTotalFrames (+16), dwWidth (+32),
    *    dwHeight (+36) — all LE u32; duration_ms = frames·µspf/1000.
    */
  /** Defensive wrapper: the walkers below bounds-check the shapes real
    * encoders emit, but a CRAFTED box layout can still index past the
    * buffer — the contract is "None for unknown/truncated", never a
    * task-killing throw (the grayPixels rule).
    */
  private[graft] def parseVideoHeader(p: Array[Byte]): Option[(Int, Int, Long, String)] =
    try parseVideoHeaderImpl(p)
    catch { case scala.util.control.NonFatal(_) => None }

  private def parseVideoHeaderImpl(p: Array[Byte]): Option[(Int, Int, Long, String)] = {
    def u8(i: Int) = p(i) & 0xFF
    def be32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)) & 0xFFFFFFFFL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def le32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3).toLong << 24)) & 0xFFFFFFFFL
    def tag(i: Int): String =
      new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    if (p.length >= 12 && tag(4) == "ftyp") {
      var dur = -1L; var w = 0; var h = 0
      def walk(from: Long, to: Long, depth: Int): Unit = {
        var i = from
        var ok = true
        while (ok && i + 8 <= to) {
          val at = i.toInt
          var sz = be32(at)
          var hdr = 8L
          val tp = tag(at + 4)
          if (sz == 1 && i + 16 <= to) { sz = be64(at + 8); hdr = 16 }
          else if (sz == 0) sz = to - i
          if (sz < hdr) ok = false
          else {
            val end = math.min(i + sz, to)
            tp match {
              case "moov" | "trak" if depth < 3 => walk(i + hdr, end, depth + 1)
              case "mvhd" if i + hdr + 20 <= end =>
                val v = u8((i + hdr).toInt)
                if (v == 0) {
                  val ts = be32((i + hdr + 12).toInt); val du = be32((i + hdr + 16).toInt)
                  if (ts > 0) dur = du * 1000L / ts
                } else if (v == 1 && i + hdr + 32 <= end) {
                  val ts = be32((i + hdr + 20).toInt); val du = be64((i + hdr + 24).toInt)
                  if (ts > 0 && du >= 0) dur = du * 1000L / ts
                }
              case "tkhd" if i + hdr < end =>
                // the `if` guards the version-byte read: an 8-byte tkhd
                // flush with the buffer end passes `i + 8 <= to` but has
                // no body byte to read (AIOOBE on a truncated file)
                val off = if (u8((i + hdr).toInt) == 1) 88 else 76
                if (w == 0 && i + hdr + off + 8 <= end) {
                  val tw = (be32((i + hdr + off).toInt) >> 16).toInt
                  val th = (be32((i + hdr + off + 4).toInt) >> 16).toInt
                  if (tw > 0 && th > 0) { w = tw; h = th }
                }
              case _ =>
            }
            i += sz
          }
        }
      }
      walk(0, p.length.toLong, 0)
      if (dur >= 0) Some((w, h, dur, "mp4")) else None
    } else if (p.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ") {
      var res: Option[(Int, Int, Long, String)] = None
      def walk(from: Long, to: Long, depth: Int): Unit = {
        var i = from
        while (res.isEmpty && i + 8 <= to) {
          val at = i.toInt
          val id = tag(at)
          val sz = le32(at + 4)
          val end = math.min(i + 8 + sz, to)
          if (id == "LIST" && depth < 3 && i + 12 <= end) walk(i + 12, end, depth + 1)
          else if (id == "avih" && i + 8 + 40 <= end) {
            val uspf = le32(at + 8); val frames = le32(at + 24)
            val vw = le32(at + 40).toInt; val vh = le32(at + 44).toInt
            if (vw >= 0 && vh >= 0)
              res = Some((vw, vh, frames * uspf / 1000L, "avi"))
          }
          i += 8 + sz + (sz & 1) // even-padded per RIFF, same as WAV
        }
      }
      walk(12, p.length.toLong, 0)
      res
    } else None
  }

  /** Decoded video metadata — the video sibling of MediaMeta/AudioMeta. */
  case class VideoMeta(doc_id: Long, n_bytes: Long, content_md5: String,
                       width: Int, height: Int, duration_ms: Long, decoder: String)

  /** Video-decode core over an (id, payload) Dataset — real MP4/AVI
    * container-header parse (parseVideoHeader), md5-derived STUB for
    * unknown magic so the table form stays oracle-checkable on the
    * text-only corpus. Stub facts:
    *   width       = 320 + hex[0..1] of md5     (the image-stub formula)
    *   height      = 240 + hex[2..3] of md5
    *   duration_ms = 40 · ceil(n_bytes / 100)   (the q_mm_frame_sample
    *                 frame count at a 25 fps stand-in rate)
    * Integer division everywhere on both paths — engine-neutral.
    */
  private[graft] def videoCore(ds: Dataset[(Long, Array[Byte])]): Dataset[VideoMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, payload) =>
        md.reset()
        val hex = md.digest(payload).map("%02x".format(_)).mkString
        val n = payload.length.toLong
        parseVideoHeader(payload) match {
          case Some((w, h, dur, fmt)) =>
            VideoMeta(id, n, hex, w, h, dur, fmt)
          case None =>
            // --- STUB: real video needs a demuxer+codec the container
            // lacks; deterministic md5-derived facts instead
            val width = 320 + 16 * hexVal(hex(0)) + hexVal(hex(1))
            val height = 240 + 16 * hexVal(hex(2)) + hexVal(hex(3))
            // -----------------------------------------------------------
            VideoMeta(id, n, hex, width, height, 40L * ((n + 99) / 100), "stub-md5")
        }
      }
    }
  }

  /** q_mm_video — binary payload → typed video-container metadata
    * (dimensions + duration): the video leg of the multimodal decode
    * tier, same per-partition batch shape and stub discipline as
    * q_mm_decode / q_mm_audio.
    */
  def video(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoCore(
      Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).cast("binary").as("payload"))
        .as[(Long, Array[Byte])])
      .toDF()
      .orderBy("doc_id")
  }

  /** q_mm_resize — fit-into-224×224 resize math over the decoded dims
    * (aspect-preserving, scale = min(224/w, 224/h)). Pure codegen'd
    * projection; identical IEEE double steps on both engines.
    */
  def resize(s: SparkSession, d: String): DataFrame =
    decodeTable(s, d)
      .withColumn("scale",
        least(lit(224.0) / col("width"), lit(224.0) / col("height")))
      .select(col("doc_id"), col("width"), col("height"),
        expr("CAST(floor(width * scale) AS INTEGER)").as("out_w"),
        expr("CAST(floor(height * scale) AS INTEGER)").as("out_h"))
      .orderBy("doc_id")

  /** q_mm_frame_sample — video-style frame sampling: n_frames =
    * ceil(n_bytes / 100), keep every 10th frame. The generator is
    * `explode(sequence(...))` — Spark's rows-from-one-row path (same
    * shape as chunk split, SURVEY §2A #9), shuffle-free.
    */
  def frameSample(s: SparkSession, d: String): DataFrame =
    decodeTable(s, d)
      .select(col("doc_id"), col("content_md5"),
        expr("(n_bytes + 99) DIV 100").as("n_frames"))
      // zero-byte doc ⇒ zero frames ⇒ no rows: without the guard the
      // generator becomes sequence(0, -1, 10), which Spark rejects
      // (step-sign mismatch) while DuckDB's generate_series returns
      // empty — the engines would crash vs drop (the chunkSplit rule)
      .where(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"),
        explode(expr("sequence(CAST(0 AS BIGINT), n_frames - 1, CAST(10 AS BIGINT))")).as("frame_no"))
      .select(col("doc_id"), col("n_frames"), col("frame_no"))
      .orderBy("doc_id", "frame_no")

  /** Feature row for q_mm_feature: 8-bin byte-value histogram (bin =
    * byte >> 5) + distinct-byte count over the raw payload. Flat h0..h7
    * columns, not an array — the driver's pandas gate can't sort
    * array columns (the q_nested_catalog lesson).
    */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, n_distinct_bytes: Long,
                           h0: Long, h1: Long, h2: Long, h3: Long,
                           h4: Long, h5: Long, h6: Long, h7: Long)

  /** q_mm_feature — feature extraction over the binary payload: one
    * pass per row computing the byte histogram + distinct-byte count
    * (entropy-style signals a media quality filter runs before decode
    * — e.g. truncated/constant payload detection). Unlike the decode
    * dims this is NOT a stub: the bytes are really scanned. Same
    * per-partition batch shape as decode; swapping in a model-based
    * extractor (CLIP embedding etc.) changes the loop body, not the
    * plan.
    */
  def features(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val hist = new Array[Long](8)
          val seen = new Array[Boolean](256)
          var i = 0
          while (i < p.length) {
            val b = p(i) & 0xFF
            hist(b >> 5) += 1
            seen(b) = true
            i += 1
          }
          MediaFeatures(id, p.length.toLong, seen.count(identity).toLong,
            hist(0), hist(1), hist(2), hist(3), hist(4), hist(5), hist(6), hist(7))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------- perceptual hash

  /** Grayscale pixel decode for the CODEC-FREE image formats the header
    * parser already locates: uncompressed 24-bpp BMP (BITMAPINFOHEADER
    * bottom-up or top-down, AND the 12-byte BITMAPCOREHEADER), all four
    * netpbm rasters (binary P5/P6 and ascii P2/P3), and 8-bit
    * non-interlaced PNG (colorType gray/RGB/gray+alpha/RGBA — IDAT
    * inflate via the JDK's zlib, then the five standard scanline
    * filters per the PNG spec §6). Returns (width, height, row-major
    * gray 0..255). Anything genuinely codec-bound — JPEG entropy data,
    * GIF LZW, paletted/16-bit/interlaced PNG — returns None and the
    * caller falls back to the content-hash stub (same rule as
    * decodeCore: real where bytes allow, labeled fake otherwise).
    * Public format specs: Windows DIB, netpbm, PNG (RFC 2083); luma
    * weights are ITU-R BT.601 integer form. Pixel honesty is witnessed
    * against `javax.imageio.ImageIO` in MediaWitnessSpec — a decoder
    * this repo did not write.
    */
  private[graft] def grayPixels(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    def u8(i: Int) = p(i) & 0xFF
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    try {
      if (p.length > 26 && p(0) == 'B' && p(1) == 'M') {
        val dataOff = le32(10)
        val hdrSize = le32(14)
        // (w, h, bottomUp, ok) per DIB generation: BITMAPCOREHEADER
        // (12 bytes, u16 dims, always bottom-up) vs BITMAPINFOHEADER+
        // (u32 dims, sign of biHeight picks the row order)
        val (w, h, bottomUp, ok) =
          if (hdrSize == 12) {
            val cw = le16(18); val chh = le16(20)
            (cw, chh, true, p.length > 26 && le16(24) == 24)
          } else {
            val iw = le32(18); val hRaw = le32(22)
            (iw, math.abs(hRaw), hRaw > 0,
              p.length > 54 && le16(28) == 24 && le32(30) == 0)
          }
        if (!ok || w <= 0 || h == 0) return None
        // stride in LONG: a crafted header claiming w ≈ 2^31/3 wraps an
        // Int stride negative, slips past the size check, and the w*h
        // allocation OOMs the executor (OutOfMemoryError is not
        // NonFatal — the catch below would not contain it)
        val strideL = ((w.toLong * 3 + 3) / 4) * 4
        if (dataOff.toLong + strideL * h > p.length) return None
        val stride = strideL.toInt
        val g = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          val row = if (bottomUp) h - 1 - y else y
          var x = 0
          while (x < w) {
            val i = dataOff + row * stride + x * 3
            val b = u8(i); val gg = u8(i + 1); val r = u8(i + 2)
            g(y * w + x) = (299 * r + 587 * gg + 114 * b) / 1000
            x += 1
          }
          y += 1
        }
        Some((w, h, g))
      } else if (p.length > 2 && p(0) == 'P' && p(1) >= '2' && p(1) <= '6' && p(1) != '4') {
        val asciiRaster = p(1) == '2' || p(1) == '3'
        val rgb = p(1) == '3' || p(1) == '6'
        // netpbm header: three whitespace-separated ints (w h maxval),
        // '#' comments run to end-of-line; binary rasters follow after
        // ONE whitespace, ascii rasters are just more integer tokens
        var i = 2
        def nextInt(): Int = {
          var done = false
          while (!done && i < p.length) {
            if (p(i) == ' ' || p(i) == '\t' || p(i) == '\n' || p(i) == '\r') i += 1
            else if (p(i) == '#') { while (i < p.length && p(i) != '\n') i += 1 }
            else done = true
          }
          var v = 0
          var any = false
          while (i < p.length && p(i) >= '0' && p(i) <= '9') {
            v = v * 10 + (p(i) - '0'); i += 1; any = true
          }
          if (!any) -1 else v
        }
        val w = nextInt(); val h = nextInt(); val maxv = nextInt()
        val bpx = if (rgb) 3 else 1
        if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
        // Validate BEFORE allocating (the BMP stride-in-Long precedent):
        // a ~20-byte header claiming 30000x30000 would otherwise trigger
        // a multi-GB allocation whose OutOfMemoryError is not NonFatal
        // and escapes the catch below; 65536x65536 wraps w*h to 0 in
        // Int. Pixel count in Long against the payload: binary needs
        // exactly w*h*bpx raster bytes, ascii needs >= 2 bytes per
        // sample (digit + separator), so either way the header cannot
        // claim more pixels than the byte budget can carry.
        val pixelsL = w.toLong * h
        val minBytesPerPx = if (asciiRaster) 2L * bpx else bpx.toLong
        if (pixelsL > Int.MaxValue / 4 || pixelsL * minBytesPerPx > p.length) return None
        val g = new Array[Int](w * h)
        if (asciiRaster) {
          var k = 0
          while (k < w * h) {
            // Same luma order as the binary path (weighted sum / 1000,
            // THEN scale by 255/maxv) so P3 and P6 of the same scene
            // yield the same raster; out-of-range samples (> maxval)
            // are rejected, not wrapped.
            val v =
              if (rgb) {
                val r = nextInt(); val gg = nextInt(); val b = nextInt()
                if (b < 0 || r > maxv || gg > maxv || b > maxv) return None
                (299 * r + 587 * gg + 114 * b) / 1000 * 255 / maxv
              } else {
                val v0 = nextInt()
                if (v0 < 0 || v0 > maxv) return None
                v0 * 255 / maxv
              }
            g(k) = v
            k += 1
          }
        } else {
          i += 1 // the single whitespace after maxval
          if (i.toLong + w.toLong * h * bpx > p.length) return None
          var k = 0
          while (k < w * h) {
            val base = i + k * bpx
            val v =
              if (rgb) (299 * u8(base) + 587 * u8(base + 1) + 114 * u8(base + 2)) / 1000
              else u8(base)
            g(k) = v * 255 / maxv
            k += 1
          }
        }
        Some((w, h, g))
      } else if (p.length > 8 && u8(0) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') {
        // PNG: walk the chunk stream (len BE32, type, data, crc),
        // gather IHDR geometry + every IDAT payload
        var i = 8
        var w = 0; var h = 0; var depth = 0; var ct = -1; var interlace = 0
        var sawIhdr = false; var sawIend = false
        val idat = new java.io.ByteArrayOutputStream()
        while (!sawIend && i + 8 <= p.length) {
          val len = be32(i)
          if (len < 0 || i + 8L + len + 4 > p.length) return None
          val tp = new String(p, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
          tp match {
            case "IHDR" =>
              w = be32(i + 8); h = be32(i + 12)
              depth = u8(i + 16); ct = u8(i + 17); interlace = u8(i + 20)
              sawIhdr = true
            case "IDAT" => idat.write(p, i + 8, len)
            case "IEND" => sawIend = true
            case _ => ()
          }
          i += 12 + len
        }
        // channels per colorType: 0 gray, 2 RGB, 4 gray+alpha, 6 RGBA;
        // palette (3) needs the PLTE lookup, 16-bit and Adam7 need
        // resampling — those stay on the stub path
        if (!sawIhdr || w <= 0 || h <= 0 || depth != 8 || interlace != 0) return None
        val channels = ct match { case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4; case _ => return None }
        if (w.toLong * h * channels > 256L * 1024 * 1024) return None
        val stride = w * channels
        val raw = new Array[Byte]((stride + 1) * h)
        val inf = new java.util.zip.Inflater()
        inf.setInput(idat.toByteArray)
        var off = 0
        try {
          while (off < raw.length && !inf.finished()) {
            val n = inf.inflate(raw, off, raw.length - off)
            if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
            off += n
          }
        } finally inf.end()
        if (off != raw.length) return None
        // undo the per-scanline filter (PNG spec §6: None/Sub/Up/
        // Average/Paeth); `img` holds the reconstructed bytes
        val img = new Array[Int](stride * h)
        var y = 0
        while (y < h) {
          val ft = raw(y * (stride + 1)) & 0xFF
          if (ft > 4) return None
          val base = y * (stride + 1) + 1
          var x = 0
          while (x < stride) {
            val rv = raw(base + x) & 0xFF
            val a = if (x >= channels) img(y * stride + x - channels) else 0
            val b = if (y > 0) img((y - 1) * stride + x) else 0
            val c = if (x >= channels && y > 0) img((y - 1) * stride + x - channels) else 0
            val v = ft match {
              case 0 => rv
              case 1 => rv + a
              case 2 => rv + b
              case 3 => rv + (a + b) / 2
              case _ => // Paeth predictor
                val pp = a + b - c
                val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
                rv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
            }
            img(y * stride + x) = v & 0xFF
            x += 1
          }
          y += 1
        }
        val g = new Array[Int](w * h)
        var k = 0
        while (k < w * h) {
          val base = k * channels
          g(k) =
            if (channels <= 2) img(base) // gray / gray+alpha: the sample IS luma
            else (299 * img(base) + 587 * img(base + 1) + 114 * img(base + 2)) / 1000
          k += 1
        }
        Some((w, h, g))
      } else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** ImageIO-backed raster decode for everything the pure-JVM decoders
    * stop at: the ENTROPY-CODED containers (GIF LZW frames, JPEG scans)
    * plus the PNG variants grayPixels declines — interlaced (Adam7),
    * 16-bit, paletted (call sites try grayPixels FIRST, so it keeps
    * every format it owns). javax.imageio is pure JDK,
    * executor-safe, and already the trusted witness decoder
    * (MediaWitnessSpec); here it is a production branch so a real
    * multimodal corpus — mostly JPEG — gets real pixels instead of
    * `no-raster` markers. Dimensions are read from the
    * HEADER and capped BEFORE the full decode (a crafted
    * header must not drive a multi-GB allocation inside reader.read —
    * OutOfMemoryError is not NonFatal and would escape the catch).
    * Gray conversion: single-band component rasters read raw samples
    * (getRGB on CS_GRAY routes through a gamma conversion that is not
    * the stored sample; >8-bit samples downshift to the 8-bit luma
    * contract), but palette rasters (GIF, PNG colorType 3) hold INDICES
    * in their one band, so they go through getRGB (IndexColorModel is
    * sRGB — exact) + BT.601. Decode failures return None (the honest
    * no-raster marker), never throw. Reference discipline: verify the
    * stored BYTES, not just headers (`Utils.java:28-58`).
    */
  private[graft] def imageIoGrayDecode(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    val isGif = p.length > 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8'
    val isJpeg = p.length > 3 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8
    // PNG magic too: grayPixels owns the 8-bit
    // non-interlaced forms and tries FIRST at every call site, so the
    // only PNGs reaching here are the variants it declines — interlaced
    // (Adam7), 16-bit, paletted — which otherwise had NO raster at all.
    val isPng = p.length > 8 && (p(0) & 0xFF) == 0x89 && p(1) == 'P' &&
      p(2) == 'N' && p(3) == 'G'
    if (!isGif && !isJpeg && !isPng) return None
    try {
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(p))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); return None }
      val reader = readers.next()
      val img = try {
        reader.setInput(iis)
        // Header-only dimensions BEFORE the full decode: a
        // crafted header claiming huge dimensions must be rejected here
        // — reader.read on it allocates the full raster inside ImageIO,
        // and the resulting OutOfMemoryError is not NonFatal and would
        // escape the catch (the exact failure mode the netpbm path
        // pre-validates against at :641).
        val w0 = reader.getWidth(0); val h0 = reader.getHeight(0)
        if (w0 <= 0 || h0 <= 0 || w0.toLong * h0 > 64L * 1024 * 1024) null
        else reader.read(0)
      } finally { reader.dispose(); iis.close() }
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return None
      val rawSamples = img.getRaster.getNumBands == 1 &&
        !img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
      // 16-bit gray arrives as raw 0..65535 samples; normalize to the
      // 8-bit luma contract. The fixture encodes v·257 = (v<<8)|v, so
      // the downshift recovers the generator scene exactly.
      val shift = if (rawSamples)
        math.max(0, img.getColorModel.getComponentSize(0) - 8) else 0
      val g = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          g(y * w + x) =
            if (rawSamples) img.getRaster.getSample(x, y, 0) >> shift
            else {
              val rgb = img.getRGB(x, y)
              (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
                114 * (rgb & 0xFF)) / 1000
            }
          x += 1
        }
        y += 1
      }
      Some((w, h, g))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** aHash: box-average the grayscale image to 8×8, then one bit per
    * cell — 1 iff the cell mean exceeds the global 8×8 mean (strict, so
    * a constant image hashes to all-zeros deterministically). Bit (r,c)
    * is bit 63-(8r+c) — row-major from the MSB.
    */
  private[graft] def aHash64(w: Int, h: Int, gray: Array[Int]): Long = {
    val cell = new Array[Long](64)
    var r = 0
    while (r < 8) {
      val y0 = r * h / 8
      val y1 = math.max(y0 + 1, (r + 1) * h / 8)
      var c = 0
      while (c < 8) {
        val x0 = c * w / 8
        val x1 = math.max(x0 + 1, (c + 1) * w / 8)
        var sum = 0L
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) { sum += gray(y * w + x); x += 1 }
          y += 1
        }
        val n = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0)
        cell(r * 8 + c) = if (n > 0) sum / n else 0L
        c += 1
      }
      r += 1
    }
    val mean = cell.sum / 64
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (cell(i) > mean) bits |= 1L << (63 - i)
      i += 1
    }
    bits
  }

  /** LSH band width: 8 bands × 2 hex chars (8 bits). Demo-scale — a
    * production corpus uses wider bands (16/32 bits) so each bucket
    * stays small; the plan shape (band explode → bucket self-join →
    * verify) is identical.
    */
  private[graft] val PhashBands = 8
  /** Accept threshold: ≤ 10 differing bits of 64 ≈ the usual aHash
    * near-duplicate cut. On a corpus with no decodable images the stub
    * hashes are md5-uniform and essentially no pair passes — the
    * planted-image spec drives the accept path.
    */
  private[graft] val PhashMaxHamming = 10
  /** Hot-bucket cap: band buckets holding more than this many hashes
    * are excluded from pair generation — the same df-cap discipline as
    * the text-LSH generators (a flooded bucket is boilerplate/identical
    * content, which EXACT dedup handles; pairing it is quadratic). The
    * 10× stress probe without this cap emitted 38.7M candidate pairs
    * from 50k docs on 8-bit bands.
    */
  private[graft] val PhashBucketCap = 64

  /** Perceptual hash per payload, as 16 hex chars: real aHash where the
    * pixels are reachable codec-free (grayPixels), else the md5 stub
    * prefix — the same real-where-possible/stub-otherwise rule as the
    * header decoders, and the stub is what the DuckDB mirror recomputes
    * on the text-only fixture corpus.
    */
  private[graft] def phashCore(ds: Dataset[(Long, Array[Byte])]): Dataset[(Long, String)] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, p) => (id, phashHex(md, p)) }
    }
  }

  /** One payload's 16-hex perceptual hash — the per-row core shared by
    * both mapPartitions shapes. null payload ⇒ empty bytes, matching
    * the md5(coalesce(x, '')) the SQL mirrors compute (md.digest(null)
    * would NPE the task).
    */
  private def phashHex(md: java.security.MessageDigest,
      rawPayload: Array[Byte]): String = {
    val payload = if (rawPayload == null) Array.emptyByteArray else rawPayload
    grayPixels(payload).orElse(imageIoGrayDecode(payload)) match {
      case Some((w, h, g)) => f"${aHash64(w, h, g)}%016x"
      case None =>
        md.reset()
        md.digest(payload).map("%02x".format(_)).mkString.take(16)
    }
  }

  /** The src-carrying shape of [[phashCore]] — what the persisted
    * substrate build runs (provenance must survive the mapPartitions).
    */
  private def phashCoreSrc(
      ds: Dataset[(Long, String, Array[Byte])]): Dataset[(Long, String, String)] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, src, p) => (id, src, phashHex(md, p)) }
    }
  }

  /** Persisted perceptual-hash table (doc_id, phash_hex, src) — the
    * SIXTH dedup substrate on the manifest-keyed lifecycle, and the one
    * where persistence buys the most at 100 TB: the hash is a media
    * DECODE per document (grayPixels/ImageIO), by far the most
    * expensive substrate build per byte, and it re-ran per session.
    * Hashes are per-doc, so append = hash the delta files only and
    * removal = src anti-join, like the five text/embedding siblings.
    */
  private[graft] val PhashFamily = "graft-phash"

  private def phashRows(s: SparkSession, paths: Seq[String]): DataFrame = {
    import s.implicits._
    // fanOut above the input_file_name projection, which an exchange
    // would void, and below the per-doc image decode
    phashCoreSrc(graft.Tables.fanOut(
      ParquetMeta.read(s, paths: _*)
        .select(col("doc_id"),
          Storage.normSrcCol(input_file_name()).as("src"),
          coalesce(col("text"), lit("")).cast("binary").as("payload")),
      col("doc_id"))
      .as[(Long, String, Array[Byte])])
      .toDF("doc_id", "src", "phash_hex")
  }

  private[graft] def ensurePhashTable(s: SparkSession, d: String): String = {
    val table = s"$d/documents.parquet"
    Dedup.ensureRowSubstrate(s, PhashFamily, table)(phashRows(s, _))
  }

  /** q_dedup_phash — perceptual near-duplicate image detection as a
    * first-class dedup pipeline stage: hash → Hamming-LSH banding
    * (exact-match buckets on 8-bit hash slices; a ≤10-bit-different
    * pair must agree on ≥1 of 8 bands... pigeonhole gives ≥1 clean band
    * only for <8 diffs, so recall for 8..10-bit pairs is probabilistic
    * — the standard banding trade, tightened in the planted spec) →
    * exact Hamming verify on candidates. Output: every banded candidate
    * pair with its distance and the accept verdict. Shuffles once on
    * (band, value); the within-bucket self-join is capped at
    * PhashBucketCap members per bucket (flooded buckets are identical
    * content — exact dedup's job — and pairing them is quadratic; the
    * 10× stress probe is the receipt).
    */
  def dedupPhash(s: SparkSession, d: String): DataFrame =
    // read the PERSISTED hash table (ensurePhashTable): the decode ran
    // once at ingest; the query is banding + verify over 16-hex rows
    dedupPhashFromHashes(
      ParquetMeta.read(s, ensurePhashTable(s, d)).select("doc_id", "phash_hex"))

  /** The hash→band→verify pipeline over an (id, payload) Dataset — the
    * spec drives this with REAL planted images; the registry query
    * reads the persisted hash table instead (dedupPhash above).
    */
  private[graft] def dedupPhashCore(ds: Dataset[(Long, Array[Byte])]): DataFrame =
    // (d) four plan legs (both band self-join sides + both verify
    // back-joins) read the hash table, and no exchange sits under the
    // decode+hash MapPartitions for them to share; an A/B over 4,000
    // generated images measured the pin faster than re-hashing per leg
    dedupPhashFromHashes(phashCore(ds).toDF("doc_id", "phash_hex").pinned())

  /** Banding + exact-Hamming verify over a hash table (doc_id,
    * phash_hex) — shared by the persisted-table query and the
    * planted-image spec path.
    */
  private def dedupPhashFromHashes(h: DataFrame): DataFrame = {
    val allBands = h.select(col("doc_id"), col("phash_hex"),
        explode(expr(s"sequence(0, ${PhashBands - 1})")).as("band"))
      .withColumn("bv", expr("substring(phash_hex, 1 + 2 * band, 2)"))
      .select("doc_id", "band", "bv")
    // hot-bucket cap (PhashBucketCap): one combining count per bucket,
    // flooded buckets never enter the self-join
    val keep = allBands.groupBy("band", "bv")
      .agg(count(lit(1)).as("n_in_bucket"))
      .where(col("n_in_bucket") <= PhashBucketCap)
      .select("band", "bv")
    val bands = allBands.join(keep, Seq("band", "bv"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(h.select(col("doc_id").as("doc_a"), col("phash_hex").as("ha")), "doc_a")
      .join(h.select(col("doc_id").as("doc_b"), col("phash_hex").as("hb")), "doc_b")
      .withColumn("hamming", expr(
        "CAST(aggregate(sequence(0, 15), 0, (acc, i) -> acc + bit_count(" +
          "(instr('0123456789abcdef', substring(ha, i + 1, 1)) - 1) ^ " +
          "(instr('0123456789abcdef', substring(hb, i + 1, 1)) - 1))) AS BIGINT)"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        (col("hamming") <= PhashMaxHamming).as("is_dup"))
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------- real-media fixture tier

  /** Expected decode facts for the MediaFixtures catalog — transcribed
    * from the GENERATOR'S parameters (sources/MediaFixtures.scala
    * assets()), not from running the decoder: width/height/channels/
    * rate/bits/frames/duration are the numbers the parser must RECOVER
    * from the bytes; n_bytes is format-spec size math (e.g. BMP 54 +
    * 4-aligned-stride × height). These rows feed both the DuckDB oracle
    * (as VALUES literals) and MultimodalSpec's real-branch assertions,
    * closing the r12 gap where every green q_mm_* row validated only
    * the md5-stub path.
    */
  private[graft] lazy val mediaImageExpected: Seq[(Long, Long, Int, Int, Int, String)] = Seq(
    (1L, 16114L, 97, 55, 3, "bmp"),   // 54 + ((97·3+3)/4·4=292)·55
    (2L, 12342L, 64, 64, 3, "bmp"),
    (3L, 1590L, 32, 16, 3, "bmp"),    // top-down (negative biHeight)
    (4L, 626L, 20, 10, 3, "bmp"),     // BITMAPCOREHEADER: 26 + 60·10
    (5L, 16018L, 97, 55, 3, "ppm"),   // 13-byte header + 97·55·3
    (6L, 706L, 33, 21, 1, "ppm"),     // P5
    (7L, 190L, 5, 4, 3, "ppm"),       // P3 ascii raster
    (8L, 74L, 7, 3, 1, "ppm"),        // P2 ascii raster
    // PNG sizes are spec math now that IDAT is stored-block deflate:
    // 57 byte shell (sig 8 + IHDR 25 + IDAT framing 12 + IEND 12) +
    // zlib 2+5·1+adler 4 + raw h·(1 + w·bpp)
    (9L, 4708L, 48, 32, 3, "png"),    // 57 + 11 + 32·145
    (10L, 1108L, 16, 16, 4, "png"),   // RGBA: 57 + 11 + 16·65
    (11L, 140L, 8, 8, 1, "png"),      // grayscale: 57 + 11 + 8·9
    (12L, 20L, 120, 80, 3, "gif"),    // 89a
    (13L, 20L, 40, 30, 3, "gif"),     // 87a
    (14L, 41L, 200, 150, 3, "jpeg"),  // SOF0 baseline
    (15L, 35L, 32, 24, 1, "jpeg"),    // SOF2 progressive, grayscale
    // 16-19 carry real entropy-coded payloads (ImageIO LZW/Huffman):
    // w/h/channels stay generator literals the parser must recover,
    // but n_bytes is ENCODER-determined, so it's read from the
    // generated bytes (deterministic per JVM; the spec-math rule only
    // applies where the spec fixes the length)
    (16L, fixtureLen(16L), 31, 19, 3, "gif"),   // real LZW frame
    (17L, fixtureLen(17L), 12, 8, 3, "gif"),
    (18L, fixtureLen(18L), 24, 16, 3, "jpeg"),  // real baseline scan
    (19L, fixtureLen(19L), 17, 11, 3, "jpeg"),
    // PNG variants. 35/36 are hand-assembled with
    // stored-block deflate, so n_bytes is spec math again: 16-bit gray
    // = 57-byte shell + zlib 11 + h·(1+2w); paletted adds the 780-byte
    // PLTE chunk with raw h·(1+w). 37 is ImageIO-encoded (Adam7), so
    // its length is encoder-determined (the gifRaster rule). channels
    // transcribes IHDR samples-per-pixel: 1 for gray AND palette
    // indices (parseImageHeader's contract).
    (35L, 329L, 14, 9, 1, "png"),    // 57 + 11 + 9·29
    (36L, 1134L, 21, 13, 1, "png"),  // 57 + 780 + 11 + 13·22
    (37L, fixtureLen(37L), 26, 17, 1, "png"))

  /** Byte lengths of the entropy-coded fixtures — the one catalog field
    * the format spec does not determine (LZW/Huffman output length).
    */
  private lazy val fixtureLens: Map[Long, Long] =
    graft.sources.MediaFixtures.assets()
      .map { case (id, _, p) => id -> p.length.toLong }.toMap
  private def fixtureLen(id: Long): Long = fixtureLens(id)

  private[graft] val mediaAudioExpected: Seq[(Long, Long, Int, Int, Int, Long, Long, String)] = Seq(
    // (id, n_bytes, channels, rate, bits, frames, duration_ms, decoder)
    (20L, 6444L, 2, 8000, 16, 1600L, 200L, "wav"),  // 44 + 1600·2·2
    (21L, 4454L, 1, 44100, 8, 4410L, 100L, "wav"),
    (22L, 1624L, 1, 16000, 16, 800L, 50L, "au"),    // linear PCM
    (23L, 824L, 2, 8000, 8, 400L, 50L, "au"))       // µ-law

  /** Expected q_mm_resize_media rows. Unlike the dims catalogs above,
    * px_sum/px_wsum are NOT hand-transcribable — they are the 16×16
    * nearest-neighbor resample checksums of the decoded rasters. Their
    * independence from the decoder is established by MediaWitnessSpec,
    * which recomputes both sums from ImageIO-decoded pixels (a decoder
    * this repo did not write) with its own resize loop and asserts
    * equality against these literals for every BMP/PNG asset, and
    * crosses the netpbm assets through same-scene BMP witnesses.
    * Asset 5 equaling asset 1 (32026/4135238) is the cross-container
    * identity: same scene through two container formats.
    */
  private[graft] lazy val mediaResizeExpected: Seq[(Long, Int, Int, Int, Int, Long, Long, String)] = Seq(
    (1L, 97, 55, 16, 16, 32026L, 4135238L, "bmp"),
    (2L, 64, 64, 16, 16, 31849L, 4051715L, "bmp"),
    (3L, 32, 16, 16, 16, 26195L, 3627777L, "bmp"),   // top-down
    (4L, 20, 10, 16, 16, 21046L, 3111310L, "bmp"),   // BITMAPCOREHEADER
    (5L, 97, 55, 16, 16, 32026L, 4135238L, "ppm"),   // ≡ asset 1 scene
    (6L, 33, 21, 16, 16, 28485L, 3994960L, "ppm"),   // P5
    (7L, 5, 4, 16, 16, 8208L, 1204460L, "ppm"),      // P3 ascii
    (8L, 7, 3, 16, 16, 8908L, 1258762L, "ppm"),      // P2 ascii
    (9L, 48, 32, 16, 16, 34633L, 4729713L, "png"),   // RGB
    (10L, 16, 16, 16, 16, 25886L, 3772939L, "png"),  // RGBA
    (11L, 8, 8, 16, 16, 15780L, 2339502L, "png"),    // grayscale
    (12L, 120, 80, 16, 16, -1L, -1L, "no-raster:gif"),   // zero-image container
    (13L, 40, 30, 16, 16, -1L, -1L, "no-raster:gif"),
    (14L, 200, 150, 16, 16, -1L, -1L, "no-raster:jpeg"), // header-only, no scan
    (15L, 32, 24, 16, 16, -1L, -1L, "no-raster:jpeg"),
    // 16/17: real LZW GIF through the ImageIO branch. LOSSLESS +
    // identity gray palette ⇒ the checksums are pure generator math
    // (resize16 over sceneGray), computed here independent of any
    // decoder — the decode pipeline must land on them exactly.
    gifResizeRow(16L, 31, 19, seed = 16),
    gifResizeRow(17L, 12, 8, seed = 17),
    // 18/19: real baseline JPEG — LOSSY, so these are DECODER-EXACT
    // pins (the JDK decoder's output, deterministic per JVM build);
    // semantic correctness vs the generator scene is the tolerance
    // witness in MediaWitnessSpec, not these literals.
    (18L, 24, 16, 16, 16, 22328L, 3554843L, "jpeg-imageio"),
    (19L, 17, 11, 16, 16, 22053L, 3546525L, "jpeg-imageio"),
    // 35-37: the PNG variants through the ImageIO fallback. All three
    // are LOSSLESS encodings of the scene grays (16-bit stores v·257 —
    // the downshift recovers v; the palette is identity gray; Adam7
    // reorders, never alters, samples), so like the GIF rows the
    // checksums are pure generator math, independent of any decoder.
    sceneResizeRow(35L, 14, 9, seed = 35, "png-imageio"),
    sceneResizeRow(36L, 21, 13, seed = 36, "png-imageio"),
    sceneResizeRow(37L, 26, 17, seed = 37, "png-imageio"))

  private def sceneResizeRow(id: Long, w: Int, h: Int, seed: Int, label: String)
      : (Long, Int, Int, Int, Int, Long, Long, String) = {
    val g = Array.tabulate(w * h)(k =>
      graft.sources.MediaFixtures.sceneGray(seed)(k % w, k / w))
    val (s1, s2) = resize16(w, h, g)
    (id, w, h, 16, 16, s1, s2, label)
  }

  private def gifResizeRow(id: Long, w: Int, h: Int, seed: Int)
      : (Long, Int, Int, Int, Int, Long, Long, String) =
    sceneResizeRow(id, w, h, seed, "gif-imageio")

  private[graft] val mediaVideoExpected: Seq[(Long, Long, Int, Int, Long, String)] = Seq(
    // (id, n_bytes, width, height, duration_ms, decoder)
    (30L, 312L, 320, 240, 5000L, "mp4"),   // v0 boxes: 5000/1000 ts
    (31L, 336L, 640, 360, 5000L, "mp4"),   // v1 (64-bit) boxes: 450000/90000 ts
    (32L, 212L, 0, 0, 2056L, "mp4"),       // audio-only: no tkhd, 1234·1000/600
    (33L, 124L, 720, 480, 9999L, "avi"),   // 300 frames · 33333 µs/frame
    (34L, 124L, 160, 120, 10000L, "avi"))

  /** q_mm_decode_media — image decode over the persisted REAL-media
    * fixture table: every row takes the actual header-parse branch
    * (decoder ∈ bmp/ppm/png/gif/jpeg, never 'stub-md5'), checked against
    * the generator's parameters by the DuckDB literal mirror. The plan
    * is the production one: binary column scanned from parquet →
    * per-partition mapPartitions decode.
    */
  def decodeMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decodeCore(graft.sources.MediaFixtures.table(s, d)
        .where(col("kind") === "image")
        .select(col("media_id"), col("payload")).as[(Long, Array[Byte])])
      .toDF()
      .select(col("doc_id").as("media_id"), col("n_bytes"), col("width"),
        col("height"), col("channels"), col("decoder"))
      .orderBy("media_id")
  }

  /** q_mm_audio_media — WAV/AU decode over the real-media fixture table
    * (the audio leg of the real-branch evidence).
    */
  def audioMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioCore(graft.sources.MediaFixtures.table(s, d)
        .where(col("kind") === "audio")
        .select(col("media_id"), col("payload")).as[(Long, Array[Byte])])
      .toDF()
      .select(col("doc_id").as("media_id"), col("n_bytes"), col("n_channels"),
        col("sample_rate_hz"), col("bits_per_sample"), col("n_frames"),
        col("duration_ms"), col("decoder"))
      .orderBy("media_id")
  }

  /** q_mm_video_media — MP4/AVI container decode over the real-media
    * fixture table (v0 + v1 ISO-BMFF boxes, audio-only, RIFF AVI).
    */
  def videoMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoCore(graft.sources.MediaFixtures.table(s, d)
        .where(col("kind") === "video")
        .select(col("media_id"), col("payload")).as[(Long, Array[Byte])])
      .toDF()
      .select(col("doc_id").as("media_id"), col("n_bytes"), col("width"),
        col("height"), col("duration_ms"), col("decoder"))
      .orderBy("media_id")
  }

  /** Nearest-neighbor 16×16 grayscale thumbnail of a raster, reduced to
    * two order-sensitive checksums: px_sum = Σ g[i] and px_wsum =
    * Σ g[i]·(i+1) over the 256 output pixels row-major. The sampling
    * rule is plain index scaling (srcX = x·W/16, srcY = y·H/16, floor)
    * — stated here because MediaWitnessSpec recomputes it independently
    * over ImageIO-decoded pixels. Weighted sum catches transpositions a
    * plain sum cannot.
    */
  private[graft] def resize16(w: Int, h: Int, g: Array[Int]): (Long, Long) = {
    var sum = 0L; var wsum = 0L
    var i = 0
    var y = 0
    while (y < 16) {
      // Index math in Long (the BMP stride precedent): with extreme
      // aspect ratios under the pixel cap (e.g. w = 2^28, h = 1),
      // x*w overflows Int and would throw an uncaught AIOOBE inside
      // resizeMedia's mapPartitions instead of falling back.
      val sy = (y.toLong * h / 16).toInt
      var x = 0
      while (x < 16) {
        val v = g((sy.toLong * w + x.toLong * w / 16).toInt)
        i += 1
        sum += v
        wsum += v.toLong * i
        x += 1
      }
      y += 1
    }
    (sum, wsum)
  }

  case class ResizedMedia(media_id: Long, in_w: Int, in_h: Int,
                          out_w: Int, out_h: Int,
                          px_sum: Long, px_wsum: Long, decoder: String)

  /** q_mm_resize_media — REAL pixel resize over the persisted media
    * fixture table: every codec-free raster (24-bpp BMP incl.
    * BITMAPCOREHEADER, all four netpbm forms, 8-bit non-interlaced PNG
    * through the JDK-zlib inflate + unfilter path) is grayscale-decoded
    * and nearest-neighbor-resampled to a 16×16 thumbnail, emitted as
    * two order-sensitive checksums the DuckDB VALUES mirror pins
    * literal-exactly. Entropy-coded containers (GIF LZW, JPEG scans)
    * decode through the JDK ImageIO branch (imageIoGrayDecode, decoder
    * label '<fmt>-imageio'); only containers with no raster at all
    * (zero-image GIF, header-only JPEG) emit 'no-raster:<fmt>' with -1
    * sums, keeping the honest boundary observable in the output. The
    * upstream r12→r13 stub gap ends here: decode dims, audio/video
    * metadata AND pixel math all run real branches on real persisted
    * bytes, across every raster format the generator emits.
    */
  def resizeMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.sources.MediaFixtures.table(s, d)
      .where(col("kind") === "image")
      .select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val (w, h, _, label) = parseImageHeader(p).getOrElse((0, 0, 0, "unknown"))
          grayPixels(p) match {
            case Some((gw, gh, g)) =>
              val (s1, s2) = resize16(gw, gh, g)
              ResizedMedia(id, gw, gh, 16, 16, s1, s2, label)
            case None =>
              // entropy-coded containers: JDK ImageIO branch; the
              // `-imageio` suffix keeps which decoder ran observable
              imageIoGrayDecode(p) match {
                case Some((gw, gh, g)) =>
                  val (s1, s2) = resize16(gw, gh, g)
                  ResizedMedia(id, gw, gh, 16, 16, s1, s2, s"$label-imageio")
                case None =>
                  ResizedMedia(id, w, h, 16, 16, -1L, -1L, s"no-raster:$label")
              }
          }
        }
      }
      .toDF()
      .select(col("media_id"), col("in_w"), col("in_h"), col("out_w"),
        col("out_h"), col("px_sum"), col("px_wsum"), col("decoder"))
      .orderBy("media_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mm_decode"       -> (decode _),
    "q_dedup_phash"     -> (dedupPhash _),
    "q_mm_audio"        -> (audio _),
    "q_mm_video"        -> (video _),
    "q_mm_resize"       -> (resize _),
    "q_mm_frame_sample" -> (frameSample _),
    "q_mm_feature"      -> (features _),
    "q_mm_decode_media" -> (decodeMedia _),
    "q_mm_audio_media"  -> (audioMedia _),
    "q_mm_video_media"  -> (videoMedia _),
    "q_mm_resize_media" -> (resizeMedia _),
  )

  // VALUES bodies for the real-media literal mirrors — one shared row
  // rendering per tier, wrapped in each engine's inline-table syntax
  private def imageValues: String = mediaImageExpected
    .map { case (id, nb, w, h, c, dec) => s"($id, $nb, $w, $h, $c, '$dec')" }
    .mkString(", ")
  private def audioValues: String = mediaAudioExpected
    .map { case (id, nb, ch, r, b, f, dur, dec) =>
      s"($id, $nb, $ch, $r, $b, $f, $dur, '$dec')" }
    .mkString(", ")
  private def videoValues: String = mediaVideoExpected
    .map { case (id, nb, w, h, dur, dec) => s"($id, $nb, $w, $h, $dur, '$dec')" }
    .mkString(", ")
  private def resizeValues: String = mediaResizeExpected
    .map { case (id, iw, ih, ow, oh, s1, s2, dec) =>
      s"($id, $iw, $ih, $ow, $oh, $s1, $s2, '$dec')" }
    .mkString(", ")

  private val hx = "instr('0123456789abcdef', substr(md5(coalesce(text, '')), %d, 1)) - 1"
  private val widthSql = s"CAST(320 + 16 * (${hx.format(1)}) + (${hx.format(2)}) AS INTEGER)"
  private val heightSql = s"CAST(240 + 16 * (${hx.format(3)}) + (${hx.format(4)}) AS INTEGER)"

  // The stub-decoder mirrors, shared by the oracle and the Spark-SQL
  // surface: `blob` is the dialect's UTF-8 bytes of coalesce(text, ''),
  // `div` its integer division.
  private val duckBlob = "encode(coalesce(text, ''))"
  private val sparkBlob = "CAST(coalesce(text, '') AS BINARY)"
  private def stubHead(blob: String) =
    s"SELECT doc_id, CAST(octet_length($blob) AS BIGINT) AS n_bytes, " +
      "md5(coalesce(text, '')) AS content_md5, "
  private val stubTail = "'stub-md5' AS decoder " +
    "FROM documents ORDER BY doc_id"
  private def decodeSql(blob: String) =
    stubHead(blob) + s"$widthSql AS width, $heightSql AS height, " +
      s"CAST(1 + (${hx.format(5)}) % 3 AS INTEGER) AS channels, " + stubTail
  private def audioSql(blob: String, div: String) = {
    val rate = s"8000 * (1 + (16 * (${hx.format(1)}) + (${hx.format(2)})) % 6)"
    stubHead(blob) + s"CAST(1 + (${hx.format(3)}) % 2 AS INTEGER) AS n_channels, " +
      s"CAST($rate AS INTEGER) AS sample_rate_hz, " +
      s"CAST(8 * (1 + (${hx.format(4)}) % 2) AS INTEGER) AS bits_per_sample, " +
      s"CAST(octet_length($blob) AS BIGINT) AS n_frames, " +
      s"CAST(CAST(octet_length($blob) AS BIGINT) * 1000 $div " +
      s"($rate) AS BIGINT) AS duration_ms, " + stubTail
  }
  private def videoSql(blob: String, div: String) =
    stubHead(blob) + s"$widthSql AS width, $heightSql AS height, " +
      s"CAST(40 * ((octet_length($blob) + 99) $div 100) AS BIGINT) AS duration_ms, " + stubTail

  // phash candidate pairs: docs sharing a capped (band, bv) bucket of `ab`
  private val phashCand =
    "keep AS (SELECT band, bv FROM ab GROUP BY band, bv " +
      s"HAVING count(*) <= $PhashBucketCap), " +
      "b AS (SELECT ab.* FROM ab JOIN keep ON ab.band = keep.band AND ab.bv = keep.bv), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b " +
      "FROM b a JOIN b c ON a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id)"

  val oracle: Map[String, String] = Map(
    // decoder is constant 'stub-md5' in the mirror: the text corpus has
    // no image-magic payloads (asserted per-SF by MultimodalSpec), so
    // the real header-parse path never fires on the fixture tables
    "q_mm_decode" -> decodeSql(duckBlob),
    // same stub premise: no codec-free image payloads in the text
    // corpus, so every phash is the md5 prefix the mirror recomputes;
    // the REAL aHash path is pinned by MultimodalSpec's planted images
    "q_dedup_phash" ->
      (s"WITH h AS (SELECT doc_id, substr(md5(coalesce(text, '')), 1, 16) AS ph FROM documents), " +
        s"ab AS (SELECT doc_id, i AS band, substr(ph, 1 + 2 * i, 2) AS bv " +
        s"FROM h CROSS JOIN range($PhashBands) t(i)), " +
        s"$phashCand, " +
        "ham AS (SELECT c.doc_a, c.doc_b, " +
        "CAST(sum(bit_count(xor(strpos('0123456789abcdef', substr(ha.ph, i + 1, 1)) - 1, " +
        "strpos('0123456789abcdef', substr(hb.ph, i + 1, 1)) - 1))) AS BIGINT) AS hamming " +
        "FROM cand c JOIN h ha ON ha.doc_id = c.doc_a JOIN h hb ON hb.doc_id = c.doc_b " +
        "CROSS JOIN range(16) t(i) GROUP BY c.doc_a, c.doc_b) " +
        s"SELECT doc_a, doc_b, hamming, hamming <= $PhashMaxHamming AS is_dup " +
        "FROM ham ORDER BY doc_a, doc_b"),
    // constant-decoder premise as q_mm_decode: the text corpus has no
    // RIFF/".snd" payloads (asserted per-SF), so only the stub fires
    "q_mm_audio" -> audioSql(duckBlob, "//"),
    // same constant-decoder premise: no ftyp/RIFF-AVI payloads in the
    // text corpus (asserted per-SF), so only the stub fires
    "q_mm_video" -> videoSql(duckBlob, "//"),
    "q_mm_resize" ->
      (s"WITH dims AS (SELECT doc_id, $widthSql AS width, $heightSql AS height FROM documents), " +
        "sc AS (SELECT *, least(CAST(224 AS DOUBLE) / width, CAST(224 AS DOUBLE) / height) AS scale FROM dims) " +
        "SELECT doc_id, width, height, " +
        "CAST(floor(width * scale) AS INTEGER) AS out_w, " +
        "CAST(floor(height * scale) AS INTEGER) AS out_h " +
        "FROM sc ORDER BY doc_id"),
    "q_mm_frame_sample" ->
      ("WITH f AS (SELECT doc_id, " +
        "CAST((octet_length(encode(coalesce(text, ''))) + 99) // 100 AS BIGINT) AS n_frames FROM documents) " +
        "SELECT doc_id, n_frames, CAST(unnest(generate_series(0, n_frames - 1, 10)) AS BIGINT) AS frame_no " +
        "FROM f ORDER BY doc_id, frame_no"),
    // Real-media tier: the mirror is the GENERATOR's parameter table as
    // literals — the decode branch must recover exactly these numbers
    // from the persisted bytes, and a stub fallthrough ('stub-md5' in
    // the decoder column, or md5-derived dims) hash-mismatches the row.
    "q_mm_decode_media" ->
      (s"SELECT * FROM (VALUES $imageValues) AS " +
        "t(media_id, n_bytes, width, height, channels, decoder) ORDER BY media_id"),
    "q_mm_audio_media" ->
      (s"SELECT * FROM (VALUES $audioValues) AS " +
        "t(media_id, n_bytes, n_channels, sample_rate_hz, bits_per_sample, " +
        "n_frames, duration_ms, decoder) ORDER BY media_id"),
    "q_mm_video_media" ->
      (s"SELECT * FROM (VALUES $videoValues) AS " +
        "t(media_id, n_bytes, width, height, duration_ms, decoder) ORDER BY media_id"),
    // px_sum/px_wsum literals: the 16×16 resample checksums ImageIO
    // independently reproduces in MediaWitnessSpec — a decoder bug
    // (wrong filter reconstruction, row order, stride) shifts both
    "q_mm_resize_media" ->
      (s"SELECT * FROM (VALUES $resizeValues) AS " +
        "t(media_id, in_w, in_h, out_w, out_h, px_sum, px_wsum, decoder) ORDER BY media_id"),
    // byte ≡ char here: the corpus is pure ASCII (verified: octet_length
    // = length for every doc), so ord(char)//32 mirrors (byte & 0xFF)>>5;
    // left join keeps zero-byte docs with all-zero features
    "q_mm_feature" -> {
      val bins = (0 until 8)
        .map(b => s"count(*) FILTER (WHERE code // 32 = $b) AS h$b").mkString(", ")
      s"WITH ch AS (SELECT doc_id, ord(unnest(regexp_extract_all(text, '[\\s\\S]'))) AS code " +
        "FROM documents), " +
        s"b AS (SELECT doc_id, CAST(count(DISTINCT code) AS BIGINT) AS nd, $bins " +
        "FROM ch GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(octet_length(encode(coalesce(d.text, ''))) AS BIGINT) AS n_bytes, " +
        "coalesce(b.nd, 0) AS n_distinct_bytes, " +
        (0 until 8).map(i => s"coalesce(b.h$i, 0) AS h$i").mkString(", ") + " " +
        "FROM documents d LEFT JOIN b ON b.doc_id = d.doc_id ORDER BY d.doc_id"
    },
  )

  /** Spark-dialect SQL surface overrides (SqlSurface). DuckDB's 1-arg
    * encode(coalesce(text, '')) (string → UTF-8 blob) → CAST(coalesce(text, '') AS BINARY);
    * ord(unnest(...)) → ascii over an exploded char array; `//` → DIV.
    * The hex-digit width/height/channels formulas run unchanged —
    * instr/substr/md5 agree between the engines.
    */
  val sparkSql: Map[String, String] = Map(
    "q_dedup_phash" ->
      ("WITH h AS (SELECT doc_id, substring(md5(coalesce(text, '')), 1, 16) AS ph FROM documents), " +
        "ab AS (SELECT doc_id, band, substring(ph, 1 + 2 * band, 2) AS bv " +
        s"FROM h LATERAL VIEW explode(sequence(0, ${PhashBands - 1})) t AS band), " +
        s"$phashCand, " +
        "j AS (SELECT c.doc_a, c.doc_b, ha.ph AS pa, hb.ph AS pb " +
        "FROM cand c JOIN h ha ON ha.doc_id = c.doc_a JOIN h hb ON hb.doc_id = c.doc_b), " +
        "ham AS (SELECT doc_a, doc_b, " +
        "CAST(aggregate(sequence(0, 15), 0, (acc, i) -> acc + bit_count(" +
        "(instr('0123456789abcdef', substring(pa, i + 1, 1)) - 1) ^ " +
        "(instr('0123456789abcdef', substring(pb, i + 1, 1)) - 1))) AS BIGINT) AS hamming " +
        "FROM j) " +
        s"SELECT doc_a, doc_b, hamming, hamming <= $PhashMaxHamming AS is_dup " +
        "FROM ham ORDER BY doc_a, doc_b"),
    "q_mm_decode" -> decodeSql(sparkBlob),
    "q_mm_audio" -> audioSql(sparkBlob, "DIV"),
    "q_mm_video" -> videoSql(sparkBlob, "DIV"),
    "q_mm_frame_sample" ->
      ("WITH f AS (SELECT doc_id, " +
        "CAST((octet_length(CAST(coalesce(text, '') AS BINARY)) + 99) DIV 100 AS BIGINT) AS n_frames FROM documents) " +
        "SELECT doc_id, n_frames, " +
        "explode(sequence(CAST(0 AS BIGINT), n_frames - 1, CAST(10 AS BIGINT))) AS frame_no " +
        "FROM f ORDER BY doc_id, frame_no"),
    // Spark's inline-table syntax: FROM VALUES ... AS t(...), no parens
    "q_mm_decode_media" ->
      (s"SELECT * FROM VALUES $imageValues AS " +
        "t(media_id, n_bytes, width, height, channels, decoder) ORDER BY media_id"),
    "q_mm_audio_media" ->
      (s"SELECT * FROM VALUES $audioValues AS " +
        "t(media_id, n_bytes, n_channels, sample_rate_hz, bits_per_sample, " +
        "n_frames, duration_ms, decoder) ORDER BY media_id"),
    "q_mm_video_media" ->
      (s"SELECT * FROM VALUES $videoValues AS " +
        "t(media_id, n_bytes, width, height, duration_ms, decoder) ORDER BY media_id"),
    "q_mm_resize_media" ->
      (s"SELECT * FROM VALUES $resizeValues AS " +
        "t(media_id, in_w, in_h, out_w, out_h, px_sum, px_wsum, decoder) ORDER BY media_id"),
    "q_mm_feature" -> {
      val bins = (0 until 8)
        .map(b => s"count(*) FILTER (WHERE code DIV 32 = $b) AS h$b").mkString(", ")
      s"WITH ch AS (SELECT doc_id, ascii(c) AS code FROM " +
        "(SELECT doc_id, explode(regexp_extract_all(text, '[\\\\s\\\\S]', 0)) AS c FROM documents)), " +
        s"b AS (SELECT doc_id, CAST(count(DISTINCT code) AS BIGINT) AS nd, $bins " +
        "FROM ch GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(octet_length(CAST(coalesce(d.text, '') AS BINARY)) AS BIGINT) AS n_bytes, " +
        "coalesce(b.nd, CAST(0 AS BIGINT)) AS n_distinct_bytes, " +
        (0 until 8).map(i => s"coalesce(b.h$i, CAST(0 AS BIGINT)) AS h$i").mkString(", ") + " " +
        "FROM documents d LEFT JOIN b ON b.doc_id = d.doc_id ORDER BY d.doc_id"
    },
  )
}

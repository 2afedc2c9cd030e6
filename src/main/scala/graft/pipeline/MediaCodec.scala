package graft.pipeline

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.zip.CRC32

/** Pure-JVM media HEADER codecs — real byte-layout parsing from the public
  * format specs (no media libraries exist in this sandbox, and none are
  * needed for header-level metadata):
  *
  *  - PNG: 8-byte signature + IHDR chunk (width/height as big-endian u32 at
  *    offsets 16/20), CRC32 of the IHDR chunk verified (ISO/IEC 15948 §5).
  *  - GIF: "GIF87a"/"GIF89a" + logical screen descriptor (width/height as
  *    little-endian u16 at offsets 6/8) (GIF89a spec §18).
  *  - JPEG: marker-segment walk from SOI to the first SOFn (C0-CF minus
  *    C4/C8/CC), height/width as big-endian u16 at SOF payload offsets 3/5
  *    (ITU T.81 §B.2.2); segments are skipped by their length field, so
  *    payload bytes that LOOK like markers can't fool the walk.
  *  - PDF: page count read from the page-tree root's `/Count` entry
  *    (the `/Type /Pages` node, ISO 32000-1 §7.7.3.2) — header-level
  *    layout parse; full text/layout extraction would need a real PDF
  *    library and stays out of scope.
  *
  * The builders synthesize byte-faithful files with an opaque payload
  * (PNG IDAT body / GIF comment extension / JPEG COM segments / PDF stream
  * object), so synth -> parse round-trips dims/page-counts through the real
  * byte layout, and container overhead is exact arithmetic an external SQL
  * oracle can replay.
  */
object MediaCodec {

  /** Decoded-size cap in bytes per image, PDF stream or archive: a forged
    * header or a compression bomb must not take the task's memory. The
    * PNG, GIF, JPEG, PDF and WARC decoders check against it. */
  final val MaxDecodedBytes: Int = 64 << 20

  /** Header-level metadata: width/height for raster images (0 for PDF),
    * nPages for PDF (0 for images); sampleRate/channels/durationMs for
    * audio (WAV) and durationMs for video (MP4), 0 elsewhere. */
  final case class MediaInfo(format: String, width: Int, height: Int, nPages: Int,
                             sampleRate: Int = 0, channels: Int = 0, durationMs: Long = 0)

  // ------------------------------------------------------------- helpers

  private def be32(out: ByteArrayOutputStream, v: Long): Unit = {
    out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
    out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
  }
  private def rdBe32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def rdBe16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def rdLe16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  // ------------------------------------------------------------- builders

  private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Container overhead in bytes over the payload, per format — the exact
    * arithmetic the external oracle replays (kept next to the builders so
    * they cannot drift). PNG: 8 sig + 25 IHDR + (12 + n) IDAT + 12 IEND.
    * GIF: 13 header/LSD + 2 comment intro + ceil(n/255) sub-block length
    * bytes + 1 terminator + 1 trailer. JPEG: 2 SOI + 18 APP0 + 13 SOF0 +
    * 4 per COM segment (ceil(n/65533)) + 2 EOI. */
  def pngBytes(n: Long): Long = 57 + n
  def gifBytes(n: Long): Long = 17 + n + (n + 254) / 255
  def jpegBytes(n: Long): Long = 35 + n + 4 * ((n + 65532) / 65533)

  /** Truecolor 8-bit PNG with `payload` as the (opaque) IDAT body. */
  def buildPng(w: Int, h: Int, payload: Array[Byte]): Array[Byte] =
    buildPng(w, h, payload, interlace = 0)

  def buildPng(w: Int, h: Int, payload: Array[Byte], interlace: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 64)
    out.write(PngSig, 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      be32(out, data.length.toLong)
      val tb = typ.getBytes(US_ASCII)
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new CRC32
      crc.update(tb); crc.update(data)
      be32(out, crc.getValue)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = 2 // bit depth 8, truecolor
    ihdr(12) = interlace.toByte // 0 = sequential, 1 = Adam7
    chunk("IHDR", ihdr)
    chunk("IDAT", payload)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** GIF89a with `payload` carried in a comment extension (255-byte
    * sub-blocks), no global color table. */
  def buildGif(w: Int, h: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 32)
    out.write("GIF89a".getBytes(US_ASCII), 0, 6)
    out.write(w & 0xff); out.write((w >>> 8) & 0xff)
    out.write(h & 0xff); out.write((h >>> 8) & 0xff)
    out.write(0); out.write(0); out.write(0) // no GCT, bg 0, aspect 0
    out.write(0x21); out.write(0xfe) // comment extension
    var i = 0
    while (i < payload.length) {
      val k = math.min(255, payload.length - i)
      out.write(k)
      out.write(payload, i, k)
      i += k
    }
    out.write(0) // sub-block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Baseline JFIF JPEG: SOI, APP0, SOF0 (1 component), `payload` split
    * into <=65533-byte COM segments, EOI. */
  def buildJpeg(w: Int, h: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 48)
    out.write(0xff); out.write(0xd8) // SOI
    out.write(0xff); out.write(0xe0) // APP0
    out.write(0x00); out.write(0x10) // len 16
    out.write("JFIF".getBytes(US_ASCII), 0, 4); out.write(0)
    out.write(1); out.write(1) // version 1.1
    out.write(0) // units
    out.write(0); out.write(1); out.write(0); out.write(1) // density 1x1
    out.write(0); out.write(0) // no thumbnail
    out.write(0xff); out.write(0xc0) // SOF0
    out.write(0x00); out.write(0x0b) // len 11
    out.write(8) // precision
    out.write((h >>> 8) & 0xff); out.write(h & 0xff)
    out.write((w >>> 8) & 0xff); out.write(w & 0xff)
    out.write(1) // 1 component
    out.write(1); out.write(0x11); out.write(0) // id, 1x1 sampling, qtable 0
    var i = 0
    while (i < payload.length) {
      val k = math.min(65533, payload.length - i)
      out.write(0xff); out.write(0xfe) // COM
      out.write(((k + 2) >>> 8) & 0xff); out.write((k + 2) & 0xff)
      out.write(payload, i, k)
      i += k
    }
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Minimal well-formed PDF: catalog, page-tree root with /Count, one
    * empty page object per page, payload as a stream object. */
  def buildPdf(nPages: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 128)
    def s(x: String): Unit = { val b = x.getBytes(US_ASCII); out.write(b, 0, b.length) }
    s("%PDF-1.4\n")
    s("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    val kids = (0 until nPages).map(p => s"${3 + p} 0 R").mkString(" ")
    s(s"2 0 obj << /Type /Pages /Count $nPages /Kids [$kids] >> endobj\n")
    for (p <- 0 until nPages)
      s(s"${3 + p} 0 obj << /Type /Page /Parent 2 0 R >> endobj\n")
    s(s"${3 + nPages} 0 obj << /Length ${payload.length} >> stream\n")
    out.write(payload, 0, payload.length)
    s("\nendstream endobj\n%%EOF\n")
    out.toByteArray
  }

  /** PCM WAV (RIFF) with `payload` as the data chunk: 12-byte RIFF/WAVE
    * header + 24-byte fmt chunk + 8-byte data chunk header = 44 bytes of
    * container (the canonical WAV overhead). 16-bit PCM. */
  def wavBytes(n: Long): Long = 44 + n
  def buildWav(sampleRate: Int, channels: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(payload.length + 48)
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    out.write("RIFF".getBytes(US_ASCII), 0, 4)
    le32(36L + payload.length)
    out.write("WAVE".getBytes(US_ASCII), 0, 4)
    out.write("fmt ".getBytes(US_ASCII), 0, 4)
    le32(16) // PCM fmt chunk size
    le16(1) // audio format: PCM
    le16(channels)
    le32(sampleRate.toLong)
    le32(sampleRate.toLong * channels * 2) // byte rate, 16-bit samples
    le16(channels * 2) // block align
    le16(16) // bits per sample
    out.write("data".getBytes(US_ASCII), 0, 4)
    le32(payload.length.toLong)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** Minimal ISO-BMFF MP4: ftyp box (20 B) + moov box holding one mvhd
    * full box (116 B for version 0, 128 B for version 1) + mdat box with
    * `payload` (8 B header) = 144 (v0) / 156 (v1) bytes of container.
    * The mvhd carries timescale + duration (ISO/IEC 14496-12 §8.2.2:
    * v0 = 32-bit times, v1 = 64-bit creation/modification/duration —
    * the layout long-form or post-2038 files use). */
  def mp4Bytes(n: Long): Long = 144 + n
  def mp4BytesV1(n: Long): Long = 156 + n
  def buildMp4(timescale: Int, duration: Long, payload: Array[Byte],
               version: Int = 0): Array[Byte] = {
    require(version == 0 || version == 1, s"mvhd version must be 0 or 1, got $version")
    val out = new ByteArrayOutputStream(payload.length + 176)
    def box(typ: String, body: Array[Byte]): Unit = {
      be32(out, 8L + body.length)
      out.write(typ.getBytes(US_ASCII), 0, 4)
      out.write(body, 0, body.length)
    }
    box("ftyp", "isom".getBytes(US_ASCII) ++ Array[Byte](0, 0, 0, 0) ++ "isom".getBytes(US_ASCII))
    def be32At(b: Array[Byte], i: Int, v: Long): Unit = {
      b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
      b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
    }
    val mvhdBody =
      if (version == 0) {
        // ver/flags(4) ctime(4) mtime(4) timescale(4) duration(4) + rest
        val b = new Array[Byte](100)
        be32At(b, 12, timescale.toLong)
        be32At(b, 16, duration)
        b
      } else {
        // ver/flags(4) ctime(8) mtime(8) timescale(4) duration(8) + rest
        val b = new Array[Byte](112)
        b(0) = 1
        be32At(b, 20, timescale.toLong)
        be32At(b, 24, duration >>> 32)
        be32At(b, 28, duration & 0xffffffffL)
        b
      }
    val mvhd = new ByteArrayOutputStream(mvhdBody.length + 8)
    be32(mvhd, 8L + mvhdBody.length)
    mvhd.write("mvhd".getBytes(US_ASCII), 0, 4)
    mvhd.write(mvhdBody, 0, mvhdBody.length)
    box("moov", mvhd.toByteArray)
    box("mdat", payload)
    out.toByteArray
  }

  /** WebP container overhead per variant (RFC 9649 byte layout): RIFF
    * header 12 B, each chunk 8 B header + even-padded body. Lossy (VP8 )
    * carries a 10 B frame header before the payload; lossless (VP8L) a
    * 5 B signature+dims prefix; extended (VP8X) a fixed 10 B chunk with
    * the canvas size plus the payload in an XMP chunk. */
  def webpBytes(kind: Int, n: Long): Long = kind match {
    case 0 => 12 + 8 + 10 + n + (n & 1) // VP8 : header + tag/dims + data
    case 1 => 12 + 8 + 5 + n + ((n + 1) & 1) // VP8L: sig + packed dims
    case _ => 12 + 8 + 10 + 8 + n + (n & 1) // VP8X + XMP payload chunk
  }

  /** Minimal WebP of each of the three container variants real crawls
    * carry: kind 0 = lossy VP8 keyframe header (start code 9D 01 2A +
    * 14-bit LE dims), 1 = lossless VP8L (0x2F signature + LSB-packed
    * 14-bit dims), 2 = extended VP8X (24-bit LE canvas-minus-one dims,
    * payload carried in an XMP metadata chunk). The payload rides as
    * opaque coefficient/metadata bytes — header-level synthesis, same
    * contract as buildJpeg/buildWav. */
  def buildWebp(kind: Int, w: Int, h: Int, payload: Array[Byte]): Array[Byte] = {
    require(w >= 1 && h >= 1 && w <= 0x3fff && h <= 0x3fff, s"webp dims ${w}x$h")
    val out = new ByteArrayOutputStream(payload.length + 64)
    def fourcc(x: String): Unit = out.write(x.getBytes(US_ASCII), 0, 4)
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    def chunk(cc: String, body: Array[Byte]): Unit = {
      fourcc(cc); le32(body.length.toLong)
      out.write(body, 0, body.length)
      if ((body.length & 1) == 1) out.write(0) // RIFF even padding
    }
    val body = kind match {
      case 0 =>
        val b = new ByteArrayOutputStream(10 + payload.length)
        // 3-byte frame tag (keyframe, version 0, show_frame), then the
        // start code and the two 14-bit little-endian dimension fields
        b.write(0x10); b.write(0); b.write(0)
        b.write(0x9d); b.write(0x01); b.write(0x2a)
        b.write(w & 0xff); b.write((w >>> 8) & 0x3f)
        b.write(h & 0xff); b.write((h >>> 8) & 0x3f)
        b.write(payload, 0, payload.length)
        ("VP8 ", b.toByteArray)
      case 1 =>
        val b = new ByteArrayOutputStream(5 + payload.length)
        b.write(0x2f)
        val v = (w - 1).toLong | ((h - 1).toLong << 14) // then alpha 0, version 0
        b.write((v & 0xff).toInt); b.write(((v >>> 8) & 0xff).toInt)
        b.write(((v >>> 16) & 0xff).toInt); b.write(((v >>> 24) & 0xff).toInt)
        b.write(payload, 0, payload.length)
        ("VP8L", b.toByteArray)
      case _ =>
        val b = new Array[Byte](10) // flags(1) reserved(3) w-1(le24) h-1(le24)
        b(4) = ((w - 1) & 0xff).toByte; b(5) = (((w - 1) >>> 8) & 0xff).toByte
        b(6) = (((w - 1) >>> 16) & 0xff).toByte
        b(7) = ((h - 1) & 0xff).toByte; b(8) = (((h - 1) >>> 8) & 0xff).toByte
        b(9) = (((h - 1) >>> 16) & 0xff).toByte
        ("VP8X", b)
    }
    // RIFF size = everything after the 8-byte RIFF header
    val chunksLen = {
      val first = 8L + body._2.length + (body._2.length & 1)
      if (kind == 2) first + 8 + payload.length + (payload.length & 1) else first
    }
    fourcc("RIFF"); le32(4 + chunksLen); fourcc("WEBP")
    chunk(body._1, body._2)
    if (kind == 2) chunk("XMP ", payload)
    out.toByteArray
  }

  /** Minimal MPEG audio file: optional ID3v2 tag (10 B header + `id3Len`
    * of tag body, synchsafe size), one valid Layer III frame header, and
    * `payload` as opaque frame data. `mpeg1` selects MPEG1 vs MPEG2
    * (different bitrate/samplerate tables — both must be exercised).
    * Audio bytes = 4 + payload, so the CBR duration estimate is
    * bytes*8/bitrate — externally replayable integer arithmetic. */
  def buildMp3(mpeg1: Boolean, bitrateIdx: Int, srIdx: Int, mono: Boolean,
               payload: Array[Byte], id3Len: Int = -1): Array[Byte] = {
    require(bitrateIdx >= 1 && bitrateIdx <= 14 && srIdx >= 0 && srIdx <= 2)
    require(id3Len < (1 << 21), "synchsafe size fits 28 bits; builder caps at 21")
    val out = new ByteArrayOutputStream(payload.length + 16 + math.max(0, id3Len))
    if (id3Len >= 0) {
      out.write('I'); out.write('D'); out.write('3')
      out.write(4); out.write(0) // version 2.4.0
      out.write(0) // flags
      out.write((id3Len >>> 21) & 0x7f); out.write((id3Len >>> 14) & 0x7f)
      out.write((id3Len >>> 7) & 0x7f); out.write(id3Len & 0x7f) // synchsafe

      var i = 0
      while (i < id3Len) { out.write((i * 37 + 11) & 0xff); i += 1 }
    }
    out.write(0xff)
    out.write(0xe0 | (if (mpeg1) 3 else 2) << 3 | 1 << 1 | 1) // sync|ver|LayerIII|noCRC
    out.write(bitrateIdx << 4 | srIdx << 2) // bitrate | samplerate | no pad
    out.write((if (mono) 3 else 0) << 6) // channel mode
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  // -------------------------------------------------------------- parsers

  /** Sniff the magic and parse header metadata; None when the bytes are
    * not a recognized/well-formed container (callers map that to an
    * "unknown" row — one bad payload must not kill the job). */
  def parse(b: Array[Byte]): Option[MediaInfo] = {
    if (b.length >= 8 && java.util.Arrays.equals(
        java.util.Arrays.copyOf(b, 8), PngSig)) parsePng(b)
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') parseGif(b)
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff) parseJpeg(b)
    else if (b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-') parsePdf(b)
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') parseWav(b)
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') parseWebp(b)
    else if (b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
      b(7) == 'p') parseMp4(b)
    // weakest magic LAST: an ID3v2 tag or a bare 11-bit frame sync
    else if (b.length >= 4 && ((b(0) == 'I' && b(1) == 'D' && b(2) == '3') ||
      ((b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0))) parseMp3(b)
    else None
  }

  private def rdLe32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  private def parseWav(b: Array[Byte]): Option[MediaInfo] = {
    var i = 12
    var channels = 0; var sampleRate = 0; var byteRate = 0L
    var dataLen = -1L; var haveFmt = false
    while (i + 8 <= b.length) {
      val size = rdLe32(b, i + 4)
      val body = i + 8
      // a chunk extending past the file is corrupt/truncated (this also
      // keeps size.toInt from overflowing negative — rdLe32 can claim up
      // to 4 GB — which would walk the cursor backwards forever)
      if (body + size > b.length) return None
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
        if (size < 16 || body + 16 > b.length) return None
        if (rdLe16(b, body) != 1) return None // PCM only
        channels = rdLe16(b, body + 2)
        sampleRate = rdLe32(b, body + 4).toInt
        byteRate = rdLe32(b, body + 8)
        haveFmt = true
      } else if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' && b(i + 3) == 'a') {
        dataLen = size
      }
      i = body + size.toInt + (size.toInt & 1) // chunks pad to even
    }
    if (!haveFmt || dataLen < 0 || byteRate <= 0) None
    else Some(MediaInfo("wav", 0, 0, 0, sampleRate, channels, dataLen * 1000L / byteRate))
  }

  private def parseMp4(b: Array[Byte]): Option[MediaInfo] = {
    // walk the top-level boxes for moov, then its children for mvhd
    var i = 0
    while (i + 8 <= b.length) {
      val size = rdBe32(b, i)
      if (size < 8 || i + size > b.length) return None
      if (b(i + 4) == 'm' && b(i + 5) == 'o' && b(i + 6) == 'o' && b(i + 7) == 'v') {
        var j = i + 8
        val end = i + size.toInt
        while (j + 8 <= end) {
          val cs = rdBe32(b, j)
          if (cs < 8 || j + cs > end) return None
          if (b(j + 4) == 'm' && b(j + 5) == 'v' && b(j + 6) == 'h' && b(j + 7) == 'd') {
            val body = j + 8
            if (body + 1 > end) return None // bounds BEFORE the version read
            val (timescale, duration) = b(body) match {
              case 0 => // v0: 32-bit ctime/mtime/duration
                if (body + 20 > end) return None
                (rdBe32(b, body + 12), rdBe32(b, body + 16))
              case 1 => // v1: 64-bit ctime/mtime/duration (long-form / post-2038)
                if (body + 32 > end) return None
                (rdBe32(b, body + 20), (rdBe32(b, body + 24) << 32) | rdBe32(b, body + 28))
              case _ => return None // no mvhd version beyond 1 exists in 14496-12
            }
            if (timescale <= 0 || duration < 0) return None
            return Some(MediaInfo("mp4", 0, 0, 0, 0, 0, duration * 1000L / timescale))
          }
          j += cs.toInt
        }
        return None
      }
      i += size.toInt
    }
    None
  }

  /** WebP (RFC 9649): walk the RIFF chunks for the first image-bearing
    * one. "VP8 " = lossy bitstream — require the keyframe start code
    * 9D 01 2A, dims are two 14-bit little-endian fields; "VP8L" =
    * lossless — 0x2F signature then width-1/height-1 LSB-packed 14 bits
    * each; "VP8X" = extended — canvas dims as 24-bit LE minus-one
    * fields. Unknown chunks are skipped by size; a chunk overrunning the
    * buffer rejects the file (truncation, forged size). */
  private def parseWebp(b: Array[Byte]): Option[MediaInfo] = {
    var i = 12
    while (i + 8 <= b.length) {
      val size = rdLe32(b, i + 4)
      val body = i + 8
      if (body + size > b.length) return None
      if (b(i) == 'V' && b(i + 1) == 'P' && b(i + 2) == '8' && b(i + 3) == ' ') {
        if (size < 10) return None
        if ((b(body + 3) & 0xff) != 0x9d || (b(body + 4) & 0xff) != 0x01 ||
          (b(body + 5) & 0xff) != 0x2a) return None
        val w = (b(body + 6) & 0xff | (b(body + 7) & 0xff) << 8) & 0x3fff
        val h = (b(body + 8) & 0xff | (b(body + 9) & 0xff) << 8) & 0x3fff
        return Some(MediaInfo("webp", w, h, 0))
      } else if (b(i) == 'V' && b(i + 1) == 'P' && b(i + 2) == '8' && b(i + 3) == 'L') {
        if (size < 5 || (b(body) & 0xff) != 0x2f) return None
        val v = rdLe32(b, body + 1)
        val w = (v & 0x3fff).toInt + 1
        val h = ((v >>> 14) & 0x3fff).toInt + 1
        return Some(MediaInfo("webp", w, h, 0))
      } else if (b(i) == 'V' && b(i + 1) == 'P' && b(i + 2) == '8' && b(i + 3) == 'X') {
        if (size < 10) return None
        val w = (b(body + 4) & 0xff | (b(body + 5) & 0xff) << 8 |
          (b(body + 6) & 0xff) << 16) + 1
        val h = (b(body + 7) & 0xff | (b(body + 8) & 0xff) << 8 |
          (b(body + 9) & 0xff) << 16) + 1
        return Some(MediaInfo("webp", w, h, 0))
      }
      i = body + size.toInt + (size.toInt & 1) // chunks pad to even
    }
    None
  }

  // MPEG audio frame-header tables (ISO/IEC 11172-3 / 13818-3), Layer III
  // only — the layer crawl audio actually is. Index 0 = "free format",
  // 15 = invalid: both rejected.
  private val Mp3BitrateV1 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3BitrateV2 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val Mp3SampleRateV1 = Array(44100, 48000, 32000)

  /** MPEG audio (MP3): skip a leading ID3v2 tag (synchsafe 28-bit size),
    * then read the first Layer III frame header — version, bitrate and
    * samplerate table lookups, channel mode. Duration is the CBR
    * estimate audio_bytes * 8 / bitrate (the standard header-only
    * estimate; VBR needs a Xing walk, out of header-metadata scope). */
  private def parseMp3(b: Array[Byte]): Option[MediaInfo] = {
    var i = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      if ((b(6) | b(7) | b(8) | b(9)) < 0) return None // synchsafe: high bit clear
      val tagLen = (b(6) & 0x7f) << 21 | (b(7) & 0x7f) << 14 |
        (b(8) & 0x7f) << 7 | (b(9) & 0x7f)
      i = 10 + tagLen
      if (i < 0 || i + 4 > b.length) return None
    }
    if (i + 4 > b.length) return None
    if ((b(i) & 0xff) != 0xff || (b(i + 1) & 0xe0) != 0xe0) return None
    val version = (b(i + 1) >>> 3) & 3 // 0=MPEG2.5, 2=MPEG2, 3=MPEG1
    val layer = (b(i + 1) >>> 1) & 3 // 1 = Layer III
    if (version == 1 || layer != 1) return None
    val bitrateIdx = (b(i + 2) >>> 4) & 0xf
    val srIdx = (b(i + 2) >>> 2) & 3
    if (bitrateIdx == 0 || bitrateIdx == 15 || srIdx == 3) return None
    val bitrateKbps =
      if (version == 3) Mp3BitrateV1(bitrateIdx) else Mp3BitrateV2(bitrateIdx)
    val sampleRate = version match {
      case 3 => Mp3SampleRateV1(srIdx)
      case 2 => Mp3SampleRateV1(srIdx) / 2
      case _ => Mp3SampleRateV1(srIdx) / 4
    }
    val channels = if (((b(i + 3) >>> 6) & 3) == 3) 1 else 2
    val audioBytes = (b.length - i).toLong
    Some(MediaInfo("mp3", 0, 0, 0, sampleRate, channels,
      audioBytes * 8 / bitrateKbps))
  }

  private def parsePng(b: Array[Byte]): Option[MediaInfo] = {
    // sig(8) len(4) "IHDR"(4) data(13) crc(4) -> need 33 bytes
    if (b.length < 33) return None
    if (rdBe32(b, 8) != 13L) return None
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return None
    val crc = new CRC32
    crc.update(b, 12, 4 + 13)
    if (crc.getValue != rdBe32(b, 29)) return None // corrupt header
    val w = rdBe32(b, 16); val h = rdBe32(b, 20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) return None
    Some(MediaInfo("png", w.toInt, h.toInt, 0))
  }

  private def parseGif(b: Array[Byte]): Option[MediaInfo] = {
    if (b.length < 10) return None
    Some(MediaInfo("gif", rdLe16(b, 6), rdLe16(b, 8), 0))
  }

  private def parseJpeg(b: Array[Byte]): Option[MediaInfo] = {
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None // lost marker alignment
      while (i < b.length && (b(i) & 0xff) == 0xff) i += 1 // fill bytes
      if (i >= b.length) return None
      val m = b(i) & 0xff
      i += 1
      if (m == 0xd9 || m == 0xda) return None // EOI/SOS before any SOF
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        // standalone marker, no length
      } else {
        if (i + 1 >= b.length) return None
        val len = rdBe16(b, i)
        if (len < 2 || i + len > b.length) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (len < 7) return None
          return Some(MediaInfo("jpeg", rdBe16(b, i + 5), rdBe16(b, i + 3), 0))
        }
        i += len
      }
    }
    None
  }

  /** EXIF orientation (tag 0x0112) from a JPEG's APP1 segment: segment
    * walk to APP1 with the "Exif\0\0" identifier, then a TIFF IFD0 walk
    * honoring the header's declared endianness (II little / MM big —
    * both occur in the wild). Only the eight defined rotation/mirror
    * values are returned; anything else (missing APP1, non-SHORT type,
    * out-of-range value, truncated IFD) is None — the EXIF block is
    * attacker-controlled crawl bytes, never trusted beyond its bounds. */
  def parseExifOrientation(b: Array[Byte]): Option[Int] = {
    if (!(b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)) return None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None
      while (i < b.length && (b(i) & 0xff) == 0xff) i += 1
      if (i >= b.length) return None
      val m = b(i) & 0xff
      i += 1
      if (m == 0xd9 || m == 0xda) return None // image data: no EXIF found
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {} // standalone, no length
      else {
        if (i + 1 >= b.length) return None
        val len = rdBe16(b, i)
        if (len < 2 || i + len > b.length) return None
        if (m == 0xe1 && len >= 2 + 6 + 8 &&
          b(i + 2) == 'E' && b(i + 3) == 'x' && b(i + 4) == 'i' &&
          b(i + 5) == 'f' && b(i + 6) == 0 && b(i + 7) == 0) {
          val tiff = i + 8 // TIFF header start; all IFD offsets relative here
          val tiffEnd = i + len
          val little =
            if (b(tiff) == 'I' && b(tiff + 1) == 'I') true
            else if (b(tiff) == 'M' && b(tiff + 1) == 'M') false
            else return None
          def rd16(at: Int): Int =
            if (little) (b(at) & 0xff) | (b(at + 1) & 0xff) << 8
            else (b(at) & 0xff) << 8 | (b(at + 1) & 0xff)
          def rd32(at: Int): Long =
            if (little) rdLe32(b, at) else rdBe32(b, at)
          if (rd16(tiff + 2) != 42) return None
          val ifd0 = rd32(tiff + 4)
          val ifdAt = tiff + ifd0
          if (ifd0 < 8 || ifdAt + 2 > tiffEnd || ifdAt > Int.MaxValue) return None
          val nEntries = rd16(ifdAt.toInt)
          var e = 0
          while (e < nEntries) {
            val at = ifdAt.toInt + 2 + e * 12
            if (at + 12 > tiffEnd) return None
            if (rd16(at) == 0x0112) {
              // type must be SHORT (3), count 1; value inlined in the
              // first two bytes of the 4-byte value field
              if (rd16(at + 2) != 3 || rd32(at + 4) != 1L) return None
              val v = rd16(at + 8)
              return if (v >= 1 && v <= 8) Some(v) else None
            }
            e += 1
          }
          return None
        }
        i += len
      }
    }
    None
  }

  /** Synthesis twin: a JPEG APP1 EXIF segment holding exactly one IFD0
    * entry (orientation), in either byte order. 36 bytes total. */
  def exifApp1(orientation: Int, bigEndian: Boolean): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8, s"orientation $orientation")
    val out = new ByteArrayOutputStream(36)
    out.write(0xff); out.write(0xe1)
    out.write(0); out.write(34) // length: itself + 32 payload bytes
    out.write("Exif".getBytes(US_ASCII), 0, 4); out.write(0); out.write(0)
    def w16(v: Int): Unit =
      if (bigEndian) { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Long): Unit =
      if (bigEndian) { w16(((v >>> 16) & 0xffff).toInt); w16((v & 0xffff).toInt) }
      else { w16((v & 0xffff).toInt); w16(((v >>> 16) & 0xffff).toInt) }
    if (bigEndian) { out.write('M'); out.write('M') }
    else { out.write('I'); out.write('I') }
    w16(42); w32(8L) // IFD0 directly after the 8-byte TIFF header
    w16(1) // one entry
    w16(0x0112); w16(3); w32(1L) // orientation, SHORT, count 1
    w16(orientation); w16(0) // value + pad in the 4-byte field
    w32(0L) // no next IFD
    out.toByteArray
  }

  /** Insert an APP1 (or any) segment right after a JPEG's SOI marker —
    * where real encoders put EXIF. */
  def withSegmentAfterSoi(jpeg: Array[Byte], segment: Array[Byte]): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8)
    val out = new Array[Byte](jpeg.length + segment.length)
    out(0) = jpeg(0); out(1) = jpeg(1)
    System.arraycopy(segment, 0, out, 2, segment.length)
    System.arraycopy(jpeg, 2, out, 2 + segment.length, jpeg.length - 2)
    out
  }

  private def parsePdf(b: Array[Byte]): Option[MediaInfo] = {
    // locate the page-tree root dict and read its /Count value; the
    // search is bounded to that dict (stop at its closing ">>") so a
    // root dict MISSING /Count yields None instead of reading a count
    // from a later object or from attacker-controlled stream bytes
    val root = indexOfAscii(b, "/Type /Pages")
    if (root < 0) return None
    val dictEnd = indexOfAscii(b, ">>", root)
    if (dictEnd < 0) return None
    val c = indexOfAscii(b, "/Count ", root)
    if (c < 0 || c > dictEnd) return None
    var i = c + 7
    var v = 0
    var any = false
    while (i < b.length && b(i) >= '0' && b(i) <= '9') {
      v = v * 10 + (b(i) - '0'); any = true; i += 1
    }
    if (!any) None else Some(MediaInfo("pdf", 0, 0, v))
  }

  private def indexOfAscii(b: Array[Byte], needle: String, from: Int = 0): Int = {
    val nb = needle.getBytes(US_ASCII)
    var i = math.max(0, from)
    val last = b.length - nb.length
    while (i <= last) {
      var j = 0
      while (j < nb.length && b(i + j) == nb(j)) j += 1
      if (j == nb.length) return i
      i += 1
    }
    -1
  }

  // ---------------------------------------------- PNG deep (pixel) decode
  //
  // PNG's IDAT payload is zlib (RFC 1950/1951) and the JVM ships an
  // inflater, so DEEP decode needs no external library: inflate the
  // concatenated IDAT chunks, reverse the per-scanline filter (the five
  // types of ISO/IEC 15948 §9.2: None/Sub/Up/Average/Paeth), and the raw
  // truecolor bytes fall out. This is the real thing — integer-exact, so
  // an external SQL oracle can replay per-channel statistics from the
  // synthesized pixel formula without ever touching zlib.

  /** Per-channel integer stats over the decoded pixels: exact sum (fits
    * i64 at any plausible image size), min, max. */
  final case class ChannelStats(sum: Long, min: Int, max: Int)
  final case class ImagePixels(width: Int, height: Int, stats: Array[ChannelStats])

  private val PngBpp = 3 // truecolor 8-bit, as the builders emit

  /** Truecolor 8-bit PNG with REAL compressed scanline data: pixel (r,c)
    * channel ch = `pixel(r, c, ch)` & 0xff, scanline filter type = row % 5
    * so every decode exercises all five filters. Deterministic (zlib
    * deflate of a deterministic buffer, fixed level). */
  def buildPngPixels(w: Int, h: Int, pixel: (Int, Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"buildPngPixels: bad dims ${w}x$h")
    buildPngPasses(w, h, pixel, interlace = 0)
  }

  /** Adam7-INTERLACED truecolor 8-bit PNG over the same per-pixel
    * formula as buildPngPixels — the progressive layout real web PNGs
    * use. Each of the seven passes is filtered as an independent
    * sub-image (filter type cycles per pass row, exercising all five
    * against pass-local neighbors). */
  def buildPngPixelsInterlaced(w: Int, h: Int, pixel: (Int, Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"buildPngPixelsInterlaced: bad dims ${w}x$h")
    buildPngPasses(w, h, pixel, interlace = 1)
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** PNG row filter `ft` (ISO/IEC 15948 §9.2: None/Sub/Up/Average/Paeth)
    * over `n` bytes of `bpp`-byte pixels: the unfiltered row at `cur(ci)`
    * minus its predictor goes to `out(oi)`. The row above is at
    * `prev(pi)`, or all zero when `pi` < 0. */
  private def filterRow(ft: Int, cur: Array[Byte], ci: Int, prev: Array[Byte], pi: Int,
                        out: Array[Byte], oi: Int, n: Int, bpp: Int): Unit = {
    var j = 0
    while (j < n) {
      val x = cur(ci + j) & 0xff
      val a = if (j >= bpp) cur(ci + j - bpp) & 0xff else 0 // left
      val b = if (pi >= 0) prev(pi + j) & 0xff else 0 // up
      val c = if (pi >= 0 && j >= bpp) prev(pi + j - bpp) & 0xff else 0 // up-left
      val v = ft match {
        case 0 => x
        case 1 => x - a
        case 2 => x - b
        case 3 => x - (a + b) / 2
        case _ => x - paeth(a, b, c)
      }
      out(oi + j) = v.toByte
      j += 1
    }
  }

  /** The reverse of [[filterRow]]: the filtered row at `src(si)` is
    * reconstructed into `out(oi)`, whose left neighbours it reads back as
    * it goes. False when `ft` is not one of the five filter types. */
  private def unfilterRow(ft: Int, src: Array[Byte], si: Int, prev: Array[Byte], pi: Int,
                          out: Array[Byte], oi: Int, n: Int, bpp: Int): Boolean = {
    if (ft > 4) return false
    var j = 0
    while (j < n) {
      val x = src(si + j) & 0xff
      val a = if (j >= bpp) out(oi + j - bpp) & 0xff else 0
      val b = if (pi >= 0) prev(pi + j) & 0xff else 0
      val c = if (pi >= 0 && j >= bpp) prev(pi + j - bpp) & 0xff else 0
      val v = ft match {
        case 0 => x
        case 1 => x + a
        case 2 => x + b
        case 3 => x + (a + b) / 2
        case _ => x + paeth(a, b, c)
      }
      out(oi + j) = v.toByte
      j += 1
    }
    true
  }

  /** One interlace pass (ISO/IEC 15948 §8.2): the pixels at start
    * (`x0`, `y0`) and step (`dx`, `dy`), filtered as an independent
    * sub-image of `w(width)` x `h(height)` pixels. */
  private final case class Pass(x0: Int, y0: Int, dx: Int, dy: Int) {
    def w(width: Int): Int = math.max(0, (width - x0 + dx - 1) / dx)
    def h(height: Int): Int = math.max(0, (height - y0 + dy - 1) / dy)
  }
  // interlace method 0 (sequential) is the one pass over every pixel
  private val Passes: Array[Array[Pass]] = Array(
    Array(Pass(0, 0, 1, 1)),
    Array(Pass(0, 0, 8, 8), Pass(4, 0, 8, 8), Pass(0, 4, 4, 8), Pass(2, 0, 4, 4),
      Pass(0, 2, 2, 4), Pass(1, 0, 2, 2), Pass(0, 1, 1, 2)))

  /** Filtered image size: each non-empty pass row carries its own filter byte. */
  private def pngRawLen(passes: Array[Pass], w: Int, h: Int): Long =
    passes.iterator.map { p =>
      val pw = p.w(w).toLong; val ph = p.h(h).toLong
      if (pw > 0 && ph > 0) ph * (1L + pw * PngBpp) else 0L
    }.sum

  private def buildPngPasses(w: Int, h: Int, pixel: (Int, Int, Int) => Int,
                             interlace: Int): Array[Byte] = {
    val passes = Passes(interlace)
    val raw = new Array[Byte](pngRawLen(passes, w, h).toInt)
    var off = 0
    for (p <- passes) {
      val pw = p.w(w); val ph = p.h(h)
      if (pw > 0 && ph > 0) {
        val n = pw * PngBpp
        // current + previous unfiltered pass rows, needed to APPLY the filters
        var prev = new Array[Byte](n)
        var cur = new Array[Byte](n)
        var r = 0
        while (r < ph) {
          val y = p.y0 + r * p.dy
          var i = 0
          while (i < n) {
            cur(i) = (pixel(y, p.x0 + (i / PngBpp) * p.dx, i % PngBpp) & 0xff).toByte
            i += 1
          }
          val ft = r % 5
          raw(off) = ft.toByte
          filterRow(ft, cur, 0, prev, 0, raw, off + 1, n, PngBpp) // prev starts all zero
          off += 1 + n
          val t = prev; prev = cur; cur = t
          r += 1
        }
      }
    }
    buildPng(w, h, Zlib.deflate1(raw), interlace)
  }

  /** Inflate + unfilter a truecolor 8-bit PNG's pixel data; returns the
    * raw RGB bytes row-major (no filter bytes), or None when the file is
    * not an 8-bit truecolor PNG or its stream is corrupt/truncated. */
  private[graft] def decodePngRaw(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    parsePng(b) match {
      case Some(info) =>
        if (b(24) != 8 || b(25) != 2) return None // bit depth 8, truecolor only
        val w = info.width; val h = info.height
        if (b(28) != 0 && b(28) != 1) return None
        val passes = Passes(b(28))
        // guard the allocation BEFORE trusting header dims: a forged
        // 2^31-pixel header must not OOM the task
        val rawLen = pngRawLen(passes, w, h)
        if (rawLen > MaxDecodedBytes) return None
        // concatenate IDAT chunk bodies (PNG allows splitting anywhere)
        val z = new ByteArrayOutputStream(b.length)
        var i = 8
        var sawEnd = false
        while (i + 8 <= b.length && !sawEnd) {
          val len = rdBe32(b, i)
          if (len < 0 || i + 12 + len > b.length) return None
          val typ = new String(b, i + 4, 4, US_ASCII)
          if (typ == "IDAT") z.write(b, i + 8, len.toInt)
          if (typ == "IEND") sawEnd = true
          i += 12 + len.toInt
        }
        if (z.size() == 0) return None
        val raw = new Array[Byte](rawLen.toInt)
        // reused thread-local inflater (one native zlib state per task
        // thread instead of per image; reset() == fresh instance)
        val okInflate = Zlib.withInflater(nowrap = false) { inflater =>
          inflater.setInput(z.toByteArray)
          try {
            var off = 0
            var ok = true
            while (ok && off < raw.length && !inflater.finished()) {
              val k = inflater.inflate(raw, off, raw.length - off)
              // no progress: truncated, or waiting on a preset dictionary
              if (k == 0 && !inflater.finished()) ok = false
              else off += k
            }
            ok && off == raw.length // false = wrong decompressed size
          } catch {
            case _: java.util.zip.DataFormatException => false
          }
        }
        if (!okInflate) return None
        // unfilter each pass as an independent sub-image against
        // PASS-LOCAL neighbors, then scatter it into place
        val out = new Array[Byte](w * h * PngBpp)
        var off = 0
        var pn = 0
        while (pn < passes.length) {
          val p = passes(pn)
          val pw = p.w(w); val ph = p.h(h)
          if (pw > 0 && ph > 0) {
            val n = pw * PngBpp
            var prev = new Array[Byte](n)
            var cur = new Array[Byte](n)
            var r = 0
            while (r < ph) {
              if (!unfilterRow(raw(off) & 0xff, raw, off + 1, prev, 0, cur, 0, n, PngBpp))
                return None
              off += 1 + n
              val row = (p.y0 + r * p.dy) * w
              var px = 0
              while (px < pw) {
                val dst = (row + p.x0 + px * p.dx) * PngBpp
                out(dst) = cur(px * PngBpp)
                out(dst + 1) = cur(px * PngBpp + 1)
                out(dst + 2) = cur(px * PngBpp + 2)
                px += 1
              }
              val t = prev; prev = cur; cur = t
              r += 1
            }
          }
          pn += 1
        }
        Some((w, h, out))
      case None => None
    }
  }

  /** Deep decode to per-channel integer stats over any format with a real
    * pure-JVM pixel path (PNG zlib+unfilter, GIF LZW+palette, Huffman
    * JPEG coefficients+IDCT). Each decoder sniffs its own magic; mm1-style
    * metadata-only containers fall through to None. */
  def decodeImagePixels(b: Array[Byte]): Option[ImagePixels] =
    decodePngPixels(b).orElse(decodeGifPixels(b))
      .orElse(JpegCodec.decodeJpegPixels(b))

  /** Deep decode to per-channel integer stats — the real replacement for
    * the feature stub on PNG inputs. */
  def decodePngPixels(b: Array[Byte]): Option[ImagePixels] =
    decodePngRaw(b).map { case (w, h, px) =>
      val stats = Array.fill(PngBpp)(ChannelStats(0L, 255, 0))
      val sums = new Array[Long](PngBpp)
      val mins = Array.fill(PngBpp)(255)
      val maxs = new Array[Int](PngBpp)
      var i = 0
      while (i < px.length) {
        val ch = i % PngBpp
        val v = px(i) & 0xff
        sums(ch) += v
        if (v < mins(ch)) mins(ch) = v
        if (v > maxs(ch)) maxs(ch) = v
        i += 1
      }
      var ch = 0
      while (ch < PngBpp) { stats(ch) = ChannelStats(sums(ch), mins(ch), maxs(ch)); ch += 1 }
      ImagePixels(w, h, stats)
    }

  // ------------------------------------------------ GIF deep (pixel) decode
  //
  // GIF's image data is LZW-compressed palette indices (GIF89a spec
  // Appendix F), coded by the one LZW coder (`Lzw`, also PDF's
  // LZWDecode) with LSB-first codes from minCodeSize+1 bits and no early
  // change — no library needed — so GIF joins PNG in the REAL
  // deep-decode column.

  /** Interlaced GIF row schedule (GIF89a spec Appendix E): the order
    * display rows appear in the data stream — pass 1 every 8th row from
    * 0, pass 2 every 8th from 4, pass 3 every 4th from 2, pass 4 every
    * 2nd from 1. */
  private[graft] def interlaceOrder(h: Int): Array[Int] = {
    val order = new Array[Int](h)
    var k = 0
    for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
      var r = start
      while (r < h) { order(k) = r; k += 1; r += step }
    }
    order
  }

  /** 256-color GIF89a with REAL LZW-compressed indexed pixel data:
    * 768-byte rgb `palette` written as the GLOBAL color table by default
    * or as a LOCAL color table on the image descriptor (`localPalette` —
    * the other placement real-world GIFs use), pixel (r,c) = palette
    * index `index(r, c) & 0xff`. `interlaced` stores rows in the 4-pass
    * Appendix E order and sets the descriptor flag. Layout: header+LSD
    * (13) [+ GCT 768] + image descriptor (10) [+ LCT 768] + LZW min code
    * size (1) + sub-blocked code stream + block terminator + trailer. */
  def buildGifPixels(w: Int, h: Int, palette: Array[Byte],
                     index: (Int, Int) => Int,
                     interlaced: Boolean = false,
                     localPalette: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, s"buildGifPixels: bad dims ${w}x$h")
    require(palette.length == 768, s"palette must be 768 bytes, got ${palette.length}")
    val out = new ByteArrayOutputStream(w * h + 820)
    out.write("GIF89a".getBytes(US_ASCII), 0, 6)
    out.write(w & 0xff); out.write((w >>> 8) & 0xff)
    out.write(h & 0xff); out.write((h >>> 8) & 0xff)
    if (localPalette) out.write(0x70) // no GCT, 8-bit color resolution
    else out.write(0xf7) // GCT present, 8-bit color resolution, size 2^8
    out.write(0); out.write(0) // bg color 0, aspect 0
    if (!localPalette) out.write(palette, 0, 768)
    out.write(0x2c) // image descriptor
    out.write(0); out.write(0); out.write(0); out.write(0) // left, top
    out.write(w & 0xff); out.write((w >>> 8) & 0xff)
    out.write(h & 0xff); out.write((h >>> 8) & 0xff)
    // descriptor flags: LCT present (0x80 | size 7 -> 2^8) / interlace 0x40
    out.write((if (localPalette) 0x87 else 0) | (if (interlaced) 0x40 else 0))
    if (localPalette) out.write(palette, 0, 768)
    out.write(8) // LZW min code size
    val indices = new Array[Byte](w * h)
    val rowAt = if (interlaced) interlaceOrder(h) else Array.tabulate(h)(identity)
    var k = 0
    while (k < h) {
      val r = rowAt(k)
      var c = 0
      while (c < w) { indices(k * w + c) = (index(r, c) & 0xff).toByte; c += 1 }
      k += 1
    }
    val z = Lzw.encode(indices, Lzw.gif(8))
    var i = 0
    while (i < z.length) {
      val k2 = math.min(255, z.length - i)
      out.write(k2)
      out.write(z, i, k2)
      i += k2
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** DEEP GIF decode to DISPLAY-ORDERED palette indices + the active
    * palette: parse LSD + global color table, walk extensions to the
    * first image descriptor, honor a LOCAL color table when present,
    * LZW-decompress the index stream, and DEINTERLACE (GIF89a spec
    * App. E 4-pass schedule) when the descriptor flags it — row k of the
    * data stream lands on its display row, so callers see raster order
    * regardless of storage order. Every index is validated against the
    * palette size. None for missing palettes or corrupt streams. */
  private[graft] def decodeGifIndexed(b: Array[Byte]): Option[(Int, Int, Array[Byte], Array[Byte])] = {
    if (!(b.length >= 13 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return None
    val packed = b(10) & 0xff
    var gct: Array[Byte] = null
    var i = 13
    if ((packed & 0x80) != 0) {
      val n = 3 * (1 << ((packed & 7) + 1))
      if (i + n > b.length) return None
      gct = java.util.Arrays.copyOfRange(b, i, i + n)
      i += n
    }
    while (i < b.length) {
      (b(i) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          i += 2
          while (i < b.length && b(i) != 0) i += 1 + (b(i) & 0xff)
          if (i >= b.length) return None
          i += 1 // terminator
        case 0x2c => // image descriptor
          if (i + 10 > b.length) return None
          val w = rdLe16(b, i + 5); val h = rdLe16(b, i + 7)
          val ipacked = b(i + 9) & 0xff
          val interlaced = (ipacked & 0x40) != 0
          i += 10
          var pal = gct
          if ((ipacked & 0x80) != 0) {
            val n = 3 * (1 << ((ipacked & 7) + 1))
            if (i + n > b.length) return None
            pal = java.util.Arrays.copyOfRange(b, i, i + n)
            i += n
          }
          if (pal == null || w <= 0 || h <= 0) return None
          if (w.toLong * h > MaxDecodedBytes) return None
          if (i >= b.length) return None
          val minCode = b(i) & 0xff
          if (minCode < 1 || minCode > 11) return None
          i += 1
          // concatenate the sub-blocked code stream: it cannot outgrow
          // the bytes left in the file, whatever the header claims
          val z = new ByteArrayOutputStream(b.length - i)
          while (i < b.length && b(i) != 0) {
            val k = b(i) & 0xff
            if (i + 1 + k > b.length) return None
            z.write(b, i + 1, k)
            i += 1 + k
          }
          if (i >= b.length) return None
          return Lzw.decode(z.toByteArray, Lzw.gif(minCode), w * h)
            .filter(_.length == w * h).flatMap { data =>
            val nColors = pal.length / 3
            var p = 0
            while (p < data.length) {
              if ((data(p) & 0xff) >= nColors) return None // outside the palette
              p += 1
            }
            val idx =
              if (!interlaced) data
              else {
                val out = new Array[Byte](w * h)
                val rowAt = interlaceOrder(h)
                var k = 0
                while (k < h) {
                  System.arraycopy(data, k * w, out, rowAt(k) * w, w)
                  k += 1
                }
                out
              }
            Some((w, h, idx, pal))
          }
        case 0x3b => return None // trailer before any image
        case _ => return None // unknown block: bail rather than guess
      }
    }
    None
  }

  /** DEEP GIF decode to per-channel integer stats (the pixelStats /
    * feature path): decodeGifIndexed + palette mapping, reduced without
    * materializing the RGB expansion. */
  def decodeGifPixels(b: Array[Byte]): Option[ImagePixels] =
    decodeGifIndexed(b).map { case (w, h, idx, pal) =>
      val sums = new Array[Long](3)
      val mins = Array.fill(3)(255)
      val maxs = new Array[Int](3)
      var p = 0
      while (p < idx.length) {
        val ci = idx(p) & 0xff
        var ch = 0
        while (ch < 3) {
          val v = pal(ci * 3 + ch) & 0xff
          sums(ch) += v
          if (v < mins(ch)) mins(ch) = v
          if (v > maxs(ch)) maxs(ch) = v
          ch += 1
        }
        p += 1
      }
      ImagePixels(w, h,
        Array.tabulate(3)(ch => ChannelStats(sums(ch), mins(ch), maxs(ch))))
    }

  // ----------------------------------------------- PDF deep (text) decode
  //
  // A PDF page's text lives in its content stream as show-text operators
  // (ISO 32000-1 §9.4.3): `(string) Tj`, `(s) '`, `(s) "` and the array
  // form `[(a) -250 (b)] TJ`. Stream data may pass through a FILTER
  // CHAIN (§7.4): FlateDecode (zlib — the JVM inflater), LZWDecode
  // (TIFF-style MSB-first variable-width codes with EarlyChange, §7.4.4
  // — the one LZW coder, `Lzw`), ASCIIHexDecode, ASCII85Decode and
  // RunLengthDecode — all implemented, singly or as a `/Filter [...]`
  // cascade, so REAL text extraction needs no external library. Image
  // codecs inside PDFs (DCTDecode/JPXDecode/CCITT/JBIG2) carry no text
  // and skip the stream; /Predictor DecodeParms (used by xref streams,
  // not content streams) skip too. CID/Type0 composite fonts remain out
  // of scope.

  /** Escape a byte string into PDF literal-string form: backslash, parens
    * (§7.3.4.2). */
  private def pdfEscape(payload: Array[Byte], out: ByteArrayOutputStream): Unit = {
    var i = 0
    while (i < payload.length) {
      val c = payload(i)
      if (c == '\\' || c == '(' || c == ')') out.write('\\')
      out.write(c.toInt)
      i += 1
    }
  }

  /** Minimal PDF whose pages carry a REAL content stream: the text shows
    * as `(header) Tj [(body) -250 (#END)] TJ` inside BT/ET — one simple
    * show op, one array show op with a kerning number, so extraction must
    * handle both. `flate` wraps the stream in real zlib (§7.4.4). All
    * pages reference the one content stream. Extracted text is exactly
    * header + body + "#END". */
  def buildPdfWithText(nPages: Int, header: Array[Byte], body: Array[Byte],
                       flate: Boolean): Array[Byte] =
    buildPdfWithTextFiltered(nPages, header, body,
      if (flate) Seq("FlateDecode") else Nil)

  /** Like [[buildPdfWithText]] but encoding the content stream through an
    * arbitrary filter CASCADE (applied left to right at write time, so
    * the reader must decode right-to-left order of /Filter [...] — i.e.
    * the /Filter array lists decode order, §7.4.1: first array entry is
    * the first DECODE step, so we ENCODE through the list reversed). */
  def buildPdfWithTextFiltered(nPages: Int, header: Array[Byte], body: Array[Byte],
                               filters: Seq[String], predictor: Int = 1,
                               columns: Int = 1): Array[Byte] = {
    val content = new ByteArrayOutputStream(header.length + body.length + 64)
    def cs(x: String): Unit = { val b = x.getBytes(US_ASCII); content.write(b, 0, b.length) }
    cs("BT /F1 12 Tf 72 720 Td (")
    pdfEscape(header, content)
    cs(") Tj [(")
    pdfEscape(body, content)
    cs(") -250 (#END)] TJ ET")
    // predictor first (it sits under the filter at write time), then
    // /Filter lists DECODE order; encoding applies the reverse
    val predicted = predictEncode(content.toByteArray, predictor, 1, columns)
    val streamBytes = filters.reverse.foldLeft(predicted) { (d, f) =>
      pdfFilterEncode(d, f)
    }
    val out = new ByteArrayOutputStream(streamBytes.length + 256)
    def s(x: String): Unit = { val b = x.getBytes(US_ASCII); out.write(b, 0, b.length) }
    s("%PDF-1.4\n")
    s("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    val contentsObj = 3 + nPages
    val kids = (0 until nPages).map(p => s"${3 + p} 0 R").mkString(" ")
    s(s"2 0 obj << /Type /Pages /Count $nPages /Kids [$kids] >> endobj\n")
    for (p <- 0 until nPages)
      s(s"${3 + p} 0 obj << /Type /Page /Parent 2 0 R /Contents $contentsObj 0 R >> endobj\n")
    val filter = filters match {
      case Nil => ""
      case Seq(one) => s" /Filter /$one"
      case many => many.map("/" + _).mkString(" /Filter [", " ", "]")
    }
    val parms =
      if (predictor <= 1) ""
      else s" /DecodeParms << /Predictor $predictor /Colors 1" +
        s" /BitsPerComponent 8 /Columns $columns >>"
    s(s"$contentsObj 0 obj << /Length ${streamBytes.length}$filter$parms >> stream\n")
    out.write(streamBytes, 0, streamBytes.length)
    s("\nendstream endobj\n%%EOF\n")
    out.toByteArray
  }

  /** Minimal PDF embedding raster images the way real PDFs do: one page
    * whose /Resources reference /Subtype /Image XObject streams with
    * /Filter /DCTDecode (the stream body IS a JPEG file), optionally
    * behind extra transport filters (listed BEFORE DCTDecode in /Filter
    * array decode order, applied here at write time). A small real
    * content stream draws each image so the page is well-formed. */
  def buildPdfWithImages(images: Seq[(Array[Byte], Int, Int)],
                         transport: Seq[String] = Nil): Array[Byte] = {
    val out = new ByteArrayOutputStream(images.map(_._1.length).sum + 512)
    def s(x: String): Unit = { val b = x.getBytes(US_ASCII); out.write(b, 0, b.length) }
    s("%PDF-1.4\n")
    s("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    s("2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n")
    val xobjRefs = images.indices.map(i => s"/Im$i ${5 + i} 0 R").mkString(" ")
    s(s"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R" +
      s" /Resources << /XObject << $xobjRefs >> >> >> endobj\n")
    val draw = images.indices.map(i => s"q 1 0 0 1 0 0 cm /Im$i Do Q").mkString(" ")
    val content = draw.getBytes(US_ASCII)
    s(s"4 0 obj << /Length ${content.length} >> stream\n")
    out.write(content, 0, content.length)
    s("\nendstream endobj\n")
    for (((jpeg, w, h), i) <- images.zipWithIndex) {
      val body = transport.reverse.foldLeft(jpeg)((d, f) => pdfFilterEncode(d, f))
      val filter = (transport :+ "DCTDecode") match {
        case Seq(one) => s"/$one"
        case many => many.map("/" + _).mkString("[", " ", "]")
      }
      s(s"${5 + i} 0 obj << /Type /XObject /Subtype /Image /Width $w /Height $h" +
        s" /ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter $filter" +
        s" /Length ${body.length} >> stream\n")
      out.write(body, 0, body.length)
      s("\nendstream endobj\n")
    }
    s("%%EOF\n")
    out.toByteArray
  }

  /** Encode one PDF stream filter step (the synthesis twin of the
    * decoders in [[applyPdfFilters]]). */
  private[graft] def pdfFilterEncode(d: Array[Byte], f: String): Array[Byte] = f match {
    case "FlateDecode" => Zlib.deflate1(d)
    case "ASCIIHexDecode" =>
      val hex = "0123456789abcdef"
      val o = new ByteArrayOutputStream(d.length * 2 + 1)
      d.foreach { b => o.write(hex((b & 0xff) >> 4)); o.write(hex(b & 0x0f)) }
      o.write('>')
      o.toByteArray
    case "ASCII85Decode" =>
      val o = new ByteArrayOutputStream(d.length * 5 / 4 + 8)
      var i = 0
      while (i < d.length) {
        val n = math.min(4, d.length - i)
        var group = 0L
        var j = 0
        while (j < 4) { // zero-pad the final partial group
          group = (group << 8) | (if (i + j < d.length) d(i + j) & 0xff else 0)
          j += 1
        }
        if (n == 4 && group == 0L) o.write('z') // the all-zero shortcut
        else {
          val c = new Array[Int](5)
          var g = group
          var k = 4
          while (k >= 0) { c(k) = (g % 85).toInt; g /= 85; k -= 1 }
          var m = 0
          while (m <= n) { o.write('!' + c(m)); m += 1 } // n+1 chars for n bytes
        }
        i += n
      }
      o.write('~'); o.write('>')
      o.toByteArray
    case "RunLengthDecode" =>
      val o = new ByteArrayOutputStream(d.length + d.length / 128 + 2)
      var i = 0
      while (i < d.length) { // literal runs only — valid RLE, no compression
        val n = math.min(128, d.length - i)
        o.write(n - 1)
        o.write(d, i, n)
        i += n
      }
      o.write(128) // EOD
      o.toByteArray
    case "LZWDecode" => Lzw.encode(d, Lzw.pdf(earlyChange = true))
    case other => sys.error(s"pdfFilterEncode: unsupported filter $other")
  }

  /** Reverse a /DecodeParms predictor over a filter's decoded output
    * (ISO 32000-1 §7.4.4.4). Predictor 1 = none; 2 = TIFF horizontal
    * differencing (8-bit components only here); >= 10 = PNG row filters
    * (each row prefixed by its filter-type byte, exactly ISO/IEC 15948
    * §9.2 with bpp = colors*bpc/8). None when the geometry doesn't
    * divide the data or a parameter is out of the supported range —
    * callers then skip the stream rather than emit garbage. */
  private[graft] def unpredict(d: Array[Byte], predictor: Int, colors: Int,
                               bpc: Int, columns: Int): Option[Array[Byte]] = {
    if (predictor <= 1) return Some(d)
    if (colors < 1 || colors > 4 || columns < 1) return None
    if (predictor == 2) {
      if (bpc != 8) return None // sub-byte TIFF differencing: out of scope
      val rowBytes = colors * columns
      val out = java.util.Arrays.copyOf(d, d.length)
      var r = 0
      while (r * rowBytes < out.length) {
        val start = r * rowBytes
        val end = math.min(start + rowBytes, out.length) // tolerate partial tail
        var j = start + colors
        while (j < end) {
          out(j) = ((out(j) + out(j - colors)) & 0xff).toByte
          j += 1
        }
        r += 1
      }
      Some(out)
    } else if (predictor >= 10 && predictor <= 15) {
      if (bpc != 1 && bpc != 2 && bpc != 4 && bpc != 8 && bpc != 16) return None
      val bitsPerPixel = colors * bpc
      val bpp = math.max(1, bitsPerPixel / 8)
      val rowBytes = (columns.toLong * bitsPerPixel + 7) / 8
      if (rowBytes > Int.MaxValue - 1) return None
      val stride = rowBytes.toInt + 1
      if (d.length == 0 || d.length % stride != 0) return None
      val rows = d.length / stride
      val n = rowBytes.toInt
      val out = new Array[Byte](rows * n)
      var r = 0
      while (r < rows) {
        if (!unfilterRow(d(r * stride) & 0xff, d, r * stride + 1,
          out, (r - 1) * n, out, r * n, n, bpp)) return None
        r += 1
      }
      Some(out)
    } else None
  }

  /** The synthesis twin of [[unpredict]]: apply a predictor FORWARD so
    * the builders can write /DecodeParms streams the decode path must
    * actually reverse. PNG predictors pad the final partial row with
    * spaces (0x20 — harmless between content-stream operators) and cycle
    * the row filter type through all five, which is exactly what
    * /Predictor 15 ("PNG optimum, per row") licenses. 8-bit components
    * only — that is all the builders synthesize. */
  private[graft] def predictEncode(d: Array[Byte], predictor: Int, colors: Int,
                                   columns: Int): Array[Byte] = {
    require(colors >= 1 && columns >= 1, "bad predictor geometry")
    if (predictor <= 1) return d
    val rowBytes = colors * columns
    if (predictor == 2) {
      val out = java.util.Arrays.copyOf(d, d.length)
      var r = 0
      while (r * rowBytes < out.length) {
        val start = r * rowBytes
        val end = math.min(start + rowBytes, out.length)
        var j = end - 1
        while (j >= start + colors) {
          out(j) = ((out(j) - out(j - colors)) & 0xff).toByte
          j -= 1
        }
        r += 1
      }
      out
    } else {
      require(predictor >= 10 && predictor <= 15, s"predictor $predictor")
      val rows = (d.length + rowBytes - 1) / rowBytes
      val padded = java.util.Arrays.copyOf(d, rows * rowBytes)
      java.util.Arrays.fill(padded, d.length, padded.length, ' '.toByte)
      val out = new Array[Byte](rows * (rowBytes + 1))
      var r = 0
      while (r < rows) {
        val ft = r % 5 // exercise every row filter across the stream
        out(r * (rowBytes + 1)) = ft.toByte
        // bpc is 8, so a pixel is `colors` bytes
        filterRow(ft, padded, r * rowBytes, padded, (r - 1) * rowBytes,
          out, r * (rowBytes + 1) + 1, rowBytes, colors)
        r += 1
      }
      out
    }
  }

  /** Extract the shown text from every content stream, in stream order:
    * find each `<< ... >> stream` block, read exactly /Length bytes (so
    * compressed bytes that happen to spell "endstream" cannot truncate
    * the walk), inflate when the dict says /FlateDecode, then tokenize
    * the content for Tj / ' / " / TJ show ops, unescaping literal
    * strings (backslash escapes incl. octal, nested parens, §7.3.4.2).
    * None when no stream yields text or the container is malformed. */
  def extractPdfText(b: Array[Byte]): Option[String] = {
    if (!(b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-')) return None
    val out = new ByteArrayOutputStream(256)
    var sawStream = false
    walkPdfStreams(b) { (dictStart, dictEnd, streamBytes) =>
      // image XObjects carry pixels, not text — their bytes go to
      // extractPdfImages; tokenizing them would emit garbage
      val isImage =
        indexOfAsciiIn(b, "/Subtype /Image", dictStart, dictEnd) >= 0 ||
          indexOfAsciiIn(b, "/Subtype/Image", dictStart, dictEnd) >= 0
      if (!isImage) {
        val content = readDictFilters(b, dictStart, dictEnd).flatMap { filters =>
          // /DecodeParms predictors (§7.4.4.4): reverse TIFF horizontal
          // differencing and the PNG row filters after the filter
          // cascade; geometries we can't honor (sub-byte TIFF, rows
          // that don't divide the data) skip the stream rather than
          // emit garbage. A single predictor is applied for the whole
          // cascade — real content streams pair a predictor with one
          // Flate/LZW filter.
          val predictor = readDictInt(b, dictStart, dictEnd, "/Predictor ", 1)
          val colors = readDictInt(b, dictStart, dictEnd, "/Colors ", 1)
          val bpc = readDictInt(b, dictStart, dictEnd, "/BitsPerComponent ", 8)
          val columns = readDictInt(b, dictStart, dictEnd, "/Columns ", 1)
          val earlyChange =
            indexOfAsciiIn(b, "/EarlyChange 0", dictStart, dictEnd) < 0
          applyPdfFilters(streamBytes, filters, earlyChange)
            .flatMap(unpredict(_, predictor, colors, bpc, columns))
        }
        content.foreach { c => sawStream = true; tokenizeContent(c, out) }
      }
    }
    if (!sawStream) None else Some(new String(out.toByteArray, UTF_8))
  }

  /** Walk every `<< dict >> stream ... endstream` block: find the dict
    * bounds by `>>`-before-`stream` and '<<'/'>>' NESTING depth (stream
    * dicts commonly hold nested /DecodeParms dicts), read exactly
    * /Length bytes (so compressed bytes that happen to spell
    * "endstream" cannot truncate the walk), and hand (dictStart,
    * dictEnd, body) to `f` in document order. Streams with a missing /
    * indirect /Length or one past the buffer are skipped. */
  private def walkPdfStreams(b: Array[Byte])(
      f: (Int, Int, Array[Byte]) => Unit): Unit = {
    var searchFrom = 0
    var cursor = 0
    while ({ cursor = indexOfAscii(b, "stream", searchFrom); cursor >= 0 }) {
      // the keyword must be followed by EOL (§7.3.8.1) — "endstream"
      // contains "stream" too, so require the dict close right before
      val dictEnd = lastIndexOfAscii(b, ">>", cursor)
      val dictStart = if (dictEnd < 0) -1 else balancedDictStart(b, dictEnd)
      var bodyAt = cursor + 6
      if (bodyAt < b.length && b(bodyAt) == '\r') bodyAt += 1
      if (bodyAt < b.length && b(bodyAt) == '\n') bodyAt += 1
      val validKeyword = cursor == 0 || b(cursor - 1) != 'd' // not "endstream"
      if (validKeyword && dictStart >= 0 && dictEnd > dictStart) {
        val len = readDictLength(b, dictStart, dictEnd)
        if (len >= 0 && bodyAt + len <= b.length && len <= MaxDecodedBytes) {
          f(dictStart, dictEnd, java.util.Arrays.copyOfRange(b, bodyAt, bodyAt + len))
          searchFrom = bodyAt + len
        } else searchFrom = cursor + 6
      } else searchFrom = cursor + 6
    }
  }

  /** Extract embedded raster images from a PDF: every /Subtype /Image
    * XObject stream whose FINAL filter is DCTDecode (an embedded JPEG —
    * how PDFs overwhelmingly carry photographs) is returned as the JPEG
    * bytes, with any preceding transport filters (ASCII85/Hex, Flate,
    * LZW, RunLength) reversed first. Other image codecs (JPXDecode,
    * CCITT, JBIG2) and raw-sample images are skipped. Document order. */
  def extractPdfImages(b: Array[Byte]): Seq[Array[Byte]] = {
    if (!(b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-')) return Nil
    val images = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    walkPdfStreams(b) { (dictStart, dictEnd, streamBytes) =>
      val isImage =
        indexOfAsciiIn(b, "/Subtype /Image", dictStart, dictEnd) >= 0 ||
          indexOfAsciiIn(b, "/Subtype/Image", dictStart, dictEnd) >= 0
      if (isImage) {
        readDictFilters(b, dictStart, dictEnd).foreach { filters =>
          if (filters.lastOption.contains("DCTDecode")) {
            val earlyChange =
              indexOfAsciiIn(b, "/EarlyChange 0", dictStart, dictEnd) < 0
            applyPdfFilters(streamBytes, filters.dropRight(1), earlyChange)
              .foreach(images += _)
          }
        }
      }
    }
    images.toSeq
  }

  /** Read an integer-valued dict key (searched anywhere in
    * [dictStart,dictEnd), nested dicts included — /DecodeParms values
    * live one level down). `default` when absent or non-numeric. */
  private def readDictInt(b: Array[Byte], dictStart: Int, dictEnd: Int,
                          key: String, default: Int): Int = {
    val at = indexOfAsciiIn(b, key, dictStart, dictEnd)
    if (at < 0) return default
    var i = at + key.length
    var v = 0L
    var any = false
    while (i < dictEnd && b(i) >= '0' && b(i) <= '9' && v <= Int.MaxValue) {
      v = v * 10 + (b(i) - '0'); any = true; i += 1
    }
    if (!any || v > Int.MaxValue) default else v.toInt
  }

  private def readDictLength(b: Array[Byte], dictStart: Int, dictEnd: Int): Int = {
    val at = indexOfAsciiIn(b, "/Length ", dictStart, dictEnd)
    if (at < 0) return -1
    var i = at + 8
    var v = 0L
    var any = false
    while (i < dictEnd && b(i) >= '0' && b(i) <= '9') {
      v = v * 10 + (b(i) - '0'); any = true; i += 1
      if (v > Int.MaxValue) return -1
    }
    if (!any) -1 else v.toInt
  }

  /** Parse the dict's /Filter entry: a single name, an array of names
    * (decode order, §7.4.1), or absent (no filtering). None = the value
    * is something we can't statically read (an indirect reference). */
  private def readDictFilters(b: Array[Byte], dictStart: Int,
                              dictEnd: Int): Option[Seq[String]] = {
    val at = indexOfAsciiIn(b, "/Filter", dictStart, dictEnd)
    if (at < 0) return Some(Nil)
    var i = at + 7
    while (i < dictEnd && (b(i) == ' ' || b(i) == '\n' || b(i) == '\r' ||
      b(i) == '\t')) i += 1
    def readName(j0: Int): (String, Int) = {
      var j = j0 + 1 // past '/'
      val sb = new StringBuilder
      while (j < dictEnd && ((b(j) >= 'A' && b(j) <= 'Z') ||
        (b(j) >= 'a' && b(j) <= 'z') || (b(j) >= '0' && b(j) <= '9'))) {
        sb.append(b(j).toChar); j += 1
      }
      (sb.toString, j)
    }
    if (i < dictEnd && b(i) == '[') {
      val names = scala.collection.mutable.ArrayBuffer[String]()
      i += 1
      while (i < dictEnd && b(i) != ']') {
        if (b(i) == '/') { val (n, j) = readName(i); names += n; i = j }
        else i += 1
      }
      Some(names.toSeq)
    } else if (i < dictEnd && b(i) == '/') Some(Seq(readName(i)._1))
    else None // `/Filter 5 0 R` etc: unresolvable here
  }

  /** Apply a /Filter decode cascade in array order (§7.4.1). Filters that
    * carry no text (DCT/JPX/CCITT/JBIG2 image codecs) or that we do not
    * implement skip the stream by returning None. */
  private def applyPdfFilters(data: Array[Byte], filters: Seq[String],
                              earlyChange: Boolean): Option[Array[Byte]] =
    filters.foldLeft(Option(data)) { (acc, f) =>
      acc.flatMap { d =>
        f match {
          case "FlateDecode" => Zlib.inflate(d, nowrap = false, MaxDecodedBytes)
          case "LZWDecode" => Lzw.decode(d, Lzw.pdf(earlyChange), MaxDecodedBytes)
          case "ASCIIHexDecode" => asciiHexDecode(d)
          case "ASCII85Decode" => ascii85Decode(d, MaxDecodedBytes)
          case "RunLengthDecode" => runLengthDecode(d, MaxDecodedBytes)
          case _ => None // image codecs / crypt / unknown: no text here
        }
      }
    }

  /** ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, `>` ends the
    * data, an odd trailing digit is padded with 0. */
  private def asciiHexDecode(z: Array[Byte]): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(z.length / 2 + 1)
    var hi = -1
    var i = 0
    while (i < z.length) {
      val c = z(i) & 0xff
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else if (c == '>') { // EOD: flush the odd digit as high nibble
          if (hi >= 0) out.write(hi << 4)
          return Some(out.toByteArray)
        }
        else if (c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' ||
          c == 0) -2
        else return None // junk byte: corrupt
      if (d >= 0) {
        if (hi < 0) hi = d
        else { out.write((hi << 4) | d); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    Some(out.toByteArray) // missing '>' tolerated at end-of-data
  }

  /** ASCII85Decode (§7.4.3): 5 chars -> 4 bytes base 85, `z` = four zero
    * bytes, `~>` is EOD, a final partial group of n+1 chars yields n
    * bytes. */
  private def ascii85Decode(z: Array[Byte], cap: Int): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(z.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var n = 0
    var i = 0
    while (i < z.length) {
      val c = z(i) & 0xff
      if (c == '~') { // EOD
        if (n == 1) return None // a lone leftover char is malformed
        if (n > 1) {
          var j = n
          while (j < 5) { grp(j) = 84; j += 1 } // pad with 'u'
          var v = 0L
          var k = 0
          while (k < 5) { v = v * 85 + grp(k); k += 1 }
          var sh = 24
          var m = 0
          while (m < n - 1) { out.write(((v >> sh) & 0xff).toInt); sh -= 8; m += 1 }
        }
        return Some(out.toByteArray)
      } else if (c == 'z' && n == 0) {
        out.write(0); out.write(0); out.write(0); out.write(0)
        if (out.size() > cap) return None
      } else if (c >= '!' && c <= 'u') {
        grp(n) = c - '!'
        n += 1
        if (n == 5) {
          var v = 0L
          var k = 0
          while (k < 5) { v = v * 85 + grp(k); k += 1 }
          if (v > 0xffffffffL) return None // overflow: corrupt group
          out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
          out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
          if (out.size() > cap) return None
          n = 0
        }
      } else if (c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' ||
        c == 0) { // whitespace: skip
      } else return None
      i += 1
    }
    Some(out.toByteArray) // missing ~> tolerated at end-of-data (n<=1 dropped)
  }

  /** RunLengthDecode (§7.4.5): length byte 0-127 = copy next length+1
    * literal bytes; 129-255 = repeat next byte 257-length times; 128 =
    * EOD. */
  private def runLengthDecode(z: Array[Byte], cap: Int): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(z.length * 2 + 16)
    var i = 0
    while (i < z.length) {
      val l = z(i) & 0xff
      if (l == 128) return Some(out.toByteArray) // EOD
      if (l < 128) {
        if (i + 1 + l + 1 > z.length) return None
        out.write(z, i + 1, l + 1)
        i += 1 + l + 1
      } else {
        if (i + 1 >= z.length) return None
        var k = 257 - l
        while (k > 0) { out.write(z(i + 1)); k -= 1 }
        i += 2
      }
      if (out.size() > cap) return None
    }
    None // ran out without EOD: corrupt per §7.4.5
  }

  /** Content-stream show-op tokenizer: collects literal strings and
    * appends them to `out` when a show operator consumes them. */
  private def tokenizeContent(c: Array[Byte], out: ByteArrayOutputStream): Unit = {
    var i = 0
    var lastString: Array[Byte] = null
    var arrayStrings: scala.collection.mutable.ArrayBuffer[Array[Byte]] = null
    var lastArray: scala.collection.mutable.ArrayBuffer[Array[Byte]] = null
    while (i < c.length) {
      val ch = c(i)
      if (ch == '(') {
        val sb = new ByteArrayOutputStream(32)
        var depth = 1
        i += 1
        while (i < c.length && depth > 0) {
          val x = c(i)
          if (x == '\\' && i + 1 < c.length) {
            i += 1
            val e = c(i)
            e match {
              case 'n' => sb.write('\n'); i += 1
              case 'r' => sb.write('\r'); i += 1
              case 't' => sb.write('\t'); i += 1
              case 'b' => sb.write('\b'); i += 1
              case 'f' => sb.write('\f'); i += 1
              case '\n' => i += 1 // line continuation: swallow
              case d if d >= '0' && d <= '7' =>
                var v = 0; var k = 0
                while (k < 3 && i < c.length && c(i) >= '0' && c(i) <= '7') {
                  v = v * 8 + (c(i) - '0'); i += 1; k += 1
                }
                sb.write(v & 0xff)
              case other => sb.write(other.toInt); i += 1
            }
          } else if (x == '(') { depth += 1; sb.write('('); i += 1 }
          else if (x == ')') {
            depth -= 1
            if (depth > 0) sb.write(')')
            i += 1
          } else { sb.write(x.toInt); i += 1 }
        }
        lastString = sb.toByteArray
        if (arrayStrings != null) arrayStrings += lastString
      } else if (ch == '[') {
        arrayStrings = scala.collection.mutable.ArrayBuffer.empty
        i += 1
      } else if (ch == ']') {
        lastArray = arrayStrings
        arrayStrings = null
        i += 1
      } else if ((ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z') ||
          ch == '\'' || ch == '"') {
        val start = i
        if (ch == '\'' || ch == '"') i += 1
        else while (i < c.length && ((c(i) >= 'A' && c(i) <= 'Z') ||
          (c(i) >= 'a' && c(i) <= 'z') || c(i) == '*')) i += 1
        val op = new String(c, start, i - start, US_ASCII)
        op match {
          case "Tj" | "'" | "\"" => if (lastString != null) out.write(lastString, 0, lastString.length)
          case "TJ" => if (lastArray != null) lastArray.foreach(s => out.write(s, 0, s.length))
          case _ => () // positioning/state ops carry no text
        }
      } else i += 1
    }
  }

  /** Backward scan from the dict-closing ">>" at `dictEnd` to its
    * depth-matching "<<" (ISO 32000-1 §7.3.7 dictionaries nest): walks
    * two-byte tokens right-to-left, balancing ">>"/"<<" pairs. -1 when
    * unbalanced. */
  private def balancedDictStart(b: Array[Byte], dictEnd: Int): Int = {
    var depth = 1
    var i = dictEnd - 2
    while (i >= 0) {
      if (b(i) == '<' && b(i + 1) == '<') {
        depth -= 1
        if (depth == 0) return i
        i -= 2
      } else if (b(i) == '>' && b(i + 1) == '>') {
        depth += 1
        i -= 2
      } else i -= 1
    }
    -1
  }

  private def lastIndexOfAscii(b: Array[Byte], needle: String, before: Int): Int = {
    val nb = needle.getBytes(US_ASCII)
    var i = math.min(before, b.length - nb.length)
    while (i >= 0) {
      var j = 0
      while (j < nb.length && b(i + j) == nb(j)) j += 1
      if (j == nb.length) return i
      i -= 1
    }
    -1
  }

  private def indexOfAsciiIn(b: Array[Byte], needle: String, from: Int, until: Int): Int = {
    val at = indexOfAscii(b, needle, from)
    if (at < 0 || at >= until) -1 else at
  }

  /** Deterministic synthesis for a doc: format by doc_id % 3 (png/gif/
    * jpeg), dims from the payload length — the formulas the mm1 oracle
    * replays. The payload is the doc's UTF-8 text bytes. */
  def synthImage(docId: Long, payload: Array[Byte]): (String, Array[Byte]) = {
    val n = payload.length
    val w = 16 + n % 64
    val h = 16 + n % 48
    (docId % 3) match {
      case 0 => ("png", buildPng(w, h, payload))
      case 1 => ("gif", buildGif(w, h, payload))
      case _ => ("jpeg", buildJpeg(w, h, payload))
    }
  }
}

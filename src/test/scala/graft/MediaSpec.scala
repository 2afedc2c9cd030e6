package graft

import graft.pipeline.{Lzw, MediaCodec}
import graft.pipeline.MediaCodec.MediaInfo
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** MediaCodec parses REAL byte layouts; these fixtures are hand-assembled
  * from the public specs (PNG ISO/IEC 15948, GIF89a, ITU T.81 JPEG,
  * ISO 32000-1 PDF) independently of the builders, so a builder/parser
  * pairing bug can't self-validate. */
class MediaSpec extends AnyFunSuite {

  // ---- hand-built fixtures (independent of the builders) ----

  test("PNG: hand-assembled IHDR for 260x190 parses; CRC is verified") {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    // IHDR: length 13, then type+data, then CRC32(type+data)
    out.write(Array[Byte](0, 0, 0, 13), 0, 4)
    val typeAndData = Array[Byte](
      'I', 'H', 'D', 'R',
      0, 0, 1, 4, // width 260 big-endian
      0, 0, 0, 190.toByte, // height 190 big-endian
      8, 6, 0, 0, 0) // 8-bit RGBA
    out.write(typeAndData, 0, typeAndData.length)
    val crc = new java.util.zip.CRC32
    crc.update(typeAndData)
    val c = crc.getValue
    out.write(Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte), 0, 4)
    val b = out.toByteArray
    assert(MediaCodec.parse(b).contains(MediaInfo("png", 260, 190, 0)))
    // flip one IHDR data byte -> CRC mismatch -> rejected, not garbage dims
    val bad = b.clone(); bad(18) = 9
    assert(MediaCodec.parse(bad).isEmpty)
  }

  test("GIF: hand-assembled logical screen descriptor, little-endian dims") {
    // width 300 = 0x012C -> 2C 01, height 70 = 0x46 00
    val b = ("GIF89a".getBytes(US_ASCII) ++ Array[Byte](
      0x2c, 0x01, 0x46, 0x00, 0, 0, 0, 0x3b)).map(_.toByte)
    assert(MediaCodec.parse(b).contains(MediaInfo("gif", 300, 70, 0)))
    assert(MediaCodec.parse("GIF85a12345678".getBytes(US_ASCII)).isEmpty)
  }

  test("JPEG: SOF0 found by segment walk; COM payload can't fake a marker") {
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        ((payload.length + 2) >>> 8).toByte, ((payload.length + 2) & 0xff).toByte) ++ payload
    // COM contains bytes that LOOK like an SOF0 marker with absurd dims —
    // a length-respecting walk must skip it and read the real SOF0
    val fakeSof = Array[Byte](0xff.toByte, 0xc0.toByte, 0, 11, 8, 0x7f, 0x7f, 0x7f, 0x7f, 1, 1, 0x11, 0)
    val realSof0 = Array[Byte](8, 0, 90, 1, 0x2c) ++ Array[Byte](1, 1, 0x11, 0) // h=90 w=300
    val b = Array(0xff.toByte, 0xd8.toByte) ++ seg(0xfe, fakeSof) ++
      seg(0xc0, realSof0) ++ Array(0xff.toByte, 0xd9.toByte)
    assert(MediaCodec.parse(b).contains(MediaInfo("jpeg", 300, 90, 0)))
    // progressive SOF2 is an SOF too
    val b2 = Array(0xff.toByte, 0xd8.toByte) ++ seg(0xc2, realSof0) ++
      Array(0xff.toByte, 0xd9.toByte)
    assert(MediaCodec.parse(b2).contains(MediaInfo("jpeg", 300, 90, 0)))
    // DHT (C4) is NOT an SOF: walk must pass over it
    val b3 = Array(0xff.toByte, 0xd8.toByte) ++ seg(0xc4, Array[Byte](0, 1, 2)) ++
      seg(0xc0, realSof0) ++ Array(0xff.toByte, 0xd9.toByte)
    assert(MediaCodec.parse(b3).contains(MediaInfo("jpeg", 300, 90, 0)))
    // truncated mid-segment -> None, never an out-of-bounds read
    assert(MediaCodec.parse(b.take(9)).isEmpty)
  }

  test("PDF: page count comes from the page-tree /Count") {
    val pdf = ("%PDF-1.7\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Count 12 /Kids [] >> endobj\n%%EOF\n").getBytes(US_ASCII)
    assert(MediaCodec.parse(pdf).contains(MediaInfo("pdf", 0, 0, 12)))
    assert(MediaCodec.parse("%PDF-1.7\nno pages here".getBytes(US_ASCII)).isEmpty)
  }

  test("WAV: hand-assembled canonical 44-byte header parses (8 kHz mono, 1 s)") {
    val out = new java.io.ByteArrayOutputStream()
    def s(x: String): Unit = out.write(x.getBytes(US_ASCII), 0, 4)
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    val dataLen = 16000 // 1 s at 8000 Hz * 1 ch * 2 B
    s("RIFF"); le32(36 + dataLen); s("WAVE")
    s("fmt "); le32(16); le16(1); le16(1); le32(8000); le32(16000); le16(2); le16(16)
    s("data"); le32(dataLen)
    out.write(new Array[Byte](dataLen), 0, dataLen)
    assert(MediaCodec.parse(out.toByteArray)
      .contains(MediaInfo("wav", 0, 0, 0, 8000, 1, 1000L)))
  }

  test("MP4: hand-assembled ftyp + moov/mvhd parses (timescale 600, 2 s)") {
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Int): Unit = {
      out.write(v >>> 24); out.write((v >>> 16) & 0xff); out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    def s4(x: String): Unit = out.write(x.getBytes(US_ASCII), 0, 4)
    be32(16); s4("ftyp"); s4("mp42"); be32(0) // ftyp: brand + minor only
    be32(8 + 108); s4("moov")
    be32(108); s4("mvhd")
    val body = new Array[Byte](100)
    body(14) = 2; body(15) = 88 // timescale 600 big-endian
    body(18) = 4; body(19) = 176.toByte // duration 1200 big-endian
    out.write(body, 0, 100)
    assert(MediaCodec.parse(out.toByteArray)
      .contains(MediaInfo("mp4", 0, 0, 0, 0, 0, 2000L)))
  }

  test("WAV/MP4 synth -> parse round-trips; truncation rejected") {
    for (n <- Seq(0, 1, 255, 4096, 70001)) {
      val payload = Array.tabulate(n)(i => (i * 13 + 5).toByte)
      val rate = 8000 + (n % 8) * 1000; val ch = 1 + n % 2
      val wav = MediaCodec.buildWav(rate, ch, payload)
      assert(wav.length.toLong == MediaCodec.wavBytes(n.toLong), s"wav n=$n")
      assert(MediaCodec.parse(wav).contains(
        MediaInfo("wav", 0, 0, 0, rate, ch, n.toLong * 1000 / (rate.toLong * ch * 2))), s"wav n=$n")
      val mp4 = MediaCodec.buildMp4(1000, (n % 100000).toLong, payload)
      assert(mp4.length.toLong == MediaCodec.mp4Bytes(n.toLong), s"mp4 n=$n")
      assert(MediaCodec.parse(mp4).contains(
        MediaInfo("mp4", 0, 0, 0, 0, 0, (n % 100000).toLong)), s"mp4 n=$n")
    }
    assert(MediaCodec.parse(MediaCodec.buildWav(8000, 1, new Array[Byte](100)).take(30)).isEmpty)
    assert(MediaCodec.parse(MediaCodec.buildMp4(1000, 5L, new Array[Byte](100)).take(30)).isEmpty)
    // corrupt chunk size claiming ~4 GB must be rejected, not walk the
    // cursor backwards (Int overflow) into an infinite loop
    val evil = MediaCodec.buildWav(8000, 1, new Array[Byte](64))
    evil(16) = 0xff.toByte; evil(17) = 0xff.toByte
    evil(18) = 0xff.toByte; evil(19) = 0xf0.toByte // fmt size = 0xf0ffffff
    assert(MediaCodec.parse(evil).isEmpty)
    // WAV truncated MID-DATA: the data chunk claims more bytes than exist
    // -> rejected, never an overstated duration from the header claim
    val full = MediaCodec.buildWav(8000, 1, new Array[Byte](100)) // 144 B
    assert(MediaCodec.parse(full.take(100)).isEmpty)
    // MP4 whose moov's only child is a BARE 8-byte mvhd ending at EOF:
    // bounds must be checked before the version-byte read (was an AIOOBE)
    val bare = new java.io.ByteArrayOutputStream()
    def wbe32(v: Int): Unit = { bare.write(v >>> 24); bare.write((v >>> 16) & 0xff)
      bare.write((v >>> 8) & 0xff); bare.write(v & 0xff) }
    wbe32(16); bare.write("ftypisom".getBytes(US_ASCII), 0, 8); wbe32(0)
    wbe32(16); bare.write("moov".getBytes(US_ASCII), 0, 4)
    wbe32(8); bare.write("mvhd".getBytes(US_ASCII), 0, 4)
    assert(MediaCodec.parse(bare.toByteArray).isEmpty)
  }

  test("MP4 mvhd version 1: 64-bit duration layout parses; v2 rejected") {
    // hand-assembled v1: ver/flags(4) ctime(8) mtime(8) timescale(4)
    // duration(8) — timescale 1000, duration 2^32 + 500 ms-units, a value
    // a 32-bit read CANNOT produce
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def s4(x: String): Unit = out.write(x.getBytes(US_ASCII), 0, 4)
    be32(16); s4("ftyp"); s4("mp42"); be32(0)
    be32(8 + 120); s4("moov")
    be32(120); s4("mvhd")
    val dur = (1L << 32) + 500L
    val body = new Array[Byte](112)
    body(0) = 1 // version 1
    body(20) = 0; body(21) = 0; body(22) = 3; body(23) = 0xe8.toByte // timescale 1000
    body(24) = ((dur >>> 56) & 0xff).toByte; body(25) = ((dur >>> 48) & 0xff).toByte
    body(26) = ((dur >>> 40) & 0xff).toByte; body(27) = ((dur >>> 32) & 0xff).toByte
    body(28) = ((dur >>> 24) & 0xff).toByte; body(29) = ((dur >>> 16) & 0xff).toByte
    body(30) = ((dur >>> 8) & 0xff).toByte; body(31) = (dur & 0xff).toByte
    out.write(body, 0, 112)
    assert(MediaCodec.parse(out.toByteArray)
      .contains(MediaInfo("mp4", 0, 0, 0, 0, 0, dur))) // ts=1000 -> ms = dur
    // an mvhd claiming version 2 (doesn't exist in 14496-12) is rejected
    val v2 = out.toByteArray.clone()
    v2(16 + 8 + 8) = 2 // version byte of the mvhd body (ftyp 16 + moov hdr 8 + mvhd hdr 8)
    assert(MediaCodec.parse(v2).isEmpty)
  }

  test("MP4 mvhd v1 builder round-trips past 2^32; truncated v1 rejected") {
    for (n <- Seq(0, 255, 4096)) {
      val payload = Array.tabulate(n)(i => (i * 7 + 3).toByte)
      val dur = (1L << 32) + n
      val mp4 = MediaCodec.buildMp4(1000, dur, payload, version = 1)
      assert(mp4.length.toLong == MediaCodec.mp4BytesV1(n.toLong), s"mp4v1 n=$n")
      assert(MediaCodec.parse(mp4).contains(
        MediaInfo("mp4", 0, 0, 0, 0, 0, dur)), s"mp4v1 n=$n")
    }
    // a WELL-FRAMED mvhd box that is too short for the v1 layout (body
    // ends before the 64-bit duration): bounds must be checked against
    // the V1 size (32 B), not v0's (20 B) — 28 B of body satisfies v0's
    // check but not v1's
    val short = new java.io.ByteArrayOutputStream()
    def wbe32(v: Int): Unit = { short.write(v >>> 24); short.write((v >>> 16) & 0xff)
      short.write((v >>> 8) & 0xff); short.write(v & 0xff) }
    wbe32(16); short.write("ftypisom".getBytes(US_ASCII), 0, 8); wbe32(0)
    wbe32(8 + 36); short.write("moov".getBytes(US_ASCII), 0, 4)
    wbe32(36); short.write("mvhd".getBytes(US_ASCII), 0, 4)
    val shortBody = new Array[Byte](28); shortBody(0) = 1
    short.write(shortBody, 0, 28)
    assert(MediaCodec.parse(short.toByteArray).isEmpty)
  }

  test("PDF /Count outside the page-tree dict is not read (bounded search)") {
    // root Pages dict LACKS /Count; a later object carries one — the
    // parser must return None, not read 999 from the wrong dict
    val pdf = ("%PDF-1.7\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [] >> endobj\n" +
      "3 0 obj << /Length 20 >> stream\n/Count 999\nendstream endobj\n%%EOF\n")
      .getBytes(US_ASCII)
    assert(MediaCodec.parse(pdf).isEmpty)
    // ... and a well-formed root with /Count BEFORE its >> still parses
    val ok = ("%PDF-1.7\n2 0 obj << /Type /Pages /Count 7 /Kids [] >> endobj\n%%EOF\n")
      .getBytes(US_ASCII)
    assert(MediaCodec.parse(ok).contains(MediaInfo("pdf", 0, 0, 7)))
  }

  // ---- deep pixel decode (zlib inflate + scanline unfilter) ----

  test("PNG pixel decode round-trips exact bytes through all 5 filters") {
    // 11x10 so rows 0..9 cycle filter types 0..4 twice; pixel formula
    // has per-channel structure so Sub/Up/Average/Paeth all do real work
    val w = 11; val h = 10
    def px(r: Int, c: Int, ch: Int): Int = (r * 37 + c * 11 + ch * 89 + 5) % 256
    val png = MediaCodec.buildPngPixels(w, h, px)
    val decoded = MediaCodec.decodePngRaw(png)
    assert(decoded.isDefined)
    val (dw, dh, raw) = decoded.get
    assert(dw == w && dh == h)
    for (r <- 0 until h; c <- 0 until w; ch <- 0 until 3)
      assert((raw((r * w + c) * 3 + ch) & 0xff) == px(r, c, ch),
        s"pixel mismatch at ($r,$c,$ch)")
  }

  test("PNG pixel stats are exact integer arithmetic") {
    // 2x2 all-channels-known image: stats computable by hand
    val vals = Array(
      Array(10, 20, 30), Array(40, 50, 60),
      Array(70, 80, 90), Array(200, 210, 220))
    val png = MediaCodec.buildPngPixels(2, 2, (r, c, ch) => vals(r * 2 + c)(ch))
    val st = MediaCodec.decodePngPixels(png).get
    assert(st.width == 2 && st.height == 2)
    assert(st.stats(0) == MediaCodec.ChannelStats(10 + 40 + 70 + 200, 10, 200))
    assert(st.stats(1) == MediaCodec.ChannelStats(20 + 50 + 80 + 210, 20, 210))
    assert(st.stats(2) == MediaCodec.ChannelStats(30 + 60 + 90 + 220, 30, 220))
  }

  test("PNG pixel decode: corrupt/hostile inputs rejected, never garbage") {
    val good = MediaCodec.buildPngPixels(8, 8, (r, c, ch) => r + c + ch)
    // truncated mid-IDAT -> None (incomplete zlib stream)
    assert(MediaCodec.decodePngRaw(good.take(good.length - 20)).isEmpty)
    // a non-PNG container -> None
    assert(MediaCodec.decodePngRaw(MediaCodec.buildGif(8, 8, Array[Byte](1))).isEmpty)
    // a header-only PNG (opaque IDAT payload that is NOT valid zlib) -> None
    assert(MediaCodec.decodePngRaw(MediaCodec.buildPng(8, 8, Array[Byte](1, 2, 3))).isEmpty)
    // zlib stream inflating to the WRONG size (claims 8x8 but carries 2x2)
    val smallRaw = MediaCodec.buildPngPixels(2, 2, (_, _, _) => 7)
    val idatOf2x2 = {
      // splice 2x2's IDAT body into an 8x8 header via rebuild
      val d = MediaCodec.decodePngRaw(smallRaw); assert(d.isDefined)
      // reuse builder internals: deflate a 2x2 raw buffer, wrap in 8x8 png
      val deflater = new java.util.zip.Deflater(6)
      val raw = new Array[Byte](2 * (1 + 2 * 3)) // 2 rows, filter 0
      deflater.setInput(raw); deflater.finish()
      val zout = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
      MediaCodec.buildPng(8, 8, zout.toByteArray)
    }
    assert(MediaCodec.decodePngRaw(idatOf2x2).isEmpty)
    // an undefined filter type (7) -> None: deflate a raw buffer whose
    // first scanline claims filter 7, wrapped in a consistent 2x1 header
    val badFilter = {
      val raw = new Array[Byte](1 + 2 * 3); raw(0) = 7
      val deflater = new java.util.zip.Deflater(6)
      deflater.setInput(raw); deflater.finish()
      val zout = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
      MediaCodec.buildPng(2, 1, zout.toByteArray)
    }
    assert(MediaCodec.decodePngRaw(badFilter).isEmpty)
  }

  test("PNG pixel decode: IDAT split across chunks still inflates (spec allows it)") {
    val whole = MediaCodec.buildPngPixels(6, 4, (r, c, ch) => r * 50 + c * 3 + ch)
    // locate the single IDAT chunk and re-emit it as two consecutive IDATs
    def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    var i = 8
    var idatAt = -1
    while (idatAt < 0) {
      if (new String(whole, i + 4, 4, US_ASCII) == "IDAT") idatAt = i
      else i += 12 + be32(whole, i)
    }
    val len = be32(whole, idatAt)
    val body = whole.slice(idatAt + 8, idatAt + 8 + len)
    val cut = len / 2
    val out = new java.io.ByteArrayOutputStream()
    out.write(whole, 0, idatAt)
    def chunk(data: Array[Byte]): Unit = {
      val lenB = Array((data.length >>> 24).toByte, (data.length >>> 16).toByte,
        (data.length >>> 8).toByte, data.length.toByte)
      out.write(lenB, 0, 4)
      out.write("IDAT".getBytes(US_ASCII), 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32
      crc.update("IDAT".getBytes(US_ASCII)); crc.update(data)
      val c = crc.getValue
      out.write(Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte), 0, 4)
    }
    chunk(body.take(cut)); chunk(body.drop(cut))
    out.write(whole, idatAt + 12 + len, whole.length - (idatAt + 12 + len))
    val split = out.toByteArray
    val a = MediaCodec.decodePngPixels(split)
    val b = MediaCodec.decodePngPixels(whole)
    assert(a.isDefined && b.isDefined)
    assert(a.get.width == b.get.width && a.get.height == b.get.height)
    assert(a.get.stats.toSeq == b.get.stats.toSeq)
  }

  // ---- deep GIF pixel decode (LZW + palette) ----

  private def testPalette: Array[Byte] = Array.tabulate(768) { j =>
    val i = j / 3
    (((j % 3) match {
      case 0 => i * 7 + 13
      case 1 => i * 11 + 29
      case _ => i * 13 + 37
    }) % 256).toByte
  }

  test("LZW end-of-stream width boundary: every alignment of the final code") {
    // The decoder registers a table entry for the encoder's FINAL data
    // code (the encoder doesn't — no following byte), so when the width
    // threshold lands exactly on that registration the decoder reads the
    // trailing EOD/EOI one bit wider. A dense length sweep walks the
    // boundary through every alignment for both codec pairs; mm11's
    // sf0.001 doc 200 (a 414-byte content stream) is the wild instance
    // that caught it.
    for (n <- 200 to 320) {
      val d = Array.tabulate(n)(i => ((i * 131 + (i >> 3) * 17 + i * i % 251) & 0xff).toByte)
      val pdf = Lzw.pdf(earlyChange = true)
      val dec = Lzw.decode(Lzw.encode(d, pdf), pdf, 1 << 20)
      assert(dec.exists(java.util.Arrays.equals(_, d)), s"pdf lzw n=$n")
      val back = Lzw.decode(Lzw.encode(d, Lzw.gif(8)), Lzw.gif(8), n)
      assert(back.exists(java.util.Arrays.equals(_, d)), s"gif lzw n=$n")
    }
    // the wild instance, end-to-end through the PDF builder + extractor
    val body = ("hash the join column the query column stream hash value merge spark a key " +
      "part order window stream vector hash fast small customer order table fast customer " +
      "window order scan stream batch vector column customer key part batch column stream " +
      "customer customer hash column table filter part batch filter line filter scan filter " +
      "spark fast the window row batch").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val pdf = MediaCodec.buildPdfWithTextFiltered(2, "DOC200:".getBytes(US_ASCII), body,
      Seq("LZWDecode"))
    val txt = MediaCodec.extractPdfText(pdf)
    assert(txt.exists(_.endsWith("#END")), s"doc-200 LZW PDF failed to extract: $txt")
  }

  test("GIF LZW pair round-trips: repetitive, varied, table-reset inputs") {
    val fixtures = Seq(
      Array.emptyByteArray,
      Array[Byte](0),
      Array.fill(10000)(7.toByte), // maximal repetition
      Array.tabulate(5000)(i => (i % 256).toByte), // cycling symbols
      Array.tabulate(30000)(i => ((i * i + i / 7) % 256).toByte), // forces 12-bit + reset
      Array.tabulate(257)(i => (i % 2).toByte))
    for ((data, fi) <- fixtures.zipWithIndex) {
      val z = Lzw.encode(data, Lzw.gif(8))
      val back = Lzw.decode(z, Lzw.gif(8), data.length)
      assert(back.isDefined, s"fixture $fi failed to decompress")
      assert(java.util.Arrays.equals(back.get, data), s"fixture $fi round-trip mismatch")
    }
    // small alphabet too (min code size 2, the 4-color case)
    val small = Array.tabulate(1000)(i => (i % 4).toByte)
    val z2 = Lzw.encode(small, Lzw.gif(2))
    assert(Lzw.decode(z2, Lzw.gif(2), small.length).exists(
      java.util.Arrays.equals(_, small)))
    // truncated stream -> None under the GIF caller's exact w*h check
    val z3 = Lzw.encode(Array.tabulate(1000)(i => (i % 250).toByte), Lzw.gif(8))
    assert(Lzw.decode(z3.take(z3.length / 2), Lzw.gif(8), 1000).filter(_.length == 1000).isEmpty)
  }

  test("GIF LZW: the end code goes out at the width the decoder reads it") {
    // The decoder registers a table entry for the final data code before
    // it reads the end code, so when that entry reaches 2^width the end
    // code is one bit wider. An encoder that misses this, on a stream
    // that ends on a byte boundary, leaves the decoder a bit short. This
    // seeded 4218-byte input ends that way, after a table reset.
    val rnd = new scala.util.Random(681)
    val n = 4000 + rnd.nextInt(6000)
    val d = Array.fill(n)(rnd.nextInt(256).toByte)
    assert(n == 114 * 37)
    assert(Lzw.decode(Lzw.encode(d, Lzw.gif(8)), Lzw.gif(8), n)
      .exists(java.util.Arrays.equals(_, d)))
    // the same indices through the GIF container, read by us and by ImageIO
    val w = 114; val h = 37
    val gif = MediaCodec.buildGifPixels(w, h, testPalette, (r, c) => d(r * w + c))
    assert(MediaCodec.decodeGifIndexed(gif).exists(t => java.util.Arrays.equals(t._3, d)))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (r <- 0 until h; c <- 0 until w)
      assert(img.getRaster.getSample(c, r, 0) == (d(r * w + c) & 0xff), s"pixel ($r,$c)")
  }

  test("GIF pixel decode round-trips; stats match the palette mapping") {
    def idx(r: Int, c: Int): Int = (r * 3 + c * 5 + 2) % 256
    val w = 13; val h = 9
    val gif = MediaCodec.buildGifPixels(w, h, testPalette, idx)
    val st = MediaCodec.decodeGifPixels(gif)
    assert(st.isDefined)
    assert(st.get.width == w && st.get.height == h)
    val pal = testPalette
    for (ch <- 0 until 3) {
      val vs = for (r <- 0 until h; c <- 0 until w) yield pal(idx(r, c) * 3 + ch) & 0xff
      assert(st.get.stats(ch) == MediaCodec.ChannelStats(vs.map(_.toLong).sum, vs.min, vs.max), s"ch $ch")
    }
    // header-level parse still sees the container (mm1-style metadata)
    assert(MediaCodec.parse(gif).contains(MediaInfo("gif", w, h, 0)))
    // corrupt sub-block framing -> None
    assert(MediaCodec.decodeGifPixels(gif.take(gif.length - 30)).isEmpty)
  }

  test("GIF: forged 8192x8192 dims on a 4x4 file allocate by the file, not the header") {
    val gif = MediaCodec.buildGifPixels(4, 4, testPalette, (r, c) => r * 4 + c)
    def le16(at: Int, v: Int): Unit = { gif(at) = (v & 0xff).toByte; gif(at + 1) = (v >>> 8).toByte }
    // logical screen (bytes 6..9) and the image descriptor after the GCT
    val desc = 13 + 768
    assert(gif(desc) == 0x2c)
    Seq(6, 8, desc + 5, desc + 7).foreach(le16(_, 8192))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    MediaCodec.decodeGifPixels(gif) // warm: class loading is not the decode's
    val before = mx.getCurrentThreadAllocatedBytes
    val out = MediaCodec.decodeGifPixels(gif)
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(out.isEmpty)
    assert(allocated < (1L << 20), s"${gif.length}-byte GIF allocated ${allocated / 1024} KiB")
  }

  test("GIF LZW conformance: the JDK's ImageIO decodes our encoder's output") {
    // javax.imageio is an INDEPENDENT GIF implementation — if our
    // variable-width code schedule were self-consistent but wrong, this
    // cross-read would catch it
    def idx(r: Int, c: Int): Int = (r * 7 + c * 31 + 5) % 256
    val w = 40; val h = 25
    val gif = MediaCodec.buildGifPixels(w, h, testPalette, idx)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    assert(img != null, "ImageIO could not read our GIF at all")
    assert(img.getWidth == w && img.getHeight == h)
    val pal = testPalette
    for (r <- 0 until h; c <- 0 until w) {
      val i = idx(r, c)
      val expected = 0xff000000 | ((pal(i * 3) & 0xff) << 16) |
        ((pal(i * 3 + 1) & 0xff) << 8) | (pal(i * 3 + 2) & 0xff)
      assert(img.getRGB(c, r) == expected, s"pixel ($r,$c)")
    }
  }

  test("GIF LZW conformance: our decoder reads the JDK ImageIO writer's GIFs") {
    val w = 33; val h = 17
    val pal = testPalette
    val rs = new Array[Byte](256); val gs = new Array[Byte](256); val bs = new Array[Byte](256)
    for (i <- 0 until 256) { rs(i) = pal(i * 3); gs(i) = pal(i * 3 + 1); bs(i) = pal(i * 3 + 2) }
    val icm = new java.awt.image.IndexColorModel(8, 256, rs, gs, bs)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    def idx(r: Int, c: Int): Int = (r * 11 + c * 3 + 9) % 256
    for (r <- 0 until h; c <- 0 until w)
      bi.getRaster.setSample(c, r, 0, idx(r, c))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", baos), "no GIF writer in this JDK")
    val decoded = MediaCodec.decodeGifPixels(baos.toByteArray)
    assert(decoded.isDefined, "our decoder rejected an ImageIO-written GIF")
    assert(decoded.get.width == w && decoded.get.height == h)
    for (ch <- 0 until 3) {
      val vs = for (r <- 0 until h; c <- 0 until w) yield pal(idx(r, c) * 3 + ch) & 0xff
      assert(decoded.get.stats(ch) ==
        MediaCodec.ChannelStats(vs.map(_.toLong).sum, vs.min, vs.max), s"ch $ch")
    }
  }

  test("GIF interlace + local color table: ordered decode deinterlaces exactly") {
    def idx(r: Int, c: Int): Int = (r * 41 + c * 13 + 7) % 256
    // h=19 exercises all four interlace passes with a ragged tail
    val w = 11; val h = 19
    for ((inter, local) <- Seq((true, false), (false, true), (true, true))) {
      val gif = MediaCodec.buildGifPixels(w, h, testPalette, idx,
        interlaced = inter, localPalette = local)
      val dec = MediaCodec.decodeGifIndexed(gif)
      assert(dec.isDefined, s"interlaced=$inter local=$local rejected")
      val (dw, dh, got, pal) = dec.get
      assert(dw == w && dh == h)
      assert(java.util.Arrays.equals(pal, testPalette))
      for (r <- 0 until h; c <- 0 until w)
        assert((got(r * w + c) & 0xff) == idx(r, c),
          s"pixel ($r,$c) interlaced=$inter local=$local")
      // stats agree with the plain variant (order-invariant cross-check)
      val plain = MediaCodec.buildGifPixels(w, h, testPalette, idx)
      assert(MediaCodec.decodeGifPixels(gif).get.stats.toSeq ==
        MediaCodec.decodeGifPixels(plain).get.stats.toSeq)
    }
  }

  test("GIF interlace conformance: ImageIO reads our interlaced local-palette GIF") {
    // javax.imageio deinterlaces independently — if our builder's 4-pass
    // row schedule were self-consistent but wrong, this cross-read would
    // place rows differently and fail per-pixel
    def idx(r: Int, c: Int): Int = (r * 7 + c * 31 + 5) % 256
    val w = 40; val h = 25
    val gif = MediaCodec.buildGifPixels(w, h, testPalette, idx,
      interlaced = true, localPalette = true)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    assert(img != null, "ImageIO could not read our interlaced GIF")
    assert(img.getWidth == w && img.getHeight == h)
    val pal = testPalette
    for (r <- 0 until h; c <- 0 until w) {
      val i = idx(r, c)
      val expected = 0xff000000 | ((pal(i * 3) & 0xff) << 16) |
        ((pal(i * 3 + 1) & 0xff) << 8) | (pal(i * 3 + 2) & 0xff)
      assert(img.getRGB(c, r) == expected, s"pixel ($r,$c)")
    }
  }

  test("GIF interlace conformance: our ordered decode reads ImageIO's interlaced GIFs") {
    val w = 33; val h = 21
    val pal = testPalette
    val rs = new Array[Byte](256); val gs = new Array[Byte](256); val bs = new Array[Byte](256)
    for (i <- 0 until 256) { rs(i) = pal(i * 3); gs(i) = pal(i * 3 + 1); bs(i) = pal(i * 3 + 2) }
    val icm = new java.awt.image.IndexColorModel(8, 256, rs, gs, bs)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    def idx(r: Int, c: Int): Int = (r * 11 + c * 3 + 9) % 256
    for (r <- 0 until h; c <- 0 until w)
      bi.getRaster.setSample(c, r, 0, idx(r, c))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT) // = interlaced
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    ios.close(); writer.dispose()
    val bytes = baos.toByteArray
    // confirm the writer actually set the interlace flag (descriptor is
    // after the 13-byte header + GCT when present)
    val packed = bytes(10) & 0xff
    val descAt = 13 + (if ((packed & 0x80) != 0) 3 * (1 << ((packed & 7) + 1)) else 0)
    assert((bytes(descAt) & 0xff) == 0x2c, "unexpected GIF layout from ImageIO")
    assert((bytes(descAt + 9) & 0x40) != 0, "ImageIO did not write an interlaced GIF")
    val dec = MediaCodec.decodeGifIndexed(bytes)
    assert(dec.isDefined, "our decoder rejected ImageIO's interlaced GIF")
    val (dw, dh, got, gotPal) = dec.get
    assert(dw == w && dh == h)
    for (r <- 0 until h; c <- 0 until w) {
      val ci = got(r * w + c) & 0xff
      val rgb = ((gotPal(ci * 3) & 0xff) << 16) | ((gotPal(ci * 3 + 1) & 0xff) << 8) |
        (gotPal(ci * 3 + 2) & 0xff)
      val want = idx(r, c)
      val wantRgb = ((pal(want * 3) & 0xff) << 16) | ((pal(want * 3 + 1) & 0xff) << 8) |
        (pal(want * 3 + 2) & 0xff)
      assert(rgb == wantRgb, s"pixel ($r,$c)")
    }
  }

  // ---- deep JPEG decode (huffman entropy + IDCT) ----

  test("JPEG DC-only round-trips: huffman decode + flat-block IDCT exact") {
    import graft.pipeline.JpegCodec
    def dc(br: Int, bc: Int): Int = ((br * 5 + bc * 11 + 3) % 256) - 128
    val w = 21; val h = 13 // non-multiple-of-8 dims: MCU padding + crop
    val jpg = JpegCodec.buildJpegDcOnly(w, h, dc)
    val st = JpegCodec.decodeJpegPixels(jpg)
    assert(st.isDefined)
    assert(st.get.width == w && st.get.height == h)
    val vs = for (r <- 0 until h; c <- 0 until w) yield dc(r / 8, c / 8) + 128
    for (ch <- 0 until 3)
      assert(st.get.stats(ch) ==
        MediaCodec.ChannelStats(vs.map(_.toLong).sum, vs.min, vs.max), s"ch $ch")
    // truncated entropy data -> None
    assert(JpegCodec.decodeJpegPixels(jpg.take(jpg.length / 2)).isEmpty)
    // a metadata-only mm1 container (no SOS) -> None, not a crash
    assert(JpegCodec.decodeJpegPixels(
      MediaCodec.buildJpeg(16, 16, Array[Byte](1, 2, 3))).isEmpty)
  }

  test("JPEG conformance: the JDK's ImageIO decodes our DC-only output exact") {
    import graft.pipeline.JpegCodec
    // flat blocks are the one case where EVERY conformant IDCT is
    // bit-exact, so the cross-read must match pixel-for-pixel
    def dc(br: Int, bc: Int): Int = ((br * 17 + bc * 29 + 60) % 250) - 125
    val w = 40; val h = 24
    val jpg = JpegCodec.buildJpegDcOnly(w, h, dc)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(img != null, "ImageIO could not read our JPEG at all")
    assert(img.getWidth == w && img.getHeight == h)
    for (r <- 0 until h; c <- 0 until w) {
      val v = dc(r / 8, c / 8) + 128
      // raw raster samples, NOT getRGB: Java's grayscale ColorSpace is
      // linear, and getRGB would bake a linear->sRGB transform into the
      // comparison (the decoded JPEG samples themselves are what T.81
      // defines)
      val got = img.getRaster.getSample(c, r, 0)
      assert(got == v, s"pixel ($r,$c): got $got want $v")
    }
  }

  test("JPEG conformance: our decoder reads ImageIO-written JPEGs within IDCT tolerance") {
    import graft.pipeline.JpegCodec
    // a real-world encoder: quant tables, AC coefficients, the works.
    // Conformant IDCTs may differ by +-1 per sample (T.81 Annex A), so
    // compare our plane against ImageIO's own decode with that tolerance.
    val w = 48; val h = 32
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (r <- 0 until h; c <- 0 until w)
      bi.getRaster.setSample(c, r, 0, (r * r + c * 3 + (r * c) / 5) % 256)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpg", baos), "no JPEG writer in this JDK")
    val bytes = baos.toByteArray
    val ours = JpegCodec.decodePlanes(bytes)
    assert(ours.isDefined, "our decoder rejected an ImageIO-written JPEG")
    val (dw, dh, planes) = ours.get
    assert(dw == w && dh == h && planes.length == 1)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var exact = 0
    for (r <- 0 until h; c <- 0 until w) {
      val mine = planes(0)(r * w + c)
      val theirs = ref.getRaster.getSample(c, r, 0) // raw sample, not sRGB-converted
      assert(math.abs(mine - theirs) <= 1, s"pixel ($r,$c): ours $mine imageio $theirs")
      if (mine == theirs) exact += 1
    }
    info(s"exact pixels: $exact/${w * h} (rest within +-1)")
    assert(exact > w * h / 2) // the overwhelming majority must agree exactly
  }

  test("JPEG 4:2:0 DC-only round-trips: MCU interleave + upsample + convert exact") {
    import graft.pipeline.JpegCodec
    def dcY(br: Int, bc: Int): Int = ((br * 5 + bc * 11 + 3) % 256) - 128
    // non-multiple-of-16 dims: partial MCUs on both axes, chroma crop
    val w = 21; val h = 13
    val jpg = JpegCodec.buildJpegDcOnly420(w, h, dcY)
    // the header walk must see a 3-component SOF with 2x2 luma
    assert(MediaCodec.parse(jpg).contains(MediaInfo("jpeg", w, h, 0)))
    val st = JpegCodec.decodeJpegPixels(jpg)
    assert(st.isDefined)
    assert(st.get.width == w && st.get.height == h)
    // flat-128 chroma -> RGB = luma on every channel, exactly
    val vs = for (r <- 0 until h; c <- 0 until w) yield dcY(r / 8, c / 8) + 128
    for (ch <- 0 until 3)
      assert(st.get.stats(ch) ==
        MediaCodec.ChannelStats(vs.map(_.toLong).sum, vs.min, vs.max), s"ch $ch")
    // truncated entropy data -> None
    assert(JpegCodec.decodeJpegPixels(jpg.take(jpg.length / 2)).isEmpty)
  }

  test("JPEG 4:2:0 conformance: ImageIO decodes our DC-only 4:2:0 output exact") {
    import graft.pipeline.JpegCodec
    def dcY(br: Int, bc: Int): Int = ((br * 17 + bc * 29 + 60) % 250) - 125
    val w = 40; val h = 24
    val jpg = JpegCodec.buildJpegDcOnly420(w, h, dcY)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(img != null, "ImageIO could not read our 4:2:0 JPEG at all")
    assert(img.getWidth == w && img.getHeight == h)
    // flat luma blocks + constant-128 chroma: every conformant decoder
    // (any IDCT, any upsampling filter) must reproduce gray(v) exactly
    for (r <- 0 until h; c <- 0 until w) {
      val v = dcY(r / 8, c / 8) + 128
      val expected = 0xff000000 | (v << 16) | (v << 8) | v
      assert(img.getRGB(c, r) == expected,
        s"pixel ($r,$c): got ${Integer.toHexString(img.getRGB(c, r))} want gray $v")
    }
  }

  test("JPEG 4:2:0 conformance: our decoder reads ImageIO-written color JPEGs") {
    import graft.pipeline.JpegCodec
    // a real-world color encoder: quant tables, AC coefficients, chroma
    // subsampling (the JDK writer's default for 3-band images). Our
    // decode (MCU interleave + fancy upsample + YCbCr->RGB) is compared
    // against ImageIO's own decode of the same bytes: both IDCTs are
    // conformant (+-1 per T.81 Annex A), upsampling mixes neighbors and
    // color conversion scales by up to 1.77 — so allow +-3 per sample
    // and require the bulk to sit within +-1.
    val w = 48; val h = 32
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (r <- 0 until h; c <- 0 until w) {
      val red = (r * 7 + c * 3) % 256
      val grn = (r * 2 + c * 11 + 40) % 256
      val blu = (r * 13 + c + 90) % 256
      bi.setRGB(c, r, 0xff000000 | (red << 16) | (grn << 8) | blu)
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpg", baos), "no JPEG writer in this JDK")
    val bytes = baos.toByteArray
    val ours = JpegCodec.decodePlanes(bytes)
    assert(ours.isDefined, "our decoder rejected an ImageIO-written color JPEG")
    val (dw, dh, planes) = ours.get
    assert(dw == w && dh == h && planes.length == 3)
    // record what the writer actually emitted (expected: subsampled chroma)
    val sof = {
      var i = 2; var res = ""
      while (res.isEmpty) {
        val m = bytes(i + 1) & 0xff
        val len = ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
        if (m == 0xc0 || m == 0xc1) {
          val nc = bytes(i + 9) & 0xff
          res = (0 until nc).map { ci =>
            val s = bytes(i + 11 + 3 * ci) & 0xff
            s"${(s >> 4) & 0xf}x${s & 0xf}"
          }.mkString(",")
        } else i += 2 + len - 2 + 2
      }
      res
    }
    info(s"ImageIO writer sampling factors: $sof")
    assert(sof != "1x1,1x1,1x1", "writer unexpectedly emitted 4:4:4 — test would not exercise upsampling")
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    def ourRgb(r: Int, c: Int): (Int, Int, Int) = {
      val y = planes(0)(r * w + c)
      val cb = planes(1)(r * w + c) - 128
      val cr = planes(2)(r * w + c) - 128
      def clamp(d: Double): Int = {
        val v = math.round(d).toInt
        if (v < 0) 0 else if (v > 255) 255 else v
      }
      (clamp(y + 1.402 * cr), clamp(y - 0.344136 * cb - 0.714136 * cr),
        clamp(y + 1.772 * cb))
    }
    var within1 = 0
    for (r <- 0 until h; c <- 0 until w) {
      val theirs = ref.getRGB(c, r)
      val (tr, tg, tb) = ((theirs >> 16) & 0xff, (theirs >> 8) & 0xff, theirs & 0xff)
      val (mr, mg, mb) = ourRgb(r, c)
      val d = math.max(math.abs(mr - tr), math.max(math.abs(mg - tg), math.abs(mb - tb)))
      assert(d <= 3, s"pixel ($r,$c): ours ($mr,$mg,$mb) imageio ($tr,$tg,$tb)")
      if (d <= 1) within1 += 1
    }
    info(s"pixels within +-1 on all channels: $within1/${w * h} (rest within +-3)")
    assert(within1 > (w * h) * 8 / 10)
  }

  // ---- progressive JPEG (SOF2 multi-scan) ----

  test("JPEG progressive DC-only 4:2:0 round-trips: multi-scan accumulation exact") {
    import graft.pipeline.JpegCodec
    def dcY(br: Int, bc: Int): Int = ((br * 5 + bc * 11 + 3) % 256) - 128
    // non-multiple-of-16 dims: partial MCUs, chroma crop, AND an odd
    // number of blocks so the AC EOB runs aren't powers of two
    val w = 21; val h = 13
    val jpg = JpegCodec.buildJpegDcOnly420Progressive(w, h, dcY)
    // header walk sees the SOF2 frame like any other SOFn
    assert(MediaCodec.parse(jpg).contains(MediaInfo("jpeg", w, h, 0)))
    val st = JpegCodec.decodeJpegPixels(jpg)
    assert(st.isDefined)
    assert(st.get.width == w && st.get.height == h)
    // DC first (Al=1) + DC refinement (Al=0) reassemble every DC exactly;
    // AC scans are pure EOB runs; flat-128 chroma -> RGB = luma
    val vs = for (r <- 0 until h; c <- 0 until w) yield dcY(r / 8, c / 8) + 128
    for (ch <- 0 until 3)
      assert(st.get.stats(ch) ==
        MediaCodec.ChannelStats(vs.map(_.toLong).sum, vs.min, vs.max), s"ch $ch")
    // negative DCs exercise the two's-complement (v>>1<<1)|(v&1) identity
    assert(vs.exists(_ < 128))
  }

  test("JPEG progressive truncation: completed scans survive, half a scan doesn't") {
    import graft.pipeline.JpegCodec
    def dcY(br: Int, bc: Int): Int = ((br * 7 + bc * 13 + 50) % 256) - 128
    val w = 24; val h = 16
    val jpg = JpegCodec.buildJpegDcOnly420Progressive(w, h, dcY)
    // crawl JPEGs are routinely cut short: drop the trailing AC scans +
    // EOI. Both DC scans completed, all ACs are zero anyway -> the
    // truncated decode must still produce the EXACT same pixels.
    val sosPositions = (0 until jpg.length - 1).filter(i =>
      (jpg(i) & 0xff) == 0xff && (jpg(i + 1) & 0xff) == 0xda)
    assert(sosPositions.length == 5, "expected 5 scans")
    val cutAtScan3 = jpg.take(sosPositions(2))
    val st = JpegCodec.decodeJpegPixels(cutAtScan3)
    assert(st.isDefined, "truncation after completed DC scans must still decode")
    val vs = for (r <- 0 until h; c <- 0 until w) yield dcY(r / 8, c / 8) + 128
    assert(st.get.stats(0) == MediaCodec.ChannelStats(vs.map(_.toLong).sum, vs.min, vs.max))
    // cut INSIDE the first scan's entropy data: no completed scan -> None
    assert(JpegCodec.decodeJpegPixels(jpg.take(sosPositions(0) + 20)).isEmpty)
  }

  test("JPEG progressive conformance: ImageIO decodes our progressive output exact") {
    import graft.pipeline.JpegCodec
    def dcY(br: Int, bc: Int): Int = ((br * 17 + bc * 29 + 60) % 250) - 125
    val w = 40; val h = 24
    val jpg = JpegCodec.buildJpegDcOnly420Progressive(w, h, dcY)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(img != null, "ImageIO could not read our progressive JPEG at all")
    assert(img.getWidth == w && img.getHeight == h)
    for (r <- 0 until h; c <- 0 until w) {
      val v = dcY(r / 8, c / 8) + 128
      val expected = 0xff000000 | (v << 16) | (v << 8) | v
      assert(img.getRGB(c, r) == expected,
        s"pixel ($r,$c): got ${Integer.toHexString(img.getRGB(c, r))} want gray $v")
    }
  }

  test("JPEG progressive conformance: our decoder reads ImageIO-written progressive JPEGs") {
    import graft.pipeline.JpegCodec
    // the JDK writer's progressive mode emits the standard multi-scan
    // script (spectral bands + successive approximation), so this drives
    // the AC first AND AC refinement paths with real coefficient data
    val w = 48; val h = 32
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (r <- 0 until h; c <- 0 until w) {
      val red = (r * 7 + c * 3) % 256
      val grn = (r * 2 + c * 11 + 40) % 256
      val blu = (r * 13 + c + 90) % 256
      bi.setRGB(c, r, 0xff000000 | (red << 16) | (grn << 8) | blu)
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val wp = writer.getDefaultWriteParam
    wp.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), wp)
    ios.close(); writer.dispose()
    val bytes = baos.toByteArray
    // the writer must actually have produced a progressive (SOF2) frame
    assert((0 until bytes.length - 1).exists(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc2),
      "JDK writer did not emit SOF2 — progressive path not exercised")
    val nScans = (0 until bytes.length - 1).count(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xda)
    info(s"JDK progressive writer emitted $nScans scans")
    assert(nScans > 3, "expected a multi-scan progressive script")
    val ours = JpegCodec.decodePlanes(bytes)
    assert(ours.isDefined, "our decoder rejected an ImageIO-written progressive JPEG")
    val (dw, dh, planes) = ours.get
    assert(dw == w && dh == h && planes.length == 3)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    def ourRgb(r: Int, c: Int): (Int, Int, Int) = {
      val y = planes(0)(r * w + c)
      val cb = planes(1)(r * w + c) - 128
      val cr = planes(2)(r * w + c) - 128
      def clamp(d: Double): Int = {
        val v = math.round(d).toInt
        if (v < 0) 0 else if (v > 255) 255 else v
      }
      (clamp(y + 1.402 * cr), clamp(y - 0.344136 * cb - 0.714136 * cr),
        clamp(y + 1.772 * cb))
    }
    var within1 = 0
    for (r <- 0 until h; c <- 0 until w) {
      val theirs = ref.getRGB(c, r)
      val (tr, tg, tb) = ((theirs >> 16) & 0xff, (theirs >> 8) & 0xff, theirs & 0xff)
      val (mr, mg, mb) = ourRgb(r, c)
      val d = math.max(math.abs(mr - tr), math.max(math.abs(mg - tg), math.abs(mb - tb)))
      assert(d <= 3, s"pixel ($r,$c): ours ($mr,$mg,$mb) imageio ($tr,$tg,$tb)")
      if (d <= 1) within1 += 1
    }
    info(s"pixels within +-1 on all channels: $within1/${w * h} (rest within +-3)")
    assert(within1 > (w * h) * 8 / 10)
  }

  // ---- one scan loop for sequential and progressive frames ----

  private def jpegPlanes(b: Array[Byte]): Option[Seq[Seq[Int]]] =
    graft.pipeline.JpegCodec.decodePlanes(b).map(_._3.map(_.toSeq).toSeq)

  /** Byte offsets of the SOS markers (0xFFDA) in `b`. */
  private def sosAt(b: Array[Byte]): Seq[Int] =
    (0 until b.length - 1).filter(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xda)

  private def imageioGrayJpeg(w: Int, h: Int): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (r <- 0 until h; c <- 0 until w)
      bi.getRaster.setSample(c, r, 0, (r * r + c * 3 + (r * c) / 5) % 256)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpg", baos), "no JPEG writer in this JDK")
    baos.toByteArray
  }

  test("JPEG sequential: bytes after the scan and no EOI decode like the intact file") {
    import graft.pipeline.JpegCodec
    def dc(br: Int, bc: Int): Int = ((br * 5 + bc * 11 + 3) % 256) - 128
    for (jpg <- Seq(JpegCodec.buildJpegDcOnly(21, 13, dc),
      JpegCodec.buildJpegDcOnly420(21, 13, dc), imageioGrayJpeg(48, 32))) {
      assert((jpg(jpg.length - 2) & 0xff) == 0xff && (jpg.last & 0xff) == 0xd9)
      val want = jpegPlanes(jpg)
      assert(want.isDefined)
      val noEoi = jpg.dropRight(2)
      assert(jpegPlanes(noEoi) == want, "no EOI")
      assert(jpegPlanes(noEoi ++ Array[Byte](0, 0x11, 0x22, 0x7f)) == want, "trailing bytes")
      // damage after the completed scan: a DHT of table class 4, and a
      // segment length past the end, where EOI belongs
      assert(jpegPlanes(noEoi ++ Array(0xff, 0xc4, 0, 5, 0x40, 0, 0).map(_.toByte)) == want, "bad DHT")
      assert(jpegPlanes(noEoi ++ Array(0xff, 0xe1, 0x7f, 0).map(_.toByte)) == want, "bad length")
    }
  }

  test("JPEG progressive: marker damage after completed scans keeps them, as truncation does") {
    import graft.pipeline.JpegCodec
    def dcY(br: Int, bc: Int): Int = ((br * 7 + bc * 13 + 50) % 256) - 128
    val jpg = JpegCodec.buildJpegDcOnly420Progressive(24, 16, dcY)
    val third = sosAt(jpg)(2) // the first AC scan, after both DC scans
    val truncated = jpegPlanes(jpg.take(third))
    assert(truncated.isDefined)
    def damaged(at: Int, v: Int): Array[Byte] = { val d = jpg.clone(); d(at) = v.toByte; d }
    assert(jpegPlanes(damaged(third + 5, 9)) == truncated, "unknown component id")
    assert(jpegPlanes(damaged(third + 6, 0x05)) == truncated, "AC table selector 5")
    assert(jpegPlanes(damaged(third + 2, 0x7f)) == truncated, "SOS length past the end")
    // before any completed scan the same damage is None, never a throw
    val first = sosAt(jpg).head
    assert(jpegPlanes(damaged(first + 6, 0x50)).isEmpty, "DC table selector 5")
    assert(jpegPlanes(damaged(first + 5, 9)).isEmpty, "unknown component id")
  }

  test("JPEG sequential: an SOS that is not the whole 0..63 band at full precision is None") {
    import graft.pipeline.JpegCodec
    def dc(br: Int, bc: Int): Int = ((br * 5 + bc * 11 + 3) % 256) - 128
    for (jpg <- Seq(JpegCodec.buildJpegDcOnly(21, 13, dc), imageioGrayJpeg(48, 32))) {
      val sos = sosAt(jpg).head
      val ns = jpg(sos + 4) & 0xff
      val ssAt = sos + 5 + 2 * ns // Ss, Se, Ah/Al follow the component list
      assert(jpegPlanes(jpg).isDefined)
      for ((off, v, what) <- Seq((0, 1, "Ss 1"), (1, 62, "Se 62"), (1, 0, "Se 0"),
        (2, 0x01, "Al 1"), (2, 0x10, "Ah 1"))) {
        val bad = jpg.clone()
        bad(ssAt + off) = v.toByte
        assert(jpegPlanes(bad).isEmpty, what)
      }
      // a selector past the four table slots: None, not an index exception
      val badTable = jpg.clone()
      badTable(sos + 6) = 0x44
      assert(jpegPlanes(badTable).isEmpty, "table selector 4")
    }
  }

  // ---- deep PDF text extraction (content-stream tokenize + Flate) ----

  test("PDF text: hand-built content stream with escapes, Tj, TJ and ' ops") {
    val content = "BT /F1 12 Tf 72 720 Td " +
      "(Hello \\(World\\)) Tj " + // escaped parens
      "(nested (parens) pass) Tj " +
      "(back\\\\slash and \\101\\102C octal) Tj " + // \101\102 = AB
      "[(array ) -250 (parts)] TJ " +
      "(quote op) ' ET"
    val body = content.getBytes(US_ASCII)
    val pdf = ("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${body.length} >> stream\n").getBytes(US_ASCII) ++
      body ++ "\nendstream endobj\n%%EOF\n".getBytes(US_ASCII)
    assert(MediaCodec.extractPdfText(pdf).contains(
      "Hello (World)nested (parens) passback\\slash and ABC octalarray partsquote op"))
  }

  test("PDF text: builder round-trips raw and FlateDecode, hostile payloads") {
    for (flate <- Seq(false, true)) {
      // payload exercises escaping: parens, backslash, and the words
      // "stream"/"endstream" INSIDE the body (the /Length walk must not
      // be fooled by them)
      val body = "real (text) with \\ and stream endstream words"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val pdf = MediaCodec.buildPdfWithText(3, "HDR:".getBytes(US_ASCII), body, flate)
      assert(MediaCodec.parse(pdf).contains(MediaInfo("pdf", 0, 0, 3)), s"flate=$flate")
      assert(MediaCodec.extractPdfText(pdf).contains(
        "HDR:real (text) with \\ and stream endstream words#END"), s"flate=$flate")
    }
    // truncated flate stream -> None, not garbage
    val good = MediaCodec.buildPdfWithText(1, "H".getBytes(US_ASCII),
      ("x" * 500).getBytes(US_ASCII), flate = true)
    assert(MediaCodec.extractPdfText(good.take(good.length / 2)).isEmpty)
    // non-PDF -> None
    assert(MediaCodec.extractPdfText("not a pdf".getBytes(US_ASCII)).isEmpty)
  }

  test("PDF text: stream dict with NESTED /DecodeParms dict is not skipped") {
    // the stream dict carries a nested dictionary — real-world Flate PDFs
    // commonly do (/DecodeParms) — so the dict-start search must match
    // '<<'/'>>' nesting depth; the nearest '<<' would leave /Length
    // outside the searched range and silently skip the stream
    val raw = "BT (nested dict ok) Tj ET".getBytes(US_ASCII)
    val deflater = new java.util.zip.Deflater(6)
    deflater.setInput(raw); deflater.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val z = zout.toByteArray
    val pdf = ("%PDF-1.4\n" +
      "2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n" +
      s"4 0 obj << /Length ${z.length} /Filter /FlateDecode " +
      "/DecodeParms << /Predictor 1 /Columns 4 >> >> stream\n").getBytes(US_ASCII) ++
      z ++ "\nendstream endobj\n%%EOF\n".getBytes(US_ASCII)
    assert(MediaCodec.extractPdfText(pdf).contains("nested dict ok"))
    // same for an uncompressed stream with a nested dict
    val body = "BT (plain nested) Tj ET".getBytes(US_ASCII)
    val pdf2 = ("%PDF-1.4\n" +
      s"4 0 obj << /Foo << /Bar 1 >> /Length ${body.length} >> stream\n").getBytes(US_ASCII) ++
      body ++ "\nendstream endobj\n%%EOF\n".getBytes(US_ASCII)
    assert(MediaCodec.extractPdfText(pdf2).contains("plain nested"))
  }

  test("PDF filters: every implemented filter and a cascade round-trip") {
    val body = ("filters: (parens) \\ stream endstream " +
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa 0123456789").getBytes(UTF_8)
    val expected = "F:" + new String(body, UTF_8) + "#END"
    for (filters <- Seq(
      Seq("ASCIIHexDecode"),
      Seq("ASCII85Decode"),
      Seq("RunLengthDecode"),
      Seq("LZWDecode"),
      Seq("FlateDecode"),
      Seq("ASCII85Decode", "FlateDecode"), // cascade: a85 FIRST in decode order
      Seq("ASCIIHexDecode", "LZWDecode", "RunLengthDecode"))) {
      val pdf = MediaCodec.buildPdfWithTextFiltered(2, "F:".getBytes(US_ASCII),
        body, filters)
      assert(MediaCodec.parse(pdf).contains(MediaInfo("pdf", 0, 0, 2)),
        s"filters=$filters")
      assert(MediaCodec.extractPdfText(pdf).contains(expected),
        s"filters=$filters")
    }
    // image codecs carry no text: the DCT stream is skipped, the real one
    // still extracts
    val good = MediaCodec.buildPdfWithTextFiltered(1, "F:".getBytes(US_ASCII),
      body, Seq("FlateDecode"))
    val dct = ("9 0 obj << /Length 3 /Filter /DCTDecode >> stream\nabc\n" +
      "endstream endobj\n").getBytes(US_ASCII)
    assert(MediaCodec.extractPdfText(good.dropRight(6) ++ dct).contains(expected))
    // an indirect /Filter reference can't be resolved -> stream skipped,
    // not misread as raw bytes
    val indirect = ("%PDF-1.4\n" +
      "7 0 obj << /Length 8 /Filter 8 0 R >> stream\nBT(x)TjET\n" +
      "endstream endobj\n%%EOF\n").getBytes(US_ASCII)
    assert(MediaCodec.extractPdfText(indirect).isEmpty)
  }

  test("PDF LZW: spec bitstream details — width bumps, EarlyChange, K[w]K") {
    // ASCII85 known-vector first (public example): "Man " <-> "9jqo^"
    val a85 = MediaCodec.pdfFilterEncode("Man ".getBytes(US_ASCII), "ASCII85Decode")
    assert(new String(a85, US_ASCII) == "9jqo^~>",
      s"ASCII85 encoder does not match the public vector: ${new String(a85, US_ASCII)}")
    // LZW round-trips across the 9->10->11 bit width boundaries: inputs
    // with many distinct pairs grow the table past 511 and 1023 entries
    for (n <- Seq(3, 64, 2000, 9000)) {
      val d = Array.tabulate(n)(i => ((i * 131 + (i >> 3) * 17 + i * i % 251) & 0xff).toByte)
      val enc = Lzw.encode(d, Lzw.pdf(earlyChange = true))
      val dec = Lzw.decode(enc, Lzw.pdf(earlyChange = true), 1 << 20)
      assert(dec.isDefined, s"n=$n")
      assert(java.util.Arrays.equals(dec.get, d), s"n=$n")
      // repetitive input drives the K[w]K case (code == next table slot)
      val rep = Array.fill(n)('a'.toByte)
      val encR = Lzw.encode(rep, Lzw.pdf(earlyChange = true))
      val decR = Lzw.decode(encR, Lzw.pdf(earlyChange = true), 1 << 20)
      assert(decR.isDefined && java.util.Arrays.equals(decR.get, rep), s"rep n=$n")
    }
    // EarlyChange mismatch MATTERS: an EC=1 stream long enough to cross
    // the first width bump must NOT decode identically under EC=0
    val big = Array.tabulate(4000)(i => ((i * 7 + i / 5) & 0xff).toByte)
    val ec1 = Lzw.encode(big, Lzw.pdf(earlyChange = true))
    val underEc0 = Lzw.decode(ec1, Lzw.pdf(earlyChange = false), 1 << 20)
    assert(!underEc0.exists(java.util.Arrays.equals(_, big)),
      "EC0 decode of an EC1 stream should not round-trip — test is vacuous")
    // and the dict's /EarlyChange 0 is honored end-to-end: hand-build a
    // PDF whose stream is EC=0-encoded
    val raw = "BT (early change zero) Tj ET".getBytes(US_ASCII)
    val z = Lzw.encode(raw, Lzw.pdf(earlyChange = false))
    val pdf = ("%PDF-1.4\n2 0 obj << /Type /Pages /Count 1 /Kids [] >> endobj\n" +
      s"4 0 obj << /Length ${z.length} /Filter /LZWDecode " +
      "/DecodeParms << /EarlyChange 0 >> >> stream\n").getBytes(US_ASCII) ++
      z ++ "\nendstream endobj\n%%EOF\n".getBytes(US_ASCII)
    assert(MediaCodec.extractPdfText(pdf).contains("early change zero"))
    // corrupt guard: a non-root first code is rejected (9-bit 100000010
    // = code 258 with an empty table)
    assert(Lzw.decode(Array[Byte](0x81.toByte, 0x00),
      Lzw.pdf(earlyChange = true), 1 << 20).isEmpty)
    // a declared PNG predictor whose geometry does not divide the data
    // (28 decoded bytes, stride 5) skips the stream instead of emitting
    // garbage — the declared predictor is a lie for this stream
    val zp = Lzw.encode(raw, Lzw.pdf(earlyChange = true))
    val pdfPred = ("%PDF-1.4\n" +
      s"4 0 obj << /Length ${zp.length} /Filter /LZWDecode " +
      "/DecodeParms << /Predictor 12 /Columns 4 >> >> stream\n").getBytes(US_ASCII) ++
      zp ++ "\nendstream endobj\n%%EOF\n".getBytes(US_ASCII)
    assert(MediaCodec.extractPdfText(pdfPred).isEmpty)
  }

  // ---- LZW cross-read against the JDK's TIFF LZW coder ----

  /** A gray TIFF written by the JDK's ImageIO TIFF writer with LZW
    * compression (TIFF 6.0 LZW: MSB-first codes, the EarlyChange 1
    * schedule), as one tile when `tiled` (tile sides must be multiples
    * of 16), else in the writer's strips. */
  private def jdkLzwTiff(w: Int, h: Int, sample: (Int, Int) => Int,
                         tiled: Boolean): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (r <- 0 until h; c <- 0 until w) bi.getRaster.setSample(c, r, 0, sample(r, c) & 0xff)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val wp = writer.getDefaultWriteParam
    wp.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    wp.setCompressionType("LZW")
    if (tiled) {
      wp.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      wp.setTiling(w, h, 0, 0)
    }
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), wp)
    ios.close(); writer.dispose()
    baos.toByteArray
  }

  /** The first IFD's entry for `tag`: (entry offset, field type, values). */
  private def tiffEntry(t: Array[Byte], tag: Int): (Int, Int, Seq[Int]) = {
    val le = t(0) == 'I'
    def u(at: Int, n: Int): Int = {
      var v = 0
      for (k <- 0 until n) v = (v << 8) | (t(at + (if (le) n - 1 - k else k)) & 0xff)
      v
    }
    val ifd = u(4, 4)
    val e = (0 until u(ifd, 2)).map(k => ifd + 2 + 12 * k).find(u(_, 2) == tag)
      .getOrElse(fail(s"TIFF tag $tag missing"))
    val typ = u(e + 2, 2)
    val n = u(e + 4, 4)
    val size = if (typ == 3) 2 else 4 // SHORT or LONG
    val at = if (n * size <= 4) e + 8 else u(e + 8, 4)
    (e, typ, (0 until n).map(k => u(at + k * size, size)))
  }

  /** The compressed bytes of each strip (tag 273/279) or tile (324/325). */
  private def tiffSegments(t: Array[Byte]): Seq[Array[Byte]] = {
    val tiled = scala.util.Try(tiffEntry(t, 324)).isSuccess
    val offs = tiffEntry(t, if (tiled) 324 else 273)._3
    val lens = tiffEntry(t, if (tiled) 325 else 279)._3
    offs.zip(lens).map { case (o, n) => java.util.Arrays.copyOfRange(t, o, o + n) }
  }

  test("LZW conformance: the JDK's TIFF LZW coder and ours read each other (EarlyChange 1)") {
    // An independent TIFF 6.0 coder (MSB-first, EarlyChange 1) is the
    // reference for PDF's LZWDecode schedule: a decoder that widens one
    // code early returns None from the first 9->10 bump on (16x16), and
    // a reader of an early-widening encoder misreads from there.
    // 16x16 is 256 distinct bytes (every code a root: 256 codes cross
    // 9->10); 64x64 and 256x256 draw from 32 symbols, ~900 codes crossing
    // 10->11 and ~9800 codes crossing 11->12 and two table resets.
    def mix(i: Int): Int = ((i * 0x9e3779b1) >>> 27) * 7
    val cases = Seq(
      (16, (r: Int, c: Int) => (r * 16 + c) * 167 + 13),
      (64, (r: Int, c: Int) => mix(r * 64 + c)),
      (256, (r: Int, c: Int) => mix(r * 256 + c) + r / 64))
    for ((side, sample) <- cases) {
      val raw = Array.tabulate(side * side)(i => sample(i / side, i % side).toByte)
      val tif = jdkLzwTiff(side, side, sample, tiled = true)
      val Seq(tile) = tiffSegments(tif)
      if (side == 256) assert(tile.length * 8 / 12 > 4096, "no table reset exercised")
      // the JDK's encoder -> our decoder
      val dec = Lzw.decode(tile, Lzw.pdf(earlyChange = true), raw.length)
      assert(dec.exists(java.util.Arrays.equals(_, raw)), s"${side}x$side: our decode of the JDK's tile")
      // our encoder -> the JDK's reader: splice our bytes in as the tile
      val ours = Lzw.encode(raw, Lzw.pdf(earlyChange = true))
      val spliced = tif ++ ours
      for ((tag, v) <- Seq(324 -> tif.length, 325 -> ours.length)) {
        val (e, typ, _) = tiffEntry(spliced, tag)
        val le = spliced(0) == 'I'
        val size = if (typ == 3) 2 else 4
        for (k <- 0 until size)
          spliced(e + 8 + k) = (v >>> (8 * (if (le) k else size - 1 - k))).toByte
      }
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(spliced))
      assert(img != null && img.getWidth == side && img.getHeight == side)
      for (r <- 0 until side; c <- 0 until side)
        assert(img.getRaster.getSample(c, r, 0) == (raw(r * side + c) & 0xff),
          s"${side}x$side: the JDK's read of our tile at ($r,$c)")
    }
  }

  test("PDF LZW: a JDK-compressed content stream past the first width bump extracts") {
    val words = Seq("hash", "join", "column", "stream", "merge", "window", "vector", "table")
    val text = (0 until 160).map(i => words((i * 7 + i / 3) % 8) + i).mkString(" ")
    val content = s"BT ($text) Tj ET".getBytes(US_ASCII)
    // one strip of a 1-row gray TIFF is the JDK coder's LZW of `content`
    val Seq(z) = tiffSegments(jdkLzwTiff(content.length, 1, (_, c) => content(c), tiled = false))
    assert(z.length * 8 / 12 > 253, "stream too short to cross 9->10")
    val pdf = ("%PDF-1.4\n2 0 obj << /Type /Pages /Count 1 /Kids [] >> endobj\n" +
      s"4 0 obj << /Length ${z.length} /Filter /LZWDecode >> stream\n").getBytes(US_ASCII) ++
      z ++ "\nendstream endobj\n%%EOF\n".getBytes(US_ASCII)
    assert(MediaCodec.extractPdfText(pdf).contains(text))
  }

  test("PDF predictors: PNG row filters and TIFF differencing reverse exactly") {
    // unit round-trip: predictEncode -> unpredict is the identity for
    // every supported predictor and awkward geometry (predictEncode pads
    // PNG rows with trailing spaces, so compare the prefix)
    for {
      (pred, cols) <- Seq((2, 7), (2, 1), (10, 5), (12, 4), (15, 16), (15, 3))
      n <- Seq(1, 5, 63, 64, 257)
    } {
      val d = Array.tabulate(n)(i => ((i * 89 + i / 3 + pred * 31) & 0xff).toByte)
      val enc = MediaCodec.predictEncode(d, pred, 1, cols)
      val dec = MediaCodec.unpredict(enc, pred, 1, 8, cols)
      assert(dec.isDefined, s"pred=$pred cols=$cols n=$n")
      assert(java.util.Arrays.equals(dec.get.take(n), d),
        s"pred=$pred cols=$cols n=$n round-trip mismatch")
      assert(dec.get.drop(n).forall(_ == ' '.toByte), s"pred=$pred pad not spaces")
    }
    // multi-component TIFF differencing: colors=3 differences at lag 3
    val rgb = Array.tabulate(30)(i => (i * 11 % 256).toByte)
    val encRgb = Array.tabulate(30) { i =>
      if (i % 9 < 3) rgb(i) else ((rgb(i) - rgb(i - 3)) & 0xff).toByte
    }
    assert(MediaCodec.unpredict(encRgb, 2, 3, 8, 3)
      .exists(java.util.Arrays.equals(_, rgb)))
    // hostile inputs: bad row-filter byte, bad geometry, sub-byte TIFF
    assert(MediaCodec.unpredict(Array[Byte](9, 0, 0, 0), 12, 1, 8, 3).isEmpty,
      "row filter type 9 must reject")
    assert(MediaCodec.unpredict(new Array[Byte](7), 12, 1, 8, 3).isEmpty,
      "7 bytes at stride 4 must reject")
    assert(MediaCodec.unpredict(new Array[Byte](8), 2, 1, 4, 8).isEmpty,
      "sub-byte TIFF differencing is out of scope")
    // end-to-end: the builder writes /DecodeParms the extractor must honor
    val body = "predictor text 42 (parens) and \\ stream".getBytes(UTF_8)
    val expected = "P:" + new String(body, UTF_8) + "#END"
    for ((filters, pred, cols) <- Seq(
      (Seq("FlateDecode"), 15, 16),
      (Seq("LZWDecode"), 12, 24),
      (Seq("FlateDecode"), 2, 20),
      (Seq("ASCII85Decode", "FlateDecode"), 14, 9))) {
      val pdf = MediaCodec.buildPdfWithTextFiltered(2, "P:".getBytes(US_ASCII),
        body, filters, pred, cols)
      assert(MediaCodec.extractPdfText(pdf).exists(_.contains(expected)),
        s"filters=$filters pred=$pred cols=$cols")
    }
  }

  test("PDF embedded images: XObject walk + transport reversal + JPEG decode") {
    import graft.pipeline.JpegCodec
    val dc = (br: Int, bc: Int) => ((br * 5 + bc * 11 + 3) % 256) - 128
    val base = JpegCodec.buildJpegDcOnly(24, 16, dc)
    val prog = JpegCodec.buildJpegDcOnly420Progressive(16, 16, dc)
    // two images, no transport: walk returns both, byte-equal, in order
    val pdf = MediaCodec.buildPdfWithImages(Seq((base, 24, 16), (prog, 16, 16)))
    assert(MediaCodec.parse(pdf).exists(_.format == "pdf"))
    val imgs = MediaCodec.extractPdfImages(pdf)
    assert(imgs.length == 2)
    assert(java.util.Arrays.equals(imgs(0), base) &&
      java.util.Arrays.equals(imgs(1), prog))
    // the extracted bytes decode identically to the originals
    for ((img, orig) <- imgs.zip(Seq(base, prog))) {
      val a = MediaCodec.decodeImagePixels(img)
      val b = MediaCodec.decodeImagePixels(orig)
      assert(a.isDefined && a.toSeq.map(_.stats.toSeq) == b.toSeq.map(_.stats.toSeq))
    }
    // transport filters in front of DCTDecode are reversed first
    for (transport <- Seq(Seq("ASCII85Decode"), Seq("FlateDecode"),
      Seq("ASCIIHexDecode", "RunLengthDecode"))) {
      val p = MediaCodec.buildPdfWithImages(Seq((base, 24, 16)), transport)
      val got = MediaCodec.extractPdfImages(p)
      assert(got.length == 1 && java.util.Arrays.equals(got.head, base),
        s"transport=$transport")
    }
    // image streams are invisible to TEXT extraction (no garbage tokens),
    // and non-PDF bytes yield no images
    assert(MediaCodec.extractPdfText(pdf).forall(!_.contains("JFIF")))
    assert(MediaCodec.extractPdfImages("junk".getBytes(US_ASCII)).isEmpty)
    // a non-DCT final filter (raw samples, JPX, ...) is skipped
    val rawImg = ("%PDF-1.4\n5 0 obj << /Subtype /Image /Width 2 /Height 2" +
      " /Filter /JPXDecode /Length 4 >> stream\nabcd\nendstream endobj\n%%EOF\n")
      .getBytes(US_ASCII)
    assert(MediaCodec.extractPdfImages(rawImg).isEmpty)
  }

  test("PDF feature: text-derived primitives are exact; stub only for undecodable") {
    import graft.pipeline.Multimodal
    val body = "word1 word2 99 bottles".getBytes(UTF_8)
    val pdf = MediaCodec.buildPdfWithText(3, "H7:".getBytes(US_ASCII), body, flate = true)
    val p = Multimodal.pdfFeaturePrims(pdf)
    assert(p.isDefined)
    // extracted text = "H7:word1 word2 99 bottles#END"
    val full = "H7:word1 word2 99 bottles#END"
    assert(p.get == Multimodal.PdfFeaturePrims(
      full.getBytes(UTF_8).length.toLong, 3,
      full.count(_ == ' ') + 1L, full.count(_.isDigit).toLong))
    // feature() routes PDFs through the text-derived dims (marker dim 1.0)
    val f = Multimodal.feature(pdf)
    assert(f(7) == 1.0f)
    assert(f(1) == 3 / 64.0f)
    // an image still gets the pixel-derived feature (aspect marker < 1)
    val png = MediaCodec.buildPngPixels(8, 8, (r, c, ch) => r + c + ch)
    assert(Multimodal.feature(png)(7) < 1.0f)
    // unknown bytes fall to the hash stub (deterministic, not a throw)
    val junk = "not media at all".getBytes(UTF_8)
    assert(java.util.Arrays.equals(Multimodal.feature(junk), Multimodal.feature(junk)))
  }

  test("WebP: all three container variants parse; hostile chunks rejected") {
    for {
      kind <- 0 to 2
      (w, h) <- Seq((1, 1), (16, 48), (79, 63), (16383, 16383))
      n <- Seq(0, 1, 2, 255)
    } {
      val payload = Array.tabulate(n)(i => ((i * 31 + kind) & 0xff).toByte)
      val b = MediaCodec.buildWebp(kind, w, h, payload)
      assert(b.length == MediaCodec.webpBytes(kind, n),
        s"kind=$kind n=$n: ${b.length} != ${MediaCodec.webpBytes(kind, n)}")
      assert(MediaCodec.parse(b).contains(MediaInfo("webp", w, h, 0)),
        s"kind=$kind ${w}x$h n=$n")
    }
    // unknown leading chunk is skipped by size to reach the image chunk
    val inner = MediaCodec.buildWebp(0, 20, 10, Array[Byte](1, 2, 3))
    val tail = java.util.Arrays.copyOfRange(inner, 12, inner.length)
    val withMeta = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("RIFF".getBytes(US_ASCII)); out.write(Array[Byte](0, 0, 0, 0))
      out.write("WEBP".getBytes(US_ASCII))
      out.write("EXIF".getBytes(US_ASCII))
      out.write(Array[Byte](3, 0, 0, 0)); out.write(Array[Byte](9, 9, 9, 0)) // padded
      out.write(tail)
      out.toByteArray
    }
    assert(MediaCodec.parse(withMeta).contains(MediaInfo("webp", 20, 10, 0)))
    // a VP8 chunk without the keyframe start code is rejected
    val bad = inner.clone()
    bad(23) = 0 // clobber 0x9d at VP8 body+3 (12 RIFF + 8 hdr + 3 tag)
    assert(MediaCodec.parse(bad).isEmpty)
    // a chunk size past the buffer is rejected (forged size)
    val forged = inner.clone()
    forged(16) = 0x7f // VP8 chunk size low byte -> way past EOF
    assert(MediaCodec.parse(forged).isEmpty)
    // truncation below the dims is rejected
    assert(MediaCodec.parse(java.util.Arrays.copyOf(inner, 25)).isEmpty)
  }

  test("MP3: frame header tables, ID3v2 skip, CBR duration; hostile rejected") {
    val payload = Array.tabulate(1000)(i => (i % 251).toByte)
    // MPEG1 128kbps 44100 stereo: 1004 bytes * 8 / 128 = 62 ms
    val a = MediaCodec.buildMp3(mpeg1 = true, 9, 0, mono = false, payload)
    assert(MediaCodec.parse(a).contains(MediaInfo("mp3", 0, 0, 0, 44100, 2, 62)))
    // MPEG2 64kbps 22050 mono (version-2 tables differ on BOTH axes)
    val b = MediaCodec.buildMp3(mpeg1 = false, 8, 0, mono = true, payload)
    assert(MediaCodec.parse(b).contains(MediaInfo("mp3", 0, 0, 0, 22050, 1, 125)))
    // ID3v2 tag: parser must skip exactly the synchsafe size (use one
    // big enough that its 14-bit synchsafe split spans two bytes)
    val c = MediaCodec.buildMp3(mpeg1 = true, 14, 2, mono = true, payload,
      id3Len = 300)
    assert(MediaCodec.parse(c).contains(MediaInfo("mp3", 0, 0, 0, 32000, 1, 25)))
    assert(c.length == 10 + 300 + 4 + 1000)
    // free-format (0) and invalid (15) bitrate indices are rejected, as
    // are reserved version/layer bits and samplerate index 3
    def hdr(b1: Int, b2: Int, b3: Int): Array[Byte] =
      Array(0xff.toByte, b1.toByte, b2.toByte, b3.toByte)
    assert(MediaCodec.parse(hdr(0xfb, 0x02, 0)).isEmpty) // bitrate 0
    assert(MediaCodec.parse(hdr(0xfb, 0xf2, 0)).isEmpty) // bitrate 15
    assert(MediaCodec.parse(hdr(0xfb, 0x9e, 0)).isEmpty) // samplerate 3
    assert(MediaCodec.parse(hdr(0xeb, 0x92, 0)).isEmpty) // version reserved
    assert(MediaCodec.parse(hdr(0xfd, 0x92, 0)).isEmpty) // layer reserved
    // an ID3 tag whose size overruns the file is rejected
    val d = c.clone(); d(8) = 0x7f
    assert(MediaCodec.parse(d).isEmpty)
    // JPEG's FF D8 must NOT route to the mp3 sniffer
    assert(MediaCodec.parse(MediaCodec.buildJpeg(8, 8, Array[Byte](1)))
      .exists(_.format == "jpeg"))
  }

  test("EXIF: orientation via TIFF IFD0 in both byte orders; hostile rejected") {
    val base = MediaCodec.buildJpeg(40, 30, Array.tabulate(100)(_.toByte))
    for (o <- 1 to 8; be <- Seq(true, false)) {
      val j = MediaCodec.withSegmentAfterSoi(base, MediaCodec.exifApp1(o, be))
      assert(MediaCodec.parseExifOrientation(j).contains(o), s"o=$o be=$be")
      // the APP1 insert must not break the dims parse
      assert(MediaCodec.parse(j).contains(MediaInfo("jpeg", 40, 30, 0)), s"o=$o")
    }
    // no EXIF -> None; bare JPEG still parses
    assert(MediaCodec.parseExifOrientation(base).isEmpty)
    // out-of-range orientation value is rejected
    val seg = MediaCodec.exifApp1(1, bigEndian = false)
    seg(28) = 9 // value low byte (II layout): 9 is undefined
    assert(MediaCodec.parseExifOrientation(
      MediaCodec.withSegmentAfterSoi(base, seg)).isEmpty)
    // a forged IFD offset pointing past the segment is rejected
    val seg2 = MediaCodec.exifApp1(3, bigEndian = false)
    seg2(14) = 0x7f // IFD0 offset low byte (II) -> far past tiffEnd
    assert(MediaCodec.parseExifOrientation(
      MediaCodec.withSegmentAfterSoi(base, seg2)).isEmpty)
    // an APP1 that is not Exif (e.g. XMP) is skipped, not misread
    val xmp = seg.clone(); xmp(4) = 'X'; xmp(5) = 'M'; xmp(6) = 'P'
    assert(MediaCodec.parseExifOrientation(
      MediaCodec.withSegmentAfterSoi(base, xmp)).isEmpty)
  }

  // ---- builder -> parser round-trips across payload boundaries ----

  test("synth -> parse round-trips dims through the real byte layout") {
    val sizes = Seq(0, 1, 254, 255, 256, 1000, 65533, 65534, 70000)
    for (n <- sizes) {
      val payload = Array.tabulate(n)(i => (i * 31 + 7).toByte)
      val w = 16 + n % 64; val h = 16 + n % 48
      val png = MediaCodec.buildPng(w, h, payload)
      assert(png.length.toLong == MediaCodec.pngBytes(n.toLong), s"png n=$n")
      assert(MediaCodec.parse(png).contains(MediaInfo("png", w, h, 0)), s"png n=$n")
      val gif = MediaCodec.buildGif(w, h, payload)
      assert(gif.length.toLong == MediaCodec.gifBytes(n.toLong), s"gif n=$n")
      assert(MediaCodec.parse(gif).contains(MediaInfo("gif", w, h, 0)), s"gif n=$n")
      val jpg = MediaCodec.buildJpeg(w, h, payload)
      assert(jpg.length.toLong == MediaCodec.jpegBytes(n.toLong), s"jpeg n=$n")
      assert(MediaCodec.parse(jpg).contains(MediaInfo("jpeg", w, h, 0)), s"jpeg n=$n")
      val pages = 1 + n % 5
      val pdf = MediaCodec.buildPdf(pages, payload)
      assert(MediaCodec.parse(pdf).contains(MediaInfo("pdf", 0, 0, pages)), s"pdf n=$n")
    }
  }

  test("JPEG payload full of 0xFF bytes still parses (COM length shields it)") {
    val payload = Array.fill(300)(0xff.toByte)
    val jpg = MediaCodec.buildJpeg(40, 20, payload)
    assert(MediaCodec.parse(jpg).contains(MediaInfo("jpeg", 40, 20, 0)))
  }

  test("unknown magic and truncated containers are rejected, not mis-parsed") {
    assert(MediaCodec.parse("plain text".getBytes(UTF_8)).isEmpty)
    assert(MediaCodec.parse(Array.emptyByteArray).isEmpty)
    val png = MediaCodec.buildPng(10, 10, Array.emptyByteArray)
    assert(MediaCodec.parse(png.take(20)).isEmpty)
  }

  // ---- PNG Adam7 interlace ----

  private def a7Formula(r: Int, c: Int, ch: Int): Int = (7 + r * 31 + c * 17 + ch * 101) % 256

  test("PNG Adam7: interlaced decode is byte-identical to the sequential decode") {
    // 21x13: not multiples of 8, so several passes are partial and the
    // ceil geometry is exercised; 8x8 and 3x2 hit empty passes
    for ((w, h) <- Seq((21, 13), (8, 8), (3, 2), (1, 1))) {
      val seq = MediaCodec.decodePngRaw(MediaCodec.buildPngPixels(w, h, a7Formula)).get
      val ilc = MediaCodec.decodePngRaw(MediaCodec.buildPngPixelsInterlaced(w, h, a7Formula)).get
      assert(ilc._1 == w && ilc._2 == h)
      assert(ilc._3.sameElements(seq._3), s"pixel mismatch at ${w}x$h")
    }
  }

  test("PNG Adam7 conformance: the JDK's ImageIO decodes our interlaced PNG exact") {
    val w = 19; val h = 11
    val png = MediaCodec.buildPngPixelsInterlaced(w, h, a7Formula)
    assert(png(28) == 1, "IHDR interlace byte not set")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img != null, "ImageIO could not read our interlaced PNG")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == a7Formula(y, x, 0), s"R at ($x,$y)")
      assert(((rgb >> 8) & 0xff) == a7Formula(y, x, 1), s"G at ($x,$y)")
      assert((rgb & 0xff) == a7Formula(y, x, 2), s"B at ($x,$y)")
    }
  }

  test("PNG Adam7 conformance: our decoder reads ImageIO-written progressive PNGs exact") {
    val w = 23; val h = 9
    val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      bi.setRGB(x, y, (a7Formula(y, x, 0) << 16) | (a7Formula(y, x, 1) << 8) | a7Formula(y, x, 2))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val param = writer.getDefaultWriteParam
    assert(param.canWriteProgressive, "JDK PNG writer lost progressive support?")
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    ios.close(); writer.dispose()
    val bytes = baos.toByteArray
    assert(bytes(28) == 1, "ImageIO did not write an Adam7 PNG")
    val ours = MediaCodec.decodePngRaw(bytes)
    assert(ours.isDefined, "our decoder rejected ImageIO's interlaced PNG")
    val (dw, dh, px) = ours.get
    assert(dw == w && dh == h)
    for (y <- 0 until h; x <- 0 until w; ch <- 0 until 3)
      assert((px((y * w + x) * 3 + ch) & 0xff) == a7Formula(y, x, ch), s"ch$ch at ($x,$y)")
  }

  test("PNG Adam7: truncated interlaced stream and forged interlace byte reject") {
    val png = MediaCodec.buildPngPixelsInterlaced(16, 16, a7Formula)
    // flip the interlace byte on real Adam7 data: raw size mismatch -> None
    val lying = png.clone(); lying(28) = 0
    // (the IHDR CRC now mismatches too, but the raw-size check alone must hold)
    assert(MediaCodec.decodePngRaw(lying).isEmpty)
    val forged = MediaCodec.buildPng(16, 16, Array.fill(8)(0.toByte), interlace = 2)
    assert(MediaCodec.decodePngRaw(forged).isEmpty) // unknown interlace method
  }

  // ---- builder byte pins ----

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** Every synthesis builder that writes a PNG row filter or a JPEG
    * entropy segment, at awkward sizes (partial Adam7 passes, empty
    * passes, partial MCUs, ragged predictor rows). */
  private def builderOutputs: Seq[(String, Array[Byte])] = {
    import graft.pipeline.JpegCodec
    val dims = Seq((21, 13), (8, 8), (3, 2), (1, 1))
    val png = dims.flatMap { case (w, h) =>
      Seq(s"png ${w}x$h" -> MediaCodec.buildPngPixels(w, h, a7Formula),
        s"png adam7 ${w}x$h" -> MediaCodec.buildPngPixelsInterlaced(w, h, a7Formula))
    }
    // 3 colors x 5 columns = 15-byte rows; 68 bytes leaves a ragged 8-byte last row
    val d = Array.tabulate(68)(i => ((i * 89 + i / 3) & 0xff).toByte)
    val pred = Seq(2, 10, 15).map(p => s"predict $p" -> MediaCodec.predictEncode(d, p, 3, 5))
    def dc(br: Int, bc: Int): Int = ((br * 37 + bc * 11 + 5) % 256) - 128
    val jpeg = Seq((8, 8), (17, 9), (33, 31)).flatMap { case (w, h) =>
      Seq(s"jpeg ${w}x$h" -> JpegCodec.buildJpegDcOnly(w, h, dc),
        s"jpeg 420 ${w}x$h" -> JpegCodec.buildJpegDcOnly420(w, h, dc),
        s"jpeg 420 progressive ${w}x$h" -> JpegCodec.buildJpegDcOnly420Progressive(w, h, dc))
    }
    png ++ pred ++ jpeg
  }

  private val builderDigests: Map[String, String] = Map(
    "png 21x13" -> "45ded0bcfd110f39128582f4373f9137064b60e4516407d4f8840b62d88a707c",
    "png adam7 21x13" -> "1b0fb5260f63e319902b58a80bed7b8f0a87618044c4e4d199982267fdfb23b1",
    "png 8x8" -> "38ee37eff5d36dffbb9ff5c216e44b33b87800eb31a95863fcb0f53e6e27d475",
    "png adam7 8x8" -> "6003469ae9f6b65221a2b344c40ee87a1df46e3cd93f4917f734941f0d8076e6",
    "png 3x2" -> "8f5dd00a83094ab2d191e8c2aef8e94de8188d2c25b26149fba6a96ae67d37b5",
    "png adam7 3x2" -> "75f8ce00c9f57fc5ded4e45c3acef84e8d97bd8c2430d9c25e42901dcde231e0",
    "png 1x1" -> "120c0de5435f695a14ab459eec20eacae4d0076fea945bf312a0d26dc73a583c",
    "png adam7 1x1" -> "3eaf65f21104cc7964882051a6f3cf87d9f5d8a9fc8b135d9ca40e0a58a5b50d",
    "predict 2" -> "ce0b53de54d90bd433d6d8a193a60ddaeb84c4ab16a9a98e572569514115bcc2",
    "predict 10" -> "15ca3fa439b28e716d520c14310252832e51ac682063b78a4fa56f60d394e666",
    "predict 15" -> "15ca3fa439b28e716d520c14310252832e51ac682063b78a4fa56f60d394e666",
    "jpeg 8x8" -> "cc3baa1a1f988e4a73710bc07f822c0a06f72a647b009b8be6e8873883744d23",
    "jpeg 420 8x8" -> "dedd4b3a5917172e47296d7d298b9924644c6e26f3f1cd0cfc74be84dff7c664",
    "jpeg 420 progressive 8x8" -> "e3d658f7d7170b24371c5acf74b17f63c33c9557f013415d62042f0120e635f9",
    "jpeg 17x9" -> "13d3d0d702c864e7c741ed57258c4248bcb64bafd11ff12e9d096ca5cad71be9",
    "jpeg 420 17x9" -> "b17b4f8a26b4063dae6b1cad9455282df99d907e641baae81a91e4115d42368d",
    "jpeg 420 progressive 17x9" -> "57bdd9d61141db6969c037e140486e8da9c0e6a5de81ab09361b6b24fdf4fc37",
    "jpeg 33x31" -> "513233ddfc0c540e7fdcfa1342e152e69feb0c699f529e8b3326d851cffabf53",
    "jpeg 420 33x31" -> "257a6a017a010b37884b175e53899effc98d46ac0b2209cc579f7a7d966cc30f",
    "jpeg 420 progressive 33x31" -> "89270b82706ed07c707e7c6f45f1195065ea5b14cd337f33228cac49c2fc109a")

  test("builders: PNG, predictor and JPEG output bytes are pinned by SHA-256") {
    val got = builderOutputs.map { case (k, b) => k -> sha256(b) }
    assert(got.map(_._1).toSet == builderDigests.keySet)
    for ((k, v) <- got) assert(builderDigests(k) == v, s"$k bytes changed")
  }

  // ---- zlib preset dictionary (FDICT) ----

  // A zlib header with the FDICT bit set (78 BB passes the mod-31 check),
  // dictionary id 1, then an empty final block: Inflater.inflate returns
  // 0 forever here with needsDictionary() true and needsInput() false.
  private val presetDictZlib = Array(0x78, 0xbb, 0, 0, 0, 1, 3, 0).map(_.toByte)

  private def within10s[T](body: => T): T = {
    import scala.concurrent.ExecutionContext.Implicits.global
    scala.concurrent.Await.result(scala.concurrent.Future(body),
      scala.concurrent.duration.Duration(10, "s"))
  }

  test("PNG pixel decode: an IDAT stream that needs a preset dictionary rejects, no hang") {
    assert(within10s(MediaCodec.decodePngPixels(MediaCodec.buildPng(4, 4, presetDictZlib))).isEmpty)
  }

  test("PDF text: a FlateDecode stream that needs a preset dictionary is skipped, no hang") {
    val pdf = ("%PDF-1.4\n" +
      s"4 0 obj << /Length ${presetDictZlib.length} /Filter /FlateDecode >> stream\n")
      .getBytes(US_ASCII) ++ presetDictZlib ++ "\nendstream endobj\n%%EOF\n".getBytes(US_ASCII)
    assert(within10s(MediaCodec.extractPdfText(pdf)).isEmpty)
  }

  test("WARC deflate body that needs a preset dictionary rejects, no hang") {
    import graft.pipeline.WarcCodec
    val resp = WarcCodec.parseHttpResponse(WarcCodec.buildHttpResponse(200,
      Seq("Content-Encoding" -> "deflate"), presetDictZlib)).get
    assert(within10s(WarcCodec.httpEntityBody(resp)).isEmpty)
  }
}

package graft.pipeline

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.util.zip.CRC32

/** WARC / gzip / HTTP / charset codec pair — the FRONT DOOR of a crawl
  * pipeline: Common Crawl style `.warc.gz` files are concatenated
  * per-record gzip members, each member one WARC/1.0 record whose block
  * is a captured HTTP response. Like MediaCodec, this object carries
  * both directions: builders synthesize REAL byte layouts (so tests and
  * oracled queries round-trip through the actual container), parsers
  * decode them with integrity checks (per-member CRC32 + ISIZE
  * verification, bounded decompression against gzip bombs).
  *
  * Scale note: the one-member-per-record layout is precisely what makes
  * 100 TB WARC ingest splittable — a reader can start at any member
  * boundary. Here whole files ride as a binary column (the sandbox has
  * no object store); a cluster deployment swaps the input to
  * `spark.read.format("binaryFile")` or a DSv2 split at member offsets,
  * and WebArchive.records stays the same scan-local explode.
  *
  * Public layouts only: RFC 1952 (gzip), ISO 28500 / WARC 1.0, RFC 9110
  * (HTTP), WHATWG encoding (charset sniffing precedence + labels).
  */
object WarcCodec {

  // ------------------------------------------------------------------
  // gzip member codec (RFC 1952)
  // ------------------------------------------------------------------

  /** One gzip member: fixed 10-byte header (MTIME=0 for determinism,
    * OS=255 "unknown"), optional FNAME, raw DEFLATE body, CRC32+ISIZE
    * trailer. */
  def gzipMember(payload: Array[Byte], fname: Option[String] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
    val flg = if (fname.isDefined) 0x08 else 0x00
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(flg)
    out.write(0); out.write(0); out.write(0); out.write(0) // MTIME
    out.write(0); out.write(255)                           // XFL, OS
    fname.foreach { n =>
      out.write(n.getBytes(StandardCharsets.ISO_8859_1)); out.write(0)
    }
    // reused thread-local deflater (identical bytes; no per-call native
    // zlib-state alloc/free — this runs once per synthesized row)
    out.write(Zlib.deflateDefault(payload, nowrap = true))
    val crc = new CRC32(); crc.update(payload)
    writeLe32(out, crc.getValue)
    writeLe32(out, payload.length.toLong & 0xffffffffL)
    out.toByteArray
  }

  private def writeLe32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
    out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
  }

  private def readLe32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  /** Walk concatenated gzip members, verifying each member's CRC32 and
    * ISIZE trailer against the inflated bytes. STRICT: any malformed
    * header, inflate error, forged trailer, trailing garbage, or a
    * total decompressed size past `maxTotal` returns None — a crawl
    * pipeline quarantines a corrupt archive rather than half-reading
    * it. Handles the optional FEXTRA/FNAME/FCOMMENT/FHCRC header
    * fields other writers emit. */
  def gunzipMembers(bytes: Array[Byte],
                    maxTotal: Long = MediaCodec.MaxDecodedBytes): Option[Vector[Array[Byte]]] = {
    var pos = 0
    var total = 0L
    val members = Vector.newBuilder[Array[Byte]]
    while (pos < bytes.length) {
      if (pos + 10 > bytes.length) return None
      if ((bytes(pos) & 0xff) != 0x1f || (bytes(pos + 1) & 0xff) != 0x8b ||
        bytes(pos + 2) != 8) return None
      val flg = bytes(pos + 3) & 0xff
      var p = pos + 10
      if ((flg & 0x04) != 0) { // FEXTRA
        if (p + 2 > bytes.length) return None
        val xlen = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
        p += 2 + xlen
        if (p > bytes.length) return None
      }
      if ((flg & 0x08) != 0) { // FNAME
        while (p < bytes.length && bytes(p) != 0) p += 1
        if (p >= bytes.length) return None
        p += 1
      }
      if ((flg & 0x10) != 0) { // FCOMMENT
        while (p < bytes.length && bytes(p) != 0) p += 1
        if (p >= bytes.length) return None
        p += 1
      }
      if ((flg & 0x02) != 0) { // FHCRC
        p += 2
        if (p > bytes.length) return None
      }
      // reused thread-local inflater: a .warc.gz is one member per RECORD,
      // so the old per-member `new Inflater` paid a native alloc/free per
      // record; reset() state is identical to a fresh instance
      val inflated: Option[(Array[Byte], Int)] =
        Zlib.withInflater(nowrap = true) { inf =>
          inf.setInput(bytes, p, bytes.length - p)
          val out = new java.io.ByteArrayOutputStream(8192)
          val buf = new Array[Byte](8192)
          var ok = true
          while (ok && !inf.finished()) {
            val n =
              try inf.inflate(buf)
              catch { case _: java.util.zip.DataFormatException => ok = false; 0 }
            if (ok) {
              if (n == 0 && !inf.finished()) ok = false // truncated stream
              else {
                total += n
                if (total > maxTotal) ok = false
                else out.write(buf, 0, n)
              }
            }
          }
          if (ok) Some((out.toByteArray, inf.getBytesRead.toInt)) else None
        }
      inflated match {
        case None => return None
        case Some((data, consumed)) =>
          val trailer = p + consumed
          if (trailer + 8 > bytes.length) return None
          val crc = new CRC32(); crc.update(data)
          if (readLe32(bytes, trailer) != crc.getValue) return None
          if (readLe32(bytes, trailer + 4) != (data.length.toLong & 0xffffffffL)) return None
          members += data
          pos = trailer + 8
      }
    }
    Some(members.result())
  }

  // ------------------------------------------------------------------
  // WARC record codec (ISO 28500 / WARC 1.0)
  // ------------------------------------------------------------------

  final case class WarcRecord(headers: Vector[(String, String)], block: Array[Byte]) {
    /** Case-insensitive header lookup (WARC header names are). */
    def header(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    def warcType: String = header("WARC-Type").getOrElse("")
    def targetUri: String = header("WARC-Target-URI").getOrElse("")
  }

  /** One WARC record: version line, named fields, Content-Length-bounded
    * block, two terminating CRLFs. */
  def buildWarcRecord(warcType: String,
                      extraHeaders: Seq[(String, String)],
                      block: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(warcType).append("\r\n")
    extraHeaders.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(block.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(StandardCharsets.UTF_8)
    val out = new Array[Byte](head.length + block.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(block, 0, out, head.length, block.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** A Common Crawl style archive: each record its own gzip member,
    * members concatenated. */
  def buildWarcGz(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach(r => out.write(gzipMember(r)))
    out.toByteArray
  }

  /** Parse the WARC records laid head-to-tail in one buffer (the shape a
    * decompressed multi-record member, or a concatenation of member
    * payloads, has). STRICT like the gzip walk: a bad version line,
    * malformed header line, missing/over-running Content-Length, or a
    * missing record terminator returns None. */
  def parseWarcRecords(bytes: Array[Byte]): Option[Vector[WarcRecord]] = {
    var pos = 0
    val recs = Vector.newBuilder[WarcRecord]
    while (pos < bytes.length) {
      val headerEnd = indexOfCrlfCrlf(bytes, pos)
      if (headerEnd < 0) return None
      val headText = new String(bytes, pos, headerEnd - pos, StandardCharsets.UTF_8)
      val lines = headText.split("\r\n", -1)
      if (lines.isEmpty || !(lines(0) == "WARC/1.0" || lines(0) == "WARC/1.1"))
        return None
      val hdrs = Vector.newBuilder[(String, String)]
      var i = 1
      while (i < lines.length) {
        val line = lines(i)
        val colon = line.indexOf(':')
        if (colon <= 0) return None
        hdrs += ((line.substring(0, colon).trim, line.substring(colon + 1).trim))
        i += 1
      }
      val rec0 = WarcRecord(hdrs.result(), Array.emptyByteArray)
      val len = rec0.header("Content-Length").flatMap(_.toLongOption).getOrElse(-1L)
      if (len < 0) return None
      val blockStart = headerEnd + 4
      val blockEnd = blockStart + len
      if (blockEnd + 4 > bytes.length) return None
      if (bytes(blockEnd.toInt) != '\r' || bytes(blockEnd.toInt + 1) != '\n' ||
        bytes(blockEnd.toInt + 2) != '\r' || bytes(blockEnd.toInt + 3) != '\n')
        return None
      recs += rec0.copy(block =
        java.util.Arrays.copyOfRange(bytes, blockStart, blockEnd.toInt))
      pos = blockEnd.toInt + 4
    }
    Some(recs.result())
  }

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  // ------------------------------------------------------------------
  // HTTP/1.1 response codec (RFC 9110 subset — what WARC blocks carry)
  // ------------------------------------------------------------------

  final case class HttpResponse(status: Int, reason: String,
                                headers: Vector[(String, String)], body: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
  }

  /** Reason phrases for the statuses the synth queries rotate. */
  def reasonPhrase(status: Int): String = status match {
    case 200 => "OK"
    case 301 => "Moved Permanently"
    case 304 => "Not Modified"
    case 404 => "Not Found"
    case 500 => "Internal Server Error"
    case _   => "Unknown"
  }

  def buildHttpResponse(status: Int, headers: Seq[(String, String)],
                        body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("HTTP/1.1 ").append(status).append(' ')
      .append(reasonPhrase(status)).append("\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("\r\n")
    val head = sb.toString.getBytes(StandardCharsets.UTF_8)
    val out = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out
  }

  /** Parse a captured response: status line, fields to CRLFCRLF, body =
    * the rest (the WARC block already bounds it exactly; a present
    * Content-Length shorter than the remainder truncates to it —
    * captures sometimes trail padding). */
  def parseHttpResponse(bytes: Array[Byte]): Option[HttpResponse] = {
    val headerEnd = indexOfCrlfCrlf(bytes, 0)
    if (headerEnd < 0) return None
    val headText = new String(bytes, 0, headerEnd, StandardCharsets.UTF_8)
    val lines = headText.split("\r\n", -1)
    val status = lines(0) match {
      case s if s.startsWith("HTTP/1.") =>
        val parts = s.split(" ", 3)
        if (parts.length < 2) return None
        parts(1).toIntOption match {
          case Some(c) => (c, if (parts.length == 3) parts(2) else "")
          case None    => return None
        }
      case _ => return None
    }
    val hdrs = Vector.newBuilder[(String, String)]
    var i = 1
    while (i < lines.length) {
      val line = lines(i)
      val colon = line.indexOf(':')
      if (colon <= 0) return None
      hdrs += ((line.substring(0, colon).trim, line.substring(colon + 1).trim))
      i += 1
    }
    val all = hdrs.result()
    var body = java.util.Arrays.copyOfRange(bytes, headerEnd + 4, bytes.length)
    val clen = all.collectFirst {
      case (k, v) if k.equalsIgnoreCase("Content-Length") => v
    }.flatMap(_.toLongOption)
    clen.foreach { n => if (n >= 0 && n < body.length) body = body.take(n.toInt) }
    Some(HttpResponse(status._1, status._2, all, body))
  }

  // ------------------------------------------------------------------
  // HTTP transfer / content decoding (RFC 9112 §7.1, RFC 9110 §8.4)
  // ------------------------------------------------------------------

  /** Chunked transfer encoding: hex size line (chunk extensions after
    * ';' tolerated) + data + CRLF per chunk, a zero chunk, then any
    * trailer fields up to the final CRLF. Strict: bad hex, a missing
    * CRLF, truncation, or an over-running size returns None. */
  def decodeChunked(bytes: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    var pos = 0
    while (true) {
      val eol = indexOfCrlf(bytes, pos)
      if (eol < 0) return None
      var line = new String(bytes, pos, eol - pos, StandardCharsets.ISO_8859_1)
      val semi = line.indexOf(';')
      if (semi >= 0) line = line.substring(0, semi)
      line = line.trim
      if (line.isEmpty || !line.forall(c => Character.digit(c, 16) >= 0)) return None
      if (line.length > 7) return None // > 0xFFFFFFF: forged size
      val size = java.lang.Long.parseLong(line, 16)
      pos = eol + 2
      if (size == 0) {
        // skip trailer fields until the terminating empty line
        while (pos < bytes.length) {
          val te = indexOfCrlf(bytes, pos)
          if (te < 0) return None
          if (te == pos) return Some(out.toByteArray) // empty line
          pos = te + 2
        }
        // a bare "0\r\n" at end-of-buffer (no trailer section) also ends it
        return if (pos == bytes.length) Some(out.toByteArray) else None
      }
      if (pos + size + 2 > bytes.length) return None
      out.write(bytes, pos, size.toInt)
      pos += size.toInt
      if (bytes(pos) != '\r' || bytes(pos + 1) != '\n') return None
      pos += 2
    }
    None // unreachable
  }

  private def indexOfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Chunked framing for the builders: deterministic fixed-size chunks. */
  def buildChunked(body: Array[Byte], chunkSize: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length + 64)
    var pos = 0
    while (pos < body.length) {
      val n = math.min(chunkSize, body.length - pos)
      out.write(java.lang.Integer.toHexString(n).getBytes(StandardCharsets.ISO_8859_1))
      out.write('\r'); out.write('\n')
      out.write(body, pos, n)
      out.write('\r'); out.write('\n')
      pos += n
    }
    out.write("0\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  /** zlib-wrapped DEFLATE (what servers send as Content-Encoding:
    * deflate), with the raw-deflate fallback some of them actually emit
    * (a long-standing interop quirk). Bounded like the gzip walk. */
  def inflateDeflate(bytes: Array[Byte],
                     maxTotal: Long = MediaCodec.MaxDecodedBytes): Option[Array[Byte]] =
    Zlib.inflate(bytes, nowrap = false, maxTotal)
      .orElse(Zlib.inflate(bytes, nowrap = true, maxTotal))

  /** The decoded entity body of a captured response: reverse the
    * transfer coding first (chunked de-framing), then the content
    * coding (gzip via the CRC-verified member walk; deflate with the
    * zlib/raw fallback; identity passes through). Unknown codings or a
    * failed decode return None — the caller drops the record rather
    * than emit mojibake. */
  def httpEntityBody(resp: HttpResponse): Option[Array[Byte]] = {
    val te = resp.header("Transfer-Encoding").map(_.toLowerCase.trim)
    val afterTransfer: Option[Array[Byte]] = te match {
      case Some(v) if v.split(',').map(_.trim).contains("chunked") =>
        decodeChunked(resp.body)
      case Some(v) if v.nonEmpty && v != "identity" => None
      case _ => Some(resp.body)
    }
    afterTransfer.flatMap { b =>
      resp.header("Content-Encoding").map(_.toLowerCase.trim).getOrElse("identity") match {
        case "identity" | "" => Some(b)
        case "gzip" | "x-gzip" =>
          gunzipMembers(b).map { ms =>
            if (ms.length == 1) ms.head
            else {
              val out = new java.io.ByteArrayOutputStream()
              ms.foreach(out.write)
              out.toByteArray
            }
          }
        case "deflate" => inflateDeflate(b)
        case _ => None
      }
    }
  }

  /** zlib-wrapped deflate builder (the Content-Encoding: deflate wire
    * form). */
  def zlibDeflate(payload: Array[Byte]): Array[Byte] =
    Zlib.deflateDefault(payload, nowrap = false)

  // ------------------------------------------------------------------
  // Charset sniffing + decode (WHATWG-style precedence)
  // ------------------------------------------------------------------

  /** Sniff result: normalized charset label + which signal decided it
    * ("bom" > "header" > "meta" > "default" — the browser/crawler
    * precedence; a BOM overrides a lying Content-Type). */
  final case class CharsetSniff(charset: String, source: String)

  def sniffCharset(contentType: Option[String], body: Array[Byte]): CharsetSniff = {
    if (body.length >= 3 && (body(0) & 0xff) == 0xef && (body(1) & 0xff) == 0xbb &&
      (body(2) & 0xff) == 0xbf) return CharsetSniff("utf-8", "bom")
    if (body.length >= 2 && (body(0) & 0xff) == 0xfe && (body(1) & 0xff) == 0xff)
      return CharsetSniff("utf-16be", "bom")
    if (body.length >= 2 && (body(0) & 0xff) == 0xff && (body(1) & 0xff) == 0xfe)
      return CharsetSniff("utf-16le", "bom")
    contentType.flatMap(charsetParam) match {
      case Some(cs) => CharsetSniff(normalizeLabel(cs), "header")
      case None =>
        metaCharset(body) match {
          case Some(cs) => CharsetSniff(normalizeLabel(cs), "meta")
          case None     => CharsetSniff("utf-8", "default")
        }
    }
  }

  /** `charset=` parameter of a Content-Type value, quotes stripped. */
  private[pipeline] def charsetParam(contentType: String): Option[String] =
    contentType.split(';').iterator.map(_.trim).collectFirst {
      case p if p.length > 8 && p.substring(0, 8).equalsIgnoreCase("charset=") =>
        p.substring(8).trim.stripPrefix("\"").stripSuffix("\"")
    }.filter(_.nonEmpty)

  /** WHATWG-prescan-style `<meta>` charset sniff over the first 1024
    * bytes: finds each `<meta` tag and reads the `charset=` token inside
    * it (covers both `<meta charset=X>` and the http-equiv
    * `content="text/html; charset=X"` form, since the token scan runs
    * over the whole tag). Simplification vs the full WHATWG algorithm:
    * no comment/script-context tracking — documented, and moot for the
    * head-of-document region real pages put the tag in. */
  private[pipeline] def metaCharset(body: Array[Byte]): Option[String] = {
    val n = math.min(body.length, 1024)
    val win = new String(body, 0, n, StandardCharsets.ISO_8859_1).toLowerCase
    var from = 0
    while (from < win.length) {
      val tag = win.indexOf("<meta", from)
      if (tag < 0) return None
      val end = win.indexOf('>', tag)
      val tagEnd = if (end < 0) win.length else end
      val cs = win.indexOf("charset", tag)
      if (cs >= 0 && cs < tagEnd) {
        var p = cs + 7
        while (p < tagEnd && (win(p) == ' ' || win(p) == '\t')) p += 1
        if (p < tagEnd && win(p) == '=') {
          p += 1
          while (p < tagEnd && (win(p) == ' ' || win(p) == '\t')) p += 1
          var quote = 0.toChar
          if (p < tagEnd && (win(p) == '"' || win(p) == '\'')) { quote = win(p); p += 1 }
          val start = p
          while (p < tagEnd && win(p) != quote && win(p) != '"' && win(p) != '\'' &&
            win(p) != ' ' && win(p) != ';' && win(p) != '/' && win(p) != '>') p += 1
          if (p > start) return Some(win.substring(start, p))
        }
      }
      from = tagEnd + 1
    }
    None
  }

  /** Normalize an encoding label the way WHATWG does for the labels a
    * crawl actually sees. Notably `iso-8859-1`/`latin1`/`ascii` all
    * RESOLVE TO windows-1252 at decode time (the superset browsers
    * decode them as) while keeping their own reported label. */
  private[pipeline] def normalizeLabel(raw: String): String =
    raw.trim.toLowerCase match {
      case "utf8" | "utf-8" | "unicode-1-1-utf-8"       => "utf-8"
      case "latin1" | "latin-1" | "iso8859-1" | "l1" |
           "iso-8859-1" | "iso_8859-1" | "cp819"        => "iso-8859-1"
      case "us-ascii" | "ascii"                         => "us-ascii"
      case "cp1252" | "x-cp1252" | "windows-1252"       => "windows-1252"
      case "utf-16" | "utf16"                           => "utf-16le"
      case "utf-16le"                                   => "utf-16le"
      case "utf-16be"                                   => "utf-16be"
      case other                                        => other
    }

  private def decoderFor(label: String): Charset = label match {
    // WHATWG: the latin-1 family decodes as windows-1252.
    case "iso-8859-1" | "us-ascii" | "windows-1252" => Charset.forName("windows-1252")
    case "utf-16le" => StandardCharsets.UTF_16LE
    case "utf-16be" => StandardCharsets.UTF_16BE
    case other =>
      try Charset.forName(other)
      catch { case _: Exception => StandardCharsets.UTF_8 }
  }

  /** Decode a body under a sniffed label: BOM (when the label's own)
    * stripped, malformed sequences replaced (never thrown — a hostile
    * byte must not fail the task), unknown labels fall back to UTF-8. */
  def decodeText(body: Array[Byte], label: String): String = {
    var off = 0
    if (label == "utf-8" && body.length >= 3 && (body(0) & 0xff) == 0xef &&
      (body(1) & 0xff) == 0xbb && (body(2) & 0xff) == 0xbf) off = 3
    if (label == "utf-16be" && body.length >= 2 && (body(0) & 0xff) == 0xfe &&
      (body(1) & 0xff) == 0xff) off = 2
    if (label == "utf-16le" && body.length >= 2 && (body(0) & 0xff) == 0xff &&
      (body(1) & 0xff) == 0xfe) off = 2
    val dec = decoderFor(label).newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(body, off, body.length - off)).toString
  }
}

package graft.pipeline

import java.io.ByteArrayOutputStream

/** The one LZW coder, shared by GIF image data (GIF89a Appendix F) and
  * PDF's LZWDecode filter (ISO 32000-1 §7.4.4, the TIFF 6.0 scheme). Both
  * write variable-width codes that start one bit wider than the root
  * symbols, with a Clear code (2^rootBits), an end code (Clear + 1) and a
  * table capped at 4096 entries. The [[Format]] sets the three things
  * that differ:
  *  - root bits: the GIF stream's minimum code size, 8 for PDF;
  *  - bit order: GIF packs codes LSB-first, PDF MSB-first;
  *  - early change: PDF's /EarlyChange (1 unless the dict says 0) widens
  *    the codes one code sooner than GIF does.
  *
  * Width schedule: with `next` the decoder's next free table slot, the
  * decoder reads the following code one bit wider once
  * `next + earlyChange == 2^width` (up to 12 bits). The encoder's table
  * runs one entry ahead of the decoder's, so it widens at
  * `next + earlyChange == 2^width + 1`. After the final data code, which
  * the decoder registers and the encoder does not, the encoder widens at
  * `next + earlyChange == 2^width`, so the end code goes out at the width
  * the decoder reads it. Conformance is cross-validated in MediaSpec
  * against the JDK's GIF codec and its TIFF LZW coder, both independent
  * implementations. */
private[graft] object Lzw {

  final case class Format(rootBits: Int, msbFirst: Boolean, earlyChange: Boolean)

  def gif(minCodeSize: Int): Format = Format(minCodeSize, msbFirst = false, earlyChange = false)
  def pdf(earlyChange: Boolean): Format = Format(8, msbFirst = true, earlyChange)

  private final val MaxWidth = 12
  private final val TableSize = 1 << MaxWidth

  /** Compress `data` (symbols are its bytes masked to `rootBits`). Emits
    * Clear first and the end code last, and clears the table when it
    * fills. */
  def encode(data: Array[Byte], f: Format): Array[Byte] = {
    val clear = 1 << f.rootBits
    val ec = if (f.earlyChange) 1 else 0
    val out = new ByteArrayOutputStream(data.length / 2 + 16)
    var bitBuf = 0L
    var bitCnt = 0
    var width = f.rootBits + 1
    def put(code: Int): Unit = {
      if (f.msbFirst) bitBuf = (bitBuf << width) | code
      else bitBuf |= code.toLong << bitCnt
      bitCnt += width
      while (bitCnt >= 8) {
        bitCnt -= 8
        if (f.msbFirst) out.write((bitBuf >>> bitCnt).toInt & 0xff)
        else { out.write(bitBuf.toInt & 0xff); bitBuf >>>= 8 }
      }
    }
    // (prefix code << 8 | byte) -> code. Boxed Integer on purpose: a
    // null-unboxing HashMap[Int,Int] would silently read 0.
    var table = new java.util.HashMap[Integer, Integer]()
    var next = clear + 2
    put(clear)
    if (data.nonEmpty) {
      val mask = clear - 1
      var cur = data(0) & mask
      var i = 1
      while (i < data.length) {
        val k = data(i) & mask
        val key: Integer = (cur << 8) | k
        val hit = table.get(key)
        if (hit != null) cur = hit.intValue()
        else {
          put(cur)
          table.put(key, Integer.valueOf(next))
          next += 1
          if (next == TableSize) {
            put(clear)
            table = new java.util.HashMap[Integer, Integer]()
            next = clear + 2
            width = f.rootBits + 1
          } else if (next + ec == (1 << width) + 1 && width < MaxWidth) width += 1
          cur = k
        }
        i += 1
      }
      put(cur)
      if (next + ec == (1 << width) && width < MaxWidth) width += 1
    }
    put(clear + 1)
    if (bitCnt > 0)
      out.write((if (f.msbFirst) bitBuf << (8 - bitCnt) else bitBuf).toInt & 0xff)
    out.toByteArray
  }

  /** Decompress `z`. None on an invalid code or on output past `limit`.
    * Input that ends without the end code yields what was decoded; so
    * does an invalid code in the stream's last slot right after a width
    * bump, where an encoder that skips the end-of-stream widening wrote
    * its end code one bit narrower than this decoder reads it. */
  def decode(z: Array[Byte], f: Format, limit: Int): Option[Array[Byte]] = {
    val clear = 1 << f.rootBits
    val eoi = clear + 1
    val ec = if (f.earlyChange) 1 else 0
    val out = new ByteArrayOutputStream(math.min(limit.toLong, z.length * 4L + 64).toInt)
    val prefix = new Array[Int](TableSize)
    val suffix = new Array[Byte](TableSize)
    val scratch = new Array[Byte](TableSize)
    var next = eoi + 1
    var width = f.rootBits + 1
    var prev = -1
    var justBumped = false // width grew on the immediately preceding code
    var bitBuf = 0
    var bitCnt = 0
    var pos = 0
    def nextCode(): Int = {
      while (bitCnt < width) {
        if (pos >= z.length) return -1
        if (f.msbFirst) bitBuf = (bitBuf << 8) | (z(pos) & 0xff)
        else bitBuf |= (z(pos) & 0xff) << bitCnt
        bitCnt += 8
        pos += 1
      }
      bitCnt -= width
      if (f.msbFirst) (bitBuf >> bitCnt) & ((1 << width) - 1)
      else { val c = bitBuf & ((1 << width) - 1); bitBuf >>>= width; c }
    }
    /** Expand `code` into the tail of scratch; returns its start. */
    def expand(code: Int): Int = {
      var c = code
      var top = scratch.length
      while (c > eoi) { top -= 1; scratch(top) = suffix(c); c = prefix(c) }
      top -= 1
      scratch(top) = c.toByte
      top
    }
    while (true) {
      val code = nextCode()
      if (code < 0 || code == eoi) return Some(out.toByteArray)
      if (code == clear) { next = eoi + 1; width = f.rootBits + 1; prev = -1; justBumped = false }
      else {
        if (if (prev < 0) code > eoi else code > next)
          return if (justBumped && pos >= z.length && bitCnt < width) Some(out.toByteArray) else None
        // code == next is the K[w]K case: prev's string plus its first byte
        val start = expand(if (code == next) prev else code)
        out.write(scratch, start, scratch.length - start)
        if (code == next) out.write(scratch(start))
        if (out.size() > limit) return None
        if (prev >= 0 && next < TableSize) {
          prefix(next) = prev
          suffix(next) = scratch(start)
          next += 1
        }
        prev = code
        justBumped = next + ec == (1 << width) && width < MaxWidth
        if (justBumped) width += 1
      }
    }
    None // unreachable
  }
}

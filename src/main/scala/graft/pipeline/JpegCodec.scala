package graft.pipeline

import java.io.ByteArrayOutputStream

/** Pure-JVM Huffman JPEG codec (ITU T.81): a real Huffman entropy
  * decoder — canonical code tables (Annex C), byte destuffing (F.1.2.3),
  * restart markers, DC prediction, AC run/size coding with ZRL/EOB and
  * EOB runs, successive-approximation refinement (G.1.2.3) — feeding
  * dequantization and a full 2D IDCT (A.3.3) with level shift, for
  * grayscale and YCbCr images at sampling factors 1 and 2 per axis:
  * 4:4:4, 4:2:2, 4:4:0 and 4:2:0 (the general interleaved MCU loop of
  * A.2.3, subsampled chroma planes upsampled with libjpeg-compatible
  * fancy triangle filters — what real crawl JPEGs overwhelmingly are).
  * Sequential (SOF0/SOF1) and progressive (SOF2) frames share one path:
  * every scan accumulates coefficients (T.81 G.2), a sequential scan
  * being the whole 0..63 band at full precision, then one dequant+IDCT
  * runs over them. Arithmetic-coded, lossless, hierarchical, 12-bit and
  * 3x/4x-sampled images return None.
  *
  * The matching builders emit DC-ONLY JPEGs (every 8x8 block a flat
  * value — the one case where ANY conformant IDCT is bit-exact, so an
  * external SQL oracle can replay pixels): grayscale 4:4:4 and color
  * 4:2:0 with flat-128 chroma. Real marker stream, real Huffman codes,
  * real byte stuffing. Conformance of both directions is
  * cross-validated in MediaSpec against the JDK's independent
  * javax.imageio JPEG codec.
  */
object JpegCodec {

  /** Zigzag-index -> natural-index map (T.81 Figure A.6). */
  private val Zig: Array[Int] = Array(
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // ------------------------------------------------------------ huffman

  /** Canonical Huffman table (T.81 Annex C): `bits(i)` = #codes of length
    * i+1, `vals` = symbols in code order. Decoding uses the standard
    * mincode/maxcode/valptr walk (F.2.2.3). */
  private final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1)
        k += bits(l - 1)
        maxCode(l) = code - 1
        if (bits(l - 1) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def value(l: Int, code: Int): Int = vals(valPtr(l) + (code - minCode(l))) & 0xff
  }

  // ---------------------------------------------------------- bit reader

  /** Entropy-segment bit reader with 0xFF00 destuffing; surfaces restart
    * markers (0xFFD0-D7) and end-of-stream as sentinels. */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var buf = 0
    private var cnt = 0
    var hitMarker: Int = -1 // marker byte seen (0xD0-0xD9), or -1

    def bit(): Int = {
      if (cnt == 0) {
        if (hitMarker >= 0) return -1
        if (pos >= b.length) { hitMarker = 0xd9; return -1 }
        var v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          if (pos >= b.length) { hitMarker = 0xd9; return -1 }
          val m = b(pos) & 0xff
          pos += 1
          if (m == 0x00) v = 0xff
          else { hitMarker = m; return -1 }
        }
        buf = v; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }

    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val bt = bit()
        if (bt < 0) return -1
        v = (v << 1) | bt
        i += 1
      }
      v
    }

    /** Align to a byte boundary and consume an expected restart marker. */
    def restart(): Boolean = {
      cnt = 0
      if (hitMarker >= 0xd0 && hitMarker <= 0xd7) { hitMarker = -1; return true }
      // marker not yet surfaced: it must be the next two bytes
      if (pos + 1 < b.length && (b(pos) & 0xff) == 0xff) {
        val m = b(pos + 1) & 0xff
        if (m >= 0xd0 && m <= 0xd7) { pos += 2; return true }
      }
      false
    }

    /** Offset of the marker after the entropy segment: the 0xFF of the
      * first marker other than stuffed 0xFF00 and RSTn, or -1 if none. */
    def nextMarker(): Int = {
      if (hitMarker >= 0) return pos - 2
      var p = pos
      while (p + 1 < b.length &&
        !((b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) != 0x00 &&
          ((b(p + 1) & 0xff) < 0xd0 || (b(p + 1) & 0xff) > 0xd7))) p += 1
      if (p + 1 >= b.length) -1 else p
    }

    def decodeHuff(t: HuffTable): Int = {
      var code = bit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16) {
        if (t.maxCode(l) >= 0 && code <= t.maxCode(l)) return t.value(l, code)
        val bt = bit()
        if (bt < 0) return -1
        code = (code << 1) | bt
        l += 1
      }
      -1 // corrupt: no code of length <= 16 matched
    }
  }

  /** EXTEND (T.81 F.2.2.1): map an s-bit magnitude to its signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  // ---------------------------------------------------------------- IDCT

  private val CosTable: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        u += 1
      }
      x += 1
    }
    t
  }

  /** Full 2D IDCT (T.81 A.3.3), double precision — O(64^2) per block;
    * correctness over speed (the deep-decode path is a per-row transform,
    * not the extraction hot loop). `coef` in natural (row-major) order. */
  private def idctBlock(coef: Array[Int], out: Array[Int]): Unit = {
    val c = new Array[Double](8)
    c(0) = 1.0 / math.sqrt(2.0)
    var i = 1
    while (i < 8) { c(i) = 1.0; i += 1 }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var sum = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            val f = coef(v * 8 + u)
            if (f != 0)
              sum += c(u) * c(v) * f * CosTable(x * 8 + u) * CosTable(y * 8 + v)
            u += 1
          }
          v += 1
        }
        val s = math.round(sum / 4.0).toInt + 128
        out(y * 8 + x) = if (s < 0) 0 else if (s > 255) 255 else s
        x += 1
      }
      y += 1
    }
  }

  // -------------------------------------------------------------- decode

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int)

  /** Parse one DQT segment (possibly several tables) into `quant`. */
  private def parseDqt(b: Array[Byte], seg: Int, segEnd: Int,
                       quant: Array[Array[Int]]): Boolean = {
    var p = seg
    while (p < segEnd) {
      val pq = (b(p) & 0xf0) >> 4
      val tq = b(p) & 0x0f
      if (pq != 0 || tq > 3) return false // 8-bit tables only
      if (p + 65 > segEnd) return false
      val q = new Array[Int](64)
      var k = 0
      while (k < 64) { q(Zig(k)) = b(p + 1 + k) & 0xff; k += 1 }
      quant(tq) = q
      p += 65
    }
    true
  }

  /** Parse one DHT segment (possibly several tables) into the DC/AC sets. */
  private def parseDht(b: Array[Byte], seg: Int, segEnd: Int,
                       dcTabs: Array[HuffTable], acTabs: Array[HuffTable]): Boolean = {
    var p = seg
    while (p < segEnd) {
      val tc = (b(p) & 0xf0) >> 4
      val th = b(p) & 0x0f
      if (tc > 1 || th > 3) return false
      if (p + 17 > segEnd) return false
      val bits = Array.tabulate(16)(k => b(p + 1 + k) & 0xff)
      val n = bits.sum
      if (p + 17 + n > segEnd) return false
      val vals = java.util.Arrays.copyOfRange(b, p + 17, p + 17 + n)
      val t = new HuffTable(bits, vals)
      if (tc == 0) dcTabs(th) = t else acTabs(th) = t
      p += 17 + n
    }
    true
  }

  /** Decode a sequential (SOF0/SOF1) or progressive (SOF2) Huffman JPEG
    * to per-component pixel planes (w*h each, component order as in the
    * SOF). Grayscale yields 1 plane; color is converted by the caller.
    *
    * One marker loop from SOI to EOI serves both kinds of frame: tables
    * and DRI may be (re)defined before any scan, and every scan adds to
    * the frame's DCT coefficient planes (T.81 G.2). A sequential scan
    * (Ss..Se = 0..63, Ah = Al = 0) decodes each block's DC and then its
    * AC band 1..63 — a progressive DC first scan and an AC first scan
    * with Al = 0 in one pass. `finish()` runs dequant + IDCT once over
    * the coefficients. Once a scan has completed, truncation or damage
    * later in the stream ends in `finish()` with the completed scans
    * (crawl JPEGs are routinely cut short); before that it is None. */
  private[graft] def decodePlanes(b: Array[Byte]): Option[(Int, Int, Array[Array[Int]])] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var comps: Array[Comp] = null
    var w = 0; var h = 0
    var progressive = false
    var dri = 0
    var frame: Frame = null // coefficient planes, allocated at the first SOS
    var sawScan = false
    def stop(): Option[(Int, Int, Array[Array[Int]])] =
      if (sawScan) frame.finish(quant) else None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return stop()
      val m = b(i + 1) & 0xff
      if (m == 0xd9) return stop() // EOI
      val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
      if (len < 2 || i + 2 + len > b.length) return stop()
      val seg = i + 4
      val segEnd = i + 2 + len
      m match {
        case 0xdb => // DQT: one or more tables
          if (!parseDqt(b, seg, segEnd, quant)) return stop()
        case 0xc4 => // DHT: one or more tables
          if (!parseDht(b, seg, segEnd, dcTabs, acTabs)) return stop()
        case 0xc0 | 0xc1 | 0xc2 => // baseline / extended sequential / progressive, Huffman
          if (comps != null) return stop() // a second frame is out of scope
          progressive = m == 0xc2
          if (seg + 6 > segEnd) return None
          if ((b(seg) & 0xff) != 8) return None // 8-bit precision only
          h = ((b(seg + 1) & 0xff) << 8) | (b(seg + 2) & 0xff)
          w = ((b(seg + 3) & 0xff) << 8) | (b(seg + 4) & 0xff)
          val nc = b(seg + 5) & 0xff
          if (w <= 0 || h <= 0 || (nc != 1 && nc != 3)) return None
          if (w.toLong * h > MediaCodec.MaxDecodedBytes / 3) return None // decoded-size cap
          if (seg + 6 + 3 * nc > segEnd) return None
          comps = Array.tabulate(nc) { ci =>
            val o = seg + 6 + 3 * ci
            Comp(b(o) & 0xff, (b(o + 1) & 0xf0) >> 4, b(o + 1) & 0x0f, b(o + 2) & 0xff)
          }
          // sampling factors 1 and 2 cover 4:4:4, 4:2:2, 4:4:0 and 4:2:0
          // — the shapes real crawl JPEGs use; 3x/4x factors stay out
          if (comps.exists(c => c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2)) return None
        case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return stop() // arithmetic / lossless / hierarchical: out of scope
        case 0xdd => // DRI
          if (len != 4) return stop()
          dri = ((b(seg) & 0xff) << 8) | (b(seg + 1) & 0xff)
        case 0xda => // SOS: entropy data follows
          if (comps == null) return None
          val ns = b(seg) & 0xff
          if (ns < 1 || ns > comps.length || seg + 1 + 2 * ns + 3 > segEnd) return stop()
          val scanComps = new Array[Int](ns) // indices into comps
          val scanDc = new Array[HuffTable](ns)
          val scanAc = new Array[HuffTable](ns)
          var si = 0
          while (si < ns) {
            val cs = b(seg + 1 + 2 * si) & 0xff
            val tabs = b(seg + 2 + 2 * si) & 0xff
            val ci = comps.indexWhere(_.id == cs)
            if (ci < 0 || (tabs & 0xf0) > 0x30 || (tabs & 0x0f) > 3) return stop()
            scanComps(si) = ci
            scanDc(si) = dcTabs((tabs & 0xf0) >> 4)
            scanAc(si) = acTabs(tabs & 0x0f)
            si += 1
          }
          val ss = b(seg + 1 + 2 * ns) & 0xff
          val se = b(seg + 2 + 2 * ns) & 0xff
          val ahal = b(seg + 3 + 2 * ns) & 0xff
          val ah = (ahal & 0xf0) >> 4
          val al = ahal & 0x0f
          // G.1.1.1.1: progressive DC scans are the 0..0 band (any Ns), AC
          // scans a band inside 1..63 and strictly single-component; a
          // sequential scan is the whole 0..63 band with no approximation
          val valid =
            if (progressive) se <= 63 && ss <= se && al <= 13 && (if (ss == 0) se == 0 else ns == 1)
            else ss == 0 && se == 63 && ahal == 0
          if (!valid) return stop()
          if (frame == null) frame = new Frame(comps, w, h)
          val r = new BitReader(b, segEnd)
          if (!frame.scan(r, scanComps, scanDc, scanAc, ss, se, ah, al, dri))
            return stop() // truncated/corrupt mid-scan: keep prior scans
          sawScan = true
          i = r.nextMarker()
          if (i < 0) return stop()
        case _ => () // APPn/COM/etc: skip
      }
      if (m != 0xda) i = segEnd
    }
    stop()
  }

  /** A frame's block geometry and its per-component DCT coefficients.
    * Non-interleaved (single-component) scans cover the component's own
    * block grid; interleaved scans cover the MCU-padded grid (A.2.2 /
    * A.2.3) — coefficients live in the padded layout so both agree. An
    * MCU is 8*hmax x 8*vmax image pixels, each component contributing
    * h_c x v_c blocks to its own (possibly subsampled) plane of
    * ceil(w*h_c/hmax) x ceil(h*v_c/vmax) samples (A.1.1); subsampled
    * planes are upsampled to full resolution at the end. */
  private final class Frame(comps: Array[Comp], w: Int, h: Int) {
    private val hmax = comps.map(_.h).max
    private val vmax = comps.map(_.v).max
    private val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    private val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    private val cws = comps.map(c => (w * c.h + hmax - 1) / hmax)
    private val chs = comps.map(c => (h * c.v + vmax - 1) / vmax)
    private val wBlk = cws.map(cw => (cw + 7) / 8)
    private val hBlk = chs.map(ch => (ch + 7) / 8)
    private val wPad = comps.map(c => mcusX * c.h)
    private val coefs = comps.map(c => new Array[Int](mcusX * c.h * mcusY * c.v * 64))

    /** Decode one scan's entropy segment from `r` into the coefficients,
      * with one Huffman table pair per scan component (`scanDc`,
      * `scanAc`, null where undefined). False on corrupt or truncated
      * data; coefficients decoded before the fault stay. */
    def scan(r: BitReader, scanComps: Array[Int], scanDc: Array[HuffTable],
             scanAc: Array[HuffTable], ss: Int, se: Int, ah: Int, al: Int,
             dri: Int): Boolean = {
      if (ss == 0 && ah == 0 && scanDc.contains(null)) return false
      if (se > 0 && scanAc.contains(null)) return false
      val preds = new Array[Int](scanComps.length)
      val lo = math.max(ss, 1) // the AC band is lo..se
      var eobrun = 0
      val p1 = 1 << al
      val m1 = -1 << al

      // -- per-block decoders ------------------------------------------------
      def dcBlock(si: Int, co: Array[Int], base: Int): Boolean = {
        if (ah == 0) {
          val t = r.decodeHuff(scanDc(si))
          if (t < 0 || t > 15) return false
          val diffBits = if (t == 0) 0 else r.receive(t)
          if (diffBits < 0) return false
          preds(si) += extend(diffBits, t)
          co(base) = preds(si) << al
        } else {
          val bt = r.bit()
          if (bt < 0) return false
          if (bt == 1) co(base) |= p1
        }
        true
      }

      def acFirstBlock(co: Array[Int], base: Int, acT: HuffTable): Boolean = {
        if (eobrun > 0) { eobrun -= 1; return true }
        var k = lo
        while (k <= se) {
          val rs = r.decodeHuff(acT)
          if (rs < 0) return false
          val run = (rs & 0xf0) >> 4
          val size = rs & 0x0f
          if (size == 0) {
            if (run == 15) k += 16 // ZRL
            else {
              eobrun = (1 << run) - 1 // this block is the run's first member
              if (run > 0) {
                val x = r.receive(run)
                if (x < 0) return false
                eobrun += x
              }
              return true
            }
          } else {
            k += run
            if (k > se) return false
            val vb = r.receive(size)
            if (vb < 0) return false
            co(base + Zig(k)) = extend(vb, size) << al
            k += 1
          }
        }
        true
      }

      /** AC successive-approximation refinement (T.81 G.1.2.3): every
        * already-nonzero coefficient in the band consumes one correction
        * bit as the position pointer passes it; run lengths and EOB runs
        * count only zero-history positions. */
      def acRefineBlock(co: Array[Int], base: Int, acT: HuffTable): Boolean = {
        var k = lo
        if (eobrun == 0) {
          var brk = false
          while (k <= se && !brk) {
            val rs = r.decodeHuff(acT)
            if (rs < 0) return false
            var run = (rs & 0xf0) >> 4
            val size = rs & 0x0f
            var pending = 0
            if (size == 0) {
              if (run != 15) { // EOB run (includes this block)
                eobrun = 1 << run
                if (run > 0) {
                  val x = r.receive(run)
                  if (x < 0) return false
                  eobrun += x
                }
                brk = true
              } // run == 15: ZRL — skip 16 zero-history positions
            } else {
              if (size != 1) return false // G.1.2.3: refinement sends size 1 only
              val bt = r.bit()
              if (bt < 0) return false
              pending = if (bt == 1) p1 else m1
            }
            if (!brk) {
              var placed = false
              while (k <= se && !placed) {
                val idx = base + Zig(k)
                if (co(idx) != 0) { // correction bit for a known-nonzero coef
                  val bt = r.bit()
                  if (bt < 0) return false
                  if (bt == 1 && (co(idx) & p1) == 0)
                    co(idx) += (if (co(idx) >= 0) p1 else m1)
                } else if (run == 0) {
                  if (pending != 0) co(idx) = pending
                  placed = true // ZRL's 16th zero, or the new coefficient's slot
                } else run -= 1
                k += 1
              }
              if (!placed && pending != 0) return false // band ended mid-placement
            }
          }
        }
        if (eobrun > 0) { // correct the remaining nonzero coefs, then count down
          while (k <= se) {
            val idx = base + Zig(k)
            if (co(idx) != 0) {
              val bt = r.bit()
              if (bt < 0) return false
              if (bt == 1 && (co(idx) & p1) == 0)
                co(idx) += (if (co(idx) >= 0) p1 else m1)
            }
            k += 1
          }
          eobrun -= 1
        }
        true
      }

      def block(si: Int, base: Int): Boolean = {
        val co = coefs(scanComps(si))
        if (ss == 0) dcBlock(si, co, base) && (se == 0 || acFirstBlock(co, base, scanAc(si)))
        else if (ah == 0) acFirstBlock(co, base, scanAc(si))
        else acRefineBlock(co, base, scanAc(si))
      }

      def restartIfDue(mcu: Int): Boolean = {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) {
          if (!r.restart()) return false
          java.util.Arrays.fill(preds, 0)
          eobrun = 0
        }
        true
      }

      // -- MCU loops ---------------------------------------------------------
      var ok = true
      var mcu = 0
      if (scanComps.length > 1) {
        // interleaved scan over the MCU-padded grid
        var my = 0
        while (my < mcusY && ok) {
          var mx = 0
          while (mx < mcusX && ok) {
            ok = restartIfDue(mcu)
            var si = 0
            while (si < scanComps.length && ok) {
              val ci = scanComps(si)
              val c = comps(ci)
              var bv = 0
              while (bv < c.v && ok) {
                var bh2 = 0
                while (bh2 < c.h && ok) {
                  ok = block(si, ((my * c.v + bv) * wPad(ci) + (mx * c.h + bh2)) * 64)
                  bh2 += 1
                }
                bv += 1
              }
              si += 1
            }
            mcu += 1
            mx += 1
          }
          my += 1
        }
      } else {
        // single-component scan over the component's own grid
        val ci = scanComps(0)
        var by = 0
        while (by < hBlk(ci) && ok) {
          var bx = 0
          while (bx < wBlk(ci) && ok) {
            ok = restartIfDue(mcu) && block(0, (by * wPad(ci) + bx) * 64)
            mcu += 1
            bx += 1
          }
          by += 1
        }
      }
      ok
    }

    /** Dequantize and inverse-transform every block, crop each component
      * plane to its size and upsample subsampled planes to w x h. None
      * when a component's quantization table was never defined. */
    def finish(quant: Array[Array[Int]]): Option[(Int, Int, Array[Array[Int]])] = {
      val deq = new Array[Int](64)
      val px = new Array[Int](64)
      val planes = comps.indices.map { ci =>
        val q = quant(comps(ci).tq)
        if (q == null) return None
        val cw = cws(ci); val chh = chs(ci)
        val plane = new Array[Int](cw * chh)
        val co = coefs(ci)
        var by = 0
        while (by < hBlk(ci)) {
          var bx = 0
          while (bx < wBlk(ci)) {
            val base = (by * wPad(ci) + bx) * 64
            var j = 0
            while (j < 64) { deq(j) = co(base + j) * q(j); j += 1 }
            idctBlock(deq, px)
            val x0 = bx * 8; val y0 = by * 8
            var yy = 0
            while (yy < 8 && y0 + yy < chh) {
              var xx = 0
              while (xx < 8 && x0 + xx < cw) {
                plane((y0 + yy) * cw + (x0 + xx)) = px(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        if (cw == w && chh == h) plane else upsample(plane, cw, chh, w, h)
      }.toArray
      Some((w, h, planes))
    }
  }

  /** Upsample a subsampled component plane (cw x ch) to the full image
    * resolution (w x h), matching libjpeg's decoder defaults so the
    * ImageIO cross-validation agrees sample-for-sample: 2x horizontal
    * and 2x2 use the "fancy" triangle filter (3/4 + 1/4 weights per
    * axis, i.e. 9-3-3-1 for 2x2, with libjpeg's exact rounding offsets —
    * jdsample.c h2v1_fancy_upsample / h2v2_fancy_upsample, the de-facto
    * standard JFIF reconstruction); 2x vertical-only replicates rows
    * (libjpeg uses plain int_upsample for that shape). Constant input
    * reproduces exactly under all paths. */
  private def upsample(p: Array[Int], cw: Int, ch: Int, w: Int, h: Int): Array[Int] = {
    val hx = cw < w // needs 2x horizontal
    val vx = ch < h // needs 2x vertical
    val out = new Array[Int](w * h)
    if (hx && vx) {
      // h2v2 fancy: output row pair per input row; colsum = 3*cur + adj
      var r = 0
      while (r < ch) {
        var half = 0
        while (half < 2) {
          val or = 2 * r + half
          if (or < h) {
            val adj = if (half == 0) math.max(r - 1, 0) else math.min(r + 1, ch - 1)
            def v(i: Int): Int = 3 * p(r * cw + i) + p(adj * cw + i)
            if (cw == 1) {
              out(or * w) = (v(0) * 4 + 8) >> 4
              if (1 < w) out(or * w + 1) = (v(0) * 4 + 7) >> 4
            } else {
              var i = 0
              while (i < cw) {
                val vi = v(i)
                val even =
                  if (i == 0) (vi * 4 + 8) >> 4
                  else (vi * 3 + v(i - 1) + 8) >> 4
                val odd =
                  if (i == cw - 1) (vi * 4 + 7) >> 4
                  else (vi * 3 + v(i + 1) + 7) >> 4
                if (2 * i < w) out(or * w + 2 * i) = even
                if (2 * i + 1 < w) out(or * w + 2 * i + 1) = odd
                i += 1
              }
            }
          }
          half += 1
        }
        r += 1
      }
    } else if (hx) {
      // h2v1 fancy: edge samples replicate, interior is a 3/4-1/4 triangle
      var r = 0
      while (r < ch && r < h) {
        val base = r * cw
        if (cw == 1) {
          out(r * w) = p(base)
          if (1 < w) out(r * w + 1) = p(base)
        } else {
          var i = 0
          while (i < cw) {
            val cur = p(base + i)
            val even =
              if (i == 0) cur
              else (cur * 3 + p(base + i - 1) + 1) >> 2
            val odd =
              if (i == cw - 1) cur
              else (cur * 3 + p(base + i + 1) + 2) >> 2
            if (2 * i < w) out(r * w + 2 * i) = even
            if (2 * i + 1 < w) out(r * w + 2 * i + 1) = odd
            i += 1
          }
        }
        r += 1
      }
    } else {
      // vertical-only 2x: row replication (libjpeg int_upsample)
      var or = 0
      while (or < h) {
        val sr = math.min(or / 2, ch - 1)
        var i = 0
        while (i < w) { out(or * w + i) = p(sr * cw + i); i += 1 }
        or += 1
      }
    }
    out
  }

  /** Decode to per-channel stats (MediaCodec.ImagePixels): grayscale maps
    * to three equal channels; 3-component images convert YCbCr -> RGB
    * with the JFIF formulas (rounded, clamped). */
  def decodeJpegPixels(b: Array[Byte]): Option[MediaCodec.ImagePixels] =
    decodePlanes(b).map { case (w, h, planes) =>
      val sums = new Array[Long](3)
      val mins = Array.fill(3)(255)
      val maxs = new Array[Int](3)
      def acc(ch: Int, v: Int): Unit = {
        sums(ch) += v
        if (v < mins(ch)) mins(ch) = v
        if (v > maxs(ch)) maxs(ch) = v
      }
      var p = 0
      val n = w * h
      while (p < n) {
        if (planes.length == 1) {
          val v = planes(0)(p)
          acc(0, v); acc(1, v); acc(2, v)
        } else {
          val y = planes(0)(p); val cb = planes(1)(p) - 128; val cr = planes(2)(p) - 128
          def clamp(d: Double): Int = {
            val v = math.round(d).toInt
            if (v < 0) 0 else if (v > 255) 255 else v
          }
          acc(0, clamp(y + 1.402 * cr))
          acc(1, clamp(y - 0.344136 * cb - 0.714136 * cr))
          acc(2, clamp(y + 1.772 * cb))
        }
        p += 1
      }
      MediaCodec.ImagePixels(w, h,
        Array.tabulate(3)(ch => MediaCodec.ChannelStats(sums(ch), mins(ch), maxs(ch))))
    }

  // --------------------------------------------------------------- build

  private def u8(out: ByteArrayOutputStream, v: Int): Unit = out.write(v & 0xff)
  private def u16(out: ByteArrayOutputStream, v: Int): Unit = { u8(out, v >> 8); u8(out, v) }

  /** A DHT segment for table `tc` (0x00 = DC 0, 0x10 = AC 0) whose
    * `symbols` all sit at code length `len`, so the canonical code of
    * the k-th symbol IS k. */
  private def dht(out: ByteArrayOutputStream, tc: Int, len: Int, symbols: Seq[Int]): Unit = {
    u16(out, 0xffc4); u16(out, 2 + 17 + symbols.size); u8(out, tc)
    (1 to 16).foreach(l => u8(out, if (l == len) symbols.size else 0))
    symbols.foreach(u8(out, _))
  }

  /** The header every DC-only builder writes: SOI, APP0/JFIF (some
    * readers want it before anything else), DQT table 0 with Q(0,0) = 8
    * and all else 16, the `sof` frame (8-bit, component ids 1.. with the
    * given `sampling` bytes, all on qtable 0), then DHT DC table 0 with
    * categories 0-11 at code length 4 (shared by every component). */
  private def dcOnlyPreamble(out: ByteArrayOutputStream, sof: Int, w: Int, h: Int,
                             sampling: Seq[Int]): Unit = {
    u16(out, 0xffd8) // SOI
    u16(out, 0xffe0); u16(out, 16) // APP0
    "JFIF".getBytes("US-ASCII").foreach(c => u8(out, c)); u8(out, 0)
    u8(out, 1); u8(out, 1); u8(out, 0); u16(out, 1); u16(out, 1); u8(out, 0); u8(out, 0)
    u16(out, 0xffdb); u16(out, 2 + 1 + 64); u8(out, 0x00) // DQT
    u8(out, 8); (1 until 64).foreach(_ => u8(out, 16))
    u16(out, sof); u16(out, 8 + 3 * sampling.size); u8(out, 8); u16(out, h); u16(out, w)
    u8(out, sampling.size)
    sampling.zipWithIndex.foreach { case (hv, i) => u8(out, i + 1); u8(out, hv); u8(out, 0) }
    dht(out, 0x00, 4, 0 until 12)
  }

  /** SOS over component ids `ids`, all on DC/AC table 0. */
  private def sos(out: ByteArrayOutputStream, ids: Seq[Int], ss: Int, se: Int,
                  ah: Int, al: Int): Unit = {
    u16(out, 0xffda); u16(out, 6 + 2 * ids.size); u8(out, ids.size)
    ids.foreach { id => u8(out, id); u8(out, 0x00) }
    u8(out, ss); u8(out, se); u8(out, (ah << 4) | al)
  }

  /** Entropy-segment bit writer with byte stuffing. */
  private final class BitWriter(body: ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        buf = (buf << 1) | ((v >> i) & 1)
        cnt += 1
        if (cnt == 8) {
          body.write(buf & 0xff)
          if ((buf & 0xff) == 0xff) body.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    /** A DC difference: its category t (the bit length of |diff|) under
      * the DC table, whose code for t IS t, then t magnitude bits. */
    def putDcDiff(diff: Int): Unit = {
      val mag = math.abs(diff)
      var t = 0
      while ((mag >> t) != 0) t += 1
      putBits(t, 4)
      if (t > 0) putBits(if (diff >= 0) diff else diff + (1 << t) - 1, t)
    }
    /** Pad the final partial byte with 1s (T.81 F.1.2.3) at scan end. */
    def flush(): Unit = {
      if (cnt > 0) {
        val pad = (buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1)
        body.write(pad & 0xff)
        if ((pad & 0xff) == 0xff) body.write(0x00)
        buf = 0; cnt = 0
      }
    }
  }

  /** DC-only grayscale baseline JPEG: block (br, bc) is the flat value
    * `clamp(dc(br, bc) + 128)` where dc is quantized with Q(0,0) = 8 (so
    * dequant/IDCT is exactly the DC value — replayable without a DCT in
    * sight). Real canonical Huffman tables, real byte stuffing. `dc`
    * values must lie in [-128, 127]. */
  def buildJpegDcOnly(w: Int, h: Int, dc: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"buildJpegDcOnly: bad dims ${w}x$h")
    val out = new ByteArrayOutputStream(w * h / 8 + 512)
    dcOnlyPreamble(out, 0xffc0, w, h, Seq(0x11))
    dht(out, 0x10, 2, Seq(0x00)) // AC table 0: only EOB, at code length 2
    sos(out, Seq(1), 0, 63, 0, 0)
    // entropy data: per block, DC category code (4 bits) + diff bits + EOB (2 bits)
    val bw = new BitWriter(out)
    var pred = 0
    var by = 0
    while (by < (h + 7) / 8) {
      var bx = 0
      while (bx < (w + 7) / 8) {
        val v = dc(by, bx)
        require(v >= -128 && v <= 127, s"dc out of range: $v")
        bw.putDcDiff(v - pred); bw.putBits(0, 2)
        pred = v
        bx += 1
      }
      by += 1
    }
    bw.flush()
    u16(out, 0xffd9) // EOI
    out.toByteArray
  }

  /** Walk the 4:2:0 MCUs of a `w` x `h` image in scan order: `luma(v)`
    * for each of an MCU's four Y blocks, v = `dcY` of the block, then
    * `chroma()` for its Cb and again for its Cr block. */
  private def walk420(w: Int, h: Int, dcY: (Int, Int) => Int)(luma: Int => Unit)(
      chroma: () => Unit): Unit = {
    var my = 0
    while (my < (h + 15) / 16) {
      var mx = 0
      while (mx < (w + 15) / 16) {
        var bv = 0
        while (bv < 2) {
          var bh = 0
          while (bh < 2) {
            val v = dcY(my * 2 + bv, mx * 2 + bh)
            require(v >= -128 && v <= 127, s"dcY out of range: $v")
            luma(v)
            bh += 1
          }
          bv += 1
        }
        chroma(); chroma()
        mx += 1
      }
      my += 1
    }
  }

  /** DC-only 4:2:0 YCbCr baseline JPEG: Y sampled 2x2 (full res), Cb/Cr
    * 1x1 (quarter res) — the real-world chroma-subsampled MCU interleave
    * (4 Y blocks + Cb + Cr per MCU). Luma block (br, bc) is the flat
    * value `dcY(br, bc) + 128`; BOTH chroma planes are flat 128 (DC diff
    * 0 every block), so after ANY conformant upsampling the chroma stays
    * exactly 128 and RGB = the luma value on every channel — keeping the
    * whole 4:2:0 path (MCU loop, per-component DC prediction, upsample,
    * color convert) SQL-replayable: pixel = dcY(r/8, c/8) + 128. Same
    * Q(0,0)=8 identity trick and canonical Huffman tables as
    * buildJpegDcOnly. `dcY` values must lie in [-128, 127]. */
  def buildJpegDcOnly420(w: Int, h: Int, dcY: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"buildJpegDcOnly420: bad dims ${w}x$h")
    val out = new ByteArrayOutputStream(w * h / 8 + 512)
    dcOnlyPreamble(out, 0xffc0, w, h, Seq(0x22, 0x11, 0x11))
    dht(out, 0x10, 2, Seq(0x00)) // AC table 0: only EOB, at code length 2
    sos(out, Seq(1, 2, 3), 0, 63, 0, 0)
    val bw = new BitWriter(out)
    var predY = 0
    walk420(w, h, dcY) { v => bw.putDcDiff(v - predY); bw.putBits(0, 2); predY = v } {
      () => bw.putDcDiff(0); bw.putBits(0, 2) // chroma stays at 0 -> flat 128
    }
    bw.flush()
    u16(out, 0xffd9) // EOI
    out.toByteArray
  }

  /** DC-only 4:2:0 YCbCr PROGRESSIVE JPEG (SOF2): the same image
    * `buildJpegDcOnly420` encodes, spread across five scans the way real
    * progressive encoders stage them —
    *   1. interleaved DC first scan (Ah=0, Al=1): diffs of dcY >> 1 over
    *      three per-component prediction chains;
    *   2. interleaved DC refinement (Ah=1, Al=0): one raw bit per block
    *      (bit 0 of each DC; (v >> 1 << 1) | (v & 1) == v in two's
    *      complement, so the accumulated coefficient is exact);
    *   3-5. one non-interleaved AC first scan per component (Ss=1,
    *      Se=63) that is a single EOB run over the component's whole
    *      block grid (all ACs are zero).
    * Chroma stays flat 128, so pixel = dcY(r/8, c/8) + 128 on every
    * channel — the full progressive machinery (multi-scan coefficient
    * accumulation, successive approximation, EOB runs, interleaved AND
    * non-interleaved MCU geometry) must run to reproduce a formula an
    * external SQL oracle can replay. `dcY` values must lie in
    * [-128, 127]. */
  def buildJpegDcOnly420Progressive(w: Int, h: Int, dcY: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"buildJpegDcOnly420Progressive: bad dims ${w}x$h")
    val out = new ByteArrayOutputStream(w * h / 8 + 768)
    dcOnlyPreamble(out, 0xffc2, w, h, Seq(0x22, 0x11, 0x11))
    // AC table 0: the 15 EOB-run symbols r<<4 (r = 0..14) at code length 4
    dht(out, 0x10, 4, (0 until 15).map(_ << 4))
    sos(out, Seq(1, 2, 3), 0, 0, 0, 1)
    val first = new BitWriter(out)
    var predY = 0
    walk420(w, h, dcY) { v => first.putDcDiff((v >> 1) - predY); predY = v >> 1 } {
      () => first.putDcDiff(0) // chroma DC 0 -> diff 0
    }
    first.flush()
    sos(out, Seq(1, 2, 3), 0, 0, 1, 0)
    val refine = new BitWriter(out)
    walk420(w, h, dcY)(v => refine.putBits(v & 1, 1))(() => refine.putBits(0, 1))
    refine.flush()
    def acScan(compId: Int, nBlocks: Int): Unit = {
      sos(out, Seq(compId), 1, 63, 0, 0)
      val bw = new BitWriter(out)
      var n = nBlocks
      while (n > 0) { // one EOB run of (1<<r)+extra blocks, largest first
        val chunk = math.min(n, 32767)
        var r = 0
        while ((chunk >> (r + 1)) != 0) r += 1
        bw.putBits(r, 4) // canonical code for symbol r<<4 at length 4 IS r
        if (r > 0) bw.putBits(chunk - (1 << r), r)
        n -= chunk
      }
      bw.flush()
    }
    acScan(1, ((w + 7) / 8) * ((h + 7) / 8))
    val cw = (w + 1) / 2; val chh = (h + 1) / 2
    acScan(2, ((cw + 7) / 8) * ((chh + 7) / 8))
    acScan(3, ((cw + 7) / 8) * ((chh + 7) / 8))
    u16(out, 0xffd9) // EOI
    out.toByteArray
  }
}

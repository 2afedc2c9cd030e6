package graft.html

import scala.collection.mutable.ArrayBuffer

/** Flat, array-backed arena DOM (north-star requirement: node table with
  * parent/child int links, no object graph).
  *
  * Built by a single-pass HTML5-style tokenizer (states: data / tag-open /
  * tag-name / attrs quoted-unquoted-valueless / self-closing / comment /
  * doctype / bogus-comment / RAWTEXT-RCDATA) plus a minimal tree-builder
  * simulator for implied end tags. The reference delegates this to the
  * lol_html crate (Cargo.toml:15); we re-implement the subset from the
  * public HTML5 spec.
  *
  * ALLOCATION DISCIPLINE (the engine's 100-TB hot path): markup is NEVER
  * copied during parsing — every raw slice (tags, attrs, text, comments) is
  * a (start,end) int pair into the source string; tag/attr names are
  * deduplicated through a tiny lowercasing intern pool; strings are
  * materialized only on demand (extracted values, edited attrs).
  *
  * Fidelity rules carried over from the reference's engine:
  *  - NO entity decoding anywhere (text and attribute values verbatim);
  *  - original bytes preserved exactly for untouched markup;
  *  - text of one DOM text node may be split into multiple TextChunk nodes
  *    (at media-marker boundaries), mirroring lol_html's chunked TextChunk
  *    with last_in_text_node (shadow_api.rs:610-688 buffers per selector);
  *  - elements closed implicitly (no end-tag token) never fire end-tag
  *    actions (lol_html end_tag_handlers only run on a real end tag).
  */
final class Arena(var src: String) {
  // node kinds
  final val nRoot = 0; final val nElem = 1; final val nText = 2
  final val nRaw = 3 /* comment/doctype/bogus/stray-end-tag passthrough */
  final val nMedia = 4

  var size = 0
  var kind: Array[Int] = new Array[Int](256)
  var parent: Array[Int] = new Array[Int](256)
  var firstChild: Array[Int] = new Array[Int](256)
  var lastChild: Array[Int] = new Array[Int](256)
  var nextSibling: Array[Int] = new Array[Int](256)
  /** element: interned lowercase tag; media: media_ref */
  val name = new ArrayBuffer[String](256)
  /** element: raw start-tag slice; text/raw: raw slice; media: index into
    * mediaText (rawS) with rawE == -1 */
  var rawS: Array[Int] = new Array[Int](256)
  var rawE: Array[Int] = new Array[Int](256)
  /** element: raw end-tag slice (rawEndS == -1 when absent) */
  var rawEndS: Array[Int] = new Array[Int](256)
  var rawEndE: Array[Int] = new Array[Int](256)
  /** element: original-case tag-name slice + trailing raw (">", " />") */
  var tagNameS: Array[Int] = new Array[Int](256)
  var tagNameE: Array[Int] = new Array[Int](256)
  var trailS: Array[Int] = new Array[Int](256)
  var trailE: Array[Int] = new Array[Int](256)
  var flags: Array[Int] = new Array[Int](256)
  final val fHasEndTag = 1
  final val fVoid = 2
  final val fLastInTextNode = 4
  /** element: slice [attrStart, attrEnd) into the attr table */
  var attrStart: Array[Int] = new Array[Int](256)
  var attrEnd: Array[Int] = new Array[Int](256)

  val mediaText = new ArrayBuffer[String](4)

  // attr table (columnar, offset-based)
  var nAttrs = 0
  var attrPreS: Array[Int] = new Array[Int](256)   // whitespace before attr
  var attrPreE: Array[Int] = new Array[Int](256)
  var attrRawS: Array[Int] = new Array[Int](256)   // full original name[=value]
  var attrRawE: Array[Int] = new Array[Int](256)
  var attrNameRawS: Array[Int] = new Array[Int](256)
  var attrNameRawE: Array[Int] = new Array[Int](256)
  var attrValS: Array[Int] = new Array[Int](256)   // value, quotes stripped, NOT decoded
  var attrValE: Array[Int] = new Array[Int](256)
  val attrName = new ArrayBuffer[String](256)      // interned lowercase name
  var attrDup: Array[Boolean] = new Array[Boolean](256)

  private def grow(): Unit = {
    val n = kind.length * 2
    kind = java.util.Arrays.copyOf(kind, n)
    parent = java.util.Arrays.copyOf(parent, n)
    firstChild = java.util.Arrays.copyOf(firstChild, n)
    lastChild = java.util.Arrays.copyOf(lastChild, n)
    nextSibling = java.util.Arrays.copyOf(nextSibling, n)
    flags = java.util.Arrays.copyOf(flags, n)
    attrStart = java.util.Arrays.copyOf(attrStart, n)
    attrEnd = java.util.Arrays.copyOf(attrEnd, n)
    rawS = java.util.Arrays.copyOf(rawS, n); rawE = java.util.Arrays.copyOf(rawE, n)
    rawEndS = java.util.Arrays.copyOf(rawEndS, n); rawEndE = java.util.Arrays.copyOf(rawEndE, n)
    tagNameS = java.util.Arrays.copyOf(tagNameS, n); tagNameE = java.util.Arrays.copyOf(tagNameE, n)
    trailS = java.util.Arrays.copyOf(trailS, n); trailE = java.util.Arrays.copyOf(trailE, n)
  }

  private def growAttrs(): Unit = {
    val n = attrDup.length * 2
    attrPreS = java.util.Arrays.copyOf(attrPreS, n); attrPreE = java.util.Arrays.copyOf(attrPreE, n)
    attrRawS = java.util.Arrays.copyOf(attrRawS, n); attrRawE = java.util.Arrays.copyOf(attrRawE, n)
    attrNameRawS = java.util.Arrays.copyOf(attrNameRawS, n); attrNameRawE = java.util.Arrays.copyOf(attrNameRawE, n)
    attrValS = java.util.Arrays.copyOf(attrValS, n); attrValE = java.util.Arrays.copyOf(attrValE, n)
    attrDup = java.util.Arrays.copyOf(attrDup, n)
  }

  /** Reuse this arena for a new document (per-task scratch: avoids
    * reallocating the node/attr tables for every row). All per-node and
    * per-attr fields are (re)initialized by newNode/addAttr. */
  def reset(newSrc: String): Unit = {
    src = newSrc
    size = 0
    nAttrs = 0
    name.clear()
    attrName.clear()
    mediaText.clear()
  }

  def newNode(k: Int): Int = {
    if (size == kind.length) grow()
    val id = size; size += 1
    kind(id) = k; parent(id) = -1; firstChild(id) = -1; lastChild(id) = -1
    nextSibling(id) = -1; flags(id) = 0; attrStart(id) = 0; attrEnd(id) = 0
    rawS(id) = 0; rawE(id) = 0; rawEndS(id) = -1; rawEndE(id) = -1
    name += null
    id
  }

  def addAttr(preS: Int, preE: Int, rS: Int, rE: Int, nS: Int, nE: Int,
              nameL: String, vS: Int, vE: Int): Int = {
    if (nAttrs == attrDup.length) growAttrs()
    attrPreS(nAttrs) = preS; attrPreE(nAttrs) = preE
    attrRawS(nAttrs) = rS; attrRawE(nAttrs) = rE
    attrNameRawS(nAttrs) = nS; attrNameRawE(nAttrs) = nE
    attrValS(nAttrs) = vS; attrValE(nAttrs) = vE
    attrName += nameL; attrDup(nAttrs) = false
    nAttrs += 1; nAttrs - 1
  }

  def appendChild(p: Int, c: Int): Unit = {
    parent(c) = p
    if (firstChild(p) == -1) firstChild(p) = c
    else nextSibling(lastChild(p)) = c
    lastChild(p) = c
  }

  /** First logical (non-duplicate) attr index with this lowercase name, or -1.
    * Interned names give an eq fast path. */
  def findAttr(el: Int, nameLower: String): Int = {
    var i = attrStart(el)
    while (i < attrEnd(el)) {
      if (!attrDup(i) && ((attrName(i) eq nameLower) || attrName(i) == nameLower)) return i
      i += 1
    }
    -1
  }

  /** Materialize an attr's value (raw, not decoded). */
  def attrValue(i: Int): String = src.substring(attrValS(i), attrValE(i))
  def attrValueLen(i: Int): Int = attrValE(i) - attrValS(i)

  // region-based comparisons against attr values (selector hot path)
  def valueEquals(i: Int, v: String): Boolean =
    attrValueLen(i) == v.length && src.regionMatches(attrValS(i), v, 0, v.length)
  def valueStartsWith(i: Int, v: String): Boolean =
    v.nonEmpty && attrValueLen(i) >= v.length && src.regionMatches(attrValS(i), v, 0, v.length)
  def valueEndsWith(i: Int, v: String): Boolean =
    v.nonEmpty && attrValueLen(i) >= v.length && src.regionMatches(attrValE(i) - v.length, v, 0, v.length)
  def valueContains(i: Int, v: String): Boolean = {
    if (v.isEmpty) return false
    var p = attrValS(i)
    val last = attrValE(i) - v.length
    while (p <= last) {
      if (src.regionMatches(p, v, 0, v.length)) return true
      p += 1
    }
    false
  }
  /** whitespace-separated word membership (class / ~= semantics) */
  def valueContainsWord(i: Int, word: String): Boolean = {
    if (word.isEmpty) return false
    var p = attrValS(i)
    val end = attrValE(i)
    while (p < end) {
      while (p < end && isWsChar(src.charAt(p))) p += 1
      var q = p
      while (q < end && !isWsChar(src.charAt(q))) q += 1
      if (q - p == word.length && src.regionMatches(p, word, 0, word.length)) return true
      p = q
    }
    false
  }
  def valueDashMatch(i: Int, v: String): Boolean =
    valueEquals(i, v) ||
      (attrValueLen(i) > v.length && src.regionMatches(attrValS(i), v, 0, v.length) &&
        src.charAt(attrValS(i) + v.length) == '-')

  private def isWsChar(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  def hasEndTag(id: Int): Boolean = (flags(id) & fHasEndTag) != 0
  def isVoid(id: Int): Boolean = (flags(id) & fVoid) != 0
  /** lol_html can_have_content: false for void elements. */
  def canHaveContent(id: Int): Boolean = kind(id) == nElem && !isVoid(id)
  def lastInTextNode(id: Int): Boolean = (flags(id) & fLastInTextNode) != 0

  /** Document-order walk from the root. `enter` runs on each node and
    * returns whether to descend into its children; `exit` runs on each
    * entered node once its subtree is done. ITERATIVE (climbs the parent
    * links, no call recursion): crawled HTML nests arbitrarily deep, and a
    * StackOverflowError would kill the task instead of giving an error row. */
  def walk(enter: Int => Boolean, exit: Int => Unit): Unit = {
    var node = 0
    var desc = enter(node)
    var done = false
    while (!done) {
      val c = if (desc) firstChild(node) else -1
      if (c != -1) { node = c; desc = enter(node) }
      else {
        exit(node)
        var climbing = true
        while (climbing) {
          if (node == 0) { climbing = false; done = true }
          else {
            val s = nextSibling(node)
            if (s != -1) { node = s; desc = enter(node); climbing = false }
            else { node = parent(node); exit(node) }
          }
        }
      }
    }
  }
}

/** Lowercasing intern pool for tag/attr names: looks up a source region
  * without materializing a key; one String allocation per distinct name per
  * pool lifetime (the engine reuses the pool across all docs of a task). */
final class NamePool {
  private var table = new Array[String](256) // power of two
  private var count = 0

  private def hashRegion(src: String, s: Int, e: Int): Int = {
    var h = 0
    var i = s
    while (i < e) {
      var c = src.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      h = h * 31 + c
      i += 1
    }
    h
  }

  private def hashLower(v: String): Int = {
    var h = 0; var i = 0
    while (i < v.length) { h = h * 31 + v.charAt(i); i += 1 }
    h
  }

  private def regionEqLower(src: String, s: Int, e: Int, v: String): Boolean = {
    if (v.length != e - s) return false
    var i = 0
    while (i < v.length) {
      var c = src.charAt(s + i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c != v.charAt(i)) return false
      i += 1
    }
    true
  }

  private def materializeLower(src: String, s: Int, e: Int): String = {
    val sb = new java.lang.StringBuilder(e - s)
    var i = s
    while (i < e) {
      var c = src.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      sb.append(c)
      i += 1
    }
    sb.toString
  }

  def get(src: String, s: Int, e: Int): String = {
    val mask = table.length - 1
    var idx = hashRegion(src, s, e) & mask
    while (true) {
      val cur = table(idx)
      if (cur == null) {
        val v = materializeLower(src, s, e)
        table(idx) = v
        count += 1
        if (count * 2 > table.length) rehash()
        return v
      }
      if (regionEqLower(src, s, e, cur)) return cur
      idx = (idx + 1) & mask
    }
    null // unreachable
  }

  private def rehash(): Unit = {
    val old = table
    table = new Array[String](old.length * 2)
    val mask = table.length - 1
    old.foreach { v =>
      if (v != null) {
        var idx = hashLower(v) & mask
        while (table(idx) != null) idx = (idx + 1) & mask
        table(idx) = v
      }
    }
  }
}

object HtmlParser {
  val voidElements: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  /** RAWTEXT / RCDATA / script-data elements: content is pure text until the
    * matching case-insensitive end tag. */
  private val rawtextElements: Set[String] = Set(
    "script", "style", "textarea", "title", "xmp", "iframe", "noembed", "noframes")

  /** HTML5 implied-end-tag table: `open` auto-closes when `incoming` starts. */
  private val pClosers: Set[String] = Set(
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hgroup", "hr", "main", "menu", "nav", "ol",
    "p", "pre", "section", "table", "ul")

  private def autoCloses(open: String, incoming: String): Boolean = open match {
    case "option"     => incoming == "option" || incoming == "optgroup"
    case "optgroup"   => incoming == "optgroup"
    case "li"         => incoming == "li"
    case "dt" | "dd"  => incoming == "dt" || incoming == "dd"
    case "p"          => pClosers.contains(incoming)
    case "td" | "th"  => incoming == "td" || incoming == "th" || incoming == "tr" ||
                         incoming == "tbody" || incoming == "thead" || incoming == "tfoot"
    case "tr"         => incoming == "tr" || incoming == "tbody" || incoming == "thead" ||
                         incoming == "tfoot"
    case _            => false
  }

  /** A media span interleaved in the doc stream at char position `pos` of the
    * concatenated non-media text. */
  final case class MediaMarker(pos: Int, mediaRef: String, text: String)

  private val emptyMarkers = new Array[MediaMarker](0)

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Parse the full document stream into an arena. `markers` must be sorted
    * by pos; markers falling inside a token are emitted right after it.
    * `pool` may be shared across docs within one task. */
  def parse(s: String, markers: scala.collection.Seq[MediaMarker] = Nil,
            pool: NamePool = new NamePool, reuse: Arena = null): Arena = {
    val marr: Array[MediaMarker] = if (markers.isEmpty) emptyMarkers else markers.toArray
    // NB: scanning via String.charAt (not a char[] copy) — for Latin-1 docs
    // a char[] doubles the bytes touched and measurably hurts 8->32-thread
    // scaling (memory bandwidth is the wide-core limiter)

    val a = if (reuse == null) new Arena(s) else { reuse.reset(s); reuse }
    val root = a.newNode(a.nRoot)
    // open-element stack
    var stack = new Array[Int](16); var stackTags = new Array[String](16); var sp = 0
    def push(id: Int, tag: String): Unit = {
      if (sp == stack.length) {
        stack = java.util.Arrays.copyOf(stack, sp * 2)
        stackTags = java.util.Arrays.copyOf(stackTags, sp * 2)
      }
      stack(sp) = id; stackTags(sp) = tag; sp += 1
    }
    def cur: Int = if (sp == 0) root else stack(sp - 1)

    val n = s.length
    var pos = 0
    var mIdx = 0
    var textStart = -1

    def newMedia(m: MediaMarker): Unit = {
      val mn = a.newNode(a.nMedia)
      a.name(mn) = m.mediaRef
      a.rawS(mn) = a.mediaText.length; a.rawE(mn) = -1
      a.mediaText += m.text
      a.appendChild(cur, mn)
    }

    def flushTextRun(endPos: Int): Unit = {
      if (textStart < 0) return
      var st = textStart
      // fast path: no markers inside the run
      if (mIdx >= marr.length || marr(mIdx).pos > endPos) {
        val t = a.newNode(a.nText)
        a.rawS(t) = st; a.rawE(t) = endPos
        a.flags(t) |= a.fLastInTextNode
        a.appendChild(cur, t)
        textStart = -1
        return
      }
      while (mIdx < marr.length && marr(mIdx).pos <= endPos) {
        val mp = math.max(marr(mIdx).pos, st)
        if (mp > st) {
          val t = a.newNode(a.nText)
          a.rawS(t) = st; a.rawE(t) = mp
          a.appendChild(cur, t)
          st = mp
        }
        newMedia(marr(mIdx))
        mIdx += 1
      }
      val t = a.newNode(a.nText)
      a.rawS(t) = st; a.rawE(t) = endPos
      a.flags(t) |= a.fLastInTextNode
      a.appendChild(cur, t)
      textStart = -1
    }

    def emitMarkersBefore(tokenStart: Int): Unit = {
      while (mIdx < marr.length && marr(mIdx).pos <= tokenStart) {
        newMedia(marr(mIdx))
        mIdx += 1
      }
    }
    def emitMarkersAfterToken(tokenEnd: Int): Unit = emitMarkersBefore(tokenEnd)

    def rawNode(from: Int, to: Int): Unit = {
      val r = a.newNode(a.nRaw); a.rawS(r) = from; a.rawE(r) = to; a.appendChild(cur, r)
    }

    def findGt(from: Int): Int = { val i = s.indexOf('>', from); if (i < 0) n - 1 else i }

    while (pos < n) {
      val c = s.charAt(pos)
      if (c == '<' && pos + 1 < n) {
        val c1 = s.charAt(pos + 1)
        if (isAsciiLetter(c1)) {
          // ---- start tag ----
          flushTextRun(pos); emitMarkersBefore(pos)
          var i = pos + 1
          while (i < n && { val ch = s.charAt(i); ch != '>' && ch != '/' && !isWs(ch) }) i += 1
          val nameS = pos + 1; val nameE = i
          val tag = pool.get(s, nameS, nameE)
          // attrs
          val aStart = a.nAttrs
          var trailingStart = i
          var done = false
          var incomplete = false
          while (!done) {
            val wsStart = i
            while (i < n && isWs(s.charAt(i))) i += 1
            if (i >= n) { incomplete = true; done = true }
            else s.charAt(i) match {
              case '>' => trailingStart = wsStart; done = true
              case '/' =>
                if (i + 1 < n && s.charAt(i + 1) == '>') { trailingStart = wsStart; done = true }
                else if (i + 1 >= n) { incomplete = true; done = true }
                else i += 1 // stray solidus: ignore, continue attrs
              case _ =>
                // attr name
                val preS = wsStart; val preE = i
                val nStart = i
                while (i < n && { val ch = s.charAt(i); ch != '=' && ch != '>' && ch != '/' && !isWs(ch) }) i += 1
                if (i >= n) { incomplete = true; done = true }
                else {
                  val nEnd = i
                  // skip ws before '='
                  var j = i
                  while (j < n && isWs(s.charAt(j))) j += 1
                  var vS = 0; var vE = 0
                  if (j < n && s.charAt(j) == '=') {
                    j += 1
                    while (j < n && isWs(s.charAt(j))) j += 1
                    if (j < n) {
                      val q = s.charAt(j)
                      if (q == '"' || q == '\'') {
                        val vEnd = s.indexOf(q, j + 1)
                        if (vEnd < 0) { incomplete = true; done = true }
                        else { vS = j + 1; vE = vEnd; i = vEnd + 1 }
                      } else {
                        var k = j
                        while (k < n && !isWs(s.charAt(k)) && s.charAt(k) != '>') k += 1
                        vS = j; vE = k; i = k
                      }
                    } else { incomplete = true; done = true }
                  }
                  if (!incomplete) {
                    val nameL = pool.get(s, nStart, nEnd)
                    val idx = a.addAttr(preS, preE, nStart, i, nStart, nEnd, nameL, vS, vE)
                    // HTML5: later duplicates ignored (bytes still preserved)
                    var k = aStart
                    var dup = false
                    while (k < idx && !dup) { if (a.attrName(k) eq nameL) dup = true; k += 1 }
                    if (dup) a.attrDup(idx) = true
                  }
                }
            }
          }
          if (incomplete) {
            // EOF inside tag: emit the rest verbatim as raw passthrough
            rawNode(pos, n); pos = n
          } else {
            val gt = s.indexOf('>', trailingStart)
            val tokEnd = gt + 1
            val el = a.newNode(a.nElem)
            a.name(el) = tag
            a.tagNameS(el) = nameS; a.tagNameE(el) = nameE
            a.trailS(el) = trailingStart; a.trailE(el) = tokEnd
            a.rawS(el) = pos; a.rawE(el) = tokEnd
            a.attrStart(el) = aStart; a.attrEnd(el) = a.nAttrs
            // implied end tags
            while (sp > 0 && autoCloses(stackTags(sp - 1), tag)) sp -= 1
            a.appendChild(cur, el)
            val void = voidElements.contains(tag)
            if (void) a.flags(el) |= a.fVoid
            pos = tokEnd
            if (!void && !rawtextElements.contains(tag)) {
              push(el, tag)
            } else if (rawtextElements.contains(tag)) {
              // RAWTEXT/RCDATA: scan for matching end tag
              val endIdx = findRawtextEnd(s, pos, tag)
              if (endIdx < 0) {
                if (pos < n) {
                  val t = a.newNode(a.nText); a.rawS(t) = pos; a.rawE(t) = n
                  a.flags(t) |= a.fLastInTextNode; a.appendChild(el, t)
                }
                pos = n
              } else {
                if (endIdx > pos) {
                  val t = a.newNode(a.nText); a.rawS(t) = pos; a.rawE(t) = endIdx
                  a.flags(t) |= a.fLastInTextNode; a.appendChild(el, t)
                }
                val gt2 = findGt(endIdx)
                a.flags(el) |= a.fHasEndTag
                a.rawEndS(el) = endIdx; a.rawEndE(el) = gt2 + 1
                pos = gt2 + 1
              }
            }
            emitMarkersAfterToken(pos)
          }
        } else if (c1 == '/') {
          if (pos + 2 < n && isAsciiLetter(s.charAt(pos + 2))) {
            // ---- end tag ----
            flushTextRun(pos); emitMarkersBefore(pos)
            val gt = s.indexOf('>', pos + 2)
            if (gt < 0) { rawNode(pos, n); pos = n }
            else {
              var i = pos + 2
              while (i < gt && { val ch = s.charAt(i); ch != '/' && !isWs(ch) }) i += 1
              val tag = pool.get(s, pos + 2, i)
              // find match in open stack
              var k = sp - 1
              while (k >= 0 && (stackTags(k) ne tag)) k -= 1
              if (k >= 0) {
                val el = stack(k)
                a.flags(el) |= a.fHasEndTag
                a.rawEndS(el) = pos; a.rawEndE(el) = gt + 1
                sp = k // elements above popped implicitly (no end tag recorded)
              } else {
                // stray end tag: bytes pass through
                rawNode(pos, gt + 1)
              }
              pos = gt + 1
              emitMarkersAfterToken(pos)
            }
          } else {
            // "</" + non-letter: bogus comment per HTML5
            flushTextRun(pos); emitMarkersBefore(pos)
            val gt = s.indexOf('>', pos)
            val end = if (gt < 0) n else gt + 1
            rawNode(pos, end); pos = end; emitMarkersAfterToken(pos)
          }
        } else if (c1 == '!') {
          flushTextRun(pos); emitMarkersBefore(pos)
          if (s.regionMatches(pos + 2, "--", 0, 2)) {
            val close = s.indexOf("-->", pos + 4)
            val end = if (close < 0) n else close + 3
            rawNode(pos, end); pos = end
          } else {
            val gt = s.indexOf('>', pos)
            val end = if (gt < 0) n else gt + 1
            rawNode(pos, end); pos = end
          }
          emitMarkersAfterToken(pos)
        } else if (c1 == '?') {
          flushTextRun(pos); emitMarkersBefore(pos)
          val gt = s.indexOf('>', pos)
          val end = if (gt < 0) n else gt + 1
          rawNode(pos, end); pos = end; emitMarkersAfterToken(pos)
        } else {
          if (textStart < 0) textStart = pos
          pos += 1
        }
      } else {
        if (textStart < 0) textStart = pos
        // skip ahead to the next '<' in one tight scan
        pos += 1
        while (pos < n && s.charAt(pos) != '<') pos += 1
      }
    }
    flushTextRun(n)
    emitMarkersBefore(n)
    a
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** Find the index of "</tag" (case-insensitive, followed by ws / '/' / '>')
    * at or after `from`, or -1. */
  private def findRawtextEnd(s: String, from: Int, tag: String): Int = {
    var i = from
    val n = s.length
    while (true) {
      i = s.indexOf("</", i)
      if (i < 0) return -1
      if (s.regionMatches(true, i + 2, tag, 0, tag.length)) {
        val after = i + 2 + tag.length
        if (after >= n || isWs(s.charAt(after)) || s.charAt(after) == '>' || s.charAt(after) == '/')
          return i
      }
      i += 2
    }
    -1
  }
}

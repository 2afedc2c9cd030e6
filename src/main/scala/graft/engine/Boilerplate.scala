package graft.engine

import graft.core.{Span, SpanKinds}
import graft.html.{Arena, HtmlParser, NamePool}
import scala.collection.mutable.ArrayBuffer

/** Main-content extraction via shallow-text-feature block scoring — the
  * north-star boilerplate branch (BASELINE.json north_star: "boilerplate
  * classification via text-density/link-density heuristics
  * (Boilerpipe/Readability-style block scoring)").
  *
  * Implements the published NumWords/LinkDensity decision rules from
  * Kohlschuetter, Fankhauser, Nejdl — "Boilerplate Detection using Shallow
  * Text Features" (WSDM 2010; the boilerpipe DefaultExtractor's
  * NumWordsRulesClassifier), over arena text blocks:
  *
  *  - blocks are text runs segmented at BLOCK-level elements (inline tags
  *    like a/b/i/span do not split a block);
  *  - script/style/rawtext content and comments are ignored;
  *  - per block: word count + link density (words under <a> / words);
  *  - classification looks at (prev, curr, next) blocks.
  */
object Boilerplate {

  private val blockTags: Set[String] = Set(
    "address", "article", "aside", "blockquote", "body", "br", "dd", "div",
    "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html", "li",
    "main", "menu", "nav", "ol", "p", "pre", "section", "table", "tbody",
    "td", "tfoot", "th", "thead", "tr", "ul")

  private val skipTags: Set[String] = Set(
    "script", "style", "noscript", "noframes", "template", "head", "title",
    "textarea", "select", "option", "iframe")

  final case class Block(text: String, numWords: Int, linkWords: Int, offsetHint: Int) {
    def linkDensity: Double = if (numWords == 0) 0.0 else linkWords.toDouble / numWords
  }

  /** Segment an arena into text blocks with word/link-word counts. */
  def blocks(a: Arena): Vector[Block] = {
    val out = new ArrayBuffer[Block]
    val sb = new java.lang.StringBuilder
    var words = 0
    var linkWords = 0
    var anchorDepth = 0
    var blockStartNode = 0

    def countWords(s: String, from: Int, to: Int): Int = {
      var n = 0; var i = from; var in = false
      while (i < to) {
        val ws = s.charAt(i) == ' ' || s.charAt(i) == '\n' || s.charAt(i) == '\t' || s.charAt(i) == '\r'
        if (!ws && !in) { n += 1; in = true } else if (ws) in = false
        i += 1
      }
      n
    }

    def flush(): Unit = {
      val t = sb.toString.trim
      if (t.nonEmpty) out += Block(t, words, linkWords, blockStartNode)
      sb.setLength(0); words = 0; linkWords = 0
    }

    def enter(node: Int): Boolean = a.kind(node) match { // returns: descend?
      case a.nElem =>
        val tag = a.name(node)
        if (skipTags.contains(tag)) false
        else {
          if (blockTags.contains(tag)) { flush(); blockStartNode = node }
          if (tag == "a") anchorDepth += 1
          true
        }
      case a.nText =>
        val s = a.rawS(node); val e = a.rawE(node)
        val w = countWords(a.src, s, e)
        if (w > 0) {
          if (sb.length > 0) sb.append(' ')
          // normalized whitespace append
          var i = s; var pendingSpace = false; var started = false
          while (i < e) {
            val c = a.src.charAt(i)
            val ws = c == ' ' || c == '\n' || c == '\t' || c == '\r' || c == '\f'
            if (ws) { if (started) pendingSpace = true }
            else {
              if (pendingSpace) { sb.append(' '); pendingSpace = false }
              sb.append(c); started = true
            }
            i += 1
          }
          words += w
          if (anchorDepth > 0) linkWords += w
        }
        true
      case _ => true
    }

    def exit(node: Int): Unit =
      if (a.kind(node) == a.nElem) {
        val tag = a.name(node)
        if (!skipTags.contains(tag)) {
          if (tag == "a") anchorDepth -= 1
          if (blockTags.contains(tag)) flush()
        }
      }

    a.walk(enter, exit)
    flush()
    out.toVector
  }

  /** NumWordsRulesClassifier decision rules (boilerpipe, public). */
  def isContent(prev: Block, curr: Block, next: Block): Boolean = {
    if (curr.linkDensity > 0.333333) false
    else if (prev.linkDensity <= 0.555556) {
      if (curr.numWords <= 16) {
        if (next.numWords <= 15) prev.numWords > 4
        else true
      } else true
    } else {
      if (curr.numWords <= 40) next.numWords > 17
      else true
    }
  }

  private val emptyBlock = Block("", 0, 0, 0)

  /** Classify all blocks; returns the content blocks in document order. */
  def contentBlocks(a: Arena): Vector[Block] = {
    val bs = blocks(a)
    bs.zipWithIndex.collect {
      case (b, i) if isContent(
        if (i > 0) bs(i - 1) else emptyBlock,
        b,
        if (i + 1 < bs.length) bs(i + 1) else emptyBlock) => b
    }
  }

  /** Main-content spans (kind="text", whitespace-normalized, one per
    * content block, document order) for a document's HTML stream. */
  def mainContentSpans(html: String, pool: NamePool = new NamePool): Seq[Span] = {
    val a = HtmlParser.parse(html, Nil, pool)
    contentBlocks(a).zipWithIndex.map { case (b, i) =>
      Span(SpanKinds.Text, b.text, "", i)
    }
  }
}

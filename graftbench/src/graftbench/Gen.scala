package graftbench

import graft.core.{Doc, Span, SpanKinds}
import graft.html.HtmlParser.MediaMarker

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators and their oracles. Each input is built together
  * with the output the program must produce for it, from the rule
  * semantics written down here, so a change to the program can change
  * neither a workload nor its expected result. Nothing here calls the
  * program. */
object Gen {

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b + 0x632be59bd9b4e019L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), i))

  private val asciiWords = Array(
    "market", "report", "river", "signal", "garden", "engine", "winter", "paper",
    "copper", "harbor", "lantern", "meadow", "orbit", "pixel", "quarry", "saddle",
    "timber", "velvet", "window", "zephyr", "anchor", "bridge", "canyon", "delta",
    "ember", "falcon", "glacier", "hollow", "island", "jungle", "kettle", "ledger")
  // 2-, 3- and 4-byte UTF-8 (the last ones are surrogate pairs in UTF-16)
  private val wideWords = Array(
    "café", "naïve", "Zürich", "señal", "日本語", "東京", "Ελληνικά", "Москва",
    "🚀launch", "data📈", "한국어", "عربي")

  private def words(r: SplittableRandom, n: Int, wide: Boolean): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      if (wide && r.nextInt(4) == 0) sb.append(wideWords(r.nextInt(wideWords.length)))
      else sb.append(asciiWords(r.nextInt(asciiWords.length)))
      i += 1
    }
    sb.toString
  }

  /** JSON-object builder for expected extraction output: keys are written
    * raw and values between quotes, which is what the program emits for
    * values without quotes, backslashes or control characters (the only
    * values these generators produce). */
  final class Obj {
    private val keys = new ArrayBuffer[String]
    private val vals = new ArrayBuffer[Any]
    def put(k: String, v: Any): Obj = {
      val i = keys.indexOf(k)
      if (i >= 0) vals(i) = v else { keys += k; vals += v }
      this
    }
    def write(sb: java.lang.StringBuilder): Unit = {
      sb.append('{')
      var i = 0
      while (i < keys.length) {
        if (i > 0) sb.append(',')
        sb.append('"').append(keys(i)).append("\":")
        Obj.writeValue(vals(i), sb)
        i += 1
      }
      sb.append('}')
    }
    def json: String = { val sb = new java.lang.StringBuilder; write(sb); sb.toString }
  }
  object Obj {
    def writeValue(v: Any, sb: java.lang.StringBuilder): Unit = v match {
      case s: String => sb.append('"').append(s).append('"')
      case o: Obj => o.write(sb)
      case a: ArrayBuffer[_] =>
        sb.append('[')
        var i = 0
        while (i < a.length) { if (i > 0) sb.append(','); writeValue(a(i), sb); i += 1 }
        sb.append(']')
    }
  }

  /** The data-injection text the program places before `</body>`. */
  val injectionPrefix = "<script>var shadow_api_data = "
  val injectionSuffix = ";</script>"
  def injection(json: String): String = injectionPrefix + json + injectionSuffix

  /** Expected output row: spans as (kind, text, media_ref), in order. */
  final case class Expected(kinds: Array[String], texts: Array[String], refs: Array[String],
                            dataJson: String)

  /** Builds an input stream and its expected output side by side. */
  private final class Pair {
    val in = new java.lang.StringBuilder(8192)
    val out = new java.lang.StringBuilder(8192)
    val markers = new ArrayBuffer[MediaMarker]
    private val kinds = new ArrayBuffer[String]
    private val texts = new ArrayBuffer[String]
    private val refs = new ArrayBuffer[String]
    def both(s: String): Pair = { in.append(s); out.append(s); this }
    def map(i: String, o: String): Pair = { in.append(i); out.append(o); this }
    private def flush(): Unit =
      if (out.length > 0) { kinds += SpanKinds.Html; texts += out.toString; refs += ""; out.setLength(0) }
    def media(ref: String, text: String): Unit = {
      markers += MediaMarker(in.length, ref, text)
      flush(); kinds += SpanKinds.Media; texts += text; refs += ref
    }
    def data(text: String): Unit = { flush(); kinds += SpanKinds.Data; texts += text; refs += "" }
    def expected(json: String): Expected = {
      flush()
      Expected(kinds.toArray, texts.toArray, refs.toArray, json)
    }
  }

  // ------------------------------------------------------------------
  // crawl_write: crawled pages through the full head+body program
  // ------------------------------------------------------------------
  object Crawl {
    val megaEvery = 1000

    val headRules: String =
      """{"s": "head", "sub": [
        |  {"s": "title", "data": {"values": {"title": {"source": "Contents"}}}},
        |  {"s": "meta[name=\"description\"]", "data": {"values": {"description": {"source": "Attribute", "name": "content"}}}},
        |  {"s": "link[rel=\"canonical\"]", "data": {"values": {"canonical": {"source": "Attribute", "name": "href"}}}},
        |  {"s": "script[src]", "delete": true}
        |]}""".stripMargin

    val bodyRules: String =
      """{"s": "body", "sub": [
        |  {"s": ".ad", "delete": true},
        |  {"s": ".comments", "hide": true},
        |  {"s": "h1", "data": {"values": {"headline": {"source": "Contents"}}}},
        |  {"s": "a.out",
        |   "edit": {"attrs": {"href": {"op": "match_replace", "match": "^http://", "val": "https://"},
        |                      "rel": {"op": "upsert", "val": "nofollow"}}},
        |   "data": {"path": "links.", "values": {"href": {"source": "Attribute", "name": "href"},
        |                                         "text": {"source": "Contents"}}}},
        |  {"s": "img", "edit": {"attrs": {"loading": {"op": "upsert", "val": "lazy"}}}},
        |  {"s": ".promo", "edit": {"content": {"op": "upsert", "val": "[promo]"}}},
        |  {"s": "article", "append": ["<p class=\"graft-end\"></p>"]}
        |]}""".stripMargin

    val rules: Seq[String] = Seq(headRules, bodyRules)

    def docId(i: Long): String = f"c$i%09d"

    /** One crawl doc: its row, its stream and markers as the decoder must
      * rebuild them, and its expected output row. */
    final case class Sample(doc: Doc, stream: String, markers: Seq[MediaMarker], expected: Expected)

    def make(seed: Long, i: Long): Sample = {
      val r = rng(seed, 1, i)
      val wide = r.nextInt(100) < 20
      val mega = i % megaEvery == megaEvery - 1
      val target = if (mega) 240000 + r.nextInt(32000) else 1000 + r.nextInt(7000)
      val host = s"site${r.nextInt(5000)}.example"
      val p = new Pair
      val root = new Obj

      p.both("<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n<meta charset=\"utf-8\">\n")
      val title = words(r, 3 + r.nextInt(5), wide)
      p.both(s"<title>$title</title>\n")
      root.put("title", title)
      val desc = words(r, 6 + r.nextInt(8), wide)
      p.both(s"""<meta name="description" content="$desc">""" + "\n")
      root.put("description", desc)
      val canonical = s"https://$host/${docId(i)}"
      p.both(s"""<link rel="canonical" href="$canonical">""" + "\n")
      root.put("canonical", canonical)
      var k = r.nextInt(3)
      while (k > 0) { p.map(s"""<script src="/static/t$k.js"></script>""", "").both("\n"); k -= 1 }
      p.both("<style>body{margin:0}</style>\n</head>\n<body>\n")
      p.both("""<header class="site"><nav><a href="/">Home</a> <a href="/about">About</a></nav></header>""" + "\n")
      if (r.nextInt(3) == 0)
        p.map(s"""<div class="ad" id="ad${r.nextInt(100)}"><span>Sponsored: ${words(r, 4, wide)}</span></div>""", "")
          .both("\n")
      p.both("<article>\n")
      val headline = words(r, 4 + r.nextInt(6), wide)
      p.both(s"<h1>$headline</h1>\n")
      root.put("headline", headline)

      var links: ArrayBuffer[Any] = null
      var nMedia = 0
      while (p.in.length < target) {
        r.nextInt(10) match {
          case 0 | 1 =>
            val secure = r.nextBoolean()
            val path = s"/${asciiWords(r.nextInt(asciiWords.length))}/${r.nextInt(100000)}"
            val inHref = (if (secure) "https://" else "http://") + host + path
            val outHref = "https://" + host + path
            val text = words(r, 1 + r.nextInt(4), wide)
            val before = words(r, 3 + r.nextInt(8), wide)
            p.both(s"<p>$before ")
              .map(s"""<a class="out" href="$inHref">""", s"""<a class="out" href="$outHref" rel="nofollow">""")
              .both(s"$text</a> &amp; ${words(r, 2, wide)}.</p>\n")
            if (links == null) { links = new ArrayBuffer[Any]; root.put("links", links) }
            links += new Obj().put("href", outHref).put("text", text)
          case 2 =>
            val src = s"/img/${r.nextInt(100000)}.jpg"
            val alt = words(r, 2, wide = false)
            p.map(s"""<img src="$src" alt="$alt">""", s"""<img src="$src" alt="$alt" loading="lazy">""").both("\n")
          case 3 if r.nextInt(4) == 0 =>
            p.both("""<p class="promo">""").map(words(r, 5, wide), "[promo]").both("</p>\n")
          case _ =>
            p.both(s"<p>${words(r, 12 + r.nextInt(40), wide)}</p>\n")
        }
        // ~6% of all spans are media: about one marker per 2.5 KB of text
        if (r.nextInt(100) < 11) {
          p.media(s"media://${docId(i)}/$nMedia", s"img-${r.nextInt(1 << 20)}")
          nMedia += 1
        }
      }
      p.map("</article>", """<p class="graft-end"></p></article>""").both("\n")
      if (r.nextInt(2) == 0) {
        val styled = r.nextInt(4) == 0
        val c = words(r, 6, wide)
        if (styled) p.both(s"""<div class="comments" style="color: gray"><p>$c</p></div>""" + "\n")
        else p.map("""<div class="comments">""", """<div class="comments" style="display: none">""")
          .both(s"<p>$c</p></div>\n")
      }
      p.both(s"<footer><p>&copy; 2026 $host</p></footer>\n")
      val json = root.json
      p.data(injection(json))
      p.both("</body>\n</html>\n")

      val stream = p.in.toString
      Sample(Doc(docId(i), split(r, stream, p.markers)), stream, p.markers.toSeq, p.expected(json))
    }

    /** Cuts the stream into 64-512 char html spans (never inside a
      * surrogate pair) with the media spans at their marker positions. */
    private def split(r: SplittableRandom, s: String, markers: ArrayBuffer[MediaMarker]): Seq[Span] = {
      val spans = new ArrayBuffer[Span]
      var pos = 0
      var mi = 0
      while (pos < s.length || mi < markers.length) {
        if (mi < markers.length && markers(mi).pos == pos) {
          spans += Span(SpanKinds.Media, markers(mi).text, markers(mi).mediaRef, spans.length)
          mi += 1
        } else {
          val limit = if (mi < markers.length) markers(mi).pos else s.length
          var end = math.min(pos + 64 + r.nextInt(449), limit)
          if (end < limit && Character.isHighSurrogate(s.charAt(end - 1))) end += 1
          spans += Span(SpanKinds.Html, s.substring(pos, end), "", spans.length)
          pos = end
        }
      }
      spans.toSeq
    }
  }

  // ------------------------------------------------------------------
  // extract_listing: listing pages through an extraction-only program
  // ------------------------------------------------------------------
  object Listing {
    val headRules: String =
      """{"s": "head", "sub": [
        |  {"s": "title", "data": {"path": "page", "values": {"title": {"source": "Contents"}}}},
        |  {"s": "meta[name=\"description\"]", "data": {"values": {"description": {"source": "Attribute", "name": "content"}}}}
        |]}""".stripMargin

    val listingRules: String =
      """{"s": "#listing", "data": {"path": "listing"}, "sub": [
        |  {"s": "h1.heading", "data": {"values": {"heading": {"source": "Contents"}}}},
        |  {"s": ".item", "data": {"path": "items.", "values": {"sku": {"source": "Attribute", "name": "data-sku"}}},
        |   "sub": [
        |    {"s": "a.name", "data": {"values": {"url": {"source": "Attribute", "name": "href"}, "name": {"source": "Contents"}}}},
        |    {"s": ".tags li", "data": {"path": "tags.", "values": {"tag": {"source": "Contents"}}}},
        |    {"s": ".price", "data": {"path": "offer", "values": {"price": {"source": "Contents"}}}},
        |    {"s": "input[name=\"qty\"]", "data": {"values": {"qty": {"source": "Value"}}}}
        |  ]}
        |]}""".stripMargin

    val rules: Seq[String] = Seq(headRules, listingRules)

    final case class Page(html: String, bodyEnd: Int, dataJson: String)

    /** Item count of page k of n: a stratified draw from a log-uniform
      * 50..2000 (a long tail of large pages), so every seed gets the same
      * size mix and only the jitter within each stratum differs. */
    def itemsOf(seed: Long, k: Int, n: Int): Int = {
      val u = (k + rng(seed, 2, k).nextDouble()) / n
      math.round(50 * math.pow(40.0, u)).toInt
    }

    def make(seed: Long, k: Int, nItems: Int): Page = {
      val r = rng(seed, 3, k)
      // every fifth page, the largest among them, has multi-byte text, so
      // every seed gets the same text mix at each size
      val wide = k % 5 == 2
      val sb = new java.lang.StringBuilder(nItems * 320 + 512)
      val root = new Obj
      val title = words(r, 4, wide)
      val desc = words(r, 10, wide)
      sb.append("<!DOCTYPE html>\n<html>\n<head>\n<title>").append(title).append("</title>\n")
      sb.append("<meta name=\"description\" content=\"").append(desc).append("\">\n</head>\n<body>\n")
      root.put("page", new Obj().put("title", title))
      root.put("description", desc)
      val heading = words(r, 3, wide)
      sb.append("<div id=\"listing\">\n<h1 class=\"heading\">").append(heading).append("</h1>\n")
      val listing = new Obj().put("heading", heading)
      root.put("listing", listing)
      val items = new ArrayBuffer[Any]
      var i = 0
      while (i < nItems) {
        val sku = s"SKU${k}x$i${r.nextInt(1000)}"
        val url = s"/p/$sku"
        val name = words(r, 2 + r.nextInt(5), wide)
        val price = s"${r.nextInt(500)}.${10 + r.nextInt(90)}"
        val qty = r.nextInt(20).toString
        val item = new Obj().put("sku", sku).put("url", url).put("name", name)
        sb.append("<div class=\"item\" data-sku=\"").append(sku).append("\">\n")
        sb.append("<a class=\"name\" href=\"").append(url).append("\">").append(name).append("</a>\n")
        sb.append("<ul class=\"tags\">")
        val nTags = r.nextInt(4)
        if (nTags > 0) {
          val tags = new ArrayBuffer[Any]
          var t = 0
          while (t < nTags) {
            val tag = asciiWords(r.nextInt(asciiWords.length))
            sb.append("<li>").append(tag).append("</li>")
            tags += new Obj().put("tag", tag)
            t += 1
          }
          item.put("tags", tags)
        }
        sb.append("</ul>\n<span class=\"price\">").append(price).append("</span>\n")
        sb.append("<input type=\"hidden\" name=\"qty\" value=\"").append(qty).append("\">\n</div>\n")
        item.put("offer", new Obj().put("price", price)).put("qty", qty)
        items += item
        i += 1
      }
      listing.put("items", items)
      sb.append("</div>\n")
      val bodyEnd = sb.length
      sb.append("</body>\n</html>\n")
      val json = root.json
      Page(sb.toString, bodyEnd, json)
    }
  }

  // ------------------------------------------------------------------
  // dedup_closure: planted-component candidate-pair graphs
  // ------------------------------------------------------------------
  object Graph {
    final case class G(ids: Array[Long], id1: Array[Long], id2: Array[Long], label: Array[Long])

    /** `n` nodes with distinct random ids. About 5% sit in stars of 2-50
      * nodes and 3% in paths of 2-16 nodes; the rest are isolated. Four
      * paths of exactly 16 nodes carry their minimum id at one end, so
      * label propagation needs the same number of rounds on every seed. */
    def make(seed: Long, n: Int): G = {
      val r = rng(seed, 4, 0)
      val seen = new java.util.HashSet[java.lang.Long](n * 2)
      val ids = new Array[Long](n)
      var i = 0
      while (i < n) {
        val v = r.nextLong(1L << 40)
        if (seen.add(v)) { ids(i) = v; i += 1 }
      }
      val label = ids.clone()
      val e1 = new ArrayBuffer[Long]
      val e2 = new ArrayBuffer[Long]
      def edge(a: Int, b: Int): Unit = {
        e1 += math.min(ids(a), ids(b)); e2 += math.max(ids(a), ids(b))
      }
      def labelGroup(from: Int, to: Int): Unit = {
        var m = Long.MaxValue
        var j = from
        while (j < to) { m = math.min(m, ids(j)); j += 1 }
        j = from
        while (j < to) { label(j) = m; j += 1 }
      }
      var pos = 0
      // long paths: minimum at one end
      var c = 0
      while (c < 4) {
        java.util.Arrays.sort(ids, pos, pos + 16)
        // order pos..pos+15 ascending by id puts the minimum at the start;
        // shuffle the interior so the rest of the path is not monotone
        var j = pos + 15
        while (j > pos + 1) {
          val o = pos + 1 + r.nextInt(j - pos)
          val t = ids(j); ids(j) = ids(o); ids(o) = t
          j -= 1
        }
        j = pos
        while (j < pos + 15) { edge(j, j + 1); j += 1 }
        java.util.Arrays.fill(label, pos, pos + 16, ids(pos))
        pos += 16
        c += 1
      }
      val chainEnd = (n * 0.03).toInt
      while (pos < chainEnd) {
        val len = math.min(2 + r.nextInt(15), chainEnd - pos)
        var j = pos
        while (j < pos + len - 1) { edge(j, j + 1); j += 1 }
        labelGroup(pos, pos + len)
        pos += len
      }
      val starEnd = chainEnd + (n * 0.05).toInt
      while (pos < starEnd) {
        val len = math.min(2 + r.nextInt(49), starEnd - pos)
        var j = pos + 1
        while (j < pos + len) { edge(pos, j); j += 1 }
        labelGroup(pos, pos + len)
        pos += len
      }
      // ids were consumed in order; hand them out shuffled (with their
      // labels) so node order says nothing about components
      var j = n - 1
      while (j > 0) {
        val o = r.nextInt(j + 1)
        val t = ids(j); ids(j) = ids(o); ids(o) = t
        val l = label(j); label(j) = label(o); label(o) = l
        j -= 1
      }
      G(ids, e1.toArray, e2.toArray, label)
    }
  }
}

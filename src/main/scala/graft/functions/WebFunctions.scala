package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization + robots.txt evaluation — the two scalar
  * operations a crawl-curation pipeline applies to every fetched row
  * before any grouping (domain caps, per-site mixtures, frontier
  * dedup all key on the canonical URL / registered domain).
  *
  * Static, allocation-light row-local logic (like Hashing) that
  * `WebFunctions` calls through `Kernels` (Spark's StaticInvoke), so
  * whole-stage codegen stays intact — no ScalaUDF in the hot scan
  * projection. Public layouts only: RFC 3986 (URI syntax + §5.2.4
  * dot-segment removal), RFC 9309 (robots exclusion protocol).
  */
object Urls {

  /** RFC 3986 unreserved set — the only octets a normalizer may
    * percent-DECODE without changing meaning. */
  private def isUnreserved(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
      (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Percent-normalization: decode unreserved escapes (%41 -> A),
    * uppercase the hex of the rest (%2f -> %2F); malformed escapes pass
    * through literally (never throws on hostile input). */
  private[functions] def normalizePct(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
        hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) sb.append(v.toChar)
        else sb.append('%').append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments, verbatim. */
  private[functions] def removeDotSegments(input: String): String = {
    var in = input
    val out = new StringBuilder
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); trimLastSegment(out) }
      else if (in == "/..") { in = "/"; trimLastSegment(out) }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val next = in.indexOf('/', start)
        if (next < 0) { out.append(in); in = "" }
        else { out.append(in.substring(0, next)); in = in.substring(next) }
      }
    }
    if (out.isEmpty) "/" else out.toString
  }

  private def trimLastSegment(out: StringBuilder): Unit = {
    val idx = out.lastIndexOf("/")
    if (idx >= 0) out.setLength(idx)
  }

  /** (host, port, pathStart) of an absolute hierarchical URL, or null.
    * Userinfo is stripped (crawl convention — credentials never key
    * anything), host lowercased, single trailing dot removed. */
  private def parseAuthority(url: String): (String, Int, Int) = {
    val si = url.indexOf("://")
    if (si <= 0) return null
    var i = 0
    while (i < si) {
      val c = url.charAt(i)
      val ok = (i == 0 && Character.isLetter(c)) ||
        (i > 0 && (Character.isLetterOrDigit(c) || c == '+' || c == '-' || c == '.'))
      if (!ok) return null
      i += 1
    }
    var p = si + 3
    var ae = p
    while (ae < url.length && url.charAt(ae) != '/' && url.charAt(ae) != '?' &&
      url.charAt(ae) != '#') ae += 1
    var auth = url.substring(p, ae)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1)
    var host = auth
    var port = -1
    val ci = auth.lastIndexOf(':')
    if (ci >= 0) {
      val ps = auth.substring(ci + 1)
      if (ps.nonEmpty && !ps.forall(Character.isDigit)) return null
      host = auth.substring(0, ci)
      if (ps.nonEmpty) port = ps.toInt
    }
    host = host.toLowerCase
    if (host.endsWith(".")) host = host.substring(0, host.length - 1)
    if (host.isEmpty) return null
    (host, port, ae)
  }

  /** Canonical form: lowercase scheme+host, trailing host dot removed,
    * userinfo stripped, default port (http 80 / https 443) stripped,
    * percent-normalized path with dot segments resolved (empty -> "/"),
    * percent-normalized query (empty query dropped), fragment dropped.
    * Returns "" (sentinel, codegen-safe) when the URL is not an
    * absolute hierarchical URL. */
  def canonicalize(u: UTF8String): UTF8String =
    UTF8String.fromString(canonicalize(u.toString))
  def canonicalize(url: String): String = {
    val a = parseAuthority(url)
    if (a == null) return ""
    val (host, port, ae) = a
    val scheme = url.substring(0, url.indexOf("://")).toLowerCase
    val defaultPort = scheme match {
      case "http" => 80
      case "https" => 443
      case _ => -1
    }
    val portOut = if (port < 0 || port == defaultPort) "" else ":" + port
    val rest = url.substring(ae)
    val fi = rest.indexOf('#')
    val noFrag = if (fi >= 0) rest.substring(0, fi) else rest
    val qi = noFrag.indexOf('?')
    val rawPath = if (qi >= 0) noFrag.substring(0, qi) else noFrag
    val rawQuery = if (qi >= 0) noFrag.substring(qi + 1) else ""
    val path = removeDotSegments(normalizePct(if (rawPath.isEmpty) "/" else rawPath))
    val q = if (rawQuery.isEmpty) "" else "?" + normalizePct(rawQuery)
    scheme + "://" + host + portOut + path + q
  }

  /** Does `ref` start with a URI scheme (RFC 3986: a relative path's
    * first segment cannot contain ':')? Returns the ':' position or -1. */
  private def refSchemeEnd(ref: String): Int = {
    if (ref.isEmpty || !Character.isLetter(ref.charAt(0))) return -1
    var i = 1
    while (i < ref.length) {
      val c = ref.charAt(i)
      if (c == ':') return i
      if (!(Character.isLetterOrDigit(c) || c == '+' || c == '-' || c == '.')) return -1
      i += 1
    }
    -1
  }

  /** RFC 3986 §5.2 reference resolution against an absolute base, then
    * canonicalized — the outlink-harvesting step: every href a page
    * carries (absolute, protocol-relative, root-relative, path-relative,
    * query-only, fragment-only) becomes an absolute canonical URL.
    * "" when the base is unparseable or the resolved target is not
    * hierarchical (mailto:, javascript: — not crawlable links). */
  def resolve(base: UTF8String, ref: UTF8String): UTF8String =
    UTF8String.fromString(resolve(base.toString, ref.toString))
  def resolve(base: String, ref: String): String = {
    if (ref.isEmpty || ref.startsWith("#")) return canonicalize(base)
    if (refSchemeEnd(ref) > 0) return canonicalize(ref)
    val a = parseAuthority(base)
    if (a == null) return ""
    val scheme = base.substring(0, base.indexOf("://")).toLowerCase
    if (ref.startsWith("//")) return canonicalize(scheme + ":" + ref)
    val (host, port, ae) = a
    val authority = host + (if (port >= 0) ":" + port else "")
    val rest = base.substring(ae)
    val fi = rest.indexOf('#')
    val noFrag = if (fi >= 0) rest.substring(0, fi) else rest
    val qi = noFrag.indexOf('?')
    val basePath = if (qi >= 0) noFrag.substring(0, qi) else noFrag
    val bp = if (basePath.isEmpty) "/" else basePath
    if (ref.startsWith("?"))
      return canonicalize(scheme + "://" + authority + bp + ref)
    if (ref.startsWith("/"))
      return canonicalize(scheme + "://" + authority + ref)
    // merge (RFC 3986 §5.2.3): base path up to its last '/' + the ref;
    // canonicalize then resolves the dot segments
    val merged = bp.substring(0, bp.lastIndexOf('/') + 1) + ref
    canonicalize(scheme + "://" + authority + merged)
  }

  /** Static subset of the public-suffix list — the suffixes the synth
    * corpora and tests exercise; a deployment swaps in the full PSL
    * snapshot (same longest-suffix logic, bigger sets). */
  private val twoLevelSuffix = Set(
    "co.uk", "ac.uk", "org.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "co.in", "co.nz", "com.br", "com.cn", "github.io")
  private val oneLevelSuffix = Set(
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "ai", "co",
    "dev", "app", "info", "biz", "uk", "de", "fr", "jp", "cn", "ru",
    "br", "in", "au", "nz", "us", "it", "nl", "es", "se", "ch")

  /** eTLD+1 under the static suffix subset: the label before the
    * longest matching suffix, plus the suffix. A bare suffix or
    * single-label host returns itself. */
  def registeredDomain(hostRaw: String): String = {
    var host = hostRaw.toLowerCase
    if (host.endsWith(".")) host = host.substring(0, host.length - 1)
    val labels = host.split('.')
    if (labels.length < 2) return host
    val last2 = labels(labels.length - 2) + "." + labels(labels.length - 1)
    val suffixLen =
      if (twoLevelSuffix.contains(last2)) 2
      else if (oneLevelSuffix.contains(labels(labels.length - 1))) 1
      else 1 // unknown TLD: treat as a one-level suffix
    if (labels.length <= suffixLen) host
    else labels.takeRight(suffixLen + 1).mkString(".")
  }

  /** Registered domain straight from a URL ("" when unparseable). */
  def urlRegisteredDomain(u: UTF8String): UTF8String =
    UTF8String.fromString(urlRegisteredDomain(u.toString))
  def urlRegisteredDomain(url: String): String = {
    val a = parseAuthority(url)
    if (a == null) "" else registeredDomain(a._1)
  }
}

/** RFC 9309 robots.txt evaluation. */
object Robots {

  final case class Group(agents: Vector[String], rules: Vector[(Boolean, String)])

  /** Parse into groups: consecutive User-agent lines open a group, the
    * following Allow/Disallow lines fill it; a User-agent after rules
    * starts a new group; rules before any User-agent are ignored
    * (RFC 9309 §2.2.1). Comments (#) and unknown directives (Sitemap,
    * Crawl-delay) are skipped. Accepts LF and CRLF. */
  def parse(txt: String): Vector[Group] = {
    val groups = Vector.newBuilder[Group]
    var agents = Vector.newBuilder[String]
    var rules = Vector.newBuilder[(Boolean, String)]
    var haveAgents = false
    var inRules = false
    def flush(): Unit = {
      if (haveAgents) groups += Group(agents.result(), rules.result())
      agents = Vector.newBuilder[String]
      rules = Vector.newBuilder[(Boolean, String)]
      haveAgents = false; inRules = false
    }
    txt.split('\n').foreach { raw =>
      var line = raw
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (inRules) flush()
              agents += value.toLowerCase
              haveAgents = true
            case "allow" | "disallow" =>
              if (haveAgents) { rules += ((key == "allow", value)); inRules = true }
            case _ => ()
          }
        }
      }
    }
    flush()
    groups.result()
  }

  /** Does `pattern` match `path`? Prefix semantics with `*` wildcards
    * and a `$` end anchor (RFC 9309 §2.2.3). The empty pattern matches
    * nothing (the classic "Disallow:" = allow-all line). */
  def patternMatches(pattern: String, path: String): Boolean = {
    if (pattern.isEmpty) return false
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val parts = pat.split("\\*", -1)
    if (!path.startsWith(parts(0))) return false
    var pos = parts(0).length
    var i = 1
    while (i < parts.length) {
      val part = parts(i)
      if (i == parts.length - 1 && anchored) {
        if (!path.endsWith(part) || path.length - part.length < pos) return false
        pos = path.length
      } else {
        val idx = path.indexOf(part, pos)
        if (idx < 0) return false
        pos = idx + part.length
      }
      i += 1
    }
    if (anchored && parts.length == 1) pos == path.length else true
  }

  /** Per-JVM parse memo — a partition typically carries many rows of
    * the same site's robots.txt (same bounded-cache discipline as the
    * X1 regex cache; cleared when it grows past the bound). */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Vector[Group]]()
  private def parsed(txt: String): Vector[Group] = {
    if (cache.size > 4096) cache.clear()
    cache.computeIfAbsent(txt, t => parse(t))
  }

  /** RFC 9309 decision: pick the groups whose User-agent token equals
    * the crawler's (case-insensitive), else the `*` groups; among all
    * matching rules the LONGEST pattern wins, allow winning ties; no
    * match (or no group) = allowed. Returns (allowed, matched pattern
    * — "" when no rule matched). */
  def decide(robotsTxt: String, agent: String, path: String): (Boolean, String) = {
    val groups = parsed(robotsTxt)
    val al = agent.toLowerCase
    val named = groups.filter(_.agents.contains(al))
    val eff = if (named.nonEmpty) named else groups.filter(_.agents.contains("*"))
    var bestLen = -1
    var bestAllow = true
    var bestPat = ""
    eff.foreach(_.rules.foreach { case (allow, pat) =>
      if (patternMatches(pat, path) &&
        (pat.length > bestLen || (pat.length == bestLen && allow && !bestAllow))) {
        bestLen = pat.length; bestAllow = allow; bestPat = pat
      }
    })
    (bestAllow, bestPat)
  }

  def allowed(robots: UTF8String, agent: UTF8String, path: UTF8String): Boolean =
    decide(robots.toString, agent.toString, path.toString)._1
  def matchedRule(robots: UTF8String, agent: UTF8String, path: UTF8String): UTF8String =
    UTF8String.fromString(decide(robots.toString, agent.toString, path.toString)._2)
}

/** HTML character-reference decoding for the TEXT pipeline. The rewrite
  * engine deliberately passes entities through verbatim (byte-exact
  * output fidelity, SURVEY §2.5); extracted text headed for quality /
  * dedup / tokenization wants them resolved. Numeric references
  * (decimal and hex, surrogate-safe, WHATWG out-of-range -> U+FFFD) and
  * a documented subset of the WHATWG named set; unknown or unterminated
  * references pass through unchanged (semicolon-terminated forms only —
  * the legacy no-semicolon quirk is out of scope and documented). */
object HtmlText {

  private val named: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    val pairs = Seq(
      "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
      "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
      "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
      "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
      "ldquo" -> "“", "rdquo" -> "”", "laquo" -> "«",
      "raquo" -> "»", "eacute" -> "é", "egrave" -> "è",
      "agrave" -> "à", "ccedil" -> "ç", "auml" -> "ä",
      "ouml" -> "ö", "uuml" -> "ü", "szlig" -> "ß",
      "times" -> "×", "deg" -> "°", "middot" -> "·",
      "bull" -> "•", "sect" -> "§", "para" -> "¶",
      "euro" -> "€", "pound" -> "£", "yen" -> "¥",
      "cent" -> "¢")
    pairs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def unescape(s: UTF8String): UTF8String = UTF8String.fromString(unescape(s.toString))
  def unescape(s: String): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    // java.lang.StringBuilder: the (CharSequence, from, to) append —
    // scala's StringBuilder would auto-tuple those args into append(Any)
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    while (amp >= 0) {
      sb.append(s, pos, amp)
      pos = amp
      val semi = s.indexOf(';', amp + 1)
      // longest WHATWG name is ~32 chars; past that it's not a reference
      if (semi > amp + 1 && semi - amp <= 33) {
        val body = s.substring(amp + 1, semi)
        val repl: String =
          if (body.charAt(0) == '#') {
            val (digits, radix) =
              if (body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X'))
                (body.substring(2), 16)
              else (body.substring(1), 10)
            if (digits.nonEmpty && digits.length <= 8 &&
              digits.forall(c => Character.digit(c, radix) >= 0)) {
              val cp = java.lang.Long.parseLong(digits, radix)
              if (cp == 0 || cp > 0x10ffffL || (cp >= 0xd800L && cp <= 0xdfffL)) "�"
              else new String(Character.toChars(cp.toInt))
            } else null
          } else named.get(body)
        if (repl != null) { sb.append(repl); pos = semi + 1 }
        else { sb.append('&'); pos = amp + 1 }
      } else { sb.append('&'); pos = amp + 1 }
      amp = s.indexOf('&', pos)
    }
    sb.append(s, pos, s.length)
    sb.toString
  }
}

object WebFunctions {
  // every kernel here maps non-null input to non-null output ("" = no answer)
  private def call(kernels: AnyRef, fn: String, dt: DataType)(args: Column*) =
    Kernels.call(kernels, fn, dt, returnNullable = false)(args: _*)
  def html_unescape(c: Column): Column = call(HtmlText, "unescape", StringType)(c)
  def canonical_url(c: Column): Column = call(Urls, "canonicalize", StringType)(c)
  def resolve_url(base: Column, ref: Column): Column =
    call(Urls, "resolve", StringType)(base, ref)
  def registered_domain(c: Column): Column = call(Urls, "urlRegisteredDomain", StringType)(c)
  def robots_allowed(robots: Column, agent: Column, path: Column): Column =
    call(Robots, "allowed", BooleanType)(robots, agent, path)
  def robots_rule(robots: Column, agent: Column, path: Column): Column =
    call(Robots, "matchedRule", StringType)(robots, agent, path)
}

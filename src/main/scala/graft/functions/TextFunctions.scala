package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local text hashing/sketching helpers used by the dedup / similarity
  * pipeline. All static and allocation-light; `TextFunctions` calls the
  * Catalyst-typed entry points through `Kernels` (whole-stage codegen
  * stays intact instead of falling back to ScalaUDF).
  *
  * Deterministic by construction (splitmix64-derived coefficients; no
  * Random, no time).
  */
object Hashing {

  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit polynomial rolling hash (document fingerprint; base 1099511628211). */
  def fingerprint(s: UTF8String): Long = fingerprint(s.toString)
  def fingerprint(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = h * 1099511628211L + s.charAt(i); i += 1 }
    h
  }

  private def tokenize(s: String): Array[String] = {
    // whitespace tokenization; cheap and deterministic
    val out = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && s.charAt(i) == ' ') i += 1
      val st = i
      while (i < n && s.charAt(i) != ' ') i += 1
      if (i > st) out += s.substring(st, i)
    }
    out.toArray
  }

  /** Per-permutation seed table: `splitmix64(j * C)` depends only on j, so
    * it is loop-invariant across shingles — computed once per JVM instead
    * of once per (shingle, j), which halves the mixing work per shingle.
    * Values are IDENTICAL to the inline computation they replace. */
  @volatile private var seedCache: Array[Long] = new Array[Long](0)
  private def permSeeds(k: Int): Array[Long] = {
    var sc = seedCache
    if (sc.length < k) synchronized {
      sc = seedCache
      if (sc.length < k) {
        sc = Array.tabulate(k)(j => splitmix64(j.toLong * 0x2545F4914F6CDD1DL))
        seedCache = sc
      }
    }
    sc
  }

  /** MinHash signature over w-token shingles: k independent permutations
    * via (a*x+b) mixing with splitmix64-derived coefficients. Row-local —
    * at cluster scale this runs inside the scan projection with NO shuffle;
    * only the later band-bucket join shuffles.
    *
    * Implementation: token BOUNDARIES are scanned in place (no substring
    * allocation per token) and each window is hashed directly from the
    * source chars — char-for-char the same sequence as hashing the
    * materialized tokens joined by ' ', so signatures are bit-identical to
    * the previous substring-based path. */
  def minhash(s: UTF8String, k: Int, w: Int): ArrayData =
    new GenericArrayData(minhash(s.toString, k, w))
  def minhash(s: String, k: Int, w: Int): Array[Long] = {
    val seeds = permSeeds(k)
    val n = s.length
    // token boundary scan (starts/ends index pairs, no substrings)
    var nTok = 0
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var p = 0
    while (p < n) {
      while (p < n && s.charAt(p) == ' ') p += 1
      val st = p
      while (p < n && s.charAt(p) != ' ') p += 1
      if (p > st) {
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = st; ends(nTok) = p; nTok += 1
      }
    }
    val sig = Array.fill(k)(Long.MaxValue)
    if (nTok < w) {
      // short doc: single shingle over the whole text
      val h = fingerprint(s)
      var j = 0
      while (j < k) {
        val v = splitmix64(h ^ seeds(j))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      return sig
    }
    var i = 0
    while (i + w <= nTok) {
      // hash of tokens [i, i+w): chars + ' ' after each token
      var h = 0xcbf29ce484222325L
      var t = i
      while (t < i + w) {
        var c = starts(t)
        val e = ends(t)
        while (c < e) { h = h * 1099511628211L + s.charAt(c); c += 1 }
        h = h * 1099511628211L + ' '
        t += 1
      }
      var j = 0
      while (j < k) {
        val v = splitmix64(h ^ seeds(j))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band keys from a minhash signature: bands of `r` rows hashed to one
    * long each; docs sharing any band key are near-dup candidates. */
  def lshBands(sig: ArrayData, r: Int): ArrayData =
    new GenericArrayData(lshBands(sig.toLongArray(), r))
  def lshBands(sig: Array[Long], r: Int): Array[Long] = {
    val b = sig.length / r
    val out = new Array[Long](b)
    var i = 0
    while (i < b) {
      var h = 0xcbf29ce484222325L ^ i.toLong
      var j = i * r
      while (j < (i + 1) * r) { h = splitmix64(h ^ sig(j)); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  /** 64-bit SimHash over token hashes. */
  def simhash(s: UTF8String): Long = simhash(s.toString)
  def simhash(s: String): Long = {
    val toks = tokenize(s)
    val counts = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = splitmix64(fingerprint(toks(i)))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Sign-LSH bucket for an embedding: sign bits of dot products with
    * `planes` deterministic hyperplanes. */
  def cosLshBucket(vec: ArrayData, planes: Int, seed: Long): Long =
    cosLshBucket(vec.toFloatArray(), planes, seed)
  def cosLshBucket(vec: Array[Float], planes: Int, seed: Long): Long = {
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var i = 0
      while (i < vec.length) {
        // deterministic pseudo-gaussian-ish component in [-1,1)
        val r = splitmix64(seed ^ (p.toLong << 32) ^ i.toLong)
        dot += vec(i) * ((r >> 11).toDouble / (1L << 52).toDouble)
        i += 1
      }
      if (dot >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  // --- language-ID: tiny stopword profiles (public knowledge) ---
  private val profiles: Array[(String, Array[String])] = Array(
    "en" -> Array("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Array("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Array("le", "la", "les", "et", "de", "un", "une", "est", "dans", "que"),
    "es" -> Array("el", "la", "los", "y", "de", "un", "una", "es", "en", "que"),
    "zh" -> Array("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"))
  private val profileSets: Array[(String, java.util.HashSet[String])] =
    profiles.map { case (l, ws) =>
      val s = new java.util.HashSet[String](); ws.foreach(s.add); (l, s)
    }

  /** n-gram/stopword heuristic language ID: returns the language whose
    * stopword profile matches the most tokens ("und" unseen anywhere -> "en"). */
  def langId(s: UTF8String): UTF8String = UTF8String.fromString(langId(s.toString))
  def langId(s: String): String = {
    val toks = tokenize(s)
    var best = "en"
    var bestScore = -1
    var pi = 0
    while (pi < profileSets.length) {
      val (lang, set) = profileSets(pi)
      var score = 0
      var i = 0
      while (i < toks.length) { if (set.contains(toks(i))) score += 1; i += 1 }
      // CJK: also count profile chars as substrings (no spaces in zh text)
      if (lang == "zh") {
        val it = set.iterator()
        while (it.hasNext) { if (s.contains(it.next())) score += 2 }
      }
      if (score > bestScore) { bestScore = score; best = lang }
      pi += 1
    }
    best
  }
}

object TextFunctions {
  private def call(fn: String, dt: DataType)(args: Any*) =
    Kernels.call(Hashing, fn, dt, returnNullable = false)(args: _*)
  private val longs = ArrayType(LongType, containsNull = false)
  def fingerprint64(c: Column): Column = call("fingerprint", LongType)(c)
  def minhash_sig(c: Column, k: Int = 64, w: Int = 3): Column = call("minhash", longs)(c, k, w)
  def simhash64(c: Column): Column = call("simhash", LongType)(c)
  def lang_id(c: Column): Column = call("langId", StringType)(c)
  def lsh_bands(c: Column, r: Int = 4): Column = call("lshBands", longs)(c, r)
  def cos_lsh_bucket(c: Column, planes: Int = 12, seed: Long = 42L): Column =
    call("cosLshBucket", LongType)(c, planes, seed)
}

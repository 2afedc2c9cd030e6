package graft

/** Generated DuckDB oracle SQL for the sketch-based dedup queries.
  *
  * dd2 (MinHash+LSH) and dd3 (SimHash) hash with splitmix64 over FNV token/
  * shingle fingerprints (graft.functions.Hashing). DuckDB has no 64-bit
  * wrapping multiply, so the oracle replays the arithmetic exactly:
  *  - values are carried as HUGEINT in [0, 2^64);
  *  - xor / logical shifts run on UBIGINT (bit-pattern faithful);
  *  - `a * c mod 2^64` splits the CONSTANT c into 32-bit halves so every
  *    intermediate stays under 2^97 (HUGEINT-safe);
  *  - each splitmix64 round is one chained CTE stage, keeping the SQL
  *    linear instead of exponentially nested;
  *  - the 64 per-permutation constants splitmix64(j * 0x2545F4914F6CDD1D)
  *    are precomputed here and inlined as a VALUES list.
  * Signed-Long semantics that must survive the replay: MinHash's `v <
  * sig(j)` is a SIGNED compare (re-sign before MIN); band keys / simhash
  * join on bit patterns (equality is sign-agnostic); simhash's 16-bit
  * chunks mask an arithmetic shift (same as logical shift once masked).
  */
object OracleSql {

  private val P64 = "CAST('18446744073709551616' AS HUGEINT)"
  private val C0 = java.lang.Long.parseUnsignedLong("9e3779b97f4a7c15", 16)
  private val C1 = java.lang.Long.parseUnsignedLong("bf58476d1ce4e5b9", 16)
  private val C2 = java.lang.Long.parseUnsignedLong("94d049bb133111eb", 16)
  private val FnvH0 = java.lang.Long.parseUnsignedLong("cbf29ce484222325", 16)
  private val FnvP = 1099511628211L

  private def unsignedStr(x: Long): String = java.lang.Long.toUnsignedString(x)
  private def hu(x: Long): String = s"CAST('${unsignedStr(x)}' AS HUGEINT)"
  private def u(x: String): String = s"CAST($x AS UBIGINT)"
  private def xoru(a: String, b: String): String =
    s"CAST(xor(${u(a)}, ${u(b)}) AS HUGEINT)"
  private def shr(a: String, n: Int): String = s"CAST((${u(a)} >> $n) AS HUGEINT)"
  private def mulmod(a: String, c: Long): String = {
    val chi = java.lang.Long.divideUnsigned(c, 4294967296L)
    val clo = java.lang.Long.remainderUnsigned(c, 4294967296L)
    s"((($a)*$clo) + ((((($a)*$chi) % 4294967296) * 4294967296)) ) % $P64"
  }
  /** The four splitmix64 rounds as expressions over a column named z. */
  private val smStages: Seq[String => String] = Seq(
    z => s"(($z) + ${hu(C0)}) % $P64",
    z => mulmod(xoru(z, shr(z, 30)), C1),
    z => mulmod(xoru(z, shr(z, 27)), C2),
    z => xoru(z, shr(z, 31)),
  )
  private def fnv(s: String): String =
    s"list_reduce(list_prepend(${hu(FnvH0)}, " +
      s"list_transform(string_split($s,''), c -> CAST(unicode(c) AS HUGEINT))), " +
      s"(acc,c) -> (acc*$FnvP + c) % $P64)"

  private def sm64Scala(x0: Long): Long = {
    var z = x0 + C0
    z = (z ^ (z >>> 30)) * C1
    z = (z ^ (z >>> 27)) * C2
    z ^ (z >>> 31)
  }

  /** Exact-dedup survivor prefilter (Dedup.exactSurvivors): lowest doc_id
    * per identical text. The Spark side windows over xxhash64(text); the
    * replay partitions by the text itself — identical modulo 2^-64 hash
    * collisions (the same trade-off dd1 makes). */
  private val survCte: String =
    "surv AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
      "MIN(doc_id) OVER (PARTITION BY text) AS __m FROM documents) WHERE doc_id = __m)"

  /** dd3_simhash: exact-dedup survivors -> per-token FNV -> splitmix64 ->
    * 64 bit-majority counters -> 16-bit chunk blocking -> ANCHOR pairs
    * (min doc_id per bucket vs each member, hamming to the anchor) —
    * replaying Dedup.simhashCandidateAnchors(Dedup.exactSurvivors(...)). */
  def dd3Simhash: String = {
    val cnts = (0 until 64).map(b =>
      s"SUM(CASE WHEN (${u("z")} >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c$b").mkString(", ")
    val shsum = (0 until 64).map(b =>
      s"CASE WHEN c$b > 0 THEN ${hu(1L << b)} ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
    s"""WITH $survCte,
toks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> t <> '')) AS t FROM surv),
f AS (SELECT doc_id, ${fnv("t")} AS z FROM toks),
s0 AS (SELECT doc_id, ${smStages(0)("z")} AS z FROM f),
s1 AS (SELECT doc_id, ${smStages(1)("z")} AS z FROM s0),
s2 AS (SELECT doc_id, ${smStages(2)("z")} AS z FROM s1),
s3 AS (SELECT doc_id, ${smStages(3)("z")} AS z FROM s2),
cnt AS (SELECT doc_id, $cnts FROM s3 GROUP BY doc_id),
sh AS (SELECT doc_id, ($shsum) AS shu FROM cnt),
chunks AS (SELECT doc_id, shu, ci, CAST((${u("shu")} >> (16*ci)) & 65535 AS BIGINT) AS ck
           FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS ci)),
anch AS (SELECT doc_id, shu, MIN(doc_id) OVER (PARTITION BY ci, ck) AS id1,
                arg_min(shu, doc_id) OVER (PARTITION BY ci, ck) AS sh1 FROM chunks)
SELECT DISTINCT id1, doc_id AS id2,
  CAST(bit_count(xor(${u("sh1")}, ${u("shu")})) AS INT) AS hamming
FROM anch WHERE doc_id > id1 ORDER BY id1, id2"""
  }

  /** ann3_lsh_topk: sign-LSH bucket replay. The hyperplane components
    * (r >> 11) / 2^52 with r = splitmix64(seed ^ p<<32 ^ i) are 512
    * deterministic doubles, inlined via Double.toString (exact round-trip);
    * the per-plane dot folds left over double-cast floats in both engines,
    * so the sign — and therefore the bucket — is bit-identical. Probes =
    * query bucket + all 1-bit flips (Ann.lshTopK defaults planes=8,
    * probeBits=1, seed=42, query = vec_id 0, k=10). */
  /** Sign-LSH bucket as a SQL sum over `vd` (a DOUBLE-cast embedding list):
    * the hyperplane components (r >> 11) / 2^52 with
    * r = splitmix64(seed ^ p<<32 ^ i) are inlined as exact Double literals
    * (Double.toString round-trips), and each plane's dot folds left over
    * doubles in both engines, so the sign — and the bucket — is
    * bit-identical to graft.functions.Hashing.cosLshBucket. */
  private def bucketSumSql(planes: Int, dim: Int, seed: Long): String = {
    def compList(p: Int): String =
      (0 until dim).map { i =>
        val r = sm64Scala(seed ^ (p.toLong << 32) ^ i.toLong)
        java.lang.Double.toString((r >> 11).toDouble / (1L << 52).toDouble)
      }.mkString("[", ", ", "]")
    (0 until planes).map(p =>
      s"CASE WHEN list_dot_product(vd, ${compList(p)}) >= 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
  }

  def ann3LshTopK: String = {
    val planes = 8
    val bucketSum = bucketSumSql(planes, dim = 64, seed = 42L)
    val masks = (0 +: (0 until planes).map(1 << _)).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
bkt AS (SELECT vec_id, vd, ($bucketSum) AS bucket FROM e),
qb AS (SELECT bucket AS qbucket, vd AS qv, sqrt(list_dot_product(vd, vd)) AS nq FROM bkt WHERE vec_id = 0),
probes AS (SELECT CAST(xor(CAST(qbucket AS UBIGINT), CAST(m AS UBIGINT)) AS BIGINT) AS pb
           FROM qb CROSS JOIN (SELECT unnest($masks) AS m))
SELECT vec_id FROM (
  SELECT b.vec_id, list_dot_product(b.vd, q.qv) / (sqrt(list_dot_product(b.vd, b.vd)) * q.nq) AS score
  FROM bkt b, qb q WHERE b.bucket IN (SELECT pb FROM probes))
ORDER BY score DESC, vec_id LIMIT 10"""
  }

  /** dd5_embedding_neardup: sign-LSH bucket join (same bucket replay as
    * ann3) + the integer-quantized cosine threshold
    * `cos >= sqrt(num/den)  <=>  qdot >= 0 AND den*qdot^2 >= num*|a|^2*|b|^2`
    * evaluated in HUGEINT (the Spark side uses DECIMAL) — replaying
    * Dedup.embeddingNearDupLshQ(planes=8, seed=42). */
  def dd5EmbeddingNearDupLsh(num: Long, den: Long): String = {
    val bucketSum = bucketSumSql(planes = 8, dim = 64, seed = 42L)
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
  list_transform(embedding, x -> CAST(round(x*1000) AS BIGINT)) AS qv FROM embeddings),
b AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) AS qn2, ($bucketSum) AS bucket FROM e),
p AS (SELECT x.vec_id AS id1, y.vec_id AS id2, CAST(list_dot_product(x.qv, y.qv) AS BIGINT) AS qdot,
             x.qn2 AS qn2a, y.qn2 AS qn2b
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
SELECT id1, id2, qdot FROM p
WHERE qdot >= 0 AND $den*CAST(qdot AS HUGEINT)*CAST(qdot AS HUGEINT) >= $num*CAST(qn2a AS HUGEINT)*CAST(qn2b AS HUGEINT)
ORDER BY id1, id2"""
  }

  /** web2_mixture_sample: replay of WebCorpus.mixtureSample — FNV
    * fingerprint of 'source:doc_id' (same hash as tx4, HUGEINT mod 2^64),
    * re-signed to int64, pmod 1000 against the per-source rate. */
  def web2MixtureSample: String =
    s"""WITH f AS (SELECT source, CAST(substring(source, 4) AS INT) % 10 AS k,
  ${fnv("source || ':' || CAST(doc_id AS VARCHAR)")} AS r FROM documents),
s AS (SELECT source, 100 + 50 * k AS rate_permille,
  CASE WHEN r >= CAST('9223372036854775808' AS HUGEINT) THEN r - $P64 ELSE r END AS sgn FROM f),
d AS (SELECT source, rate_permille,
  CASE WHEN ((sgn % 1000) + 1000) % 1000 < rate_permille THEN 1 ELSE 0 END AS keep FROM s)
SELECT source, CAST(rate_permille AS BIGINT) AS rate_permille,
  COUNT(*) AS n_total, CAST(SUM(keep) AS BIGINT) AS n_kept
FROM d GROUP BY 1, 2 ORDER BY source"""

  /** ann4_ivf_topk: full replay of Ann.trainCentroids + Ann.ivfTopK —
    * the deterministic integer Lloyd k-means (sample = `sampleN` lowest
    * vec_ids, init = `cells` lowest, `iters` unrolled assign/update
    * rounds) and then the IVF probe/rank tail. Update rule is Java's
    * floorDiv(2*sum + cnt, 2*cnt); DuckDB's `//` truncates toward zero,
    * so floor division is spelled out as
    * (a - (((a % b) + b) % b)) // b (exact: the numerator is made
    * divisible first). Distances/dots stay < 2^53, so
    * CAST(list_dot_product AS BIGINT) is exact. */
  def ann4IvfTrained(cells: Int = 8, nprobe: Int = 2, k: Int = 10,
                     iters: Int = 2, sampleN: Int = 64, dim: Int = 64): String = {
    val fdiv = "(a - (((a % b) + b) % b)) // b"
    val iterCtes = (0 until iters).map { t =>
      s"""asg_$t AS (SELECT vec_id, qv, cell FROM (
  SELECT s.vec_id, s.qv, c.cell, row_number() OVER (PARTITION BY s.vec_id
    ORDER BY CAST(list_dot_product(c.cv, c.cv) AS BIGINT) - 2*CAST(list_dot_product(s.qv, c.cv) AS BIGINT), c.cell) AS rn
  FROM samp s CROSS JOIN c_$t c) WHERE rn = 1),
upd_$t AS (SELECT cell, d, 2*SUM(qv[d+1]) + COUNT(*) AS a, 2*COUNT(*) AS b
  FROM asg_$t CROSS JOIN dims GROUP BY cell, d),
cv_$t AS (SELECT cell, list($fdiv ORDER BY d) AS cv FROM upd_$t GROUP BY cell),
c_${t + 1} AS (SELECT p.cell, COALESCE(n.cv, p.cv) AS cv FROM c_$t p LEFT JOIN cv_$t n ON n.cell = p.cell)"""
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(x*1000) AS BIGINT)) AS qv FROM embeddings),
samp AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $sampleN),
c_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, qv AS cv
  FROM (SELECT vec_id, qv FROM samp ORDER BY vec_id LIMIT $cells)),
dims AS (SELECT unnest(range($dim)) AS d),
$iterCtes,
cent AS (SELECT cell, cv, CAST(list_dot_product(cv, cv) AS BIGINT) AS cn2 FROM c_$iters),
qq AS (SELECT qv AS qqv FROM q WHERE vec_id = 0),
assign AS (SELECT v.vec_id, v.qv, (SELECT c.cell FROM cent c
  ORDER BY c.cn2 - 2*CAST(list_dot_product(v.qv, c.cv) AS BIGINT) ASC, c.cell ASC LIMIT 1) AS cell FROM q v),
probes AS (SELECT c.cell FROM cent c, qq
  ORDER BY c.cn2 - 2*CAST(list_dot_product(qq.qqv, c.cv) AS BIGINT) ASC, c.cell ASC LIMIT $nprobe)
SELECT a.vec_id, CAST(list_dot_product(a.qv, (SELECT qqv FROM qq)) AS BIGINT) AS qdot
FROM assign a WHERE a.cell IN (SELECT cell FROM probes)
ORDER BY qdot DESC, a.vec_id LIMIT $k"""
  }

  /** dd2_minhash_lsh: exact-dedup survivors -> w=3 token shingles (short
    * docs: whole text) -> FNV -> 64 permutations via xor with precomputed
    * splitmix64(j*K) -> signed MIN per (doc, j) -> 16 bands of 4 folded
    * with splitmix64 -> ANCHOR pairs per band bucket (min doc_id vs each
    * member) — replaying
    * Dedup.minhashCandidateAnchors(Dedup.exactSurvivors(...)). */
  def dd2MinhashLsh: String = {
    val (ctes, pairSelect) = dd2Parts
    s"WITH $ctes\n$pairSelect ORDER BY id1, id2"
  }

  /** dd6_dedup_components: recursive-CTE reachability closure over the
    * dd2 anchor pairs — component(x) = min doc_id reachable from x in the
    * undirected candidate graph, the label Dedup.connectedComponents's
    * large-star/small-star rounds close on. */
  def dd6ConnectedComponents: String = {
    val (ctes, perDoc) = ccParts
    s"WITH RECURSIVE $ctes\n$perDoc\nORDER BY s.doc_id"
  }

  /** pipe2_dedup_pipeline: summary aggregate over the same closure —
    * survivors, kept (component representatives), distinct components. */
  def pipe2DedupPipeline: String = {
    val (ctes, perDoc) = ccParts
    s"""WITH RECURSIVE $ctes
SELECT COUNT(*) AS n_surv,
  CAST(SUM(CASE WHEN doc_id = component THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components
FROM ($perDoc)"""
  }

  private def ccParts: (String, String) = {
    val (ctes, pairSelect) = dd2Parts
    val cteBlock = s"""$ctes,
prs AS ($pairSelect),
und AS (SELECT id1 AS a, id2 AS b FROM prs UNION SELECT id2, id1 FROM prs),
reach(a, b) AS (SELECT a, b FROM und
  UNION SELECT r.a, u.b FROM reach r JOIN und u ON u.a = r.b),
comp AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a)"""
    val perDoc =
      """SELECT s.doc_id, CAST(COALESCE(LEAST(c.mn, s.doc_id), s.doc_id) AS BIGINT) AS component
FROM (SELECT doc_id FROM surv) s LEFT JOIN comp c USING (doc_id)"""
    (cteBlock, perDoc)
  }

  /** Shared CTE block + anchor-pair select for the dd2 replay. */
  private def dd2Parts: (String, String) = {
    val smj = (0 until 64)
      .map(j => sm64Scala(j.toLong * java.lang.Long.parseUnsignedLong("2545F4914F6CDD1D", 16)))
    val smjVals = smj.zipWithIndex
      .map { case (v, j) => s"($j, ${hu(v)})" }.mkString(", ")
    val bandCtes = new StringBuilder
    var prev = "b0"
    for (s <- 0 until 4) {
      val x = xoru("p.z", s"(CASE WHEN g.sig < 0 THEN g.sig + $P64 ELSE CAST(g.sig AS HUGEINT) END)")
      bandCtes ++= s"bx$s AS (SELECT p.doc_id, p.i, $x AS z FROM $prev p JOIN sig g ON g.doc_id = p.doc_id AND g.j = 4*p.i + $s),\n"
      var cur = s"bx$s"
      for (st <- 0 until 4) {
        val nxt = s"b${s}_$st"
        bandCtes ++= s"$nxt AS (SELECT doc_id, i, ${smStages(st)("z")} AS z FROM $cur),\n"
        cur = nxt
      }
      prev = cur
    }
    val bands = bandCtes.toString.stripSuffix(",\n")
    val ctes = s"""$survCte,
base AS (SELECT doc_id, text, list_filter(string_split(text,' '), t -> t <> '') AS toks FROM surv),
shing AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
    THEN list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ')
    ELSE [text] END) AS s FROM base),
f AS (SELECT doc_id, ${fnv("s")} AS h FROM shing),
v AS (SELECT doc_id, ${xoru("h", "smj")} AS z, j FROM f CROSS JOIN (VALUES $smjVals) AS t(j, smj)),
v0 AS (SELECT doc_id, j, ${smStages(0)("z")} AS z FROM v),
v1 AS (SELECT doc_id, j, ${smStages(1)("z")} AS z FROM v0),
v2 AS (SELECT doc_id, j, ${smStages(2)("z")} AS z FROM v1),
v3 AS (SELECT doc_id, j, ${smStages(3)("z")} AS z FROM v2),
sig AS (SELECT doc_id, j, MIN(CAST(CASE WHEN z >= CAST('9223372036854775808' AS HUGEINT)
    THEN z - $P64 ELSE z END AS BIGINT)) AS sig FROM v3 GROUP BY doc_id, j),
b0 AS (SELECT doc_id, i, ${xoru(hu(FnvH0), "i")} AS z
       FROM (SELECT DISTINCT doc_id FROM sig) CROSS JOIN (SELECT unnest(range(16)) AS i)),
$bands"""
    val pairSelect = s"""SELECT DISTINCT id1, id2 FROM (
  SELECT MIN(doc_id) OVER (PARTITION BY i, z) AS id1, doc_id AS id2 FROM $prev)
WHERE id2 > id1"""
    (ctes, pairSelect)
  }
}
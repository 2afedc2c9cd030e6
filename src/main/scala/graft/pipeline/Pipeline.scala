package graft.pipeline

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data pipeline operators over the `documents` /`embeddings`
  * tables. Everything is expressed as DataFrame transformations so Catalyst
  * can push filters/prune columns; the only row-local custom work is the
  * native expressions in graft.functions (codegen-friendly).
  *
  * Scale notes (100 TB view) are on each operator.
  */
object Dedup {

  /** The JVM's single local-mode checkpoint dir (see connectedComponents):
    * created on first use, deleted tree and all by one shutdown hook. */
  private lazy val localCkptDir: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)))
    dir
  }

  /** Ensure a reliable checkpoint dir is set (shared by the iterative
    * operators: connectedComponents, LinkGraph.pagerankFixedPoint). Only
    * defaults to a driver-local temp dir in LOCAL mode; on a real cluster
    * a machine-private /tmp would be unreadable by the other executors —
    * exactly the failure reliable checkpoints exist to avoid — so demand
    * an explicit shared-storage dir instead of guessing. Checkpoint files
    * live for the app's lifetime (clean via storage lifecycle policy, or
    * spark.cleaner.referenceTracking.cleanCheckpoints at session build). */
  private[pipeline] def ensureCheckpointDir(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      if (spark.sparkContext.isLocal) {
        // the dir this helper creates is its own to clean: delete the
        // whole tree at JVM exit so repeated local runs/tests don't leak
        // per-iteration checkpoint files under /tmp (a cluster deployment
        // sets an explicit dir and owns its lifecycle policy instead).
        // ONE lazily-created dir + ONE shutdown hook per JVM — repeated
        // calls in a long-lived JVM (test suites, notebooks) reuse it
        // instead of accumulating hooks and temp dirs per invocation.
        spark.sparkContext.setCheckpointDir(localCkptDir.toString)
      }
      else throw new IllegalStateException(
        "iterative graph operators need a reliable checkpoint dir on SHARED storage: " +
          "call sparkContext.setCheckpointDir(<hdfs/s3 path>) before running on a cluster")
    }

  /** Exact dedup: keep the lowest doc_id per identical text.
    * Scale: hash-aggregate on xxhash64(text) — one shuffle on the hash
    * (map-side partial agg), never on the full text bytes. */
  def exact(docs: DataFrame): DataFrame = {
    val withH = docs.select(col("doc_id"), xxhash64(col("text")).as("h"))
    val keep = withH.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"),
      count(lit(1)).as("n_copies"))
    keep
  }

  /** Exact-dedup survivors (doc_ids to keep). */
  def exactKeepIds(docs: DataFrame): DataFrame =
    exact(docs).select(col("keep_id").as("doc_id"), col("n_copies"))

  /** Exact-dedup survivor ROWS (lowest doc_id per identical text), as a
    * pre-pass for the sketch dedups: real crawl corpora contain clusters of
    * MILLIONS of byte-identical docs, and any bucketing sketch would put
    * the whole cluster in one bucket. One window-min over xxhash64(text):
    * the shuffle KEY is the 8-byte hash (cheap to partition/compare), but
    * the shuffled ROWS carry the full text — unavoidable, since the
    * surviving rows are the operator's output; hash collisions are the
    * standard 2^-64 trade-off, same as `exact`. */
  def exactSurvivors(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(xxhash64(col("text")))
    docs.withColumn("__keep", min(col("doc_id")).over(w))
      .where(col("doc_id") === col("__keep"))
      .drop("__keep")
  }

  /** MinHash+LSH candidates, ANCHOR-PAIR emission (the 100 TB shape):
    * instead of all `k^2·b/2` pairs of a hot bucket, each (band, key)
    * bucket emits `(min_doc_id, doc_id)` — O(k) rows per bucket, and the
    * pairs still connect every bucket member into one component for the
    * downstream union-find/verify step. One window-min per bucket (shuffle
    * on the band key, O(k log k) sort, spillable) replaces a self-join.
    * Compose with `exactSurvivors` so byte-identical clusters collapse
    * BEFORE sketching (a cluster of a million identical docs shares all b
    * band keys; no bucketing scheme survives that without the pre-pass). */
  def minhashCandidateAnchors(docs: DataFrame, k: Int = 64, w: Int = 3, r: Int = 4): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      lsh_bands(minhash_sig(col("text"), k, w), r).as("bands"))
    // posexplode_outer: the non-outer generator adds a `size(bands)>0`
    // pre-filter that gets pushed into the scan and recomputes the minhash
    // expression 3x per row; bands are never empty, so outer + a cheap
    // post-filter on the generated column keeps ONE minhash eval per row
    val exploded = sigs.select(col("doc_id"),
      posexplode_outer(col("bands")).as(Seq("band_idx", "band_key")))
      .where(col("band_key").isNotNull)
    val wMin = Window.partitionBy(col("band_idx"), col("band_key"))
    exploded.withColumn("id1", min(col("doc_id")).over(wMin))
      .where(col("doc_id") > col("id1"))
      .select(col("id1"), col("doc_id").as("id2"))
      .distinct()
  }

  /** SimHash near-dup candidates, ANCHOR-PAIR emission: a 64-bit
    * row-local sketch, and docs that share one of its four 16-bit chunks
    * are candidates. As in `minhashCandidateAnchors`, each (chunk_idx,
    * chunk_key) bucket emits `(min_doc_id, doc_id, hamming_to_anchor)` via
    * one window-min — O(k) rows per bucket even when the 4x65,536-key
    * space saturates at corpus scale (10^9+ docs put ~15k docs in every
    * bucket; a self-join would produce ~10^8 rows per bucket there). The
    * anchor's sketch rides in a struct-min so hamming needs no join-back. */
  def simhashCandidateAnchors(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), simhash64(col("text")).as("sh"))
    val chunks = sh.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"), shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL)).as("ck"))): _*)).as("c"))
      .select(col("doc_id"), col("sh"), col("c.ci"), col("c.ck"))
    val wMin = Window.partitionBy(col("ci"), col("ck"))
    chunks
      .withColumn("mn", min(struct(col("doc_id"), col("sh"))).over(wMin))
      .where(col("doc_id") > col("mn.doc_id"))
      .select(col("mn.doc_id").as("id1"), col("doc_id").as("id2"),
        expr("bit_count(mn.sh ^ sh)").as("hamming"))
      .distinct()
  }

  /** Dedup closure: connected components over candidate pairs — the step
    * that turns anchor pairs (possibly chained across buckets) into one
    * keep-decision per duplicate cluster. component(x) is the minimum
    * doc_id reachable from x.
    *
    * Algorithm: large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) over an edge table
    * that holds each undirected edge once as `(hi, lo)`, `hi > lo`
    * (self-pairs dropped). Both steps keep the components and only ever
    * move an edge's `lo` down:
    *  - large-star rewires each edge `(v, u)` to `(v, m(u))`, where m(u)
    *    is the minimum of u and u's smaller neighbours;
    *  - small-star rewires every smaller neighbour of a `hi` to the
    *    minimum of those neighbours.
    * Round 1 is a large-star over the input pairs; every later round is a
    * small-star followed by a large-star. The loop stops at the first
    * round whose large-star input is a forest of stars centred on their
    * minima (no node is both a `hi` and a `lo`, no `hi` has two `lo`s):
    * such a forest passes through large-star unchanged (repeats
    * dropped), so each output edge reads `hi -> lo`. Small-star leaves a
    * star forest as it is, so the round after the table first becomes one
    * confirms it. Rounds grow with log n for n edge-incident nodes
    * (Kiveris et al. prove O(log² n) and observe O(log n)), not with the
    * diameter: 5 on four 16-node paths, 12 on a 10,000-node path with a
    * shuffled interior, confirming round included. All arithmetic is min
    * over int64 — deterministic, externally replayable (recursive CTE).
    *
    * Checkpoints: each round runs as one eager reliable `checkpoint(true)`
    * of its edge table (the map stages of its two shuffles, then the
    * write; executor-loss-safe, see the body), and each round's plan
    * starts from the previous round's checkpoint. The convergence test
    * adds no job: it is a `Dataset.observe` count on the large-star's
    * window inside that checkpoint job, read after it. A re-run task can
    * only over-count, which errs towards one more round. The edge table
    * never has more rows than the input pairs.
    *
    * `maxIter` bounds the rounds (the first large-star counts as one); a
    * graph that has not closed by then throws rather than returning
    * partial labels. ComponentsSpec pins ⌈2·log2 n⌉ = 27 rounds as enough
    * for a 10,000-node path.
    *
    * Isolated nodes never enter the loop: they attach with ONE final left
    * join (their component = own id), as do the stars' centres. `nodes`
    * must be distinct: a repeated node gets one output row per copy. (A
    * `.distinct()` here would add a shuffle to every call.) */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame, maxIter: Int = 20): DataFrame = {
    // RELIABLE checkpoints (not localCheckpoint): localCheckpoint stores
    // blocks on executors AND truncates lineage, so one lost executor
    // mid-loop makes the data unrecoverable — a real failure mode on a
    // preemptible 1000-executor fleet. Reliable checkpoint() persists to
    // the checkpoint dir (HDFS/object store at scale; configure it on the
    // session) and the edge table is 2 longs per dup-subgraph edge, so the
    // per-round write is cheap relative to the shuffles it anchors.
    ensureCheckpointDir(pairs.sparkSession)
    // round 1 reads `pairs` once; later rounds read the last checkpoint,
    // so the sketch pipeline upstream is never recomputed
    var edges = pairs.where(col("id1") =!= col("id2")) // also drops null ids
      .select(greatest(col("id1"), col("id2")).as("hi"), least(col("id1"), col("id2")).as("lo"))
    var rounds = 0
    var converged = false
    while (rounds < maxIter && !converged) {
      val notStars = Observation()
      edges = largeStar(if (rounds == 0) edges else smallStar(edges), notStars).checkpoint(true)
      converged = notStars.get("n") == 0L
      rounds += 1
    }
    // silent partial labels would poison downstream keep-decisions AND the
    // external oracle (which computes the full closure) — fail loudly
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds; raise maxIter")
    // attach: a star's leaf (`hi`) takes its centre (`lo`); centres and
    // isolated nodes keep their own id. One left join on doc_id — locally
    // a broadcast, at scale one shuffle TOTAL instead of one per round
    nodes.select(col("doc_id"))
      .join(edges.select(col("hi").as("doc_id"), col("lo").as("__c")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__c"), col("doc_id")).as("component"))
  }

  /** Small-star: within each `hi`'s group, every `lo` other than the
    * group's minimum m is rewired to m; the `lo == m` edge stays. One row
    * out per row in: one shuffle on `hi`. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val m = min(col("lo")).over(Window.partitionBy(col("hi")))
    edges.select(col("hi"), col("lo"), m.as("m"))
      .select(when(col("lo") === col("m"), col("hi")).otherwise(col("lo")).as("hi"), col("m").as("lo"))
  }

  /** Large-star: each edge `(v, u)` becomes `(v, m(u))`, m(u) = min of u
    * and u's smaller neighbours. One shuffle: every edge is seen from both
    * ends in one window per node `u`, ordered by neighbour `v` (no
    * self-pairs, so `v < u` marks a smaller neighbour and `v > u` a
    * larger one). The same window drops repeated edges (adjacent in that
    * order) and feeds `notStars` the rows of nodes that break the star
    * test on this input: two distinct smaller neighbours, or both a
    * smaller and a larger one. Observed before the `v > u` filter, so a
    * node with no larger neighbour is counted too. */
  private def largeStar(edges: DataFrame, notStars: Observation): DataFrame = {
    val (u, v) = (col("u"), col("v"))
    val byU = Window.partitionBy(u).orderBy(v)
    val all = byU.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    edges.select(inline(array(
        struct(col("hi").as("u"), col("lo").as("v")), struct(col("lo").as("u"), col("hi").as("v")))))
      .select(u, v, min(v).over(all).as("mn"), max(v).over(all).as("mx"),
        max(when(v < u, v)).over(all).as("mxSmaller"), lag(v, 1).over(byU).as("prev"))
      .observe(notStars, count_if(col("mn") < col("mxSmaller") ||
        (col("mn") < u && col("mx") > u)).as("n"))
      .where(v > u && !(col("prev") <=> v))
      .select(v.as("hi"), least(col("mn"), u).as("lo"))
  }

  /** Exact n-gram (w-token shingle) Jaccard between consecutive doc_ids —
    * SQL-expressible (DuckDB-oracled) set-similarity: explode distinct
    * shingles, join on doc_id+1, count intersection/union.
    * Scale: shingle explode shuffles token-level data — this exact variant
    * is the verification path; the scale path is minhashCandidateAnchors. */
  def ngramJaccardConsecutive(docs: DataFrame, w: Int = 3): DataFrame = {
    // array-level join instead of shingle explode: each doc keeps ONE row
    // carrying its distinct-shingle ARRAY, consecutive ids join directly,
    // and |A∩B| is a row-local array_intersect — this removes the
    // shingle-row explode (token-level shuffle), the per-shingle re-split
    // filter, the count aggregation and the three-way join of the old
    // shape; shuffle volume is the same text bytes but in |docs| rows
    // instead of |shingles| rows, and the plan is 2 shuffles (join sides)
    // instead of 4. Values are identical: array_intersect over
    // already-distinct arrays counts exactly the matched distinct
    // shingles the explode-join counted.
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= w) // sequence(0, negative) would descend
    val sh = toks.select(col("doc_id"),
      expr(s"array_distinct(transform(sequence(0, size(t)-$w), i -> concat_ws(' ', slice(t, i+1, $w))))").as("sh"))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_id"),
        size(col("a.sh")).as("na"), size(col("b.sh")).as("nb"),
        size(array_intersect(col("a.sh"), col("b.sh"))).as("ni"))
      .select(col("doc_id"), col("ni").cast("long").as("inter"),
        (col("na").cast("long") + col("nb") - col("ni")).as("uni"))
  }

  /** Line-level dedup (the C4 / CCNet pre-training cleanup step): split each
    * doc into fixed-width token "lines", keep only the FIRST occurrence of
    * every distinct line corpus-wide (first = lowest (doc_id, line_idx)),
    * and reassemble each doc from its surviving lines in order. Shared
    * boilerplate (headers, footers, navigation chrome) collapses to a
    * single retained copy.
    *
    * Scale: line construction is scan-local; the only shuffle is the
    * first-occurrence window partitioned by the line itself (Spark hashes
    * the key for partitioning, so the shuffle key cost equals any
    * hash-of-line scheme while keeping the oracle exactly replayable — no
    * hash-collision caveat). Hot lines (the boilerplate being removed) are
    * bounded per partition by the window sort, O(k log k) and spillable,
    * never O(k^2). Reassembly is one hash-agg back on doc_id. Shuffle
    * VOLUME is ~the corpus text bytes twice (lines out to the window,
    * kept lines back to the doc agg) — inherent to C4 semantics, which
    * need every line's first-occurrence decision and the line text back. */
  def lineDedup(docs: DataFrame, w: Int = 4): DataFrame = {
    // token array projected once per row (HOF lambdas re-evaluate their
    // subtree per element — the inline split(text) cost O(lines) splits
    // per row; see decontaminate)
    val lines = docs.select(col("doc_id"), split(col("text"), " ").as("__t"))
      .select(col("doc_id"),
        posexplode_outer(expr(
          s"transform(sequence(0, cast(ceil(size(__t) / cast($w as double)) as int) - 1), " +
            s"i -> concat_ws(' ', slice(__t, i * $w + 1, $w)))"))
          .as(Seq("line_idx", "line")))
      .where(col("line").isNotNull)
    val wFirst = Window.partitionBy(col("line"))
    val marked = lines
      .withColumn("first", min(struct(col("doc_id"), col("line_idx"))).over(wFirst))
      .withColumn("keep",
        col("doc_id") === col("first.doc_id") && col("line_idx") === col("first.line_idx"))
    marked.groupBy(col("doc_id")).agg(
      count(lit(1)).cast("int").as("n_lines"),
      sum(col("keep").cast("int")).cast("int").as("n_kept"),
      array_join(transform(
        array_sort(collect_list(when(col("keep"), struct(col("line_idx"), col("line"))))),
        x => x.getField("line")), " ").as("kept_text"))
  }

  /** Benchmark decontamination (the standard eval-leak guard for training
    * corpora): flag every corpus doc sharing at least one w-token shingle
    * with a benchmark/eval set, with the count of distinct leaked shingles.
    *
    * Scale: eval benchmarks are tiny relative to a crawl corpus (MBs vs
    * 100 TB), so the benchmark shingle set is broadcast — the corpus side
    * is a scan-local shingle explode + broadcast hash join, NO shuffle of
    * corpus data; only the matched rows (rare) reach the count aggregate. */
  def decontaminate(docs: DataFrame, bench: DataFrame, w: Int = 4): DataFrame = {
    // the token array is projected ONCE per row before the shingle
    // transform: higher-order-function lambdas re-evaluate their subtree
    // per element, so the old inline `split(text)` inside the lambda cost
    // O(shingles) splits per row; and the generator is the OUTER variant
    // so the optimizer cannot infer a `size(...) > 0` pre-filter that
    // would recompute the whole shingle array a second time per row (the
    // arrays are never empty under the >= w filter, so outer + null
    // post-filter emits identical rows). The old per-shingle
    // `size(split(sh)) === w` post-filter was a tautology — a shingle is
    // w tokens joined by ' ' and tokens cannot contain ' ' — and cost one
    // split per shingle row; removed.
    def shingles(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("__t"))
      .where(size(col("__t")) >= w) // sequence(0, neg) descends
      .select(col("doc_id"),
        explode_outer(expr(s"array_distinct(transform(sequence(0, size(__t) - $w), " +
          s"i -> concat_ws(' ', slice(__t, i + 1, $w))))")).as("sh"))
      .where(col("sh").isNotNull)
    val bsh = shingles(bench).select(col("sh")).distinct()
    shingles(docs).join(broadcast(bsh), "sh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
  }

  /** Embedding-cosine near-dup pairs via sign-LSH buckets: row-local bucket
    * id, self-join within bucket, exact cosine check on candidates only.
    * Scale: avoids the quadratic all-pairs join; bucket join shuffles one
    * long + the vector per doc. */
  def embeddingNearDup(emb: DataFrame, planes: Int = 8, minCos: Double = 0.95): DataFrame = {
    val b = emb.select(col("vec_id"), col("embedding"),
      cos_lsh_bucket(col("embedding"), planes, 42L).as("bucket"))
    val x = b.as("x"); val y = b.as("y")
    val dot = expr("aggregate(zip_with(x.embedding, y.embedding, (p,q) -> cast(p as double)*cast(q as double)), 0D, (acc,v) -> acc+v)")
    val nx = expr("sqrt(aggregate(x.embedding, 0D, (acc,v) -> acc + cast(v as double)*cast(v as double)))")
    val ny = expr("sqrt(aggregate(y.embedding, 0D, (acc,v) -> acc + cast(v as double)*cast(v as double)))")
    x.join(y, col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"),
        (dot / (nx * ny)).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Near-dup pairs at scale with an INTEGER-EXACT cosine threshold:
    * sign-LSH bucket join (row-local bucket id in the scan projection; the
    * self-join only meets vectors in the same bucket, ~1/2^planes of the
    * all-pairs volume) + the quantized threshold of
    * `embeddingNearDupExact` on the candidates. The comparison runs in
    * DECIMAL so large-norm vectors cannot silently wrap Long. Everything —
    * bucket bits, quantization, threshold — is deterministic arithmetic,
    * so an external engine reproduces it bit-for-bit (this is the oracled
    * dd5 path; the O(n^2) exact join is the sampled recall baseline). */
  def embeddingNearDupLshQ(emb: DataFrame, planes: Int = 8, seed: Long = 42L,
                           num: Long = 4L, den: Long = 25L): DataFrame = {
    import graft.functions.VecFunctions.{qdot_pair, quantize_vec}
    val b = emb.select(col("vec_id"),
      quantize_vec(col("embedding")).as("qv"),
      cos_lsh_bucket(col("embedding"), planes, seed).as("bucket"))
      .withColumn("qn2", qdot_pair(col("qv"), col("qv")))
    val x = b.as("x"); val y = b.as("y")
    val qdot = qdot_pair(col("x.qv"), col("y.qv"))
    val dec = DecimalType(20, 0)
    x.join(y, col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"),
        qdot.as("qdot"), col("x.qn2").as("qn2a"), col("y.qn2").as("qn2b"))
      .where(col("qdot") >= 0 &&
        col("qdot").cast(dec) * col("qdot").cast(dec) * lit(den).cast(dec) >=
          lit(num).cast(dec) * col("qn2a").cast(dec) * col("qn2b").cast(dec))
      .select(col("id1"), col("id2"), col("qdot"))
  }

  /** Exact near-dup pairs with an INTEGER cosine threshold: vectors are
    * quantized to round(x*1000) bigints, and `cos >= sqrt(num/den)` is
    * rewritten as `qdot >= 0 && den*qdot^2 >= num*|a|^2*|b|^2` — pure
    * int64 arithmetic, so an external engine reproduces it bit-for-bit
    * (same trick as Ann.quantizedTopK). This is the verification/recall
    * baseline: O(n^2) pairs, broadcast-joined (the quantized table is tiny
    * relative to the corpus). The 100 TB path is `embeddingNearDup`'s
    * sign-LSH bucket join, whose recall is measured against this. */
  def embeddingNearDupExact(emb: DataFrame, num: Long, den: Long): DataFrame = {
    val q = emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(round(x*1000) as bigint))").as("qv"))
      .withColumn("qn2", expr("aggregate(qv, 0L, (a,v) -> a + v*v)"))
    val x = q.as("x"); val y = q.as("y")
    val qdot = expr("aggregate(zip_with(x.qv, y.qv, (p,q) -> p*q), 0L, (a,v) -> a+v)")
    // DECIMAL comparison: num*qn2a*qn2b can exceed Long for non-unit-norm
    // vectors (Spark would wrap silently in non-ANSI mode)
    val dec = DecimalType(20, 0)
    x.join(y, col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"),
        qdot.as("qdot"), col("x.qn2").as("qn2a"), col("y.qn2").as("qn2b"))
      .where(col("qdot") >= 0 &&
        col("qdot").cast(dec) * col("qdot").cast(dec) * lit(den).cast(dec) >=
          lit(num).cast(dec) * col("qn2a").cast(dec) * col("qn2b").cast(dec))
      .select(col("id1"), col("id2"), col("qdot"))
  }
}

object Ann {

  /** Brute-force cosine top-k against one query vector (baseline / recall
    * oracle). The query vector is a literal broadcast into the scan
    * projection — single pass, no shuffle except the global top-k, which
    * Spark executes as per-partition TakeOrdered + driver merge of k rows. */
  def bruteForceTopK(emb: DataFrame, queryVec: Array[Float], k: Int): DataFrame = {
    // native dot/norm expressions (same left-to-right double folds the old
    // aggregate(zip_with(...)) lambdas computed, one codegen call per row)
    import graft.functions.VecFunctions.{dot_double_lit, norm2_double}
    val dot = dot_double_lit(col("embedding"), queryVec)
    val nx = sqrt(norm2_double(col("embedding")))
    val nq = math.sqrt(queryVec.map(x => x.toDouble * x.toDouble).sum)
    emb.select(col("vec_id"), (dot / (nx * lit(nq))).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Quantize a driver-held vector BY Spark SQL (constant-folded `round`)
    * so literals agree bit-for-bit with scan-projected `round(x*1000)`.
    * Memoized per vector CONTENTS: the result is a pure function of the
    * vector (the frame only supplies the session), and a bench/serving
    * loop that runs quantizedTopK and ivfTopK with the same query vector
    * would otherwise pay one driver job per call for the same answer. */
  private val quantizeMemo =
    new java.util.concurrent.ConcurrentHashMap[Vector[Float], Array[Long]]()
  private def quantizeViaSql(emb: DataFrame, v: Array[Float]): Array[Long] =
    quantizeMemo.computeIfAbsent(v.toVector, _ =>
      emb.sparkSession.range(1)
        .withColumn("qv0", typedLit(v))
        .select(expr("transform(qv0, x -> cast(round(x*1000) as bigint))").as("q"))
        .collect().head.getSeq[Long](0).toArray)

  /** Integer-quantized dot-product top-k (deterministic across engines:
    * values are exact integers, so DuckDB can oracle it). */
  def quantizedTopK(emb: DataFrame, queryVec: Array[Float], k: Int): DataFrame = {
    // fused native quantize+dot (replicates cast(round(p*1000) as
    // bigint)*q per element, Long-wrap left-to-right fold — see VecOps)
    import graft.functions.VecFunctions.quantize_dot_lit
    emb.select(col("vec_id"),
        quantize_dot_lit(col("embedding"), quantizeViaSql(emb, queryVec)).as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic integer Lloyd k-means for the IVF codebook — the
    * offline-training stand-in is now a REAL k-means, kept externally
    * replayable: the training sample is the `sampleN` lowest vec_ids
    * (quantized BY Spark SQL so literals agree bit-for-bit with the scan
    * projection — driver-side rounding can diverge near k+0.5 boundaries
    * because the SQL expression multiplies in FLOAT before rounding),
    * init = the `cells` lowest sample vectors, then `iters` fixed rounds
    * of assign (integer L2 argmin `|c|^2 - 2*dot`, ties -> lowest cell)
    * and update (per-dim integer mean floorDiv(2*sum + cnt, 2*cnt) =
    * round-half-toward-+inf; empty cells keep their previous centroid).
    * Pure int64 with a fixed iteration count, so an external engine
    * replays the codebook exactly. At 100 TB the sample collect becomes
    * an offline training job; the serving-side plan is unchanged. */
  private[pipeline] def trainCentroids(emb: DataFrame, cells: Int, iters: Int,
                                       sampleN: Int): Array[Array[Long]] = {
    val sample: Array[Array[Long]] = emb.orderBy("vec_id").limit(sampleN)
      .select(expr("transform(embedding, x -> cast(round(x*1000) as bigint))").as("qv"))
      .collect()
      .map(_.getSeq[Long](0).toArray)
    require(sample.length >= cells, s"sample ${sample.length} < cells $cells")
    val dim = sample(0).length
    var cents = sample.take(cells).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(cells)(new Array[Long](dim))
      val cnts = new Array[Long](cells)
      sample.foreach { v =>
        var best = 0
        var bestD = Long.MaxValue
        var c = 0
        while (c < cells) {
          val cv = cents(c)
          var dot = 0L; var cn2 = 0L; var i = 0
          while (i < dim) { dot += v(i) * cv(i); cn2 += cv(i) * cv(i); i += 1 }
          val d = cn2 - 2L * dot
          if (d < bestD) { bestD = d; best = c } // strict < = lowest-cell tie-break
          c += 1
        }
        cnts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(cells) { c =>
        if (cnts(c) == 0L) cents(c)
        else Array.tabulate(dim)(i => Math.floorDiv(2L * sums(c)(i) + cnts(c), 2L * cnts(c)))
      }
    }
    cents
  }

  /** IVF-style ANN (second scale path besides sign-LSH): a coarse codebook
    * of `cells` centroids — trained by `trainCentroids`; at 100 TB the
    * training runs offline on a sample — with every
    * vector assigned to its nearest centroid by INTEGER L2 distance
    * (d_c = |c|^2 - 2*dot(v,c), the |v|^2 term is constant per row; ties ->
    * lowest cell). The query probes the `nprobe` nearest cells and ranks
    * only those vectors by quantized dot product. At scale `cell` is the
    * table's partition/cluster key, so the scan prunes to ~nprobe/cells of
    * the data; assignment is a scan-local projection (no shuffle) and the
    * final top-k is per-partition TakeOrdered + driver merge of k rows.
    * Integer-exact end to end, so an external engine reproduces it. */
  def ivfTopK(emb: DataFrame, queryVec: Array[Float], k: Int,
              cells: Int = 8, nprobe: Int = 2,
              iters: Int = 2, sampleN: Int = 64): DataFrame = {
    import graft.functions.VecFunctions.{ivf_cell, qdot_lit, quantize_vec}
    val cents: Array[Array[Long]] = trainCentroids(emb, cells, iters, sampleN)
    val cn2: Array[Long] = cents.map(c => c.map(v => v * v).sum)
    val qv: Array[Long] = quantizeViaSql(emb, queryVec)
    def qdotWith(c: Array[Long]): Long =
      qv.zip(c).map { case (a, b) => a * b }.sum
    val probes: Seq[Int] = cents.indices
      .sortBy(i => (cn2(i) - 2L * qdotWith(cents(i)), i)).take(nprobe)

    // ONE native expression computes the first-min argmin cell (same
    // d_c = |c|^2 - 2*dot distances and tie-break the old d0..dN
    // when-chain encoded, without 8 interpreted aggregate columns), and
    // the probe-survivors' ranking dot is a second native call — the old
    // plan's per-element lambda interpretation is gone end to end.
    emb.select(col("vec_id"), quantize_vec(col("embedding")).as("qv"))
      .withColumn("cell", ivf_cell(col("qv"), cents))
      .where(col("cell").isin(probes.map(Integer.valueOf): _*))
      .select(col("vec_id"), qdot_lit(col("qv"), qv).as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(k)
  }

  /** LSH-bucketed ANN (scale path): probe only the query's sign-LSH bucket
    * (and optionally 1-bit-flip neighbor buckets). At 100 TB the bucket
    * column is a partition/cluster key so the scan prunes to ~1/2^planes
    * of the table. */
  def lshTopK(emb: DataFrame, queryVec: Array[Float], k: Int,
              planes: Int = 8, probeBits: Int = 1): DataFrame = {
    import graft.functions.VecFunctions.{dot_double_lit, norm2_double}
    val qBucket = graft.functions.Hashing.cosLshBucket(queryVec, planes, 42L)
    val probes: Seq[Long] = qBucket +: (if (probeBits >= 1) (0 until planes).map(b => qBucket ^ (1L << b)) else Seq.empty)
    val dot = dot_double_lit(col("embedding"), queryVec)
    val nx = sqrt(norm2_double(col("embedding")))
    val nq = math.sqrt(queryVec.map(x => x.toDouble * x.toDouble).sum)
    emb.where(cos_lsh_bucket(col("embedding"), planes, 42L).isin(probes.map(java.lang.Long.valueOf): _*))
      .select(col("vec_id"), (dot / (nx * lit(nq))).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }
}

object TextStats {

  /** Quality metrics, all integer-valued so an external engine hashes
    * identically: char count, token count, stopword hits, punctuation
    * count, longest-token length. Single scan, no shuffle. */
  def quality(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(split(col("text"), " ")).as("n_tokens"),
      size(filter(split(col("text"), " "),
        t => t.isin("the", "a", "of", "and", "in"))).as("n_stopwords"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))).as("n_punct"),
      array_max(transform(split(col("text"), " "), t => length(t))).as("max_token_len"))

  /** BPE-ish token counting: whitespace tokens + regex word-piece count. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("bpe_ish_tokens"))

  /** Gopher-style document-quality filter (Rae et al. 2021, public — the
    * repetition/quality heuristics subset expressible as integer-exact
    * predicates): token-count bounds, mean-word-length bounds, symbol
    * ratio, and stopword presence. Every predicate is integer arithmetic
    * over counts, so an external engine replays it exactly; single scan,
    * no shuffle. */
  def gopherQuality(docs: DataFrame,
                    minTokens: Int = 50, maxTokens: Int = 100000,
                    minMeanWordLen: Int = 3, maxMeanWordLen: Int = 10): DataFrame = {
    val nTokens = size(split(col("text"), " "))
    // single-space corpus: total word chars = chars - (tokens - 1)
    val wordChars = length(col("text")) - nTokens + 1
    val nPunct = length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))
    val stopHits = size(filter(split(col("text"), " "),
      t => t.isin("the", "and", "of", "to", "in", "is", "that", "it", "was", "for")))
    docs.select(
      col("doc_id"),
      (nTokens >= minTokens && nTokens <= maxTokens).cast("int").as("pass_len"),
      (wordChars >= nTokens * minMeanWordLen &&
        wordChars <= nTokens * maxMeanWordLen).cast("int").as("pass_wordlen"),
      (nPunct * 10 <= length(col("text"))).cast("int").as("pass_symbol"),
      (stopHits >= 2).cast("int").as("pass_stop"))
      .withColumn("keep",
        (col("pass_len") * col("pass_wordlen") * col("pass_symbol") * col("pass_stop")).cast("int"))
  }

  /** Within-document repetition (the Gopher duplicate-n-gram signal):
    * total vs distinct w-token shingles per doc — high duplicate fraction
    * marks boilerplate/spam. Integer counts, scan-local, no shuffle. */
  def repetition(docs: DataFrame, w: Int = 3): DataFrame = {
    // token array projected once per row (HOF lambdas re-evaluate their
    // subtree per element — the inline split(text) cost O(shingles)
    // splits per row; see Dedup.decontaminate)
    val shingles = expr(
      s"transform(sequence(0, size(__t) - $w), i -> concat_ws(' ', slice(__t, i + 1, $w)))")
    docs.select(col("doc_id"), split(col("text"), " ").as("__t"))
      .select(
        col("doc_id"),
        when(size(col("__t")) >= w, size(col("__t")) - w + 1).otherwise(0).cast("int").as("n_shingles"),
        when(size(col("__t")) >= w, size(array_distinct(shingles))).otherwise(0).cast("int").as("n_distinct"))
      .withColumn("n_dup", (col("n_shingles") - col("n_distinct")).cast("int"))
  }

  /** PII scrubbing (RefinedWeb/FineWeb-style pre-training hygiene): count
    * and redact email addresses and international phone numbers. The
    * patterns stay in the portable regex subset (character classes, bounded
    * repetition) shared by Java regex and RE2 so an external engine replays
    * the redaction byte-for-byte. Scan-local projection, no shuffle. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("int").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("int").as("n_phones"),
      regexp_replace(regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")).as("scrubbed"))

  /** Heuristic language-ID vs the table's `lang` label (accuracy check is
    * in tests; here we emit predictions). */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang").as("lang_label"),
      lang_id(col("text")).as("lang_pred"))

  /** 64-bit rolling-hash fingerprints (content-defined identity). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint64(col("text")).as("fp64"))
}

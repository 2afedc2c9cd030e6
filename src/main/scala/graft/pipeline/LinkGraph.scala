package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality over the crawl's outlink edges — the signal a
  * web-corpus curation pipeline mixes into per-document quality (what
  * domain caps and mixture weights key on at 100 TB).
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic end to end — the
  * quantized-twin discipline the ANN operators use, applied to an
  * iterative graph computation: ranks live in units of 2^-40
  * (`RankScale`), every per-edge contribution is a truncating integer
  * division, and the damping is the exact rational 85/100 applied as
  * integer multiply-then-divide. Truncating integer ops are
  * order-independent, so the result is bit-identical regardless of
  * partitioning or aggregation order — which is what lets an external
  * SQL engine replay the whole iteration for the correctness oracle
  * (floating-point PageRank sums are not associative and can't be
  * hash-compared across engines).
  *
  * Plan shape per iteration: one join of the edge table against the
  * 2-longs-per-node rank table on src (the edge table's outdegree join
  * is loop-invariant and computed once), a hash aggregation on dst, and
  * a left join back to the node list for the teleport term. A reliable
  * checkpoint every 5 iterations bounds the plan depth, and one after the
  * last makes the returned table concrete, so the cached edge table is
  * released before the call returns (checkpoint dir rules as in
  * `Dedup.ensureCheckpointDir`).
  */
object LinkGraph {

  /** Rank unit: 2^-40 (total mass = RankScale, truncation only ever
    * removes sub-unit dust). */
  final val RankScale: Long = 1L << 40

  /** `edges`: (src: Long, dst: Long) — multi-edges count once each;
    * `nodes`: (node: Long) — must cover every src/dst. Returns
    * (node: Long, rank: Long) after `iters` damped power iterations
    * from the uniform start. Dangling nodes (no outlinks) simply
    * don't forward mass (their share decays to the teleport term —
    * the "drop dangling mass" variant, documented). */
  def pagerankFixedPoint(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64, s"pagerankFixedPoint: iters=$iters out of range")
    // n is metadata-scale (like ann4's driver-side codebook): one count job
    val n = nodes.count()
    require(n > 0, "pagerankFixedPoint: empty node set")
    val r0 = RankScale / n
    val base = r0 * 15 / 100 // teleport term (1-d) * uniform, d = 85/100
    // the outdegree join IS loop-invariant: persist it so every iteration
    // reuses the materialized table instead of re-running the edge scan +
    // degree aggregation + join per power step (at scale: an explicit
    // materialization of the degree-annotated edge table serves the same
    // purpose; exchange reuse alone is an AQE accident, not a guarantee)
    val edgesWithDeg = edges.join(
      edges.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.ensureCheckpointDir(nodes.sparkSession)
    var ranks = nodes.select(col("node"), lit(r0).as("rank"))
    var i = 0
    while (i < iters) {
      val mass = edgesWithDeg.join(ranks, edgesWithDeg("src") === ranks("node"))
        .select(col("dst"), expr("rank div outdeg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("in_mass"))
      ranks = nodes.join(mass, nodes("node") === mass("dst"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(in_mass, 0L)) div 100")).as("rank"))
      i += 1
      // reliable checkpoints (the shared dir, as in
      // Dedup.connectedComponents): every 5 power steps keeps the plan
      // depth bounded at iters up to the allowed 64, and the last one makes
      // the result concrete, so the edge table's cache can be dropped
      // before returning (ranks are 2 longs/node: a metadata-scale write)
      if (i % 5 == 0 || i == iters) ranks = ranks.checkpoint(true)
    }
    // a long-lived session's CacheManager would otherwise hold one cached
    // edge table per call until the session stops
    edgesWithDeg.unpersist()
    ranks
  }
}

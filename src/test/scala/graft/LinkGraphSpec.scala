package graft

import graft.pipeline.LinkGraph
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-point PageRank: the 3-node graph below is small enough to run
  * the integer recurrence by hand — the expected longs are derived on
  * paper from the definition, not from the implementation. */
class LinkGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("pagerank: one iteration matches the hand-derived integer recurrence") {
    import spark.implicits._
    // 0 -> {1,2}, 1 -> {2}, 2 -> {0}
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L).toDF("node")
    val r = LinkGraph.pagerankFixedPoint(edges, nodes, iters = 1)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    // r0 = 2^40/3 = 366503875925; base = (r0*15)//100 = 54975581388
    // mass(0) = r0 (from 2, outdeg 1)           -> 54975581388 + (85*366503875925)//100 = 366503875924
    // mass(1) = r0//2 = 183251937962            -> 54975581388 + (85*183251937962)//100 = 210739728655
    // mass(2) = r0//2 + r0 = 549755813887       -> 54975581388 + (85*549755813887)//100 = 522268023191
    assert(r == Seq((0L, 366503875924L), (1L, 210739728655L), (2L, 522268023191L)))
  }

  /** 40 nodes, two outlinks each. */
  private val ringEdges: Seq[(Long, Long)] = (0 until 40).flatMap { u =>
    Seq((u.toLong, ((u * 7 + 1) % 40).toLong), (u.toLong, ((u * 13 + 3) % 40).toLong))
  }

  /** Pure-Scala replay of the truncating integer recurrence, independent
    * of the DataFrame loop. */
  private def scalarReplay(edgeSeq: Seq[(Long, Long)], n: Int, iters: Int): Map[Long, Long] = {
    val outdeg = edgeSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val r0 = LinkGraph.RankScale / n
    val base = r0 * 15 / 100
    var ranks = Map((0 until n).map(u => u.toLong -> r0): _*)
    for (_ <- 0 until iters) {
      val mass = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edgeSeq.foreach { case (s, d) => mass(d) += ranks(s) / outdeg(s) }
      ranks = ranks.keys.map(u => u -> (base + 85L * mass(u) / 100L)).toMap
    }
    ranks
  }

  test("pagerank: deep iteration (checkpointed every 5) matches the scalar replay") {
    import spark.implicits._
    // iters=12 crosses the in-loop reliable checkpoints at i=5 and i=10
    val got = LinkGraph.pagerankFixedPoint(ringEdges.toDF("src", "dst"),
      (0 until 40).map(_.toLong).toDF("node"), iters = 12).as[(Long, Long)].collect().toMap
    assert(got == scalarReplay(ringEdges, 40, 12))
  }

  test("pagerank: a call leaves no persisted RDD behind and matches the scalar replay") {
    import spark.implicits._
    // a graph no other case uses: a table some earlier call left cached
    // would be reused here and hide a leak
    val edgeSeq = (0 until 30).flatMap(u => Seq((u.toLong, ((u * 11 + 5) % 30).toLong)))
    val nodes = (0 until 30).map(_.toLong).toDF("node")
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = LinkGraph.pagerankFixedPoint(edgeSeq.toDF("src", "dst"), nodes, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    assert(got == scalarReplay(edgeSeq, 30, 3))
  }

  test("pagerank: mass is conserved up to truncation dust and ranking is sane") {
    import spark.implicits._
    val n = 40
    val edges = ringEdges.toDF("src", "dst")
    val nodes = (0 until n).map(_.toLong).toDF("node")
    val r = LinkGraph.pagerankFixedPoint(edges, nodes, iters = 5)
      .as[(Long, Long)].collect().toMap
    val total = r.values.sum
    // truncation only removes mass; per iteration at most (edges + nodes + 1) units
    assert(total <= LinkGraph.RankScale)
    assert(total > LinkGraph.RankScale - 5L * (2L * n + n + 1) * 100)
    // every node keeps at least the teleport term
    val base = LinkGraph.RankScale / n * 15 / 100
    assert(r.values.forall(_ >= base))
    // determinism: a second run is bit-identical
    val r2 = LinkGraph.pagerankFixedPoint(edges, nodes, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(r == r2)
  }
}

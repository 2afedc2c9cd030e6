package graft

import graft.pipeline.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** `Dedup.connectedComponents` (large-star/small-star): labels against a
  * driver-side union-find, the round bound on a long path, and the number
  * of Spark jobs and checkpoints one call costs. Seeded generators only
  * (scalacheck `Seed`s, `scala.util.Random(seed)`): no wall-clock
  * randomness, so a failure reproduces. */
class ComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def run(pairs: Seq[(Long, Long)], nodes: Seq[Long], maxIter: Int = 20): Seq[(Long, Long)] = {
    import spark.implicits._
    Dedup.connectedComponents(pairs.toDF("id1", "id2"), nodes.toDF("doc_id"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
  }

  /** Minimum id per component, by union-find on the driver. */
  private def unionFindMin(pairs: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // the smaller root wins, so every root is its component's minimum
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  /** A path through `n` ids: the minimum at one end, the interior in a
    * seeded shuffled order. */
  private def path(ids: Seq[Long], seed: Long): Seq[(Long, Long)] = {
    val sorted = ids.sorted
    val order = sorted.head +: new scala.util.Random(seed).shuffle(sorted.tail)
    order.zip(order.tail)
  }

  /** Graphs of 1 to 12 pieces — stars (around a random member), paths,
    * cycles, cliques of up to 5, isolated runs — over distinct ids that
    * include 0 and Long.MaxValue when drawn, plus a bridge between two
    * pieces, repeated and reversed pairs and `id1 == id2` self-pairs. The
    * convergence test is global, so a wrong test shows on graphs of one
    * or two pieces: most draws are that small. */
  private val graphs: Gen[(Seq[(Long, Long)], Seq[Long])] = {
    val id = Gen.frequency(
      12 -> Gen.choose(1L, Long.MaxValue - 1), 4 -> Gen.choose(1L, 300L),
      1 -> Gen.const(0L), 1 -> Gen.const(Long.MaxValue))
    def piece(ids: IndexedSeq[Long], shape: Int): Seq[(Long, Long)] = shape match {
      case 0 => ids.tail.map(ids.head -> _)
      case 1 => ids.zip(ids.tail)
      case 2 => ids.zip(ids.tail :+ ids.head)
      case 3 => ids.take(5).combinations(2).map(c => c(0) -> c(1)).toSeq
      case _ => Seq.empty
    }
    for {
      k <- Gen.frequency(3 -> Gen.const(1), 2 -> Gen.choose(2, 3), 1 -> Gen.choose(4, 12))
      shapes <- Gen.listOfN(k, Gen.zip(Gen.choose(0, 4), Gen.choose(2, 12)))
      ids <- Gen.listOfN(shapes.map(_._2).sum + 3, id).map(_.distinct.toIndexedSeq)
      bridge <- Gen.option(Gen.zip(Gen.choose(0, ids.length - 1), Gen.choose(0, ids.length - 1)))
      noise <- Gen.listOfN(6, Gen.zip(Gen.choose(0, 2), Gen.choose(0, 1000)))
    } yield {
      val cuts = shapes.scanLeft(0)((at, s) => math.min(ids.length, at + s._2))
      val base = shapes.zip(cuts.zip(cuts.tail)).flatMap { case ((shape, _), (from, to)) =>
        if (to - from < 2) Seq.empty else piece(ids.slice(from, to), shape)
      } ++ bridge.map { case (a, b) => ids(a) -> ids(b) }
      val extra = noise.map { case (kind, k) =>
        if (base.isEmpty) ids(k % ids.length) -> ids(k % ids.length)
        else {
          val (a, b) = base(k % base.length)
          kind match {
            case 0 => a -> b // repeated
            case 1 => b -> a // reversed
            case _ => a -> a // self-pair
          }
        }
      }
      (base ++ extra, ids)
    }
  }

  test("labels equal a union-find's component minimum, one row per node (seeded)") {
    val params = Gen.Parameters.default
    val drawn = (0L until 24L).map { s =>
      val (pairs, nodes) = graphs.pureApply(params, Seed(s))
      val got = run(pairs, nodes)
      assert(got.map(_._1).sorted == nodes.sorted, s"seed $s: one row per node")
      assert(got.toMap == unionFindMin(pairs, nodes), s"seed $s")
      pairs
    }
    // the draws cover the edge cases the generator promises
    val edgeIds = drawn.flatMap(_.flatMap(p => Seq(p._1, p._2))).toSet
    assert(edgeIds(0L) && edgeIds(Long.MaxValue))
    assert(drawn.exists(_.exists(p => p._1 == p._2)))
    assert(drawn.exists(ps => ps.length > ps.distinct.length))
  }

  test("a 10,000-node path closes within ceil(2 log2 n) rounds") {
    val n = 10000
    val maxIter = math.ceil(2 * math.log(n) / math.log(2)).toInt
    assert(maxIter == 27)
    val ids = (0L until n).map(i => 1000L + i)
    val got = run(path(ids, seed = 12L), ids, maxIter)
    assert(got.length == n)
    assert(got.forall(_._2 == 1000L))
  }

  test("one call on four 16-node paths: <= 30 Spark jobs, <= ceil(2 log2 16)+1 checkpoints") {
    val pairs = (0 until 4).flatMap(p => path((0 until 16).map(i => 100L * p + 3L * i + 7L), seed = p))
    val nodes = (0L until 400L)
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Int, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.jobId -> Option(e.properties).map(_.getProperty("spec.mark")).orNull)
    }
    /** Runs a one-task job tagged `tag` and returns its id once the
      * listener has seen it, and so every job started before it (the
      * listener bus delivers in order). */
    def mark(tag: String): Int = {
      sc.setLocalProperty("spec.mark", tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("spec.mark", null)
      val deadline = System.nanoTime() + 10000000000L
      def seen = jobs.asScala.collectFirst { case (id, `tag`) => id }
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
      seen.get
    }
    def checkpointDirs(): Int = sc.getCheckpointDir.map(d => Paths.get(new java.net.URI(d)))
      .filter(Files.isDirectory(_))
      .fold(0)(d => Files.list(d).iterator().asScala.count(_.getFileName.toString.startsWith("rdd-")))

    run(Seq(1L -> 2L), Seq(1L, 2L)) // sets the checkpoint dir and warms the planner
    sc.addSparkListener(listener)
    try {
      val from = mark("from")
      val dirs0 = checkpointDirs()
      val got = run(pairs, nodes)
      val dirs = checkpointDirs() - dirs0
      val to = mark("to")
      val n = jobs.asScala.count { case (j, _) => j > from && j < to }
      assert(got.toMap == unionFindMin(pairs, nodes))
      assert(n <= 30, s"$n Spark jobs")
      assert(dirs <= math.ceil(2 * math.log(16) / math.log(2)).toInt + 1, s"$dirs checkpoint dirs")
    } finally sc.removeSparkListener(listener)
  }
}

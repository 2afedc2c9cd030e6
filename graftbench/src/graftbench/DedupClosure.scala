package graftbench

import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** dedup_closure: `Dedup.connectedComponents` over a seeded candidate-pair
  * graph read from parquet, its output collected; a closed loop of
  * queries. A node's latency is the wall time of the query that labels it. */
object DedupClosure {
  val nNodes = 100000

  /** Nodes whose collected label is missing, repeated, unknown or differs
    * from the planted component minimum. */
  def failures(g: Gen.Graph.G, got: Array[(Long, Long)]): Long = {
    val expect = new java.util.HashMap[Long, Long](g.ids.length * 2)
    g.ids.indices.foreach(i => expect.put(g.ids(i), g.label(i)))
    val rows = got.groupBy(_._1)
    val good = rows.count { case (id, rs) => rs.length == 1 && expect.get(id) == rs.head._2 }
    val unknown = rows.keys.count(id => !expect.containsKey(id))
    math.min(g.ids.length.toLong, g.ids.length - good + unknown)
  }

  private def checkpointDirs(root: Path): (Long, Long) = {
    if (!Files.exists(root)) return (0L, 0L)
    val w = Files.walk(root)
    try {
      val ps = w.iterator().asScala.toSeq
      (ps.count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-")).toLong,
        ps.filter(Files.isRegularFile(_)).map(Files.size).sum)
    } finally w.close()
  }

  def write(spark: SparkSession, g: Gen.Graph.G, work: Path): (String, String) = {
    import spark.implicits._
    val nodes = work.resolve("nodes").toString
    val pairs = work.resolve("pairs").toString
    spark.createDataset(g.ids.toSeq).toDF("doc_id").write.parquet(nodes)
    spark.createDataset(g.id1.toSeq.zip(g.id2.toSeq)).toDF("id1", "id2").write.parquet(pairs)
    (nodes, pairs)
  }

  def query(spark: SparkSession, nodes: String, pairs: String): Array[(Long, Long)] = {
    val nodesDf: DataFrame = spark.read.parquet(nodes)
    val pairsDf: DataFrame = spark.read.parquet(pairs)
    Dedup.connectedComponents(pairsDf, nodesDf).collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  def run(a: Args, tracer: Tracer): Report = {
    val r = new Report
    val (spark, tSession) = tracer.span("setup") {
      Common.time(tracer.span("setup.session")(Common.session(a)))
    }
    r.put("setup_s", Common.sinceStart(a), "s")
    if (a.setupOnly) { spark.stop(); return r }
    val g = Gen.Graph.make(a.seed, nNodes)
    val (nodes, pairs) = write(spark, g, a.work)
    val ckpt = a.work.resolve("ckpt")

    /** One query. Its allocation is taken around the query alone; the
      * checkpoint walks and the oracle check run outside that window. */
    final case class Q(wall: Double, alloc: Long, failed: Long, ckptDirs: Long, ckptBytes: Long)
    def one(): Q = {
      val (d0, b0) = checkpointDirs(ckpt)
      val a0 = Measure.jvmAllocated
      val (got, wall) = Common.time(tracer.span("dedup.query") {
        SparkCounters.tagged(spark.sparkContext, tracer)(query(spark, nodes, pairs))
      })
      val alloc = Measure.jvmAllocated - a0
      val (d1, b1) = checkpointDirs(ckpt)
      Q(wall, alloc, failures(g, got), d1 - d0, b1 - b0)
    }
    def phase(seconds: Double, minQueries: Int = 3): Seq[Q] = {
      val qs = new ArrayBuffer[Q]
      while (qs.map(_.wall).sum < seconds || qs.length < minQueries) qs += one()
      qs.toSeq
    }

    phase(0, minQueries = 4) // warm-up: query walls keep falling over the first four or so
    if (!a.trace) {
      val qs = phase(a.seconds)
      val walls = qs.map(_.wall)
      val done = qs.length.toLong * nNodes
      val sorted = walls.map(w => (w * 1e6).toLong).sorted.toArray
      r.put("docs_per_s", nNodes / Measure.median(walls), "1/s")
      r.put("doc_latency_p50_us", Measure.percentile(sorted, 50).toDouble, "us")
      r.put("doc_latency_p99_us", Measure.percentile(sorted, 99).toDouble, "us")
      r.put("alloc_kb_per_doc", qs.map(_.alloc).sum / 1024.0 / done, "KiB")
      r.put("output_bytes_per_doc", qs.map(_.ckptBytes).sum.toDouble / done, "B")
      r.notes += s"queries=${qs.length}, walls ${walls.map(w => f"$w%.2f").mkString(" ")} s " +
        "(every node of a query shares its wall time); output bytes are checkpoint bytes"
      r.attempted = done
      r.failed = qs.map(_.failed).sum
    } else {
      r.put("spark.session_s", tSession, "s")
      val u = phase(a.seconds)
      val counters = new SparkCounters(tracer)
      spark.sparkContext.addSparkListener(counters)
      val gc0 = Measure.gcMillis
      val t = tracer.span("traced_phase")(phase(a.seconds))
      counters.drain()
      r.put("jvm.gc_s", (Measure.gcMillis - gc0) / 1000.0, "s")
      spark.sparkContext.removeSparkListener(counters)
      Common.sparkLayer(r, counters, t.length)
      // one checkpoint holds the edge list; each round checkpoints its labels
      r.put("dedup.iterations", Measure.median(t.map(_.ckptDirs.toDouble - 1)), "count")
      r.put("dedup.checkpoint_bytes", Measure.median(t.map(_.ckptBytes.toDouble)), "B")
      val untraced = nNodes / Measure.median(u.map(_.wall))
      val traced = nNodes / Measure.median(t.map(_.wall))
      r.put("trace.untraced_docs_per_s", untraced, "1/s")
      r.put("trace.docs_per_s", traced, "1/s")
      r.put("trace.overhead_frac", 1 - traced / untraced, "ratio")
      r.attempted = (u.length + t.length).toLong * nNodes
      r.failed = (u ++ t).map(_.failed).sum
    }
    spark.stop()
    r
  }
}

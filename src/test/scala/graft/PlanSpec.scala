package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Physical-plan shape pins for the scale-critical queries: these fail if
  * a refactor silently turns a broadcast join into a shuffle join, lets a
  * self-join degrade to a cartesian product, or breaks column pruning into
  * the parquet scan. Run over sf0.001 (plan shape, not data volume). */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q2: the nation dim is broadcast, not shuffled") {
    val p = plan("q2_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("no scale query degrades to a cartesian / nested-loop join") {
    // (dd6/pipe2 run their iterative loop at construction time and expose
    // only the final checkpointed scan as a plan, so the join-bearing
    // plans to pin are the sketch queries themselves)
    for (q <- Seq("dd2_minhash_lsh", "dd3_simhash", "dd5_embedding_neardup",
        "ann3_lsh_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("scan-local text queries prune to the columns they read") {
    // tx4 reads only doc_id+text; the parquet scan must not fetch the rest
    val p = plan("tx4_fingerprint")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("top-k queries use per-partition TakeOrdered, not a global sort") {
    for (q <- Seq("ann1_quantized_topk", "ann2_bruteforce_topk")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: ${p.take(800)}")
    }
  }

  test("dd8: the benchmark shingle set is broadcast, corpus side not shuffled") {
    val p = plan("dd8_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("dd7: one window shuffle + hash-agg reassembly, no joins") {
    val p = plan("dd7_line_dedup")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), s"dd7 should not join: ${p.take(2000)}")
  }

  test("q9: the as-of join is the union+window shape — no join operator at all") {
    val p = plan("q9_asof_join")
    assert(p.contains("Window"), p.take(800))
    assert(!p.contains("Join"), s"q9 must not contain a join: ${p.take(2000)}")
  }

  test("q10: the range join stays an equi-join on (key, bucket), never a cartesian") {
    val p = plan("q10_range_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("web2: mixture sampling is scan-local + one partial/final agg, no join") {
    val p = plan("web2_mixture_sample")
    assert(!p.contains("Join"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("cdc1: merge is union + window, not a join") {
    val p = plan("cdc1_merge_upsert")
    assert(p.contains("Window"), p.take(800))
    assert(!p.contains("Join"), s"cdc1 must not join: ${p.take(2000)}")
  }

  test("web1: two-phase domain cap — per-partition pre-cap BEFORE the shuffle") {
    val p = plan("web1_domain_cap")
    // phase 1 is the typed per-partition top-k hop; it must sit between
    // the scan and the one exchange the window needs
    assert(p.contains("MapPartitions"), p.take(2000))
    val exchangeAt = p.indexOf("Exchange hashpartitioning")
    val mapAt = p.indexOf("MapPartitions")
    assert(exchangeAt >= 0 && mapAt >= 0 && mapAt > exchangeAt,
      s"pre-cap must be upstream (below) the exchange in the plan tree:\n${p.take(2000)}")
    assert(p.contains("Window"), p.take(800))
  }

  test("web1: pre-capped output is row-identical to the single-phase window") {
    import graft.pipeline.WebCorpus
    val docs = spark.read.parquet(s"$dir/documents.parquet").repartition(7)
    val two = WebCorpus.domainCap(docs).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val one = WebCorpus.domainCap(docs, prePartitionCap = false)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(two == one)
    // a tiny flush threshold (constant flushes) must still be lossless
    val flushy = WebCorpus.domainCap(docs, flushDomains = 2)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(flushy == one)
  }

  test("q11b: the approx-percentile sketch aggregates partially (map-side combine)") {
    // the whole point of the serving path: the sketch is partial-aggregable
    // (partial + final ObjectHashAggregate), so only summaries shuffle —
    // exact percentile by contrast needs every value at the reducer
    val p = plan("q11b_quantiles_approx")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("partial aggregation (map-side combine) on the big group-bys") {
    val p = plan("q1_agg")
    // two HashAggregate nodes = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("wa1: one spread repartition of raw file rows, then a scan-local explode") {
    // gunzip + WARC/HTTP/charset decode all ride inside one mapPartitions.
    // ONE user repartition of the raw (doc_id, text) rows is allowed BELOW
    // the decode (synthTable's spread: parallelizes decode CPU across the
    // session's shuffle partitions and spreads whole-file stragglers); the
    // decode output itself must flow to the orderBy without any further
    // hash exchange, and no join may appear
    val p = plan("wa1_warc_records")
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p.take(2000))
    assert(p.contains("REPARTITION_BY_NUM"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p.take(2000))
  }

  /** Each query's plan calls its kernel through Spark's StaticInvoke (a
    * static call inside the codegen span) and holds no ScalaUDF, which
    * would break the span; the kernel's name in the Project or Filter
    * proves the native path (the typed synth input keeps the pre-AQE plan
    * string from printing the WholeStageCodegen wrapper). */
  private def assertStaticCalls(kernel: Map[String, String]): Unit =
    for ((q, k) <- kernel) {
      val p = plan(q).toLowerCase
      val e = s"static_invoke(graft.functions.${k.toLowerCase}("
      assert(!p.contains("scalaudf"), s"$q fell out of codegen: ${p.take(800)}")
      assert(p.contains(e), s"$q does not project the native expression: ${p.take(800)}")
    }

  test("url1/rb1/tx8: the fetch scalars are native expressions in the projection") {
    assertStaticCalls(Map(
      "url1_canonicalize" -> "Urls.canonicalize",
      "rb1_robots" -> "Robots.allowed",
      "tx8_html_unescape" -> "HtmlText.unescape"))
  }

  test("tx4/dd2/ann4: the hashing and vector kernels are native expressions in the plan") {
    assertStaticCalls(Map(
      "tx4_fingerprint" -> "Hashing.fingerprint",
      "dd2_minhash_lsh" -> "Hashing.minhash",
      "ann4_ivf_topk" -> "VecOps.ivfCell"))
  }

  /** Executed plans of the `checkpoint` actions that building query `name`
    * runs: an iterative operator's loop plan runs in those jobs, and the
    * query it returns only scans the last checkpoint. */
  private def checkpointPlans(name: String): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "checkpoint") plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries(name)(spark, dir)
      // the listener is called from the listener bus, after the action
      val deadline = System.nanoTime() + 10000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    } finally spark.listenerManager.unregister(l)
    assert(!plans.isEmpty, s"$name ran no checkpoint")
    plans.asScala.toSeq
  }

  test("pr1: the PageRank iteration joins are keyed — never cartesian/nested-loop") {
    // the power steps run in the checkpoint job that makes the result concrete
    val p = checkpointPlans("pr1_pagerank").mkString("\n")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // per-iteration mass aggregation must combine map-side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("engine: one EngineOp per route, over a scan of doc_id and spans only") {
    import graft.corpus.Corpus
    import graft.spark.{EngineOp, EngineOpExec, ShadowSpark}
    import graft.streaming.StreamingExtract
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val dir = TempDirs.create("graft_plan").toString
    // a wider table than the operator reads, so the pruning shows
    Corpus.generate(spark, 20, 2).withColumn("url", org.apache.spark.sql.functions.lit("u"))
      .write.mode("overwrite").parquet(dir)
    val program = graft.engine.RuleCompiler.compile(Seq(
      graft.rules.RuleParser.parseStr(Corpus.corpusRules, new scala.collection.mutable.ArrayBuffer[String])))
    val other = Set("SerializeFromObject", "MapPartitions", "LogicalRDD", "ExternalRDD")
    def one(route: String, plan: LogicalPlan): EngineOp = {
      assert(plan.collect { case o: EngineOp => o }.size == 1, s"$route:\n$plan")
      assert(!plan.exists(n => other(n.nodeName)), s"$route:\n$plan")
      val op = plan.collectFirst { case o: EngineOp => o }.get
      assert(op.missingInput.isEmpty, s"$route:\n$plan")
      op
    }
    import spark.implicits._
    val df = spark.read.parquet(dir)
    for ((route, ds) <- Seq(
        "process" -> ShadowSpark.process(df.as[graft.core.Doc], program),
        "processColumnar" -> ShadowSpark.processColumnar(df, program))) {
      one(route, ds.queryExecution.optimizedPlan)
      val exec = ds.queryExecution.sparkPlan.collect { case e: EngineOpExec => e }
      assert(exec.size == 1 && exec.head.missingInput.isEmpty, ds.queryExecution.sparkPlan)
      exec.head.child match {
        case scan: FileSourceScanExec =>
          assert(scan.requiredSchema.fieldNames.toSeq == Seq("doc_id", "spans"), scan)
        case c => fail(s"$route: the operator reads ${c.nodeName}, not the scan")
      }
    }
    val streamed = one("stream", StreamingExtract.stream(spark, dir, program).queryExecution.analyzed)
    val source = streamed.child.collect { case r: StreamingRelation => r }
    assert(source.size == 1 && source.head.output.map(_.name) == Seq("doc_id", "spans"), streamed)
  }

  test("sink: the write plan has one EngineOp and one CollectMetrics, no Exchange or Sort") {
    import graft.corpus.Corpus
    import graft.spark.{EngineOpExec, ShadowSpark}
    import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.concurrent.duration._
    val written = scala.concurrent.Promise[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.executedPlan match {
          case w: DataWritingCommandExec => written.trySuccess(w)
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val program = graft.engine.RuleCompiler.compile(Seq(
      graft.rules.RuleParser.parseStr(Corpus.corpusRules, new scala.collection.mutable.ArrayBuffer[String])))
    val out = TempDirs.create("graft_sink").toString
    spark.listenerManager.register(listener)
    val p = try {
      ShadowSpark.writeResumable(Corpus.generate(spark, 20, 2), program, out)
      scala.concurrent.Await.result(written.future, 30.seconds)
    } finally spark.listenerManager.unregister(listener)
    object aqe extends AdaptiveSparkPlanHelper
    assert(aqe.collect(p) { case e: EngineOpExec => e }.size == 1, p)
    assert(aqe.collect(p) { case m: CollectMetricsExec => m }.size == 1, p)
    assert(aqe.collect(p) { case n @ (_: Exchange | _: SortExec) => n }.isEmpty, p)
  }
}

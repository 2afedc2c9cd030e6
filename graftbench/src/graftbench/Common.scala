package graftbench

import graft.engine.{RuleCompiler, RuleProgram, ShadowEngine}
import graft.html.{Arena, HtmlParser, NamePool}
import graft.rules.{RuleNode, RuleParser}
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `startNs`: `System.nanoTime()` when the JVM entered `Main.main`, from
  * which `setup_s` is timed. `setupOnly`: stop once set-up is done. */
final case class Args(seed: Long, seconds: Int, trace: Boolean, work: Path, cores: Int,
                      startNs: Long, setupOnly: Boolean = false)

/** Metrics of one run, in the order they were added, plus the accounting
  * behind `failed_frac`. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  val notes = new ArrayBuffer[String]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

object Common {

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(a.work.resolve("ckpt").toString)
    s
  }

  def parseRules(jsons: Seq[String]): Seq[RuleNode] = {
    val errs = new ArrayBuffer[String]
    val trees = jsons.map(RuleParser.parseStr(_, errs))
    require(errs.isEmpty, s"benchmark rules do not parse: ${errs.mkString("; ")}")
    trees
  }

  def mutationOnly(n: RuleNode): RuleNode = n.copy(data = None, sub = n.sub.map(mutationOnly))

  def extractionOnly(n: RuleNode): RuleNode =
    n.copy(hide = false, delete = false, edit = None, append = Vector.empty, prepend = Vector.empty,
      insertBefore = Vector.empty, insertAfter = Vector.empty, sub = n.sub.map(extractionOnly))

  /** Seconds since the JVM entered `Main.main`: a cold set-up, done once
    * per process, is over when a workload calls this. */
  def sinceStart(a: Args): Double = (System.nanoTime() - a.startNs) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Single-threaded, interleaved probes of the parse layer and of the
    * four ablated programs (empty, mutation-only, extraction-only, full) on
    * the same docs. Engine layers are differences: walk_emit = empty -
    * parse, mutate = mutation-only - empty, extract = full - mutation-only,
    * extract_only = extraction-only - empty. */
  def engineProbes(streams: Array[String], markers: Array[Seq[HtmlParser.MediaMarker]],
                   trees: Seq[RuleNode], r: Report, tracer: Tracer): Unit = {
    val n = streams.length
    val pool = new NamePool
    val arena = new Arena("")
    val parse = () => tracer.span("probe.html") {
      var nodes = 0L
      var i = 0
      while (i < n) { nodes += HtmlParser.parse(streams(i), markers(i), pool, arena).size; i += 1 }
      nodes
    }
    def engine(name: String, program: RuleProgram): (String, () => Long) = {
      val e = new ShadowEngine(program)
      name -> (() => tracer.span(s"probe.engine.$name") {
        var spans = 0L
        var i = 0
        while (i < n) { spans += e.processStreamAcc(streams(i), markers(i)).n; i += 1 }
        spans
      })
    }
    val p = Measure.probes(n, warmSec = 2.0, rounds = 11)("html" -> parse,
      engine("empty", RuleCompiler.compile(Nil)),
      engine("mutation_only", RuleCompiler.compile(trees.map(mutationOnly))),
      engine("extraction_only", RuleCompiler.compile(trees.map(extractionOnly))),
      engine("full", RuleCompiler.compile(trees)))
    r.put("html.ns_per_doc", p("html").nsPerDoc, "ns")
    r.put("html.alloc_b_per_doc", p("html").allocPerDoc, "B")
    r.put("html.nodes_per_doc", p("html").count, "count")
    def diff(layer: String, hi: String, lo: String): Unit = {
      r.put(s"engine.$layer.ns_per_doc", p(hi).nsPerDoc - p(lo).nsPerDoc, "ns")
      r.put(s"engine.$layer.alloc_b_per_doc", p(hi).allocPerDoc - p(lo).allocPerDoc, "B")
    }
    diff("walk_emit", "empty", "html")
    diff("mutate", "mutation_only", "empty")
    diff("extract", "full", "mutation_only")
    diff("extract_only", "extraction_only", "empty")
    r.put("engine.full.ns_per_doc", p("full").nsPerDoc, "ns")
    r.put("engine.full.alloc_b_per_doc", p("full").allocPerDoc, "B")
  }

  /** Spark counters of a traced phase, per query. */
  def sparkLayer(r: Report, c: SparkCounters, queries: Int): Unit = {
    val q = math.max(1, queries).toDouble
    r.put("spark.jobs", c.jobsEnded / q, "count")
    r.put("spark.stages", c.stages / q, "count")
    r.put("spark.tasks", c.tasksEnded / q, "count")
    r.put("spark.tasks_failed", c.tasksFailed / q, "count")
    r.put("spark.tasks_retried", c.tasksRetried / q, "count")
    r.put("spark.shuffle_write_bytes", c.shuffleWriteBytes / q, "B")
    r.put("spark.shuffle_fetch_wait_s", c.fetchWaitMs / 1000.0 / q, "s")
    r.put("spark.task_skew", c.taskSkew, "ratio")
    r.put("spark.cpu_frac", if (c.runTimeMs == 0) 0.0 else c.cpuTimeNs / (c.runTimeMs * 1e6), "ratio")
  }
}

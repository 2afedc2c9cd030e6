package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One recorded span; times are microseconds since the epoch. `parent` is
  * -1 for a root span. */
final case class SpanRec(id: Long, name: String, startUs: Long, endUs: Long, parent: Long)

/** In-memory span recorder for one run. Spans are wrapped around calls the
  * benchmark makes into the program, and added for Spark jobs, stages and
  * tasks by [[SparkCounters]]; they are written once, when the run ends. */
final class Tracer(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[SpanRec]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def newId(): Long = nextId.getAndIncrement()
  def current: Long = stack.get.headOption.getOrElse(-1L)

  def add(s: SpanRec): Unit = spans.add(s)

  def span[T](name: String)(body: => T): T = spanUnder(name, current)(body)

  /** A span with an explicit parent, for work handed to other threads. */
  def spanUnder[T](name: String, parent: Long)(body: => T): T = {
    val id = newId()
    stack.set(id :: stack.get)
    val t0 = nowUs
    try body
    finally {
      stack.set(stack.get.tail)
      spans.add(SpanRec(id, name, t0, nowUs, parent))
    }
  }

  def all: Seq[SpanRec] = spans.asScala.toSeq

  /** Writes the spans as JSON lines, one per span. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new java.lang.StringBuilder
    all.sortBy(_.startUs).foreach { s =>
      sb.append(s"""{"run":"$runId","id":${s.id},"name":"${s.name}","start_us":${s.startUs},""")
        .append(s""""end_us":${s.endUs},"parent":${s.parent}}""").append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }

  /** Per span name: count, total and self time (ms). Self time is a span's
    * duration minus the union of its children's intervals within it. */
  def table: Seq[(String, Int, Double, Double)] = {
    val recs = all
    val kids = recs.groupBy(_.parent)
    recs.groupBy(_.name).toSeq.map { case (name, ss) =>
      var tot = 0L; var self = 0L
      ss.foreach { s =>
        val d = s.endUs - s.startUs
        tot += d
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter(p => p._2 > p._1).sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        iv.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        self += d - covered
      }
      (name, ss.size, tot / 1000.0, self / 1000.0)
    }.sortBy(-_._3)
  }
}

/** SparkListener that counts jobs, stages and tasks (failed and retried
  * ones too), shuffle and CPU figures, and records job/stage/task spans
  * under the benchmark span that was current when each job started. */
final class SparkCounters(tracer: Tracer) extends SparkListener {
  @volatile var jobsStarted = 0
  @volatile var jobsEnded = 0
  @volatile var stages = 0
  @volatile var tasksStarted = 0
  @volatile var tasksEnded = 0
  @volatile var tasksFailed = 0
  @volatile var tasksRetried = 0
  @volatile var shuffleWriteBytes = 0L
  @volatile var fetchWaitMs = 0L
  @volatile var runTimeMs = 0L
  @volatile var cpuTimeNs = 0L
  private val jobSpan = mutable.HashMap[Int, (Long, Long, Long)]() // job -> (span id, start, parent)
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageSpan = mutable.HashMap[(Int, Int), Long]()
  // per (stage, attempt): task durations in ms, for skew
  private val stageTaskMs = mutable.LinkedHashMap[(Int, Int), ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.SpanProp))).map(_.toLong).getOrElse(-1L)
    jobSpan(e.jobId) = (tracer.newId(), e.time * 1000L, parent)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    jobSpan.get(e.jobId).foreach { case (id, st, parent) =>
      tracer.add(SpanRec(id, "spark.job", st, math.max(st, e.time * 1000L), parent))
    }
  }

  private def stageSpanId(stage: Int, attempt: Int): Long =
    stageSpan.getOrElseUpdate((stage, attempt), tracer.newId())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val si = e.stageInfo
    val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).map(_._1).getOrElse(-1L)
    val st = si.submissionTime.getOrElse(0L) * 1000L
    val en = si.completionTime.getOrElse(si.submissionTime.getOrElse(0L)) * 1000L
    tracer.add(SpanRec(stageSpanId(si.stageId, si.attemptNumber()), "spark.stage", st, math.max(st, en), parent))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized { tasksStarted += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasksEnded += 1
    val ti = e.taskInfo
    if (!ti.successful || e.reason != org.apache.spark.Success) tasksFailed += 1
    if (ti.attemptNumber > 0 || ti.speculative) tasksRetried += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      runTimeMs += m.executorRunTime
      cpuTimeNs += m.executorCpuTime
    }
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), new ArrayBuffer[Long]) +=
      (ti.finishTime - ti.launchTime)
    tracer.add(SpanRec(tracer.newId(), "spark.task", ti.launchTime * 1000L,
      math.max(ti.launchTime, ti.finishTime) * 1000L, stageSpanId(e.stageId, e.stageAttemptId)))
  }

  /** Mean over Spark jobs of max/median task time in the job's stage with
    * the largest summed task time; jobs whose stages all have one task
    * are left out (1.0 when no job qualifies). */
  def taskSkew: Double = synchronized {
    val perJob = stageTaskMs.toSeq
      .collect { case ((stage, _), ts) if ts.length >= 2 && stageJob.contains(stage) => stageJob(stage) -> ts }
      .groupBy(_._1).values
      .map { stagesOfJob =>
        val ts = stagesOfJob.map(_._2).maxBy(_.sum).sorted
        ts.last.toDouble / math.max(1L, ts(ts.length / 2)).toDouble
      }
    if (perJob.isEmpty) 1.0 else perJob.sum / perJob.size
  }

  /** Waits until the listener bus has delivered every job and task end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while ((jobsStarted != jobsEnded || tasksStarted != tasksEnded) && System.nanoTime() < deadline)
      Thread.sleep(5)
    Thread.sleep(50)
  }
}

object SparkCounters {
  val SpanProp = "graftbench.span"

  /** Runs `body` with the tracer's current span attached to every Spark job
    * it starts, so job spans find their parent. */
  def tagged[T](sc: SparkContext, tracer: Tracer)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, tracer.current.toString)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }
}

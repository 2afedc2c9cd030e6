package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Clocks and counters read from outside the program. */
object Measure {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated by all threads since the JVM started. */
  def jvmAllocated: Long = threads.getTotalThreadAllocatedBytes

  /** Bytes allocated by the calling thread. */
  def threadAllocated: Long = threads.getCurrentThreadAllocatedBytes

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile of a sorted array. */
  def percentile(sorted: Array[Long], p: Double): Long = {
    require(sorted.nonEmpty, "percentile of nothing")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(sorted.length - 1, math.max(0, rank - 1)))
  }

  /** Result of a single-threaded layer probe. */
  final case class Probe(nsPerDoc: Double, allocPerDoc: Double, count: Double)

  /** Single-threaded probes on the calling thread. Each named pass makes
    * one call per doc and returns a count. All passes are warmed for
    * `warmSec`, then timed in `rounds` round-robin rounds, so a change in
    * host speed hits every pass alike; per pass the result is the median
    * ns/doc, the median allocated B/doc and the count per doc. */
  def probes(docs: Int, warmSec: Double, rounds: Int)(passes: (String, () => Long)*): Map[String, Probe] = {
    val warmEnd = System.nanoTime() + (warmSec * 1e9).toLong
    var warm = 0
    while (warm < 2 || System.nanoTime() < warmEnd) { passes.foreach(_._2()); warm += 1 }
    val ns = passes.map(_ => new Array[Double](rounds))
    val al = passes.map(_ => new Array[Double](rounds))
    val counts = new Array[Long](passes.length)
    var r = 0
    while (r < rounds) {
      var p = 0
      while (p < passes.length) {
        val a0 = threadAllocated
        val t0 = System.nanoTime()
        counts(p) = passes(p)._2()
        val t1 = System.nanoTime()
        val a1 = threadAllocated
        ns(p)(r) = (t1 - t0).toDouble / docs
        al(p)(r) = (a1 - a0).toDouble / docs
        p += 1
      }
      r += 1
    }
    passes.indices.map { p =>
      passes(p)._1 -> Probe(median(ns(p).toSeq), median(al(p).toSeq), counts(p).toDouble / docs)
    }.toMap
  }

  /** (files, bytes) under `dir`. */
  def dirBytes(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val w = Files.walk(dir)
    try {
      var files = 0L; var bytes = 0L
      w.iterator().asScala.foreach { p =>
        if (Files.isRegularFile(p)) { files += 1; bytes += Files.size(p) }
      }
      (files, bytes)
    } finally w.close()
  }

  def deleteTree(dir: Path): Unit = {
    if (!Files.exists(dir)) return
    val w = Files.walk(dir)
    try w.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
    finally w.close()
  }
}

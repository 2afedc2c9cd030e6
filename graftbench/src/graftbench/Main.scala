package graftbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point, started by run.py:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --result <file> [--spans <file>] [--setup-only]`, or
  *  `Main --selftest --work <dir> --result <file>`. Human-readable tables
  * go to stdout; the result object, with every metric the run measured, is
  * written to `--result`. With `--setup-only` the JVM does the workload's
  * set-up only and its result holds only `setup_s`. */
object Main {
  val workloads: Map[String, (Args, Tracer) => Report] = Map(
    "crawl_write" -> CrawlWrite.run, "extract_listing" -> ExtractListing.run,
    "dedup_closure" -> DedupClosure.run)

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric is not a number: $v")
    v.toString
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val work = Paths.get(opt(args, "--work").getOrElse(sys.error("--work is required"))).toAbsolutePath
    val result = Paths.get(opt(args, "--result").getOrElse(sys.error("--result is required")))
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    if (args.contains("--selftest")) {
      Files.write(result, SelfTest.run(Args(1, 1, trace = false, work, cores, startNs)).getBytes("UTF-8"))
      return
    }
    val name = opt(args, "--workload").getOrElse(sys.error("--workload is required"))
    val run = workloads.getOrElse(name, sys.error(s"unknown workload $name; one of ${workloads.keys.mkString(", ")}"))
    val a = Args(opt(args, "--seed").getOrElse("1").toLong, opt(args, "--seconds").getOrElse("12").toInt,
      opt(args, "--trace").contains("1"), work, cores, startNs, setupOnly = args.contains("--setup-only"))
    val tracer = new Tracer(s"$name-${a.seed}-${System.currentTimeMillis()}")
    val r = run(a, tracer)
    if (a.setupOnly) {
      Files.write(result, resultJson(correct = true, 1, 0, Seq(("setup_s", r.metrics("setup_s")._1, "s"))).getBytes("UTF-8"))
      return
    }

    val metrics = r.metrics.toSeq.map { case (k, (v, u)) => (k, v, u) }
    val failedFrac = r.failed.toDouble / math.max(1L, r.attempted)
    println(s"graftbench $name seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} cores=$cores")
    metrics.foreach { case (k, v, u) => println(f"  $k%-36s $v%18.4f  $u") }
    println(f"  ${"failed_frac"}%-36s $failedFrac%18.6f  ratio  (${r.failed} of ${r.attempted})")
    if (a.trace) {
      println("  spans (self = duration minus the time covered by child spans)")
      println(f"  ${"span"}%-34s ${"count"}%8s ${"total_ms"}%12s ${"self_ms"}%12s")
      tracer.table.foreach { case (n, c, tot, self) => println(f"  $n%-34s $c%8d $tot%12.1f $self%12.1f") }
      opt(args, "--spans").foreach { p =>
        tracer.write(Paths.get(p))
        println(s"  spans written to $p (run ${tracer.runId})")
      }
    }
    r.notes.foreach(n => println(s"  note: $n"))
    Files.write(result, resultJson(r.failed == 0, r.attempted, r.failed, metrics).getBytes("UTF-8"))
  }
}

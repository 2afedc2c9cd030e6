package graftbench

import graft.core.SpanKinds
import graft.engine.{RuleCompiler, SpanAcc, ShadowEngine}
import graft.html.HtmlParser

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

/** extract_listing: `cores` threads, each owning a `ShadowEngine`, call
  * `processStreamAcc` on pre-built listing pages, each waiting for its
  * reply before the next call (a closed loop). No Spark. */
object ExtractListing {
  val nPages = 128
  // calls keep speeding up for about 5 s while the JIT compiles the engine
  val warmSeconds = 8.0

  /** True when the engine's output for `p` is exactly the planted one. */
  def outputOk(p: Gen.Listing.Page, acc: SpanAcc): Boolean = {
    import Gen.{injectionPrefix, injectionSuffix}
    val h = p.html
    val json = p.dataJson
    acc.errors.isEmpty && acc.dataJson == json && acc.n == 3 &&
      acc.kinds(0) == SpanKinds.Html && acc.kinds(1) == SpanKinds.Data && acc.kinds(2) == SpanKinds.Html &&
      acc.texts(0).length == p.bodyEnd && h.regionMatches(0, acc.texts(0), 0, p.bodyEnd) &&
      acc.texts(2).length == h.length - p.bodyEnd && h.regionMatches(p.bodyEnd, acc.texts(2), 0, h.length - p.bodyEnd) && {
        val d = acc.texts(1)
        d.length == injectionPrefix.length + json.length + injectionSuffix.length &&
          d.startsWith(injectionPrefix) && d.endsWith(injectionSuffix) &&
          d.regionMatches(injectionPrefix.length, json, 0, json.length)
      }
  }

  def pages(seed: Long): Array[Gen.Listing.Page] =
    Array.tabulate(nPages)(k => Gen.Listing.make(seed, k, Gen.Listing.itemsOf(seed, k, nPages)))

  /** A timed phase: per call, its latency (us); per page, how often it
    * was called. Rate and percentiles are over the whole phase: each
    * thread visits the pages in its own shuffled order, so any stretch of
    * calls holds the whole size mix and the partial cycle a thread is in
    * when the phase ends moves the mix by about one call per page. */
  final case class Phase(calls: Long, failed: Long, seconds: Double, latUs: Array[Long],
                         alloc: Long, pageCalls: Array[Long]) {
    def rate: Double = calls / seconds

    /** (p50, p99) of the call latencies, in us. */
    def percentiles: (Double, Double) = {
      val sorted = latUs.sorted
      (Measure.percentile(sorted, 50).toDouble, Measure.percentile(sorted, 99).toDouble)
    }
  }

  /** The order in which thread `t` visits the pages: a seeded shuffle. */
  def order(seed: Long, t: Int): Array[Int] = {
    val r = Gen.rng(seed, 7, t)
    val o = Array.range(0, nPages)
    var j = nPages - 1
    while (j > 0) {
      val k = r.nextInt(j + 1)
      val x = o(j); o(j) = o(k); o(k) = x
      j -= 1
    }
    o
  }

  /** Runs all threads for `seconds`; per call it records latency and checks
    * the output. With a tracer, every call is wrapped in a span. */
  def phase(engines: Array[ShadowEngine], pages: Array[Gen.Listing.Page], seed: Long, seconds: Double,
            tracer: Option[Tracer]): Phase = {
    val cores = engines.length
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(cores)
    val exit = new CountDownLatch(1)
    val calls = new AtomicLong
    val failed = new AtomicLong
    val pageCalls = new AtomicLongArray(pages.length)
    val lat = new Array[Array[Long]](cores)
    val lastEnd = new Array[Long](cores)
    var deadline = 0L // published to the threads by the latch
    val parent = tracer.map(_.current).getOrElse(-1L)
    val threads = (0 until cores).map { t =>
      new Thread(() => {
        try {
          val e = engines(t)
          val visit = order(seed, t)
          var buf = new Array[Long](1 << 14)
          var n = 0
          var v = 0
          var bad = 0L
          val perPage = new Array[Long](pages.length)
          start.await()
          while (System.nanoTime() < deadline) {
            val k = visit(v)
            val p = pages(k)
            val t0 = System.nanoTime()
            val acc = tracer match {
              case None => e.processStreamAcc(p.html, Nil)
              case Some(tr) => tr.spanUnder("engine.processStreamAcc", parent)(e.processStreamAcc(p.html, Nil))
            }
            val t1 = System.nanoTime()
            if (!outputOk(p, acc)) bad += 1
            perPage(k) += 1
            if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
            buf(n) = (t1 - t0) / 1000L
            n += 1
            v = (v + 1) % nPages
          }
          lastEnd(t) = System.nanoTime()
          lat(t) = java.util.Arrays.copyOf(buf, n)
          calls.addAndGet(n)
          failed.addAndGet(bad)
          perPage.indices.foreach(i => pageCalls.addAndGet(i, perPage(i)))
        } finally {
          done.countDown()
          exit.await()
        }
      }, s"graftbench-listing-$t")
    }
    threads.foreach(_.start())
    val a0 = Measure.jvmAllocated
    val t0 = System.nanoTime()
    deadline = t0 + (seconds * 1e9).toLong
    start.countDown()
    // read while the threads are alive: a thread that is exiting has its
    // bytes in neither the live nor the exited total for a moment
    done.await()
    val a1 = Measure.jvmAllocated
    exit.countDown()
    threads.foreach(_.join())
    Phase(calls.get, failed.get, (lastEnd.max - t0) / 1e9, lat.flatten, a1 - a0, Array.tabulate(pages.length)(pageCalls.get))
  }

  /** UTF-8 bytes of the spans the engine returns for each page, from one
    * call per page made outside the timed phases. */
  def outputBytes(e: ShadowEngine, pages: Array[Gen.Listing.Page]): Array[Long] = pages.map { p =>
    val acc = e.processStreamAcc(p.html, Nil)
    require(outputOk(p, acc), "listing output differs from the oracle")
    (0 until acc.n).map(i => acc.texts(i).getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
  }

  def run(a: Args, tracer: Tracer): Report = {
    val r = new Report
    val (engines, tRules) = tracer.span("setup") {
      val (p, tRules) = Common.time(tracer.span("setup.rules") {
        RuleCompiler.compile(Common.parseRules(Gen.Listing.rules))
      })
      (tracer.span("setup.engine")(Array.fill(a.cores)(new ShadowEngine(p))), tRules)
    }
    r.put("setup_s", Common.sinceStart(a), "s")
    if (a.setupOnly) return r
    val ps = pages(a.seed)

    phase(engines, ps, a.seed, warmSeconds, None)
    if (!a.trace) {
      val m = phase(engines, ps, a.seed, a.seconds, None)
      val (p50, p99) = m.percentiles
      r.put("docs_per_s", m.rate, "1/s")
      r.put("doc_latency_p50_us", p50, "us")
      r.put("doc_latency_p99_us", p99, "us")
      r.put("alloc_kb_per_doc", m.alloc / 1024.0 / m.calls, "KiB")
      val bytes = outputBytes(engines(0), ps)
      r.put("output_bytes_per_doc", ps.indices.map(k => m.pageCalls(k) * bytes(k)).sum.toDouble / m.calls, "B")
      r.notes += s"latency samples=${m.latUs.length} from ${engines.length} threads"
      r.attempted = m.calls
      r.failed = m.failed
    } else {
      r.put("rules.compile_ms", tRules * 1000, "ms")
      val streams = ps.indices.filter(_ % 4 == 0).map(ps(_).html).toArray
      val markers = Array.fill[Seq[HtmlParser.MediaMarker]](streams.length)(Nil)
      Common.engineProbes(streams, markers, Common.parseRules(Gen.Listing.rules), r, tracer)
      val u = phase(engines, ps, a.seed, a.seconds, None)
      val gc0 = Measure.gcMillis
      val t = tracer.span("traced_phase")(phase(engines, ps, a.seed, a.seconds, Some(tracer)))
      r.put("jvm.gc_s", (Measure.gcMillis - gc0) / 1000.0, "s")
      r.put("trace.untraced_docs_per_s", u.rate, "1/s")
      r.put("trace.docs_per_s", t.rate, "1/s")
      r.put("trace.overhead_frac", 1 - t.rate / u.rate, "ratio")
      r.attempted = u.calls + t.calls
      r.failed = u.failed + t.failed
    }
    r
  }
}

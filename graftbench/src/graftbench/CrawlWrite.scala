package graftbench

import graft.core.{Doc, DocOut}
import graft.engine.{RuleCompiler, RuleProgram, ShadowEngine}
import graft.spark.{DecodeProbe, ShadowSpark}
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer

/** crawl_write: a seeded crawl table read from parquet, run through the
  * full head+body program by `ShadowSpark.writeResumable` and written to a
  * fresh directory per job. A closed loop of batch jobs; a doc's latency is
  * the wall time of the job that writes it. */
object CrawlWrite {
  val nDocs = 8000
  val inputFiles = 16
  val probeDocs = 2000

  /** True when an output row is exactly what the generator planted for it. */
  def rowOk(seed: Long, d: DocOut): Boolean = {
    val idx = d.doc_id.drop(1).toLong
    val e = Gen.Crawl.make(seed, idx).expected
    d.errors.isEmpty && d.data_json == e.dataJson && d.spans.length == e.kinds.length &&
      d.spans.indices.forall { i =>
        val s = d.spans(i)
        s.offset == i && s.kind == e.kinds(i) && s.text == e.texts(i) && s.media_ref == e.refs(i)
      }
  }

  /** Checks a written table against the oracle; returns the failed count. */
  def check(spark: SparkSession, out: Path, seed: Long, n: Long,
            corrupt: DocOut => DocOut = identity): Long = {
    import spark.implicits._
    val res = spark.read.parquet(out.toString).as[DocOut]
      .map(d => (d.doc_id, rowOk(seed, corrupt(d)))).collect()
    val seen = res.groupBy(_._1)
    val good = seen.count { case (id, rows) =>
      rows.length == 1 && rows.head._2 && {
        val i = id.drop(1).toLong
        i >= 0 && i < n
      }
    }
    n - good
  }

  def run(a: Args, tracer: Tracer): Report = {
    val r = new Report
    val (spark, trees, program, tSession, tRules) = tracer.span("setup") {
      val (s, tSession) = Common.time(tracer.span("setup.session")(Common.session(a)))
      val ((trees, p), tRules) = Common.time(tracer.span("setup.rules") {
        val t = Common.parseRules(Gen.Crawl.rules)
        (t, RuleCompiler.compile(t))
      })
      tracer.span("setup.engine")(new ShadowEngine(p))
      (s, trees, p, tSession, tRules)
    }
    r.put("setup_s", Common.sinceStart(a), "s")
    if (a.setupOnly) { spark.stop(); return r }
    import spark.implicits._
    val seed = a.seed
    val input = a.work.resolve("input").toString
    spark.range(0, nDocs, 1, inputFiles).map(i => Gen.Crawl.make(seed, i).doc)
      .write.parquet(input)

    var jobNo = 0
    var buckets = 0 // writeResumable's default count, as a fresh job reports it
    def job(): (Path, Double) = {
      val out = a.work.resolve(s"out-$jobNo")
      jobNo += 1
      val (written, wall) = Common.time(tracer.span("crawl_write.job") {
        SparkCounters.tagged(spark.sparkContext, tracer) {
          ShadowSpark.writeResumable(spark.read.parquet(input).as[Doc], program, out.toString)
        }
      })
      require(written.nonEmpty && written == written.indices, s"job wrote buckets ${written.mkString(",")}")
      buckets = written.length
      (out, wall)
    }

    /** Closed loop for `seconds`; returns (walls, allocated bytes, last
      * output). Outputs are deleted after the loop, so no file deletion
      * competes with the jobs it times. */
    def phase(seconds: Double, minJobs: Int = 3): (Seq[Double], Long, Path) = {
      val walls = new ArrayBuffer[Double]
      val outs = new ArrayBuffer[Path]
      var alloc = 0L
      while (walls.sum < seconds || walls.length < minJobs) {
        val a0 = Measure.jvmAllocated
        val (out, wall) = job()
        alloc += Measure.jvmAllocated - a0
        walls += wall
        outs += out
      }
      outs.init.foreach(Measure.deleteTree)
      (walls.toSeq, alloc, outs.last)
    }

    def checked(out: Path): Unit = {
      r.attempted = nDocs
      r.failed = tracer.span("check")(check(spark, out, seed, nDocs))
      Measure.deleteTree(out)
    }

    // warm-up: job walls keep falling over the first eight or so jobs
    Measure.deleteTree(phase(0, minJobs = 8)._3)
    if (!a.trace) {
      val (walls, alloc, lastOut) = phase(a.seconds)
      val docs = walls.length.toLong * nDocs
      val sorted = walls.map(w => (w * 1e6).toLong).sorted.toArray
      r.put("docs_per_s", nDocs / Measure.median(walls), "1/s")
      r.put("doc_latency_p50_us", Measure.percentile(sorted, 50).toDouble, "us")
      r.put("doc_latency_p99_us", Measure.percentile(sorted, 99).toDouble, "us")
      r.put("alloc_kb_per_doc", alloc / 1024.0 / docs, "KiB")
      r.put("output_bytes_per_doc", Measure.dirBytes(lastOut)._2.toDouble / nDocs, "B")
      r.notes += s"jobs=${walls.length}, walls ${walls.map(w => f"$w%.2f").mkString(" ")} s " +
        "(every doc of a job shares its wall time)"
      checked(lastOut)
    } else {
      r.put("rules.compile_ms", tRules * 1000, "ms")
      r.put("spark.session_s", tSession, "s")
      val gens = (0 until probeDocs).map(i => Gen.Crawl.make(seed, i))
      val streams = gens.map(_.stream).toArray
      val markers = gens.map(_.markers).toArray
      val (dp, decodeOk) = DecodeProbe.run(DecodeProbe.rows(gens.map(_.doc)), streams, markers)
      require(decodeOk, "SpanStreamDecoder output differs from the generated stream")
      r.put("decode.ns_per_doc", dp.nsPerDoc, "ns")
      r.put("decode.alloc_b_per_doc", dp.allocPerDoc, "B")
      Common.engineProbes(streams, markers, trees, r, tracer)

      // untraced vs traced phases of equal length, after a second warm-up:
      // the probes ran other programs through the engine in this JVM
      Measure.deleteTree(phase(0, minJobs = 2)._3)
      val (uWalls, _, uOut) = phase(a.seconds)
      Measure.deleteTree(uOut)
      val counters = new SparkCounters(tracer)
      spark.sparkContext.addSparkListener(counters)
      val gc0 = Measure.gcMillis
      val (tWalls, _, tOut) = tracer.span("traced_phase")(phase(a.seconds))
      counters.drain()
      r.put("jvm.gc_s", (Measure.gcMillis - gc0) / 1000.0, "s")
      Common.sparkLayer(r, counters, tWalls.length)
      checked(tOut)
      val untraced = nDocs / Measure.median(uWalls)
      val traced = nDocs / Measure.median(tWalls)
      r.put("trace.untraced_docs_per_s", untraced, "1/s")
      r.put("trace.docs_per_s", traced, "1/s")
      r.put("trace.overhead_frac", 1 - traced / untraced, "ratio")

      // encode and sink by difference, in task time and wall time: a count
      // of the engine output with every column pruned, the same output
      // encoded into a noop sink, and writeResumable
      val kinds = Seq("count", "noop", "write")
      val runTimes = kinds.map(_ -> new ArrayBuffer[Double]).toMap
      val wallsBy = kinds.map(_ -> new ArrayBuffer[Double]).toMap
      val sinkDir = a.work.resolve("sink")
      var sinkFiles = 0L; var sinkBytes = 0L
      def measured(kind: String): Unit = {
        counters.drain()
        val rt0 = counters.runTimeMs
        val (_, wall) = Common.time(tracer.span(s"layer.$kind") {
          SparkCounters.tagged(spark.sparkContext, tracer) {
            def engineOut = ShadowSpark.processColumnar(spark.read.parquet(input), program)
            kind match {
              case "count" => engineOut.select(org.apache.spark.sql.functions.lit(1)).queryExecution.toRdd.count()
              case "noop" => engineOut.toDF().withColumn("bucket", ShadowSpark.bucketOf(buckets))
                .write.format("noop").mode("overwrite").save()
              case "write" =>
                ShadowSpark.writeResumable(spark.read.parquet(input).as[Doc], program, sinkDir.toString)
            }
          }
        })
        counters.drain()
        runTimes(kind) += (counters.runTimeMs - rt0).toDouble
        wallsBy(kind) += wall
        if (kind == "write") {
          val fb = Measure.dirBytes(sinkDir)
          sinkFiles = fb._1; sinkBytes = fb._2
          Measure.deleteTree(sinkDir)
        }
      }
      (0 until 3).foreach(i => (if (i % 2 == 0) kinds else kinds.reverse).foreach(measured))
      spark.sparkContext.removeSparkListener(counters)
      def med(m: Map[String, ArrayBuffer[Double]], k: String) = Measure.median(m(k).toSeq)
      r.put("encode.ns_per_doc", (med(runTimes, "noop") - med(runTimes, "count")) * 1e6 / nDocs, "ns")
      r.put("sink.write_s", med(wallsBy, "write") - med(wallsBy, "noop"), "s")
      r.put("sink.files", sinkFiles.toDouble, "count")
      r.put("sink.bytes", sinkBytes.toDouble, "B")
    }
    spark.stop()
    r
  }
}

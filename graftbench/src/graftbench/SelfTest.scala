package graftbench

import graft.core.DocOut
import graft.engine.{RuleCompiler, ShadowEngine}
import graft.spark.ShadowSpark

/** Checks that the benchmark's oracles catch wrong output: one corrupted
  * data_json (in a written crawl table and in a listing call) and one wrong
  * component label must each be counted as exactly one failure, while the
  * untouched outputs count none. */
object SelfTest {

  def run(a: Args): String = {
    val results = Seq.newBuilder[(String, Long, Long)] // (case, failed clean, failed corrupted)
    val spark = Common.session(a)
    try {
      import spark.implicits._
      val seed = 7L
      val n = 300L
      val input = a.work.resolve("selftest-input").toString
      spark.range(0, n, 1, 2).map(i => Gen.Crawl.make(seed, i).doc).write.parquet(input)
      val program = RuleCompiler.compile(Common.parseRules(Gen.Crawl.rules))
      val out = a.work.resolve("selftest-out")
      ShadowSpark.writeResumable(spark.read.parquet(input).as[graft.core.Doc], program, out.toString)
      val bad = Gen.Crawl.docId(42)
      val corrupt = (d: DocOut) =>
        if (d.doc_id == bad) d.copy(data_json = d.data_json.replace("\"title\"", "\"titel\"")) else d
      results += (("crawl_write data_json", CrawlWrite.check(spark, out, seed, n),
        CrawlWrite.check(spark, out, seed, n, corrupt)))

      val pages = (0 until 4).map(k => Gen.Listing.make(seed, k, 50))
      val engine = new ShadowEngine(RuleCompiler.compile(Common.parseRules(Gen.Listing.rules)))
      def listingFailures(corruptPage: Int): Long = pages.indices.count { k =>
        val acc = engine.processStreamAcc(pages(k).html, Nil)
        if (k == corruptPage) acc.dataJson = acc.dataJson.replaceFirst("\"qty\":\"", "\"qty\":\"9")
        !ExtractListing.outputOk(pages(k), acc)
      }.toLong
      results += (("extract_listing data_json", listingFailures(-1), listingFailures(2)))

      val g = Gen.Graph.make(seed, 5000)
      val (nodes, pairs) = DedupClosure.write(spark, g, a.work.resolve("selftest-graph"))
      val got = DedupClosure.query(spark, nodes, pairs)
      val victim = g.ids.indices.find(i => g.label(i) != g.ids(i)).map(g.ids(_)).get
      val wrong = got.map { case (id, c) => if (id == victim) (id, id) else (id, c) }
      results += (("dedup_closure label", DedupClosure.failures(g, got), DedupClosure.failures(g, wrong)))
    } finally spark.stop()

    val rs = results.result()
    println("graftbench selftest: each corrupted output must count as exactly one failure")
    rs.foreach { case (c, clean, bad) =>
      println(f"  $c%-28s clean failed=$clean%d  corrupted failed=$bad%d  ${if (clean == 0 && bad == 1) "ok" else "MISSED"}")
    }
    val caught = rs.count { case (_, clean, bad) => clean == 0 && bad == 1 }
    Main.resultJson(caught == rs.length, rs.length, rs.length - caught,
      Seq(("selftest.caught", caught.toDouble, "count")))
  }
}

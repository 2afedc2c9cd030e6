package graft

import graft.core.{Doc, DocOut, Span}
import graft.corpus.Corpus
import graft.engine.{RuleCompiler, ShadowEngine}
import graft.html.HtmlParser.MediaMarker
import graft.pipeline.{Dedup, Multimodal, TextStats}
import graft.rules.RuleParser
import graft.spark.{Commit, ShadowSpark}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

class SparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  def program = {
    val errs = new ArrayBuffer[String]
    val p = RuleCompiler.compile(Seq(
      RuleParser.parseStr(Corpus.headRules, errs),
      RuleParser.parseStr(Corpus.corpusRules, errs)))
    assert(errs.isEmpty && p.compileErrors.isEmpty)
    p
  }

  /** The per-row engine run on the driver: the reference every Spark route
    * of the engine must reproduce. */
  def reference(docs: Seq[Doc], p: graft.engine.RuleProgram = program): Seq[DocOut] = {
    val engine = new ShadowEngine(p)
    docs.map(engine.process).sortBy(_.doc_id)
  }

  test("processColumnar matches typed process exactly") {
    val docs = Corpus.generate(spark, 300, 4, megaEvery = 97)
    val fast = ShadowSpark.processColumnar(docs.toDF(), program).collect().sortBy(_.doc_id).toSeq
    assert(fast.length == 300)
    assert(fast == reference(docs.collect().toSeq))
  }

  test("processColumnar: non-ASCII docs with media markers (byte->char remap)") {
    // Japanese text (multi-byte UTF-8) split mid-document with media spans
    // between and after non-ASCII content
    val docs = Seq(
      Doc("u1", Seq(
        Span("html", "<div class=\"to_delete\">\u4e16\u754c\u3092\u30ea\u30fc\u30c9", "", 0),
        Span("media", "payload", "media://u1/a", 1),
        Span("html", "\u3059\u308b</div><p>ok \ud83d\ude00 tail</p>", "", 2),
        Span("media", "", "media://u1/b", 3))),
      Doc("u2", Seq(
        Span("media", "", "media://u2/lead", 0),
        Span("html", "<b>\u65e5\u672c\u8a9e</b>", "", 1))))
    val fast = ShadowSpark.processColumnar(spark.createDataset(docs).toDF(), program)
      .collect().sortBy(_.doc_id).toSeq
    assert(fast == reference(docs))
    // media refs preserved in order
    assert(fast.head.spans.filter(_.kind == "media").map(_.media_ref) ==
      Seq("media://u1/a", "media://u1/b"))
  }

  test("op (UnsafeRow emission) equals the typed path exactly") {
    val dir = TempDirs.create("graft_raw").toString
    // media spans + mega-doc skew + compile errors all represented
    Corpus.generate(spark, 250, 4, megaEvery = 83).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val expected = reference(df.as[Doc].collect().toSeq)
    val raw = ShadowSpark.op(df, program)
      .as[DocOut].collect().sortBy(_.doc_id).toSeq
    assert(raw == expected)
    // and the raw rows survive a real columnar write+read round-trip
    val outDir = TempDirs.create("graft_raw_out").toString
    ShadowSpark.op(df, program).write.mode("overwrite").parquet(outDir)
    val reread = spark.read.parquet(outDir).as[DocOut].collect().sortBy(_.doc_id).toSeq
    assert(reread == expected)
  }

  test("spans out of offset order decode in offset order, as the per-row engine does") {
    val p = RuleCompiler.compile(Seq(RuleParser.parseStr(
      """{"s":"p","data":{"path":"d","values":{"c":{"source":"Contents"}}}}""", new ArrayBuffer[String])))
    // 2-, 3- and 4-byte UTF-8 text around a media span, stored shuffled
    val inOrder = Doc("a", Seq(Span("html", "<p>\u00e9</p>", "", 0)))
    val shuffled = Doc("b", Seq(
      Span("html", "\ud83d\ude00 \u00e9t\u00e9</p>", "", 3),
      Span("media", "payload", "media://b/m", 1),
      Span("html", "<p id=\"x\">\u4e16\u754c ", "", 0),
      Span("html", "\u00fc ", "", 2)))
    val docs = Seq(inOrder, shuffled)
    val out = ShadowSpark.processColumnar(spark.createDataset(docs).coalesce(1).toDF(), p)
      .collect().sortBy(_.doc_id).toSeq
    assert(out == reference(docs, p))
    assert(out(1).data_json == "{\"d\":{\"c\":\"\u4e16\u754c \u00fc \ud83d\ude00 \u00e9t\u00e9\"}}",
      out(1).data_json)

    // the decoder itself, on both array forms it is handed: the UnsafeArrayData
    // a scan gives the operator, and GenericArrayData of GenericInternalRows.
    // One value holds every null the null policy names, tied and shuffled
    // offsets, and 2-, 3- and 4-byte UTF-8 before a media span.
    def u(s: String) = if (s == null) null else UTF8String.fromString(s)
    def span(kind: String, text: String, ref: String, offset: Integer) =
      new GenericInternalRow(Array[Any](u(kind), u(text), u(ref), offset))
    val spans = new GenericArrayData(Array[Any](
      span("html", "\u00e9\u4e16\ud83d\ude00 ", "", 3),
      null, // null element: dropped
      span("media", null, null, 4), // null text and ref: ""
      span(null, "<x>", "", 0), // null kind: dropped
      span("html", null, "", 1), // null html text: dropped
      span("html", "<p>", "", null), // null offset: 0
      span("media", "payload", "media://m", 2),
      span("html", "</p>", "", 5),
      span("html", "|", "", 3))) // ties offset 3: stays after it
    val schema = new StructType().add("doc_id", StringType).add("spans", ArrayType(
      new StructType().add("kind", StringType).add("text", StringType)
        .add("media_ref", StringType).add("offset", IntegerType)))
    val generic = new GenericInternalRow(Array[Any](u("d"), spans))
    val unsafe = UnsafeProjection.create(schema)(generic)
    assert(unsafe.getArray(1).isInstanceOf[UnsafeArrayData])
    val dec = new ShadowSpark.SpanStreamDecoder
    for (row <- Seq(unsafe, generic)) {
      assert(dec.decode(row) == "<p>\u00e9\u4e16\ud83d\ude00 |</p>", row.getClass)
      assert(dec.markers == Seq(MediaMarker(3, "media://m", "payload"), MediaMarker(9, "", "")),
        row.getClass)
    }
  }

  test("process(Doc) joins null spans and fields as the operator's decoder does") {
    val docs = Seq(
      Doc("n1", Seq(null, Span("html", "<p>a</p>", "", 0))),
      Doc("n2", Seq(Span(null, "<p>dropped</p>", "", 0), Span("html", "<p>b</p>", "", 1))),
      Doc("n3", Seq(Span("html", null, "", 0), Span("html", "<p>c</p>", "", 1))),
      Doc("n4", Seq(Span("html", "<p>d", "", 0), Span("media", null, "media://n4", 1),
        Span("media", "payload", null, 2), Span("html", "</p>", "", 3))))
    val out = ShadowSpark.op(spark.createDataset(docs).toDF(), program)
      .as[DocOut].collect().sortBy(_.doc_id).toSeq
    assert(out == reference(docs))
    assert(out(3).spans.filter(_.kind == "media").map(s => (s.text, s.media_ref)) ==
      Seq(("", "media://n4"), ("payload", "")))
  }

  test("s2 chunking splits on code points: astral text survives 7-char spans") {
    val dir = TempDirs.create("graft_s2").toString
    Seq((0L, "a\ud83d\ude00b\u00e9\u4e16 \ud83d\ude00\ud83d\ude00 x", "en", "src0", 0L),
        (1L, "\ud83d\ude00" * 9, "de", "src1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def run(q: String) = SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSeq
    val whole = run("s1_full_rewrite")
    assert(whole.forall(_(1).toString.contains("\ud83d\ude00")), whole)
    assert(run("s2_chunk_invariance") == whole)
  }

  test("parallelism invariance: local partitioning does not change results") {
    val one = ShadowSpark.process(Corpus.generate(spark, 200, 1), program)
      .collect().sortBy(_.doc_id).toSeq
    val many = ShadowSpark.process(Corpus.generate(spark, 200, 7), program)
      .collect().sortBy(_.doc_id).toSeq
    assert(one == many)
  }

  test("lineage: one commit record per run, counts and ranges add up") {
    val docs = Corpus.generate(spark, 500, 5)
    def written(): Commit = {
      val path = TempDirs.create("graft_lineage").toString
      assert(ShadowSpark.writeResumable(docs, program, path) == Seq(0))
      ShadowSpark.commit(path).get
    }
    val c = written()
    assert(c.n_docs == 500)
    assert(c.doc_lo <= c.doc_hi)
    assert(c.wall_ms >= 0)
    // checksum must be deterministic across runs
    assert(written().checksum == c.checksum)
  }

  def readOut(path: String): Seq[DocOut] =
    spark.read.parquet(path).as[DocOut].collect().sortBy(_.doc_id).toSeq

  test("resumable writer: a rerun on a committed path writes nothing, output identical") {
    val docs = Corpus.generate(spark, 400, 4)
    val path = TempDirs.create("graft_rerun").toString
    assert(ShadowSpark.writeResumable(docs, program, path) == Seq(0))
    val first = ShadowSpark.commit(path)
    assert(first.isDefined)

    assert(ShadowSpark.writeResumable(docs, program, path).isEmpty)
    assert(ShadowSpark.commit(path) == first)
    assert(readOut(path) == reference(docs.collect().toSeq))
  }

  test("resumable writer: a crash before the commit leaves staging that readers ignore") {
    val docs = Corpus.generate(spark, 200, 2)

    // the state a driver killed between the data write and the rename
    // leaves: a staging directory beside the uncommitted path
    val root = TempDirs.create("graft_staged")
    val path = root.resolve("out").toString
    val staged = root.resolve(".out._staging-crashed")
    ShadowSpark.op(docs.toDF(), program).write.parquet(staged.toString)
    def parquetFiles = staged.toFile.list().count(_.endsWith(".parquet"))
    assert(parquetFiles > 0)
    assert(ShadowSpark.commit(path).isEmpty)

    assert(ShadowSpark.writeResumable(docs, program, path) == Seq(0))
    assert(readOut(path) == reference(docs.collect().toSeq))
    assert(parquetFiles > 0)
  }

  test("resumable writer: a racing writer cannot commit a second copy") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val n = 200
    val docs = Corpus.generate(spark, n, 1)
    val root = TempDirs.create("graft_race")
    val path = root.resolve("out").toString
    RaceGate.reset()
    // writer B: one task that blocks on its first row until released
    val gated = docs.map { d => RaceGate.pass(); d }
    val b = Future(ShadowSpark.writeResumable(gated, program, path))(ExecutionContext.global)
    val bResult = try {
      assert(RaceGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // writer A starts after B and commits first
      assert(ShadowSpark.writeResumable(docs, program, path).nonEmpty)
      RaceGate.release.countDown()
      scala.util.Try(Await.result(b, 120.seconds))
    } finally RaceGate.release.countDown()

    val out = spark.read.parquet(path)
    assert(out.count() == n)
    assert(bResult.fold(_ => true, _.isEmpty), bResult)
    assert(out.columns.toSeq == Seq("doc_id", "spans", "data_json", "errors"))
    assert(root.toFile.list().toSeq == Seq("out")) // B's staging is deleted
  }

  // ---- training-pipeline operators ----

  test("synthTable spreads over the shuffle-partition count as Spark parses it") {
    // Spark trims the value it reads; a raw String.toInt does not
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, " 8 ")
    try {
      val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      val table = Multimodal.synthTable(docs)((id, payload) => (s"m$id", payload))
      val parts = table.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r.numPartitions
      }
      assert(parts == Seq(8), table.queryExecution.analyzed)
    } finally spark.conf.set(key, old)
  }

  def plantedDocs: org.apache.spark.sql.DataFrame = {
    // 40 base docs of 30 tokens; docs 100+i are near-dups of doc i (one
    // token changed); doc 200 is an exact dup of doc 0
    def text(i: Int, mutate: Boolean): String = {
      val toks = (0 until 30).map(k => s"w${Corpus.splitmix64(i * 31 + k) % 50}")
      val t2 = if (mutate) toks.updated(15, "MUTANT") else toks
      t2.mkString(" ")
    }
    val rows =
      (0 until 40).map(i => (i.toLong, text(i, mutate = false))) ++
      (0 until 10).map(i => (100L + i, text(i, mutate = true))) ++
      Seq((200L, text(0, mutate = false)))
    rows.toDF("doc_id", "text")
  }

  test("dd1: exact dedup finds the planted exact duplicate") {
    val keep = Dedup.exactKeepIds(plantedDocs).collect()
    assert(keep.length == 50) // 51 docs, one exact dup collapsed
    val dup = keep.find(_.getLong(1) == 2L)
    assert(dup.isDefined && dup.get.getLong(0) == 0L) // min doc_id kept
  }

  test("dd2: minhash LSH finds planted near-dups") {
    val docs = plantedDocs
    val anchors = Dedup.minhashCandidateAnchors(docs)
    val label = Dedup.connectedComponents(anchors, docs.select("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every near-dup pair (i, 100+i) must land in one component
    (0 until 10).foreach { i =>
      assert(label(i.toLong) == label(100L + i), s"near-dup pair $i split: $label")
    }
    // exact dup too
    assert(label(0L) == label(200L))
    // and the 40 unrelated base docs stay apart, so the above is not vacuous
    assert(label.values.toSet.size == 40)
  }

  test("dd3: simhash hamming distance small for near-dups") {
    val pairs = Dedup.simhashCandidateAnchors(plantedDocs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2).toLong)).toMap
    val nd = pairs.filter { case ((a, b), _) => b == a + 100 }
    assert(nd.nonEmpty, "no near-dup pairs found by simhash")
    assert(nd.values.forall(_ <= 16), s"hamming too large: $nd")
    assert(pairs.get((0L, 200L)).contains(0L)) // identical text -> distance 0
  }

  test("dd5/ann: embedding near-dup and LSH top-k include planted neighbors") {
    val base = (0 until 30).map { i =>
      val v = (0 until 16).map(k =>
        (Corpus.splitmix64(i * 7 + k).toDouble / Long.MaxValue).toFloat).toArray
      (i.toLong, v)
    }
    // vec 100: near-copy of vec 0
    val near = (100L, base(0)._2.clone())
    near._2(3) = near._2(3) + 0.001f
    val emb = (base :+ near).toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDup(emb, planes = 4, minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 100L)))
    val top = graft.pipeline.Ann.bruteForceTopK(emb, base(0)._2, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top.take(2).toSet == Set(0L, 100L))
    // IVF: the near-copy of vec 0 lands in vec 0's cell (it is nearest the
    // same centroid), so probing the query's cells must return both
    val ivf = graft.pipeline.Ann.ivfTopK(emb, base(0)._2, 2, cells = 4, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf.take(2).toSet == Set(0L, 100L), s"ivf top-2 was $ivf")
    // exact integer-threshold pairs find the planted near-copy too
    val ex = Dedup.embeddingNearDupExact(emb, num = 9801L, den = 10000L) // 0.99^2
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ex.contains((0L, 100L)))
  }

  test("hot-bucket hardening: planted 10k-identical cluster yields O(k) candidates") {
    // a crawl-realistic poison pill: 10,000 byte-identical docs (all-pairs
    // emission would produce ~10^8 band-join rows from them alone), plus
    // 500 near-identical docs and 60 distinct docs
    def baseText(seed: Int): IndexedSeq[String] =
      (0 until 30).map(k => s"w${Corpus.splitmix64(seed * 31 + k) % 50}")
    val rows =
      (0 until 10000).map(i => (i.toLong, baseText(7).mkString(" "))) ++
      (0 until 500).map(i => (20000L + i,
        baseText(7).updated(i % 30, s"MUT$i").mkString(" "))) ++
      (0 until 60).map(i => (40000L + i, baseText(100 + i).mkString(" ")))
    val docs = rows.toDF("doc_id", "text")

    val surv = Dedup.exactSurvivors(docs)
    val nSurv = surv.count()
    assert(nSurv == 1 + 500 + 60) // the 10k cluster collapses to doc 0

    // anchor emission: per (band/chunk, key) bucket of size k the output is
    // k-1 rows, so candidates are bounded by keys-per-doc * survivors
    val mh = Dedup.minhashCandidateAnchors(surv).count()
    assert(mh <= 16L * nSurv, s"minhash candidates not O(k): $mh")
    val sh = Dedup.simhashCandidateAnchors(surv).count()
    assert(sh <= 4L * nSurv, s"simhash candidates not O(k): $sh")
    assert(mh > 0 && sh > 0) // the near-dups are still found
    // and the near-dup family is connected to its anchor: doc 0 (the
    // survivor of the identical cluster) anchors pairs to the mutants
    val mhPairs = Dedup.minhashCandidateAnchors(surv)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhPairs.exists { case (a, b) => a == 0L && b >= 20000L && b < 30000L })
  }

  test("dd6: connected components resolve chained candidate pairs to the min anchor") {
    // 1-2-3-9 is a CHAIN (anchor pairs across different buckets) — the
    // closure must reach 9 from 1, not just one hop
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("id1", "id2")
    val nodes = (1L to 9L).toDF("doc_id")
    val comp = Dedup.connectedComponents(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 4L -> 4L, 7L -> 7L, 8L -> 8L))
  }

  test("dd6: empty candidate set leaves every node its own component") {
    // with no edges the first round's edge table is empty, its star test
    // counts nothing and the loop stops there; every node must come back
    // from the final attach join with its own id
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val nodes = (1L to 5L).toDF("doc_id")
    val comp = Dedup.connectedComponents(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == (1L to 5L).map(i => i -> i).toMap)
  }

  test("dd5: LSH-bucketed near-dup finds planted pair; exact path is the recall baseline") {
    val base = (0 until 30).map { i =>
      val v = (0 until 16).map(k =>
        (Corpus.splitmix64(i * 7 + k).toDouble / Long.MaxValue).toFloat).toArray
      (i.toLong, v)
    }
    val near = (100L, base(0)._2.clone())
    near._2(3) = near._2(3) + 0.001f
    val emb = (base :+ near).toDF("vec_id", "embedding")
    // num=9801/den=10000 (cos>=0.99): the DECIMAL comparison must not wrap
    // (9801 * |a|^2 * |b|^2 exceeds Long for these non-unit vectors)
    val exact = Dedup.embeddingNearDupExact(emb, num = 9801L, den = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupLshQ(emb, planes = 4, seed = 42L,
        num = 9801L, den = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 100L)))
    assert(lsh.contains((0L, 100L)))
    // LSH candidates are a subset of the exact pairs (same threshold),
    // and recall on this sample is total
    assert(lsh.subsetOf(exact))
    assert(lsh == exact, s"recall loss on planted sample: ${exact -- lsh}")
  }

  test("shadow_extract SQL function: rewrite+extraction via spark.sql, media-split text coalesces") {
    graft.spark.SqlFunctions.register(spark)
    val r = spark.sql(
      """SELECT shadow_extract(array(
        |  named_struct('kind','html','text','<div id="t">he','media_ref','','offset',0),
        |  named_struct('kind','media','text','payload','media_ref','m://1','offset',1),
        |  named_struct('kind','html','text','llo</div>','media_ref','','offset',2)),
        |'{"s":"#t","data":{"path":"d","values":{"c":{"source":"Contents"}}}}') AS r""".stripMargin)
      .select("r.html", "r.data_json", "r.errors").head()
    assert(r.getString(0) == """<div id="t">hello</div>""")
    assert(r.getString(1) == """{"d":{"c":"hello"}}""")
    assert(r.getSeq[String](2).isEmpty)
    // compile errors surface per row
    val bad = spark.sql(
      """SELECT shadow_extract(array(named_struct('kind','html','text','<p>x</p>','media_ref','','offset',0)),
        |'{"s":"p[","hide":true}').errors AS e""".stripMargin).head().getSeq[String](0)
    assert(bad.exists(_.startsWith("Selector p[ is invalid")))
  }

  test("shadow_extract: a null text and a null span element return a row equal to the operator's") {
    graft.spark.SqlFunctions.register(spark)
    val rules = """{"s":"#t","data":{"path":"d","values":{"c":{"source":"Contents"}}}}"""
    val spans =
      """array(
        |  named_struct('kind','html','text','<p id="t">a','media_ref','','offset',0),
        |  named_struct('kind','html','text',CAST(NULL AS STRING),'media_ref','','offset',1),
        |  NULL,
        |  named_struct('kind','html','text','b</p>','media_ref','','offset',2))""".stripMargin
    val r = spark.sql(s"SELECT shadow_extract($spans, '$rules') AS r").select("r.*").head()
    val errs = new ArrayBuffer[String]
    val p = RuleCompiler.compile(Seq(RuleParser.parseStr(rules, errs)))
    val op = ShadowSpark.processColumnar(spark.sql(s"SELECT 'n' AS doc_id, $spans AS spans"), p).head()
    assert(r.getString(0) == """<p id="t">ab</p>""")
    assert(r.getString(0) == op.spans.filter(s => s.kind == "html" || s.kind == "data").map(_.text).mkString)
    assert(r.getString(1) == op.data_json && op.data_json == """{"d":{"c":"ab"}}""")
    assert(r.getSeq[String](2) == op.errors && errs.isEmpty)
  }

  test("graft_* SQL functions equal their Column functions, null row included") {
    import graft.functions.{TextFunctions => T, WebFunctions => W}
    graft.spark.SqlFunctions.register(spark)
    val robots = "User-agent: *\nDisallow: /private\nAllow: /private/ok"
    val df = Seq[(Int, String, String, String, String, String)](
      (0, "the cat sat on &amp; the mat", "HTTP://WWW.Shop.CO.UK:80/a/../b?x=1#f", robots, "bot", "/private/x"),
      (1, "der hund ist nicht mit der katze", "not a url", robots, "bot", "/private/ok"),
      (2, null, null, null, null, null),
      (3, "caf&eacute; &#233; &unknown;", "https://a.b.example.com:8443/x", robots, "bot", "/"))
      .toDF("id", "s", "u", "robots", "agent", "path")
    df.createOrReplaceTempView("graft_sql_rows")
    val cases = Seq[(String, org.apache.spark.sql.Column)](
      "graft_fingerprint64(s)" -> T.fingerprint64($"s"),
      "graft_lang_id(s)" -> T.lang_id($"s"),
      "graft_simhash64(s)" -> T.simhash64($"s"),
      "graft_html_unescape(s)" -> W.html_unescape($"s"),
      "graft_canonical_url(u)" -> W.canonical_url($"u"),
      "graft_registered_domain(u)" -> W.registered_domain($"u"),
      "graft_robots_allowed(robots, agent, path)" -> W.robots_allowed($"robots", $"agent", $"path"))
    for ((call, c) <- cases) {
      val bySql = spark.sql(s"SELECT $call FROM graft_sql_rows ORDER BY id")
        .collect().map(_.get(0)).toSeq
      val byColumn = df.orderBy("id").select(c).collect().map(_.get(0)).toSeq
      assert(bySql == byColumn, call)
      assert(bySql.map(_ == null) == Seq(false, false, true, false), s"$call: $bySql")
    }
  }

  test("tx1: language-ID heuristic on real-language samples") {
    import graft.functions.Hashing
    assert(Hashing.langId("the cat sat on the mat and it was happy") == "en")
    assert(Hashing.langId("der hund ist nicht mit der katze und das ist gut") == "de")
    assert(Hashing.langId("le chat est dans la maison et il est content") == "fr")
    assert(Hashing.langId("el perro es un animal y la casa es grande") == "es")
    assert(Hashing.langId("我是一个人这是我的家") == "zh")
  }

  test("dd7: line dedup keeps first occurrence, reassembles in order") {
    val docs = Seq(
      (1L, "hdr one two three a b c d tail x"), // lines: [hdr one two three][a b c d][tail x]
      (2L, "hdr one two three p q r s"),        // shares line 0 with doc 1
      (3L, "a b c d hdr one two three")         // shares BOTH lines, reversed order
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, w = 4).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((3, 3, "hdr one two three a b c d tail x")))
    assert(out(2L) == ((2, 1, "p q r s")))
    assert(out(3L) == ((2, 0, ""))) // both lines first seen in doc 1
  }

  test("dd8: decontamination flags only docs sharing a benchmark shingle") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"), // shares 4-gram with bench
      (11L, "zeta eta theta iota kappa")       // clean
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "x alpha beta gamma delta y")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, w = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 1L))
  }

  test("tx7: PII scrub redacts emails and phones, counts match") {
    val docs = Seq(
      (1L, "write to jane.doe+x@mail.example.org or +44-201-9999 today"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = TextStats.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((1, 1, "write to <EMAIL> or <PHONE> today")))
    assert(out(2L) == ((0, 0, "no pii here at all")))
  }

  test("tx5/tx6: quality gate and repetition edge cases") {
    val docs = Seq(
      (1L, "a b"), // 2 tokens: zero shingles, fails the length gate
      (3L, "x y z x y z x y z") // 9 tokens, 7 shingles, 3 distinct
    ).toDF("doc_id", "text")
    val g = TextStats.gopherQuality(docs).collect()
      .map(r => r.getLong(0) -> r.getInt(5)).toMap
    assert(g(1L) == 0)
    val rep = TextStats.repetition(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(rep(1L) == ((0, 0, 0)))
    assert(rep(3L) == ((7, 3, 4)))
  }

  test("tx4: fingerprints equal iff text equal (on planted corpus)") {
    val fp = TextStats.fingerprints(plantedDocs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(200L))
    assert(fp(0L) != fp(100L))
    assert(fp.values.toSeq.distinct.size == 50)
  }

  test("mm1: media synth -> real header parse round-trip (doc 1 = GIF)") {
    val meta = Multimodal.decodeAll(Multimodal.mediaTable(
      Seq((1L, "hello world")).toDF("doc_id", "text"))).collect().head
    assert(meta.getAs[String]("format") == "gif") // doc_id 1 % 3
    assert(meta.getAs[Long]("n_bytes") == graft.pipeline.MediaCodec.gifBytes(11L))
    assert(meta.getAs[Int]("width") == 16 + 11 % 64)
    assert(meta.getAs[Int]("height") == 16 + 11 % 48)
    assert(meta.getAs[scala.collection.Seq[Float]]("feature").length == 8)
  }

  test("ann4: trained IVF codebook recall vs the brute-force top-k") {
    import graft.pipeline.Ann
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.orderBy("vec_id").select("embedding").first()
      .getAs[scala.collection.Seq[Float]](0).toArray
    val brute = Ann.quantizedTopK(emb, q, 10).collect().map(_.getLong(0)).toSet
    val ivf = Ann.ivfTopK(emb, q, 10).collect().map(_.getLong(0)).toSet
    val overlap = (ivf & brute).size
    info(s"ivf/brute top-10 overlap with trained codebook: $overlap/10")
    // nprobe=2 of 8 cells scans ~1/4 of the table; the trained codebook
    // must keep the query's own neighborhood in the probed cells
    assert(overlap >= 5, s"IVF recall collapsed: $overlap/10 (ivf=$ivf brute=$brute)")
    assert(ivf.contains(0L)) // the query vector itself must be found
  }

  test("as-of join on a pathologically hot key stays a window pass, not a pair blowup") {
    import graft.pipeline.Relational
    // ONE user with 30k alternating view/click events: a naive ranged
    // self-join would materialize ~1.1e8 pairs before keep-latest; the
    // union+window shape does one sort. Latest view before click i is
    // always event i-1, which also pins the tie/order semantics.
    val n = 30000
    val rows = (0 until n).map { i =>
      (i.toLong, 1L, new java.sql.Timestamp(i * 1000L), if (i % 2 == 0) "view" else "click")
    }
    val ev = rows.toDF("event_id", "user_id", "ts", "event_type")
    val clicks = ev.where($"event_type" === "click").select($"event_id", $"user_id", $"ts")
    val views = ev.where($"event_type" === "view").select($"user_id", $"ts", $"event_id")
    val out = Relational.asofJoin(clicks, views, "user_id", "ts",
        org.apache.spark.sql.functions.struct($"event_id".as("vid")))
      .select($"event_id", $"asof.vid".as("vid")).collect()
    assert(out.length == n / 2)
    assert(out.forall(r => r.getLong(1) == r.getLong(0) - 1))
  }

  test("q11b approx_percentile serving path: rank error < 1 vs the exact path") {
    // the 100 TB serving path (partial-aggregable GK sketch) graded
    // against the exact path it replaces. The sketch guarantees rank
    // error <= eps*n; with accuracy 10000 and these group sizes eps*n is
    // far below 1, so the sketch must return EXACTLY the order statistic
    // at rank ceil(p*n) — asserted per group against a sorted
    // collect_list, with the relative gap vs the INTERPOLATED exact
    // percentile (a discretization artifact, not sketch error) logged.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val rows = docs.groupBy(col("source"))
      .agg(sort_array(collect_list(col("n_chars"))).as("vs"),
        expr("approx_percentile(n_chars, 0.5, 10000)").cast("long").as("ap50"),
        expr("approx_percentile(n_chars, 0.9, 10000)").cast("long").as("ap90"))
      .collect()
    assert(rows.nonEmpty)
    var worstGap = 0.0
    for (r <- rows) {
      val vs = r.getAs[scala.collection.Seq[Long]]("vs")
      val n = vs.length
      for ((p, ap) <- Seq(0.5 -> r.getAs[Long]("ap50"), 0.9 -> r.getAs[Long]("ap90"))) {
        val want = vs(math.max(1, math.ceil(p * n).toInt) - 1)
        assert(ap == want,
          s"${r.getString(0)} p=$p: sketch returned $ap, order statistic at ceil(p*n) is $want")
        // interpolated exact ((n-1)*p convention, same as `percentile`)
        val idx = (n - 1) * p
        val lo = vs(idx.toInt); val hi = vs(math.min(n - 1, idx.toInt + 1))
        val exact = lo + (idx - idx.toInt) * (hi - lo)
        if (exact > 0) worstGap = math.max(worstGap, math.abs(ap - exact) / exact)
      }
    }
    info(f"worst approx-vs-interpolated-exact relative gap at sf0.01: ${worstGap * 100}%.2f%%")
  }

  test("relational protocol-column guards fail loudly, not silently clobber") {
    import graft.pipeline.Relational
    val base = Seq((1L, "a")).toDF("k", "v")
    // mergeUpsert: base owning version/op is the protocol collision
    val exM = intercept[IllegalArgumentException] {
      Relational.mergeUpsert(Seq((1L, 2L)).toDF("k", "version"), base, "k")
    }
    assert(exM.getMessage.contains("version"))
    // asofJoin: either side owning __side/__p/asof must throw
    val exA = intercept[IllegalArgumentException] {
      Relational.asofJoin(Seq((1L, 1L, 0)).toDF("k", "ts", "__side"), base
        .select($"k", $"k".as("ts")), "k", "ts", org.apache.spark.sql.functions.lit(1))
    }
    assert(exA.getMessage.contains("__side"))
    val exA2 = intercept[IllegalArgumentException] {
      Relational.asofJoin(Seq((1L, 1L, 0)).toDF("k", "ts", "asof"), base
        .select($"k", $"k".as("ts")), "k", "ts", org.apache.spark.sql.functions.lit(1))
    }
    assert(exA2.getMessage.contains("asof"))
    // rangeCount: a protocol name used as the key/time/id column must throw
    val exR = intercept[IllegalArgumentException] {
      Relational.rangeCount(Seq((1L, 1L, 1L)).toDF("id", "k", "__ts"),
        Seq((1L, 1L)).toDF("k", "__ts"), "k", "__ts", "id", 60L)
    }
    assert(exR.getMessage.contains("__ts"))
  }

  test("routeAndParse: explicit branch per format — av and passthrough too") {
    import graft.pipeline.{MediaCodec, Multimodal}
    val rows = Seq(
      (1L, "media://1.png", MediaCodec.buildPng(20, 10, Array[Byte](1, 2))),
      (2L, "media://2.pdf", MediaCodec.buildPdf(3, Array[Byte](1))),
      (3L, "media://3.wav", MediaCodec.buildWav(8000, 1, new Array[Byte](16))),
      (4L, "media://4.mp4", MediaCodec.buildMp4(1000, 7L, Array.emptyByteArray)),
      (5L, "media://5.bin", "not a container".getBytes("UTF-8")))
    val media = rows.toDF("doc_id", "media_ref", "content")
    val out = Multimodal.routeAndParse(media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("branch")).toMap
    assert(out == Map(1L -> "image", 2L -> "pdf_layout", 3L -> "av",
      4L -> "av", 5L -> "passthrough"))
  }

  test("salted repartition (skew handling) preserves results exactly") {
    val docs = Corpus.generate(spark, 300, 2, megaEvery = 50) // 6 mega-docs
    val direct = ShadowSpark.process(docs, program).collect().sortBy(_.doc_id).toSeq
    val salted = ShadowSpark.process(
      docs.repartition(11, xxhash64(col("doc_id"))), program).collect().sortBy(_.doc_id).toSeq
    assert(salted == direct)
  }

  test("entry() smoke: flagship query returns clean rows") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length == 200)
    assert(rows.forall(_.getAs[Int]("n_errors") == 0))
  }
}

/** The latches of the racing-writer spec: a Scala object, so the task's
  * closure reaches the same instance in local mode. */
object RaceGate {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)

  def reset(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }

  def pass(): Unit = {
    entered.countDown()
    release.await(120, java.util.concurrent.TimeUnit.SECONDS)
  }
}

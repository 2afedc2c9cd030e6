package graft

import graft.core.DocOut
import graft.corpus.Corpus
import graft.engine.RuleCompiler
import graft.rules.RuleParser
import graft.spark.ShadowSpark
import graft.streaming.StreamingExtract
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("streaming extraction matches batch row-for-row (stateless map)") {
    val errs = new ArrayBuffer[String]
    val program = RuleCompiler.compile(Seq(
      RuleParser.parseStr(Corpus.headRules, errs),
      RuleParser.parseStr(Corpus.corpusRules, errs)))

    val dir = TempDirs.create("graft_stream").toString
    Corpus.generate(spark, 120, 3).write.mode("overwrite").parquet(dir)

    val q = StreamingExtract.stream(spark, dir, program)
      .writeStream.format("memory").queryName("graft_stream_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_stream_out").as[DocOut]
        .collect().sortBy(_.doc_id).toSeq
      val batch = ShadowSpark.process(Corpus.generate(spark, 120, 3), program)
        .collect().sortBy(_.doc_id).toSeq
      assert(streamed.size == 120)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("watermarked windowed aggregation over a stream matches the batch twin") {
    val dir = TempDirs.create("graft_events").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(dir)
    val streamDf = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    val q = graft.streaming.Sessionize.windowedCounts(streamDf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_win_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_win_out")
        .select("h", "event_type", "n", "value_cents")
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val batch = spark.read.parquet(dir)
        .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        .groupBy(org.apache.spark.sql.functions.date_trunc("hour", org.apache.spark.sql.functions.col("ts")).as("h"),
          org.apache.spark.sql.functions.col("event_type"))
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.round(
            org.apache.spark.sql.functions.col("value") * 100).cast("long")).as("value_cents"))
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("event-time timeout flushes the trailing session once the watermark passes it") {
    import graft.streaming.Sessionize
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDS()
      .toDF("user_id", "ts", "value").as[Sessionize.Event]
    val q = Sessionize.streamingWithTimeout(events, gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("graft_sess_to").start()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    try {
      // user 1's only session: two events, never followed by another
      mem.addData((1L, ts(600), 1.0), (1L, ts(605), 2.0))
      q.processAllAvailable()
      assert(spark.table("graft_sess_to").count() == 0) // still open
      // a much later event from user 2 advances the watermark far past
      // user 1's last_event + gap -> user 1's trailing session must flush
      mem.addData((2L, ts(2000), 5.0))
      q.processAllAvailable()
      val rows = spark.table("graft_sess_to").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_events"), r.getAs[Long]("value_cents")))
      assert(rows.toSet == Set((1L, 1L, 2L, 300L)), s"got ${rows.mkString(",")}")
      // user 1 reappears AFTER the flush: the counter tombstone must keep
      // session_idx monotonic — the new session is idx 2, never a second
      // idx 1 (which would collide downstream on (user_id, session_idx))
      mem.addData((1L, ts(2100), 4.0))
      q.processAllAvailable()
      mem.addData((2L, ts(4000), 6.0)) // advance watermark -> flush both
      q.processAllAvailable()
      val rows2 = spark.table("graft_sess_to").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_events"), r.getAs[Long]("value_cents")))
      assert(rows2.toSet == Set((1L, 1L, 2L, 300L), (1L, 2L, 1L, 400L), (2L, 1L, 1L, 500L)),
        s"got ${rows2.mkString(",")}")
    } finally q.stop()
  }

  test("bounded-state sessionization: flush reclaims state, identity never collides") {
    import graft.streaming.Sessionize
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDS()
      .toDF("user_id", "ts", "value").as[Sessionize.Event]
    val q = Sessionize.streamingBounded(events, gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("graft_sess_bnd").start()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    try {
      // user 1's first session flushes via the event-time timeout, its
      // state entry is REMOVED (not tombstoned) — then user 1 returns and
      // a fresh session forms from empty state with a new start_ts
      mem.addData((1L, ts(600), 1.0), (1L, ts(605), 2.0))
      q.processAllAvailable()
      assert(spark.table("graft_sess_bnd").count() == 0) // still open
      mem.addData((2L, ts(2000), 5.0)) // watermark passes user 1's last + gap
      q.processAllAvailable()
      mem.addData((1L, ts(2100), 4.0)) // user 1 reappears post-flush
      q.processAllAvailable()
      mem.addData((2L, ts(4000), 6.0)) // advance watermark -> flush everything open
      q.processAllAvailable()
      val rows = spark.table("graft_sess_bnd").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000L,
          r.getAs[Long]("n_events"), r.getAs[Long]("value_cents")))
      assert(rows.toSet == Set((1L, 600L, 2L, 300L), (1L, 2100L, 1L, 400L),
        (2L, 2000L, 1L, 500L)), s"got ${rows.mkString(",")}")
      // (user_id, start_ts) identity: every emitted session distinct
      val ids = rows.map(r => (r._1, r._2))
      assert(ids.distinct.length == ids.length)
    } finally q.stop()
  }

  test("streaming dedup (watermark-bounded state) emits exactly the batch-distinct keys") {
    import graft.streaming.Sessionize
    val dir = TempDirs.create("graft_sdedup").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    val q = Sessionize.streamingDedup(stream, Seq("user_id", "event_type"))
      .writeStream.outputMode("append").format("memory").queryName("graft_sdedup_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_sdedup_out")
        .select("user_id", "event_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = spark.read.parquet(dir)
        .select("user_id", "event_type").distinct().collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // exactly one emission per distinct key
      assert(spark.table("graft_sdedup_out").count() == batch.size.toLong)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stateful sessionization (flatMapGroupsWithState) matches batch closed sessions") {
    import graft.streaming.Sessionize
    val eventsDf = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val all = Sessionize.batch(eventsDf, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5))).toSet
    // closed sessions = all minus each user's last session
    val lastIdx = all.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val closed = all.filterNot { case (u, i, _, _) => lastIdx(u) == i }

    val dir = TempDirs.create("graft_sess").toString
    eventsDf.select("user_id", "ts", "value").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .as[Sessionize.Event]
    val q = Sessionize.streaming(stream, 30)
      .writeStream.outputMode("append").format("memory").queryName("graft_sess_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_sess_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_events"), r.getAs[Long]("value_cents"))).toSet
      assert(streamed == closed, s"streamed=${streamed.size} closed=${closed.size}")
    } finally q.stop()
  }
}

package graft

import graft.spark.ShadowSpark
import org.apache.spark.sql.SparkSession

/** Scaling measurement on a REAL multi-executor cluster, sandbox edition:
  * `local-cluster[n, 4, mem]` forks n genuine executor JVMs (own heap, GC,
  * JIT, shuffle server) against an in-process master+workers — the closest
  * local model of "spark-submit at N vs 4N executors" the north rule asks
  * for: 1 executor vs 4 executors of 4 cores each. Prints one wall per
  * invocation like BenchChild (GRAFT_WALL=seconds).
  */
object BenchCluster {
  def main(args: Array[String]): Unit = {
    val Array(corpusPath, nDocsS, nExecS) = args
    val nDocs = nDocsS.toLong
    val nExec = nExecS.toInt
    val s = SparkSession.builder()
      .master(s"local-cluster[$nExec, 4, 4096]")
      .appName(s"graft-cluster-$nExec")
      .config("spark.executor.memory", "4g")
      // size each executor JVM for its 4 cores: without this every executor
      // sees all 32 host cpus and spawns ~23 ParallelGC threads (4 executors
      // = ~92 GC threads thrashing), which made 4 executors SLOWER than 1
      .config("spark.executor.extraJavaOptions",
        "-XX:ActiveProcessorCount=4 -XX:+UseParallelGC -Xms4g -XX:+AlwaysPreTouch")
      // forked executors get only SPARK_HOME jars; add the app classes
      .config("spark.executor.extraClassPath",
        sys.env.getOrElse("SPARK_GRAFT_CLASSES",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath))
      .config("spark.sql.shuffle.partitions", nExec * 4)
      .config("spark.sql.adaptive.enabled", "true")
      // split-size sweep (2026-08-16, 300k docs, 1 vs 4 executors): 2m
      // splits beat 8m/16m on the 4-executor side — with ~450 MB of input,
      // 16 cores need many task waves for balance, so wave granularity
      // dominates the per-task RPC cost the larger splits were meant to cut
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_MPB", "2m"))
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try {
      val program = Bench.corpusProgram()
      val progBc = s.sparkContext.broadcast(program)

      // SAME-TOPOLOGY pure-engine ceiling: the engine alone over
      // executor-cached in-memory docs (no parquet scan, no UTF-8 decode,
      // no span reassembly) through the very same executor JVMs — the
      // pure-CPU calibration for THIS shape, so the job's executor-shape
      // efficiency can be graded against the box's own ceiling rather
      // than an in-process thread calibration with different overheads.
      // Fixed total work on both cluster sizes, matching the job protocol.
      def engineWall(): Double = {
        val t0 = System.nanoTime()
        val done = s.sparkContext.range(0L, nDocs, 1, numSlices = nExec * 4 * 6)
          .mapPartitions { it =>
            val e = new graft.engine.ShadowEngine(progBc.value)
            val docs = BenchClusterCal.docs
            var c = 0L
            it.foreach { i => e.process(docs((i % docs.length).toInt)); c += 1 }
            Iterator.single(c)
          }.sum()
        require(done == nDocs, s"engine cal processed $done != $nDocs")
        (System.nanoTime() - t0) / 1e9
      }

      // warmup x2: each executor has only one C2 compiler thread at
      // ActiveProcessorCount=4, so a single pass can leave a JIT backlog;
      // the engine-cal warmup also materializes each executor's doc cache
      ShadowSpark.processColumnar(s.read.parquet(corpusPath), program).count()
      ShadowSpark.processColumnar(s.read.parquet(corpusPath), program).count()
      engineWall()
      val t0 = System.nanoTime()
      val n = ShadowSpark.processColumnar(s.read.parquet(corpusPath), program).count()
      require(n == nDocs, s"row count $n != $nDocs")
      println(f"GRAFT_WALL=${(System.nanoTime() - t0) / 1e9}%.4f")
      println(f"GRAFT_ENGINE_WALL=${engineWall()}%.4f")
    } finally s.stop()
  }
}

/** Executor-JVM-local doc cache for the same-topology engine calibration
  * (initialized once per executor by the warmup pass). */
object BenchClusterCal {
  lazy val docs: Array[graft.core.Doc] =
    (0 until 20000).map(i => graft.corpus.Corpus.makeDoc(i.toLong)).toArray
}
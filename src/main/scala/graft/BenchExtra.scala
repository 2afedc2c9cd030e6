package graft

/** Side harness for the optimization rounds (guide §1): times SparkEntry
  * queries with EXACTLY the driver-bench methodology (same session config,
  * same `fn(spark, dir).count()` action, queries in sorted order) but with
  * repeat rounds and a name filter, and can dump `.explain("formatted")`
  * per query. Never touches BENCH/ files — `graft.Bench` stays the only
  * writer of the driver-visible artifacts.
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra [substring ...]"
  * Env:
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     core count (default 32)
  *   SPARK_GRAFT_XROUNDS  timing rounds per query (default 3)
  *   SPARK_GRAFT_EXPLAIN  if set, write plans to this directory
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_XROUNDS", "3").toInt
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN")
    val spark = Bench.session(cpus)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.exists(n.contains) }
    val out = new StringBuilder("{")
    names.zipWithIndex.foreach { case ((name, fn), qi) =>
      spark.sparkContext.setJobDescription(name)
      val walls = (1 to rounds).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        (System.nanoTime() - t0) / 1e9
      }
      explainDir.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"$name.txt"), plan)
      }
      val ws = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
      println(f"XBENCH $name%-28s min=${walls.min}%.3f all=$ws")
      if (qi > 0) out.append(",")
      out.append("\"").append(name).append("\":").append(f"${walls.min}%.3f")
    }
    out.append("}")
    println("XBENCH_JSON " + out.result())
    spark.stop()
  }
}

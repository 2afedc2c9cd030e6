package graft

import graft.core.{Doc, DocOut}
import graft.corpus.Corpus
import graft.engine.RuleCompiler
import graft.pipeline.Dedup
import graft.spark.{Commit, ShadowSpark}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Failure-tolerance of the dedup closure: `Dedup.connectedComponents` uses
  * RELIABLE checkpoints, so a task that dies mid-run recomputes from the
  * checkpoint files and the job converges to identical labels; and of the
  * committed writer, whose rows and lineage count a retried task once.
  * Needs task retries, which local mode only grants via
  * `local[n, maxFailures]` — so this suite runs on its own SparkContext
  * (suites execute sequentially in the forked test JVM; the context is
  * stopped again in afterAll). */
class CcFaultSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[4, 2]") // 2 task attempts: first may die, retry lands
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    super.afterAll()
  }

  test("connectedComponents converges identically when a task dies and is retried") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("id1", "id2")
    val nodes = (1L to 9L).toDF("doc_id")
    val clean = Dedup.connectedComponents(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // poison: attempt 0 of partition 0 throws wherever this stage runs —
    // the first round's checkpoint job (= the loop's data source) loses a
    // task, Spark retries the task (attempt 1 passes), and the rounds
    // proceed from the on-disk checkpoint
    val poisonedNodes = nodes.as[Long].mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
        throw new RuntimeException("injected task death (CcFaultSpec)")
      it
    }.toDF("doc_id")
    val poisonedPairs = pairs.as[(Long, Long)].mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
        throw new RuntimeException("injected task death (CcFaultSpec)")
      it
    }.toDF("id1", "id2")

    val faulty = Dedup.connectedComponents(poisonedPairs, poisonedNodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(faulty == clean)
    assert(clean == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 4L -> 4L, 7L -> 7L, 8L -> 8L))
  }

  test("writeResumable: a retried task counts once in the rows and the commit") {
    import spark.implicits._
    val program = RuleCompiler.compileJson(Seq(Corpus.headRules, Corpus.corpusRules))
    assert(program.compileErrors.isEmpty)
    val docs = Corpus.generate(spark, 200, 4)
    def write(d: Dataset[Doc]): (Seq[DocOut], Commit) = {
      val path = TempDirs.create("graft_retry").resolve("out").toString
      assert(ShadowSpark.writeResumable(d, program, path) == Seq(0))
      (spark.read.parquet(path).as[DocOut].collect().sortBy(_.doc_id).toSeq,
        ShadowSpark.commit(path).get)
    }
    val (cleanRows, clean) = write(docs)

    // attempt 0 of partition 0 writes its first row, then dies
    CcFaultSpec.deaths.set(0)
    val poisoned = docs.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.partitionId() != 0 || tc.attemptNumber() != 0) it
      else it.zipWithIndex.map { case (d, i) =>
        if (i == 1) {
          CcFaultSpec.deaths.incrementAndGet()
          throw new RuntimeException("injected task death (CcFaultSpec)")
        }
        d
      }
    }
    val (rows, c) = write(poisoned)
    assert(CcFaultSpec.deaths.get == 1)
    assert(clean.n_docs == 200)
    assert(rows == cleanRows)
    assert((c.n_docs, c.doc_lo, c.doc_hi, c.checksum, c.n_errors) ==
      (clean.n_docs, clean.doc_lo, clean.doc_hi, clean.checksum, clean.n_errors))
  }

  test("connectedComponents fails loudly instead of returning partial labels") {
    import spark.implicits._
    // a 6-node chain is no star forest after one round (a lone large-star)
    val chain = (1L to 6L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("id1", "id2")
    val nodes = (1L to 6L).toDF("doc_id")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, nodes, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }
}

object CcFaultSpec {
  /** Injected task deaths; tasks run in this JVM in local mode. */
  val deaths = new java.util.concurrent.atomic.AtomicInteger
}

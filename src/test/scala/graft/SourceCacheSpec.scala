package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `SparkEntry`'s resolved-source cache across sessions: a long-lived JVM
  * that runs many sessions must not keep each stopped one reachable. This
  * suite stops sessions, so it runs on its own SparkContexts (suites
  * execute sequentially in the forked test JVM; afterAll stops the last). */
class SourceCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def session(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    super.afterAll()
  }

  private def cachedFor(s: SparkSession): Boolean =
    SparkEntry.sourceCache.keySet.asScala.exists(_._1 eq s)

  test("source cache: a query in a new session drops a stopped session's entries") {
    SparkSession.getActiveSession.foreach(_.stop())
    val dir = TempDirs.create("graft_source_cache").toString
    val a = session()
    locally {
      import a.implicits._
      Seq((0L, "one <b>doc</b>", "en", "src0", 14L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
    }
    val rowsA = SparkEntry.queries("s1_full_rewrite")(a, dir).collect().map(_.toSeq).toSeq
    assert(cachedFor(a))
    a.stop()
    val b = session()
    assert(!(b eq a))
    val rowsB = SparkEntry.queries("s1_full_rewrite")(b, dir).collect().map(_.toSeq).toSeq
    assert(rowsB == rowsA)
    assert(!cachedFor(a), "a stopped session is still pinned by the cache")
    assert(cachedFor(b))
  }
}

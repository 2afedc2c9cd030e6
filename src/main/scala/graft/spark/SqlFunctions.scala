package graft.spark

import graft.functions._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.{ColumnBridge => B, FunctionBridge}

/** Registers graft's row functions for `spark.sql(...)` users (SQL-surface
  * parity, SURVEY.md §4.3): each `graft_*` name builds the same expression
  * as its Column function. Idempotent. */
object SqlFunctions {
  def register(spark: SparkSession): Unit = {
    FunctionBridge.registerTempFunction(spark, "shadow_extract",
      es => ShadowExtractExpr(es(0), es(1)))
    def fn(name: String)(f: Seq[Column] => Column): Unit =
      FunctionBridge.registerTempFunction(spark, name,
        es => B.expression(f(es.map(B.column))))
    fn("graft_fingerprint64")(c => TextFunctions.fingerprint64(c(0)))
    fn("graft_lang_id")(c => TextFunctions.lang_id(c(0)))
    fn("graft_simhash64")(c => TextFunctions.simhash64(c(0)))
    fn("graft_html_unescape")(c => WebFunctions.html_unescape(c(0)))
    fn("graft_canonical_url")(c => WebFunctions.canonical_url(c(0)))
    fn("graft_registered_domain")(c => WebFunctions.registered_domain(c(0)))
    fn("graft_robots_allowed")(c => WebFunctions.robots_allowed(c(0), c(1), c(2)))
  }
}

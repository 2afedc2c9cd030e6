package graft.streaming

import graft.core.{Doc, DocOut}
import graft.engine.RuleProgram
import graft.spark.ShadowSpark
import org.apache.spark.sql.Dataset

/** Structured Streaming surface for the extraction engine.
  *
  * The reference's "streaming" is incremental bytes of ONE document; it has
  * no cross-record state (SURVEY.md §2.6, shadow_api.rs:47-53) — so the
  * streaming mode is a pure stateless map over a streaming Dataset[Doc]:
  * no watermarks, no state store, no output-mode constraints. A continuous
  * feed of the same (doc_id, spans) table becomes
  * `spark.readStream.schema(docSchema).parquet(dir)` -> the engine
  * operator -> `writeStream` with exactly the same per-row semantics as
  * batch (verified by StreamingSpec against the batch output).
  */
object StreamingExtract {

  val docSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Doc].schema

  /** Streaming entry: read a directory of (doc_id, spans) parquet as a
    * stream and extract with the same engine operator as batch
    * (`ShadowSpark.process`), planned into each micro-batch. Caller
    * attaches the sink:
    * `stream(spark, dir, program).writeStream.format(...)...start()`. */
  def stream(spark: org.apache.spark.sql.SparkSession, dir: String,
             program: RuleProgram): Dataset[DocOut] = {
    import spark.implicits._
    ShadowSpark.process(spark.readStream.schema(docSchema).parquet(dir).as[Doc], program)
  }
}

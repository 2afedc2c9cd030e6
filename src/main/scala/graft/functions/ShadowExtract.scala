package graft.functions

import graft.core.SpanKinds
import graft.engine.{RuleCompiler, ShadowEngine}
import graft.spark.ShadowSpark
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the extraction engine (SURVEY.md §4.3):
  * `shadow_extract(spans, rules_json)` over the canonical
  * `array<struct<kind,text,media_ref,offset>>` column, returning
  * `struct<html, data_json, errors>`. The rules argument must be foldable
  * (a literal): the program is compiled once per task, exactly like the
  * broadcast program of the engine operator — reference analog:
  * ShadowApiInit::init compiles once, then streams documents
  * (shadow_api.rs:70-98).
  *
  * The spans are decoded by the engine operator's decoder
  * (`ShadowSpark.SpanStreamDecoder`, same offset order and null policy), so
  * the function and `ShadowSpark.op` agree on every input. Not codegen'd
  * (CodegenFallback): the engine call dominates by orders of magnitude, so
  * the per-row boxing of a generated wrapper is noise; whole-table jobs
  * use the engine operator (`ShadowSpark.op`).
  */
case class ShadowExtractExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ShadowExtractExpr.outType
  override def prettyName: String = "shadow_extract"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!right.foldable)
      TypeCheckResult.TypeCheckFailure("shadow_extract: rules_json must be a literal")
    else if (!right.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure("shadow_extract: rules_json must be a string")
    else left.dataType match {
      case ArrayType(_: StructType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "shadow_extract: spans must be array<struct<kind,text,media_ref,offset>>")
    }
  }

  @transient private lazy val engine: ShadowEngine = new ShadowEngine(
    RuleCompiler.compileJson(Seq(right.eval(null).asInstanceOf[UTF8String].toString)))

  @transient private lazy val decoder = new ShadowSpark.SpanStreamDecoder

  override def nullSafeEval(spansVal: Any, rulesVal: Any): Any = {
    val stream = decoder.decode(spansVal.asInstanceOf[ArrayData])
    val acc = engine.processStreamAcc(stream, decoder.markers)
    val html = new java.lang.StringBuilder
    var i = 0
    while (i < acc.n) {
      if (acc.kinds(i) == SpanKinds.Html || acc.kinds(i) == SpanKinds.Data) html.append(acc.texts(i))
      i += 1
    }
    InternalRow(
      UTF8String.fromString(html.toString),
      UTF8String.fromString(acc.dataJson),
      new GenericArrayData(acc.errors.map(UTF8String.fromString).toArray[Any]))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ShadowExtractExpr =
    copy(left = l, right = r)
}

object ShadowExtractExpr {
  val outType: StructType = StructType(Seq(
    StructField("html", StringType, nullable = false),
    StructField("data_json", StringType, nullable = false),
    StructField("errors", ArrayType(StringType, containsNull = false), nullable = false)))
}

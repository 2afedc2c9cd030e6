package graft.spark

import graft.core.DocOut
import graft.engine.{RuleProgram, ShadowEngine}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.unsafe.types.UTF8String

/** The engine as one Catalyst operator: (doc_id, spans) rows in, DocOut
  * rows out. Every Spark surface of the engine (typed, columnar, resumable
  * writer, streaming, SparkEntry's queries) plans to this node, so the plan
  * stays whole from the scan to the sink and there is one decode
  * (`SpanStreamDecoder`) and one row emitter.
  *
  * The child must output exactly (doc_id string, spans
  * array<struct<kind,text,media_ref,offset>>) in that order; the node reads
  * both, so column pruning keeps them, and its output attributes are fixed
  * here with the `DocOut` schema. */
final case class EngineOp(program: RuleProgram, output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def references: AttributeSet = child.outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(s"${program.rules.length} rules")
  override protected def withNewChildInternal(c: LogicalPlan): EngineOp = copy(child = c)
}

object EngineOp {
  private lazy val docOutSchema = Encoders.product[DocOut].schema

  def apply(program: RuleProgram, child: LogicalPlan): EngineOp =
    EngineOp(program, DataTypeUtils.toAttributes(docOutSchema), child)

  /** Adds the planner strategy to the session once (SNIPPETS.md [1]). */
  def register(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraStrategies.contains(EngineOpStrategy))
      spark.experimental.extraStrategies = EngineOpStrategy +: spark.experimental.extraStrategies
  }
}

object EngineOpStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case EngineOp(program, output, child) => EngineOpExec(program, output, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** One engine and one decoder per task; each output row is written straight
  * from the engine's reusable SpanAcc into a reused UnsafeRowWriter — no
  * Span/DocOut objects and no Encoder pass. */
final case class EngineOpExec(program: RuleProgram, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def references: AttributeSet = child.outputSet

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = sparkContext.broadcast(program)
    child.execute().mapPartitions { rows =>
      val engine = new ShadowEngine(bc.value)
      val dec = new ShadowSpark.SpanStreamDecoder
      val rowWriter = new UnsafeRowWriter(4)
      val spansWriter = new UnsafeArrayWriter(rowWriter, 8)
      val spanStructWriter = new UnsafeRowWriter(spansWriter, 4)
      val errsWriter = new UnsafeArrayWriter(rowWriter, 8)
      // kind strings are a tiny closed set ("html"/"media"/"data"/...);
      // media_refs are unique per doc, so those are NOT memoized
      val kindU = new java.util.HashMap[String, UTF8String](8)
      def u8(s: String): UTF8String = UTF8String.fromString(s)
      def kindOf(s: String): UTF8String = {
        var v = kindU.get(s)
        if (v == null) { v = u8(s); kindU.put(s, v) }
        v
      }
      rows.map { row =>
        val acc = engine.processStreamAcc(dec.decode(row), dec.markers)
        rowWriter.reset()
        rowWriter.zeroOutNullBytes()
        if (row.isNullAt(0)) rowWriter.setNullAt(0) else rowWriter.write(0, row.getUTF8String(0))
        // spans: array<struct<kind,text,media_ref,offset>>
        val spansCursor = rowWriter.cursor()
        spansWriter.initialize(acc.n)
        var i = 0
        while (i < acc.n) {
          val structCursor = spansWriter.cursor()
          spanStructWriter.resetRowWriter()
          spanStructWriter.write(0, kindOf(acc.kinds(i)))
          spanStructWriter.write(1, u8(acc.texts(i)))
          spanStructWriter.write(2, u8(acc.refs(i)))
          spanStructWriter.write(3, i)
          spansWriter.setOffsetAndSizeFromPreviousCursor(i, structCursor)
          i += 1
        }
        rowWriter.setOffsetAndSizeFromPreviousCursor(1, spansCursor)
        rowWriter.write(2, u8(acc.dataJson))
        val errsCursor = rowWriter.cursor()
        errsWriter.initialize(acc.errors.length)
        var e = 0
        while (e < acc.errors.length) {
          errsWriter.write(e, u8(acc.errors(e)))
          e += 1
        }
        rowWriter.setOffsetAndSizeFromPreviousCursor(3, errsCursor)
        rowWriter.getRow: InternalRow
      }
    }
  }

  override protected def stringArgs: Iterator[Any] = Iterator(s"${program.rules.length} rules")
  override protected def withNewChildInternal(c: SparkPlan): EngineOpExec = copy(child = c)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native (whole-stage-codegen) replacements for the interpreted
  * higher-order-function chains in the ANN / embedding-dedup hot paths.
  *
  * Spark's HOFs (`transform`, `zip_with`, `aggregate`) are CodegenFallback:
  * the lambda tree is interpreted per ELEMENT, boxing every value — for a
  * 64-dim embedding dot product that is ~200 boxed evaluations per row.
  * Each expression below is ONE static JVM call per row.
  *
  * Exactness contract (bit-for-bit vs the SQL it replaces; pinned by
  * VecFunctionsSpec against the live SQL expressions and by the DuckDB
  * oracle): quantization replicates `cast(round(x * 1000) as bigint)`
  * EXACTLY for finite x — the multiply happens in DOUBLE (Spark coerces
  * float*int to double), the round is Spark's Round-on-double semantics
  * (`BigDecimal(Double.toString(m)).setScale(0, HALF_UP).doubleValue()`,
  * NaN/Inf passed through), the cast is the JVM d2l truncation; integer
  * dots fold left-to-right with Long wraparound; double dots/norms cast
  * each float to double and fold left-to-right, exactly like the
  * `aggregate(zip_with(...))` they replace. Null ELEMENTS propagate to a
  * null result, as the lambda arithmetic did.
  */
object VecOps {

  /** Replica of SQL `cast(round(x * 1000) as bigint)` on a FLOAT x: Spark
    * coerces float*int to DOUBLE, Round-on-double is
    * BigDecimal(Double.toString(m)).setScale(0, HALF_UP).doubleValue()
    * with NaN/Inf passed through, and the double->long cast is d2l. Only
    * finite x replicate the SQL: on NaN or +-Inf the SQL cast throws under
    * ANSI mode (Spark 4's default), while d2l clamps (NaN -> 0, +-Inf ->
    * Long.MaxValue/MinValue). Embeddings are finite by construction. */
  def quantize1000(x: Float): Long = {
    val m = x.toDouble * 1000.0
    val r =
      if (java.lang.Double.isNaN(m) || java.lang.Double.isInfinite(m)) m
      else new java.math.BigDecimal(java.lang.Double.toString(m))
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    r.toLong
  }

  /** `transform(embedding, x -> cast(round(x*1000) as bigint))`. */
  def quantizeVec(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) out(i) = quantize1000(a.getFloat(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `aggregate(zip_with(qv, LIT, (p,q) -> p*q), 0L, (a,v) -> a+v)` over a
    * long array; null on any null element (null arithmetic propagates). */
  def qdotLit(a: ArrayData, q: Array[Long]): java.lang.Long = {
    val n = a.numElements()
    if (n != q.length) return null // zip_with pads -> null products
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += a.getLong(i) * q(i)
      i += 1
    }
    acc
  }

  /** Fused `aggregate(zip_with(embedding, LIT, (p,q) ->
    * cast(round(p*1000) as bigint)*q), 0L, (a,v) -> a+v)` on a FLOAT
    * array (ann1's scan expression). */
  def quantizeDotLit(a: ArrayData, q: Array[Long]): java.lang.Long = {
    val n = a.numElements()
    if (n != q.length) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += quantize1000(a.getFloat(i)) * q(i)
      i += 1
    }
    acc
  }

  /** Pairwise integer dot `aggregate(zip_with(a, b, (p,q) -> p*q), 0L, +)`
    * over two long arrays (dd5's candidate check; a·a is also the qn2
    * self-norm `aggregate(qv, 0L, (a,v) -> a + v*v)`). */
  def qdotPair(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** `aggregate(zip_with(embedding, LIT, (p,q) ->
    * cast(p as double)*cast(q as double)), 0D, +)` with a FLOAT literal
    * vector (ann2/ann3's exact-double dot). */
  def dotDoubleLit(a: ArrayData, q: Array[Float]): java.lang.Double = {
    val n = a.numElements()
    if (n != q.length) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * q(i).toDouble
      i += 1
    }
    acc
  }

  /** `aggregate(embedding, 0D, (acc,v) -> acc + cast(v as double)*cast(v
    * as double))` — the squared norm under ann2/ann3's sqrt. */
  def norm2Double(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    acc
  }

  /** IVF cell assignment: first-min argmin over d_c = |c|^2 - 2*dot(qv,c)
    * for the centroid matrix (ann4's when-chain over d0..d7, one call).
    * cn2(c) and the products wrap in Long exactly like the SQL columns. */
  def ivfCell(a: ArrayData, cents: Array[Array[Long]], cn2: Array[Long]): java.lang.Integer = {
    val n = a.numElements()
    var best = 0
    var bestD = 0L
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      if (n != cv.length) return null
      var dot = 0L
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return null
        dot += a.getLong(i) * cv(i)
        i += 1
      }
      val d = cn2(c) - 2L * dot
      if (c == 0 || d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
}

case class QuantizeVecExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def nullSafeEval(v: Any): Any =
    VecOps.quantizeVec(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.quantizeVec($c)")
  override protected def withNewChildInternal(c: Expression): QuantizeVecExpr = copy(c)
}

case class QDotLitExpr(child: Expression, q: Array[Long]) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VecOps.qdotLit(v.asInstanceOf[ArrayData], q)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("qvec", q, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""java.lang.Long $r = graft.functions.VecOps.qdotLit($c, $qRef);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         |""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): QDotLitExpr = copy(child = c)
}

case class QuantizeDotLitExpr(child: Expression, q: Array[Long]) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VecOps.quantizeDotLit(v.asInstanceOf[ArrayData], q)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("qvec", q, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""java.lang.Long $r = graft.functions.VecOps.quantizeDotLit($c, $qRef);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         |""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): QuantizeDotLitExpr = copy(child = c)
}

case class DotDoubleLitExpr(child: Expression, q: Array[Float]) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VecOps.dotDoubleLit(v.asInstanceOf[ArrayData], q)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("qvec", q, "float[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""java.lang.Double $r = graft.functions.VecOps.dotDoubleLit($c, $qRef);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): DotDoubleLitExpr = copy(child = c)
}

case class Norm2DoubleExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VecOps.norm2Double(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""java.lang.Double $r = graft.functions.VecOps.norm2Double($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Norm2DoubleExpr = copy(c)
}

case class QDotPairExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.qdotPair(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""java.lang.Long $r = graft.functions.VecOps.qdotPair($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): QDotPairExpr =
    copy(left = l, right = r)
}

case class IvfCellExpr(child: Expression, cents: Array[Array[Long]]) extends UnaryExpression {
  private val cn2: Array[Long] = cents.map(c => c.map(v => v * v).sum)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VecOps.ivfCell(v.asInstanceOf[ArrayData], cents, cn2)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", cents, "long[][]")
    val nRef = ctx.addReferenceObj("cn2", cn2, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""java.lang.Integer $r = graft.functions.VecOps.ivfCell($c, $cRef, $nRef);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.intValue(); }
         |""".stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): IvfCellExpr = copy(child = c)
}

object VecFunctions {
  import org.apache.spark.sql.graftbridge.{ColumnBridge => B}
  def quantize_vec(c: Column): Column = B.column(QuantizeVecExpr(B.expression(c)))
  def qdot_lit(c: Column, q: Array[Long]): Column = B.column(QDotLitExpr(B.expression(c), q))
  def quantize_dot_lit(c: Column, q: Array[Long]): Column =
    B.column(QuantizeDotLitExpr(B.expression(c), q))
  def dot_double_lit(c: Column, q: Array[Float]): Column =
    B.column(DotDoubleLitExpr(B.expression(c), q))
  def norm2_double(c: Column): Column = B.column(Norm2DoubleExpr(B.expression(c)))
  def qdot_pair(a: Column, b: Column): Column =
    B.column(QDotPairExpr(B.expression(a), B.expression(b)))
  def ivf_cell(c: Column, cents: Array[Array[Long]]): Column =
    B.column(IvfCellExpr(B.expression(c), cents))
}

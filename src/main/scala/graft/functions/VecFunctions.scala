package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native (whole-stage-codegen) replacements for the interpreted
  * higher-order-function chains in the ANN / embedding-dedup hot paths.
  *
  * Spark's HOFs (`transform`, `zip_with`, `aggregate`) are CodegenFallback:
  * the lambda tree is interpreted per ELEMENT, boxing every value — for a
  * 64-dim embedding dot product that is ~200 boxed evaluations per row.
  * Each kernel below is ONE static JVM call per row (`VecFunctions`
  * calls it through `Kernels`).
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

object VecFunctions {
  // every kernel but quantizeVec returns a boxed null on a length mismatch
  // or a null element
  private def call(fn: String, dt: DataType)(args: Any*) =
    Kernels.call(VecOps, fn, dt, returnNullable = true)(args: _*)
  def quantize_vec(c: Column): Column =
    Kernels.call(VecOps, "quantizeVec", ArrayType(LongType), returnNullable = false)(c)
  def qdot_lit(c: Column, q: Array[Long]): Column = call("qdotLit", LongType)(c, q)
  def quantize_dot_lit(c: Column, q: Array[Long]): Column =
    call("quantizeDotLit", LongType)(c, q)
  def dot_double_lit(c: Column, q: Array[Float]): Column = call("dotDoubleLit", DoubleType)(c, q)
  def norm2_double(c: Column): Column = call("norm2Double", DoubleType)(c)
  def qdot_pair(a: Column, b: Column): Column = call("qdotPair", LongType)(a, b)
  def ivf_cell(c: Column, cents: Array[Array[Long]]): Column =
    call("ivfCell", IntegerType)(c, cents, cents.map(_.map(v => v * v).sum))
}

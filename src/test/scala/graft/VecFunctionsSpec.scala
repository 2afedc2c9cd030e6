package graft

import graft.functions.VecFunctions._
import graft.functions.VecOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native vector expressions bit-for-bit against the interpreted
  * SQL higher-order-function chains they replaced in Ann / Dedup (the
  * optimization must not change a single value — the DuckDB oracle hashes
  * the query outputs). Boundary coverage: exact k+0.5 quantization
  * boundaries where float-vs-double rounding order diverges, negatives,
  * values whose float product is inexact, NaN/Infinity, null elements. */
class VecFunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // floats that stress the round boundary: m = x*1000f lands near k+0.5
  private val boundary: Seq[Float] = Seq(
    0.0005f, -0.0005f, 0.0015f, -0.0015f, 0.0625f, -0.0625f,
    0.1235f, -0.1235f, 1.0005f, -1.0005f, 0.4995f, 0.5005f,
    2.5e-4f, 7.5e-4f, 1.5e-3f, 0.9999995f, -0.9999995f,
    Float.MinPositiveValue, -Float.MinPositiveValue, 0f, -0f)

  private def randFloats(seed: Long, n: Int): Seq[Float] = {
    var s = seed
    (0 until n).map { _ =>
      s = graft.functions.Hashing.splitmix64(s)
      // ~[-2, 2): embedding-like magnitudes plus the odd large value
      ((s >>> 40).toInt / 4194304.0f) - 2.0f
    }
  }

  private val vecs: Seq[Seq[Float]] =
    (boundary.grouped(5).toSeq.map(_.toSeq) :+ boundary) ++
      (0 until 20).map(i => randFloats(i * 7919L + 3, 16))

  test("quantize1000 replicates cast(round(x*1000) as bigint) exactly") {
    val df = vecs.flatten.toDF("x")
    val rows = df.select(col("x"),
      expr("cast(round(x * 1000) as bigint)").as("sql")).collect()
    rows.foreach { r =>
      val x = r.getFloat(0)
      assert(VecOps.quantize1000(x) == r.getLong(1), s"x=$x")
    }
    // Non-finite inputs: the SQL path (ANSI mode, Spark 4 default) THROWS
    // on the double->bigint cast; the native helper clamps like the JVM
    // d2l. Embedding data is finite by construction, so the only
    // divergence is error behavior on impossible inputs — pinned here so
    // a future ANSI flip is noticed.
    val sp = Seq(Float.PositiveInfinity).toDF("x")
      .select(expr("cast(round(x * 1000) as bigint)"))
    assertThrows[Exception](sp.collect())
    assert(VecOps.quantize1000(Float.NaN) == 0L)
    assert(VecOps.quantize1000(Float.PositiveInfinity) == Long.MaxValue)
    assert(VecOps.quantize1000(Float.NegativeInfinity) == Long.MinValue)
  }

  test("quantize_vec / qdot_lit / quantize_dot_lit / qdot_pair match the HOF SQL") {
    val df = vecs.map(v => (v, v.reverse)).toDF("a", "b")
    val qlit: Array[Long] = randFloats(99L, 16).map(VecOps.quantize1000).toArray
    val flit: Array[Float] = randFloats(77L, 16).toArray
    // pad/truncate test vectors to the literal length where needed
    val sized = df.where(size(col("a")) === qlit.length)
    val qvSql = expr("transform(a, x -> cast(round(x*1000) as bigint))")
    val rows = sized.select(
      quantize_vec(col("a")).as("qv_new"), qvSql.as("qv_old"),
      qdot_pair(quantize_vec(col("a")), quantize_vec(col("b"))).as("qd_new"),
      expr("aggregate(zip_with(transform(a, x -> cast(round(x*1000) as bigint)), " +
        "transform(b, x -> cast(round(x*1000) as bigint)), (p,q) -> p*q), 0L, (acc,v) -> acc+v)")
        .as("qd_old"),
      qdot_pair(quantize_vec(col("a")), quantize_vec(col("a"))).as("qn2_new"),
      expr("aggregate(transform(a, x -> cast(round(x*1000) as bigint)), 0L, (acc,v) -> acc + v*v)")
        .as("qn2_old"),
      quantize_dot_lit(col("a"), qlit).as("qdl_new"),
      qdot_lit(quantize_vec(col("a")), qlit).as("qdl2_new"),
      dot_double_lit(col("a"), flit).as("dd_new"),
      norm2_double(col("a")).as("n2_new")).collect()
    val refRows = sized
      .withColumn("qq", typedLit(qlit)).withColumn("ff", typedLit(flit))
      .select(
        expr("aggregate(zip_with(a, qq, (p,q) -> cast(round(p*1000) as bigint)*q), 0L, (acc,v) -> acc+v)"),
        expr("aggregate(zip_with(a, ff, (p,q) -> cast(p as double)*cast(q as double)), 0D, (acc,v) -> acc+v)"),
        expr("aggregate(a, 0D, (acc,v) -> acc + cast(v as double)*cast(v as double))"))
      .collect()
    rows.zip(refRows).foreach { case (r, ref) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1)) // quantize_vec
      assert(r.getLong(2) == r.getLong(3))           // pair dot
      assert(r.getLong(4) == r.getLong(5))           // self dot = qn2
      assert(r.getLong(6) == ref.getLong(0))         // fused quantize+dot
      assert(r.getLong(7) == ref.getLong(0))         // two-step same value
      assert(java.lang.Double.compare(r.getDouble(8), ref.getDouble(1)) == 0)
      assert(java.lang.Double.compare(r.getDouble(9), ref.getDouble(2)) == 0)
    }
  }

  test("null elements propagate to null results, as lambda arithmetic did") {
    val df = Seq(Seq[java.lang.Float](1.0f, null, 2.0f)).toDF("a")
    val qlit = Array(1L, 2L, 3L)
    val flit = Array(1f, 2f, 3f)
    val r = df.select(
      quantize_dot_lit(col("a"), qlit),
      dot_double_lit(col("a"), flit),
      norm2_double(col("a")),
      qdot_pair(quantize_vec(col("a")), quantize_vec(col("a")))).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    // quantize_vec keeps a null slot, as transform did
    val qv = df.select(quantize_vec(col("a"))).collect()(0).getSeq[Any](0)
    assert(qv(1) == null && qv(0) == 1000L && qv(2) == 2000L)
  }

  test("ivf_cell matches the d0..dN first-min when-chain") {
    val cents: Array[Array[Long]] = Array(
      Array(1000L, 0L, 0L), Array(0L, 1000L, 0L),
      Array(0L, 0L, 1000L), Array(700L, 700L, 0L))
    val cn2 = cents.map(c => c.map(v => v * v).sum)
    val data = (0 until 50).map { i =>
      Seq(((i * 37) % 2000 - 1000).toLong, ((i * 53) % 2000 - 1000).toLong,
        ((i * 71) % 2000 - 1000).toLong)
    } :+ Seq(0L, 0L, 0L) :+ Seq(700L, 700L, 0L) // exact ties across cells
    val df = data.toDF("qv")
    val dcols = cents.indices.map { i =>
      val c = cents(i)
      (expr(s"aggregate(zip_with(qv, array(${c.mkString("L,")}L), (p,q) -> p*q), 0L, (a,v) -> a+v)")
        * lit(-2L) + lit(cn2(i))).as(s"d$i")
    }
    def leAll(i: Int) =
      (i + 1 until cents.length).map(j => col(s"d$i") <= col(s"d$j"))
        .reduceOption(_ && _).getOrElse(lit(true))
    val cellOld = cents.indices.init.foldRight(lit(cents.length - 1): org.apache.spark.sql.Column) {
      (i, rest) => when(leAll(i), lit(i)).otherwise(rest)
    }
    val rows = df.select(col("qv") +: dcols: _*)
      .withColumn("cell_old", cellOld)
      .withColumn("cell_new", ivf_cell(col("qv"), cents))
      .select("cell_old", "cell_new").collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }
}

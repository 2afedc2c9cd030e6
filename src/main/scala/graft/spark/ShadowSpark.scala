package graft.spark

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.{Doc, DocOut}
import graft.engine.RuleProgram
import graft.html.HtmlParser.MediaMarker
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DataFrameBridge
import org.apache.spark.unsafe.types.UTF8String

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

/** The commit of one `ShadowSpark.writeResumable` output, as stored in
  * `path/_graft_commit.json`: the lineage of its write — row count,
  * doc_id range, an order-free checksum of (doc_id, data_json), rows with
  * errors and the write's wall time. */
final case class Commit(
    n_docs: Long,
    doc_lo: String,
    doc_hi: String,
    checksum: Long,
    n_errors: Long,
    wall_ms: Long)

/** Spark wiring for the extraction engine (SURVEY.md §3.5).
  *
  * Design for 100 TB / 1000 executors:
  *  - every entry point below is a thin call to ONE Catalyst operator,
  *    `EngineOp`, over the (doc_id, spans) columns: the compiled
  *    RuleProgram is broadcast once per job, each task builds ONE engine
  *    and ONE decoder, and rows are written straight into UnsafeRows (no
  *    per-row setup, no driver round-trips, no collect(), no Encoder pass);
  *  - rows are embarrassingly parallel (all reference state is row-local,
  *    SURVEY.md §3.4) so no shuffle is needed for processing itself;
  *  - `writeResumable` writes an output path once and commits it with one
  *    rename of its staging directory onto the path; the manifest
  *    (`Commit`) carries the lineage, observed on the write itself — no
  *    accumulator, no second pass (local-filesystem stand-in for
  *    Iceberg/Delta snapshot commits; the writer sits behind this object
  *    so a real catalog is a drop-in).
  */
object ShadowSpark {

  /** The engine operator over a DataFrame with the canonical
    * (doc_id string, spans array<struct<kind,text,media_ref,offset>>)
    * columns; returns (doc_id, spans, data_json, errors) with the DocOut
    * schema. Works on batch and streaming DataFrames alike. */
  def op(df: DataFrame, program: RuleProgram): DataFrame = {
    val spark = df.sparkSession
    EngineOp.register(spark)
    val input = df.select(col("doc_id"), col("spans")).queryExecution.analyzed
    DataFrameBridge.ofPlan(spark, EngineOp(program, input))
  }

  /** Pure engine application; preserves the input partitioning. */
  def process(docs: Dataset[Doc], program: RuleProgram): Dataset[DocOut] =
    op(docs.toDF(), program).as(Encoders.product[DocOut])

  /** Per-task decoder for the canonical
    * (doc_id string, spans array<struct<kind,text,media_ref,offset>>) rows:
    * joins the non-media spans' text in stable `offset` order (Model.scala's
    * contract) into one UTF-8 buffer, decoded to a String once, and
    * records each media span as a marker at its char position.
    *
    * Null policy (one bad row must not kill the job; `ShadowEngine.process(Doc)`
    * keeps it too): a null span element or null kind contributes nothing;
    * a media span with a null ref or text gets empty strings; a non-media
    * span with a null text contributes nothing; a null offset counts as 0.
    *
    * One read path, Spark's public accessors, serves every array
    * representation. Reading Spark's internal array layout saved the
    * per-span wrappers (decode probe 9887 against 10908 B/doc) but needed
    * a per-task self-check; end to end it saved 0.9% of `crawl_write`'s
    * allocation (143.6 against 144.9 KiB/doc, medians of ten runs, 4
    * cores) and no time outside the runs' spread. */
  private[graft] final class SpanStreamDecoder {
    private var buf = new Array[Byte](16384) // per-task reusable byte scratch
    // the kept spans of one row, grown to the widest row; keys(k) is
    // offset << 32 | k, sorted when offsets decrease (distinct, so stable)
    private var keys = new Array[Long](64)
    private var spans = new Array[InternalRow](64)
    private var isMedia = new Array[Boolean](64)
    val markers = new ArrayBuffer[MediaMarker](8)
    private val kindMedia = UTF8String.fromString(graft.core.SpanKinds.Media)

    /** Decodes the spans column of `row` (ordinal 1); the document stream
      * is returned, media markers (char positions) are in `markers`. */
    def decode(row: InternalRow): String =
      decode(if (row.isNullAt(1)) null else row.getArray(1))

    /** Decodes one spans array; a null array is an empty document. */
    def decode(arr: ArrayData): String = {
      markers.clear()
      if (arr == null) return ""
      val n = arr.numElements()
      if (keys.length < n) {
        val len = math.max(n, keys.length * 2)
        keys = new Array[Long](len)
        spans = new Array[InternalRow](len)
        isMedia = new Array[Boolean](len)
      }
      var m = 0
      var inOrder = true
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val st = arr.getStruct(i, 4)
          if (!st.isNullAt(0)) {
            val media = st.getUTF8String(0) == kindMedia
            if (media || !st.isNullAt(1)) {
              val offset = if (st.isNullAt(3)) 0L else st.getInt(3).toLong
              if (m > 0 && offset < (keys(m - 1) >> 32)) inOrder = false
              keys(m) = (offset << 32) | m
              spans(m) = st
              isMedia(m) = media
              m += 1
            }
          }
        }
        i += 1
      }
      if (!inOrder) java.util.Arrays.sort(keys, 0, m)
      var bytePos = 0
      var j = 0
      while (j < m) {
        val k = if (inOrder) j else keys(j).toInt
        val st = spans(k)
        spans(k) = null // hold no row memory past the call
        if (isMedia(k)) {
          markers += MediaMarker(bytePos, orEmpty(st, 2), orEmpty(st, 1))
        } else {
          val text = st.getUTF8String(1)
          val nb = text.numBytes()
          if (bytePos + nb > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, bytePos + nb))
          text.writeTo(ByteBuffer.wrap(buf, bytePos, nb))
          bytePos += nb
        }
        j += 1
      }
      if (markers.nonEmpty) {
        // byte offset -> UTF-16 char offset: count non-continuation bytes,
        // +1 extra for 4-byte sequences (surrogate pairs)
        var ci = 0; var bi = 0; var mi = 0
        while (mi < markers.length) {
          val target = markers(mi).pos
          while (bi < target) {
            val b = buf(bi)
            if ((b & 0xC0) != 0x80) { ci += 1; if ((b & 0xF8) == 0xF0) ci += 1 }
            bi += 1
          }
          markers(mi) = markers(mi).copy(pos = ci)
          mi += 1
        }
      }
      new String(buf, 0, bytePos, StandardCharsets.UTF_8)
    }

    private def orEmpty(st: InternalRow, field: Int): String =
      if (st.isNullAt(field)) "" else st.getUTF8String(field).toString
  }

  /** `process` over an untyped (doc_id, spans) DataFrame. */
  def processColumnar(df: DataFrame, program: RuleProgram): Dataset[DocOut] =
    op(df, program).as(Encoders.product[DocOut])

  // ---------------- committed writer ----------------

  /** The doc-hash bucket, `xxhash64(doc_id) mod n`. */
  def bucketOf(n: Int) = pmod(xxhash64(col("doc_id")), lit(n))

  private val ManifestName = "_graft_commit.json"
  private lazy val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The commit of `path`, if `path` is committed. */
  def commit(path: String): Option[Commit] = {
    val m = Paths.get(path, ManifestName)
    if (Files.exists(m)) Some(json.readValue(m.toFile, classOf[Commit])) else None
  }

  /** Writes DocOut rows for every doc to `path` and commits them, unless
    * `path` is already committed. The rows go to a fresh hidden sibling
    * `.<name>._staging-<uuid>` (Spark's reader skips `.`- and
    * `_`-prefixed paths), the lineage is observed on that same write (a
    * result stage, so a retried task counts once), `_graft_commit.json`
    * records it, and one atomic rename publishes the staging directory as
    * `path` itself. A rename onto a non-empty directory fails, so a writer
    * racing another onto the same `path` throws instead of committing a
    * second copy. On any failure this call's staging directory is deleted;
    * a crashed driver leaves it beside `path`, which stays uncommitted.
    * Returns the runs this call committed: `Seq(0)`, or empty when `path`
    * was already committed.
    *
    * At real scale the commit would be a put-if-absent in a table log
    * (Delta/Iceberg); neither is on the classpath (SURVEY.md §7.0).
    */
  def writeResumable(docs: Dataset[Doc], program: RuleProgram, path: String): Seq[Int] = {
    if (commit(path).isDefined) return Seq.empty
    val target = Paths.get(path).toAbsolutePath
    val staging = target.resolveSibling(s".${target.getFileName}._staging-${java.util.UUID.randomUUID()}")
    try {
      val lineage = Observation()
      val t0 = System.nanoTime()
      op(docs.toDF(), program).observe(lineage,
        count(lit(1)).as("n_docs"),
        min("doc_id").as("doc_lo"),
        max("doc_id").as("doc_hi"),
        // xor, not sum: a long sum overflows under ANSI mode
        bit_xor(xxhash64(col("doc_id"), col("data_json"))).as("checksum"),
        count_if(size(col("errors")) > 0).as("n_errors"))
        .write.parquet(staging.toString)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val m = lineage.get
      def get[T](k: String, empty: T): T = Option(m(k)).fold(empty)(_.asInstanceOf[T])
      val c = Commit(get("n_docs", 0L), get("doc_lo", ""), get("doc_hi", ""),
        get("checksum", 0L), get("n_errors", 0L), wallMs)
      Files.write(staging.resolve(ManifestName), json.writeValueAsBytes(c))
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      Seq(0)
    } finally FileUtils.deleteQuietly(staging.toFile) // gone after the rename
  }
}

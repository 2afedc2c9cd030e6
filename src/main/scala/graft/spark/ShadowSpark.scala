package graft.spark

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.{Doc, DocOut}
import graft.engine.RuleProgram
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DataFrameBridge

import java.nio.file.{Files, Paths, StandardCopyOption}

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
    * assembles the document stream as raw UTF-8 bytes (decoded to String
    * ONCE) and collects media markers, via a raw UnsafeArrayData read path
    * with a generic-accessor fallback. Spans are concatenated in `offset`
    * order (Model.scala's contract): the fast path checks that offsets
    * never decrease, and a row whose spans are out of order is decoded by
    * the generic path after a stable sort by offset.
    *
    * Raw-layout fast path rationale: the generic accessors allocate a
    * wrapper per struct element and per string field (~4 per span, ~120
    * per doc) — at 350k docs/s that wrapper churn alone is >1 GB/s of
    * garbage and is what keeps the decode half from scaling on many-core
    * executors. Layout read directly:
    *   [numElements:8][null bits: ceil(n/64)*8][n x 8B (off<<32|sz)]
    * struct element -> UnsafeRow bytes at arrayBase+off:
    *   [null bits: 8][4 x 8B slots]; string slots hold off<<32|sz
    *   relative to the STRUCT start; int slot holds the value.
    *
    * Safety: any set null bit (array element or struct field) drops the
    * row to the generic accessors, which surface the null explicitly
    * instead of reading bytes at offset 0; and each task's first
    * fast-decoded row is cross-checked byte-for-byte against the generic
    * decode, pinning the generic path if Spark's internal layout ever
    * drifts. */
  private[graft] final class SpanStreamDecoder {
    private var buf = new Array[Byte](16384) // per-task reusable byte scratch
    private var chkBuf = new Array[Byte](0) // self-check scratch (first fast row only)
    val markers = new scala.collection.mutable.ArrayBuffer[graft.html.HtmlParser.MediaMarker](8)
    private val chkMarkers = new scala.collection.mutable.ArrayBuffer[graft.html.HtmlParser.MediaMarker](8)
    private val utf8 = java.nio.charset.StandardCharsets.UTF_8
    private val kindMedia = org.apache.spark.unsafe.types.UTF8String.fromString(graft.core.SpanKinds.Media)
    private var fastOk = true
    private var fastChecked = false

    // generic accessor decode (allocates ~4 wrappers per span). Null policy
    // (one bad row must not kill the job, same stance as the engine's
    // Throwable row guard): a null span element or null kind contributes
    // nothing; a media span with null ref/text gets empty strings; a text
    // span with null text contributes no stream bytes; a null offset
    // counts as 0.
    private def decodeGeneric(arr: org.apache.spark.sql.catalyst.util.ArrayData, n: Int,
                              buf0: Array[Byte],
                              mk: scala.collection.mutable.ArrayBuffer[graft.html.HtmlParser.MediaMarker])
        : (Array[Byte], Int) = {
      def offsetAt(i: Int): Int =
        if (arr.isNullAt(i)) 0 else { val st = arr.getStruct(i, 4); if (st.isNullAt(3)) 0 else st.getInt(3) }
      var inOrder = true
      var k = 1
      while (k < n && inOrder) { inOrder = offsetAt(k - 1) <= offsetAt(k); k += 1 }
      val order = if (inOrder) null else Array.range(0, n).sortBy(offsetAt) // stable
      var b = buf0
      var bytePos = 0
      var j = 0
      while (j < n) {
        val i = if (order == null) j else order(j)
        if (!arr.isNullAt(i)) {
          val st = arr.getStruct(i, 4)
          val kind = if (st.isNullAt(0)) null else st.getUTF8String(0)
          if (kind == kindMedia) {
            mk += graft.html.HtmlParser.MediaMarker(
              bytePos,
              if (st.isNullAt(2)) "" else st.getUTF8String(2).toString,
              if (st.isNullAt(1)) "" else st.getUTF8String(1).toString)
          } else if (kind != null && !st.isNullAt(1)) {
            val u = st.getUTF8String(1)
            val nb = u.numBytes()
            if (bytePos + nb > b.length)
              b = java.util.Arrays.copyOf(b, math.max(b.length * 2, bytePos + nb))
            u.writeTo(java.nio.ByteBuffer.wrap(b, bytePos, nb))
            bytePos += nb
          }
        }
        j += 1
      }
      (b, bytePos)
    }

    // returns -1 length when any null bit is set or an offset decreases
    // (the generic path then decides what a null span/field means instead
    // of reading garbage, and sorts the spans by offset)
    private def decodeFast(ua: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData, n: Int,
                           base: Array[Byte], buf0: Array[Byte],
                           mk: scala.collection.mutable.ArrayBuffer[graft.html.HtmlParser.MediaMarker])
        : (Array[Byte], Int) = {
      var b = buf0
      var bytePos = 0
      val a0 = ua.getBaseOffset
      val nullWords = (n + 63) / 64
      var w = 0
      while (w < nullWords) {
        if (org.apache.spark.unsafe.Platform.getLong(base, a0 + 8 + w * 8L) != 0L)
          return (b, -1) // null element present
        w += 1
      }
      val elems = a0 + 8 + (nullWords.toLong * 8)
      val B = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
      var prevOffset = Int.MinValue
      var i = 0
      while (i < n) {
        val os = org.apache.spark.unsafe.Platform.getLong(base, elems + i * 8L)
        val st = a0 + (os >>> 32) // struct base (absolute)
        if (org.apache.spark.unsafe.Platform.getLong(base, st) != 0L)
          return (b, -1) // null struct field present
        def fieldOff(f: Int): Long =
          org.apache.spark.unsafe.Platform.getLong(base, st + 8 + f * 8L)
        val offset = org.apache.spark.unsafe.Platform.getInt(base, st + 8 + 3 * 8L)
        if (offset < prevOffset) return (b, -1) // out of offset order
        prevOffset = offset
        val kOs = fieldOff(0)
        val kLen = kOs.toInt
        val kIdx = (st + (kOs >>> 32) - B).toInt
        val isMedia = kLen == 5 && base(kIdx) == 'm' && base(kIdx + 1) == 'e' &&
          base(kIdx + 2) == 'd' && base(kIdx + 3) == 'i' && base(kIdx + 4) == 'a'
        val tOs = fieldOff(1)
        val tLen = tOs.toInt
        val tIdx = (st + (tOs >>> 32) - B).toInt
        if (isMedia) {
          val rOs = fieldOff(2)
          mk += graft.html.HtmlParser.MediaMarker(bytePos,
            new String(base, (st + (rOs >>> 32) - B).toInt, rOs.toInt, utf8),
            new String(base, tIdx, tLen, utf8))
        } else {
          if (bytePos + tLen > b.length)
            b = java.util.Arrays.copyOf(b, math.max(b.length * 2, bytePos + tLen))
          System.arraycopy(base, tIdx, b, bytePos, tLen)
          bytePos += tLen
        }
        i += 1
      }
      (b, bytePos)
    }

    /** Decodes the spans column of `row` (ordinal 1); the document stream
      * is returned, media markers (char positions) are in `markers`. */
    def decode(row: org.apache.spark.sql.catalyst.InternalRow): String =
      decode(if (row.isNullAt(1)) null else row.getArray(1))

    /** Decodes one spans array; a null array is an empty document. */
    def decode(arr: org.apache.spark.sql.catalyst.util.ArrayData): String = {
      markers.clear()
      if (arr == null) return ""
      val n = arr.numElements()
      var bytePos = -1
      arr match {
        case ua: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
            if fastOk && ua.getBaseObject.isInstanceOf[Array[Byte]] =>
          val base = ua.getBaseObject.asInstanceOf[Array[Byte]]
          val r = decodeFast(ua, n, base, buf, markers)
          buf = r._1; bytePos = r._2
          if (bytePos >= 0 && !fastChecked) {
            fastChecked = true
            chkMarkers.clear()
            val g = decodeGeneric(arr, n, chkBuf, chkMarkers)
            chkBuf = g._1
            val same = g._2 == bytePos &&
              java.util.Arrays.equals(buf, 0, bytePos, chkBuf, 0, g._2) &&
              chkMarkers == markers
            if (!same) { // layout drift: pin the generic path for the task
              fastOk = false
              bytePos = -1
            }
          }
        case _ =>
      }
      if (bytePos < 0) { // generic path (non-unsafe input, nulls, or drift)
        markers.clear()
        val g = decodeGeneric(arr, n, buf, markers)
        buf = g._1; bytePos = g._2
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
      new String(buf, 0, bytePos, utf8)
    }
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

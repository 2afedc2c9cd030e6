package graft.pipeline

import java.util.zip.{Deflater, Inflater}

/** Thread-local Deflater/Inflater reuse for the codec hot paths.
  *
  * `new Deflater`/`new Inflater` allocate and later free a native zlib
  * state (~tens to hundreds of KB) per instance; the synth/decode paths
  * used to pay that per ROW (per gzip member, per PDF stream, per PNG).
  * A `reset()` instance is state-identical to a fresh one — same level,
  * same strategy, same output bytes — so each task thread now keeps one
  * per (level, nowrap) mode and resets it per use. Loan-pattern guard:
  * the slot is emptied while lent out, so a (hypothetical) nested use on
  * the same thread falls back to a fresh instance instead of corrupting
  * the stream. Instances live for the executor thread's lifetime —
  * bounded by pool size, never end()ed (the JVM frees them with the
  * thread).
  */
private[pipeline] object Zlib {

  private final class Slot[T >: Null](mk: () => T) extends ThreadLocal[T] {
    override def initialValue(): T = null
    def loan[R](reset: T => Unit)(f: T => R): R = {
      var inst = get()
      if (inst == null) inst = mk() else set(null)
      reset(inst)
      try f(inst) finally set(inst)
    }
  }

  private val deflaters = Array.tabulate(2)(w =>
    new Slot[Deflater](() => new Deflater(Deflater.DEFAULT_COMPRESSION, w == 1)))
  private val deflaters1 = new Slot[Deflater](() => new Deflater(1))
  private val inflaters = Array.tabulate(2)(w =>
    new Slot[Inflater](() => new Inflater(w == 1)))

  /** Full one-shot deflate of `payload` with a reused default-level
    * deflater (`nowrap` = raw stream, as in a gzip member body). */
  def deflateDefault(payload: Array[Byte], nowrap: Boolean): Array[Byte] =
    deflaters(if (nowrap) 1 else 0).loan(_.reset())(run(_, payload))

  /** Level-1 (BEST_SPEED) zlib-wrapped deflate for SYNTHESIS-ONLY streams
    * whose compressed bytes nothing oracles or stores (PNG pixel fixtures,
    * PDF FlateDecode fixture streams): the decoder inverts any level, and
    * level 1 costs a fraction of level 6's match search. Still fully
    * deterministic run to run. */
  def deflate1(payload: Array[Byte]): Array[Byte] =
    deflaters1.loan(_.reset())(run(_, payload))

  private def run(d: Deflater, payload: Array[Byte]): Array[Byte] = {
    d.setInput(payload); d.finish()
    val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    out.toByteArray
  }

  /** Lend a reset thread-local inflater to `f` (callers keep their own
    * read loops, caps and error handling; they must not call end()). */
  def withInflater[R](nowrap: Boolean)(f: Inflater => R): R =
    inflaters(if (nowrap) 1 else 0).loan(_.reset())(f)

  /** Inflate the whole of `input` (`nowrap` = raw deflate, no zlib
    * wrapper). None when the stream is corrupt, when it inflates to more
    * than `limit` bytes, or when a call makes no progress before the
    * end: a truncated stream, or one that asks for a preset dictionary
    * (inflate returns 0 forever there, with needsInput() false). */
  def inflate(input: Array[Byte], nowrap: Boolean, limit: Long): Option[Array[Byte]] =
    withInflater(nowrap) { inf =>
      inf.setInput(input)
      val out = new java.io.ByteArrayOutputStream(8192)
      val buf = new Array[Byte](8192)
      var total = 0L
      var ok = true
      while (ok && !inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => ok = false; 0 }
        if (ok) {
          if (n == 0 && !inf.finished()) ok = false
          else {
            total += n
            if (total > limit) ok = false
            else out.write(buf, 0, n)
          }
        }
      }
      if (ok) Some(out.toByteArray) else None
    }
}

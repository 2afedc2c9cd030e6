package graft.spark

import graft.core.Doc
import graftbench.Measure
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Times `SpanStreamDecoder.decode` on its own. The decoder is visible to
  * this package only, so the probe lives here; it calls the decoder exactly
  * as the Spark operators do, one reused decoder per thread. */
object DecodeProbe {

  /** The docs as the UnsafeRows a scan of the (doc_id, spans) table hands
    * the operators. */
  def rows(docs: Seq[Doc]): Array[InternalRow] = {
    val ser = ExpressionEncoder[Doc]().createSerializer()
    docs.map(d => ser(d).copy()).toArray
  }

  /** Decodes every row per pass; returns the probe figures (count = media
    * markers per doc) and whether every decoded stream and marker list
    * matched the expected ones. */
  def run(rows: Array[InternalRow], streams: Array[String],
          markers: Array[Seq[graft.html.HtmlParser.MediaMarker]]): (Measure.Probe, Boolean) = {
    val dec = new ShadowSpark.SpanStreamDecoder
    var ok = true
    var i = 0
    while (i < rows.length) {
      if (dec.decode(rows(i)) != streams(i) || dec.markers.toSeq != markers(i)) ok = false
      i += 1
    }
    val p = Measure.probes(rows.length, warmSec = 1.0, rounds = 7)("decode" -> { () =>
      var n = 0L
      var j = 0
      while (j < rows.length) { dec.decode(rows(j)); n += dec.markers.length; j += 1 }
      n
    })
    (p("decode"), ok)
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import java.nio.charset.StandardCharsets.UTF_8

/** Multimodal (media) column plumbing: images/PDFs ride as opaque `binary`
  * columns with typed metadata. The header decode is REAL byte-layout
  * parsing (graft.pipeline.MediaCodec: PNG IHDR with CRC check, GIF
  * logical screen descriptor, JPEG SOFn marker walk, PDF page-tree
  * /Count, WAV/MP4 chunk walks). DEEP decode is ALSO real for PNG (zlib
  * inflate + five-filter scanline reversal), GIF (from-scratch LZW +
  * palette mapping, incl. interlace and local color tables), Huffman
  * JPEG (one multi-scan coefficient decode for sequential SOF0/SOF1
  * and progressive SOF2 frames + dequant + IDCT, 4:4:4 and
  * 2x-subsampled chroma), and PDF text (/Length-bounded stream walk +
  * the full ISO 32000-1 §7.4 filter cascade — Flate, LZW (the same
  * coder as GIF's), RunLength, ASCIIHex, ASCII85, chained — +
  * show-op tokenizer, /DecodeParms PNG-row-filter and TIFF predictors
  * reversed) — all pure JVM, cross-validated against the JDK's
  * independent javax.imageio codecs in MediaSpec. PDF-embedded
  * /DCTDecode images decode through the in-house JPEG path
  * (extractPdfImages / pdfImageStats). What remains a labeled STUB:
  * arithmetic-coded / 12-bit / lossless JPEG, the non-JPEG image
  * codecs inside PDF streams (JPXDecode, CCITTFax, JBIG2), WebP/MP3
  * pixel/sample decode (header metadata only), and PDF raster *layout*
  * (page rendering) — those drop in at `decodeAll` / `routeAndParse`
  * with the same schema and batching.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_ref: String, content: Array[Byte])
  final case class MediaMeta(
      doc_id: Long,
      media_ref: String,
      format: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      feature: Array[Float])

  /** Feature extractor. For PNG, GIF and Huffman JPEG the 8-dim vector
    * is REAL pixel arithmetic — PNG: full zlib inflate + scanline
    * unfilter; GIF: LZW decompress + palette mapping; JPEG: Huffman
    * entropy decode + dequant + IDCT (MediaCodec.decodeImagePixels), no
    * stub: dims 0-2 per-channel mean, 3-5 per-channel (max-min) spread,
    * both /255, dim 6 log2(pixel count)/32, dim 7 aspect ratio w/(w+h).
    * PDFs get a REAL text-derived feature (pdfFeature over the extracted
    * content-stream text, any §7.4 filter cascade, predictor
    * DecodeParms reversed). Only genuinely undecodable content
    * (unknown formats, arithmetic/12-bit/lossless JPEG, PDFs whose
    * every stream uses a non-JPEG image codec) falls back to the
    * labeled hash stub below. */
  private[graft] def feature(content: Array[Byte]): Array[Float] =
    MediaCodec.decodeImagePixels(content) match {
      case Some(px) =>
        val n = px.width.toLong * px.height
        val f = new Array[Float](8)
        var ch = 0
        while (ch < 3) {
          f(ch) = (px.stats(ch).sum.toDouble / n / 255.0).toFloat
          f(3 + ch) = (px.stats(ch).max - px.stats(ch).min) / 255.0f
          ch += 1
        }
        f(6) = (math.log(n.toDouble) / math.log(2.0) / 32.0).toFloat
        f(7) = px.width.toFloat / (px.width + px.height)
        f
      case None =>
        pdfFeature(content).getOrElse(featureStub(content))
    }

  /** Integer-exact primitives of the PDF text feature — the quantities
    * the mm8 oracle replays: UTF-8 byte length of the extracted text,
    * page count, token count (space-separated: #spaces + 1), digit
    * count. Kept separate from the float dims so an external SQL engine
    * verifies the decode path in exact integers. */
  final case class PdfFeaturePrims(textBytes: Long, nPages: Int,
                                   nTokens: Long, nDigits: Long)

  private[graft] def pdfFeaturePrims(content: Array[Byte]): Option[PdfFeaturePrims] =
    for {
      info <- MediaCodec.parse(content) if info.format == "pdf"
      text <- MediaCodec.extractPdfText(content)
    } yield {
      val bytes = text.getBytes(UTF_8)
      var spaces = 0L
      var digits = 0L
      var i = 0
      while (i < bytes.length) {
        val c = bytes(i)
        if (c == ' ') spaces += 1
        if (c >= '0' && c <= '9') digits += 1
        i += 1
      }
      PdfFeaturePrims(bytes.length.toLong, info.nPages, spaces + 1, digits)
    }

  /** REAL text-derived 8-dim feature for the pdf_layout branch: pure
    * deterministic arithmetic over the integer primitives (power-of-two
    * scales, so the float dims are exact functions of the oracled
    * integers). None when the PDF's streams can't be decoded (non-Flate
    * filters) — callers fall back to the labeled stub. */
  private[graft] def pdfFeature(content: Array[Byte]): Option[Array[Float]] =
    pdfFeaturePrims(content).map { p =>
      val f = new Array[Float](8)
      f(0) = math.min(p.textBytes, 65535L) / 65536.0f
      f(1) = math.min(p.nPages, 63) / 64.0f
      f(2) = math.min(p.nTokens, 4095L) / 4096.0f
      f(3) = p.nDigits.toFloat / math.max(p.textBytes, 1L)
      f(4) = (p.textBytes % 256) / 256.0f
      f(5) = (p.textBytes.toFloat / math.max(p.nTokens, 1L)) / 64.0f
      f(6) = (math.log(p.textBytes + 1.0) / math.log(2.0) / 32.0).toFloat
      f(7) = 1.0f // branch marker: text-derived (vs pixel-derived = w/(w+h) < 1)
      f
    }

  /** STUB feature extractor for genuinely undecodable content:
    * deterministic 8-dim "embedding" from content bytes (a real
    * extractor — CLIP-style vision encoder etc. — drops in here;
    * everything downstream only sees Array[Float]). */
  private[pipeline] def featureStub(content: Array[Byte]): Array[Float] = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < content.length) { h = h * 1099511628211L + (content(i) & 0xff); i += 1 }
    val feat = new Array[Float](8)
    var j = 0
    while (j < 8) {
      feat(j) = ((graft.functions.Hashing.splitmix64(h ^ j) >>> 40).toInt / 16777216.0f)
      j += 1
    }
    feat
  }

  /** Shared synth plumbing: one media row per doc, content built by `f`
    * from (doc_id, UTF-8 payload) -> (media_ref, container bytes). The
    * mm1/mm2/mm3 queries parameterize this with different builders.
    *
    * `spread = true` redistributes rows over the session's
    * shuffle-partition count BEFORE the codec work: scan splits follow
    * input file BYTES, which underparallelizes per-row codec CPU (and
    * mega-doc skew concentrates it). Worth one shuffle of the text only
    * when the builder + downstream decode dominate it — deep pixel/PDF/
    * WARC decodes yes, header-only walks no (their per-row work is at
    * scan speed, so the exchange is pure overhead; those call sites pass
    * spread = false). The count is the deployment-sized
    * spark.sql.shuffle.partitions as Spark parses it, never a constant. */
  def synthTable(docs: DataFrame, spread: Boolean = true)
                (f: (Long, Array[Byte]) => (String, Array[Byte])): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("text"))
    val part =
      if (!spread) base
      else base.repartition(SQLConf.get.numShufflePartitions, col("doc_id"))
    part.as[(Long, String)].mapPartitions { it =>
      it.map { case (id, text) =>
        val (ref, content) = f(id, text.getBytes(UTF_8))
        MediaRow(id, ref, content)
      }
    }.toDF()
  }

  /** Synthesize a media table from `documents`: each doc's UTF-8 text
    * bytes become the payload of a REAL container (png/gif/jpeg by
    * doc_id % 3, dims = (16 + n % 64, 16 + n % 48)) so the decode step
    * round-trips through the actual byte layout. Deterministic, and the
    * container overhead is exact arithmetic (MediaCodec.pngBytes etc.)
    * so the oracle replays n_bytes too. */
  def mediaTable(docs: DataFrame): DataFrame =
    synthTable(docs, spread = false) { (id, payload) =>
      val (fmt, content) = MediaCodec.synthImage(id, payload)
      (s"media://$id.$fmt", content)
    }

  /** Batched per-partition header decode (one task-local pass; rows
    * stream through — the Spark analogue of mapInPandas batches).
    * Unparseable payloads yield format "unknown" with zero dims rather
    * than failing the task. */
  def decodeAll(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.map { r =>
        val info = MediaCodec.parse(r.content)
          .getOrElse(MediaCodec.MediaInfo("unknown", 0, 0, 0))
        MediaMeta(r.doc_id, r.media_ref, info.format, r.content.length.toLong,
          info.width, info.height, feature(r.content))
      }
    }.toDF()
  }

  /** Metadata projection used by the oracle check (integer-valued). */
  def metaForOracle(media: DataFrame): DataFrame =
    decodeAll(media).select(col("doc_id"), col("media_ref"), col("format"),
      col("n_bytes"), col("width"), col("height"))

  final case class PixelStatsRow(
      doc_id: Long, media_ref: String, width: Int, height: Int,
      channel: Int, px_sum: Long, px_min: Int, px_max: Int)

  /** DEEP image decode — the real pixel path, not a stub: PNG = full
    * zlib inflate of the IDAT stream + reversal of all five scanline
    * filters; GIF = LZW decompress + palette mapping (MediaCodec
    * .decodeImagePixels), reduced task-locally to exact per-channel
    * integer stats (one output row per channel). Scan-local — no
    * shuffle, no driver round-trip; the decode cost rides inside the
    * same mapPartitions pass a 1000-executor job distributes by input
    * split, and the 64 MB decoded-size cap bounds task memory against
    * forged headers. Undecodable rows are dropped (the header-level
    * branches already routed them elsewhere). */
  def pixelStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { r =>
        MediaCodec.decodeImagePixels(r.content).toSeq.flatMap { px =>
          px.stats.iterator.zipWithIndex.map { case (s, ch) =>
            PixelStatsRow(r.doc_id, r.media_ref, px.width, px.height,
              ch, s.sum, s.min, s.max)
          }
        }
      }
    }.toDF()
  }

  final case class PdfTextRow(
      doc_id: Long, media_ref: String, n_pages: Int, text: String)

  /** DEEP PDF text extraction — the real layout-branch decode, not a
    * stub: walks every content stream by its /Length, reverses the full
    * ISO 32000-1 §7.4 filter cascade (FlateDecode via the JVM's zlib,
    * plus from-scratch LZWDecode / RunLengthDecode / ASCIIHexDecode /
    * ASCII85Decode, applied in /Filter array order), and tokenizes the
    * show-text operators (Tj / ' / " / TJ with escape and nested-paren
    * handling) in stream order (MediaCodec.extractPdfText), reversing
    * /DecodeParms predictors (PNG row filters 10-15, TIFF horizontal
    * differencing) where a stream carries them. Scan-local like
    * pixelStats; image-codec streams (DCTDecode, JPXDecode) carry no
    * text and are excluded from tokenization (the raster branch
    * handles them — pdfImageStats), and PDFs that carry no text yield
    * no row. */
  def pdfText(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { r =>
        for {
          info <- MediaCodec.parse(r.content) if info.format == "pdf"
          text <- MediaCodec.extractPdfText(r.content)
        } yield PdfTextRow(r.doc_id, r.media_ref, info.nPages, text)
      }
    }.toDF()
  }

  final case class PdfImageStatsRow(
      doc_id: Long, media_ref: String, image_idx: Int, width: Int, height: Int,
      channel: Int, px_sum: Long, px_min: Int, px_max: Int)

  /** PDF raster branch — decode the images a PDF EMBEDS, end to end:
    * walk the /Subtype /Image XObject streams, reverse any transport
    * filters, and hand the DCTDecode payload (an embedded JPEG — how
    * PDFs overwhelmingly carry photographs) to the in-house JPEG
    * decoder (sequential or progressive, 1x/2x sampling), reduced
    * task-locally to per-channel integer stats, one row per (image,
    * channel).
    * Scan-local like pixelStats; the 64 MB decode cap bounds task
    * memory. PDFs with no decodable embedded image yield no row. */
  def pdfImageStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { r =>
        MediaCodec.extractPdfImages(r.content).iterator.zipWithIndex.flatMap {
          case (jpeg, idx) =>
            MediaCodec.decodeImagePixels(jpeg).toSeq.flatMap { px =>
              px.stats.iterator.zipWithIndex.map { case (s, ch) =>
                PdfImageStatsRow(r.doc_id, r.media_ref, idx, px.width, px.height,
                  ch, s.sum, s.min, s.max)
              }
            }
        }
      }
    }.toDF()
  }

  final case class PdfFeatureRow(
      doc_id: Long, media_ref: String, text_bytes: Long, n_pages: Int,
      n_tokens: Long, n_digits: Long)

  /** PDF text-feature primitives per doc (scan-local like pdfText): the
    * integer-exact quantities the float feature dims derive from. PDFs
    * whose streams can't be decoded yield no row. */
  def pdfFeaturePrimitives(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { r =>
        pdfFeaturePrims(r.content).map(p =>
          PdfFeatureRow(r.doc_id, r.media_ref, p.textBytes, p.nPages,
            p.nTokens, p.nDigits))
      }
    }.toDF()
  }

  final case class AvMetaRow(
      doc_id: Long, media_ref: String, format: String, n_bytes: Long,
      sample_rate: Int, channels: Int, duration_ms: Long)

  /** Audio/video branch decode (scan-local): WAV RIFF fmt/data chunk
    * walk (sample rate, channels, PCM duration) and MP4 ISO-BMFF box
    * walk to moov/mvhd (v0 32-bit and v1 64-bit times). Unparseable
    * payloads yield format "unknown" with zero fields rather than
    * failing the task — same contract as decodeAll. */
  def avMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.map { r =>
        val info = MediaCodec.parse(r.content)
          .getOrElse(MediaCodec.MediaInfo("unknown", 0, 0, 0))
        AvMetaRow(r.doc_id, r.media_ref, info.format, r.content.length.toLong,
          info.sampleRate, info.channels, info.durationMs)
      }
    }.toDF()
  }

  final case class ExifMetaRow(
      doc_id: Long, media_ref: String, width: Int, height: Int,
      orientation: Int)

  /** EXIF orientation (scan-local): the APP1/TIFF IFD0 walk real crawl
    * JPEGs need before any pixel use — orientation 1-8 decides the
    * rotate/mirror a downstream resize must apply. Dims come from the
    * same segment walk (the SOF header, EXIF present or not), proving
    * the APP1 insert leaves the image parse intact. JPEGs without a
    * valid EXIF orientation report 0 (the "unknown, treat as 1" crawl
    * convention); non-JPEG rows are dropped — the router already sent
    * them elsewhere. */
  def exifMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { r =>
        MediaCodec.parse(r.content).filter(_.format == "jpeg").map { info =>
          ExifMetaRow(r.doc_id, r.media_ref, info.width, info.height,
            MediaCodec.parseExifOrientation(r.content).getOrElse(0))
        }
      }
    }.toDF()
  }

  final case class RoutedMeta(
      doc_id: Long, media_ref: String, branch: String,
      n_pages: Int, width: Int, height: Int)

  /** Media-branch routing (the north-rule "PDF/layout branch"): the
    * container magic decides the branch — PDFs go to the layout parse
    * (page count from the page tree), raster images (png/gif/jpeg) to the
    * dimension parse, audio/video containers (wav/mp4) to the AV branch,
    * anything unrecognized passes through untouched. The format match is
    * EXPLICIT — a new format MediaCodec learns to sniff lands in
    * passthrough until this router is deliberately taught its branch,
    * never silently in the image branch (webp joined the image branch
    * and mp3 the av branch exactly that way, one round after their
    * header parsers landed). All header parsing is real
    * (MediaCodec), as are the deep decodes behind each branch (pixelStats
    * for raster images, pdfText/pdfFeaturePrimitives for pdf_layout,
    * avMeta for av); only PDF raster layout remains a stub seam. */
  def routeAndParse(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.map { r =>
        MediaCodec.parse(r.content) match {
          case Some(info) if info.format == "pdf" =>
            RoutedMeta(r.doc_id, r.media_ref, "pdf_layout", info.nPages, 0, 0)
          case Some(info) if info.format == "png" || info.format == "gif" ||
              info.format == "jpeg" || info.format == "webp" =>
            RoutedMeta(r.doc_id, r.media_ref, "image", 0, info.width, info.height)
          case Some(info) if info.format == "wav" || info.format == "mp4" ||
              info.format == "mp3" =>
            RoutedMeta(r.doc_id, r.media_ref, "av", 0, 0, 0)
          case _ =>
            RoutedMeta(r.doc_id, r.media_ref, "passthrough", 0, 0, 0)
        }
      }
    }.toDF()
  }
}

package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.multimodal.{Audio, AvFast, Multimodal, Pdf}

/** The blob parsers as native Catalyst expressions: `content:
  * binary` in, one struct out, evaluated by the format's JVM decoder.
  * Same pattern as [[NfcNormalize]]: `doGenCode` is one `defineCodeGen`
  * call into a static method, so a parse stays inside whole-stage
  * codegen at about a microsecond per blob, and a NULL blob yields a
  * NULL struct. A plan carries one opaque call per parse, so planning
  * cost does not grow with the parser's logic.
  *
  * Each decoder reads at most a bounded prefix of the blob and answers
  * malformed or truncated bytes with NULL fields, never a throw. The
  * bounds are the Int parameters after `child`; [[register]] exposes the
  * parsers to SQL and `expr()` with optional trailing literal bounds. */
sealed trait MediaParse extends UnaryExpression {
  /** The bounds passed to the decoder after the blob. */
  protected def bounds: Seq[Int]
  /** `Object.method` of the static decoder: (byte[], int...) -> row. */
  protected def decoder: String
  protected def decode(content: Array[Byte]): InternalRow

  override def nullSafeEval(input: Any): Any =
    decode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$decoder(${(c +: bounds).mkString(", ")})")
}

/** `image_dims(content[, maxSegments, headerBytes])` -> struct(format,
  * orientation, width, height); see [[Multimodal.imageDims]]. */
case class ImageDims(child: Expression, maxSegments: Int, headerBytes: Int)
    extends MediaParse {
  require(maxSegments >= 1 && maxSegments <= 256,
    s"maxSegments must be in [1, 256], got $maxSegments")
  require(headerBytes >= 32,
    s"headerBytes must cover at least the PNG IHDR (32), got $headerBytes")
  protected def bounds: Seq[Int] = Seq(maxSegments, headerBytes)
  protected def decoder = "graft.functions.ImageDims.row"
  protected def decode(c: Array[Byte]) = ImageDims.row(c, maxSegments, headerBytes)
  override def dataType: DataType = ImageDims.schema
  override def prettyName: String = "image_dims"
  override protected def withNewChildInternal(e: Expression): ImageDims =
    copy(child = e)
}

object ImageDims {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType), StructField("orientation", LongType),
    StructField("width", LongType), StructField("height", LongType)))
  def row(content: Array[Byte], maxSegments: Int, headerBytes: Int): InternalRow =
    MediaParse.row(Multimodal.parseImageDims(content, maxSegments, headerBytes))
}

/** `image_dhash(content[, maxBytes])` -> struct(dhash); see
  * [[Multimodal.imageDhash]]. */
case class ImageDhash(child: Expression, maxBytes: Int) extends MediaParse {
  require(maxBytes >= 128, s"maxBytes too small: $maxBytes")
  protected def bounds: Seq[Int] = Seq(maxBytes)
  protected def decoder = "graft.functions.ImageDhash.row"
  protected def decode(c: Array[Byte]) = ImageDhash.row(c, maxBytes)
  override def dataType: DataType = ImageDhash.schema
  override def prettyName: String = "image_dhash"
  override protected def withNewChildInternal(e: Expression): ImageDhash =
    copy(child = e)
}

object ImageDhash {
  val schema: StructType = StructType(Seq(StructField("dhash", LongType)))
  def row(content: Array[Byte], maxBytes: Int): InternalRow =
    InternalRow(Multimodal.parseImageDhash(content, maxBytes))
}

/** `av_metadata(content[, maxChunks, headerBytes])` -> struct of the 8
  * A/V fields; see [[Multimodal.avMetadata]]. */
case class AvMetadata(child: Expression, maxChunks: Int, headerBytes: Int)
    extends MediaParse {
  require(maxChunks >= 1 && maxChunks <= 256,
    s"maxChunks must be in [1, 256], got $maxChunks")
  require(headerBytes >= 64,
    s"headerBytes must cover the smallest fmt/mvhd layout (64), got $headerBytes")
  protected def bounds: Seq[Int] = Seq(maxChunks, headerBytes)
  protected def decoder = "graft.functions.AvMetadata.row"
  protected def decode(c: Array[Byte]) = AvMetadata.row(c, maxChunks, headerBytes)
  override def dataType: DataType = AvMetadata.schema
  override def prettyName: String = "av_metadata"
  override protected def withNewChildInternal(e: Expression): AvMetadata =
    copy(child = e)
}

object AvMetadata {
  val schema: StructType = StructType(
    Seq("av_format", "codec").map(StructField(_, StringType)) ++
      Seq("channels", "sample_rate", "bits_per_sample", "width", "height",
        "duration_ms").map(StructField(_, LongType)))
  def row(content: Array[Byte], maxChunks: Int, headerBytes: Int): InternalRow =
    MediaParse.row(AvFast.parse(content, maxChunks, headerBytes))
}

/** `audio_fingerprint(content[, maxBytes, maxChunks])` -> struct(afp);
  * see [[Audio.audioEnergyFingerprint]]. */
case class AudioFingerprint(child: Expression, maxBytes: Int, maxChunks: Int)
    extends MediaParse {
  require(maxBytes >= 128, s"maxBytes too small: $maxBytes")
  require(maxChunks >= 1 && maxChunks <= 256, s"maxChunks: $maxChunks")
  protected def bounds: Seq[Int] = Seq(maxBytes, maxChunks)
  protected def decoder = "graft.functions.AudioFingerprint.row"
  protected def decode(c: Array[Byte]) = AudioFingerprint.row(c, maxBytes, maxChunks)
  override def dataType: DataType = AudioFingerprint.schema
  override def prettyName: String = "audio_fingerprint"
  override protected def withNewChildInternal(e: Expression): AudioFingerprint =
    copy(child = e)
}

object AudioFingerprint {
  val schema: StructType = StructType(Seq(StructField("afp", LongType)))
  def row(content: Array[Byte], maxBytes: Int, maxChunks: Int): InternalRow =
    InternalRow(Audio.parseFingerprint(content, maxBytes, maxChunks))
}

/** `archive_metadata(content[, headBytes, tailBytes])` -> struct(format,
  * detail, n_entries, uncompressed_size, mtime_epoch); see
  * [[Multimodal.archiveMetadata]]. */
case class ArchiveMetadata(child: Expression, headBytes: Int, tailBytes: Int)
    extends MediaParse {
  require(headBytes >= 16, s"headBytes must be >= 16, got $headBytes")
  require(tailBytes >= 26,
    s"tailBytes must cover EOCD + gzip trailer (26), got $tailBytes")
  protected def bounds: Seq[Int] = Seq(headBytes, tailBytes)
  protected def decoder = "graft.functions.ArchiveMetadata.row"
  protected def decode(c: Array[Byte]) = ArchiveMetadata.row(c, headBytes, tailBytes)
  override def dataType: DataType = ArchiveMetadata.schema
  override def prettyName: String = "archive_metadata"
  override protected def withNewChildInternal(e: Expression): ArchiveMetadata =
    copy(child = e)
}

object ArchiveMetadata {
  val schema: StructType = StructType(
    Seq("format", "detail").map(StructField(_, StringType)) ++
      Seq("n_entries", "uncompressed_size", "mtime_epoch")
        .map(StructField(_, LongType)))
  def row(content: Array[Byte], headBytes: Int, tailBytes: Int): InternalRow =
    MediaParse.row(Multimodal.parseArchiveMetadata(content, headBytes, tailBytes))
}

/** `pdf_triage(content[, headBytes, tailBytes])` -> struct(pdf_version,
  * linearized, n_pages_approx, startxref, has_eof, encrypted); see
  * [[Pdf.pdfTriage]]. */
case class PdfTriage(child: Expression, headBytes: Int, tailBytes: Int)
    extends MediaParse {
  require(headBytes >= 16, s"headBytes must be >= 16, got $headBytes")
  require(tailBytes >= 32,
    s"tailBytes must cover startxref + %%EOF (32), got $tailBytes")
  protected def bounds: Seq[Int] = Seq(headBytes, tailBytes)
  protected def decoder = "graft.functions.PdfTriage.row"
  protected def decode(c: Array[Byte]) = PdfTriage.row(c, headBytes, tailBytes)
  override def dataType: DataType = PdfTriage.schema
  override def prettyName: String = "pdf_triage"
  override protected def withNewChildInternal(e: Expression): PdfTriage =
    copy(child = e)
}

object PdfTriage {
  val schema: StructType = StructType(Seq(
    StructField("pdf_version", StringType),
    StructField("linearized", BooleanType),
    StructField("n_pages_approx", LongType),
    StructField("startxref", LongType),
    StructField("has_eof", BooleanType),
    StructField("encrypted", BooleanType)))
  def row(content: Array[Byte], headBytes: Int, tailBytes: Int): InternalRow =
    MediaParse.row(Pdf.parseTriage(content, headBytes, tailBytes))
}

/** `pdf_text(content[, maxStreamBytes, maxTextChars])` -> struct(pdf_text,
  * n_show_ops, pdf_text_truncated, pdf_composite_font); see
  * [[Pdf.extractPdfText]]. */
case class PdfText(child: Expression, maxStreamBytes: Int, maxTextChars: Int)
    extends MediaParse {
  require(maxStreamBytes > 0 && maxTextChars > 0, "caps must be positive")
  protected def bounds: Seq[Int] = Seq(maxStreamBytes, maxTextChars)
  protected def decoder = "graft.functions.PdfText.row"
  protected def decode(c: Array[Byte]) = PdfText.row(c, maxStreamBytes, maxTextChars)
  override def dataType: DataType = PdfText.schema
  override def prettyName: String = "pdf_text"
  override protected def withNewChildInternal(e: Expression): PdfText =
    copy(child = e)
}

object PdfText {
  val schema: StructType = StructType(Seq(
    StructField("pdf_text", StringType),
    StructField("n_show_ops", LongType),
    StructField("pdf_text_truncated", BooleanType),
    StructField("pdf_composite_font", BooleanType)))
  def row(content: Array[Byte], maxStreamBytes: Int, maxTextChars: Int): InternalRow =
    MediaParse.row(Pdf.extractOne(content, maxStreamBytes, maxTextChars))
}

object MediaParse {
  /** A decoder's field values as a Catalyst row (strings as UTF8String). */
  def row(values: Seq[Any]): InternalRow = InternalRow.fromSeq(values.map {
    case s: String => UTF8String.fromString(s)
    case v => v
  })

  /** SQL name, default bounds, constructor. */
  private val parsers: Seq[(String, Seq[Int], (Expression, Seq[Int]) => Expression)] =
    Seq(
      ("image_dims", Seq(16, 256 * 1024), (c, b) => ImageDims(c, b(0), b(1))),
      ("image_dhash", Seq(1 << 20), (c, b) => ImageDhash(c, b(0))),
      ("av_metadata", Seq(16, 64 * 1024), (c, b) => AvMetadata(c, b(0), b(1))),
      ("audio_fingerprint", Seq(1 << 20, 16),
        (c, b) => AudioFingerprint(c, b(0), b(1))),
      ("archive_metadata", Seq(4096, 4096),
        (c, b) => ArchiveMetadata(c, b(0), b(1))),
      ("pdf_triage", Seq(64 * 1024, 4096), (c, b) => PdfTriage(c, b(0), b(1))),
      ("pdf_text", Seq(1 << 20, 1 << 20), (c, b) => PdfText(c, b(0), b(1))))

  /** Make `image_dims`, `image_dhash`, `av_metadata`,
    * `audio_fingerprint`, `archive_metadata`, `pdf_triage` and `pdf_text`
    * resolvable in this session's expr()/SQL: the first argument is the
    * blob, optional trailing integer literals set the parser's bounds.
    * Idempotent ([[registerOnce]]); call before building any plan that
    * uses them. */
  def register(spark: SparkSession): Unit =
    for ((name, defaults, mk) <- parsers)
      registerOnce(spark, name) { es =>
        require(es.nonEmpty && es.length <= 1 + defaults.length,
          s"$name expects the content and at most ${defaults.length} " +
            "integer bounds")
        val bounds = es.tail.map {
          case e if e.foldable && e.dataType == IntegerType =>
            e.eval().asInstanceOf[Int]
          case e => throw new IllegalArgumentException(
            s"$name: bounds must be integer literals, got ${e.sql}")
        }
        mk(Cast(es.head, BinaryType), bounds ++ defaults.drop(bounds.length))
      }
}

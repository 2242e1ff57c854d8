package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.multimodal.{Audio, AvFast, Multimodal}

/** The four media parsers as native Catalyst expressions: `content:
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
        (c, b) => AudioFingerprint(c, b(0), b(1))))

  /** Make `image_dims`, `image_dhash`, `av_metadata` and
    * `audio_fingerprint` resolvable in this session's expr()/SQL: the
    * first argument is the blob, optional trailing integer literals set
    * the parser's bounds. Idempotent (a name already registered is left
    * as it is); call before building any plan that uses them. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, defaults, mk) <- parsers
         if !registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(
        name,
        (es: Seq[Expression]) => {
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
        },
        "built-in")
  }
}

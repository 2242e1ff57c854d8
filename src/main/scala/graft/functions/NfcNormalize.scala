package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Catalyst expression — Spark's
  * SQL surface has no normalizer, and NFC is mandatory before any
  * hash-based text dedup (the composed 'é' U+00E9 and the decomposed
  * 'e'+U+0301 render identically but hash differently, so the same
  * sentence appears twice in a MinHash index).
  *
  * A native `UnaryExpression` with `doGenCode`, not a UDF: it stays
  * inside whole-stage codegen (one virtual call into the static helper
  * per row, no ScalaUDF boxing/encoding round-trip), and NULL handling
  * rides the standard `nullSafeEval`/`defineCodeGen` path. The helper
  * fast-paths `Normalizer.isNormalized` so the common already-NFC row
  * costs one scan and ZERO allocation (the input UTF8String is returned
  * as-is).
  *
  * Registered per-session as `nfc_normalize(str)` via the function
  * registry ([[NfcNormalize.register]], idempotent) — the one public
  * route from SQL/expr text to a custom expression that needs no
  * session-extension wiring. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  // input typing rides the registry builder's Cast-to-string
  // (AbstractDataType/ExpectsInputTypes are private[sql] in Spark 4)
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")
  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalize = copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  /** Static codegen target: allocation-free when already normalized. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  /** Make `nfc_normalize(str)` resolvable in this session's expr()/SQL.
    * Idempotent; call before building any plan that uses it. */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "nfc_normalize") { es =>
      require(es.length == 1, "nfc_normalize expects exactly 1 argument")
      NfcNormalize(Cast(es.head, StringType))
    }
}

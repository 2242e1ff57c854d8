package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rewrite a URL's HOST to its IDNA ASCII (punycode) form — the repair
  * that makes IRI-style crawl URLs parseable at all: `java.net.URI` (and
  * therefore Spark's try_parse_url) REJECTS a non-ASCII authority, so
  * `http://münchen.de/x` yields NULL host/canonical and the document
  * silently drops out of every URL-keyed stage. Encoding just the host
  * (`xn--mnchen-3ya.de`) is also the CORRECT canonical form — DNS only
  * knows the A-label — and what every dedup key should carry.
  *
  * Only the authority is touched: userinfo and a numeric port are
  * preserved around the encoded host; a pure-ASCII URL returns the input
  * UTF8String untouched (fast path, zero allocation); anything the IDNA
  * encoder rejects (empty labels, forbidden code points) returns the
  * input unchanged — the downstream try_parse_url then NULLs it exactly
  * as before, so this expression can only ever WIDEN the set of
  * parseable URLs, never shrink it. Non-ASCII in the PATH/QUERY is out
  * of scope (that is percent-encoding repair, a different transform).
  *
  * Native codegen `UnaryExpression` (same pattern as [[NfcNormalize]]);
  * registered per-session as `idn_encode_host(url)`. */
case class IdnEncodeHost(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    IdnEncodeHost.encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IdnEncodeHost.encode($c)")
  override protected def withNewChildInternal(
      newChild: Expression): IdnEncodeHost = copy(child = newChild)
  override def prettyName: String = "idn_encode_host"
}

object IdnEncodeHost {
  /** Static codegen target: allocation-free for ASCII input. */
  def encode(u: UTF8String): UTF8String = {
    val s = u.toString
    var i = 0
    var ascii = true
    while (i < s.length && ascii) {
      if (s.charAt(i) > 127) ascii = false
      i += 1
    }
    if (ascii) return u
    val schemeEnd = s.indexOf("://")
    if (schemeEnd < 0) return u
    val authStart = schemeEnd + 3
    var authEnd = authStart
    while (authEnd < s.length && s.charAt(authEnd) != '/' &&
      s.charAt(authEnd) != '?' && s.charAt(authEnd) != '#') authEnd += 1
    val auth = s.substring(authStart, authEnd)
    var hostAscii = true
    var j = 0
    while (j < auth.length && hostAscii) {
      if (auth.charAt(j) > 127) hostAscii = false
      j += 1
    }
    if (hostAscii) return u // the non-ASCII is elsewhere (path/query)
    val at = auth.lastIndexOf('@')
    val userinfo = if (at >= 0) auth.substring(0, at + 1) else ""
    val hostPort = auth.substring(at + 1)
    val colon = hostPort.lastIndexOf(':')
    val portIsNumeric = colon >= 0 && colon < hostPort.length - 1 &&
      hostPort.substring(colon + 1).forall(c => c >= '0' && c <= '9')
    val host = if (portIsNumeric) hostPort.substring(0, colon) else hostPort
    val port = if (portIsNumeric) hostPort.substring(colon) else ""
    try {
      val enc = java.net.IDN.toASCII(host, java.net.IDN.ALLOW_UNASSIGNED)
      UTF8String.fromString(
        s.substring(0, authStart) + userinfo + enc + port +
          s.substring(authEnd))
    } catch {
      case _: Exception => u // unencodable: unchanged, parser NULLs it
    }
  }

  /** Make `idn_encode_host(url)` resolvable in this session. Idempotent. */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "idn_encode_host") { es =>
      require(es.length == 1, "idn_encode_host expects exactly 1 argument")
      IdnEncodeHost(Cast(es.head, StringType))
    }
}

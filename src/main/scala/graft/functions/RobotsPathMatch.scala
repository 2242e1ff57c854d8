package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RFC 9309 §2.2.3 robots.txt rule-path matching: does `pattern` match
  * URL `path`? A rule path is a PREFIX pattern where `*` matches any
  * character sequence (including empty) and a single TRAILING `$`
  * anchors the match to the end of the path; `$` anywhere else is a
  * literal. `Disallow: /&#42;.pdf$` and `Allow: /public*` — the shapes
  * ubiquitous in real robots files — hinge on exactly these semantics;
  * a literal-prefix matcher mis-decides both.
  *
  * Native codegen `BinaryExpression` rather than a regex translation:
  * the classic two-pointer glob walk needs no per-row Pattern compile
  * (Spark's RLIKE with a non-foldable pattern recompiles per row) and
  * cannot backtrack pathologically — single-star-memory matching is
  * O(path × pattern) worst case on short robots rules, effectively
  * linear. Registered per-session as `robots_path_match(path, pattern)`
  * (same pattern as [[NfcNormalize]] / [[IdnEncodeHost]]). */
case class RobotsPathMatch(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(path: Any, pattern: Any): Any =
    RobotsPathMatch.matches(path.asInstanceOf[UTF8String],
      pattern.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, q) =>
      s"graft.functions.RobotsPathMatch.matches($p, $q)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RobotsPathMatch =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "robots_path_match"
}

object RobotsPathMatch {

  /** Static codegen target. Iterative wildcard match with single-star
    * backtracking (the last `*` wins — standard glob proof: any match
    * using an earlier star can be replayed through the latest one).
    * Unanchored patterns succeed the moment the pattern is exhausted
    * (prefix semantics); anchored patterns must also exhaust the path. */
  def matches(pathU: UTF8String, patternU: UTF8String): Boolean = {
    val path = pathU.toString
    val raw = patternU.toString
    val anchored = raw.nonEmpty && raw.charAt(raw.length - 1) == '$'
    val pat = if (anchored) raw.substring(0, raw.length - 1) else raw
    val n = path.length
    val m = pat.length
    if (m == 0) return !anchored || n == 0 // '' matches all; '$' only ''
    var i = 0; var j = 0
    var star = -1; var mark = 0
    while (i < n) {
      if (j < m && pat.charAt(j) == path.charAt(i) &&
        pat.charAt(j) != '*') { i += 1; j += 1 }
      else if (j < m && pat.charAt(j) == '*') { star = j; j += 1; mark = i }
      else if (star >= 0) { j = star + 1; mark += 1; i = mark }
      else return false
      if (j == m) {
        if (!anchored || i == n) return true
        // anchored with path left over: re-expand the last star if any
        if (star >= 0) { j = star + 1; mark += 1; i = mark }
        else return false
      }
    }
    // path exhausted: only trailing stars may remain (they match empty)
    while (j < m && pat.charAt(j) == '*') j += 1
    j == m
  }

  /** Make `robots_path_match(path, pattern)` resolvable in this
    * session. Idempotent. */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "robots_path_match") { es =>
      require(es.length == 2, "robots_path_match expects exactly 2 arguments")
      RobotsPathMatch(Cast(es.head, StringType), Cast(es(1), StringType))
    }
}

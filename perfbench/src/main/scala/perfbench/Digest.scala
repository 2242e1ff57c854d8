package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** An order-independent digest of a query result: the SHA-256 of the
  * column names and the sorted canonical text of every row. Values keep
  * their exact text (doubles as Java prints them, decimals at their scale),
  * so a digest changes whenever a value, a row count or a column does. */
object Digest {

  def canonical(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case r: Row => r.toSeq.map(canonical).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  def ofRows(columns: Seq[String], rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.mkString("|").getBytes("UTF-8"))
    rows.map(r => r.toSeq.map(canonical).mkString("\u0001")).sorted.foreach { line =>
      md.update('\n'.toByte)
      md.update(line.getBytes("UTF-8"))
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  /** Collects `df` and digests it; returns (digest, row count). */
  def of(df: DataFrame): (String, Long) = {
    val rows = df.collect().toSeq
    (ofRows(df.columns.toSeq, rows), rows.size.toLong)
  }
}

package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded-memory group-wise top-k: a typed `Aggregator` keeping only the k
  * largest values per group in a min-heap buffer.
  *
  * This is the §4.2 "custom typed aggregation" path — used where built-ins
  * genuinely cost more: `sort_array(collect_list(x))[0:k]` materializes the
  * WHOLE group per key (O(group) memory, breaks on skewed 100 TB keys),
  * window rank shuffles + sorts every row. The heap buffer is O(k) per
  * group, merges associatively map-side (partial aggregation), and never
  * holds a full group anywhere.
  */
class TopKAgg(k: Int) extends Aggregator[Double, Array[Double], Array[Double]] {
  require(k > 0)

  // buffer: min-heap as a sorted ascending array of size <= k (k is small;
  // insertion into a sorted array beats heap constant factors here and
  // serializes compactly)
  def zero: Array[Double] = Array.empty

  def reduce(buf: Array[Double], x: Double): Array[Double] =
    if (buf.length < k) (buf :+ x).sorted
    else if (x > buf(0)) { buf(0) = x; buf.sorted }
    else buf

  def merge(a: Array[Double], b: Array[Double]): Array[Double] =
    (a ++ b).sorted.takeRight(k)

  def finish(buf: Array[Double]): Array[Double] = buf.sorted.reverse

  def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  def outputEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}

object TopKAgg {
  /** Column form: `top_k(col, 5)` usable in any agg. */
  def topK(c: Column, k: Int): Column = udaf(new TopKAgg(k)).apply(c)
}

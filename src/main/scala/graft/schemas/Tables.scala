package graft.schemas

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.sources.Sources

/** Typed views of the testdata tables: `Dataset[T]` with case-class
  * Encoders where compile-time field checks help (pipeline code touching
  * many columns), while the query suite stays `DataFrame` for dynamic
  * schemas. Both share one plan representation — `.as[T]` costs nothing at
  * runtime until a typed lambda actually runs. The nine fixed-type case
  * classes are also the declared read schemas (`Schemas.testdata`).
  */
object Tables {

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
                            s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
                        p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
                         o_orderstatus: String, o_totalprice: Double,
                         o_orderdate: LocalDateTime, o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double,
                            l_extendedprice: Double, l_discount: Double,
                            l_tax: Double, l_returnflag: String,
                            l_linestatus: String, l_shipdate: LocalDateTime)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  def region(s: SparkSession, dir: String): Dataset[Region] =
    { import s.implicits._; Sources.table(s, dir, "region").as[Region] }
  def nation(s: SparkSession, dir: String): Dataset[Nation] =
    { import s.implicits._; Sources.table(s, dir, "nation").as[Nation] }
  def customer(s: SparkSession, dir: String): Dataset[Customer] =
    { import s.implicits._; Sources.table(s, dir, "customer").as[Customer] }
  def supplier(s: SparkSession, dir: String): Dataset[Supplier] =
    { import s.implicits._; Sources.table(s, dir, "supplier").as[Supplier] }
  def part(s: SparkSession, dir: String): Dataset[Part] =
    { import s.implicits._; Sources.table(s, dir, "part").as[Part] }
  def orders(s: SparkSession, dir: String): Dataset[Order] =
    { import s.implicits._; Sources.table(s, dir, "orders").as[Order] }
  def lineitem(s: SparkSession, dir: String): Dataset[Lineitem] =
    { import s.implicits._; Sources.table(s, dir, "lineitem").as[Lineitem] }
  def events(s: SparkSession, dir: String): Dataset[Event] =
    { import s.implicits._; Sources.events(s, dir).as[Event] }
  def documents(s: SparkSession, dir: String): Dataset[Document] =
    { import s.implicits._; Sources.table(s, dir, "documents").as[Document] }
  def embeddings(s: SparkSession, dir: String): Dataset[Embedding] =
    { import s.implicits._; Sources.table(s, dir, "embeddings").as[Embedding] }
}

package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

final case class OrderRow(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
    o_orderpriority: String) {
  /** Logical payload size: 8 bytes per number, one byte per character. */
  def bytes: Long = 32L + o_orderstatus.length + o_orderpriority.length
}

object OrderRow {
  val columns: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  def of(r: Row): OrderRow = OrderRow(r.getLong(0), r.getLong(1),
    r.getString(2), r.getDouble(3), r.getTimestamp(4), r.getString(5))
}

final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String,
    l_linestatus: String, l_shipdate: Timestamp)

final case class DocRow(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

/** Seeded inputs shaped like the TPC-H-style `orders`/`lineitem` and the
  * `documents` corpus Graft's scenarios run on. Table-sized inputs are
  * generated inside Spark from hashes of (seed, row id, column); op
  * payloads are generated on the driver from a SplittableRandom.
  */
object Gen {
  val Day0 = 694224000L // 1992-01-01 UTC
  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Flags = Seq("A", "N", "R")
  val LineStatuses = Seq("F", "O")

  private def h(seed: Long, k: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(m))
  private def pick(seed: Long, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (h(seed, k, xs.size) + 1).cast("int"))

  /** `n` orders with even keys 2, 4, ..., 2n in `files` partitions. */
  def orders(spark: SparkSession, seed: Long, n: Long, files: Int): DataFrame =
    spark.range(0, n, 1, files).select(
      (col("id") * 2 + 2).as("o_orderkey"),
      (h(seed, 1, 15000) + 1).as("o_custkey"),
      pick(seed, 2, Statuses).as("o_orderstatus"),
      (h(seed, 3, 50000000) / 100.0 + 900.0).as("o_totalprice"),
      timestamp_seconds(lit(Day0) + h(seed, 4, 2400) * 86400).as("o_orderdate"),
      pick(seed, 5, Priorities).as("o_orderpriority"))

  /** `n` line items over the keys of `orders(nOrders)`. */
  def lineitem(spark: SparkSession, seed: Long, n: Long, nOrders: Long,
      files: Int): DataFrame =
    spark.range(0, n, 1, files).select(
      (h(seed, 11, nOrders) * 2 + 2).as("l_orderkey"),
      (h(seed, 12, 20000) + 1).as("l_partkey"),
      (h(seed, 13, 1000) + 1).as("l_suppkey"),
      (h(seed, 14, 7) + 1).cast("int").as("l_linenumber"),
      (h(seed, 15, 50) + 1).cast("double").as("l_quantity"),
      (h(seed, 16, 10000000) / 100.0 + 900.0).as("l_extendedprice"),
      (h(seed, 17, 11) / 100.0).as("l_discount"),
      (h(seed, 18, 9) / 100.0).as("l_tax"),
      pick(seed, 19, Flags).as("l_returnflag"),
      pick(seed, 20, LineStatuses).as("l_linestatus"),
      timestamp_seconds(lit(Day0) + h(seed, 21, 2500) * 86400).as("l_shipdate"))

  def day(rng: SplittableRandom, span: Int): Timestamp =
    new Timestamp((Day0 + rng.nextInt(span) * 86400L) * 1000L)

  def order(rng: SplittableRandom, key: Long): OrderRow =
    OrderRow(key, 1L + rng.nextInt(15000), Statuses(rng.nextInt(3)),
      rng.nextInt(50000000) / 100.0 + 900.0, day(rng, 2400),
      Priorities(rng.nextInt(5)))

  def line(rng: SplittableRandom, nOrders: Long): LineRow =
    LineRow(2L * rng.nextLong(nOrders) + 2, 1L + rng.nextInt(20000),
      1L + rng.nextInt(1000), 1 + rng.nextInt(7), 1.0 + rng.nextInt(50),
      rng.nextInt(10000000) / 100.0 + 900.0, rng.nextInt(11) / 100.0,
      rng.nextInt(9) / 100.0, Flags(rng.nextInt(3)), LineStatuses(rng.nextInt(2)),
      day(rng, 2500))

  val Words: IndexedSeq[String] = ("batch part spark line column order small sort " +
    "fast value scan a hash slow group agg filter query big key window row " +
    "table stream merge data the customer join vector plan index file log " +
    "shard token delta commit cache page node edge graph").split(" ").toIndexedSeq
  val Langs = Seq("en", "en", "zh", "es", "fr", "de")

  /** 90 words: every seed's corpus has the same size, so Spark's
    * size-based plan choices (broadcast or shuffle joins) do not change
    * with the seed.
    */
  def text(rng: SplittableRandom): String =
    Seq.fill(90)(Words(rng.nextInt(Words.size))).mkString(" ")

  def doc(rng: SplittableRandom, id: Long, text: String): DocRow =
    DocRow(id, text, Langs(rng.nextInt(Langs.size)), s"src${rng.nextInt(5)}",
      text.length.toLong)

  /** A word-edited near-duplicate: one extra word at the end, so all but
    * one of the base's word 3-shingles are shared (Jaccard ≈ 0.99).
    */
  def nearDup(rng: SplittableRandom, base: String): String =
    base + " " + Words(rng.nextInt(Words.size))
}

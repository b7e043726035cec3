package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs: TPC-H-shaped `customer`, `orders` and `lineitem` tables,
  * written as parquet in the fixture layout that `graft.sources.Tables`
  * reads.
  *
  * Every column value is a hash of the row's ordinal, so the rows are the
  * same for every seed. The seed only shifts the customer and order keys
  * by a constant: the changelog's event count and order are unchanged
  * (its ranks are key-ordered and a shift keeps the order), while every
  * hash partitioner and hash join sees a different key layout.
  */
object Stage {

  final case class Sizes(customers: Long, orders: Long, lineitems: Long) {
    def rows: Long = customers + orders + lineitems
  }

  /** Sizes at TPC-H scale factor `sf`, with exactly four lines per order. */
  def sizes(sf: Double): Sizes = {
    val nC = math.max(20L, math.round(150000 * sf))
    Sizes(nC, 10 * nC, 40 * nC)
  }

  /** The seed's key shifts for (customer key, order key), in [1, 2^30). */
  def shifts(seed: Long): (Long, Long) = {
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val a = mix(seed); val b = mix(a)
    (1L + (a & 0x3FFFFFFFL) % 0x3FFFFFFEL, 1L + (b & 0x3FFFFFFFL) % 0x3FFFFFFEL)
  }

  private def h(salt: Int, c: Column, n: Long): Column =
    pmod(xxhash64(c, lit(salt)), lit(n))

  private def pick(salt: Int, c: Column, values: String*): Column =
    element_at(array(values.map(lit): _*), (h(salt, c, values.size.toLong) + 1).cast("int"))

  private def money(salt: Int, c: Column, lo: Long, hi: Long): Column =
    ((h(salt, c, hi - lo) + lo) / 100.0).cast("double")

  private val epoch = to_date(lit("1992-01-01"))

  /** An order's date, from its ordinal (shared by orders and lineitem). */
  private def orderDate(ord: Column): Column =
    date_add(epoch, h(6, ord, 2406L).cast("int"))

  /** Write the three tables for `sf` and `seed` under `dir`. */
  def write(spark: SparkSession, sf: Double, seed: Long, dir: String): Sizes = {
    val n = sizes(sf)
    val (cShift, oShift) = shifts(seed)
    val id = col("id")
    val customer = spark.range(1L, n.customers + 1).select(
      (id + cShift).as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      h(1, id, 25L).cast("int").as("c_nationkey"),
      money(2, id, -99999L, 999999L).as("c_acctbal"),
      pick(3, id, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").as("c_mktsegment"))
    val orders = spark.range(1L, n.orders + 1).select(
      (id + oShift).as("o_orderkey"),
      (h(4, id, n.customers) + 1 + cShift).as("o_custkey"),
      pick(5, id, "F", "O", "P").as("o_orderstatus"),
      money(7, id, 100000L, 50000000L).as("o_totalprice"),
      orderDate(id).as("o_orderdate"),
      pick(8, id, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").as("o_orderpriority"))
    val ord = (id.divide(4).cast("long") + 1)
    val qty = (h(9, id, 50L) + 1).cast("double")
    val lineitem = spark.range(0L, n.lineitems).select(
      (ord + oShift).as("l_orderkey"),
      (h(10, id, 200000L) + 1).as("l_partkey"),
      (h(11, id, 10000L) + 1).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * money(12, id, 90000L, 190000L), 2).as("l_extendedprice"),
      (h(13, id, 11L) / 100.0).as("l_discount"),
      (h(14, id, 9L) / 100.0).as("l_tax"),
      pick(15, id, "A", "N", "R").as("l_returnflag"),
      pick(16, id, "F", "O").as("l_linestatus"),
      date_add(orderDate(ord), (h(17, id, 121L) + 1).cast("int")).as("l_shipdate"))
    Seq("customer" -> customer, "orders" -> orders, "lineitem" -> lineitem)
      .foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
    n
  }
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped inputs: `orders` and `lineitem`, money in integer
  * cents. The same seed gives the same rows. Order keys are multiples of
  * [[KeyStep]], so the gaps between them hold new keys for inserts that
  * land anywhere in the key space; each order has 1 to 7 line items.
  * Keys are the same for every seed; the seed drives the values.
  * Both tables are written once to parquet, which is the "source" the
  * correctness checks compare the engine against. */
object Data {
  val KeyStep = 8L
  val Statuses = Seq("F", "O", "P")

  final case class Source(dir: String, orders: Long, lineitems: Long) {
    def ordersPath = s"$dir/orders.parquet"
    def lineitemPath = s"$dir/lineitem.parquet"
  }

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)
  private def pick(c: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pmod(c, lit(values.length)) + 1).cast("int"))

  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    spark.range(0, n, 1, 2).select(
      (id * KeyStep).as("o_orderkey"),
      (pmod(h(seed, 1, id), lit(n / 10 + 1)) + 1).as("o_custkey"),
      pick(h(seed, 2, id), Statuses).as("o_status"),
      (pmod(h(seed, 3, id), lit(40000000L)) + 100000L).as("o_price_c"),
      (pmod(h(seed, 4, id), lit(2400L)) + 8000L).cast("int").as("o_orderdate"))
  }

  def lineitem(spark: SparkSession, seed: Long, nOrders: Long): DataFrame = {
    val id = col("id"); val ln = col("l_linenumber")
    spark.range(0, nOrders, 1, 2)
      // the line count per order, and so the whole key set, does not
      // depend on the seed: chunk boundaries are a function of the keys,
      // and every seed then gets the same chunk layout
      .select(id, explode(sequence(lit(1),
        (pmod(h(0L, 5, id), lit(7L)) + 1).cast("int"))).as("l_linenumber"))
      .select(
        (id * KeyStep).as("l_orderkey"), ln,
        (pmod(h(seed, 6, id, ln), lit(20000L)) + 1).as("l_partkey"),
        (pmod(h(seed, 7, id, ln), lit(1000L)) + 1).as("l_suppkey"),
        (pmod(h(seed, 8, id, ln), lit(50L)) + 1).as("l_quantity"),
        (pmod(h(seed, 9, id, ln), lit(10000000L)) + 1000L).as("l_price_c"),
        pmod(h(seed, 10, id, ln), lit(11L)).cast("int").as("l_discount"),
        pick(h(seed, 11, id, ln), Seq("A", "N", "R")).as("l_returnflag"),
        pick(h(seed, 12, id, ln), Seq("F", "O")).as("l_linestatus"),
        (pmod(h(seed, 13, id, ln), lit(2520L)) + 8000L).cast("int").as("l_shipdate"))
  }

  def write(spark: SparkSession, seed: Long, nOrders: Long, dir: String): Source = {
    orders(spark, seed, nOrders).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lineitem(spark, seed, nOrders).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Source(dir, nOrders, spark.read.parquet(s"$dir/lineitem.parquet").count())
  }
}

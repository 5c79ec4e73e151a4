package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Seeded TPC-H-shaped tables, written as parquet (the layout
 * `RdbToRdf.mapping` reads). Row counts follow TPC-H ratios at scale
 * factor `sf`: 150 000·sf customers, 10 000·sf suppliers, 20 000·sf parts,
 * ten orders per customer, one to seven line items per order. Every value
 * is a hash of (seed, column, row id), so one seed always gives the same
 * tables; no column is ever NULL.
 */
object Tpch {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val Regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations: Seq[(String, Int)] = Seq("ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1,
    "CANADA" -> 1, "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2,
    "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses: Seq[String] = Seq("F", "O", "P")

  final case class Sizes(customers: Long, suppliers: Long, parts: Long, orders: Long)
  def sizes(sf: Double): Sizes = {
    val c = math.max(50L, math.round(150000 * sf))
    Sizes(c, math.max(5L, math.round(10000 * sf)), math.max(20L, math.round(20000 * sf)), 10 * c)
  }

  /** Uniform long in [0, m) from (seed, salt, id). */
  private def h(seed: Long, salt: String, id: Column, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(m))
  /** Uniform double in [0, 1). */
  private def u(seed: Long, salt: String, id: Column): Column =
    h(seed, salt, id, 1000000L).cast(DoubleType) / 1e6
  private def pick(seed: Long, salt: String, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (h(seed, salt, id, xs.size) + 1).cast(IntegerType))
  private def money(x: Column): Column = round(x, 2)
  private def named(prefix: String, id: Column): Column = concat(lit(prefix), lpad(id.cast(StringType), 9, "0"))

  def generate(spark: SparkSession, seed: Long, sf: Double, dir: String,
               only: Seq[String] = Tables): Map[String, DataFrame] = {
    import spark.implicits._
    val n = sizes(sf)
    val parts = spark.sparkContext.defaultParallelism
    def range(m: Long) = spark.range(1, m + 1, 1, parts).select(col("id"))
    val region = Regions.zipWithIndex.map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name")
    val nation = Nations.zipWithIndex.map { case ((nm, r), i) => (i, nm, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val id = col("id")
    val customer = range(n.customers).select(id.as("c_custkey"),
      named("Customer#", id).as("c_name"),
      h(seed, "c_nation", id, 25).cast(IntegerType).as("c_nationkey"),
      money(u(seed, "c_bal", id) * 10999.98 - 999.99).as("c_acctbal"),
      pick(seed, "c_seg", id, Segments).as("c_mktsegment"))
    val supplier = range(n.suppliers).select(id.as("s_suppkey"),
      named("Supplier#", id).as("s_name"),
      h(seed, "s_nation", id, 25).cast(IntegerType).as("s_nationkey"),
      money(u(seed, "s_bal", id) * 10999.98 - 999.99).as("s_acctbal"))
    val part = range(n.parts).select(id.as("p_partkey"),
      concat_ws(" ", pick(seed, "p_n1", id, Seq("almond", "azure", "blush", "coral", "linen")),
        pick(seed, "p_n2", id, Seq("metallic", "polished", "brushed", "anodized"))).as("p_name"),
      money(lit(900.0) + (id % 1000) / 10.0 + u(seed, "p_price", id)).as("p_retailprice"))
    val orders = range(n.orders).select(id.as("o_orderkey"),
      (h(seed, "o_cust", id, n.customers) + 1).as("o_custkey"),
      pick(seed, "o_status", id, Statuses).as("o_orderstatus"),
      money(u(seed, "o_total", id) * 399000.0 + 1000.0).as("o_totalprice"),
      date_add(lit("1992-01-01").cast(DateType), h(seed, "o_date", id, 2400).cast(IntegerType))
        .cast(TimestampNTZType).as("o_orderdate"))
    val lineitem = orders
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (h(seed, "l_n", col("o_orderkey"), 7) + 1).cast(IntegerType))).as("ln"))
      .withColumn("lid", col("o_orderkey") * 8 + col("ln"))
      .select(col("o_orderkey").as("l_orderkey"),
        (h(seed, "l_part", col("lid"), n.parts) + 1).as("l_partkey"),
        (h(seed, "l_supp", col("lid"), n.suppliers) + 1).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (h(seed, "l_qty", col("lid"), 50) + 1).cast(DoubleType).as("l_quantity"),
        money(u(seed, "l_price", col("lid")) * 90000.0 + 900.0).as("l_extendedprice"),
        (h(seed, "l_disc", col("lid"), 11).cast(DoubleType) / 100.0).as("l_discount"),
        pick(seed, "l_flag", col("lid"), Seq("A", "N", "R")).as("l_returnflag"),
        date_add(col("o_orderdate").cast(DateType), h(seed, "l_ship", col("lid"), 120).cast(IntegerType))
          .cast(TimestampNTZType).as("l_shipdate"))
    val dfs = Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders, "lineitem" -> lineitem)
    dfs.filter(t => only.contains(t._1)).map { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
      t -> spark.read.parquet(s"$dir/$t.parquet")
    }
  }

  /** Quads the direct mapping produces: one per cell (no NULLs) plus one
    * per foreign key. */
  def quadCount(tables: Map[String, DataFrame]): Long = tables.map { case (t, df) =>
    df.count() * (df.columns.length + graft.sources.RdbToRdf.fksOf(t).size)
  }.sum

  /** Registers the raw tables as temp views for the SQL oracles. */
  def views(tables: Map[String, DataFrame]): Unit =
    tables.foreach { case (t, df) => df.createOrReplaceTempView(t) }
}

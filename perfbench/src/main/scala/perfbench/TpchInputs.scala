package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped tables with the schemas and value domains of the
  * engine's parquet testdata (region, nation, customer, supplier, part,
  * orders, lineitem, events; tiny `documents` and `embeddings`, which the
  * registry opens but these queries never read), so the registered queries
  * run on them unchanged.
  * Every column derives from xxhash64(row id, column salt, seed): the same
  * seed gives the same bytes at any parallelism. */
object TpchInputs {
  final case class Scale(customers: Long, parts: Long, orders: Long,
      events: Long, users: Long) {
    def lineitems: Long = orders * 4
  }

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val adjectives = Seq("red", "new", "hot", "small", "large", "old",
    "blue", "green")
  private val nouns = Seq("bolt", "anvil", "ring", "rod", "plate", "gear",
    "nut", "screw")
  private val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
    "STANDARD")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def pick(h: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(h, lit(xs.size)) + 1).cast("int"))

  /** Writes every table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, s: Scale): Unit = {
    def h(salt: Int): Column = xxhash64(col("id"), lit(salt), lit(seed))
    def upTo(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def day(offset: Column): Column =
      date_add(to_date(lit("1995-01-01")), offset.cast("int"))
        .cast("timestamp")

    save("region", spark.range(5).select(col("id").cast("int")
      .as("r_regionkey"), pick(col("id"), regions).as("r_name")).coalesce(1))
    save("nation", spark.range(25).select(col("id").cast("int")
      .as("n_nationkey"), concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")).coalesce(1))
    save("customer", spark.range(s.customers).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      upTo(1, 25).cast("int").as("c_nationkey"),
      ((upTo(2, 1099966) - 99985) / 100.0).as("c_acctbal"),
      pick(h(3), segments).as("c_mktsegment")).coalesce(1))
    save("supplier", spark.range(1000).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      upTo(1, 25).cast("int").as("s_nationkey"),
      ((upTo(2, 1099966) - 99985) / 100.0).as("s_acctbal")).coalesce(1))
    save("part", spark.range(s.parts).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(h(1), adjectives), pick(h(2), nouns)).as("p_name"),
      concat(lit("Brand#"), upTo(3, 25) + 1).as("p_brand"),
      pick(h(4), types).as("p_type"),
      (upTo(5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + upTo(6, 1000) / 10.0).as("p_retailprice")).coalesce(1))
    save("orders", spark.range(s.orders).select(
      col("id").as("o_orderkey"),
      upTo(1, s.customers).as("o_custkey"),
      pick(h(2), Seq("F", "O", "P")).as("o_orderstatus"),
      ((upTo(3, 49899127) + 100191) / 100.0).as("o_totalprice"),
      day(upTo(4, 2404)).as("o_orderdate"),
      pick(h(5), priorities).as("o_orderpriority")).coalesce(1))
    save("lineitem", spark.range(s.lineitems).select(
      upTo(1, s.orders).as("l_orderkey"),
      upTo(2, s.parts).as("l_partkey"),
      upTo(3, 1000).as("l_suppkey"),
      (upTo(4, 7) + 1).cast("int").as("l_linenumber"),
      (upTo(5, 50) + 1).cast("double").as("l_quantity"),
      ((upTo(6, 10409923) + 90068) / 100.0).as("l_extendedprice"),
      (upTo(7, 11) / 100.0).as("l_discount"),
      (upTo(8, 9) / 100.0).as("l_tax"),
      pick(h(9), Seq("A", "N", "R")).as("l_returnflag"),
      pick(h(10), Seq("F", "O")).as("l_linestatus"),
      day(upTo(11, 2498) + 1).as("l_shipdate")).coalesce(2))
    save("events", spark.range(s.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        upTo(1, 30L * 86400 * 1000000)).as("ts"),
      upTo(2, s.users).as("user_id"),
      pick(h(3), eventTypes).as("event_type"),
      when(upTo(4, 10) === 0, lit(0.0))
        .otherwise(upTo(5, 56021) / 100.0).as("value"),
      format_string("{\"k\": %d}", upTo(6, 100)).as("props")).coalesce(1))
    save("documents", spark.range(100).select(col("id").as("doc_id"),
      format_string("document %d", col("id")).as("text"),
      lit("en").as("lang"), lit("web").as("source"),
      lit(12L).as("n_chars")).coalesce(1))
    save("embeddings", spark.range(100).select(col("id").as("vec_id"),
      array(Seq.tabulate(8)(i => (upTo(i, 1000) / 1000.0).cast("float")): _*)
        .as("embedding"),
      upTo(9, 10).cast("int").as("label")).coalesce(1))
  }
}

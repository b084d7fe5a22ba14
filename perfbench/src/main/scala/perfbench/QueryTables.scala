package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator for the reporting tables the headline leaves read:
  * the TPC-H-like star (region, nation, customer, supplier, part, orders,
  * lineitem) plus `events`, `documents` and `embeddings`, with the column
  * types of `graft.queries.Tables.schemas`. Row counts scale like the
  * fixture tables (`lineitem` = 6M × sf). Every value is a pure function of
  * (seed, table, row id), so the same seed writes the same files. */
object QueryTables {

  private val Vocab = Seq("row", "the", "query", "stream", "fast", "spark", "line",
    "small", "customer", "group", "value", "hash", "batch", "sort", "data", "big",
    "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a", "merge",
    "window", "order", "column", "join", "vector")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val custs = n(150000)
    val supps = n(10000)
    val parts = n(200000)
    val orders = n(1500000)
    val users = n(15000)

    def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
    def u(k: Int): Column = shiftrightunsigned(h(k), 11).cast("double") / lit(9007199254740992.0)
    def pick(k: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(k), lit(xs.size.toLong)) + 1).cast("int"))
    def money(k: Int, lo: Double, hi: Double): Column = round(lit(lo) + u(k) * (hi - lo), 2)
    def day(k: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), (u(k) * days).cast("int")).cast(TimestampNTZType)
    def save(name: String, rows: Long, cols: Column*): Unit =
      spark.range(0, rows, 1, 1).select(cols: _*)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    spark.range(0, 5, 1, 1).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    save("nation", 25, col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    save("customer", custs, col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h(1), lit(25L)).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")).as("c_mktsegment"))
    save("supplier", supps, col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(h(1), lit(25L)).cast("int").as("s_nationkey"),
      money(2, -999.99, 9999.99).as("s_acctbal"))
    save("part", parts, col("id").as("p_partkey"),
      concat_ws(" ", pick(1, Seq("large", "hot", "blue", "red", "old", "cold", "new", "small")),
        pick(2, Seq("ring", "bolt", "anvil", "plate", "widget", "gear", "nut", "spring"))).as("p_name"),
      concat(lit("Brand#"), (pmod(h(3), lit(25L)) + 1).cast("string")).as("p_brand"),
      pick(4, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (pmod(h(5), lit(50L)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice"))
    save("orders", orders, col("id").as("o_orderkey"),
      pmod(h(1), lit(custs)).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(3, 1000.0, 500000.0).as("o_totalprice"),
      day(4, "1995-01-01", 2404).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    save("lineitem", n(6000000), pmod(h(1), lit(orders)).as("l_orderkey"),
      pmod(h(2), lit(parts)).as("l_partkey"),
      pmod(h(3), lit(supps)).as("l_suppkey"),
      (pmod(h(4), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(5), lit(50L)) + 1).cast("double").as("l_quantity"),
      money(6, 900.0, 105000.0).as("l_extendedprice"),
      (pmod(h(7), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(8), lit(9L)) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("O", "F")).as("l_linestatus"),
      day(11, "1995-01-02", 2498).as("l_shipdate"))
    save("events", n(1000000), col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + (u(1) * 2592000e6).cast("long"))
        .cast(TimestampNTZType).as("ts"),
      pmod(h(2), lit(users)).as("user_id"),
      pick(3, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      money(4, 0.01, 490.02).as("value"),
      format_string("{\"k\": %d}", pmod(h(5), lit(100L))).as("props"))
    // a tenth of the documents repeat an earlier text exactly and another
    // tenth repeat one with the last word changed, so the dedup and
    // similarity leaves find pairs
    val textSeed = when(col("id") % 10 === 9 && col("id") >= 7, col("id") - 7)
      .when(col("id") % 10 === 8 && col("id") >= 5, col("id") - 5)
      .otherwise(col("id"))
    val words = array(Vocab.map(lit): _*)
    val len = (pmod(xxhash64(textSeed, lit(seed), lit(1)), lit(90L)) + 10).cast("int")
    val body = transform(sequence(lit(1), len), i =>
      element_at(words, (pmod(xxhash64(textSeed, lit(seed), i), lit(Vocab.size.toLong)) + 1).cast("int")))
    val text = when(col("id") % 10 === 8 && col("id") >= 5,
      concat_ws(" ", slice(body, lit(1), len - 1), lit("vector")))
      .otherwise(concat_ws(" ", body))
    save("documents", n(50000), col("id").as("doc_id"), text.as("text"),
      when(u(2) < 0.44, lit("en")).otherwise(pick(3, Seq("es", "zh", "de", "fr"))).as("lang"),
      concat(lit("src"), pmod(h(4), lit(20L)).cast("string")).as("source"),
      length(text).cast("long").as("n_chars"))
    val dims = transform(sequence(lit(1), lit(64)), i =>
      ((shiftrightunsigned(xxhash64(col("id"), lit(seed), i), 11).cast("double") /
        lit(9007199254740992.0) - 0.5) * 0.5).cast("float"))
    save("embeddings", n(50000), col("id").as("vec_id"), dims.as("embedding"),
      pmod(h(1), lit(10L)).cast("int").as("label"))
  }

  /** Cast check: the generated files read back with the declared schemas. */
  def schemaOk(spark: SparkSession, dir: String): Boolean =
    graft.queries.Tables.schemas.forall { case (name, st) =>
      val got: DataFrame = spark.read.parquet(s"$dir/$name.parquet")
      st.fields.forall(f => got.schema.fields.exists(g => g.name == f.name && g.dataType == f.dataType))
    }
}

package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic star schema + events + documents + embeddings in the
  * layout the registry queries read (one `<table>.parquet` per table,
  * TPC-H-like columns). Every value is a hash of the row id and a salt,
  * so the data is identical for any partitioning and any local[k].
  * `scale` 1.0 gives 60k lineitem rows.
  */
object StarGen {
  private def h(id: Column, salt: Int, m: Int): Column =
    pmod(xxhash64(id, lit(salt)), lit(m.toLong)).cast("int")

  private def pick(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), h(id, salt, xs.size) + 1)

  private val colors = Seq("red", "blue", "green", "small", "large", "bright", "dark", "pale")
  private val nouns = Seq("widget", "bolt", "ring", "gear", "panel", "valve", "screw", "frame")
  private val words = Seq("the", "a", "big", "small", "fast", "slow", "table", "row", "column",
    "value", "key", "hash", "join", "agg", "scan", "spark", "data", "batch", "window", "merge",
    "filter", "order", "query", "part", "line", "customer", "stream", "lake", "file", "commit")

  def write(spark: SparkSession, dir: String, scale: Double): Unit = {
    def n(base: Int) = math.max(10, (base * scale).toInt)
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrd = n(15000); val nLine = n(60000); val nEv = n(10000)
    val nDoc = n(500); val nVec = n(500)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def ids(k: Int) = spark.range(k).toDF("id")
    val id = col("id")
    def day(base: String, salt: Int, span: Int) =
      date_add(lit(base).cast("date"), h(id, salt, span)).cast("timestamp")

    save("region", ids(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        id.cast("int") + 1).as("r_name")))
    save("nation", ids(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    save("customer", ids(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"), h(id, 1, 25).as("c_nationkey"),
      round(h(id, 2, 1099999).cast("double") / 100 - 999.99, 2).as("c_acctbal"),
      pick(id, 3, Seq("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"))
        .as("c_mktsegment")))
    save("supplier", ids(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"), h(id, 4, 25).as("s_nationkey"),
      round(h(id, 5, 1099999).cast("double") / 100 - 999.99, 2).as("s_acctbal")))
    save("part", ids(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 6, colors), pick(id, 7, nouns)).as("p_name"),
      concat(lit("Brand#"), h(id, 8, 25) + 1).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "SMALL", "PROMO", "MEDIUM", "LARGE", "STANDARD")).as("p_type"),
      (h(id, 10, 50) + 1).as("p_size"),
      round(lit(900.0) + (id % 1000).cast("double") / 10, 2).as("p_retailprice")))
    save("orders", ids(nOrd).select(id.as("o_orderkey"), h(id, 11, nCust).cast("long").as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(h(id, 13, 50000000).cast("double") / 100, 2).as("o_totalprice"),
      day("1995-01-01", 14, 2404).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    val qty = (h(id, 18, 50) + 1).cast("double")
    save("lineitem", ids(nLine).select(h(id, 16, nOrd).cast("long").as("l_orderkey"),
      h(id, 17, nPart).cast("long").as("l_partkey"), h(id, 19, nSupp).cast("long").as("l_suppkey"),
      ((id % 7) + 1).cast("int").as("l_linenumber"), qty.as("l_quantity"),
      round(qty * (lit(900.0) + h(id, 20, 1000).cast("double") / 10), 2).as("l_extendedprice"),
      (h(id, 21, 11).cast("double") / 100).as("l_discount"),
      (h(id, 22, 9).cast("double") / 100).as("l_tax"),
      pick(id, 23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 24, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", 25, 2500).as("l_shipdate")))
    val evSpanUs = 30L * 86400 * 1000000
    save("events", ids(nEv).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + (id * (evSpanUs / nEv)) +
        h(id, 26, 1000000).cast("long")).as("ts"),
      h(id, 27, 150).cast("long").as("user_id"),
      pick(id, 28, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      round(h(id, 29, 5000).cast("double") / 100, 2).as("value"),
      concat(lit("{\"k\": "), h(id, 30, 100), lit("}")).as("props")))
    val text = concat_ws(" ", transform(sequence(lit(1), h(id, 31, 60) + 20),
      j => element_at(array(words.map(lit): _*), pmod(xxhash64(id, j), lit(words.size.toLong)).cast("int") + 1)))
    save("documents", ids(nDoc).select(id.as("doc_id"), text.as("text"),
      pick(id, 32, Seq("en", "en", "en", "zh", "de", "es", "fr")).as("lang"),
      concat(lit("src"), h(id, 33, 18)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val label = h(id, 34, 10)
    save("embeddings", ids(nVec).select(id.as("vec_id"),
      transform(sequence(lit(1), lit(64)), j =>
        ((pmod(xxhash64(label, j), lit(1000L)).cast("double") / 1000 - 0.5) * 0.5 +
          (pmod(xxhash64(id, j), lit(1000L)).cast("double") / 1000 - 0.5) * 0.1).cast("float"))
        .as("embedding"),
      label.as("label")))
  }
}

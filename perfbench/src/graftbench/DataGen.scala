package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs in the engine's star-schema layout
  * (`Tables.names`): the TPC-H-like facts and dimensions the pipelines and
  * cube kernels read, and the `events` stream.
  *
  * Row counts follow the engine's sf0.1 shape (600k lineitems, 100k
  * events). Every value is a hash of the row id and a per-column salt, so
  * the files are identical on every host and every Spark partitioning;
  * the workload seed never reaches the data (it only orders operations),
  * which keeps the expected outputs in [[Expected]] constant.
  *
  * The `documents` and `embeddings` corpora are not generated: the
  * benchmark ships the engine's sf0.1 corpus files in `perfbench/data/`.
  */
object DataGen {
  val nOrders = 150000L
  val nCustomers = 15000L
  val nSuppliers = 1000L
  val nParts = 20000L
  val nEvents = 100000L

  private def h(salt: Int, cols: Column*): Column =
    xxhash64((cols :+ lit(salt)): _*)

  private def pick(values: Seq[String], c: Column): Column =
    element_at(array(values.map(lit): _*), (c + 1).cast("int"))

  private def ids(n: Long): DataFrame =
    SparkSession.active.range(0, n, 1, 1).toDF("id")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    val id = col("id")
    val region = ids(5).select(id.cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id).as("r_name"))
    val nation = ids(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey"))
    val customer = ids(nCustomers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(h(1, id), lit(25)).cast("int").as("c_nationkey"),
      round(lit(-999.99) + pmod(h(2, id), lit(1100000)) / 100.0, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        pmod(h(3, id), lit(5))).as("c_mktsegment"))
    val supplier = ids(nSuppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pmod(h(4, id), lit(25)).cast("int").as("s_nationkey"),
      round(lit(-999.99) + pmod(h(5, id), lit(1100000)) / 100.0, 2).as("s_acctbal"))
    val colors = Seq("blue", "green", "red", "small", "large", "shiny", "matte", "steel")
    val nouns = Seq("anvil", "widget", "gear", "bolt", "spring", "valve", "lever", "panel")
    val part = ids(nParts).select(id.as("p_partkey"),
      concat_ws(" ", pick(colors, pmod(h(6, id), lit(8))), pick(nouns, pmod(h(7, id), lit(8))))
        .as("p_name"),
      concat(lit("Brand#"), pmod(h(8, id), lit(25)) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        pmod(h(9, id), lit(6))).as("p_type"),
      (pmod(h(10, id), lit(50)) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000)) / 10.0).as("p_retailprice"))
    val orders = ids(nOrders).select(id.as("o_orderkey"),
      pmod(h(11, id), lit(nCustomers)).as("o_custkey"),
      pick(Seq("F", "O", "P"), pmod(h(12, id), lit(3))).as("o_orderstatus"),
      round(lit(1000.0) + pmod(h(13, id), lit(49900000)) / 100.0, 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), pmod(h(14, id), lit(2404)).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        pmod(h(15, id), lit(5))).as("o_orderpriority"))
    val ok = col("ok")
    val ln = col("ln")
    val qty = (pmod(h(24, ok, ln), lit(50)) + 1).cast("double")
    val lineitem = ids(nOrders)
      .select(id.as("ok"),
        explode(sequence(lit(1), (pmod(h(21, id), lit(7)) + 1).cast("int"))).as("ln"))
      .select(ok.as("l_orderkey"),
        pmod(h(22, ok, ln), lit(nParts)).as("l_partkey"),
        pmod(h(23, ok, ln), lit(nSuppliers)).as("l_suppkey"),
        ln.as("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * (lit(900.0) + pmod(h(22, ok, ln), lit(1000)) / 10.0), 2)
          .as("l_extendedprice"),
        (pmod(h(25, ok, ln), lit(11)) / 100.0).as("l_discount"),
        (pmod(h(26, ok, ln), lit(9)) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), pmod(h(27, ok, ln), lit(3))).as("l_returnflag"),
        pick(Seq("F", "O"), pmod(h(29, ok, ln), lit(2))).as("l_linestatus"),
        date_add(lit("1995-01-02").cast("date"), pmod(h(30, ok, ln), lit(2499)).cast("int"))
          .cast("timestamp").as("l_shipdate"))
    val events = ids(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + pmod(h(31, id), lit(2592000000000L))).as("ts"),
      pmod(h(32, id), lit(1500)).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), pmod(h(33, id), lit(5)))
        .as("event_type"),
      round(lit(0.01) + pmod(h(34, id), lit(49002)) / 100.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(35, id), lit(100)), lit("}")).as("props"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders, "lineitem" -> lineitem,
      "events" -> events)
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each, with
    * microsecond timestamps, like the engine's fixtures). The timestamp
    * conf is restored so the engine's own writes keep the session's.
    */
  def write(spark: SparkSession, dir: String): Unit = {
    val conf = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getOption(conf)
    spark.conf.set(conf, "TIMESTAMP_MICROS")
    try tables(spark).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .option("compression", "snappy").parquet(s"$dir/$name.parquet")
    } finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }
}

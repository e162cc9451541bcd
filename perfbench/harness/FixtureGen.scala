package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's fixture generator: a frozen copy of the engine's
  * `graft.ScaleGen` as of the benchmark's definition, so that a change to
  * the engine cannot change the benchmark's inputs. Every column is a pure
  * function of the row id, so the tables depend only on the scale factor.
  * `perfbench/fixtures.json` pins their content; `build.py` refuses data
  * that does not match it.
  */
object FixtureGen {

  private def h(seed: Int, id: Column): Column = xxhash64(lit(seed), id)
  private def u(seed: Int, id: Column): Column =
    pmod(h(seed, id), lit(1000000L)).cast(DoubleType) / 1000000.0
  private def money(seed: Int, id: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, id) * (hi - lo), 2)
  private def pick(xs: Seq[String], seed: Int, id: Column): Column =
    element_at(array(xs.map(lit): _*),
      (pmod(h(seed, id), lit(xs.size)) + 1).cast(IntegerType))

  private val epoch95 = lit(java.sql.Date.valueOf("1995-01-01"))
  /** fixture order-date window 1995-01-01..2001-08-01 */
  private def orderDate(id: Column): Column =
    // TIMESTAMP_NTZ: INT64 micros with footer min/max statistics
    date_add(epoch95, pmod(h(7, id), lit(2405L)).cast(IntegerType))
      .cast(TimestampNTZType)

  private val segments =
    Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
  private val types =
    Seq("LARGE", "STANDARD", "ECONOMY", "PROMO", "MEDIUM", "SMALL")
  private val colors =
    Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns =
    Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
  }

  def nation(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 25).map(k => (k, s"NATION_$k", k % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def customer(spark: SparkSession, sf: Double): DataFrame =
    spark.range(math.max((150000 * sf).toLong, 1L)).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h(31, col("id")), lit(25L)).cast(IntegerType).as("c_nationkey"),
      money(32, col("id"), -1000.0, 10000.0).as("c_acctbal"),
      pick(segments, 33, col("id")).as("c_mktsegment"))

  def supplier(spark: SparkSession, sf: Double): DataFrame =
    spark.range(math.max((10000 * sf).toLong, 1L)).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(h(41, col("id")), lit(25L)).cast(IntegerType).as("s_nationkey"),
      money(42, col("id"), -1000.0, 10000.0).as("s_acctbal"))

  def part(spark: SparkSession, sf: Double): DataFrame =
    spark.range(math.max((200000 * sf).toLong, 1L)).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(colors, 51, col("id")), pick(nouns, 52, col("id")))
        .as("p_name"),
      concat(lit("Brand#"),
        (pmod(h(53, col("id")), lit(25L)) + 1).cast(StringType)).as("p_brand"),
      pick(types, 54, col("id")).as("p_type"),
      (pmod(h(55, col("id")), lit(50L)) + 1).cast(IntegerType).as("p_size"),
      money(56, col("id"), 900.0, 1000.0).as("p_retailprice"))

  def orders(spark: SparkSession, sf: Double): DataFrame = {
    val custN = math.max((150000 * sf).toLong, 1L)
    spark.range(math.max((1500000 * sf).toLong, 1L)).select(
      col("id").as("o_orderkey"),
      pmod(h(61, col("id")), lit(custN)).as("o_custkey"),
      pick(Seq("O", "F", "P"), 62, col("id")).as("o_orderstatus"),
      money(63, col("id"), 1000.0, 500000.0).as("o_totalprice"),
      orderDate(col("id")).as("o_orderdate"),
      pick(priorities, 64, col("id")).as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, sf: Double): DataFrame = {
    val orderN = math.max((1500000 * sf).toLong, 1L)
    val partN = math.max((200000 * sf).toLong, 1L)
    val suppN = math.max((10000 * sf).toLong, 1L)
    spark.range(math.max((6000000 * sf).toLong, 1L)).select(
      pmod(h(71, col("id")), lit(orderN)).as("l_orderkey"),
      pmod(h(72, col("id")), lit(partN)).as("l_partkey"),
      pmod(h(73, col("id")), lit(suppN)).as("l_suppkey"),
      (pmod(h(74, col("id")), lit(7L)) + 1).cast(IntegerType).as("l_linenumber"),
      (pmod(h(75, col("id")), lit(50L)) + 1).cast(DoubleType).as("l_quantity"),
      money(76, col("id"), 900.0, 105000.0).as("l_extendedprice"),
      (pmod(h(77, col("id")), lit(11L)).cast(DoubleType) / 100.0).as("l_discount"),
      (pmod(h(78, col("id")), lit(9L)).cast(DoubleType) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), 79, col("id")).as("l_returnflag"),
      pick(Seq("F", "O"), 80, col("id")).as("l_linestatus"),
      date_add(epoch95, (pmod(h(81, col("id")), lit(2498L)) + 1).cast(IntegerType))
        .cast(TimestampNTZType).as("l_shipdate"))
  }

  // ---- LLM-pipeline tables: 30 days of typed user events; word-salad
  // documents with planted near-duplicates (1 in 16); 64-dim
  // label-clustered embeddings

  private val epoch24 = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  def events(spark: SparkSession, sf: Double): DataFrame = {
    val userN = math.max((15000 * sf).toLong, 10L)
    spark.range(math.max((1000000 * sf).toLong, 100L)).select(
      col("id").as("event_id"),
      timestamp_micros(unix_micros(epoch24) +
        pmod(h(91, col("id")), lit(30L * 86400000000L)))
        .cast(TimestampNTZType).as("ts"),
      pmod(h(92, col("id")), lit(userN)).as("user_id"),
      pick(eventTypes, 93, col("id")).as("event_type"),
      (pmod(h(94, col("id")), lit(100000L)).cast(DoubleType) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(95, col("id")), lit(100L)).cast(StringType),
        lit("}")).as("props"))
  }

  private val docWords = Seq(
    "spark", "data", "query", "table", "row", "column", "value", "key",
    "join", "scan", "filter", "group", "sort", "agg", "window", "stream",
    "batch", "part", "order", "line", "customer", "vector", "hash", "merge",
    "fast", "slow", "big", "small", "a", "the")

  def documents(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max((50000 * sf).toLong, 50L)
    // 70% of words get a numeric suffix from a pool that grows with n
    val variants = math.max(20L, (math.sqrt(n.toDouble) / 3).toLong)
    // 8..80 words; docs with id % 16 == 15 copy doc id-15 with the first
    // word changed
    val baseId = when(pmod(col("id"), lit(16L)) === 15, col("id") - 15)
      .otherwise(col("id"))
    def wordAt(i: Column): Column = {
      val base = element_at(array(docWords.map(lit): _*),
        (pmod(h(97, baseId * 131 + i.cast(LongType)), lit(docWords.size)) + 1)
          .cast(IntegerType))
      val suffixed = pmod(h(103, baseId * 131 + i.cast(LongType)), lit(10L)) < 7
      when(suffixed, concat(base, lit("_"),
        pmod(h(104, baseId * 131 + i.cast(LongType)), lit(variants))
          .cast(StringType)))
        .otherwise(base)
    }
    val words = transform(
      sequence(lit(0), pmod(h(96, baseId), lit(73L)).cast(IntegerType) + 7),
      i => wordAt(i))
    val mutated = when(pmod(col("id"), lit(16L)) === 15,
      concat(array(element_at(array(docWords.map(lit): _*),
        (pmod(h(98, col("id")), lit(docWords.size)) + 1).cast(IntegerType))),
        slice(words, 2, 1000))).otherwise(words)
    spark.range(n).select(
      col("id").as("doc_id"),
      array_join(mutated, " ").as("text"),
      when(pmod(h(99, col("id")), lit(20L)) === 0, "de")
        .when(pmod(h(99, col("id")), lit(20L)) === 1, "fr")
        .otherwise("en").as("lang"),
      concat(lit("src"), pmod(h(100, col("id")), lit(20L)).cast(StringType))
        .as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  def embeddings(spark: SparkSession, sf: Double): DataFrame = {
    val n = math.max((20000 * sf).toLong, 50L)
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d => {
        val label = pmod(col("id"), lit(10L))
        // label centroid component in [-1, 1] + +-0.35 per-vector noise
        val cent = (pmod(xxhash64(lit(101), label * 64 + d.cast(LongType)),
          lit(2000L)).cast(DoubleType) / 1000.0) - 1.0
        val noise = (pmod(xxhash64(lit(102), col("id") * 64 + d.cast(LongType)),
          lit(700L)).cast(DoubleType) / 1000.0) - 0.35
        (cent + noise).cast(FloatType)
      }).as("embedding"),
      pmod(col("id"), lit(10L)).cast(IntegerType).as("label"))
  }

  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  def gen(spark: SparkSession, name: String, sf: Double): DataFrame =
    name match {
      case "region"     => region(spark)
      case "nation"     => nation(spark)
      case "customer"   => customer(spark, sf)
      case "supplier"   => supplier(spark, sf)
      case "part"       => part(spark, sf)
      case "orders"     => orders(spark, sf)
      case "lineitem"   => lineitem(spark, sf)
      case "events"     => events(spark, sf)
      case "documents"  => documents(spark, sf)
      case "embeddings" => embeddings(spark, sf)
    }
}

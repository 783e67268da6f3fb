package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's input corpus: the TPC-H-ish tables the engine derives its
  * `issues`, `links` and `statusHistory` domain tables from, at the fixture
  * schemas and value domains. Every value is a hash of the row id with a
  * fixed salt, so the corpus is identical on every run and host, and the
  * DuckDB oracle hashes stored beside this file stay valid. The workload seed
  * varies what the benchmark does with the corpus, never the corpus itself.
  *
  * Timestamps are written as the fixtures hold them: microsecond
  * TIMESTAMP_NTZ (parquet `isAdjustedToUTC=false`).
  *
  * `sf` follows the TPC-H convention: sf 0.01 is 15,000 orders (issues) and
  * about 60,000 lineitems (links).
  */
object Corpus {

  /** The tables the workloads' engine paths read. */
  val Tables: Seq[String] = Seq("orders", "lineitem", "events", "part")

  private def h(c: Column, salt: Int): Column = abs(hash(c, lit(salt)).cast("long"))

  private def day(c: Column, salt: Int, days: Int): Column =
    (expr("timestamp_ntz'1995-01-01 00:00:00'") +
      make_dt_interval((h(c, salt) % days).cast("int"))).cast("timestamp_ntz")

  def orders(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("id")
    spark.range(1, (1500000 * sf).toLong + 1, 1, 4).select(
      id.as("o_orderkey"),
      (h(id, 1) % math.max(1L, (150000 * sf).toLong) + 1).as("o_custkey"),
      element_at(typedLit(Seq("F", "O", "P")), (h(id, 2) % 3 + 1).cast("int"))
        .as("o_orderstatus"),
      (round(h(id, 3) % 45000000L / 100.0, 2) + 900.0).as("o_totalprice"),
      day(id, 4, 2404).as("o_orderdate"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")), (h(id, 5) % 5 + 1).cast("int"))
        .as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, sf: Double): DataFrame = {
    val li = expr("l_orderkey * 8 + l_linenumber")
    spark.range(1, (1500000 * sf).toLong + 1, 1, 4)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (h(col("id"), 10) % 7 + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        col("l_orderkey"),
        (h(li, 11) % math.max(1L, (200000 * sf).toLong) + 1).as("l_partkey"),
        (h(li, 12) % math.max(1L, (10000 * sf).toLong) + 1).as("l_suppkey"),
        col("l_linenumber"),
        (h(li, 13) % 50 + 1).cast("double").as("l_quantity"),
        round(h(li, 14) % 9500000L / 100.0 + 900.0, 2).as("l_extendedprice"),
        round((h(li, 15) % 11).cast("double") / 100.0, 2).as("l_discount"),
        round((h(li, 16) % 9).cast("double") / 100.0, 2).as("l_tax"),
        element_at(typedLit(Seq("A", "N", "R")), (h(li, 17) % 3 + 1).cast("int"))
          .as("l_returnflag"),
        element_at(typedLit(Seq("F", "O")), (h(li, 18) % 2 + 1).cast("int"))
          .as("l_linestatus"),
        day(li, 19, 2500).as("l_shipdate"))
  }

  def events(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("event_id")
    spark.range(0, (1000000 * sf).toLong, 1, 4).select(col("id").as("event_id"))
      .withColumn("ts", expr(
        "timestamp_micros(cast(timestamp'2024-01-01 00:00:00' as long) * 1000000 " +
          "+ (abs(cast(hash(event_id, 40) as bigint)) % (30 * 86400)) * 1000000 " +
          "+ abs(cast(hash(event_id, 41) as bigint)) % 1000000)").cast("timestamp_ntz"))
      .withColumn("user_id", h(id, 42) % math.max(1L, (15000 * sf).toLong))
      .withColumn("event_type", element_at(
        typedLit(Seq("view", "click", "signup", "purchase", "error")),
        (h(id, 43) % 5 + 1).cast("int")))
      .withColumn("value", round((h(id, 44) % 100000).cast("double") / 100.0, 2))
      .withColumn("props",
        concat(lit("{\"k\": "), (h(id, 45) % 100).cast("string"), lit("}")))
  }

  def part(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("p_partkey")
    val words = Seq("spark", "batch", "part", "line", "sort", "hash", "scan",
      "merge", "window", "stream")
    spark.range(1, math.max(1L, (200000 * sf).toLong) + 1, 1, 1)
      .select(col("id").as("p_partkey"))
      .withColumn("p_name", concat(lit("part "),
        element_at(typedLit(words), (h(id, 70) % words.size + 1).cast("int")),
        lit(" "),
        element_at(typedLit(words), (h(id, 71) % words.size + 1).cast("int"))))
      .withColumn("p_brand",
        concat(lit("Brand#"), (h(id, 72) % 55 + 11).cast("string")))
      .withColumn("p_type", element_at(typedLit(Seq("STANDARD", "SMALL",
        "MEDIUM", "LARGE", "ECONOMY", "PROMO")), (h(id, 73) % 6 + 1).cast("int")))
      .withColumn("p_size", (h(id, 74) % 50 + 1).cast("int"))
      .withColumn("p_retailprice",
        round((h(id, 75) % 120000).cast("double") / 100.0 + 900.0, 2))
  }

  /** Writes every table as `<dir>/<name>.parquet` unless a complete corpus
    * is already there (it is seed-independent, so runs share it).
    */
  def ensure(spark: SparkSession, dir: String, sf: Double): Unit = {
    val done = Paths.get(dir, "_COMPLETE")
    if (Files.exists(done)) return
    val gen = Map[String, (SparkSession, Double) => DataFrame](
      "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "part" -> part)
    Tables.foreach { t =>
      gen(t)(spark, sf).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/$t.parquet")
    }
    Files.writeString(done, s"sf=$sf\n")
  }
}

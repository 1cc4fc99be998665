package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-ins for the ten tables `SparkEntry.queries` reads
  * (FIXTURES.md §1), at the sf0.01 row counts. Schemas, value domains and
  * on-disk types (timestamps as INT64 micros without time zone, floats in
  * a parquet list) follow the bundled tables; the seed changes the values,
  * never the row counts. Each table is one file `<name>.parquet`, as in
  * the bundled directories, written by Spark's own parquet writer.
  */
object SfTables {
  val rows: Seq[(String, Long)] = Seq("region" -> 5L, "nation" -> 25L,
    "customer" -> 1500L, "supplier" -> 100L, "part" -> 2000L,
    "orders" -> 15000L, "lineitem" -> 60000L, "events" -> 10000L,
    "documents" -> 500L, "embeddings" -> 500L)
  val names: Seq[String] = rows.map(_._1)

  val words: Seq[String] = Seq("a", "the", "key", "agg", "row", "scan",
    "slow", "fast", "table", "value", "part", "hash", "merge", "batch",
    "line", "sort", "window", "spark", "order", "data", "column", "join",
    "small", "big", "customer", "query", "group", "filter", "stream",
    "vector")

  def write(spark: SparkSession, seed: Long, dir: String, threads: Int): Unit =
    Par.map(rows, threads) { case (name, n) =>
      val tmp = Paths.get(dir, s".$name.tmp")
      table(spark, seed, name, n).coalesce(1).write.parquet(tmp.toString)
      val parts = Files.list(tmp)
      val part = try parts.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally parts.close()
      Files.move(part, Paths.get(dir, s"$name.parquet"))
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }

  /** Uniform double in [0, 1) from the seed, a salt and the row id. */
  private def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1000000L)) / 1e6
  private def pick(seed: Long, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, salt) * xs.size).cast("int") + 1)
  private def below(seed: Long, salt: Int, n: Long): Column =
    (u(seed, salt) * n).cast("long")
  /** A day between 1995-01-01 and 2001-08-01 as a timestamp without zone. */
  private def day(seed: Long, salt: Int): Column =
    date_add(lit("1995-01-01").cast("date"), below(seed, salt, 2404).cast("int"))
      .cast("timestamp_ntz")

  def table(spark: SparkSession, seed: Long, name: String, n: Long): DataFrame = {
    val id = col("id")
    val r = spark.range(0, n, 1, 1)
    name match {
      case "region" => r.select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), id.cast("int") + 1).as("r_name"))
      case "nation" => r.select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"),
        (id % 5).cast("int").as("n_regionkey"))
      case "customer" => r.select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        below(seed, 1, 25).cast("int").as("c_nationkey"),
        round(u(seed, 2) * 11000 - 1000, 2).as("c_acctbal"),
        pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment"))
      case "supplier" => r.select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        below(seed, 4, 25).cast("int").as("s_nationkey"),
        round(u(seed, 5) * 11000 - 1000, 2).as("s_acctbal"))
      case "part" => r.select(id.as("p_partkey"),
        concat_ws(" ", pick(seed, 6, Seq("small", "red", "blue", "green",
          "large", "steel")), pick(seed, 7, Seq("ring", "widget", "bolt",
          "gear", "valve"))).as("p_name"),
        concat(lit("Brand#"), below(seed, 8, 25) + 1).as("p_brand"),
        pick(seed, 9, Seq("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO",
          "STANDARD")).as("p_type"),
        (below(seed, 10, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + id % 1000 / 10.0 + u(seed, 11), 2).as("p_retailprice"))
      case "orders" => r.select(id.as("o_orderkey"),
        below(seed, 12, 1500).as("o_custkey"),
        pick(seed, 13, Seq("F", "O", "P")).as("o_orderstatus"),
        round(u(seed, 14) * 499000 + 1000, 2).as("o_totalprice"),
        day(seed, 15).as("o_orderdate"),
        pick(seed, 16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority"))
      case "lineitem" => r.select(below(seed, 17, 15000).as("l_orderkey"),
        below(seed, 18, 2000).as("l_partkey"),
        below(seed, 19, 100).as("l_suppkey"),
        (below(seed, 20, 7) + 1).cast("int").as("l_linenumber"),
        (below(seed, 21, 50) + 1).cast("double").as("l_quantity"),
        round(u(seed, 22) * 104000 + 900, 2).as("l_extendedprice"),
        (below(seed, 23, 11) / 100.0).as("l_discount"),
        (below(seed, 24, 9) / 100.0).as("l_tax"),
        pick(seed, 25, Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, 26, Seq("F", "O")).as("l_linestatus"),
        day(seed, 27).as("l_shipdate"))
      case "events" =>
        // 30 days from 2024-01-01, one event per 259.2 s slot: event times
        // are distinct and increase with event_id
        val micros = lit(1704067200000000L) + id * 259200000L +
          below(seed, 28, 259000000L)
        r.select(id.as("event_id"),
          timestamp_micros(micros).cast("timestamp_ntz").as("ts"),
          below(seed, 29, 150).as("user_id"),
          pick(seed, 30, Seq("click", "error", "purchase", "signup", "view"))
            .as("event_type"),
          round(u(seed, 31) * 490 + 0.01, 2).as("value"),
          format_string("{\"k\": %d}", below(seed, 32, 100)).as("props"))
      case "documents" =>
        val vocab = array(words.map(lit): _*)
        val tokens = transform(sequence(lit(1), (below(seed, 33, 70) + 10)
          .cast("int")), i => element_at(vocab, (pmod(xxhash64(lit(seed),
            lit(34), col("id"), i), lit(words.size.toLong)) + 1).cast("int")))
        r.select(id.as("doc_id"), concat_ws(" ", tokens).as("text"),
          pick(seed, 35, Seq("en", "en", "en", "de", "es", "fr", "zh"))
            .as("lang"),
          concat(lit("src"), below(seed, 36, 20)).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        val dims = transform(sequence(lit(1), lit(64)), i =>
          ((pmod(xxhash64(lit(seed), lit(37), col("id"), i), lit(1000000L)) /
            1e6 - 0.5) * 0.5).cast("float"))
        r.select(id.as("vec_id"), dims.as("embedding"),
          below(seed, 38, 10).cast("int").as("label"))
    }
  }
}

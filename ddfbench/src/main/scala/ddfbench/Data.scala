package ddfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's input tables.
  *
  * [[base]] writes a TPC-H-like star schema plus `events`, `documents` and
  * `embeddings` at sf0.1 (600 k lineitem, 5 k documents, about 17 MB of
  * parquet), in the layout the library's query registry reads. Every value
  * is a hash of the row id and a column salt, so the tables do not depend
  * on the partitioning or the core count. The base tables do not depend on
  * the workload seed either; they are written once per checkout.
  *
  * [[x10]] blows the base tables up tenfold with per-replica key offsets
  * (join fan-outs stay linear), the recipe of `graft.Bench.buildSf1`; the
  * seeded per-replica text token is added when the documents are read.
  */
object Data {
  /** Bump when the generated tables change, so cached copies are rebuilt. */
  val Version = "base-v1"

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** A uniform draw in [0, n) from the row id and a salt. */
  private def draw(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(salt), id), lit(n))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (draw(id, salt, values.size) + 1).cast("int"))

  private def money(id: Column, salt: Int, lo: Double, hi: Double): Column =
    (lit(lo) + draw(id, salt, ((hi - lo) * 100).toLong) / 100.0).cast("double")

  /** A whole day in [fromEpochDay, fromEpochDay + days). */
  private def day(id: Column, salt: Int, fromEpochDay: Long, days: Int): Column =
    timestamp_seconds((lit(fromEpochDay) + draw(id, salt, days)) * 86400L)

  /** Writes the base tables under `dir` unless a complete copy is there. */
  def base(spark: SparkSession, dir: String): Unit = {
    val done = new java.io.File(dir, "_" + Version)
    if (done.exists()) return
    val id = col("id")
    def rows(n: Long) = spark.range(0, n, 1, 8)
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")).coalesce(1))
    write("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")).coalesce(1))
    write("customer", rows(15000).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      draw(id, 11, 25).cast("int").as("c_nationkey"),
      money(id, 12, -999.99, 9999.99).as("c_acctbal"),
      pick(id, 13, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))
        .as("c_mktsegment")).coalesce(1))
    write("supplier", rows(1000).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      draw(id, 21, 25).cast("int").as("s_nationkey"),
      money(id, 22, -999.99, 9999.99).as("s_acctbal")).coalesce(1))
    write("part", rows(20000).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(id, 31, Seq("large", "hot", "blue", "old", "cold", "red", "green", "small")),
        pick(id, 32, Seq("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")))
        .as("p_name"),
      concat(lit("Brand#"), (draw(id, 33, 25) + 1).cast("string")).as("p_brand"),
      pick(id, 34, Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")).as("p_type"),
      (draw(id, 35, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")).coalesce(1))
    write("orders", rows(150000).select(id.as("o_orderkey"),
      draw(id, 41, 15000).as("o_custkey"),
      pick(id, 42, Seq("F", "O", "P")).as("o_orderstatus"),
      money(id, 43, 1000.0, 500000.0).as("o_totalprice"),
      day(id, 44, 9131L, 2404).as("o_orderdate"),
      pick(id, 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")).coalesce(2))
    // 1-7 lines per order, numbered from 1, so (l_orderkey, l_linenumber)
    // is a unique key as in TPC-H
    val lines = rows(150000)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (draw(id, 50, 7) + 1).cast("int"))).as("l_linenumber"))
    val lk = col("l_orderkey") * 8 + col("l_linenumber")
    write("lineitem", lines.select(col("l_orderkey"),
      draw(lk, 51, 20000).as("l_partkey"),
      draw(lk, 52, 1000).as("l_suppkey"),
      col("l_linenumber"),
      (draw(lk, 53, 50) + 1).cast("double").as("l_quantity"),
      money(lk, 54, 900.0, 105000.0).as("l_extendedprice"),
      (draw(lk, 55, 11) / 100.0).as("l_discount"),
      (draw(lk, 56, 9) / 100.0).as("l_tax"),
      pick(lk, 57, Seq("A", "N", "R")).as("l_returnflag"),
      pick(lk, 58, Seq("F", "O")).as("l_linestatus"),
      day(lk, 59, 9132L, 2498).as("l_shipdate")).coalesce(4))
    write("events", rows(100000).select(id.as("event_id"),
      // any microsecond of 2024-01-01 .. 2024-01-30
      timestamp_micros(lit(1704067200000000L) + draw(id, 61, 2592000000000L)).as("ts"),
      draw(id, 62, 1500).as("user_id"),
      pick(id, 63, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      (draw(id, 64, 56021) / 100.0).as("value"),
      format_string("{\"k\": %d}", draw(id, 65, 100)).as("props")).coalesce(1))
    // one doc in twenty repeats an earlier doc's text plus a marker word:
    // the near-duplicate pairs the dedup stages look for
    val words = array(Vocab.map(lit): _*)
    def text(seed: Column) = array_join(transform(
      sequence(lit(1), (draw(seed, 71, 91) + 10).cast("int")),
      i => element_at(words, (pmod(xxhash64(lit(72), seed, i), lit(Vocab.size.toLong)) + 1)
        .cast("int"))), " ")
    val isDup = draw(id, 73, 20) === 0 && id > 10
    val docs = rows(5000).select(id.as("doc_id"),
      when(isDup, concat(text(id - draw(id, 74, 10) - 1), lit(" dup"))).otherwise(text(id))
        .as("text"),
      pick(id, 75, Seq("en", "en", "en", "de", "es", "fr", "zh", "en")).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
    write("documents", docs.withColumn("n_chars", length(col("text")).cast("long")).coalesce(1))
    write("embeddings", rows(2000).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(xxhash64(lit(81), id, i), lit(2000001L)) - 1000000) / 4e6).cast("float"))
        .as("embedding"),
      draw(id, 82, 10).cast("int").as("label")).coalesce(1))
    done.createNewFile()
  }

  /** Writes the tenfold corpus of the base tables in `from` to `into`,
    * unless a complete copy is there. Documents are replicated without a
    * marker; [[x10Documents]] adds the seeded one when the table is read.
    */
  def x10(spark: SparkSession, from: String, into: String): Unit = {
    val done = new java.io.File(into, "_" + Version)
    if (done.exists()) return
    val f = 10
    def read(t: String) = spark.read.parquet(s"$from/$t.parquet")
    def blow(df: DataFrame, offs: Map[String, Long]): DataFrame =
      (0 until f).map(i => df.select(df.columns.toSeq.map(c =>
        offs.get(c).map(o => (col(c) + lit(i * o)).as(c)).getOrElse(col(c))): _*))
        .reduce(_ unionAll _)
    def write(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$into/$t.parquet")
    write("lineitem", blow(read("lineitem"),
      Map("l_orderkey" -> 1000000000L, "l_partkey" -> 1000000L)))
    write("orders", blow(read("orders"), Map("o_orderkey" -> 1000000000L)))
    write("part", blow(read("part"), Map("p_partkey" -> 1000000L)))
    write("customer", blow(read("customer"), Map("c_custkey" -> 10000000L)))
    write("events", blow(read("events"),
      Map("event_id" -> 1000000000L, "user_id" -> 10000000L)))
    write("documents", blow(read("documents"), Map("doc_id" -> X10DocStride)))
    Seq("region", "nation", "supplier", "embeddings").foreach(t => write(t, read(t)))
    done.createNewFile()
  }

  private val X10DocStride = 1000000L

  /** The tenfold documents with each replica's text ending in a token the
    * seed picks, so replicas are near-duplicates of each other.
    */
  def x10Documents(docs: DataFrame, seed: Long): DataFrame = {
    val tokens = new scala.util.Random(seed).shuffle((0 until 1000).toList).take(10)
      .map(i => lit(s" v$i"))
    docs.withColumn("text", concat(col("text"),
      element_at(array(tokens: _*), (col("doc_id") / X10DocStride).cast("int") + 1)))
  }
}

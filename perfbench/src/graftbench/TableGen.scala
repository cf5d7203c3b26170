package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** The ten tables the engine's batch queries read (`graft.Tables`), at
  * the sf0.1 shape: the same schemas, row counts and value domains as the
  * sf0.1 testdata tables `graft.Bench` reads — a TPC-H-like star schema, a
  * 30-day event stream, a 5,000-document corpus of which 5% are
  * near-duplicates (a copy of another document plus one token), and 2,000
  * unit-norm 64-dimension embeddings. The corpus and embedding parameters
  * were measured on those tables (see README.md).
  *
  * Every value is a hash of (seed, row id, column), so one seed always
  * gives byte-identical tables. The query workloads use one fixed seed:
  * their result hashes are checked against stored references. */
object TableGen {
  val Seed = 42L
  private val Day = 86400L

  val All: Set[String] = graft.Tables.names.toSet

  /** Write `tables` (default: all ten) under `dir` as `<name>.parquet`. */
  def write(spark: SparkSession, dir: String, tables: Set[String] = All): Unit = {
    val seed = Seed
    def u(salt: Int): Column = // uniform [0, 1)
      pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1000000007L))
        .cast("double") / 1000000007.0
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*),
        (floor(u(salt) * xs.size) + 1).cast("int"))
    def intBelow(salt: Int, n: Long): Column = floor(u(salt) * n).cast("long")
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(salt) * (hi - lo), 2)
    def dayTs(salt: Int, fromEpochDay: Long, days: Long): Column =
      timestamp_seconds((lit(fromEpochDay) + intBelow(salt, days)) * Day)
        .cast("timestamp_ntz")
    val writes = mutable.ArrayBuffer.empty[Future[Unit]]
    // one file per table, rows in id order: the scan partitioning and
    // row order, and so the result hashes, depend on both; the tables
    // are written concurrently
    def save(name: String, df: => DataFrame): Unit =
      if (tables(name)) writes += Future {
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
    val ids = spark.range(_: Long)

    save("region", ids(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int"))
        .as("r_name")))
    save("nation", ids(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", ids(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      intBelow(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    save("supplier", ids(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      intBelow(1, 25).cast("int").as("s_nationkey"),
      money(2, -999.99, 9999.99).as("s_acctbal")))
    val colors = Seq("blue", "cold", "hot", "large", "new", "old", "red",
      "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
      "widget")
    save("part", ids(20000).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(1, colors), pick(2, nouns)).as("p_name"),
      concat(lit("Brand#"), intBelow(3, 25) + 1).as("p_brand"),
      pick(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (intBelow(5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    // 1995-01-01 = epoch day 9131
    save("orders", ids(150000).select(col("id").as("o_orderkey"),
      intBelow(1, 15000).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(3, 1000.0, 500000.0).as("o_totalprice"),
      dayTs(4, 9131L, 2404L).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    save("lineitem", ids(600000).select(
      intBelow(1, 150000).as("l_orderkey"),
      intBelow(2, 20000).as("l_partkey"),
      intBelow(3, 1000).as("l_suppkey"),
      (intBelow(4, 7) + 1).cast("int").as("l_linenumber"),
      (intBelow(5, 50) + 1).cast("double").as("l_quantity"),
      money(6, 900.0, 105000.0).as("l_extendedprice"),
      (intBelow(7, 11) / 100.0).as("l_discount"),
      (intBelow(8, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("F", "O")).as("l_linestatus"),
      dayTs(11, 9132L, 2498L).as("l_shipdate")))
    // 2024-01-01 = epoch second 1704067200; ids spread evenly over 30
    // days, each jittered inside its own slot, so ts rises with event_id
    val slotUs = 30L * Day * 1000000L / 100000L
    save("events", ids(100000).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) + col("id") * slotUs +
        intBelow(1, slotUs)).cast("timestamp_ntz").as("ts"),
      intBelow(2, 1500).as("user_id"),
      pick(3, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(-log(lit(1.0) - u(4)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", intBelow(5, 100)).as("props")))
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector",
      "window")
    val vocabArr = array(vocab.map(lit): _*)
    def textOf(idc: Column): Column = {
      val n = lit(10L) + pmod(xxhash64(lit(seed), idc, lit(1)), lit(91L))
      array_join(transform(sequence(lit(0L), n - 1), i =>
        element_at(vocabArr,
          (pmod(xxhash64(lit(seed), idc, i, lit(2)), lit(30L)) + 1)
            .cast("int"))), " ")
    }
    val docs = ids(5000)
      .withColumn("src", when(u(3) < 0.05, intBelow(4, 5000)))
      .select(col("id").as("doc_id"),
        when(col("src").isNull, textOf(col("id")))
          .otherwise(concat(textOf(col("src")), lit(" dup"))).as("text"),
        when(u(5) < 0.4, lit("en"))
          .otherwise(pick(6, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    save("documents", docs)
    // standard normal per dimension (Box-Muller), then unit-normalized
    val gauss = transform(sequence(lit(0), lit(63)), d =>
      sqrt(lit(-2.0) * log(lit(1.0) - (pmod(xxhash64(lit(seed), col("id"),
        d, lit(1)), lit(1000000007L)) / 1000000007.0))) *
        cos(lit(2 * math.Pi) * (pmod(xxhash64(lit(seed), col("id"), d,
          lit(2)), lit(1000000007L)) / 1000000007.0)))
    save("embeddings", ids(2000)
      .withColumn("g", gauss)
      .withColumn("norm", sqrt(aggregate(col("g"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("g"), x => (x / col("norm")).cast("float"))
          .as("embedding"),
        intBelow(7, 10).cast("int").as("label")))
    writes.foreach(Await.result(_, Duration.Inf))
  }
}

package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-like tables in the layout the engine's loaders
  * read (`<dir>/<table>.parquet`, schemas as in FIXTURES.md), for the
  * tables the benchmark's workloads touch: lineitem, orders, customer,
  * events, documents and embeddings.
  *
  * Every value is a hash of the row id and a fixed salt, so a table is
  * identical however Spark partitions the generation. The data does not
  * depend on the workload seed: analytics results are checked against
  * expected values fixed in [[Analytics]], and the seed drives the op
  * sequence instead. Orders carry dates that rise with the order key
  * (as keys allocated in arrival order do), so an order-key range maps
  * to a few month partitions of the versioned store. */
object DataGen {
  /** Bump when the generator changes: cached tables are keyed by it. */
  val Version = 1

  private val Epoch1995 = 788918400L     // 1995-01-01T00:00:00Z
  private val OrderSpanDays = 2403L      // through 2001-07-31
  private val Events2024 = 1704067200L   // 2024-01-01T00:00:00Z
  private val Vocab = Seq("join", "filter", "window", "stream", "sort",
    "fast", "slow", "big", "small", "table", "hash", "batch", "spark",
    "map", "reduce", "shuffle", "key", "value", "merge", "scan", "index",
    "query", "plan", "cache", "disk", "memory", "node", "task", "stage",
    "job", "row", "column", "file", "page", "log", "commit", "read",
    "write", "data", "text")

  private def h(salt: Int, cs: Column*): Column =
    xxhash64((lit(salt) +: cs): _*)
  /** Uniform integer in [0, n). */
  private def ui(n: Long, salt: Int, cs: Column*): Column =
    pmod(h(salt, cs: _*), lit(n))

  /** Generate `sf` into `dir` unless a complete copy is already there. */
  def ensure(spark: SparkSession, dir: Path, sf: Double): Unit = {
    if (Files.exists(dir.resolve("_COMPLETE"))) return
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".partial")
    Fs.deleteTree(tmp)
    Files.createDirectories(tmp)
    write(spark, tmp, sf)
    Files.writeString(tmp.resolve("_COMPLETE"), s"v$Version sf=$sf\n")
    Fs.deleteTree(dir)
    Files.move(tmp, dir)
  }

  private def save(df: DataFrame, dir: Path, name: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve(s"$name.parquet").toString)

  private def write(spark: SparkSession, dir: Path, sf: Double): Unit = {
    val nOrders = math.round(1500000 * sf)
    val nCust = math.round(150000 * sf)
    val nParts = math.round(200000 * sf)
    val nSupp = math.round(10000 * sf)
    val nEvents = math.round(1000000 * sf)
    val nUsers = math.round(15000 * sf).max(10)
    val nDocs = if (sf >= 0.1) 5000L else 500L
    val nVecs = if (sf >= 0.1) 2000L else 500L
    val id = col("id")
    def range(n: Long) = spark.range(0, n, 1, 4)

    save(range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(25, 1, id).cast("int").as("c_nationkey"),
      ((ui(1099999, 2, id) - 99999).cast("double") / 100).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (ui(5, 3, id) + 1).cast("int")).as("c_mktsegment")), dir, "customer")

    val day = (id * OrderSpanDays / nOrders + ui(3, 10, id)).cast("long")
    val orders = range(nOrders).select(
      id.as("o_orderkey"),
      ui(nCust, 11, id).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (ui(3, 12, id) + 1).cast("int")).as("o_orderstatus"),
      ((ui(49900000, 13, id) + 100000).cast("double") / 100)
        .as("o_totalprice"),
      timestamp_seconds(lit(Epoch1995) + day * 86400).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (ui(5, 14, id) + 1).cast("int")).as("o_orderpriority"))
    save(orders, dir, "orders")

    val ok = col("o_orderkey")
    val ln = col("l_linenumber")
    val qty = (ui(50, 21, ok, ln) + 1).cast("double")
    save(spark.read.parquet(dir.resolve("orders.parquet").toString)
      .select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (ui(7, 20, ok) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        ok.as("l_orderkey"),
        ui(nParts, 22, ok, ln).as("l_partkey"),
        ui(nSupp, 23, ok, ln).as("l_suppkey"),
        ln,
        qty.as("l_quantity"),
        (qty * (ui(100000, 24, ok, ln) + 90000) / 100)
          .cast("decimal(12,2)").cast("double").as("l_extendedprice"),
        (ui(11, 25, ok, ln).cast("double") / 100).as("l_discount"),
        (ui(9, 26, ok, ln).cast("double") / 100).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (ui(3, 27, ok, ln) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (ui(2, 28, ok, ln) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(unix_seconds(col("o_orderdate")) +
          (ui(121, 29, ok, ln) + 1) * 86400).as("l_shipdate")),
      dir, "lineitem")

    save(range(nEvents).select(
      id.as("event_id"),
      timestamp_seconds(lit(Events2024) + id * (29L * 86400) / nEvents +
        ui(60, 31, id)).cast("timestamp_ntz").as("ts"),
      ui(nUsers, 32, id).as("user_id"),
      element_at(array(Seq("click", "error", "purchase", "signup", "view")
          .map(lit): _*), (ui(5, 33, id) + 1).cast("int")).as("event_type"),
      (ui(56022, 34, id).cast("double") / 100).as("value"),
      format_string("{\"k\": %d}", ui(100, 35, id)).as("props")),
      dir, "events")

    // Every tenth document repeats its predecessor's text plus the token
    // `dup`, so exact and near-duplicate detection both find pairs.
    val base = when(id % 10 === 1, id - 1).otherwise(id)
    val vocab = array(Vocab.map(lit): _*)
    val toks = transform(sequence(lit(1), (ui(60, 41, base) + 8).cast("int")),
      i => element_at(vocab, (ui(Vocab.size, 42, base, i) + 1).cast("int")))
    val text = when(id % 10 === 1,
      concat_ws(" ", toks, lit("dup"))).otherwise(concat_ws(" ", toks))
    save(range(nDocs).select(id.as("doc_id"), text.as("text"),
        element_at(array(Seq("de", "en", "es", "fr", "zh").map(lit): _*),
          (ui(5, 43, base) + 1).cast("int")).as("lang"),
        concat(lit("src"), ui(20, 44, base).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      dir, "documents")

    // Ten class centroids plus per-vector noise: cosine neighbours are
    // mostly same-label, so the similarity queries have real structure.
    val label = ui(10, 51, id)
    save(range(nVecs).select(id.as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((ui(2001, 52, label, j) - 1000).cast("double") / 1000 +
            (ui(2001, 53, id, j) - 1000).cast("double") / 2500)
            .cast("float")).as("embedding"),
        label.cast("int").as("label")), dir, "embeddings")
  }
}

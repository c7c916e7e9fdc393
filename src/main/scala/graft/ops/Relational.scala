package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Artifacts
import graft.engine.Tables._

/** Relational operators (SURVEY.md §2 groups A–F): scans, projection/filter,
  * joins, aggregations, windows, sort/limit/set ops.
  *
  * Determinism contract (SURVEY.md §7.3): every query ends with a total
  * `orderBy` over a unique key set, every floating-point output column is
  * rounded (suffix `_r`), and counts/sums are typed to match DuckDB.
  *
  * Scale notes are per-query; the common ones: filters/projections push into
  * the parquet scan (Catalyst), dim joins are broadcast (no shuffle of the
  * fact side), aggregations use partial (map-side) combine automatically.
  */
object Relational {

  // ---- A. scans ----

  /** Committed one-time fixture exports (nation.csv/jsonl). Resolved from
    * the repo root — overridable via -Dgraft.fixtures.dir, defaulting to
    * ./fixtures under the working directory — so the queries and the
    * templated oracle SQL agree wherever the repo is checked out. */
  val fixturesDir: String =
    sys.props.getOrElse("graft.fixtures.dir",
      s"${sys.props("user.dir")}/fixtures")

  /** Full scan, stable total order. At 100 TB this is only ever a sink-copy
    * shape; order comes from the unique PK so output is reproducible. */
  def scanParquet(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).orderBy("l_orderkey", "l_linenumber")

  /** Column pruning + predicate pushdown: .explain shows PushedFilters and a
    * 4-column ReadSchema — the scan never materializes the other 7 cols. */
  def scanPruned(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
             col("l_quantity") < 10)
      .orderBy("l_orderkey", "l_linenumber")

  /** CSV source through the Pipeline façade (header + schema inference) —
    * the declared non-parquet scan. Reads a committed one-time export of
    * the sf0.001 nation table (fixtures/nation.csv); the oracle reads the
    * same file via DuckDB read_csv. Integer columns are cast to BIGINT on
    * both sides because each engine's CSV sniffer picks its own width. */
  def scanCsv(s: SparkSession, d: String): DataFrame =
    graft.engine.Pipeline.csv(s, s"$fixturesDir/nation.csv").df
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
              col("n_name"),
              col("n_regionkey").cast("long").as("n_regionkey"))
      .orderBy("n_nationkey")

  /** JSON-lines source through the Pipeline façade — same committed
    * fixture as [[scanCsv]] in jsonl form; DuckDB read_json_auto oracle.
    * Spark infers int64 for the keys, matching DuckDB's BIGINT. */
  def scanJson(s: SparkSession, d: String): DataFrame =
    graft.engine.Pipeline.json(s, s"$fixturesDir/nation.jsonl").df
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
              col("n_name"),
              col("n_regionkey").cast("long").as("n_regionkey"))
      .orderBy("n_nationkey")

  /** ORC interop: Spark's ORC reader/writer is built in, so an
    * ORC-resident lake scans with the same declarative shape as parquet
    * (pushdown + pruning included). The declared query reads a one-time
    * durable ORC export of the supplier dim ([[ensureOrcExport]]) — the
    * oracle reads the original parquet, so the ORC roundtrip must
    * preserve every value exactly. */
  def scanOrc(s: SparkSession, d: String): DataFrame =
    s.read.orc(ensureOrcExport(s, d))
      .select(col("s_suppkey"), col("s_name"),
              col("s_nationkey").cast("long").as("s_nationkey"),
              round(col("s_acctbal"), 2).as("s_acctbal_r"))
      .orderBy("s_suppkey")

  /** One-time supplier→ORC export per dataset dir (a standing
    * [[Artifacts]] artifact). */
  private[graft] def ensureOrcExport(s: SparkSession, d: String): String =
    exported(s, "orc_supplier", d)(
      supplier(s, d).write.mode("overwrite").orc(_))

  /** A standing export under the warehouse, probed once per session. */
  private def exported(s: SparkSession, name: String, d: String)
                      (write: String => Unit): String =
    Artifacts.memo(s, name, d)(Artifacts.standing(s, name, d)(write))

  /** Schema-evolution source: a two-batch parquet dataset whose batches
    * disagree on schema (batch 1 predates the `o_orderpriority` column),
    * read back with `mergeSchema` so the union schema null-fills the
    * missing column — the ingest reality of any long-lived corpus (new
    * crawls add fields; old files are never rewritten). The export is a
    * standing artifact like the ORC/text exports; the split
    * rule (even/odd order key) is content-stable, so the ORACLE replays
    * the same union from the ORIGINAL orders table with no path coupling.
    *
    * Scale: mergeSchema=true footer-merges at planning time — O(#files)
    * on the driver, which is why production tables pin the merged schema
    * in a catalog instead; the read itself stays an ordinary parallel
    * scan. */
  def scanEvolved(s: SparkSession, d: String): DataFrame = {
    val loc = ensureEvolvedExport(s, d)
    s.read.option("mergeSchema", "true").parquet(s"$loc/b1", s"$loc/b2")
      .select(col("o_orderkey"),
              round(col("o_totalprice"), 2).as("o_totalprice_r"),
              coalesce(col("o_orderpriority"), lit("<pre-schema>"))
                .as("priority"))
      .orderBy("o_orderkey")
  }

  /** Partition-pruned scan as a DECLARED query: orders exported once as a
    * hive-partitioned table (dir per o_orderstatus, a standing artifact)
    * and read back through a partition-column filter — the
    * listing never opens the other partitions' files (PartitionFilters,
    * pinned in Wave13). The oracle replays the same slice from the
    * ORIGINAL table, so equality also proves the partitioned write
    * round-trip. This is §2.A's layout story made checkable end-to-end:
    * at 100 TB the partition column is the date/ingest key and this scan
    * shape is why a day's query doesn't touch a year's files. */
  def scanPartitioned(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensurePartitionedExport(s, d))
      .where(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price_r"),
              col("o_orderstatus"))
      .orderBy("o_orderkey")

  /** DYNAMIC partition pruning as a declared query: the partition filter
    * is not known until runtime — it is the key set surviving a filter on
    * a DIM table (status_class = 'terminal'), and Spark's DPP turns the
    * dim-side broadcast into a `dynamicpruningexpression` partition
    * filter on the fact scan, so non-qualifying partitions are never
    * listed or opened (pinned in Wave16). The dim must be a FILE source:
    * a literal `Seq(...).toDF` collapses through ConvertToLocalRelation
    * and leaves no selective predicate for the PartitionPruning rule to
    * see — the kind of plan fact that only shows up by reading the
    * optimized plan, hence the pin. At 100 TB this is the star-schema
    * date-dim slice: one broadcast of the filtered dim prunes a year of
    * fact partitions down to the requested quarter. Money sums are exact
    * decimals (agg_decimal's contract). */
  def scanDpp(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensurePartitionedExport(s, d))
      .join(s.read.parquet(ensureStatusDimExport(s))
              .where(col("status_class") === "terminal"),
            "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
           sum(expr("CAST(o_totalprice AS DECIMAL(12,2))"))
             .cast("decimal(38,2)").cast("string").as("sum_price"))
      .orderBy("o_orderstatus")

  /** Z-order layout as a DECLARED query: orders exported once Morton-
    * clustered on (o_custkey, o_totalprice) (`Pipeline.sinkZOrder`, a
    * standing artifact), read back through a two-dimensional range
    * filter — the query shape Z-order exists for: parquet row-group
    * min/max stats stay tight on BOTH dimensions, so either predicate
    * skips most row groups, where a plain sort serves only its leading
    * column (Wave9 pins the stats-tightness numbers). The oracle replays
    * the same slice from the ORIGINAL table, so equality also proves the
    * clustered write is content-complete. */
  def scanZorder(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureZorderExport(s, d))
      .where(col("o_custkey").between(100, 200) &&
             col("o_totalprice").between(50000, 150000))
      .select(col("o_orderkey"), col("o_custkey"),
              round(col("o_totalprice"), 2).as("price_r"))
      .orderBy("o_orderkey")

  private[graft] def ensureZorderExport(s: SparkSession, d: String): String =
    exported(s, "zorder_orders", d) { loc =>
      graft.engine.Pipeline(orders(s, d))
        .sinkZOrder(loc, ("o_custkey", "o_totalprice"))
    }

  /** Durable 3-row status dim (status → lifecycle class) backing
    * [[scanDpp]] — parquet-backed so the dim-side filter survives to the
    * optimizer (see scanDpp's doc). Dataset-independent: its one key is
    * the constant "dim" (`graft_status_dim`). */
  private[graft] def ensureStatusDimExport(s: SparkSession): String =
    exported(s, "status", "dim") { loc =>
      import s.implicits._
      Seq(("F", "terminal"), ("O", "open"), ("P", "terminal"))
        .toDF("o_orderstatus", "status_class")
        .coalesce(1).write.mode("overwrite").parquet(loc)
    }

  private[graft] def ensurePartitionedExport(s: SparkSession, d: String)
      : String =
    exported(s, "part_orders", d)(orders(s, d).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(_))

  /** Two batch dirs, each with its own `_SUCCESS`; the artifact's marker
    * covers both (a torn export redoes both). */
  private[graft] def ensureEvolvedExport(s: SparkSession, d: String): String =
    exported(s, "evolved_orders", d) { loc =>
      val o = orders(s, d)
      o.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$loc/b1")
      o.where(pmod(col("o_orderkey"), lit(2)) === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$loc/b2")
    }

  /** Plain-text source (`spark.read.text`): one line per document from a
    * durable newline-free export ([[ensureTextExport]]) — the landing
    * format of raw text dumps. The oracle reads the ORIGINAL parquet
    * table, so the text roundtrip must preserve every character; length
    * is recomputed per line to pin that. At 100 TB this source splits by
    * file/line-block like any other file scan. */
  def scanText(s: SparkSession, d: String): DataFrame =
    s.read.text(ensureTextExport(s, d))
      .select(col("value").as("text"),
              length(col("value")).cast("long").as("n_chars"))
      .orderBy("text")

  /** One-time documents→text export per dataset dir. */
  private[graft] def ensureTextExport(s: SparkSession, d: String): String =
    exported(s, "text_documents", d)(
      documents(s, d).select("text").write.mode("overwrite").text(_))

  /** Binary-file ingestion source (`spark.read.format("binaryFile")`) —
    * the opaque-payload entry point of the multimodal tier: image/audio
    * files land as (path, length, content BINARY) rows and the mm_*
    * operators take over from there (SURVEY §2.K). Declared over the
    * committed fixture files; both engines report (name, size, content
    * md5), so the oracle asserts byte-exact ingestion. At 100 TB this
    * source partitions by file and supports pathGlobFilter/recursive
    * lookup — the standard raw-asset landing pattern. */
  def scanBinaryfile(s: SparkSession, d: String): DataFrame =
    s.read.format("binaryFile").load(fixturesDir)
      .select(element_at(split(col("path"), "/"), -1).as("fname"),
              col("length").as("size"),
              md5(col("content")).as("content_md5"))
      .orderBy("fname")

  /** End-to-end SQL surface: the same engine capabilities (CTE, join,
    * window top-k, aggregate-free filter pushdown) driven purely through
    * `spark.sql` over registered views — the entry path for SQL-first
    * users (spark-sql / thrift / notebooks), exercising the identical
    * Catalyst plan the DataFrame API produces (WindowGroupLimit fires on
    * the rn<=5 filter here exactly as in win_rownum_topk). */
  def sqlCtePipeline(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("graft_orders_v")
    customer(s, d).createOrReplaceTempView("graft_customer_v")
    s.sql("""
      WITH seg_orders AS (
        SELECT c.c_mktsegment AS seg, o.o_orderkey, o.o_totalprice
        FROM graft_orders_v o
        JOIN graft_customer_v c ON o.o_custkey = c.c_custkey
      ), ranked AS (
        SELECT seg, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY seg
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM seg_orders
      )
      SELECT seg, o_orderkey, ROUND(o_totalprice, 2) AS price_r,
             CAST(rn AS BIGINT) AS rn
      FROM ranked WHERE rn <= 5
      ORDER BY seg, rn""")
  }

  /** Synthetic range source (spark.range): the generator every engine
    * ships for test data and dimension scaffolding. Distributed: range
    * splits into partitions; the projection is a narrow map. */
  def scanRange(s: SparkSession, d: String): DataFrame =
    s.range(0, 1000)
      .select(col("id"),
              (col("id") * col("id")).as("sq"),
              pmod(col("id"), lit(7)).as("m7"))
      .orderBy("id")

  // ---- B. projection / filter ----

  /** Per-record map: arithmetic + string expressions (the map verb).
    * Money math runs in DECIMAL: the 2-dp source values hit exact half-cent
    * ties where double rounding differs between engines (11 rows at sf0.01);
    * decimal arithmetic + HALF_UP round is engine-exact. */
  def mapProject(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      expr("""CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
             |  * (1 - CAST(l_discount AS DECIMAL(12,2)))
             |  * (1 + CAST(l_tax AS DECIMAL(12,2))), 2) AS DOUBLE)"""
        .stripMargin).as("charge_r"),
      concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("flag_status")
    ).orderBy("l_orderkey", "l_linenumber")

  /** Compound predicate: AND/OR/NOT, IN, BETWEEN, LIKE, modulo. */
  def filterPred(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderpriority")
      .where(col("o_orderstatus").isin("F", "P") &&
             col("o_totalprice").between(10000, 200000) &&
             (col("o_orderpriority").like("%URGENT%") ||
              col("o_orderpriority").like("5-%")) &&
             !(col("o_custkey") % 10 === 3))
      .orderBy("o_orderkey")

  // ---- C. joins ----

  /** Equi inner join orders⋈customer. At scale: both sides shuffle on the
    * key (SMJ/SHJ); co-locating via bucketing on custkey removes it. */
  def joinInner(s: SparkSession, d: String): DataFrame =
    orders(s, d).join(customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")

  /** Star join: fact ⋈ 3 broadcast dims, then aggregate. The broadcast()
    * hints keep the 600k-row (→100 TB) fact side shuffle-free until the
    * final groupBy; dims are ≤ a few MB at any scale. */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("cnt"),
           round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
             .as("revenue_r"))
      .orderBy("r_name", "n_name")

  // ---- D. aggregations ----

  /** TPC-H Q1-style pricing summary: filter → groupBy → multi-agg.
    * Partial aggregation makes this a single shuffle of 6 groups. */
  def aggPricingSummary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty_r"),
        round(sum("l_extendedprice"), 2).as("sum_base_r"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_r"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
                  (lit(1) + col("l_tax"))), 2).as("sum_charge_r"),
        round(avg("l_quantity"), 4).as("avg_qty_r"),
        round(avg("l_extendedprice"), 4).as("avg_price_r"),
        round(avg("l_discount"), 4).as("avg_disc_r"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Exact distinct counts. At scale COUNT(DISTINCT x, y) expands to two
    * aggregations; HLL (approx_count_distinct) is the 100 TB path (§2.D T3). */
  def aggCountDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      countDistinct(col("l_partkey")).as("d_part"),
      countDistinct(col("l_suppkey")).as("d_supp"))

  /** Exact interpolated percentiles (median, p90) per return flag — both
    * engines implement linear-interpolation percentile_cont semantics. */
  def aggPercentiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_r"),
           round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_r"))
      .orderBy("l_returnflag")

  /** Statistical aggregates: stddev/variance/correlation/covariance.
    * NOT the built-in stddev/corr: Welford partials merge in a different
    * order per engine, so values landing near a round(·,4) boundary flip a
    * digit and break the hash-match. Instead the moments are accumulated as
    * EXACT decimal sums (inputs are fixed-dp, so Σx/Σx²/Σxy are exact in
    * both engines regardless of merge order), and the final algebra runs in
    * double with the textually identical formula as the oracle SQL —
    * bitwise-identical IEEE results. Same single-shuffle partial-agg plan
    * as the built-ins. */
  def aggStats(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))"))
          .cast("double").as("sp"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))"))
          .cast("double").as("spp"),
        sum(expr("CAST(l_quantity AS DECIMAL(18,2))")).cast("double").as("sq"),
        sum(expr("CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))"))
          .cast("double").as("sqq"),
        sum(expr("CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))"))
          .cast("double").as("sqp"),
        sum(expr("CAST(l_discount AS DECIMAL(18,2))")).cast("double").as("sd"),
        sum(expr("CAST(l_tax AS DECIMAL(18,2))")).cast("double").as("st"),
        sum(expr("CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))"))
          .cast("double").as("sdt"))
      .select(col("l_returnflag"),
        // + 0.0 normalizes IEEE -0.0 (ROUND of a tiny negative) to +0.0 —
        // the driver comparator hashes raw float bits, so -0.0 != 0.0 there.
        expr("ROUND(sqrt((spp - sp * sp / n) / (n - 1)), 4) + 0.0").as("sd_price_r"),
        expr("ROUND((sqq - sq * sq / n) / (n - 1), 4) + 0.0").as("var_qty_r"),
        expr("ROUND((sqp - sq * sp / n) / sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)), 4) + 0.0")
          .as("corr_qp_r"),
        expr("ROUND((sdt - sd * st / n) / (n - 1), 6) + 0.0").as("cov_dt_r"))
      .orderBy("l_returnflag")

  /** Skewness + kurtosis from EXACT decimal power sums, extending
    * [[aggStats]]'s playbook to the 3rd/4th moments: Σx/Σx²/Σx³/Σx⁴ are
    * exact decimals in both engines regardless of merge order, and the
    * raw-moment algebra (m3/m2^1.5, m4/m2²−3, population form — what the
    * builtins compute) runs in double with textually identical formulas.
    * Decimal widths are picked so no product exceeds 38 digits in EITHER
    * engine's multiply rules: quantity as DECIMAL(7,2) (x⁴ → 31,8 in
    * Spark, 28,8 in DuckDB), price as DECIMAL(9,2) up to x³ only (x⁴
    * would overflow Spark's cap and silently round). Same single-shuffle
    * partial-agg plan as the built-in moments. */
  def aggSkewKurt(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(expr("CAST(l_quantity AS DECIMAL(7,2))")).cast("double").as("s1"),
        sum(expr("CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))"))
          .cast("double").as("s2"),
        sum(expr("CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))"))
          .cast("double").as("s3"),
        sum(expr("CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))"))
          .cast("double").as("s4"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(9,2))"))
          .cast("double").as("p1"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(9,2))"))
          .cast("double").as("p2"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(9,2))"))
          .cast("double").as("p3"))
      .select(col("l_returnflag"),
        expr("ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n)) / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 4) + 0.0")
          .as("skew_qty_r"),
        expr("ROUND((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n) - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3, 4) + 0.0")
          .as("kurt_qty_r"),
        expr("ROUND((p3 / n - 3 * (p1 / n) * (p2 / n) + 2 * (p1 / n) * (p1 / n) * (p1 / n)) / pow(p2 / n - (p1 / n) * (p1 / n), 1.5), 4) + 0.0")
          .as("skew_price_r"))
      .orderBy("l_returnflag")

  /** Pearson correlation + sample/population covariance of (quantity,
    * price) per return flag, from EXACT decimal cross sums — the
    * agg_skew_kurt playbook on two variables: Σx Σy Σxy Σx² Σy² are
    * order-independent decimals (the builtins' streaming co-moment
    * updates would ulp-drift with partition order), then ONE double
    * formula with the identical op sequence on both engines,
    * floor-quantized. Same single-shuffle partial-agg plan as any
    * grouped sum; decimal widths keep every product under the 38-digit
    * cap (q DECIMAL(7,2) × p DECIMAL(9,2) → (17,4)). */
  def aggCorr(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(expr("CAST(l_quantity AS DECIMAL(7,2))")).cast("double").as("sx"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(9,2))")).cast("double").as("sy"),
        sum(expr("CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_extendedprice AS DECIMAL(9,2))"))
          .cast("double").as("sxy"),
        sum(expr("CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))"))
          .cast("double").as("sxx"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(9,2))"))
          .cast("double").as("syy"))
      .select(col("l_returnflag"),
        expr("""CAST(FLOOR((sxy - sx * sy / n)
                  / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n))
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0""")
          .as("corr_r"),
        expr("""CAST(FLOOR((sxy - sx * sy / n) / (n - 1.0)
                  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""").as("covs_r"),
        expr("""CAST(FLOOR((sxy - sx * sy / n) / n
                  * 10000.0 + 0.5) AS DOUBLE) / 10000.0""").as("covp_r"))
      .orderBy("l_returnflag")

  /** Gini coefficient of customer spend per nation — the inequality
    * read-out (how concentrated is revenue across customers?) via the
    * rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-
    * sorted spend. Everything before the final formula is exact: spend
    * is a decimal sum, ranks are row_number with a total (spend, key)
    * order so ties cannot reorder across engines, and Σ(i·xᵢ) multiplies
    * an integer rank into the decimal — the one double division happens
    * once per nation, floor-quantized.
    *
    * Scale: the window ranks CUSTOMERS within a nation (post-aggregation
    * cardinality), not orders; the raw fact stream collapses at the
    * per-customer partial agg. A nation's customer set is the partition
    * bound — for a single giant class, pre-bucket by spend quantile and
    * use the grouped-Gini decomposition. */
  def aggGini(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("n_name")
      .orderBy(col("spend").asc, col("c_custkey").asc)
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "c_custkey")
      .agg(sum(expr("CAST(o_totalprice AS DECIMAL(18,2))")).as("spend"))
      .withColumn("rn", row_number().over(w))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"),
           sum(col("spend")).cast("double").as("sx"),
           sum(expr("CAST(rn AS DECIMAL(10,0)) * spend"))
             .cast("double").as("six"))
      .select(col("n_name"), col("n_cust"),
        expr("""CAST(FLOOR((2.0 * six / (CAST(n_cust AS DOUBLE) * sx)
                  - (CAST(n_cust AS DOUBLE) + 1.0) / CAST(n_cust AS DOUBLE))
                  * 10000.0 + 0.5) AS DOUBLE) / 10000.0 + 0.0""")
          .as("gini_r"))
      .orderBy("n_name")
  }

  /** TPC-H Q5-shaped star join: local-supplier revenue per nation — six
    * relations (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈
    * region) with the classic same-nation residual
    * (s_nationkey = c_nationkey), a date-range fact filter, and a region
    * slice. The whole chain plans as one pipelined BroadcastHashJoin
    * cascade over a single lineitem scan at this scale; revenue is the
    * exact decimal product formulation (ulp-proof under any partial-agg
    * order).
    *
    * Scale: orders/customer stop being broadcastable at fact-scale —
    * that is exactly the CBO/bucketing story ([[joinBucketed]],
    * [[graft.ops.StatsOps.joinCboReorder]]); the date filter pushes to
    * the orders scan and region/nation stay broadcast at any scale. */
  def joinStarSchema(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d)
              .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                     col("o_orderdate") <  lit("1998-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
                            col("s_nationkey") === col("c_nationkey"))
      .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name").isin("ASIA", "EUROPE"))
      .groupBy("n_name")
      .agg(sum(expr(
             "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
             "(CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"))
             .cast("double").as("rev"),
           count(lit(1)).as("n_items"))
      .select(col("n_name"),
              expr("ROUND(rev, 2) + 0.0").as("revenue_r"), col("n_items"))
      .orderBy(col("revenue_r").desc, col("n_name"))

  /** Welch's two-sample t-test of finished ('F') vs open ('O') order
    * value per priority class — the A/B-experiment read-out shape (metric
    * delta between two cohorts, unequal variances). The decimal-moment
    * playbook of [[aggStats]]/[[aggCorr]] applies verbatim: per-cohort
    * n/Σx/Σx² as EXACT conditional decimal sums in ONE grouped scan (no
    * per-cohort subqueries, no second shuffle), then the t statistic and
    * Welch–Satterthwaite df in one double formula with the identical op
    * sequence on both engines, floor-quantized. At 100 TB this is a
    * single partial-agg pass over the fact table — the naive two-query
    * per-cohort formulation scans twice and joins. */
  def aggTtest(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .where(col("o_orderstatus").isin("F", "O"))
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .cast("double").as("n1"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L))
          .cast("double").as("n2"),
        sum(expr("CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END"))
          .cast("double").as("s1"),
        sum(expr("CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END"))
          .cast("double").as("s2"),
        sum(expr("CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) END"))
          .cast("double").as("q1"),
        sum(expr("CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) END"))
          .cast("double").as("q2"))
      .select(col("o_orderpriority"),
        col("n1").cast("long").as("n_f"),
        col("n2").cast("long").as("n_o"),
        expr("""CAST(FLOOR((s1 / n1 - s2 / n2)
                  / SQRT((q1 - s1 * s1 / n1) / (n1 - 1.0) / n1
                       + (q2 - s2 * s2 / n2) / (n2 - 1.0) / n2)
                  * 10000.0 + 0.5) AS DOUBLE) / 10000.0 + 0.0""").as("t_r"),
        expr("""CAST(FLOOR(((q1 - s1 * s1 / n1) / (n1 - 1.0) / n1
                          + (q2 - s2 * s2 / n2) / (n2 - 1.0) / n2)
                  * ((q1 - s1 * s1 / n1) / (n1 - 1.0) / n1
                   + (q2 - s2 * s2 / n2) / (n2 - 1.0) / n2)
                  / ((q1 - s1 * s1 / n1) / (n1 - 1.0) / n1
                     * ((q1 - s1 * s1 / n1) / (n1 - 1.0) / n1) / (n1 - 1.0)
                   + (q2 - s2 * s2 / n2) / (n2 - 1.0) / n2
                     * ((q2 - s2 * s2 / n2) / (n2 - 1.0) / n2) / (n2 - 1.0))
                  * 100.0 + 0.5) AS DOUBLE) / 100.0 + 0.0""").as("df_r"))
      .orderBy("o_orderpriority")

  /** Point-in-range dimension join: classify each order into a literal
    * price band ([lo, hi) intervals) — the IP→geo / value→tier lookup
    * shape. The band table is a tiny broadcast, so the non-equi predicate
    * runs as a BroadcastNestedLoopJoin with an O(|bands|) probe per row —
    * for a literal dimension of a few dozen intervals that IS the right
    * plan (each row streams through once, no shuffle, no pair blowup
    * because bands partition the domain). When the interval dimension is
    * itself large, this shape is wrong and the bucket-expansion equi-join
    * of [[joinIntervalOverlap]] applies instead. */
  def joinPointInRange(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("T1_budget",        0.0, 100000.0),
      ("T2_mid",      100000.0, 250000.0),
      ("T3_high",     250000.0, 400000.0),
      ("T4_premium",  400000.0, 1000000.0)).toDF("band", "lo", "hi")
    orders(s, d)
      .join(broadcast(bands),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_orders"),
           sum(expr("CAST(o_totalprice AS DECIMAL(18,2))"))
             .cast("double").as("total_value"))
      .select(col("band"), col("n_orders"),
              expr("ROUND(total_value, 2) + 0.0").as("total_value_r"))
      .orderBy("band")
  }

  /** HLL approximate distinct — the 100 TB replacement for exact distinct.
    * No oracle: HLL sketches differ across engines (SURVEY §2.D); the unit
    * test bounds relative error against the exact count instead. */
  def aggApproxDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      approx_count_distinct(col("l_partkey")).as("apx_part"),
      approx_count_distinct(col("l_suppkey")).as("apx_supp"))

  /** Approximate percentiles per return flag — the other must-have sketch
    * at 100 TB (quantile over a column too big to sort). Spark's
    * approx_percentile is a mergeable KLL/GK-style sketch: partial
    * aggregation per partition, one small-state merge at the reducer — no
    * global sort. No oracle: sketch internals differ across engines; the
    * unit test bounds the result against the exact percentile instead
    * (accuracy 10000 → rank error <= n/10000). */
  def aggApproxPercentile(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap50"),
           expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("ap90"))
      .orderBy("l_returnflag")

  /** Money aggregation end-to-end in DECIMAL — the type a billing pipeline
    * must carry: output columns ARE decimal, not rounded doubles. Every
    * intermediate is cast to an explicit (precision, scale) on both
    * engines, because each engine's implicit decimal-arithmetic widening
    * rules differ; with pinned scales the arithmetic is exact integer
    * math and the hash-match is unconditional (no rounding boundaries at
    * all, unlike the double queries). The FINAL projection serializes
    * each decimal to its exact scale-pinned string: the comparator's
    * decimal handling is representation-sensitive (a trailing-zero cell
    * like 132710.30 collapses to '132710.3' on a float-converting read
    * path — CORRECTNESS_r02), and a string output is read identically by
    * every path while still proving the exact-decimal pipeline. */
  def aggDecimal(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(expr("CAST(l_extendedprice AS DECIMAL(12,2))"))
          .cast("decimal(38,2)").cast("string").as("sum_base"),
        sum(expr("""CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                   |  * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                   |  AS DECIMAL(18,4))""".stripMargin))
          .cast("decimal(38,4)").cast("string").as("sum_disc_price"),
        sum(expr("""CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                   |  * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                   |  AS DECIMAL(18,4))
                   |  * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))
                   |  AS DECIMAL(24,6))""".stripMargin))
          .cast("decimal(38,6)").cast("string").as("sum_charge"))
      .orderBy("l_returnflag")

  /** Seeded Bernoulli sample — reproducible subsampling (same seed ⇒ same
    * rows, a partition-local narrow op, no shuffle). No SQL oracle: each
    * engine's sampler draws from its own RNG; reproducibility and fraction
    * bounds are property-tested instead. For engine-portable splits use
    * [[graft.ops.TextOps.dataSplit]]. */
  def sampleSeeded(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .sample(withReplacement = false, fraction = 0.1, seed = 41L)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** String aggregation (GROUP_CONCAT/listagg): sorted, comma-joined
    * order priorities per status. Sorting before joining is the
    * engine-independent contract (aggregation order is arbitrary). */
  def aggStringagg(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(concat_ws(",",
             array_sort(collect_set(col("o_orderpriority"))))
             .as("priorities"))
      .orderBy("o_orderstatus")

  /** Linear regression per group (regr_slope/intercept/r2 semantics),
    * computed from exact DECIMAL moment sums like [[aggStats]] — the
    * built-in regr_* aggregates merge partials in engine-specific order
    * and cannot reliably hash-match. x = quantity, y = extendedprice. */
  def aggRegression(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(expr("CAST(l_quantity AS DECIMAL(18,2))")).cast("double").as("sx"),
        sum(expr("CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))"))
          .cast("double").as("sxx"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))")).cast("double").as("sy"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))"))
          .cast("double").as("syy"),
        sum(expr("CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))"))
          .cast("double").as("sxy"))
      .select(col("l_returnflag"),
        expr("ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0")
          .as("slope_r"),
        expr("ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4) + 0.0")
          .as("intercept_r"),
        expr("ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0")
          .as("r2_r"))
      .orderBy("l_returnflag")

  /** Unpivot (melt): wide aggregate → long (flag, metric, val) — the
    * inverse of agg_pivot. Sums run in DECIMAL then cast to double once
    * (exact either way); unpivot itself is a zero-shuffle Expand. */
  def aggUnpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double")
             .as("sum_qty"),
           sum(expr("CAST(l_extendedprice AS DECIMAL(12,2))")).cast("double")
             .as("sum_price"),
           sum(expr("CAST(l_discount AS DECIMAL(12,2))")).cast("double")
             .as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
               Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
               "metric", "val")
      .orderBy("l_returnflag", "metric")

  /** RANGE-frame window: per-customer 30-day trailing revenue. The frame
    * is defined by the ORDER-BY VALUE (epoch seconds), not row position —
    * peers at the same instant aggregate together, gaps shrink the frame.
    * Sum runs in DECIMAL (exact under any peer-merge order); the output
    * serializes it to the scale-pinned string — see [[aggDecimal]] for
    * why decimal-typed output columns are comparator hazards. */
  def winRangeFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(unix_timestamp(col("o_orderdate")))
      .rangeBetween(-2592000L, Window.currentRow)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(expr("CAST(o_totalprice AS DECIMAL(12,2))")).over(w)
          .cast("decimal(38,2)").cast("string").as("sum30d"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Skew-salted equi join, oracle-checked row-identical to the plain
    * join: lineitem ⋈ orders with the build side replicated 4× and the
    * probe side scattered by a restart-stable row hash
    * ([[graft.engine.Scale.saltedJoin]]). The declared query proves the
    * rewrite is semantics-preserving; at 100 TB it is the manual escape
    * hatch for a single monster key AQE cannot split. */
  def joinSalted(s: SparkSession, d: String): DataFrame = {
    val probe = lineitem(s, d).select("l_orderkey", "l_extendedprice")
    val build = orders(s, d)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.engine.Scale.saltedJoin(probe, build, "l_orderkey", 4)
      .groupBy("o_orderpriority")
      .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(12,2))"))
             .cast("decimal(38,2)").cast("string").as("revenue"),
           count(lit(1)).as("cnt"))
      .orderBy("o_orderpriority")
  }

  /** EXISTS / NOT EXISTS correlated subqueries — the remaining subquery
    * syntax form (rewritten to the same semi/anti joins as IN, but via
    * the correlated-predicate path): suppliers in a nation with at least
    * one large order's customer... kept simple: customers with an urgent
    * order (EXISTS) and without any 5-LOW order (NOT EXISTS). */
  def subExists(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("sq_orders")
    customer(s, d).createOrReplaceTempView("sq_customer")
    s.sql(
      """SELECT c_custkey, c_mktsegment
        |FROM sq_customer c
        |WHERE EXISTS (SELECT 1 FROM sq_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM sq_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '5-LOW')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** LATERAL correlated table subquery: top-2 orders per customer. The
    * third subquery rewrite path (after scalar and IN): Catalyst
    * decorrelates the per-row ORDER BY+LIMIT into a partitioned window
    * rank — the same physical shape as win_rownum_topk, written the way
    * SQL users actually write it. */
  def joinLateral(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("lat_customer")
    orders(s, d).createOrReplaceTempView("lat_orders")
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM lat_customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM lat_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, o_orderkey""".stripMargin)
  }

  // ---- D'. subqueries (Catalyst rewrite path) ----

  /** Correlated scalar subquery: orders priced above their customer's
    * average order value. Written as SQL because this exercises Catalyst's
    * RewriteCorrelatedScalarSubquery — the subquery is decorrelated into an
    * aggregate joined back on o_custkey (one shuffle on the key, no
    * per-row re-execution), which is how EXISTS/IN-style analytics scale.
    * The average is the exact DECIMAL sum cast to double, divided by the
    * count with the formula textually identical to the oracle SQL, so the
    * boundary comparison is IEEE-identical across engines. */
  def subScalar(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("sq_orders")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM sq_orders o
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           / COUNT(*)
        |  FROM sq_orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** IN + NOT IN subqueries: customers with an urgent order and no large
    * finished order. Catalyst rewrites IN → left-semi join and NOT IN →
    * null-aware left-anti join; both shuffle once on the key (o_custkey is
    * non-null here, so the null-aware path degenerates to a plain anti
    * join at runtime). */
  def subIn(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("sq_orders")
    customer(s, d).createOrReplaceTempView("sq_customer")
    s.sql(
      """SELECT c_custkey, c_name, c_acctbal
        |FROM sq_customer
        |WHERE c_custkey IN (SELECT o_custkey FROM sq_orders
        |                    WHERE o_orderpriority = '1-URGENT')
        |  AND c_custkey NOT IN (SELECT o_custkey FROM sq_orders
        |                        WHERE o_orderstatus = 'F'
        |                          AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)
  }

  // ---- E. windows ----

  /** Top-3 orders per customer by date. Unique tiebreaker o_orderkey in the
    * window ORDER BY makes row_number deterministic (SURVEY §7.3). */
  def winRownumTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"),
                                                    col("o_orderkey"))
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  // ---- F. sort / limit / top-k ----

  /** Multi-column global sort asc/desc. Spark range-partitions the sort at
    * scale (sampled boundaries), so it stays distributed. */
  def sortMulti(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .orderBy(col("c_nationkey").asc, col("c_acctbal").desc,
               col("c_custkey").asc)

  /** agg → sort → limit: top-10 orders by revenue. The limit pushes a
    * per-partition TakeOrdered before the final merge — no global sort. */
  def topkGlobal(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
             .as("revenue_r"))
      .orderBy(col("revenue_r").desc, col("l_orderkey").asc)
      .limit(10)

  // ---- C. joins (wave 2) ----

  /** Left outer: keep customers with no matching order rows. Null join
    * columns sort NULLS FIRST explicitly — Spark and DuckDB defaults
    * disagree (SURVEY §7.3). */
  def joinLeftOuter(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).where(col("o_totalprice") > 250000),
            col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
              col("o_totalprice"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)

  /** Full outer over deliberately disjoint-ish key subsets so rows appear
    * null on both sides. */
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).where(col("c_custkey") % 2 === 0)
      .select("c_custkey", "c_name")
    val o = orders(s, d).where(col("o_custkey") % 3 === 0)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
           round(sum("o_totalprice"), 2).as("total_r"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full")
      .select(col("c_custkey"), col("c_name"), col("o_custkey"),
              col("n_orders"), col("total_r"))
      .orderBy(col("c_custkey").asc_nulls_first,
               col("o_custkey").asc_nulls_first)
  }

  /** Left semi (EXISTS): customers with at least one big order. */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).where(col("o_totalprice") > 100000),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Left anti (NOT EXISTS): parts never shipped. */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .join(lineitem(s, d), col("p_partkey") === col("l_partkey"),
            "left_anti")
      .select("p_partkey", "p_name", "p_brand")
      .orderBy("p_partkey")

  /** Cross join nation × region (25 × 5 — only ever sane on small dims). */
  def joinCross(s: SparkSession, d: String): DataFrame =
    nation(s, d).select("n_name")
      .crossJoin(region(s, d).select("r_name"))
      .orderBy("n_name", "r_name")

  /** Non-equi range join: event pairs per user within 10 minutes. Executes
    * as an equi join on user_id with the range as residual condition, so it
    * shuffles only on user — the scalable shape for self-range-joins. */
  /** Theta/range self-join (pairs of same-user events ≤ 10 min apart) as
    * a BINNED range join: both sides get a 10-minute time bucket, the
    * probe side additionally probes its successor bucket (a qualifying
    * b.ts ∈ (a.ts, a.ts+10min] can only land in a's bucket or the next
    * one — a provable candidate superset), and the bucket joins the
    * equi-key alongside user_id. The exact range predicates stay in the
    * join condition, so output is oracle-identical — but the SMJ now
    * evaluates only same-(user, bucket) candidates instead of every
    * same-user pair: at 100 TB per-user histories grow with retention
    * and the unbinned join's per-key cartesian grows quadratically with
    * them, while the binned key keeps candidate groups at
    * O(events per user per window). */
  def joinThetaRange(s: SparkSession, d: String): DataFrame = {
    val bk = (unix_timestamp(col("ts")) / 600L).cast("long")
    val a = events(s, d)
      .select(col("user_id"), col("event_id").as("id_a"),
              col("ts").as("ts_a"),
              explode(array(bk, bk + 1)).as("pbk"))
    val b = events(s, d)
      .select(col("user_id").as("user_b"), col("event_id").as("id_b"),
              col("ts").as("ts_b"), bk.as("bk_b"))
    a.join(b, col("user_id") === col("user_b") &&
              col("pbk") === col("bk_b") &&
              col("ts_a") < col("ts_b") &&
              col("ts_b") <= col("ts_a") + expr("INTERVAL 10 MINUTES"))
      .select("user_id", "id_a", "id_b")
      .orderBy("user_id", "id_a", "id_b")
  }

  /** As-of join: for each purchase, the latest strictly-prior click by the
    * same user. Composed as equi-join on user + an argmax aggregation
    * (Spark has no public joinAsOf). `max(struct(c_ts, c_id))` replaces the
    * earlier per-purchase window rank: the max folds map-side into the
    * partial aggregate, so the (purchase × prior click) pair stream never
    * gets sorted or re-shuffled whole — one partial-agg shuffle of a single
    * row per purchase instead of a window sort over every pair. struct
    * ordering is lexicographic, matching the (c_ts DESC, c_id DESC)
    * tie-break, and `max` skips the nulls a left join leaves for
    * purchases with no prior click. */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val p = events(s, d).where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
              col("ts").as("p_ts"))
    val c = events(s, d).where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
              col("ts").as("c_ts"))
    p.join(c, col("user_id") === col("c_user") && col("c_ts") < col("p_ts"),
           "left")
      .groupBy("user_id", "p_id", "p_ts")
      .agg(max(struct(col("c_ts"), col("c_id"))).as("t"))
      .select(col("user_id"), col("p_id"), col("p_ts"),
              col("t.c_id").as("c_id"), col("t.c_ts").as("c_ts"))
      .orderBy("p_id")
  }

  /** As-of join with a TOLERANCE bound (pandas merge_asof's `tolerance`,
    * kdb's windowed aj): each purchase takes the latest prior click
    * WITHIN 1 HOUR — older clicks don't count as attribution. The extra
    * bound tightens the inequality join's band, which at scale is a
    * plan improvement, not just semantics: the per-user pair stream is
    * clipped to the tolerance window instead of every click in the
    * user's history (hot users stop being quadratic in account age).
    * Purchases with no in-window click keep a NULL match — the
    * "unattributed conversion" rows a funnel report needs. */
  def joinAsofTolerance(s: SparkSession, d: String): DataFrame = {
    val p = events(s, d).where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
              col("ts").as("p_ts"))
    val c = events(s, d).where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
              col("ts").as("c_ts"))
    p.join(c, col("user_id") === col("c_user") &&
             col("c_ts") < col("p_ts") &&
             col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
           "left")
      .groupBy("user_id", "p_id", "p_ts")
      .agg(max(struct(col("c_ts"), col("c_id"))).as("t"))
      .select(col("user_id"), col("p_id"), col("p_ts"),
              col("t.c_id").as("c_id"), col("t.c_ts").as("c_ts"))
      .orderBy("p_id")
  }

  /** Scale-superior as-of twin: instead of [[joinAsof]]'s per-user
    * inequality join (whose pair stream grows with clicks×purchases on a
    * hot user), ONE scan tags both event kinds, ONE user_id sort orders
    * them by (ts, kind, id), and each purchase reads the latest click
    * seen so far from an IGNORE NULLS running window — O(n log n) with a
    * single exchange and no quadratic pair blowup. Purchases sort before
    * clicks at equal ts (kind 0 < 1), reproducing the strict
    * c_ts < p_ts bound; within equal-ts clicks the id sort makes `last`
    * pick the max id — the exact argmax tiebreak of [[joinAsof]], so the
    * two queries are row-identical (the spec pins it; the oracle is the
    * same SQL). */
  def joinAsofSorted(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"),
              when(col("event_type") === "click", 1).otherwise(0)
                .as("kind"),
              col("event_id"))
      .select(col("user_id"), col("ts"), col("kind"), col("event_id"),
              last(when(col("kind") === 1,
                        struct(col("ts"), col("event_id"))),
                   ignoreNulls = true).over(w).as("lastc"))
      .where(col("kind") === 0)
      .select(col("user_id"), col("event_id").as("p_id"),
              col("ts").as("p_ts"), col("lastc.event_id").as("c_id"),
              col("lastc.ts").as("c_ts"))
      .orderBy("p_id")
  }

  // ---- D. aggregations (wave 2) ----

  /** Multi-key group + HAVING. */
  def aggMultikeyHaving(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
           round(avg("o_totalprice"), 2).as("avg_price_r"))
      .where(col("cnt") > 20)
      .orderBy("n_name", "o_orderstatus")

  /** Conditional (pivot-style) aggregation: sum(when) per event_type. */
  def aggConditional(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .agg(
        round(sum(when(col("event_type") === "click", col("value"))
          .otherwise(0.0)), 2).as("click_value_r"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)), 2).as("purchase_value_r"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
      .orderBy("user_id")

  /** GROUPING SETS ((flag), (status), ()). Only natural columns in the
    * output (no grouping-id bitmaps — engine-specific, SURVEY §7.4). */
  def aggGroupingSets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty_r"))
      .orderBy(col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  /** ROLLUP region → nation, via the SQL entry point: the DataFrame rollup
    * after a join chain trips Spark's ambiguous-self-join detector on the
    * Expand duplicates; the SQL path resolves cleanly and plans the same. */
  def aggRollup(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("graft_customer")
    nation(s, d).createOrReplaceTempView("graft_nation")
    region(s, d).createOrReplaceTempView("graft_region")
    s.sql(
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  ROUND(SUM(c_acctbal), 2) AS sum_bal_r
        |FROM graft_customer
        |JOIN graft_nation ON c_nationkey = n_nationkey
        |JOIN graft_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  /** CUBE (returnflag, linestatus). */
  def aggCube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
           round(sum("l_extendedprice"), 2).as("sum_price_r"))
      .orderBy(col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  /** Per-customer sorted order-key list (sorted array, never a map —
    * map iteration order is nondeterministic, SURVEY §7.3). Output is the
    * comma-joined string form: the driver comparator hashes cell values and
    * cannot hash array cells, so the engine-independent contract is the
    * serialized list (Spark concat_ws ↔ DuckDB array_to_string). */
  def aggCollectSorted(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_custkey")
      .agg(concat_ws(",",
        transform(sort_array(collect_list("o_orderkey")), _.cast("string")))
        .as("order_keys"))
      .orderBy("o_custkey")

  // ---- E. windows (wave 2) ----

  /** rank + dense_rank of parts by price per brand, top-5 ranks. Tied
    * prices share a rank, which is deterministic without a tiebreaker;
    * the output order uses the unique p_partkey. */
  def winRankDense(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc)
    part(s, d)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .where(col("rnk") <= 5)
      .orderBy("p_brand", "p_partkey")
  }

  /** lag/lead per user over event time. */
  def winLagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .select(col("user_id"), col("event_id"),
              round(col("value") - lag("value", 1).over(w), 2)
                .as("delta_prev_r"),
              lead("event_id", 1).over(w).as("next_event_id"))
      .orderBy("user_id", "event_id")
  }

  /** Running revenue per customer (ROWS UNBOUNDED PRECEDING). Sequential
    * accumulation order is fixed by the unique window sort, so doubles
    * match the oracle bitwise before rounding. */
  def winRunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
              round(sum("o_totalprice").over(w), 2).as("run_total_r"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** 7-row moving average of order totals per customer. Rounded at 4 dp,
    * not 2: sum/7 of 2-dp money lands on exact half-cent ties where engine
    * rounding differs (98 rows at sf0.01), while no divisor in 1..7 can
    * produce an exact 4-dp tie. */
  def winMovingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-6, Window.currentRow)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
              round(avg("o_totalprice").over(w), 4).as("mavg_r"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Quartiles + percent_rank of account balance per market segment. */
  def winNtilePctrank(s: SparkSession, d: String): DataFrame = {
    val wt = Window.partitionBy("c_mktsegment")
      .orderBy("c_acctbal", "c_custkey")
    val wp = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    customer(s, d)
      .select(col("c_mktsegment"), col("c_custkey"),
              ntile(4).over(wt).cast("long").as("quartile"),
              round(percent_rank().over(wp), 4).as("pct_r"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** first/last order key per customer via an unbounded frame. */
  def winFirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
              first("o_orderkey").over(w).as("first_key"),
              last("o_orderkey").over(w).as("last_key"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** cume_dist + nth_value complete the ranking-function family.
    * Deliberately NO WindowGroupLimit pin here (unlike win_rownum_topk /
    * win_rank_dense): the query emits EVERY row and both functions need
    * the full partition (cume_dist's denominator is the partition size,
    * nth_value's frame is unbounded) — a group limit is semantically
    * inapplicable, not missing. */
  def winDistNth(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    val wf = Window.partitionBy("c_mktsegment")
      .orderBy("c_acctbal", "c_custkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    customer(s, d)
      .select(col("c_mktsegment"), col("c_custkey"),
              round(cume_dist().over(w), 4).as("cdist_r"),
              nth_value(col("c_custkey"), 2).over(wf).as("second_key"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** Native pivot: per-user event counts by type. Spark leaves missing
    * combinations null while DuckDB PIVOT counts 0 — coalesce on the
    * Spark side pins the shared semantics. */
  def aggPivot(s: SparkSession, d: String): DataFrame = {
    val p = events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "purchase", "view"))
      .agg(count(lit(1)))
    p.select(col("user_id"),
             coalesce(col("click"), lit(0L)).as("click"),
             coalesce(col("purchase"), lit(0L)).as("purchase"),
             coalesce(col("view"), lit(0L)).as("view"))
      .orderBy("user_id")
  }

  /** Deterministic pagination: global sort + OFFSET/LIMIT page. */
  def sortPagination(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
      .offset(100)
      .limit(20)

  // ---- F. set ops (wave 2) ----

  private def buildingKeys(s: SparkSession, d: String): DataFrame =
    customer(s, d).where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
  private def richKeys(s: SparkSession, d: String): DataFrame =
    customer(s, d).where(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("k"))

  def setUnionAll(s: SparkSession, d: String): DataFrame =
    buildingKeys(s, d).unionAll(richKeys(s, d)).orderBy("k")

  def setUnionDistinct(s: SparkSession, d: String): DataFrame =
    buildingKeys(s, d).union(richKeys(s, d)).distinct().orderBy("k")

  def setIntersect(s: SparkSession, d: String): DataFrame =
    buildingKeys(s, d).intersect(richKeys(s, d)).orderBy("k")

  def setExcept(s: SparkSession, d: String): DataFrame =
    buildingKeys(s, d).except(richKeys(s, d)).orderBy("k")

  // Multiset (ALL) set-op variants: inputs carry duplicates (a customer
  // appears once per order), and the ALL semantics preserve multiplicity —
  // |A EXCEPT ALL B| = Σ_k max(count_A(k) - count_B(k), 0). Spark plans
  // these as an aggregate on counts, not a distinct — one shuffle.
  private def fKeys(s: SparkSession, d: String): DataFrame =
    orders(s, d).where(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
  private def oKeys(s: SparkSession, d: String): DataFrame =
    orders(s, d).where(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("k"))

  def setExceptAll(s: SparkSession, d: String): DataFrame =
    fKeys(s, d).exceptAll(oKeys(s, d)).orderBy("k")

  def setIntersectAll(s: SparkSession, d: String): DataFrame =
    fKeys(s, d).intersectAll(oKeys(s, d)).orderBy("k")

  /** Boolean aggregates: bool_and / bool_or per group — partial-aggregable
    * (AND/OR are associative), so they map-side combine like sum. */
  def aggBool(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
           expr("bool_or(o_totalprice > 400000)").as("any_over_400k"),
           count(lit(1)).as("cnt"))
      .orderBy("o_orderstatus")

  /** cume_dist: fraction of rows at-or-below each acctbal per segment. */
  def winCumeDist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      round(cume_dist().over(w), 6).as("cd_r")
    ).orderBy("c_custkey")
  }

  /** Mode (most-frequent value) of o_orderpriority per o_orderstatus,
    * ties broken by smallest value — count-then-rank, the scalable mode:
    * one partial-aggregated shuffle on the pair, then a window over the
    * tiny (status × priority) aggregate, never a per-row sort. */
  def aggMode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = orders(s, d)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("cnt").desc, col("o_orderpriority"))
    counted.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_orderstatus"),
              col("o_orderpriority").as("mode_priority"), col("cnt"))
      .orderBy("o_orderstatus")
  }

  /** Argmax/argmin aggregates (max_by/min_by): per priority class, the
    * order key holding the extreme total price. Partial-aggregable like
    * max (the carried struct merges by ordering key), so one map-side
    * combined shuffle — never a per-group sort. Ties on price exist in
    * the data, so both engines order by the same composite integer key:
    * exact money cents (o_totalprice is 2-dp by construction) scaled
    * past the key range, plus the key — deterministic argmax without a
    * struct comparator (DuckDB's arg_max takes scalars only). */
  def aggArgmax(s: SparkSession, d: String): DataFrame = {
    val tie = (round(col("o_totalprice") * 100).cast("long") *
                 lit(1000000000L) + col("o_orderkey")).as("tie")
    orders(s, d)
      .withColumn("tie", tie)
      .groupBy("o_orderpriority")
      .agg(max_by(col("o_orderkey"), col("tie")).as("max_price_key"),
           min_by(col("o_orderkey"), col("tie")).as("min_price_key"),
           round(max("o_totalprice"), 2).as("max_price"),
           round(min("o_totalprice"), 2).as("min_price"))
      .orderBy("o_orderpriority")
  }

  /** Bucketed co-located join — the 100 TB join strategy: both fact tables
    * are written bucketed (same bucket count, same key), so the join reads
    * co-partitioned buckets and needs NO shuffle on either side (the only
    * hash exchange a naive plan would add is gone; see the plan-shape
    * test). At scale this is the one-time ETL investment that turns every
    * subsequent orderkey join into a local merge. The merge hint keeps the
    * demo on the sort-merge path (a broadcast would hide the bucketing).
    * Result is oracle-checked equal to the plain join. */
  def joinBucketed(s: SparkSession, d: String): DataFrame = {
    val (li, ord) = ensureBucketedTables(s, d)
    s.table(li)
      .join(s.table(ord).hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
              col("o_orderpriority"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** One-time bucketed-table ETL for [[joinBucketed]]: the tables are
    * EXTERNAL standing artifacts (`<warehouse>/graft_li_bkt_<key>`), so
    * the parquet data and the bucket-file layout survive any session, and
    * a fresh process whose in-memory catalog is empty RE-REGISTERS the
    * existing data (schema + bucket spec DDL over the old location — a
    * metadata-only operation) instead of re-running the ETL. That is the
    * production contract for amortized layouts: the one-time write is
    * paid once per dataset, not once per process. A verified tag property
    * guards the catalog entry the way `_SUCCESS` guards the data.
    * Returns the (lineitem, orders) table names. */
  private[graft] def ensureBucketedTables(
      s: SparkSession, d: String): (String, String) =
    Artifacts.memo(s, "bucketed", d) {
      val tag = "graft.dataset.dir"
      def ready(t: String): Boolean =
        s.catalog.tableExists(t) &&
          s.sql(s"SHOW TBLPROPERTIES `$t`").collect()
            .exists(r => r.getString(0) == tag && r.getString(1) == d)
      def ensure(name: String, df: DataFrame, bucketCol: String): String = {
        def drop(t: String): Unit =
          if (s.catalog.tableExists(t)) s.sql(s"DROP TABLE `$t`")
        def tagged(t: String): Unit =
          s.sql(s"ALTER TABLE `$t` SET TBLPROPERTIES ('$tag' = '$d')")
        val loc = Artifacts.standing(s, name, d) { loc =>
          val t = new org.apache.hadoop.fs.Path(loc).getName
          drop(t)
          df.write.mode("overwrite")
            .bucketBy(8, bucketCol).sortBy(bucketCol)
            .option("path", loc).saveAsTable(t)
          tagged(t)
        }
        val t = new org.apache.hadoop.fs.Path(loc).getName
        if (!ready(t)) {
          // Completed data from a prior process: re-register the metadata
          // over the existing files. The bucket ids live in the part-file
          // names, so declaring the identical bucket spec makes the old
          // layout immediately join-ready — no data pass at all.
          drop(t)
          s.sql(
            s"""CREATE TABLE `$t` (${df.schema.toDDL}) USING PARQUET
               |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
               |INTO 8 BUCKETS LOCATION '$loc'""".stripMargin)
          tagged(t)
        }
        t
      }
      (ensure("li_bkt", lineitem(s, d), "l_orderkey"),
       ensure("ord_bkt", orders(s, d), "o_orderkey"))
    }
}

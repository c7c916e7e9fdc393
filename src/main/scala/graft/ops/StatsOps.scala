package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Artifacts

/** Statistics / cost-based-optimization surface (SURVEY §4 follow-up).
  *
  * At sf0.1 every plan in this repo is fine without table statistics: the
  * dims broadcast on size estimates straight off the parquet footers. At
  * 100× that stops being luck-free — join ORDER between non-broadcast
  * relations is picked by Catalyst's `CostBasedJoinReorder`, and that rule
  * only fires when every base relation carries row-count statistics from
  * an ANALYZE. This object is the ANALYZE-equivalent: it registers the
  * TPC-H parquet files as external catalog tables (metadata-only — the
  * files are never touched) and runs `ANALYZE TABLE ... COMPUTE
  * STATISTICS [FOR COLUMNS join keys]` over them, memoized per
  * (session, dataset dir) exactly like the bucketed-table ETL. In a real
  * deployment the stats live in the metastore and are refreshed per
  * ingest; here the in-memory catalog holds them for the process, which
  * is the same contract the planner sees.
  */
object StatsOps {

  /** Tables that participate in the stats-driven demo chain, with the
    * join-key columns that get column-level stats (NDV/min/max — what
    * the reorder cost model consumes). */
  private val specs: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq("l_suppkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "nation"   -> Seq("n_nationkey"))

  /** Register + ANALYZE the demo tables for `d`; returns logical-name →
    * catalog-table-name. Idempotent and cheap after the first call: the
    * catalog entry is tagged with the dataset dir, so a re-entry (or a
    * second session over the same catalog) sees the tag and skips the
    * scan. */
  private[graft] def ensureAnalyzedTables(
      s: SparkSession, d: String): Map[String, String] =
    Artifacts.memo(s, "analyzed", d) {
      val key = Artifacts.key(d)
      val tag = "graft.dataset.dir"
      specs.map { case (name, keyCols) =>
        val t = s"graft_st_${name}_$key"
        val ready = s.catalog.tableExists(t) &&
          s.sql(s"SHOW TBLPROPERTIES `$t`").collect()
            .exists(r => r.getString(0) == tag && r.getString(1) == d)
        if (!ready) {
          if (s.catalog.tableExists(t)) s.sql(s"DROP TABLE `$t`")
          // External, schema-from-footers, pointed at the read-only
          // parquet — registration writes nothing but catalog metadata.
          s.sql(s"CREATE TABLE `$t` USING PARQUET " +
                s"LOCATION '$d/$name.parquet'")
          s.sql(s"ANALYZE TABLE `$t` COMPUTE STATISTICS")
          s.sql(s"ANALYZE TABLE `$t` COMPUTE STATISTICS " +
                s"FOR COLUMNS ${keyCols.mkString(", ")}")
          s.sql(s"ALTER TABLE `$t` SET TBLPROPERTIES ('$tag' = '$d')")
        }
        name -> t
      }.toMap
    }

  /** Stats-driven join reorder: the query is WRITTEN fact-first with the
    * dims in comma-join order (`lineitem, nation, supplier`) — the
    * left-deep reading would either cartesian lineitem×nation or at best
    * hang the 25-row nation off the fact join's output. With CBO +
    * joinReorder on and ANALYZE'd row counts available, Catalyst rebuilds
    * the order from cost: supplier⋈nation first (25-row intermediate),
    * the fact table joined last — the plan shape a 100 TB star chain
    * needs regardless of how the SQL was spelled. The plan assertion
    * lives in Wave9Spec ("cbo reorders the comma join"); the result is
    * oracle-checked (join order cannot change the aggregate).
    *
    * CBO is SCOPED to this query: the confs are set, the plan is forced
    * (QueryExecution memoizes, so later actions reuse it), and the
    * previous values are restored before returning. Leaving CBO on for
    * the session is NOT additive — CACHED relations carry exact
    * rowCount stats, so CostBasedJoinReorder fires on every later query
    * over cached data and can rebuild an ANN pair-join chain into a
    * stats-cheap BroadcastNestedLoopJoin all-pairs (caught by Wave7's
    * bucketed-plan pin when this query ran first in the shared test
    * session; the same leak was silently active for half the bench). */
  def joinCboReorder(s: SparkSession, d: String): DataFrame = {
    val t = ensureAnalyzedTables(s, d)
    val prevCbo = s.conf.get("spark.sql.cbo.enabled")
    val prevReorder = s.conf.get("spark.sql.cbo.joinReorder.enabled")
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      val df = s.sql(
        s"""SELECT n.n_name,
           |       count(*) AS n_items,
           |       round(sum(l.l_quantity), 2) AS sum_qty
           |FROM `${t("lineitem")}` l, `${t("nation")}` n, `${t("supplier")}` sp
           |WHERE l.l_suppkey = sp.s_suppkey
           |  AND sp.s_nationkey = n.n_nationkey
           |GROUP BY n.n_name
           |ORDER BY n.n_name""".stripMargin)
      df.queryExecution.executedPlan // plan NOW, under CBO
      df
    } finally {
      s.conf.set("spark.sql.cbo.enabled", prevCbo)
      s.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  /** Chi-squared independence test of event type × value bucket — the
    * categorical counterpart of [[graft.ops.Relational.aggTtest]] in the
    * experimentation family (is the metric bucket independent of the
    * variant?). Everything before the final statistic is INTEGER-exact:
    * contingency cells, margins, and each cell's numerator
    * `d = c·n − r·k` (the ±d form of obs−exp scaled by n, exact in int64
    * at any realistic contingency size). Each cell term
    * `d²/(n·r·k)` is one fixed-order double expression, and the sum over
    * cells is a SEQUENTIAL fold of the (type, bucket)-sorted term array —
    * the [[graft.ops.SimOps.simLabelCentroids]] trick — so no parallel
    * double reduction exists anywhere and both engines add in the same
    * order. Floor-quantized at 4dp.
    *
    * Scale: the raw stream collapses at the first (type, bucket) partial
    * agg; everything after is contingency-sized (|types|·|buckets| rows).
    * The collect_list is over those cells, not the data. */
  def aggChisq(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // Margins come from WINDOW sums over the contingency table itself —
    // deriving them with separate groupBy branches would re-aggregate the
    // raw stream once per margin (4 scans of the fact table; EdgeSpec's
    // budget pin guards against regressing to that shape). The windows run
    // over |types|·|buckets| rows, so the unpartitioned total is a
    // single-task exchange of a handful of rows, not a scale hazard.
    val cells = graft.engine.Tables.events(s, d)
      .select(col("event_type").as("t"),
              when(col("value") >= 50, "hi").otherwise("lo").as("b"))
      .groupBy("t", "b").agg(count(lit(1)).as("c"))
      .withColumn("r", sum("c").over(Window.partitionBy("t")))
      .withColumn("k", sum("c").over(Window.partitionBy("b")))
      .withColumn("n", sum("c").over(Window.partitionBy()))
    cells
      .select(col("t"), col("b"), col("n"),
        expr("""CAST(c * n - r * k AS DOUBLE) * CAST(c * n - r * k AS DOUBLE)
                / CAST(n AS DOUBLE) / CAST(r AS DOUBLE) / CAST(k AS DOUBLE)""")
          .as("term"))
      .agg(
        first(col("n")).as("nv"),
        countDistinct("t").as("nt"),
        countDistinct("b").as("nb"),
        expr("""aggregate(transform(sort_array(collect_list(struct(t, b, term))),
                                    x -> x.term),
                          0D, (acc, v) -> acc + v)""").as("chi2"))
      .select(
        col("nv").cast("long").as("n"),
        ((col("nt") - 1) * (col("nb") - 1)).cast("long").as("dof"),
        expr("CAST(FLOOR(chi2 * 10000.0 + 0.5) AS DOUBLE) / 10000.0 + 0.0")
          .as("chi2_r"))
  }
}

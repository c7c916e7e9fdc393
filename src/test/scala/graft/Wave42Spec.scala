package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps
import graft.sql.{GraftCatalog, GraftScanObservable}

/** Round-15 wave 3: AGGREGATE PUSHDOWN on the SQL front door —
  * COUNT(*)/MIN/MAX answered from parquet footers + manifest names
  * (zero tasks, no file scan), consumed partition filters, and the
  * answer-safety guards (MOR vectors, CoW staleness, evolution). */
class Wave42Spec extends SparkTestBase {

  private def quarterCorpus(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, i * 1.5, (i % 4).toString))
      .toDF("k", "v", "p")
  }

  private def register(): Unit = {
    spark.conf.set("spark.sql.catalog.gtest",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.root",
      new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath)
  }

  test("COUNT(*)/MIN/MAX answer metadata-only: correct values, the " +
       "aggregate-answer scan in place of any file read, and a " +
       "consumed partition filter still pushes") {
    val dir = freshDir("graft_agg_push")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(400), "k", "p")
    register()
    GraftScanObservable.lastAggPushed = None
    val df = spark.sql(
      s"SELECT count(*) AS cnt, min(k) AS mn, max(k) AS mx " +
        s"FROM gtest.`$tbl`")
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (400L, 1L, 400L))
    assert(GraftScanObservable.lastAggPushed.isDefined,
      "the unfiltered aggregate must be answered metadata-only")
    assert(df.inputFiles.isEmpty,
      s"no data file in the pushed-aggregate plan: ${df.inputFiles.toSeq}")
    // partition filter CONSUMED (single-layout manifest): the count
    // still pushes, over only the named partition
    GraftScanObservable.lastAggPushed = None
    val filtered = spark.sql(
      s"SELECT count(*) AS cnt FROM gtest.`$tbl` WHERE p = '2'")
    assert(filtered.collect().head.getLong(0) ==
             (1 to 400).count(_ % 4 == 2))
    assert(GraftScanObservable.lastAggPushed.isDefined,
      "a consumed partition filter must not block the pushdown")
    // MIN/MAX on the PARTITION column answers from the manifest names
    GraftScanObservable.lastAggPushed = None
    val pc = spark.sql(
      s"SELECT min(CAST(p AS INT)) AS mn FROM gtest.`$tbl`")
    // p is a string partition column: CAST wrapping means the agg is
    // over an expression, not a direct column — must NOT push, and
    // must stay exact through the normal scan
    assert(pc.collect().head.getInt(0) == 0)
  }

  test("answer-safety: a CoW delete leaves stale superset sidecar " +
       "bounds, but the footer answer tracks the CONTENT; MOR vectors " +
       "and non-integral columns decline and stay exact") {
    import spark.implicits._
    val dir = freshDir("graft_agg_safe")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(100), "k", "p",
                         statsKeys = Seq("k"))
    // CoW-delete the global max (k=100) and the global min (k=1):
    // the carried zone-map bounds still say [1,100] (prune-safe
    // superset) — an answer read from THEM would be wrong
    MergeOps.mergeDelete(spark, dir, Seq(1L, 100L).toDF("k"), "k", "p")
    register()
    GraftScanObservable.lastAggPushed = None
    val r = spark.sql(
      s"SELECT min(k) AS mn, max(k) AS mx, count(*) AS cnt " +
        s"FROM gtest.`$tbl`").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (2L, 99L, 98L),
      s"the pushed answer must track content, not stale sidecars: $r")
    assert(GraftScanObservable.lastAggPushed.isDefined)
    // outstanding MOR tombstones: footer counts would overcount —
    // decline, normal scan stays exact
    MergeOps.mergeDeleteMor(spark, dir, Seq(50L).toDF("k"), "k", "p")
    GraftScanObservable.lastAggPushed = None
    val mor = spark.sql(
      s"SELECT count(*) AS cnt, max(k) AS mx FROM gtest.`$tbl`")
      .collect().head
    assert((mor.getLong(0), mor.getLong(1)) == (97L, 99L),
      s"the declined path must apply the tombstones: $mor")
    assert(GraftScanObservable.lastAggPushed.isEmpty,
      "MOR vectors outstanding must decline the metadata answer")
    // a DOUBLE column has no exact footer-integral answer: decline
    GraftScanObservable.lastAggPushed = None
    val dbl = spark.sql(s"SELECT min(v) AS mn FROM gtest.`$tbl`")
      .collect().head.getDouble(0)
    assert(dbl == 2 * 1.5)
    assert(GraftScanObservable.lastAggPushed.isEmpty)
  }

  test("GROUP BY the partition column answers one metadata row per " +
       "surviving entry — the 'rows per language' poll — and composes " +
       "with a consumed partition IN filter") {
    val dir = freshDir("graft_agg_grp")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(400), "k", "p")
    register()
    GraftScanObservable.lastAggPushed = None
    val rows = spark.sql(
      s"SELECT p, count(*) AS cnt, max(k) AS mx FROM gtest.`$tbl` " +
        "GROUP BY p ORDER BY p")
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2)))
    val want = (0 to 3).map(g =>
      (g.toString, (1 to 400).count(_ % 4 == g).toLong,
       (1 to 400).filter(_ % 4 == g).max.toLong))
    assert(rows.toSeq == want, s"per-group metadata answers: ${rows.toSeq}")
    assert(GraftScanObservable.lastAggPushed.isDefined,
      "the grouped aggregate must be answered metadata-only")
    GraftScanObservable.lastAggPushed = None
    val two = spark.sql(
      s"SELECT p, count(*) AS cnt FROM gtest.`$tbl` " +
        "WHERE p IN ('1', '3') GROUP BY p ORDER BY p")
      .collect().map(r => (r.get(0).toString, r.getLong(1)))
    assert(two.toSeq == Seq(("1", 100L), ("3", 100L)))
    assert(GraftScanObservable.lastAggPushed.isDefined,
      "a consumed IN filter must not block the grouped pushdown")
    // GROUP BY a non-partition column: decline, exact through the scan
    GraftScanObservable.lastAggPushed = None
    val byV = spark.sql(
      s"SELECT k % 2 AS m, count(*) AS cnt FROM gtest.`$tbl` " +
        "GROUP BY k % 2 ORDER BY m").collect()
    assert(byV.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
             Seq((0L, 200L), (1L, 200L)))
    assert(GraftScanObservable.lastAggPushed.isEmpty)
  }

  test("the scan reports REAL size statistics at the analyzed layer " +
       "(not defaultSizeInBytes), a broadcast hint plans the broadcast " +
       "on the graft side, and the joined content is exact") {
    val dir = freshDir("graft_stats_bc")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(200), "k", "p")
    register()
    // the analyzed relation consults the scan's estimateStatistics
    // (DataSourceV2RelationBase.computeStats builds an unpushed scan):
    // real on-disk bytes, not the effectively-infinite default
    val stats = spark.table(s"gtest.`$tbl`")
      .queryExecution.analyzed.stats.sizeInBytes
    val onDisk = {
      val fsys = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsys.getContentSummary(new org.apache.hadoop.fs.Path(dir)).getLength
    }
    assert(stats > 0 && stats.toLong <= onDisk,
      s"analyzed-layer stats must be the store's real bytes: $stats " +
        s"vs $onDisk on disk")
    // the POST-pushdown plan sees V1ScanWrapper, which hides the
    // scan's statistics from static join selection (the JDBC-catalog
    // bridge has the same limitation) — so the static broadcast lever
    // is the hint, and AQE converts at runtime from shuffle sizes
    val big = spark.range(1, 200000).select(col("id").as("k"),
      (col("id") * 2).as("w"))
    big.createOrReplaceTempView("big_side")
    val joined = spark.sql(
      s"SELECT /*+ BROADCAST(g) */ b.k, g.v " +
        s"FROM big_side b JOIN gtest.`$tbl` g ON b.k = g.k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the hint must broadcast the store side:\n${plan.take(1200)}")
    assert(joined.count() == 200)
  }

  test("schema evolution composes: files that predate a column " +
       "contribute nothing to its MIN/MAX (they hold nulls), and the " +
       "answer still pushes") {
    import spark.implicits._
    val dir = freshDir("graft_agg_evo")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(8), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((20L, 1.0, "0", 500L), (21L, 1.0, "1", 300L))
        .toDF("k", "v", "p", "w"), "k", "p")                         // v2
    register()
    GraftScanObservable.lastAggPushed = None
    val r = spark.sql(
      s"SELECT min(w) AS mn, max(w) AS mx, count(*) AS cnt " +
        s"FROM gtest.`$tbl`").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (300L, 500L, 10L),
      s"nulls from pre-evolution files must not disturb the bounds: $r")
    assert(GraftScanObservable.lastAggPushed.isDefined,
      "the evolved store must still answer metadata-only")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps
import graft.sql.{GraftCatalog, GraftScanObservable}

/** Round-14 wave 2: the SQL FRONT DOOR — a DataSourceV2 TableCatalog
  * over the versioned store, routing SQL predicates through the same
  * three-tier skipping kernel as the Scala readers (plus the manifest-
  * name tier for partition-key equality), with VERSION AS OF time
  * travel and MOR deletes applied. */
class Wave37Spec extends SparkTestBase {

  private def register(): Unit = {
    spark.conf.set("spark.sql.catalog.gtest",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.root",
      new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath)
  }

  private def quarterCorpus(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, i * 1.5, (i % 4).toString))
      .toDF("k", "v", "p")
  }

  test("a SQL point lookup prunes through the bloom tier: the scan " +
       "reads fewer groups than the manifest holds and the result " +
       "equals the plain filter — no Scala reader API on the path") {
    val dir = freshDir("graft_sql_bloom")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(400), "k", "p",
                         bloomKeys = Seq("k"))
    register()
    GraftScanObservable.lastKeptDirs = Nil
    val got = spark.sql(
      s"SELECT k, v FROM gtest.`$tbl` WHERE k IN (41, 45) ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((41L, 61.5), (45L, 67.5)))
    val kept = GraftScanObservable.lastKeptDirs
    val total = Versioned.manifest(spark, dir, 1L).size
    assert(kept.nonEmpty && kept.size < total,
      s"the SQL path must prune: read ${kept.size} of $total")
    assert(kept.contains("p=1"),
      s"the group holding 41 and 45 must survive: $kept")
  }

  test("a formatted plan over a store table names the store and the " +
       "version it reads, never an identity hash") {
    val dir = freshDir("graft_sql_plan_name")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(20), "k", "p")     // v1
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(4), "k", "p")      // v2
    register()
    val plan = spark.sql(s"SELECT k, v FROM gtest.`$tbl` WHERE k > 3")
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("GraftRelation@"), plan)
    assert(plan.contains(s"GraftRelation($dir@v2)"), plan)
  }

  test("partition-key equality prunes on the manifest NAMES themselves " +
       "— the zeroth tier, no sidecar required — and a column with no " +
       "stats line stays exact (pruning is advisory)") {
    val dir = freshDir("graft_sql_part")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(200), "k", "p")  // NO sidecars
    register()
    GraftScanObservable.lastKeptDirs = Nil
    val got = spark.sql(
      s"SELECT k FROM gtest.`$tbl` WHERE p = '2' ORDER BY k")
      .collect().map(_.getLong(0))
    assert(got.toSeq == (1 to 200).filter(_ % 4 == 2).map(_.toLong))
    assert(GraftScanObservable.lastKeptDirs == Seq("p=2"),
      s"partition-key equality must prune to the named dir: " +
        s"${GraftScanObservable.lastKeptDirs}")
    // no sidecar for v: the filter cannot prune, but stays exact
    val exact = spark.sql(
      s"SELECT k FROM gtest.`$tbl` WHERE v = 61.5").collect()
    assert(exact.map(_.getLong(0)).toSeq == Seq(41L))
  }

  test("VERSION AS OF reads the pinned snapshot, MOR deletes apply to " +
       "the current one, and the two coexist in one session") {
    import spark.implicits._
    val dir = freshDir("graft_sql_tt")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(8), "k", "p")            // v1
    MergeOps.mergeDeleteMor(spark, dir, Seq(Tuple1(5L)).toDF("k"),
      "k", "p")                                               // v2 (MOR)
    register()
    val cur = spark.sql(s"SELECT k FROM gtest.`$tbl` ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(cur == Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L),
      "the SQL read must apply outstanding MOR tombstones")
    val old = spark.sql(
      s"SELECT k FROM gtest.`$tbl` VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(old == (1 to 8).map(_.toLong),
      "VERSION AS OF must read the pre-delete snapshot")
  }

  test("the catalog lists committed stores, misses fail as " +
       "NoSuchTable, and DDL/DML fails loudly read-only") {
    val dir = freshDir("graft_sql_ls")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(8), "k", "p")
    register()
    val names = spark.sql("SHOW TABLES IN gtest").collect()
      .map(_.getString(1)).toSet
    assert(names.contains(tbl), s"SHOW TABLES must list $tbl")
    val miss = intercept[Exception] {
      spark.sql("SELECT * FROM gtest.`no_such_store_xyz`").collect()
    }
    assert(miss.getMessage.toLowerCase.contains("table"),
      s"a missing store must fail as a missing table: ${miss.getMessage}")
    // RENAME stays unsupported (round 16 added CREATE/DROP/DML doors)
    val ddl = intercept[Exception] {
      spark.sql(s"ALTER TABLE gtest.`$tbl` RENAME TO gtest.renamed")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ddl).exists(_.contains("does not express")),
      s"unsupported DDL must fail loudly: ${messages(ddl)}")
    // DROP TABLE is a supported verb now: it removes the whole store
    spark.sql(s"DROP TABLE gtest.`$tbl`")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM gtest.`$tbl`").collect()
    }
  }

  test("projection narrows the inner read and aggregates work through " +
       "the door: a COUNT(*) and a grouped sum match the Scala read") {
    val dir = freshDir("graft_sql_agg")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(300), "k", "p",
                         statsKeys = Seq("k"))
    register()
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM gtest.`$tbl`")
      .collect().head.getLong(0) == 300L)
    val got = spark.sql(
      s"SELECT p, SUM(v) AS sv FROM gtest.`$tbl` WHERE k <= 100 " +
        "GROUP BY p ORDER BY p")
      .collect().map(r => (r.get(0).toString, r.getDouble(1))).toSeq
    val want = MergeOps.readCorpus(spark, dir, "p")
      .where(col("k") <= 100).groupBy("p")
      .agg(sum("v").as("sv")).orderBy("p")
      .collect().map(r => (r.get(0).toString, r.getDouble(1))).toSeq
    assert(got == want)
    // the range tier bit: k<=100 spans groups but every group's zone
    // map is consulted — with k%4 layout all groups hold k<=100, so
    // this is a no-prune case that must still be exact (it is, above)
  }

  test("a TIMESTAMP probe through SQL renders like the sidecar writer " +
       "(Spark cast, not toString): the rows come back AND pruning " +
       "still bites — the round-14 false-negative-prune regression") {
    import spark.implicits._
    val dir = freshDir("graft_sql_ts")
    val tbl = new java.io.File(dir).getName
    // partition p holds ONLY the timestamp 2026-01-0(p+1): a ts probe
    // that dict/bloom-prunes correctly keeps exactly one group, and a
    // probe whose rendering mismatches the recorded cast form keeps
    // NONE — missing rows, the bug this test pins
    val rows = (1 to 64).map { i =>
      val p = i % 4
      (i.toLong,
       java.sql.Timestamp.valueOf(s"2026-01-0${p + 1} 00:00:00"),
       p.toString)
    }.toDF("k", "ts", "p")
    MergeOps.mergeUpsert(spark, dir, rows, "k", "p",
                         dictKeys = Seq("ts"), bloomKeys = Seq("ts"))
    register()
    GraftScanObservable.lastKeptDirs = Nil
    val got = spark.sql(
      s"SELECT k FROM gtest.`$tbl` " +
        "WHERE ts = TIMESTAMP'2026-01-03 00:00:00' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == (1 to 64).filter(_ % 4 == 2).map(_.toLong),
      s"the timestamp probe must return the holding partition's rows: $got")
    assert(GraftScanObservable.lastKeptDirs == Seq("p=2"),
      "the dict/bloom tiers must still prune the three non-holding " +
        s"groups: ${GraftScanObservable.lastKeptDirs}")
    // IN over timestamps takes the same path, all-or-nothing rendered
    GraftScanObservable.lastKeptDirs = Nil
    val twoDays = spark.sql(
      s"SELECT count(*) AS n FROM gtest.`$tbl` WHERE ts IN " +
        "(TIMESTAMP'2026-01-01 00:00:00', TIMESTAMP'2026-01-04 00:00:00')")
      .collect().head.getLong(0)
    assert(twoDays == 32L, s"two days = two groups' rows: $twoDays")
    assert(GraftScanObservable.lastKeptDirs.toSet == Set("p=0", "p=3"),
      s"the IN probe must keep exactly the two holding groups: " +
        s"${GraftScanObservable.lastKeptDirs}")
  }

  test("TIMESTAMP AS OF through SQL resolves by the store clock like " +
       "readAsOf: an instant between commits reads the earlier " +
       "version, predating the log is a missing table") {
    import spark.implicits._
    val dir = freshDir("graft_sql_tsasof")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(8), "k", "p")           // v1
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtime(v: Long) = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(dir, s"commits/$v")).getModificationTime
    val t1 = mtime(1L)
    Thread.sleep(20)  // distinct store mtimes across commits
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -1.0, "1")).toDF("k", "v", "p"), "k", "p")           // v2
    val t2 = mtime(2L)
    assert(t2 > t1, "precondition: distinct commit instants")
    register()
    def vAt(ts: Long): Map[Long, Double] = spark.sql(
      s"SELECT k, v FROM gtest.`$tbl` TIMESTAMP AS OF " +
        s"timestamp_millis(${ts}L)")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vAt(t1)(1L) == 1.5, "AS OF v1's instant reads v1's data")
    assert(vAt((t1 + t2) / 2)(1L) == 1.5,
      "an instant between commits resolves to the earlier version")
    assert(vAt(t2)(1L) == -1.0, "AS OF the newest instant reads current")
    val pre = intercept[Exception] {
      spark.sql(s"SELECT k FROM gtest.`$tbl` TIMESTAMP AS OF " +
        s"timestamp_millis(${t1 - 1000000L}L)").collect()
    }
    assert(pre.getMessage.toLowerCase.contains("table"),
      s"predating the log must fail as a missing table: ${pre.getMessage}")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-16 wave 4: the SQL TABLE LIFECYCLE. CREATE TABLE persists a
  * pending descriptor (the commit protocol cannot represent an empty
  * committed store), the table reads as EMPTY at the declared schema,
  * the first write commits version 1 through the ordinary mergeUpsert,
  * CTAS does all of that in one statement, and DROP TABLE maps onto
  * Versioned.dropTable (refusing while tags pin). */
class Wave47Spec extends SparkTestBase {

  private val rootDir =
    new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath

  private def register(): Unit = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", rootDir)
  }

  private def clean(tbl: String): String = {
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }

  test("plain CREATE TABLE: reads as EMPTY at the declared schema, " +
       "lists in SHOW TABLES, the first INSERT commits v1 through the " +
       "merge path (properties persisted), and a duplicate CREATE " +
       "fails as TableAlreadyExists") {
    val tbl = "graft_w47_plain"
    val dir = clean(tbl)
    register()
    spark.sql(s"CREATE TABLE graft.$tbl (k BIGINT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES('keyCol'='k')")
    assert(Versioned.currentVersion(spark, dir).isEmpty,
      "creation commits NOTHING — the descriptor is pending metadata")
    val empty = spark.sql(s"SELECT * FROM graft.$tbl")
    assert(empty.columns.toSeq === Seq("k", "v", "p"))
    assert(empty.count() === 0L)
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == tbl), "a pending table must list")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.$tbl (a INT) PARTITIONED BY (a)")
    }
    spark.sql(s"INSERT INTO graft.$tbl VALUES " +
      "(1, 1.0, 'O'), (2, 2.0, 'E')")
    assert(Versioned.currentVersion(spark, dir).contains(2L),
      "first insert commits the data (v1) then the properties (v2)")
    assert(spark.sql(s"SELECT sum(k) FROM graft.$tbl")
      .head().getLong(0) === 3L)
    // the descriptor is inert now: the committed store resolves, the
    // persisted keyCol drives further inserts
    spark.sql(s"INSERT INTO graft.$tbl VALUES (1, -1.0, 'O')")
    val vals = spark.sql(s"SELECT k, v FROM graft.$tbl").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals === Map(1L -> -1.0, 2L -> 2.0),
      "INSERT stays the store's upsert after materialization")
  }

  test("an INSERT of zero rows into a created table commits nothing: " +
       "the table still reads empty at its declared schema, a later " +
       "one-row INSERT lands, and DROP TABLE works") {
    val tbl = "graft_w47_zero"
    val dir = clean(tbl)
    register()
    spark.sql(s"CREATE TABLE graft.$tbl (k BIGINT, v DOUBLE, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES('keyCol'='k')")
    spark.sql(s"INSERT INTO graft.$tbl SELECT * FROM VALUES " +
      "(CAST(1 AS BIGINT), 1.0D, 'O') AS t(k, v, p) WHERE false")
    assert(Versioned.currentVersion(spark, dir).isEmpty,
      "an empty first write must leave the table pending")
    val empty = spark.sql(s"SELECT * FROM graft.$tbl")
    assert(empty.columns.toSeq === Seq("k", "v", "p"))
    assert(empty.count() === 0L)
    spark.sql(s"INSERT INTO graft.$tbl VALUES (1, 1.0, 'O')")
    assert(spark.sql(s"SELECT k, v FROM graft.$tbl").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq === Seq(1L -> 1.0))
    spark.sql(s"DROP TABLE graft.$tbl")
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == tbl))
  }

  test("CREATE TABLE contract checks are loud: no partition column, " +
       "multiple partition columns, and a partition column missing " +
       "from the schema all fail before anything persists") {
    val tbl = "graft_w47_bad"
    clean(tbl)
    register()
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.$tbl (k BIGINT)")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.$tbl (k BIGINT, p STRING, " +
        "q STRING) PARTITIONED BY (p, q)")
    }
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == tbl),
      "a failed CREATE must leave no pending table")
  }

  test("INSERT OVERWRITE is the atomic full-table replace: old " +
       "content leaves wholesale (including partitions absent from " +
       "the batch), constraints validate before publish, duplicate " +
       "keys fail loudly, and time travel still reads the replaced " +
       "version") {
    val tbl = "graft_w47_ovw"
    val dir = clean(tbl)
    register()
    import spark.implicits._
    MergeOps.mergeUpsert(spark, dir,
      (1 to 20).map(i => (i.toLong, i * 1.0,
        if (i % 2 == 0) "E" else "O")).toDF("k", "v", "p"),
      "k", "p")                                                      // v1
    MergeOps.addConstraint(spark, dir, "v_nonneg", "v >= 0", "p")    // v2
    spark.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='k')")                             // v3
    // replacement holds ONLY partition O — E must vanish wholesale
    spark.sql(s"INSERT OVERWRITE graft.$tbl VALUES " +
      "(101, 1.0, 'O'), (102, 2.0, 'O')")                            // v4
    val after = spark.sql(s"SELECT k, p FROM graft.$tbl").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === Set((101L, "O"), (102L, "O")),
      s"the replace must be total: $after")
    assert(Versioned.currentVersion(spark, dir).contains(4L),
      "one atomic version")
    assert(spark.sql(
        s"SELECT count(*) FROM graft.$tbl VERSION AS OF 1")
      .head().getLong(0) === 20L,
      "time travel still reads the replaced content")
    // constraint violation fails BEFORE publish
    intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE graft.$tbl VALUES (1, -5.0, 'O')")
    }
    assert(Versioned.currentVersion(spark, dir).contains(4L))
    // duplicate keys are the upsert invariant — refuse loudly
    intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE graft.$tbl VALUES " +
        "(7, 1.0, 'O'), (7, 2.0, 'O')")
    }
    assert(Versioned.currentVersion(spark, dir).contains(4L),
      "failed replaces publish nothing")
  }

  test("DROP TABLE removes a committed store and a pending one, " +
       "refuses while tags pin versions, and SELECT after DROP fails " +
       "as a missing table") {
    val tbl = "graft_w47_drop"
    val dir = clean(tbl)
    register()
    import spark.implicits._
    MergeOps.mergeUpsert(spark, dir,
      (1 to 10).map(i => (i.toLong, if (i % 2 == 0) "E" else "O"))
        .toDF("k", "p"), "k", "p")
    Versioned.tagVersion(spark, dir, "pin", 1L)
    intercept[Exception] {
      spark.sql(s"DROP TABLE graft.$tbl")
    }
    assert(Versioned.currentVersion(spark, dir).contains(1L),
      "a pinned store must survive the refused drop")
    Versioned.deleteTag(spark, dir, "pin")
    spark.sql(s"DROP TABLE graft.$tbl")
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.$tbl").collect()
    }
    // pending-only table drops too
    val tbl2 = "graft_w47_drop2"
    clean(tbl2)
    spark.sql(s"CREATE TABLE graft.$tbl2 (k BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"DROP TABLE graft.$tbl2")
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == tbl2))
  }
}

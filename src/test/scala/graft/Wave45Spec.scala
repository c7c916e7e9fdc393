package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-16 wave 2: the SQL WRITE doors. DELETE FROM maps onto the
  * store's predicate delete (SupportsDelete → mergeDeleteWhere, CoW,
  * constraints + OCC); INSERT INTO maps onto mergeUpsert through the
  * V1 write fallback, keyed by the persisted `keyCol` table property
  * or the writer option; TBLPROPERTIES are committed table metadata
  * under the constraints-sidecar rules. */
class Wave45Spec extends SparkTestBase {

  // ONE catalog root for the whole spec (Spark caches the catalog
  // instance at first use — per-test roots would silently cross-talk),
  // distinct table names per test: the SqlQueries discipline.
  private val rootDir =
    new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath

  private def freshStore(name: String): (String, String, String) = {
    val tbl = s"graft_w45_$name"
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    import spark.implicits._
    val df = (1 to 40).map(i =>
        (i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
      .toDF("k", "v", "p")
    MergeOps.mergeUpsert(spark, dir, df, "k", "p")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", rootDir)
    (rootDir, tbl, dir)
  }

  private def keys(tbl: String): Set[Long] =
    spark.sql(s"SELECT k FROM graft.$tbl").collect()
      .map(_.getLong(0)).toSet

  test("SQL DELETE routes through the predicate delete: touched " +
       "partitions restage, a new version commits, time travel still " +
       "reads the pre-delete snapshot, and DELETE with no WHERE (table " +
       "emptying) fails loudly") {
    val (_, tbl, dir) = freshStore("del")
    spark.sql(s"DELETE FROM graft.$tbl WHERE k <= 10 OR k IN (15, 17)")
    assert(keys(tbl) ===
      (1 to 40).map(_.toLong).toSet -- ((1L to 10L) ++ Seq(15L, 17L)))
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    assert(spark.sql(s"SELECT count(*) FROM graft.$tbl VERSION AS OF 1")
      .head().getLong(0) === 40L,
      "time travel must still read the pre-delete snapshot")
    val emptied = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.$tbl")
    }
    assert(emptied.getMessage != null)
    assert(keys(tbl).nonEmpty && Versioned.currentVersion(spark, dir)
      .contains(2L),
      "emptying the table is table deletion — nothing may publish")
  }

  test("SQL INSERT INTO is the store's upsert: keyCol from the " +
       "persisted table property, new keys append, existing keys " +
       "replace, and without a key the insert fails loudly before " +
       "staging") {
    val (_, tbl, dir) = freshStore("ins")
    // no keyCol anywhere → loud, nothing committed
    val nokey = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.$tbl VALUES (100, 1.0, 'E')")
    }
    assert(nokey.getMessage.contains("keyCol") ||
      nokey.getCause != null &&
        String.valueOf(nokey.getCause.getMessage).contains("keyCol"))
    assert(Versioned.currentVersion(spark, dir).contains(1L))
    spark.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='k')")                            // v2
    spark.sql(s"INSERT INTO graft.$tbl VALUES " +
      "(100, 1.0, 'E'), (1, -1.0, 'O')")                            // v3
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    val vals = spark.sql(s"SELECT k, v FROM graft.$tbl").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals.size === 41, "one new key, one replaced key")
    assert(vals(100L) === 1.0 && vals(1L) === -1.0 && vals(2L) === 20.0)
    // the writer-OPTION door: DataFrameWriterV2 without the property
    spark.sql(s"ALTER TABLE graft.$tbl UNSET TBLPROPERTIES('keyCol')")
    import spark.implicits._
    Seq((200L, 2.0, "E")).toDF("k", "v", "p")
      .writeTo(s"graft.$tbl").option("keyCol", "k").append()
    assert(keys(tbl).contains(200L),
      "the writer option must key the insert when no property exists")
  }

  test("TBLPROPERTIES are committed table metadata: SET/UNSET commit " +
       "versions, SHOW TBLPROPERTIES reads them back, and the plain-" +
       "table stream defaults its keyCol from the property") {
    val (rootDir, tbl, dir) = freshStore("props")
    spark.sql(s"ALTER TABLE graft.$tbl SET TBLPROPERTIES(" +
      "'keyCol'='k', 'team'='pipeline')")
    val shown = spark.sql(s"SHOW TBLPROPERTIES graft.$tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("keyCol").contains("k") &&
      shown.get("team").contains("pipeline"), s"got $shown")
    assert(Versioned.tableProps(spark, dir, 2L) ===
      Map("keyCol" -> "k", "team" -> "pipeline"))
    spark.sql(s"ALTER TABLE graft.$tbl UNSET TBLPROPERTIES('team')")
    assert(Versioned.tableProps(spark, dir, 3L) === Map("keyCol" -> "k"))
    // the stream door defaults its reader option from the property
    val ck = new java.io.File(rootDir, "ck").getAbsolutePath
    val out = new java.io.File(rootDir, "out").getAbsolutePath
    val q = spark.readStream.table(s"graft.$tbl")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("parquet").option("path", out).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(out).count() === 40L,
      "the bootstrap snapshot must stream without an explicit keyCol")
  }

  test("COUNT(*) answers metadata-only UNDER a standing deletion " +
       "vector when every dv line is fully position-mapped (footer " +
       "rows minus recorded positions — round 16); a scope-only dv " +
       "line declines the pushdown but never the answer") {
    val (_, tbl, dir) = freshStore("aggdv")
    import spark.implicits._
    // sparse MOR delete → positions recorded (under cap and density)
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(3L, 7L, 20L).toDF("k"), "k", "p")                          // v2
    graft.sql.GraftScanObservable.lastAggPushed = None
    val res = spark.sql(s"SELECT count(*) AS cnt FROM graft.$tbl")
    val cnt = res.collect()
    assert(graft.sql.GraftScanObservable.lastAggPushed.isDefined,
      "a fully position-mapped dv must keep COUNT on the metadata path")
    assert(res.inputFiles.isEmpty, "no data file in the answer plan")
    assert(cnt.head.getLong(0) === 37L)
    // strip the positions (a round-14 writer's line shape): the
    // pushdown declines, the scan answers — still exact
    val p = Versioned.committedSidecar(spark, dir, 2L, "dv").get
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fsys.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    fsys.delete(p, false)
    val out = fsys.create(p, false)
    try out.write(lines.map(_.split('\t').take(3).mkString("\t"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    graft.sql.GraftScanObservable.lastAggPushed = None
    assert(spark.sql(s"SELECT count(*) AS cnt FROM graft.$tbl")
      .collect().head.getLong(0) === 37L)
    assert(graft.sql.GraftScanObservable.lastAggPushed.isEmpty,
      "a scope-only dv line must decline the metadata count")
    // MIN/MAX under any MOR vector stays declined (a bound could name
    // a tombstoned row)
    graft.sql.GraftScanObservable.lastAggPushed = None
    assert(spark.sql(s"SELECT max(k) FROM graft.$tbl")
      .collect().head.getLong(0) === 40L)
    assert(graft.sql.GraftScanObservable.lastAggPushed.isEmpty)
  }

  test("MIN/MAX on DATE and TIMESTAMP columns answer metadata-only " +
       "(INT32-days / annotated INT64-micros footer statistics are " +
       "exact — round 16), and the values match the scan's") {
    val tbl = "graft_w45_ts"
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val pth = new org.apache.hadoop.fs.Path(dir)
    val fs = pth.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(pth)) fs.delete(pth, true)
    // the engine's write shape: annotated INT64 micros (INT96 is
    // deprecated and carries no usable statistics — a store written
    // that way correctly declines the metadata path)
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    import spark.implicits._
    val df = (1 to 50).map(i =>
        (i.toLong, java.sql.Date.valueOf(java.time.LocalDate
           .of(2025, 1, 1).plusDays(i)),
         java.sql.Timestamp.from(java.time.Instant
           .parse("2025-06-01T00:00:00Z").plusSeconds(i * 3600L)),
         if (i % 2 == 0) "E" else "O"))
      .toDF("k", "d", "ts", "p")
    MergeOps.mergeUpsert(spark, dir, df, "k", "p")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", rootDir)
    graft.sql.GraftScanObservable.lastAggPushed = None
    val res = spark.sql(
      s"SELECT min(d) AS mnd, max(d) AS mxd, " +
        s"min(ts) AS mnt, max(ts) AS mxt FROM graft.$tbl")
    val row = res.collect().head
    assert(graft.sql.GraftScanObservable.lastAggPushed.isDefined,
      "date/timestamp bounds must answer from footer statistics")
    assert(res.inputFiles.isEmpty)
    assert(row.getDate(0) === java.sql.Date.valueOf("2025-01-02"))
    assert(row.getDate(1) === java.sql.Date.valueOf("2025-02-20"))
    assert(row.getTimestamp(2) === java.sql.Timestamp.from(
      java.time.Instant.parse("2025-06-01T01:00:00Z")))
    assert(row.getTimestamp(3) === java.sql.Timestamp.from(
      java.time.Instant.parse("2025-06-03T02:00:00Z")))
  }

  test("unsupported DDL verbs stay loud — the SQL door never " +
       "half-supports one (type-changing ALTERs and RENAME; CREATE/" +
       "DROP became real verbs in round 16 — Wave47 — then ADD/DROP " +
       "COLUMNS, CONSTRAINTs and DROP PARTITION — Wave49/50/51/53)") {
    val (_, tbl, _) = freshStore("ddl")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$tbl ALTER COLUMN v TYPE STRING")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$tbl RENAME COLUMN v TO w")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.$tbl RENAME TO graft.renamed")
    }
    intercept[Exception] {
      // unpartitioned CREATE: the store is dir-partitioned by design
      spark.sql(s"CREATE TABLE graft.w45_nopart (a INT) USING parquet")
    }
    assert(keys(tbl).size === 40)
  }
}

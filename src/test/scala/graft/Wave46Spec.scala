package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-16 wave 3: SQL MAINTENANCE PROCEDURES — `CALL
  * graft.system.<verb>(…)` drives the store's existing maintenance
  * calls (optimize/zorder, compact_deletes, vacuum, refresh_stats,
  * expire_partitions) and returns one summary row, so the whole
  * operate-a-store loop is SQL-expressible. */
class Wave46Spec extends SparkTestBase {

  private val rootDir =
    new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath

  private def freshStore(name: String, n: Int = 40)
      : (String, String) = {
    val tbl = s"graft_w46_$name"
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    import spark.implicits._
    val df = (1 to n).map(i =>
        (i.toLong, i * 2L, i * 10.0, if (i % 2 == 0) "E" else "O"))
      .toDF("k", "g", "v", "p")
    MergeOps.mergeUpsert(spark, dir, df, "k", "p")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", rootDir)
    (tbl, dir)
  }

  test("CALL graft.system.optimize(…, zorder_by) commits the SAME " +
       "shape the Scala compactZOrder call produces: one new version, " +
       "fresh two-column bounds recorded, dv refs materialized, and " +
       "content unchanged") {
    val (tbl, dir) = freshStore("opt")
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(5L).toDF("k"), "k", "p") // v2
    val before = MergeOps.readCorpus(spark, dir, "p")
      .select("k").collect().map(_.getLong(0)).toSet
    val row = spark.sql(
      s"CALL graft.system.optimize('$tbl', zorder_by => 'k,g')")
      .collect().head
    assert(row.getAs[String]("table") === tbl)
    assert(row.getAs[Long]("version") === 3L,
      "optimize must commit exactly one version")
    assert(Versioned.morRefs(spark, dir, 3L, Versioned.Dv).isEmpty,
      "the restage must materialize every deletion vector")
    val stats = Versioned.readStatsMulti(spark, dir, 3L)
    assert(stats.nonEmpty &&
      stats.values.forall(m => m.contains("k") && m.contains("g")),
      s"fresh bounds for both z-columns must be recorded: $stats")
    assert(MergeOps.readCorpus(spark, dir, "p")
      .select("k").collect().map(_.getLong(0)).toSet === before,
      "maintenance must be content-invisible")
  }

  test("CALL graft.system.compact_deletes purges MOR vectors; CALL " +
       "graft.system.vacuum returns the report row and reclaims " +
       "below-floor dirs") {
    val (tbl, dir) = freshStore("vac")
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(2L, 4L).toDF("k"),
                            "k", "p")                                // v2
    assert(Versioned.morRefs(spark, dir, 2L, Versioned.Dv).nonEmpty)
    spark.sql(s"CALL graft.system.compact_deletes('$tbl')")          // v3
    assert(Versioned.morRefs(spark, dir, 3L, Versioned.Dv).isEmpty,
      "compact_deletes must drop every dv line")
    val rep = spark.sql(
      s"CALL graft.system.vacuum('$tbl', keep_versions => 1)")
      .collect().head
    assert(rep.getAs[Long]("floor") === 3L)
    assert(rep.getAs[Int]("versions_swept") >= 1,
      s"vacuum must sweep the pre-compact versions: $rep")
    assert(MergeOps.readCorpus(spark, dir, "p").count() === 38L,
      "content survives the sweep")
  }

  test("manifest-recorded row counts (the Iceberg tier): a stats-" +
       "bearing store answers COUNT(*) from ONE dir listing per entry " +
       "— ZERO parquet footer reads — exactly, composes with the dv " +
       "position subtraction, and dropping the rows lines falls back " +
       "to footers with the same answer") {
    val tbl = s"graft_w46_rows"
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    import spark.implicits._
    val df = (1 to 40).map(i =>
        (i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
      .toDF("k", "v", "p")
    MergeOps.mergeUpsert(spark, dir, df, "k", "p",
                         statsKeys = Seq("k"))                       // v1
    assert(Versioned.zoneMaps(spark, dir, 1L).rows.nonEmpty,
      "a stats job must record per-file row counts")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", rootDir)
    def count(): (Long, Boolean, Int) = {
      graft.sql.GraftScanObservable.lastAggPushed = None
      val n = spark.sql(s"SELECT count(*) AS c FROM graft.$tbl")
        .collect().head.getLong(0)
      (n, graft.sql.GraftScanObservable.lastAggPushed.isDefined,
        graft.sql.GraftScanObservable.lastAggFooterReads)
    }
    assert(count() === ((40L, true, 0)),
      "recorded counts must answer without a footer read")
    // sparse MOR delete: recorded counts + position subtraction keep
    // the WHOLE count metadata-only — still zero footers
    MergeOps.mergeDeleteMor(spark, dir, Seq(4L, 9L).toDF("k"),
                            "k", "p")                                // v2
    assert(count() === ((38L, true, 0)),
      "dv subtraction must compose with the recorded counts")
    // strip the rows lines: the footer fallback gives the same answer
    val sp = Versioned.committedSidecar(spark, dir, 2L, "stats").get
    val in = fs.open(sp)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    fs.delete(sp, false)
    val out = fs.create(sp, false)
    try out.write(lines.filterNot(_.split('\t')(1) == "__rows__")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val (n2, pushed2, footers2) = count()
    assert(n2 === 38L && pushed2,
      "missing rows lines keep the metadata path through footers")
    assert(footers2 > 0, "the fallback must actually read footers")
  }

  test("CALL graft.system.refresh_stats re-arms pruning metadata and " +
       "expire_partitions drops the named entries atomically; an " +
       "unknown procedure and a bad argument fail loudly") {
    val (tbl, dir) = freshStore("rs")
    spark.sql(
      s"CALL graft.system.refresh_stats('$tbl', 'k', dict_keys => 'p')")
    val stats = Versioned.readStatsMulti(spark, dir, 2L)
    assert(stats.nonEmpty && stats.values.forall(_.contains("k")),
      s"refresh_stats must record k bounds: $stats")
    assert(Versioned.zoneMaps(spark, dir, 2L).dicts
      .values.forall(_.contains("p")), "and the p dictionary")
    spark.sql(
      s"CALL graft.system.expire_partitions('$tbl', 'p=O')")         // v3
    assert(Versioned.manifest(spark, dir, 3L).map(_._1) === Seq("p=E"),
      "the named partition must leave the manifest")
    assert(MergeOps.readCorpus(spark, dir, "p").count() === 20L)
    intercept[Exception] {
      spark.sql(s"CALL graft.system.no_such_proc('$tbl')")
    }
    intercept[Exception] {
      spark.sql(
        s"CALL graft.system.optimize('$tbl', zorder_by => 'onlyone')")
    }
    assert(Versioned.currentVersion(spark, dir).contains(3L),
      "failed calls must publish nothing")
  }
}

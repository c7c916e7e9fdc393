package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.engine.Versioned
import graft.ops.MergeOps

/** One scan per store read. A read's partition-column type is decided
  * once, from every `col=value` name in the manifest of the version it
  * reads, so a pruned read and a full read type a value alike and a
  * commit never changes the value of an entry it did not touch. Entries
  * of one partition layout read through one file scan whichever version
  * dirs they sit in; version dirs whose files disagree on the data
  * schema read the by-name union of their schemas, missing columns as
  * null. */
class OneScanReadSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // the catalog suites share the temp dir as the catalog root
  private val root =
    new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath

  /** A store dir under `root`, emptied. */
  private def clean(name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$name")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    p.toString
  }

  /** The p of k = 1 in `df`, as the read typed it. */
  private def pOf1(df: DataFrame): Any =
    df.where(col("k") === 1L).select("p").as[String].collect().toSeq match {
      case Seq(p) => p
      case other => fail(s"k = 1 read back as $other")
    }

  private def scans(df: DataFrame): (Int, Int) = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    (collect(plan) { case s: FileSourceScanExec => s }.length,
     collect(plan) { case u: UnionExec => u }.length)
  }

  test("a partition value reads the same through every reader, before " +
       "and after a commit that restages another entry") {
    val table = "graft_os_007"
    val dir = clean(table)
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 10L, "007"), (2L, 20L, "a")).toDF("k", "v", "p"),
      "k", "p")                                                      // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((3L, 30L, "a")).toDF("k", "v", "p"), "k", "p")             // v2
    assert(Versioned.manifest(spark, dir, 2L).map(_._2)
      .map(Versioned.verDirOf).distinct.length == 2,
      "fixture: v2 restages p=a only")
    for (v <- Seq(1L, 2L)) {
      val read = Versioned.readVersion(spark, dir, v, Some("p"))
      assert(read.schema("p").dataType.typeName == "string")
      assert(pOf1(read) == "007", s"readVersion($v)")
    }
    assert(pOf1(Versioned.readCurrent(spark, dir, Some("p"))) == "007")
    val pruned = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq("p" -> Seq("007")))
    assert(pruned.schema("p").dataType.typeName == "string")
    assert(pruned.select("k").as[Long].collect().toSeq == Seq(1L))
    assert(pOf1(pruned) == "007")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    assert(pOf1(spark.sql(s"SELECT k, p FROM graft.$table WHERE k = 1"))
      == "007")
    assert(pOf1(spark.sql(
      s"SELECT k, p FROM graft.$table VERSION AS OF 1 WHERE k = 1")) == "007")
    val h = MergeOps.history(spark, dir, "p").as[(Long, Long, Long)]
      .collect().toSeq
    assert(h == Seq((1L, 2L, 2L), (2L, 2L, 3L)))
  }

  test("a single-layout store spread over three version dirs reads " +
       "through one file scan") {
    val dir = freshDir("graft_os_one_scan")
    def batch(ks: Seq[Long], p: String, m: Long) =
      ks.map(k => (k, k * m, p)).toDF("k", "v", "p")
    MergeOps.mergeUpsert(spark, dir, batch(1L to 4L, "A", 10L)
      .union(batch(5L to 8L, "B", 10L)).union(batch(9L to 12L, "C", 10L)),
      "k", "p")                                                      // v1
    MergeOps.mergeUpsert(spark, dir, batch(Seq(5L), "B", 100L), "k", "p")
    MergeOps.mergeUpsert(spark, dir, batch(Seq(9L), "C", 100L), "k", "p")
    val man = Versioned.manifest(spark, dir, 3L)
    assert(man.map(e => Versioned.verDirOf(e._2)).distinct.length == 3,
      s"fixture: entries span three version dirs, got $man")
    val read = Versioned.readCurrent(spark, dir, Some("p"))
    assert(scans(read) == (1, 0))
    val want = (1L to 12L).map { k =>
      (k, if (k == 5L || k == 9L) k * 100L else k * 10L,
        if (k <= 4L) "A" else if (k <= 8L) "B" else "C") }.toSet
    assert(read.select("k", "v", "p").as[(Long, Long, String)].collect()
      .toSet == want)
  }

  test("a schema-evolved store null-fills the column older version " +
       "dirs predate") {
    val dir = freshDir("graft_os_evolved")
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 10L, "A"), (2L, 20L, "B"), (3L, 30L, "C")).toDF("k", "v", "p"),
      "k", "p")                                                      // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 11L, "A")).toDF("k", "v", "p"), "k", "p")             // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 21L, "B", "w2")).toDF("k", "v", "p", "w"), "k", "p")  // v3
    val read = Versioned.readCurrent(spark, dir, Some("p"))
    assert(read.select("k", "v", "p", "w")
      .as[(Long, Long, String, Option[String])].collect().toSet == Set(
        (1L, 11L, "A", None), (2L, 21L, "B", Some("w2")),
        (3L, 30L, "C", None)))
    assert(scans(read) == (1, 0))
  }

  test("a column whose type differs between version dirs reads as " +
       "the union's wider type") {
    val dir = freshDir("graft_os_widened")
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 10, "A"), (2L, 20, "B")).toDF("k", "v", "p"), "k", "p")
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 21L, "B")).toDF("k", "v", "p"), "k", "p")
    val read = Versioned.readCurrent(spark, dir, Some("p"))
    assert(read.schema("v").dataType.typeName == "long")
    assert(read.select("k", "v", "p").as[(Long, Long, String)].collect()
      .toSet == Set((1L, 10L, "A"), (2L, 21L, "B")))
  }

  test("a foreign-layout entry reads through its own scan beside the " +
       "current layout's") {
    val dir = freshDir("graft_os_foreign")
    def rows(ks: Seq[Long]) =
      ks.map(k => (k, k * 10L, "x", "a b")).toDF("k", "v", "p", "g")
    MergeOps.mergeUpsert(spark, dir, rows(1L to 5L), "k", "g",
      statsKeys = Seq("k"))
    MergeOps.mergeUpsert(spark, dir, rows(6L to 10L), "k", "p",
      statsKeys = Seq("k"))
    assert(Versioned.manifest(spark, dir, 2L).map(_._1).toSet ==
      Set("g=a b", "p=x"))
    val read = Versioned.readCurrent(spark, dir, Some("p"))
    assert(read.select("k", "v", "p", "g")
      .as[(Long, Long, String, String)].collect().toSet ==
      (1L to 10L).map(k => (k, k * 10L, "x", "a b")).toSet)
    assert(scans(read) == (2, 1))
  }

  test("partition types follow the session's inference setting: the " +
       "schema memo never keeps one") {
    val dir = freshDir("graft_os_infer")
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, "007"), (2L, "010")).toDF("k", "p"), "k", "p")
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    assert(Versioned.readCurrent(spark, dir, Some("p"))
      .schema("p").dataType.typeName == "integer")
    spark.conf.set(key, "false")
    try {
      val plain = spark.read.parquet(
        Versioned.manifest(spark, dir, 1L).map(e =>
          s"$dir/${Versioned.verDirOf(e._2)}").distinct: _*)
      assert(plain.schema("p").dataType.typeName == "string")
      val read = Versioned.readCurrent(spark, dir, Some("p"))
      assert(read.schema("p").dataType.typeName == "string")
      assert(read.select("k", "p").as[(Long, String)].collect().toSet ==
        Set((1L, "007"), (2L, "010")))
    } finally spark.conf.unset(key)
    assert(Versioned.readCurrent(spark, dir, Some("p"))
      .schema("p").dataType.typeName == "integer")
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Versioned
import graft.ops.MergeOps

/** The zone-map stats sidecar: every line a write or a refresh records
  * names the manifest entry whose rows it describes, even when Spark's
  * type inference reads the entry's dir value back differently (`007`
  * reads as the int 7); a pruning pass loads the sidecar once; and the
  * stats-key contracts fail loudly before anything publishes. */
class ZoneMapSpec extends SparkTestBase {
  import spark.implicits._

  /** `n` rows (k from `from`, p, tag): one partition value, one tag. */
  private def batch(from: Int, n: Int, p: String, tag: String): DataFrame =
    (from until from + n).map(i => (i.toLong, p, tag)).toDF("k", "p", "tag")

  private def current(dir: String): Long =
    Versioned.currentVersion(spark, dir).get

  /** Every stats line of the current version names a manifest entry. */
  private def assertKeyedByEntry(dir: String): Unit = {
    val v = current(dir)
    val names = Versioned.manifest(spark, dir, v).map(_._1).toSet
    val parts = Versioned.sidecarLines(spark, dir, v, Versioned.Stats)
      .map(Versioned.statsLinePart).toSet
    assert(parts.nonEmpty && parts.subsetOf(names),
      s"stats lines name ${parts -- names}, not a manifest entry of $names")
  }

  private def blue(dir: String): Long =
    MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq("tag" -> Seq("blue"))).count()

  test("dir values Spark re-infers (7 and 007) keep their own " +
       "dictionaries: a pruned read finds every row, before and after " +
       "a refresh, and a value of the partition column is the name " +
       "tier's alone") {
    val dir = freshDir("graft_zm_007")
    MergeOps.mergeUpsert(spark, dir, batch(0, 10, "7", "blue"), "k", "p",
      dictKeys = Seq("tag"))
    MergeOps.mergeUpsert(spark, dir, batch(10, 10, "007", "red"), "k", "p",
      dictKeys = Seq("p", "tag"), bloomKeys = Seq("p"))
    assert(Versioned.manifest(spark, dir, current(dir)).map(_._1).toSet ==
      Set("p=7", "p=007"))
    assertKeyedByEntry(dir)
    assert(blue(dir) == 10L)
    // p=007's dictionary and bloom hold the re-inferred 7, not 007;
    // every row reads back as p = 7, so the pruned read is the whole
    // filtered table
    val sevens = MergeOps.readCorpus(spark, dir, "p").where(col("p") === 7)
    assert(sevens.count() == 20L)
    assert(MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq("p" -> Seq("007"))).count() == sevens.count())

    MergeOps.refreshStats(spark, dir, "p", dictKeys = Seq("tag"))
    assertKeyedByEntry(dir)
    assert(blue(dir) == 10L)
    val dicts = Versioned.zoneMaps(spark, dir, current(dir)).dicts
    assert(dicts.map { case (n, cs) => n -> cs("tag") } ==
      Map("p=7" -> Set("blue"), "p=007" -> Set("red")))
  }

  test("every tier's lines name the staged entry: a value no entry " +
       "holds prunes 007, 010 and an escaped dir name") {
    val dir = freshDir("graft_zm_010")
    val parts = Seq("007", "010", "a b%c")
    MergeOps.mergeUpsert(spark, dir,
      parts.zipWithIndex.map { case (p, i) =>
        batch(10 * i, 5, p, "blue").union(batch(10 * i + 5, 5, p, "red"))
      }.reduce(_ union _),
      "k", "p", statsKeys = Seq("k"), dictKeys = Seq("tag"),
      bloomKeys = Seq("tag"))
    assertKeyedByEntry(dir)
    val v = current(dir)
    val man = Versioned.manifest(spark, dir, v)
    val names = Set("p=007", "p=010", "p=a b%25c")
    assert(man.map(_._1).toSet == names)
    assert(MergeOps.prunedEntries(spark, dir, v, man, Nil,
      Seq("tag" -> Seq("green"))).isEmpty)
    assert(MergeOps.prunedEntries(spark, dir, v, man, Nil,
      Seq("tag" -> Seq("red"))).map(_._1).toSet == names)
  }

  /** Bytes the local file system has read so far, over every thread. */
  private def fileBytesRead: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  test("a pruning pass with a range and a value hint reads the stats " +
       "sidecar once") {
    val dir = freshDir("graft_zm_once")
    MergeOps.mergeUpsert(spark, dir,
      (0 until 40).map(i => (i.toLong, s"g${i % 4}", s"t${i % 3}"))
        .toDF("k", "p", "tag"),
      "k", "p", statsKeys = Seq("k"), dictKeys = Seq("tag"),
      bloomKeys = Seq("tag"))
    val v = current(dir)
    val man = Versioned.manifest(spark, dir, v)
    val b0 = fileBytesRead
    val lines = Versioned.sidecarLines(spark, dir, v, Versioned.Stats)
    val one = fileBytesRead - b0
    assert(lines.nonEmpty && one > 0L)
    val b1 = fileBytesRead
    val kept = MergeOps.prunedEntries(spark, dir, v, man,
      Seq(("k", 0L, 9L)), Seq("tag" -> Seq("t1")))
    val pass = fileBytesRead - b1
    assert(kept.nonEmpty)
    assert(pass == one,
      s"the pruning pass read $pass bytes; one sidecar read is $one")
  }

  test("a stats key must be integral: a DATE key fails loudly and " +
       "commits nothing") {
    val dir = freshDir("graft_zm_date")
    MergeOps.mergeUpsert(spark, dir, batch(0, 4, "A", "blue"), "k", "p")
    val e = intercept[IllegalArgumentException] {
      MergeOps.mergeUpsert(spark, dir,
        batch(4, 4, "A", "red").withColumn("d", current_date()), "k", "p",
        statsKeys = Seq("d"))
    }
    assert(e.getMessage.contains("must be integral"), e.getMessage)
    assert(current(dir) == 1L, "a refused stats key publishes nothing")
  }

  test("a stats key absent from the batch fails with FIELD_NOT_FOUND and " +
       "commits nothing") {
    val dir = freshDir("graft_zm_absent")
    MergeOps.mergeUpsert(spark, dir, batch(0, 4, "A", "blue"), "k", "p")
    val e = intercept[Exception] {
      MergeOps.mergeUpsert(spark, dir, batch(4, 4, "A", "red"), "k", "p",
        statsKeys = Seq("nope"))
    }
    assert(e.getMessage.contains("FIELD_NOT_FOUND"), e.getMessage)
    assert(current(dir) == 1L, "a missing stats key publishes nothing")
  }

  test("the formatted plan of SHOW PARTITIONS names the catalog and the " +
       "table, the same on every run") {
    val root = new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath
    val tbl = "graft_zm_show"
    val dir = new java.io.File(root, tbl).getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    MergeOps.mergeUpsert(spark, dir, batch(0, 4, "A", "blue"), "k", "p")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    // expression ids (`#<n>`) count up across plans; mask them
    def plan(): String = spark.sql(
      s"EXPLAIN FORMATTED SHOW PARTITIONS graft.$tbl").head.getString(0)
      .replaceAll("#\\d+", "#")
    val first = plan()
    assert(first.contains("GraftTable"), first)
    assert("@[0-9a-f]+".r.findFirstIn(first).isEmpty, first)
    assert(plan() == first)
  }
}

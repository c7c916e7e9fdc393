package graft

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.functions._

import graft.engine.{ConcurrentCommitException, Versioned}
import graft.ops.MergeOps

/** The store-read kernel ([[Versioned.readParquetCached]]) on a
  * 40-partition store — above Spark's 32-path parallel-discovery
  * threshold, where a path-list `read.parquet` starts a distributed
  * "Listing leaf files" job. Every store read builds its own file index
  * from one driver listing per entry dir, so Spark's own file discovery
  * never runs: for each read surface the parallel-listing-job and
  * files-discovered counters stay flat and the rows are the ones the
  * store holds. */
class ReadKernelSpec extends SparkTestBase {
  import spark.implicits._

  private val Parts = 40
  private val N = 400

  /** `N` rows (k, v = k × 3, p = k mod `Parts`): one entry per p. */
  private def rows = (1 to N).map(i => (i.toLong, i * 3L, i % Parts))
    .toDF("k", "v", "p")

  // the catalog suites share the temp dir as the catalog root
  private val root =
    new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath
  private val table = "graft_rk40"

  /** A store dir under `root`, emptied. */
  private def clean(name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$name")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    p.toString
  }

  private lazy val dir = {
    val d = clean(table)
    MergeOps.mergeUpsert(spark, d, rows, "k", "p")                   // v1
    MergeOps.mergeUpsert(spark, d,
      Seq((1L, -1L, 1), (2L, -2L, 2)).toDF("k", "v", "p"), "k", "p") // v2
    d
  }

  /** (parallel listing jobs, files discovered by Spark) during `body`. */
  private def listing[T](body: => T): (Long, Long, T) = {
    val j0 = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    val f0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val r = body
    (HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - j0,
     HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - f0, r)
  }

  private def assertNoListing[T](what: String)(body: => T): T = {
    val (jobs, files, r) = listing(body)
    assert(jobs == 0, s"$what started $jobs parallel listing job(s)")
    assert(files == 0, s"$what had Spark discover $files file(s)")
    r
  }

  /** (count, sum k, sum v) of a frame. */
  private def digest(df: org.apache.spark.sql.DataFrame) = {
    val r = df.agg(count(lit(1)), sum("k"), sum("v")).head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private val base = (N.toLong, (1 to N).map(_.toLong).sum,
    (1 to N).map(_ * 3L).sum)
  private val v2Digest = (base._1, base._2, base._3 - 3 - 6 - 1 - 2)

  test("readCurrent and readVersion list no leaf files through Spark") {
    assert(Versioned.manifest(spark, dir, 2L).size == Parts)
    assertNoListing("readCurrent") {
      assert(digest(Versioned.readCurrent(spark, dir, Some("p")))
        == v2Digest)
    }
    assertNoListing("readVersion") {
      assert(digest(Versioned.readVersion(spark, dir, 1L, Some("p")))
        == base)
    }
  }

  test("readCorpusSkipPruned over 36 kept entries lists nothing") {
    val kept = (0 until 36).map(_.toString)
    val got = assertNoListing("readCorpusSkipPruned") {
      MergeOps.readCorpusSkipPruned(spark, dir, "p",
        values = Seq(("p", kept))).select("k").as[Long].collect().toSet
    }
    assert(got == (1 to N).filter(_ % Parts < 36).map(_.toLong).toSet)
  }

  test("history reads every version without a listing job") {
    val h = assertNoListing("history") {
      MergeOps.history(spark, dir, "p")
        .select("version", "n_partitions", "n_rows").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    assert(h == Seq((1L, Parts.toLong, N.toLong), (2L, Parts.toLong, N.toLong)))
  }

  test("SELECT through the graft catalog lists nothing") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    dir
    val got = assertNoListing("SELECT") {
      digest(spark.sql(s"SELECT k, v FROM graft.$table"))
    }
    assert(got == v2Digest)
    val old = assertNoListing("SELECT VERSION AS OF") {
      digest(spark.sql(s"SELECT k, v FROM graft.$table VERSION AS OF 1"))
    }
    assert(old == base)
  }

  test("a positional deletion-vector read lists nothing") {
    val d = clean("graft_rk40_dv")
    MergeOps.mergeUpsert(spark, d, rows, "k", "p")                   // v1
    // one key in each of 36 partitions: every hit file takes the
    // positional tier, so the read filters on _metadata.row_index
    MergeOps.mergeDeleteMor(spark, d, (1 to 36).map(_.toLong).toDF("k"),
      "k", "p")                                                      // v2
    val refs = Versioned.morRefs(spark, d, 2L, "dv").values.flatten.toSeq
    assert(refs.size == 36 && refs.forall(_.pos.nonEmpty),
      "every touched partition must carry row positions")
    val got = assertNoListing("positional dv read") {
      Versioned.readCurrent(spark, d, Some("p")).select("k").as[Long]
        .collect().toSet
    }
    assert(got == (37 to N).map(_.toLong).toSet)
  }

  test("an entry dir of a 40-entry version that vanishes between the " +
       "manifest resolve and the read raises the commit-race signal") {
    val d = clean("graft_rk40_gone")
    MergeOps.mergeUpsert(spark, d, rows, "k", "p")                   // v1
    val man = Versioned.manifest(spark, d, 1L)
    assert(man.size == Parts)
    val gone = new org.apache.hadoop.fs.Path(s"$d/${man(17)._2}")
    gone.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(gone, true)
    val e = intercept[ConcurrentCommitException] {
      Versioned.readEntries(spark, d, man, Some("p")).collect()
    }
    assert(e.getMessage.contains("re-derive"),
      s"the error must route the caller to retry, got: ${e.getMessage}")
    intercept[ConcurrentCommitException] {
      Versioned.readEntriesLive(spark, d, 1L, man, Some("p")).collect()
    }
  }
}

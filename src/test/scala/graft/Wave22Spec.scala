package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-11 wave: dictionary zone maps — per-partition distinct sets
  * for categorical columns, riding the stats sidecar. The writer
  * records a column's full distinct set per partition when it fits the
  * cap; the dict-pruned reader keeps a partition only if some wanted
  * value appears in its set; maintenance carries the lines under the
  * superset rule; over-cap columns record nothing and always read. */
class Wave22Spec extends SparkTestBase {

  /** Years 1..4, statuses concentrated by year: y1 all A, y2 mixed
    * A/B, y3 all B, y4 mixed B/C — the correlated-categorical shape. */
  private def corpus() = {
    import spark.implicits._
    val rows =
      (1 to 10).map(i => (i.toLong, "A", 1L)) ++
      (11 to 20).map(i => (i.toLong, if (i % 2 == 0) "A" else "B", 2L)) ++
      (21 to 30).map(i => (i.toLong, "B", 3L)) ++
      (31 to 40).map(i => (i.toLong, if (i % 2 == 0) "B" else "C", 4L))
    rows.toDF("k", "status", "y")
  }

  private def prunedKeys(dir: String, vals: Seq[String]): Set[Long] =
    MergeOps.readCorpusSkipPruned(spark, dir, "y",
        values = Seq(("status", vals))).select("k")
      .collect().map(_.getLong(0)).toSet

  private def plainKeys(dir: String, vals: Seq[String]): Set[Long] =
    MergeOps.readCorpus(spark, dir, "y")
      .where(col("status").isin(vals: _*)).select("k")
      .collect().map(_.getLong(0)).toSet

  test("dictionaries record per-partition distinct sets, the pruned " +
       "read keeps only set-hitting partitions, and the result equals " +
       "the plain filter") {
    val dir = freshDir("graft_dict")
    MergeOps.mergeUpsert(spark, dir, corpus(), "k", "y",
      dictKeys = Seq("status"))
    val dicts = Versioned.zoneMaps(spark, dir, 1L).dicts
    assert(dicts("y=1")("status") == Set("A") &&
           dicts("y=2")("status") == Set("A", "B") &&
           dicts("y=4")("status") == Set("B", "C"), s"got $dicts")
    // 'C' lives only in y=4 — the pruner must keep exactly that entry
    assert(prunedKeys(dir, Seq("C")) == plainKeys(dir, Seq("C")) &&
      prunedKeys(dir, Seq("C")) == (31L to 40L by 2).toSet)
    // IN over two values unions the kept sets
    assert(prunedKeys(dir, Seq("A", "C")) == plainKeys(dir, Seq("A", "C")))
    // a value nowhere recorded → every partition pruned, empty result
    // with the right schema
    val none = MergeOps.readCorpusSkipPruned(spark, dir, "y",
      values = Seq(("status", Seq("Z"))))
    assert(none.count() == 0L && none.columns.contains("status"))
  }

  test("an over-cap column records no dictionary and always reads " +
       "(correct, just unpruned); dict lines coexist with range bounds " +
       "in one sidecar without breaking either reader") {
    import spark.implicits._
    val dir = freshDir("graft_dictcap")
    // k as string has 40 distinct values per... per partition 10 — under
    // the cap of 32; build a genuinely over-cap column instead
    val wide = (1 to 80).map(i => (i.toLong, s"v$i", 1L))
      .toDF("k", "status", "y")
    MergeOps.mergeUpsert(spark, dir, wide.union(corpus().where(col("y") > 1)),
      "k", "y", dictKeys = Seq("status"))
    val dicts = Versioned.zoneMaps(spark, dir, 1L).dicts
    assert(!dicts.contains("y=1"),
      s"80 distinct values must be over the cap: ${dicts.get("y=1")}")
    // unpruned but correct: v7 lives in the dictionary-less partition
    assert(prunedKeys(dir, Seq("v7")) == Set(7L))
    // second store: range bounds AND dictionaries from ONE upsert
    val dir2 = freshDir("graft_dictboth")
    MergeOps.mergeUpsert(spark, dir2, corpus(), "k", "y",
      statsKeys = Seq("k"), dictKeys = Seq("status"))
    assert(Versioned.readStatsMulti(spark, dir2, 1L)("y=1")("k") ==
      (1L, 10L), "range reader must skip dict lines")
    assert(Versioned.zoneMaps(spark, dir2, 1L).dicts("y=3")("status") ==
      Set("B"), "dict reader must skip range lines")
    // the range and dictionary tiers both work off the shared sidecar
    assert(MergeOps.readCorpusSkipPruned(spark, dir2, "y",
      ranges = Seq(("k", 1L, 5L))).count() == 5L)
    assert(prunedKeys(dir2, Seq("C")) == (31L to 40L by 2).toSet)
  }

  test("maintenance carries dictionaries under the superset rule: " +
       "deletes keep pruning exact, compaction carries verbatim, a " +
       "dictless restage drops the partition's lines conservatively") {
    import spark.implicits._
    val dir = freshDir("graft_dictcarry")
    MergeOps.mergeUpsert(spark, dir, corpus(), "k", "y",
      dictKeys = Seq("status"))
    // delete every 'C' row: y=4's recorded {B,C} is now a superset —
    // pruning stays CORRECT (reads y=4, finds nothing)
    MergeOps.mergeDelete(spark, dir,
      (31L to 40L by 2).toDF("k"), "k", "y")                        // v2
    assert(Versioned.zoneMaps(spark, dir, 2L).dicts("y=4")("status") ==
      Set("B", "C"), "delete must carry the (superset) dictionary")
    assert(prunedKeys(dir, Seq("C")).isEmpty &&
      plainKeys(dir, Seq("C")).isEmpty)
    MergeOps.compactPartitions(spark, dir, "y", maxFilesPerPart = 0) // v3
    assert(Versioned.zoneMaps(spark, dir, 3L).dicts("y=2")("status") ==
      Set("A", "B"), "compaction must carry dictionaries verbatim")
    // a dict-less upsert restaging y=2 drops its lines: conservative
    // (always read), never stale
    MergeOps.mergeUpsert(spark, dir,
      Seq((15L, "Q", 2L)).toDF("k", "status", "y"), "k", "y")       // v4
    val d4 = Versioned.zoneMaps(spark, dir, 4L).dicts
    assert(!d4.contains("y=2") && d4.contains("y=3"),
      s"restaged partition sheds its dict, others carry: $d4")
    // the new value in the dictless partition is found
    assert(prunedKeys(dir, Seq("Q")) == Set(15L))
  }

  test("refreshStats re-arms shed pruning and tightens carried " +
       "supersets in one manifest-carry commit, without touching data " +
       "dirs or other stats forms") {
    import spark.implicits._
    val dir = freshDir("graft_dictrefresh")
    MergeOps.mergeUpsert(spark, dir, corpus(), "k", "y",
      statsKeys = Seq("k"), dictKeys = Seq("status"))               // v1
    // MOR-delete every 'C' row: y=4's {B,C} dict is now a loose superset
    MergeOps.mergeDeleteMor(spark, dir,
      (31L to 40L by 2).toDF("k"), "k", "y")                        // v2
    // dict-less upsert sheds y=2's lines (dict AND range)
    MergeOps.mergeUpsert(spark, dir,
      Seq((15L, "Q", 2L)).toDF("k", "status", "y"), "k", "y")       // v3
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataBefore = fs.listStatus(new org.apache.hadoop.fs.Path(dir,
      "data")).map(_.getPath.getName).toSet
    MergeOps.refreshStats(spark, dir, "y",
      dictKeys = Seq("status"))                                     // v4
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).toSet == dataBefore,
      "a refresh must not restage any data dir")
    val d4 = Versioned.zoneMaps(spark, dir, 4L).dicts
    assert(d4("y=2")("status") == Set("A", "B", "Q"),
      s"the shed partition re-arms with its CURRENT set: ${d4.get("y=2")}")
    assert(d4("y=4")("status") == Set("B"),
      "the live scan must tighten the post-delete superset")
    // dv refs carried: tombstoned rows stay hidden after the refresh
    assert(Versioned.morRefs(spark, dir, 4L, Versioned.Dv).nonEmpty)
    assert(prunedKeys(dir, Seq("C")).isEmpty)
    // a dict-only refresh must NOT strip the surviving range bounds
    // (y=2's were shed by the restage; the others carry)
    val m4 = Versioned.readStatsMulti(spark, dir, 4L)
    assert(m4.get("y=3").exists(_.get("k").contains((21L, 30L))),
      s"range bounds must survive a dict-only refresh: ${m4.get("y=3")}")
    // and a range refresh re-arms them everywhere from the live read
    MergeOps.refreshStats(spark, dir, "y", statsKeys = Seq("k"))    // v5
    val m5 = Versioned.readStatsMulti(spark, dir, 5L)
    assert(m5("y=2")("k") == (11L, 20L) && m5("y=4")("k") == (32L, 40L),
      s"refreshed bounds must be exact for live content: $m5")
    assert(Versioned.zoneMaps(spark, dir, 5L).dicts("y=2")("status") ==
      Set("A", "B", "Q"), "a range-only refresh must carry dictionaries")
  }

  test("compactZOrder: content-invisible (empty feed), tombstones " +
       "materialize, refreshed bounds land, and files are tight on " +
       "BOTH z-columns where a plain key sort spans the trailing one") {
    import spark.implicits._
    val dir = freshDir("graft_zo")
    // two correlated dims inside one partition: k and j = bit-reversed k
    def rev(k: Long): Long =
      java.lang.Long.reverse(k) >>> (64 - 10)
    val rows = (0L until 1024L).map(k => (k, rev(k), k * 1.0, "P"))
      .toDF("k", "j", "v", "p")
    MergeOps.mergeUpsert(spark, dir, rows, "k", "p",
      statsKeys = Seq("k"))                                         // v1
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(5L, 17L).toDF("k"), "k", "p")                             // v2
    val want = MergeOps.readCorpus(spark, dir, "p").collect()
      .map(_.getLong(0)).toSet
    // plain single-column sorted compaction baseline in a twin store
    val base = freshDir("graft_zobase")
    MergeOps.mergeUpsert(spark, base, rows, "k", "p")
    MergeOps.compactPartitions(spark, base, "p", maxFilesPerPart = 0,
      sortCol = Some("k"))
    MergeOps.compactZOrder(spark, dir, "p", ("k", "j"),
      statsKeys = Seq("k", "j"))                                    // v3
    // content: exactly the pre-compaction live set; feed: empty
    assert(MergeOps.readCorpus(spark, dir, "p").collect()
      .map(_.getLong(0)).toSet == want)
    assert(MergeOps.changeFeed(spark, dir, 2L, 3L, "k").count() == 0L,
      "a z-order compaction must be invisible in the change feed")
    assert(Versioned.morRefs(spark, dir, 3L, Versioned.Dv).isEmpty)
    val m = Versioned.readStatsMulti(spark, dir, 3L)("p=P")
    assert(m("k") == (0L, 1023L) && m("j")._1 == 0L,
      s"refreshed two-column bounds must land: $m")
    // row-group tightness: mean per-row-group span of the TRAILING
    // dimension, z-ordered store vs key-sorted baseline. Row groups are
    // approximated by parquet files here (one file per partition), so
    // compare 8-quantile slices of each file's physical row order via
    // monotonically_increasing_id — a layout probe, not an API claim.
    def trailSpan(d: String): Double = {
      val df = spark.read
        .parquet(s"$d")
      val withPos = df.withColumn("pos",
        org.apache.spark.sql.functions.monotonically_increasing_id())
      val slices = withPos
        .withColumn("slice", org.apache.spark.sql.functions
          .floor(col("pos") / 128))
        .groupBy("slice").agg((max("j") - min("j")).as("span"))
        .collect().map(_.getLong(1))
      slices.sum.toDouble / slices.length / 1023.0
    }
    val zDir = Versioned.manifest(spark, dir, 3L).head._2
    val bDir = Versioned.manifest(spark, base,
      Versioned.currentVersion(spark, base).get).head._2
    val zs = trailSpan(s"$dir/$zDir")
    val bs = trailSpan(s"$base/$bDir")
    assert(bs > 0.7, s"key-sorted baseline spans the trailing dim: $bs")
    assert(zs < bs * 0.6,
      s"z-order must beat the key sort on the trailing dim: $zs vs $bs")
  }

  test("NULLs in a dictionary column: the set records the non-null " +
       "values and equality pruning stays exact (NULL never matches)") {
    import spark.implicits._
    val dir = freshDir("graft_dictnull")
    val rows = Seq((1L, "A", 1L), (2L, null.asInstanceOf[String], 1L),
                   (3L, "B", 2L), (4L, "B", 2L))
      .toDF("k", "status", "y")
    MergeOps.mergeUpsert(spark, dir, rows, "k", "y",
      dictKeys = Seq("status"))
    assert(Versioned.zoneMaps(spark, dir, 1L).dicts("y=1")("status") ==
      Set("A"))
    assert(prunedKeys(dir, Seq("A")) == Set(1L))
    assert(prunedKeys(dir, Seq("B")) == Set(3L, 4L),
      "y=1 must prune for 'B' even though it holds a NULL")
  }
}

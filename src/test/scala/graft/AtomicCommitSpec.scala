package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-8 wave: the crash-atomic commit protocol under the merges
  * (r7 verdict item 1 / advice 1-2). The "kill" is simulated exactly as
  * sanctioned: the writer's on-disk state is reproduced up to — but not
  * including — the atomic commit step, and the reader must see the old
  * version IN FULL; after the marker lands, the new version in full. */
class AtomicCommitSpec extends SparkTestBase {

  test("crash between stage and publish reads back fully-old; " +
       "marker flips it to fully-new") {
    val dir = freshDir("graft_atomic")
    MergeOps.mergeUpsert(spark, dir, corpus(100), "k", "p")
    val v1 = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(v1.size == 100 && v1(7L) == 70.0)

    // The crash scenario: a merge stages its data AND manifest for v2,
    // then dies before creating commits/2. Reproduce that state by hand.
    import spark.implicits._
    val batch = Seq((7L, -1.0, "O"), (101L, 1010.0, "O")).toDF("k", "v", "p")
    val man1 = Versioned.manifest(spark, dir, 1L)
    val oldO = Versioned.readEntries(spark, dir,
      man1.filter(_._1 == "p=O"), Some("p"))
    oldO.selectExpr("k", "v", "p")
      .join(batch.select("k"), Seq("k"), "left_anti")
      .selectExpr("k", "v", "p").unionByName(batch)
      .write.mode("overwrite").partitionBy("p")
      .parquet(Versioned.stagePath(dir, 2L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manPath = new org.apache.hadoop.fs.Path(dir, "manifest/2.txt")
    val staged = Versioned.listPartDirs(spark, dir, 2L, "p")
    val entries = man1.filterNot(e => staged.exists(_._1 == e._1)) ++ staged
    val out = fs.create(manPath, true)
    out.write(entries.map { case (k, p) => s"$k\t$p" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    // NO commits/2 marker — this is the torn state a kill leaves.

    val seen = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(seen == v1,
      "a torn stage (data + manifest, no marker) must be invisible: " +
        "readers stay on the fully-old version")

    // The atomic step: create the marker. Now — and only now — fully-new.
    fs.createNewFile(new org.apache.hadoop.fs.Path(dir, "commits/2"))
    val after = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(after.size == 101 && after(7L) == -1.0 && after(101L) == 1010.0,
      "after the marker the new version must be visible in full")
    assert(after.filterNot(kv => kv._1 == 7L || kv._1 == 101L) ==
           v1.filterNot(_._1 == 7L),
      "rows the batch did not touch must be byte-identical")
  }

  test("a zero-row bootstrap publishes nothing: the store stays " +
       "uncommitted and the next write lands as a readable version 1") {
    val dir = freshDir("graft_zero_boot")
    MergeOps.mergeUpsert(spark, dir, corpus(4).where(lit(false)), "k", "p")
    assert(Versioned.currentVersion(spark, dir).isEmpty,
      "a bootstrap that stages no entry must leave no version")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")
    assert(Versioned.currentVersion(spark, dir).contains(1L))
    assert(Versioned.readVersion(spark, dir, 1L, Some("p")).count() == 4L)
    assert(MergeOps.history(spark, dir, "p").count() == 1L)
  }

  test("a merge after a torn stage ignores the orphan and lands cleanly") {
    val dir = freshDir("graft_atomic_retry")
    MergeOps.mergeUpsert(spark, dir, corpus(50), "k", "p")
    // torn stage for v2: data only, no manifest, no marker (killed earlier
    // than the previous test's scenario)
    corpus(5).withColumn("v", lit(-99.0))
      .write.mode("overwrite").partitionBy("p")
      .parquet(Versioned.stagePath(dir, 2L))
    assert(MergeOps.readCorpus(spark, dir, "p").count() == 50,
      "torn data-only stage must be invisible")
    // the retry merge restages v2 under its own unique attempt dir —
    // the orphan is simply never referenced (vacuum reclaims it later)
    import spark.implicits._
    val batch = Seq((1L, 111.0, "O")).toDF("k", "v", "p")
    MergeOps.mergeUpsert(spark, dir, batch, "k", "p")
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rows.size == 50 && rows(1L) == 111.0 && rows(2L) == 20.0,
      s"retry must land the batch atop the old committed state, got $rows")
    assert(!rows.values.exists(_ == -99.0),
      "no row from the orphaned stage may survive the retry")
  }

  test("scd2 torn rewrite keeps the committed history intact") {
    import spark.implicits._
    val dir = freshDir("graft_atomic_scd2")
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "attr")
    MergeOps.mergeScd2(spark, dir, base, "k", Seq("attr"), version = 0L)
    val v1 = MergeOps.readHistory(spark, dir).collect().toSet
    // torn v2 stage: full new history staged + manifest, killed pre-marker
    MergeOps.readHistory(spark, dir).withColumn("valid_to", lit(0L))
      .write.mode("overwrite").parquet(Versioned.stagePath(dir, 2L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "manifest/2.txt"), true)
    out.write("__ALL__\tdata/2\n".getBytes("UTF-8")); out.close()
    assert(MergeOps.readHistory(spark, dir).collect().toSet == v1,
      "history must read back fully-old after a torn rewrite")
    // and a real merge still works on top
    MergeOps.mergeScd2(spark, dir, Seq((1L, "a2"), (2L, "b")).toDF("k", "attr"),
      "k", Seq("attr"), version = 1L)
    val hist = MergeOps.readHistory(spark, dir).collect()
    assert(hist.length == 3, s"expected v0 pair + one new version: ${hist.toSeq}")
    assert(hist.count(_.isNullAt(3)) == 2, "exactly one open row per key")
  }

  test("scd2 fails fast on duplicate keys in one batch") {
    import spark.implicits._
    val dir = freshDir("graft_atomic_dup")
    val dup = Seq((1L, "a"), (1L, "b")).toDF("k", "attr")
    val e = intercept[IllegalArgumentException] {
      MergeOps.mergeScd2(spark, dir, dup, "k", Seq("attr"), version = 0L)
    }
    assert(e.getMessage.contains("duplicate"))
    assert(Versioned.currentVersion(spark, dir).isEmpty,
      "a rejected batch must not publish anything")
  }

  test("compaction: repeated merges fragment, compact restores ≤k files " +
       "per partition, multiset preserved") {
    val dir = freshDir("graft_compact")
    MergeOps.mergeUpsert(spark, dir, corpus(40), "k", "p")
    import spark.implicits._
    // each merge rewrites the touched partition with shuffle-many files
    for (i <- 1 to 3) {
      val batch = Seq((i.toLong, i * 1000.0, "O")).toDF("k", "v", "p")
      MergeOps.mergeUpsert(spark, dir, batch, "k", "p")
    }
    val before = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val v = Versioned.currentVersion(spark, dir).get
    val manBefore = Versioned.manifest(spark, dir, v)
    assert(manBefore.exists(e =>
        Versioned.dataFileCount(spark, dir, e._2) > 1),
      "precondition: at least one partition should be fragmented")
    MergeOps.compactPartitions(spark, dir, "p", maxFilesPerPart = 1)
    val v2 = Versioned.currentVersion(spark, dir).get
    val manAfter = Versioned.manifest(spark, dir, v2)
    manAfter.foreach { e =>
      assert(Versioned.dataFileCount(spark, dir, e._2) <= 1,
        s"partition ${e._1} still fragmented after compact")
    }
    val after = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(after == before, "compaction must preserve the row multiset")
    // untouched-partition entries may point at old versions; vacuum keeps
    // exactly the referenced dirs and drops the dead ones
    Versioned.vacuum(spark, dir)
    val again = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(again == before, "vacuum must not touch referenced data")
  }

  test("bucketed scd2 restages ONLY the buckets the batch touches") {
    import spark.implicits._
    val dir = freshDir("graft_scd2_bucketed")
    val base = (1L to 200L).map(i => (i, s"seg${i % 5}")).toDF("k", "attr")
    MergeOps.mergeScd2Bucketed(spark, dir, base, "k", Seq("attr"),
      version = 0L, buckets = 8)
    val v1 = Versioned.currentVersion(spark, dir).get
    assert(Versioned.manifest(spark, dir, v1).size == 8,
      "the initial load should populate all 8 buckets")
    // a single-key change must restage exactly ONE bucket
    MergeOps.mergeScd2Bucketed(spark, dir,
      Seq((7L, "CHANGED")).toDF("k", "attr"), "k", Seq("attr"),
      version = 1L, buckets = 8)
    val v2 = Versioned.currentVersion(spark, dir).get
    assert(v2 == v1 + 1)
    val man2 = Versioned.manifest(spark, dir, v2)
    val staged = man2.filter(e =>
      Versioned.stageDirVersion(e._2.split("/")(1)).contains(v2))
    assert(staged.size == 1,
      s"one key hashes to one bucket; staged ${staged.map(_._1)}")
    assert(man2.size == 8,
      "untouched buckets must keep pointing at the old version's dirs")
    // content: full history semantics survive the pruned rewrite
    val hist = MergeOps.readBucketedHistory(spark, dir, "k", Seq("attr"))
      .collect().map(r => (r.getLong(0), r.getString(1),
                           r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(hist.length == 201, s"200 v0 rows + 1 new version: ${hist.length}")
    assert(hist.count(_._1 == 7L) == 2, "changed key carries two versions")
    assert(hist.contains((7L, "seg2", 0L, 1L)) &&
           hist.contains((7L, "CHANGED", 1L, -1L)),
      "v0 row closed at version 1, new open row at version 1")
    // idempotence through the bucketed path
    MergeOps.mergeScd2Bucketed(spark, dir,
      Seq((7L, "CHANGED")).toDF("k", "attr"), "k", Seq("attr"),
      version = 2L, buckets = 8)
    assert(Versioned.currentVersion(spark, dir).get == v2,
      "an all-unchanged batch must not publish a new version")
  }

  test("time travel reads any committed version; rollback is atomic " +
       "and reversible") {
    import spark.implicits._
    val dir = freshDir("graft_travel")
    MergeOps.mergeUpsert(spark, dir, corpus(20), "k", "p")           // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -1.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val v1 = snap(Versioned.readVersion(spark, dir, 1L, Some("p")))
    val v2 = snap(Versioned.readVersion(spark, dir, 2L, Some("p")))
    assert(v1(1L) == 10.0 && v2(1L) == -1.0 && v1.size == 20 && v2.size == 20)
    assert(snap(MergeOps.readCorpus(spark, dir, "p")) == v2)
    intercept[IllegalArgumentException] {
      Versioned.readVersion(spark, dir, 9L, Some("p"))
    }
    Versioned.rollback(spark, dir, 1L)                               // v3 = v1
    assert(Versioned.currentVersion(spark, dir).get == 3L,
      "rollback must publish a NEW version, not rewrite history")
    assert(snap(MergeOps.readCorpus(spark, dir, "p")) == v1)
    Versioned.rollback(spark, dir, 2L)                               // v4 = v2
    assert(snap(MergeOps.readCorpus(spark, dir, "p")) == v2,
      "a rollback must itself be reversible (roll forward)")
    // vacuum keeps every dir the CURRENT manifest references
    Versioned.vacuum(spark, dir)
    assert(snap(MergeOps.readCorpus(spark, dir, "p")) == v2)
  }

  test("partition values with spaces round-trip through the manifest") {
    import spark.implicits._
    val dir = freshDir("graft_escape")
    val df = Seq((1L, 1.0, "has space"), (2L, 2.0, "plain"))
      .toDF("k", "v", "p")
    MergeOps.mergeUpsert(spark, dir, df, "k", "p")
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -1.0, "has space")).toDF("k", "v", "p"), "k", "p")
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows == Set((1L, -1.0, "has space"), (2L, 2.0, "plain")),
      s"escaped partition dir must match the manifest lookup, got $rows")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-11 wave: the computed change feed (CDC read side) and mirror
  * replication built on it. The feed is a NET content diff between two
  * committed versions: metadata (manifest entry + dv refs) decides
  * which partitions can differ, a key-level full-outer join classifies
  * insert/update/delete, and content-invisible rewrites (compaction,
  * verbatim re-upserts, DV materialization) contribute nothing.
  * syncMirror ships one net feed per call and records the applied
  * source version in the destination's ledger — exactly-once. */
class Wave21Spec extends SparkTestBase {

  private def feedMap(dir: String, from: Long, to: Long) =
    MergeOps.changeFeed(spark, dir, from, to, "k").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(3))).toMap

  private def mirrorKeys(dir: String): Map[Long, Double] =
    MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("changeFeed classifies insert/update/delete with the right " +
       "image, ignores restaged-but-identical survivors, and an " +
       "N-version span is one net diff") {
    import spark.implicits._
    val dir = freshDir("graft_cf")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    // v2: update 2 (E), insert 12 (E) — partition E restages, its
    // survivors (4,6,8,10) rewrite verbatim and must NOT appear
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 222.0, "E"), (12L, 120.0, "E")).toDF("k", "v", "p"),
      "k", "p")
    // v3: CoW delete 3 (O)
    MergeOps.mergeDelete(spark, dir, Seq(3L).toDF("k"), "k", "p")
    val f12 = feedMap(dir, 1L, 2L)
    assert(f12 == Map(2L -> (222.0, "update"), 12L -> (120.0, "insert")),
      s"v1->v2 feed: $f12")
    val f23 = feedMap(dir, 2L, 3L)
    assert(f23 == Map(3L -> (30.0, "delete")),
      s"delete rows must carry the PRE image: $f23")
    // the net span: 3 never both-inserted-and-deleted, 2 one update
    val f13 = feedMap(dir, 1L, 3L)
    assert(f13 == Map(2L -> (222.0, "update"), 12L -> (120.0, "insert"),
      3L -> (30.0, "delete")), s"v1->v3 net feed: $f13")
  }

  test("content-invisible rewrites yield an EMPTY feed: verbatim " +
       "re-upsert, compaction, and MOR materialization") {
    import spark.implicits._
    val dir = freshDir("graft_cfquiet")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    // verbatim re-upsert of existing rows: restages E, changes nothing
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 20.0, "E"), (4L, 40.0, "E")).toDF("k", "v", "p"),
      "k", "p")                                                     // v2
    assert(feedMap(dir, 1L, 2L).isEmpty,
      "a verbatim rewrite must be invisible in the feed")
    MergeOps.compactPartitions(spark, dir, "p", maxFilesPerPart = 0,
      sortCol = Some("k"))                                          // v3
    assert(feedMap(dir, 2L, 3L).isEmpty,
      "compaction must be invisible in the feed")
    // MOR delete then materialize: the DELETE is a change (v3->v4), the
    // MATERIALIZATION is not (v4->v5)
    MergeOps.mergeDeleteMor(spark, dir, Seq(5L).toDF("k"), "k", "p") // v4
    assert(feedMap(dir, 3L, 4L) == Map(5L -> (50.0, "delete")),
      "a MOR delete must surface through the dv-ref diff")
    MergeOps.compactDeletes(spark, dir, "p", sortCol = Some("k"))    // v5
    assert(feedMap(dir, 4L, 5L).isEmpty,
      "DV materialization must be invisible in the feed")
  }

  test("changeFeed aligns evolved schemas: a later-added column " +
       "null-fills on the old side, so survivors stay quiet and the " +
       "evolving rows classify as updates") {
    import spark.implicits._
    val dir = freshDir("graft_cfevolve")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")           // v1
    // evolve: partition E's batch adds column w; E's survivors restage
    // with w=null, which must equal the null-filled v1 image
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 20.0, "E", 7L)).toDF("k", "v", "p", "w"), "k", "p")  // v2
    val feed = MergeOps.changeFeed(spark, dir, 1L, 2L, "k")
    val rows = feed.collect().map(r =>
      r.getLong(0) -> (r.getAs[Any]("w"), r.getString(feed.columns
        .indexOf("change_type")))).toMap
    assert(rows == Map(2L -> (7L, "update")),
      s"only the evolving row changes: $rows")
  }

  test("syncMirror: bootstrap snapshot, incremental net feed, " +
       "up-to-date no-op, and exactly-once on replay") {
    import spark.implicits._
    val src = freshDir("graft_mirsrc")
    val dst = freshDir("graft_mirdst")
    MergeOps.mergeUpsert(spark, src, corpus(10), "k", "p")          // src v1
    assert(MergeOps.syncMirror(spark, src, dst, "k", "p") == 1L)
    assert(mirrorKeys(dst) == mirrorKeys(src), "bootstrap = snapshot")
    // two source commits, one sync: net feed
    MergeOps.mergeUpsert(spark, src,
      Seq((2L, 222.0, "E"), (12L, 120.0, "E")).toDF("k", "v", "p"),
      "k", "p")                                                     // src v2
    MergeOps.mergeDelete(spark, src, Seq(3L).toDF("k"), "k", "p")   // src v3
    assert(MergeOps.syncMirror(spark, src, dst, "k", "p") == 3L)
    assert(mirrorKeys(dst) == mirrorKeys(src),
      "one sync must collapse both source commits")
    val dstV = Versioned.currentVersion(spark, dst).get
    // up to date → no commit
    assert(MergeOps.syncMirror(spark, src, dst, "k", "p") == 3L)
    assert(Versioned.currentVersion(spark, dst).contains(dstV),
      "an up-to-date sync must publish nothing")
    // replayed identified apply: same src version already in the ledger
    MergeOps.mergeApplyChangelog(spark, dst,
      Seq((99L, 9.9, "O", "i")).toDF("k", "v", "p", "op"), "k", "p",
      ledgerId = Some("src:3"))
    assert(Versioned.currentVersion(spark, dst).contains(dstV) &&
      !mirrorKeys(dst).contains(99L),
      "a replayed src:3 apply must be refused by the ledger")
  }

  test("a maintenance-only source advance crosses as a ledger tick: " +
       "empty feed, content-carry commit, high-water mark moves") {
    import spark.implicits._
    val src = freshDir("graft_mirtick")
    val dst = freshDir("graft_mirtickdst")
    MergeOps.mergeUpsert(spark, src, corpus(8), "k", "p")           // src v1
    MergeOps.syncMirror(spark, src, dst, "k", "p")
    MergeOps.compactPartitions(spark, src, "p", maxFilesPerPart = 0) // src v2
    assert(MergeOps.syncMirror(spark, src, dst, "k", "p") == 2L)
    val dstV = Versioned.currentVersion(spark, dst).get
    assert(mirrorKeys(dst) == mirrorKeys(src))
    // the tick recorded src:2 — the next sync must see it and no-op
    // (without the tick it would re-diff 1->2 on every call forever)
    assert(MergeOps.syncMirror(spark, src, dst, "k", "p") == 2L)
    assert(Versioned.currentVersion(spark, dst).contains(dstV),
      "the tick must advance the high-water mark durably")
  }

  test("streaming MOR tombstone sink: per-trigger tombstone commits, " +
       "no data dir ever restaged, replayed batches publish nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir("graft_mortomb")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataBefore = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).toSet
    val in = MemoryStream[Long]
    val q = graft.streaming.StreamOps.deleteMaintenanceMor(
        in.toDF().toDF("k"), dir, "k", "p")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_mortomb_ck").toString)
      .start()
    try {
      in.addData(2L, 4L)
      q.processAllAvailable()
      in.addData(5L, 99L)   // 99 misses — partial-hit batch
      q.processAllAvailable()
    } finally q.stop()
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 3L, 6L, 7L, 8L, 9L, 10L), s"got $rows")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).toSet == dataBefore,
      "a MOR tombstone stream must never restage a data dir")
    // replay: tombstoned keys read as absent → all-miss → no publish
    MergeOps.mergeDeleteMor(spark, dir, Seq(2L, 5L).toDF("k"), "k", "p")
    assert(Versioned.currentVersion(spark, dir).contains(3L),
      "a replayed MOR tombstone batch must publish nothing")
  }

  test("streaming mirror maintenance: each trigger ships the net feed, " +
       "an up-to-date trigger publishes nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = freshDir("graft_mirstream")
    val dst = freshDir("graft_mirstreamdst")
    MergeOps.mergeUpsert(spark, src, corpus(6), "k", "p")           // src v1
    val ticks = MemoryStream[Long]
    val q = graft.streaming.StreamOps.mirrorMaintenance(
        ticks.toDF().toDF("tick"), src, dst, "k", "p")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_mirstream_ck").toString)
      .start()
    try {
      ticks.addData(1L)                 // bootstrap
      q.processAllAvailable()
      assert(mirrorKeys(dst) == mirrorKeys(src))
      MergeOps.mergeUpsert(spark, src,
        Seq((2L, 222.0, "E")).toDF("k", "v", "p"), "k", "p")        // src v2
      ticks.addData(2L)                 // ships the feed
      q.processAllAvailable()
      assert(mirrorKeys(dst) == mirrorKeys(src) &&
        mirrorKeys(dst)(2L) == 222.0)
      val dstV = Versioned.currentVersion(spark, dst).get
      ticks.addData(3L)                 // up to date — must not commit
      q.processAllAvailable()
      assert(Versioned.currentVersion(spark, dst).contains(dstV),
        "an up-to-date trigger must publish nothing")
    } finally q.stop()
  }

  test("streaming CDC apply: each trigger is one atomic MERGE INTO " +
       "version, and a replayed batch id is refused by the ledger") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir("graft_cdcsink")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")           // v1
    val in = MemoryStream[(Long, Double, String, String)]
    val q = graft.streaming.StreamOps.cdcApplyMaintenance(
        in.toDF().toDF("k", "v", "p", "op"), dir, "k", "p")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_cdcsink_ck").toString)
      .start()
    try {
      in.addData((2L, 222.0, "E", "u"), (12L, 120.0, "E", "i"))
      q.processAllAvailable()
      in.addData((3L, 0.0, "O", "d"), (5L, 555.0, "O", "u"))
      q.processAllAvailable()
    } finally q.stop()
    val got = mirrorKeys(dir)
    assert(got(2L) == 222.0 && got(12L) == 120.0 && got(5L) == 555.0 &&
      !got.contains(3L), s"got $got")
    assert(Versioned.currentVersion(spark, dir).contains(3L),
      "two publishing triggers: v2 and v3")
    // the at-least-once replay: same batch id → ledger no-op, even
    // though the changelog content itself is not idempotent
    MergeOps.mergeApplyChangelog(spark, dir,
      Seq((2L, 999.0, "E", "u")).toDF("k", "v", "p", "op"), "k", "p",
      ledgerId = Some("stream-cdc:0"))
    assert(Versioned.currentVersion(spark, dir).contains(3L) &&
      mirrorKeys(dir)(2L) == 222.0,
      "a replayed stream-cdc:0 batch must be refused by the ledger")
  }

  test("mirror survives a source rollback (a higher version restoring " +
       "old content) and a MOR-deleting source") {
    import spark.implicits._
    val src = freshDir("graft_mirroll")
    val dst = freshDir("graft_mirrolldst")
    MergeOps.mergeUpsert(spark, src, corpus(8), "k", "p")           // src v1
    MergeOps.syncMirror(spark, src, dst, "k", "p")
    MergeOps.mergeDeleteMor(spark, src, Seq(2L, 5L).toDF("k"),
      "k", "p")                                                     // src v2
    MergeOps.syncMirror(spark, src, dst, "k", "p")
    assert(mirrorKeys(dst) == mirrorKeys(src) &&
      !mirrorKeys(dst).contains(2L),
      "MOR deletes must cross the feed as deletes")
    Versioned.rollback(spark, src, 1L)                              // src v3
    assert(MergeOps.syncMirror(spark, src, dst, "k", "p") == 3L)
    assert(mirrorKeys(dst) == mirrorKeys(src) &&
      mirrorKeys(dst).contains(2L),
      "a rollback must cross as re-inserts of the restored rows")
  }
}

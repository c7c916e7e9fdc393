package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps
import graft.streaming.StreamOps

/** Round-12 wave 4: the streaming CHANGE-FEED SOURCE — a versioned
  * store's computed CDC read exposed as a Structured Streaming source
  * (offset = source version), composed end-to-end with the exactly-once
  * mirror sink. */
class Wave28Spec extends SparkTestBase {

  private def readAll(dir: String): Map[Long, (Double, String)] =
    MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  test("feedStream bootstraps a mirror from version 0, tracks source " +
       "commits batch-for-batch, equals the batch syncMirror result, " +
       "and a checkpoint restart replays as a no-op") {
    import spark.implicits._
    val src = freshDir("graft_feed_src")
    val dst = freshDir("graft_feed_dst")
    val dstBatch = freshDir("graft_feed_dstb")
    val ck = freshDir("graft_feed_ck")
    MergeOps.mergeUpsert(spark, src, corpus(6), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, src,
      Seq((7L, 70.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2

    def runStream(): Unit = {
      val q = StreamOps.feedMirrorMaintenance(
          StreamOps.feedStream(spark, src, "k", Some(0L)),
          dst, "k", "p")
        .option("checkpointLocation", ck)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runStream()
    assert(readAll(dst) === readAll(src))
    val dstV1 = Versioned.currentVersion(spark, dst).get

    // source advances: an update, a CoW delete, a MOR delete
    MergeOps.mergeUpsert(spark, src,
      Seq((1L, -1.0, "O")).toDF("k", "v", "p"), "k", "p")            // v3
    MergeOps.mergeDelete(spark, src, Seq(Tuple1(4L)).toDF("k"), "k", "p")
    MergeOps.mergeDeleteMor(spark, src, Seq(Tuple1(6L)).toDF("k"), "k", "p")
    runStream()
    assert(readAll(dst) === readAll(src))
    assert(!readAll(dst).contains(4L) && !readAll(dst).contains(6L))

    // batch-path equivalence: a syncMirror-built replica sees the same
    MergeOps.syncMirror(spark, src, dstBatch, "k", "p")
    assert(readAll(dst) === readAll(dstBatch))

    // replay: a fresh run on the same checkpoint with no source change
    // commits NOTHING (offset log + ledger both say done)
    val vBefore = Versioned.currentVersion(spark, dst).get
    runStream()
    assert(Versioned.currentVersion(spark, dst).contains(vBefore),
      "an idle restart must not commit new mirror versions")
    assert(vBefore > dstV1, "the second batch must have committed earlier")
  }

  test("a feed batch id replayed AFTER a checkpoint loss re-applies the " +
       "identical immutable version range and the mirror ledger no-ops " +
       "it — no duplicate versions, same content") {
    import spark.implicits._
    val src = freshDir("graft_feed_replay_src")
    val dst = freshDir("graft_feed_replay_dst")
    val ck1 = freshDir("graft_feed_replay_ck1")
    val ck2 = freshDir("graft_feed_replay_ck2")
    MergeOps.mergeUpsert(spark, src, corpus(5), "k", "p")            // v1
    def runOn(ck: String): Unit = {
      val q = StreamOps.feedMirrorMaintenance(
          StreamOps.feedStream(spark, src, "k", Some(0L)),
          dst, "k", "p")
        .option("checkpointLocation", ck)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOn(ck1)
    val v1 = Versioned.currentVersion(spark, dst).get
    // checkpoint lost: a new stream re-emits batch 0 over the same
    // version range; the ledger's stream-feed-0 id no-ops the re-apply
    runOn(ck2)
    assert(Versioned.currentVersion(spark, dst).contains(v1),
      "a replayed bootstrap batch must not re-commit")
    assert(readAll(dst) === readAll(src))
  }

  test("a feed stream that slept past the retention floor fails LOUDLY " +
       "with the floor error; tagging the high-water version pins it " +
       "and the stream resumes") {
    import spark.implicits._
    val src = freshDir("graft_feed_floor_src")
    val out = freshDir("graft_feed_floor_out")
    val ck = freshDir("graft_feed_floor_ck")
    MergeOps.mergeUpsert(spark, src, corpus(4), "k", "p")            // v1
    def drain(): Option[Throwable] = {
      val q = StreamOps.feedStream(spark, src, "k", Some(0L))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out)
        .start()
      try { q.processAllAvailable(); None }
      catch { case t: Throwable => Some(t) }
      finally q.stop()
    }
    assert(drain().isEmpty)   // bootstrap at v1
    // the stream sleeps; the source churns both partitions and a
    // vacuum raises the floor past the stream's offset (v1)
    MergeOps.mergeUpsert(spark, src,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    MergeOps.mergeUpsert(spark, src,
      Seq((6L, 60.0, "E")).toDF("k", "v", "p"), "k", "p")            // v3
    Versioned.vacuum(spark, src, keepVersions = 1)   // floor 3 > 1
    val err = drain()
    assert(err.isDefined, "a below-floor offset must fail the stream")
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    // two sanctioned loud states: the floor error (data swept, marker
    // retained) or never-committed (the metadata sweep also removed the
    // version's marker) — never a raw missing-file surprise
    assert(causes(err.get).exists(c => c.getMessage != null &&
        (c.getMessage.contains("retention floor") ||
         c.getMessage.contains("never committed"))),
      s"must surface a loud retention error, got: ${err.get}")
    assert(!causes(err.get).exists(
        _.isInstanceOf[java.io.FileNotFoundException]))
    // pinning the offset version re-opens the feed... for a NEW store
    // lifecycle (v1's data is already swept here, so this pins BEFORE
    // the vacuum — the operational contract the error message names)
    val src2 = freshDir("graft_feed_floor_src2")
    val out2 = freshDir("graft_feed_floor_out2")
    val ck2 = freshDir("graft_feed_floor_ck2")
    MergeOps.mergeUpsert(spark, src2, corpus(4), "k", "p")           // v1
    def drain2(): Option[Throwable] = {
      val q = StreamOps.feedStream(spark, src2, "k", Some(0L))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck2)
        .format("parquet").option("path", out2)
        .start()
      try { q.processAllAvailable(); None }
      catch { case t: Throwable => Some(t) }
      finally q.stop()
    }
    assert(drain2().isEmpty)
    Versioned.tagVersion(spark, src2, "hw", 1L)   // pin BEFORE vacuum
    MergeOps.mergeUpsert(spark, src2,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    MergeOps.mergeUpsert(spark, src2,
      Seq((6L, 60.0, "E")).toDF("k", "v", "p"), "k", "p")            // v3
    Versioned.vacuum(spark, src2, keepVersions = 1)
    assert(drain2().isEmpty,
      "a tagged high-water version must keep the stream alive")
    val got = spark.read.parquet(out2).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(Set(5L, 6L).subsetOf(got))
  }

  test("high-water ledger ids stay ONE line per source at streaming " +
       "cadence (the unbounded-growth fix), while plain ids accumulate " +
       "and replay semantics are unchanged") {
    // the pure fold/check semantics
    val s0 = Set.empty[String]
    val s1 = Versioned.ledgerAdd(s0, "src:1")
    val s2 = Versioned.ledgerAdd(s1, "src:3")
    val s3 = Versioned.ledgerAdd(s2, "src:2")   // late lower mark
    assert(s3 === Set("src:3"), s"compacted to the max: $s3")
    assert(Versioned.ledgerContains(s3, "src:2") &&
           Versioned.ledgerContains(s3, "src:3") &&
           !Versioned.ledgerContains(s3, "src:4"))
    val p1 = Versioned.ledgerAdd(s3, "b0")      // plain ids accumulate
    val p2 = Versioned.ledgerAdd(p1, "b1")
    assert(p2 === Set("src:3", "b0", "b1"))
    assert(Versioned.ledgerContains(p2, "b0") &&
           !Versioned.ledgerContains(p2, "b2"))
    // two hw sources coexist independently
    val m = Versioned.ledgerAdd(p2, "stream-cdc:5")
    assert(Versioned.ledgerContains(m, "stream-cdc:4") &&
           !Versioned.ledgerContains(m, "stream-feed:1"))

    // end-to-end: a mirror driven through many feed batches keeps a
    // BOUNDED ledger — one stream-feed line, one src-free set
    import spark.implicits._
    val src = freshDir("graft_hw_src")
    val dst = freshDir("graft_hw_dst")
    val ck = freshDir("graft_hw_ck")
    MergeOps.mergeUpsert(spark, src, corpus(4), "k", "p")
    val q = StreamOps.feedMirrorMaintenance(
        StreamOps.feedStream(spark, src, "k", Some(0L)),
        dst, "k", "p")
      .option("checkpointLocation", ck)
      .start()
    try {
      q.processAllAvailable()
      (1 to 4).foreach { i =>
        MergeOps.mergeUpsert(spark, src,
          Seq((10L + i, i * 1.0, "O")).toDF("k", "v", "p"), "k", "p")
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(readAll(dst) === readAll(src))
    val dv = Versioned.currentVersion(spark, dst).get
    val ids = Versioned.appliedLedgerIds(spark, dst, dv)
    assert(ids.size === 1 && ids.head.startsWith("stream-feed:"),
      s"five applied batches must compact to one high-water line: $ids")
  }

  test("startVersion=None streams only changes committed after stream " +
       "start; the classification and images match the batch changeFeed") {
    import spark.implicits._
    val src = freshDir("graft_feed_tail_src")
    MergeOps.mergeUpsert(spark, src, corpus(4), "k", "p")            // v1
    val out = freshDir("graft_feed_tail_out")
    val ck = freshDir("graft_feed_tail_ck")
    val q = StreamOps.feedStream(spark, src, "k")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("parquet").option("path", out)
      .start()
    try {
      q.processAllAvailable()   // nothing past the base version yet
      MergeOps.mergeUpsert(spark, src,
        Seq((2L, -2.0, "E"), (9L, 90.0, "O")).toDF("k", "v", "p"),
        "k", "p")                                                    // v2
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select("k", "v", "p", "change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
                 r.getString(3))).toSet
    assert(got === Set((2L, -2.0, "E", "update"), (9L, 90.0, "O", "insert")))
    // batch-path equivalence on the same range
    val batch = MergeOps.changeFeed(spark, src, 1L, 2L, "k")
      .select("k", "v", "p", "change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
                 r.getString(3))).toSet
    assert(got === batch)
  }
}

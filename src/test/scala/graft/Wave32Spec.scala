package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.engine.Versioned
import graft.ops.MergeOps
import graft.streaming.{ChangeFeedSourceProvider, ChangeFeedStream, FeedOffset, StreamOps}

/** Round-13 wave 2: change-feed source hardening — backlog pacing
  * (`maxVersionsPerTrigger`), the persisted initial base version
  * (restart-deterministic batch 0, the round-12 advice defect), and the
  * loud schema-evolution contract (never silent column drops). */
class Wave32Spec extends SparkTestBase {

  private def readAll(dir: String): Map[Long, (Double, String)] =
    MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  /** Build the V2 stream exactly as MicroBatchExecution would: infer
    * the schema, get the table, build the scan, bind the checkpoint. */
  private def createStream(meta: String,
                           opts: Map[String, String]): ChangeFeedStream = {
    val provider = new ChangeFeedSourceProvider()
    val cis = new CaseInsensitiveStringMap(opts.asJava)
    provider.getTable(provider.inferSchema(cis), Array.empty,
        new java.util.HashMap[String, String](opts.asJava))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(cis).build()
      .toMicroBatchStream(meta).asInstanceOf[ChangeFeedStream]
  }

  /** The offset the stream offers next when Spark's last logged
    * offset is `start` (what MicroBatchExecution passes). */
  private def latest(st: ChangeFeedStream, start: Long): Long =
    st.latestOffset(FeedOffset(start),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .json.trim.toLong

  /** Drain one planned range through the V2 reader factory —
    * (k, change_type) pairs at the (k, v, p, change_type) feed
    * schema. */
  private def drain(st: ChangeFeedStream, from: Long,
                    to: Long): Seq[(Long, String)] = {
    val parts = st.planInputPartitions(FeedOffset(from), FeedOffset(to))
    val rf = st.createReaderFactory()
    parts.toSeq.flatMap { p =>
      val r = rf.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      try while (r.next()) {
        val row = r.get()
        buf += ((row.getLong(0), row.getUTF8String(3).toString))
      } finally r.close()
      buf.toSeq
    }
  }

  test("maxVersionsPerTrigger drains a 5-version backlog as multiple " +
       "bounded batches with the same end state as the one-batch run, " +
       "and a mid-backlog checkpoint restart resumes at the right " +
       "version") {
    import spark.implicits._
    val src = freshDir("graft_pace_src")
    MergeOps.mergeUpsert(spark, src, corpus(6), "k", "p")            // v1
    (7 to 10).foreach { i =>                                     // v2..v5
      MergeOps.mergeUpsert(spark, src,
        Seq((i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
          .toDF("k", "v", "p"), "k", "p")
    }
    // the unpaced reference: the whole backlog as ONE batch
    val dstOne = freshDir("graft_pace_one")
    val q1 = StreamOps.feedMirrorMaintenance(
        StreamOps.feedStream(spark, src, "k", Some(0L)),
        dstOne, "k", "p")
      .option("checkpointLocation", freshDir("graft_pace_ck1")).start()
    try q1.processAllAvailable() finally q1.stop()
    assert(Versioned.currentVersion(spark, dstOne).contains(1L),
      "unpaced backlog must land as a single mirror commit")

    // paced: offsets advance 0→2→4→5 — three bounded batches, with a
    // STOP after the first (Trigger.Once) to force a mid-backlog
    // checkpoint restart
    val dst = freshDir("graft_pace_dst")
    val ck = freshDir("graft_pace_ck2")
    def paced() = StreamOps.feedMirrorMaintenance(
        StreamOps.feedStream(spark, src, "k", Some(0L),
          maxVersionsPerTrigger = Some(2L)),
        dst, "k", "p")
      .option("checkpointLocation", ck)
    val qOnce = paced()
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    qOnce.awaitTermination(120000)
    // after exactly one paced batch the mirror must equal the SOURCE AT
    // VERSION 2 — the bounded slice, not the whole backlog
    val srcAtV2 = Versioned.readVersion(spark, src, 2L, Some("p"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2)))
      .toMap
    assert(readAll(dst) === srcAtV2,
      "the first paced batch must stop at base+maxVersionsPerTrigger")
    // restart mid-backlog: the remaining versions drain as two more
    // bounded batches (2→4, 4→5)
    val q2 = paced().start()
    try q2.processAllAvailable() finally q2.stop()
    assert(readAll(dst) === readAll(src))
    assert(readAll(dst) === readAll(dstOne),
      "paced and unpaced end states must be identical")
    assert(Versioned.currentVersion(spark, dst).contains(3L),
      "a 5-version backlog at maxVersionsPerTrigger=2 must commit as " +
        "exactly 3 mirror versions (0→2, 2→4, 4→5)")
  }

  test("the initial base version persists under metadataPath: a source " +
       "re-created after the table advanced replays batch 0 from the " +
       "ORIGINAL base, not from the new current (restart-exactly-once)") {
    import spark.implicits._
    val src = freshDir("graft_base_src")
    val meta = freshDir("graft_base_meta")
    MergeOps.mergeUpsert(spark, src, corpus(4), "k", "p")            // v1
    def create() = createStream(meta,
      Map("dir" -> src, "keycol" -> "k"))
    val s1 = create()   // default mode: base = current at FIRST creation
    assert(latest(s1, s1.initialOffset().json.trim.toLong) == 1L,
      "nothing past the base yet — latest stays at the base")
    // the table advances while the offset 3 is (conceptually) logged
    // but the sink never committed — then the source is re-created
    MergeOps.mergeUpsert(spark, src,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    MergeOps.mergeUpsert(spark, src,
      Seq((6L, 60.0, "E")).toDF("k", "v", "p"), "k", "p")            // v3
    val s2 = create()   // crash-restart: same checkpoint dir
    val keys = drain(s2, s2.initialOffset().json.trim.toLong, 3L).toMap
    assert(keys === Map(5L -> "insert", 6L -> "insert"),
      s"batch-0 replay must cover the ORIGINAL base→3 range, got $keys")
    // and an explicit startVersion is persisted the same way: the
    // recorded value wins over a recomputed one on re-creation — and
    // the second drain re-serves the _SUCCESS-marked staged bytes
    val meta2 = freshDir("graft_base_meta2")
    def createAt0() = createStream(meta2,
      Map("dir" -> src, "keycol" -> "k",
          "startversion" -> "0"))
    def bootCount(): Long = drain(createAt0(), 0L, 3L).size.toLong
    assert(bootCount() == 6L, "bootstrap replay must emit the full snapshot")
    assert(bootCount() == 6L,
      "re-created bootstrap source must replay the same range")
  }

  test("startTag starts the stream from a NAMED pinned version, " +
       "resolved once and persisted — a later re-tag cannot move a " +
       "running stream's base") {
    import spark.implicits._
    val src = freshDir("graft_tag_src")
    val meta = freshDir("graft_tag_meta")
    MergeOps.mergeUpsert(spark, src, corpus(4), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, src,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    Versioned.tagVersion(spark, src, "hw", 1L)
    MergeOps.mergeUpsert(spark, src,
      Seq((6L, 60.0, "E")).toDF("k", "v", "p"), "k", "p")            // v3
    def create() = createStream(meta,
      Map("dir" -> src, "keycol" -> "k",
          "starttag" -> "hw"))
    val s1 = create()
    assert(s1.initialOffset().json.trim.toLong == 1L,
      "the tag must resolve to its pinned version as the base")
    val keys = drain(s1, 1L, 3L).map(_._1).toSet
    assert(keys == Set(5L, 6L),
      s"the tag-based stream must emit exactly the post-tag changes: $keys")
    // re-tag to v2: the persisted base must win on re-creation
    Versioned.tagVersion(spark, src, "hw", 2L)
    val s2 = create()
    assert(s2.initialOffset().json.trim.toLong == 1L,
      "a re-tag must not move a running stream's base")
    assert(drain(s2, 1L, 3L).map(_._1).toSet == Set(5L, 6L))
    // an unknown tag fails loudly with the live tag list
    val e = intercept[IllegalArgumentException] {
      createStream(freshDir("graft_tag_m2"),
        Map("dir" -> src, "keycol" -> "k",
            "starttag" -> "ghost"))
    }
    assert(e.getMessage.contains("no tag 'ghost'") &&
           e.getMessage.contains("hw"))
  }

  test("mid-stream schema evolution fails LOUDLY — never a silent " +
       "column drop — and a restarted stream picks up the widened " +
       "schema, replaying the failed batch with the new column") {
    import spark.implicits._
    val src = freshDir("graft_evo_src")
    val dst = freshDir("graft_evo_dst")
    val ck = freshDir("graft_evo_ck")
    MergeOps.mergeUpsert(spark, src, corpus(4), "k", "p")            // v1
    def start() = StreamOps.feedMirrorMaintenance(
        StreamOps.feedStream(spark, src, "k", Some(0L)),
        dst, "k", "p")
      .option("checkpointLocation", ck).start()
    // ONE live query across the evolution: its source pinned the
    // pre-evolution schema at creation
    val q = start()
    val failed = try {
      q.processAllAvailable()                        // bootstrap mirror
      assert(readAll(dst) === readAll(src))
      // the source WIDENS while the query is live
      MergeOps.mergeUpsert(spark, src,
        Seq((5L, 50.0, "O", "fresh")).toDF("k", "v", "p", "w"),
        "k", "p")                                                    // v2
      intercept[Throwable] { q.processAllAvailable() }
    } finally q.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(failed).exists(_.contains(
        "evolved mid-stream")),
      s"expected the loud evolution signal, got: ${messages(failed)}")
    // the failed batch must NOT have applied a silently-narrowed slice
    assert(!readAll(dst).contains(5L),
      "a failed evolution batch must not half-apply")
    // restart = a fresh query on the SAME checkpoint: the re-created
    // source pins the widened schema and the replayed batch flows
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val wide = MergeOps.readCorpus(spark, dst, "p")
    assert(wide.columns.contains("w"),
      "the restarted stream must mirror the widened schema")
    val wVals = wide.select("k", "w").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(wVals(5L) === Some("fresh"))
    assert(wVals(1L) === None, "pre-evolution rows null-fill the new column")
    assert(readAll(dst) === readAll(src))
  }

  test("the pacing floor survives a CLEAN restart: a re-created paced " +
       "source seeds lastOffered from the persisted high-water, so the " +
       "first offered offset never regresses below a committed one and " +
       "slices stay non-overlapping") {
    import spark.implicits._
    val src = freshDir("graft_hw_src")
    val meta = freshDir("graft_hw_meta")
    MergeOps.mergeUpsert(spark, src, corpus(2), "k", "p")            // v1
    (3 to 6).foreach { i =>                                      // v2..v5
      MergeOps.mergeUpsert(spark, src,
        Seq((i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
          .toDF("k", "v", "p"), "k", "p")
    }
    def create() = createStream(meta,
      Map("dir" -> src, "keycol" -> "k",
          "startversion" -> "0", "maxversionspertrigger" -> "2"))
    val s1 = create()
    assert(latest(s1, s1.initialOffset().json.trim.toLong) == 2L)
    assert(latest(s1, 2L) == 4L)
    // clean restart after both batches committed: nothing replays, and
    // the floor is the last logged offset Spark passes as `start`
    val s2 = create()
    val first = latest(s2, 4L)
    assert(first == 5L,
      s"the re-created source must offer past the high-water 4 " +
        s"(the next bounded slice), not regress to base+2=2; got $first")
    // and the resumed slice is exactly the un-emitted tail
    val tail = drain(s2, 4L, 5L).map(_._1).toSet
    assert(tail == Set(6L), s"the resumed slice must be v4->v5 only: $tail")
  }

  test("a chain of clean Trigger.Once runs drains a paced backlog " +
       "end-to-end: each run advances exactly one bounded slice — " +
       "without the persisted floor the second run would re-offer " +
       "base+m, stall on the regressed offset, and never drain") {
    import spark.implicits._
    val src = freshDir("graft_hw_once_src")
    MergeOps.mergeUpsert(spark, src, corpus(4), "k", "p")            // v1
    (5 to 8).foreach { i =>                                      // v2..v5
      MergeOps.mergeUpsert(spark, src,
        Seq((i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
          .toDF("k", "v", "p"), "k", "p")
    }
    val dst = freshDir("graft_hw_once_dst")
    val ck = freshDir("graft_hw_once_ck")
    def once() = {
      val q = StreamOps.feedMirrorMaintenance(
          StreamOps.feedStream(spark, src, "k", Some(0L),
            maxVersionsPerTrigger = Some(2L)),
          dst, "k", "p")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      q.awaitTermination(120000)
    }
    once(); once(); once()   // 0->2, 2->4, 4->5: three CLEAN restarts
    assert(readAll(dst) === readAll(src),
      "three clean Once runs must drain the 5-version backlog")
    assert(Versioned.currentVersion(spark, dst).contains(3L),
      "each clean run must land exactly one bounded mirror commit")
    assert(!new java.io.File(ck, "graft-feed-hw").exists,
      "the floor is Spark's offset log: the source writes no marker")
  }

  test("Trigger.AvailableNow drains a PACED backlog fully in one run: " +
       "prepareForTriggerAvailableNow pins the unpaced current as the " +
       "ceiling and the paced batches walk to it — the generic wrapper " +
       "would have stopped after the first bounded slice") {
    import spark.implicits._
    val src = freshDir("graft_an_src")
    MergeOps.mergeUpsert(spark, src, corpus(4), "k", "p")            // v1
    (5 to 8).foreach { i =>                                      // v2..v5
      MergeOps.mergeUpsert(spark, src,
        Seq((i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
          .toDF("k", "v", "p"), "k", "p")
    }
    val dst = freshDir("graft_an_dst")
    val q = StreamOps.feedMirrorMaintenance(
        StreamOps.feedStream(spark, src, "k", Some(0L),
          maxVersionsPerTrigger = Some(2L)),
        dst, "k", "p")
      .option("checkpointLocation", freshDir("graft_an_ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    assert(readAll(dst) === readAll(src),
      "one AvailableNow run must drain the whole paced backlog")
    assert(Versioned.currentVersion(spark, dst).contains(3L),
      "the drain must still respect pacing: 3 bounded mirror commits " +
        "(0→2, 2→4, 4→5), not one spanning batch")
  }

  test("maxBytesPerTrigger paces a backlog by changed-partition bytes: " +
       "a 1-byte cap lands every version as its own batch (soft cap — " +
       "the first version past the floor always flows), a huge cap " +
       "coalesces the whole backlog, and a mid-backlog Trigger.Once " +
       "restart resumes at the byte-paced floor") {
    import spark.implicits._
    val src = freshDir("graft_bp_src")
    MergeOps.mergeUpsert(spark, src, corpus(6), "k", "p")            // v1
    (7 to 10).foreach { i =>                                     // v2..v5
      MergeOps.mergeUpsert(spark, src,
        Seq((i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
          .toDF("k", "v", "p"), "k", "p")
    }
    // 1-byte cap: every delta is over-cap, so each committed version
    // drains as its own soft-capped batch — 5 mirror commits
    val dst = freshDir("graft_bp_dst")
    val ck = freshDir("graft_bp_ck")
    def paced() = StreamOps.feedMirrorMaintenance(
        StreamOps.feedStream(spark, src, "k", Some(0L),
          maxBytesPerTrigger = Some(1L)),
        dst, "k", "p")
      .option("checkpointLocation", ck)
    val qOnce = paced()
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    qOnce.awaitTermination(120000)
    // after one paced batch the mirror must equal the source AT v1
    val srcAtV1 = Versioned.readVersion(spark, src, 1L, Some("p"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2)))
      .toMap
    assert(readAll(dst) === srcAtV1,
      "the first byte-paced batch must stop at the first version")
    // mid-backlog clean restart: the offset log holds the floor, so
    // the remaining four versions drain as four more bounded batches
    val q2 = paced().start()
    try q2.processAllAvailable() finally q2.stop()
    assert(readAll(dst) === readAll(src))
    assert(Versioned.currentVersion(spark, dst).contains(5L),
      "a 1-byte cap must land each of the 5 source versions as its " +
        "own mirror commit")
    // huge cap: the whole backlog coalesces into ONE batch
    val dstAll = freshDir("graft_bp_all")
    val qAll = StreamOps.feedMirrorMaintenance(
        StreamOps.feedStream(spark, src, "k", Some(0L),
          maxBytesPerTrigger = Some(Long.MaxValue / 2)),
        dstAll, "k", "p")
      .option("checkpointLocation", freshDir("graft_bp_all_ck")).start()
    try qAll.processAllAvailable() finally qAll.stop()
    assert(readAll(dstAll) === readAll(src))
    assert(Versioned.currentVersion(spark, dstAll).contains(1L),
      "an uncapping byte limit must coalesce the backlog as one batch")
    // composition: bytes uncapped + maxVersionsPerTrigger=2 behaves as
    // the version-paced min — 3 mirror commits (0→2, 2→4, 4→5)
    val dstMin = freshDir("graft_bp_min")
    val qMin = StreamOps.feedMirrorMaintenance(
        StreamOps.feedStream(spark, src, "k", Some(0L),
          maxVersionsPerTrigger = Some(2L),
          maxBytesPerTrigger = Some(Long.MaxValue / 2)),
        dstMin, "k", "p")
      .option("checkpointLocation", freshDir("graft_bp_min_ck")).start()
    try qMin.processAllAvailable() finally qMin.stop()
    assert(readAll(dstMin) === readAll(src))
    assert(Versioned.currentVersion(spark, dstMin).contains(3L),
      "both caps set must pace at the min of the two limits")
  }
}

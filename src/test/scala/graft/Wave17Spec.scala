package graft

import org.apache.spark.sql.functions._
import graft.engine.{ConcurrentCommitException, Versioned}
import graft.ops.{IncrementalOps, MergeOps}

/** Round-9 wave: concurrent-writer safety, the retention-floor vacuum,
  * and the rollback/ledger composition (r8 verdict items 1-2 + the
  * medium advice item). The "two writers" are interleaved on one driver
  * thread — the protocol's safety argument is purely about on-disk
  * state transitions, so an interleaving that reproduces the racing
  * schedule IS the race. */
class Wave17Spec extends SparkTestBase {

  test("two writers racing one version: exactly one commit wins and the " +
       "loser's staged data is never visible") {
    import spark.implicits._
    val dir = freshDir("graft_race")
    MergeOps.mergeUpsert(spark, dir, corpus(20), "k", "p")        // v1
    val v = Versioned.currentVersion(spark, dir).get

    // Both writers compute the same next version and stage their own
    // UNIQUE dirs — the interleaving where round 8 lost a commit.
    val nv = Versioned.nextVersion(spark, dir)
    assert(nv == v + 1)
    val stageA = Versioned.newStageRel(nv)
    val stageB = Versioned.newStageRel(nv)
    assert(stageA != stageB, "stage dirs must be unique per attempt")
    Seq((1L, -111.0, "O")).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(s"$dir/$stageA")
    Seq((1L, -222.0, "O")).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(s"$dir/$stageB")

    val man1 = Versioned.manifest(spark, dir, v)
    def entriesFor(stage: String) = {
      val staged = Versioned.listStagedPartDirs(spark, dir, stage, "p")
      man1.filterNot(e => staged.exists(_._1 == e._1)) ++ staged
    }
    // A publishes first and wins; B's publish at the same version must
    // throw, not silently replace A's manifest (the round-8 lost update).
    Versioned.publish(spark, dir, nv, entriesFor(stageA))
    intercept[ConcurrentCommitException] {
      Versioned.publish(spark, dir, nv, entriesFor(stageB))
    }
    assert(Versioned.currentVersion(spark, dir).get == nv)
    val rows = Versioned.readCurrent(spark, dir, Some("p"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rows(1L) == -111.0, "the winner's data must be what readers see")
    assert(!rows.values.exists(_ == -222.0),
      "the loser's staged rows must never be visible")

    // The loser's retry is the full redo at the next version: a plain
    // mergeUpsert re-reads the (now winner-including) current state.
    // (Writer A's hand-staged v2 replaced the whole O partition with its
    // one row, so the committed corpus is 10 evens + key 1 = 11 rows —
    // the retry must land on exactly that state.)
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -222.0, "O")).toDF("k", "v", "p"), "k", "p")
    val after = Versioned.readCurrent(spark, dir, Some("p"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(after(1L) == -222.0 && after(2L) == 20.0 && after.size == 11)
    // and vacuum reclaims the loser's orphaned stage dir once current
    // has passed its version
    Versioned.vacuum(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$stageB")),
      "the losing attempt's unreferenced dir should be vacuumed")
  }

  test("a crashed writer's orphaned manifest does NOT burn its version: " +
       "the retry contends on the same number and lands cleanly") {
    import spark.implicits._
    val dir = freshDir("graft_orphan_manifest")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")        // v1
    // crash states from BOTH layouts: a legacy version-named manifest
    // and a tokenized attempt manifest for v2, each with NO marker
    // (died mid-publish).
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("manifest/2.txt", "manifest/2_deadbeef.txt").foreach { rel =>
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, rel), false)
      out.write("p=O\tdata/2/p=O\n".getBytes("UTF-8")); out.close()
    }
    // THE round-9 advice fix: allocation is strictly current+1 — an
    // orphaned manifest must NOT push a retry to a higher version
    // staged from the same snapshot (that interleaving is exactly the
    // lost-update hole: two writers at different numbers both "win").
    assert(Versioned.nextVersion(spark, dir) == 2L,
      "nextVersion must stay at current+1; orphans cannot burn versions")
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 111.0, "O")).toDF("k", "v", "p"), "k", "p")
    assert(Versioned.currentVersion(spark, dir).get == 2L)
    // the reader resolves the WINNER's tokenized manifest via the
    // marker, never the orphans sitting at the same version
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rows.size == 10 && rows(1L) == 111.0 && rows(2L) == 20.0)
  }

  test("slow writer vs fast writer on disjoint versions cannot both win: " +
       "the round-9 lost-update interleaving now loses loudly") {
    import spark.implicits._
    val dir = freshDir("graft_lost_update")
    MergeOps.mergeUpsert(spark, dir, corpus(20), "k", "p")        // v1
    // Writer A: allocates v2, stages, writes its manifest — but has not
    // yet claimed the marker (slow between the two publish steps).
    val nvA = Versioned.nextVersion(spark, dir)
    val tokA = Versioned.newToken()
    val stageA = Versioned.newStageRel(nvA, tokA)
    Seq((1L, -111.0, "O")).toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(s"$dir/$stageA")
    val man1 = Versioned.manifest(spark, dir, 1L)
    def entriesFor(stage: String) = {
      val staged = Versioned.listStagedPartDirs(spark, dir, stage, "p")
      man1.filterNot(e => staged.exists(_._1 == e._1)) ++ staged
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outA = fs.create(
      new org.apache.hadoop.fs.Path(dir, s"manifest/${nvA}_$tokA.txt"), false)
    outA.write(entriesFor(stageA).map { case (k, p) => s"$k\t$p" }
      .mkString("", "\n", "\n").getBytes("UTF-8")); outA.close()

    // Writer B arrives NOW. Under the round-8/9 protocol nextVersion
    // skipped A's in-flight manifest, B allocated v3 from the SAME v1
    // snapshot, both committed, and A's update silently vanished from
    // current. Under strict allocation B must contend on v2 itself.
    val nvB = Versioned.nextVersion(spark, dir)
    assert(nvB == nvA,
      s"racers must contend on the same version (A=$nvA, B=$nvB)")
    MergeOps.mergeUpsert(spark, dir,
      Seq((3L, -333.0, "O")).toDF("k", "v", "p"), "k", "p")        // B wins v2
    // A wakes up and re-runs its publish (fresh attempt token, same
    // version and stage): the manifest write succeeds — tokenized names
    // never collide — but the marker claim must LOSE loudly, not also
    // win.
    intercept[ConcurrentCommitException] {
      Versioned.publish(spark, dir, nvA, Versioned.newToken(),
                        entriesFor(stageA))
    }
    // current is B's commit, fully intact; A's staged rows invisible.
    val rows = Versioned.readCurrent(spark, dir, Some("p"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(rows(3L) == -333.0 && !rows.values.exists(_ == -111.0))
  }

  test("vacuum to a retention floor: time travel works down to the floor " +
       "and fails with a clear error below it") {
    import spark.implicits._
    val dir = freshDir("graft_floor")
    MergeOps.mergeUpsert(spark, dir, corpus(12), "k", "p")                // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -1.0, "O")).toDF("k", "v", "p"), "k", "p")                 // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, -2.0, "E")).toDF("k", "v", "p"), "k", "p")                 // v3
    def snap(v: Long) = Versioned.readVersion(spark, dir, v, Some("p"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val s2 = snap(2L)
    val s3 = snap(3L)

    Versioned.vacuum(spark, dir, keepVersions = 2)                 // floor=2
    assert(Versioned.retentionFloor(spark, dir).contains(2L))
    assert(snap(2L) == s2 && snap(3L) == s3,
      "every version at or above the floor must still read back exactly")
    // r10: the metadata sweep removes below-floor versions entirely, so
    // the fail-fast is now "never committed" (the version is gone, not
    // merely unreadable); the "retention floor" error remains for kept-
    // below-floor versions (Wave18 pins it on the ledger-guard version).
    val e = intercept[IllegalArgumentException] { snap(1L) }
    assert(e.getMessage.contains("never committed"),
      s"below-floor reads need a clear error, got: ${e.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      Versioned.rollback(spark, dir, 1L)
    }
    assert(e2.getMessage.contains("never committed"))
    // the floor is monotonic: a later, more generous vacuum cannot
    // resurrect reclaimed versions
    Versioned.vacuum(spark, dir, keepVersions = 10)
    assert(Versioned.retentionFloor(spark, dir).contains(2L))
  }

  test("rollup fold -> rollback -> re-fold: the ledger rolls back with " +
       "the data, so the batch re-applies instead of silently no-opping") {
    import spark.implicits._
    val dir = freshDir("graft_rollup_rb")
    def batch(day: Int, vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) =>
        (s"u$i", java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:0$i"), v)
      }.toDF("user_id", "ts", "value")
    IncrementalOps.foldBatch(spark, dir, batch(1, Seq(1.0, 2.0)), "b1") // v1
    IncrementalOps.foldBatch(spark, dir, batch(2, Seq(5.0)), "b2")      // v2
    def sums = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("sum_value").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sums == Map("2024-03-01" -> 3.0, "2024-03-02" -> 5.0))

    Versioned.rollback(spark, dir, 1L)                                  // v3
    assert(sums == Map("2024-03-01" -> 3.0),
      "rollback must restore the day-1-only state")
    // THE r8 advice defect: without the ledger copy-forward this re-fold
    // would find the pre-rollback ledger, see b2 as applied, and no-op —
    // silently losing day 2 forever.
    IncrementalOps.foldBatch(spark, dir, batch(2, Seq(5.0)), "b2")
    assert(sums == Map("2024-03-01" -> 3.0, "2024-03-02" -> 5.0),
      "a rolled-back batch must re-apply after rollback")
    // and the exactly-once guarantee still holds on the restored line
    IncrementalOps.foldBatch(spark, dir, batch(2, Seq(5.0)), "b2")
    assert(sums == Map("2024-03-01" -> 3.0, "2024-03-02" -> 5.0),
      "replay of the re-applied batch must still be a no-op")
  }

  test("rollback to a ledgerless maintenance commit walks back to the " +
       "newest committed ledger at or below it") {
    import spark.implicits._
    val dir = freshDir("graft_rollup_rb_walk")
    def batch(day: Int, vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) =>
        (s"u$i", java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:0$i"), v)
      }.toDF("user_id", "ts", "value")
    def sums = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("sum_value").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    IncrementalOps.foldBatch(spark, dir, batch(1, Seq(1.0, 2.0)), "b1") // v1 +ledger
    MergeOps.compactPartitions(spark, dir, "day_s", maxFilesPerPart = 0) // v2 NO ledger
    IncrementalOps.foldBatch(spark, dir, batch(2, Seq(5.0)), "b2")      // v3 +ledger
    assert(sums == Map("2024-03-01" -> 3.0, "2024-03-02" -> 5.0))

    // THE r9 advice defect: rollback to the ledgerless v2 used to copy
    // nothing, so the newest committed ledger stayed v3's {b1,b2} and
    // the re-fold of b2 silently no-opped — losing the batch the
    // rollback was supposed to restore the line for.
    Versioned.rollback(spark, dir, 2L)                                  // v4
    assert(sums == Map("2024-03-01" -> 3.0),
      "rollback to the compaction commit must restore the day-1 state")
    IncrementalOps.foldBatch(spark, dir, batch(2, Seq(5.0)), "b2")
    assert(sums == Map("2024-03-01" -> 3.0, "2024-03-02" -> 5.0),
      "the rolled-back batch must re-apply after rollback to a " +
        "ledgerless commit")
    // exactly-once still holds on the restored line: b1 replay no-ops
    IncrementalOps.foldBatch(spark, dir, batch(1, Seq(1.0, 2.0)), "b1")
    assert(sums == Map("2024-03-01" -> 3.0, "2024-03-02" -> 5.0),
      "the walked-back ledger must still mark pre-rollback batches " +
        "as applied")
  }

  test("a crashed fold's orphaned ledger is not trusted: the batch " +
       "re-applies on retry") {
    import spark.implicits._
    val dir = freshDir("graft_ledger_orphan")
    def batch(day: Int, v: Double) =
      Seq(("u0", java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:00"), v))
        .toDF("user_id", "ts", "value")
    IncrementalOps.foldBatch(spark, dir, batch(1, 1.0), "b1")           // v1
    // crash state: a fold of b2 wrote ledger/2.txt then died pre-publish
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "ledger/2.txt"),
                        false)
    out.write("b1\nb2".getBytes("UTF-8")); out.close()
    // the retry must NOT see the uncommitted ledger's b2-as-applied claim
    IncrementalOps.foldBatch(spark, dir, batch(2, 7.0), "b2")
    val sums = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("sum_value").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sums == Map("2024-03-01" -> 1.0, "2024-03-02" -> 7.0),
      s"the crashed fold's batch must land on retry, got $sums")
  }
}

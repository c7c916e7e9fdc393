package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.{BranchOps, MergeOps}

/** Round-13 wave 4: branch divergence recovery — `rebaseBranch` closes
  * the refused-publish loop (re-fork from current + replay the branch's
  * own committed writes), with the old branch left for forensics. */
class Wave34Spec extends SparkTestBase {

  private def readAll(dir: String): Map[Long, (Double, String)] =
    MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  test("an OVERLAPPING main advance forces the publish refusal; " +
       "rebaseBranch replays the branch's writes onto a fresh fork and " +
       "the publish lands through the audit — old branch kept for " +
       "forensics") {
    import spark.implicits._
    val dir = freshDir("graft_rebase_branch")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.addConstraint(spark, dir, "pos", "v > 0", "p")          // v2
    BranchOps.createBranch(spark, dir, "work")
    // the branch writes keys 7 (new) and 3 (rewrite) in partition O
    BranchOps.branchUpsert(spark, dir, "work",
      Seq((7L, 70.0, "O"), (3L, 33.0, "O")).toDF("k", "v", "p"),
      "k", "p")
    // main advances with an OVERLAPPING commit: key 5 in the SAME
    // partition O (and key 3 — a genuine conflict the branch must win
    // after rebase, last-writer-wins)
    MergeOps.mergeUpsert(spark, dir,
      Seq((5L, -0.5 * -110.0, "O"), (3L, 30.5, "O")).toDF("k", "v", "p"),
      "k", "p")                                                      // v3
    val refusal = intercept[IllegalArgumentException] {
      BranchOps.publishBranch(spark, dir, "work")
    }
    assert(refusal.getMessage.contains("rebaseBranch"),
      s"the refusal must point at the recovery: ${refusal.getMessage}")
    assert(Versioned.currentVersion(spark, dir).contains(3L),
      "a refused publish must not move main")

    val rebased = BranchOps.rebaseBranch(spark, dir, "work", "k", "p")
    assert(rebased == "work.r3")
    // forensics: the OLD branch head is still readable, unchanged
    val oldHead = BranchOps.readBranch(spark, dir, "work", "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(oldHead(7L) == 70.0 && oldHead(3L) == 33.0 &&
           oldHead(5L) == 50.0,
      "the old head carries its fork-time survivors, not main's advance")
    // the NEW branch sees main's intervening key-5 write AND the
    // branch's replayed writes (branch wins the key-3 conflict)
    val newHead = BranchOps.readBranch(spark, dir, rebased, "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(newHead(5L) == 55.0, "main's intervening write must survive")
    assert(newHead(7L) == 70.0 && newHead(3L) == 33.0,
      "the branch's writes must replay")
    // main still untouched by the rebase itself
    assert(Versioned.currentVersion(spark, dir).contains(3L))

    // the publish lands through the audit (the pos constraint holds)
    BranchOps.publishBranch(spark, dir, rebased)
    assert(Versioned.currentVersion(spark, dir).contains(4L))
    assert(readAll(dir) === Map(
      1L -> (10.0, "O"), 2L -> (20.0, "E"), 3L -> (33.0, "O"),
      4L -> (40.0, "E"), 5L -> (55.0, "O"), 6L -> (60.0, "E"),
      7L -> (70.0, "O")))
    BranchOps.dropBranch(spark, dir, "work")
    BranchOps.dropBranch(spark, dir, rebased)
  }

  test("rebaseBranch of a dirty branch still carries the dirt — the " +
       "AUDIT at publish remains the gate, and a clean fix on the " +
       "REBASED branch passes it") {
    import spark.implicits._
    val dir = freshDir("graft_rebase_dirty")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    MergeOps.addConstraint(spark, dir, "pos", "v > 0", "p")          // v2
    BranchOps.createBranch(spark, dir, "risky")
    BranchOps.branchUpsert(spark, dir, "risky",
      Seq((9L, -9.0, "O")).toDF("k", "v", "p"), "k", "p")   // poisoned
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 11.0, "O")).toDF("k", "v", "p"), "k", "p")   // overlap: v3
    intercept[IllegalArgumentException] {
      BranchOps.publishBranch(spark, dir, "risky")
    }
    val rebased = BranchOps.rebaseBranch(spark, dir, "risky", "k", "p")
    val audit = intercept[IllegalArgumentException] {
      BranchOps.publishBranch(spark, dir, rebased)
    }
    assert(audit.getMessage.contains("pos"),
      s"the rebased dirt must still fail the audit: ${audit.getMessage}")
    // fix ON the rebased branch, publish clean
    BranchOps.branchUpsert(spark, dir, rebased,
      Seq((9L, 9.0, "O")).toDF("k", "v", "p"), "k", "p")
    BranchOps.publishBranch(spark, dir, rebased)
    assert(readAll(dir)(9L) === (9.0, "O"))
    assert(readAll(dir)(1L) === (11.0, "O"),
      "main's intervening write must survive the whole loop")
  }
}

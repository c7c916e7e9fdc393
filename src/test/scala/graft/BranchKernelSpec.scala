package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Versioned
import graft.ops.{BranchOps, MergeOps}

/** Branches commit through the one commit kernel: a branch upsert is
  * the upsert merge on the branch chain (foreign-layout key probe and
  * partition identity included), and a publish is one kernel commit
  * whose fast-forward, disjoint rebase and overlap refusal all take the
  * kernel's one rebase path. */
class BranchKernelSpec extends SparkTestBase {
  import spark.implicits._

  private def onMain(dir: String): DataFrame =
    MergeOps.readCorpus(spark, dir, "p")

  private def branch(dir: String, name: String): DataFrame =
    BranchOps.readBranch(spark, dir, name, "p")

  private def valuesOf(df: DataFrame, k: Long): Seq[Long] =
    df.where(col("k") === k).select("v").as[Long].collect().toSeq

  test("evolved store, foreign g=a b: a branch upsert replaces the key " +
       "the foreign entry holds, on the branch and on main after publish") {
    // keys 1-5 in the foreign entry `g=a b`, keys 6-10 in `p=x`; zone
    // maps on k keep the second write from migrating `g=a b`
    val dir = freshDir("graft_bk_evolved")
    def rows(ks: Seq[Long]) =
      ks.map(k => (k, k * 10L, "x", "a b")).toDF("k", "v", "p", "g")
    MergeOps.mergeUpsert(spark, dir, rows(1L to 5L), "k", "g",
      statsKeys = Seq("k"))
    MergeOps.mergeUpsert(spark, dir, rows(6L to 10L), "k", "p",
      statsKeys = Seq("k"))
    assert(Versioned.manifest(spark, dir, 2L).map(_._1).toSet ==
      Set("g=a b", "p=x"))
    BranchOps.createBranch(spark, dir, "b1")
    BranchOps.branchUpsert(spark, dir, "b1",
      Seq((1L, -1L, "x")).toDF("k", "v", "p"), "k", "p")
    assert(valuesOf(branch(dir, "b1"), 1L) == Seq(-1L))
    assert(branch(dir, "b1").count() == 10L)
    assert(valuesOf(onMain(dir), 1L) == Seq(10L), "main must not move")
    BranchOps.publishBranch(spark, dir, "b1")
    assert(valuesOf(onMain(dir), 1L) == Seq(-1L))
    assert(onMain(dir).count() == 10L)
  }

  test("p=007: a branch upsert of a row read back from the branch keeps " +
       "the entry p=007 and one row per key") {
    val dir = freshDir("graft_bk_007")
    MergeOps.mergeUpsert(spark, dir,
      (1L to 10L).map(k => (k, k * 10L, "007")).toDF("k", "v", "p"),
      "k", "p")
    BranchOps.createBranch(spark, dir, "b1")
    BranchOps.branchUpsert(spark, dir, "b1",
      branch(dir, "b1").where(col("k") === 1L).withColumn("v", lit(-1L)),
      "k", "p")
    val bd = s"$dir/branches/b1"
    val head = Versioned.currentVersion(spark, bd).get
    assert(Versioned.manifest(spark, bd, head).map(_._1).contains("p=007"))
    assert(valuesOf(branch(dir, "b1"), 1L) == Seq(-1L))
    assert(branch(dir, "b1").count() == 10L)
    BranchOps.publishBranch(spark, dir, "b1")
    assert(valuesOf(onMain(dir), 1L) == Seq(-1L))
    assert(onMain(dir).count() == 10L)
    assert(onMain(dir).select("p").distinct().as[Int].collect().toSeq ==
      Seq(7))
  }

  test("fast-forward, disjoint rebase and the overlap refusal take the " +
       "kernel's rebase path; the refusal keeps its type and message") {
    val dir = freshDir("graft_bk_rebase")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    // the kernel runs this hook once per rebasing commit, right before
    // its first publish attempt
    val publishes = new java.util.concurrent.atomic.AtomicInteger(0)
    def counted[A](f: => A): (A, Int) = {
      publishes.set(0)
      MergeOps.Hooks.onBeforePublish = () => { publishes.incrementAndGet(); () }
      try { val a = f; (a, publishes.get()) }
      finally MergeOps.Hooks.onBeforePublish = () => ()
    }
    def row(k: Long, v: Double, p: String) =
      Seq((k, v, p)).toDF("k", "v", "p")

    // fast-forward: main still at the fork
    BranchOps.createBranch(spark, dir, "ff")
    BranchOps.branchUpsert(spark, dir, "ff", row(7L, 70.0, "O"), "k", "p")
    assert(counted(BranchOps.publishBranch(spark, dir, "ff"))._2 == 1)
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    assert(Versioned.committedLines(spark, dir, 2L, Versioned.Touch)
      .contains(List("p=O")))

    // disjoint rebase: main writes E after the fork, the branch O
    BranchOps.createBranch(spark, dir, "dj")
    BranchOps.branchUpsert(spark, dir, "dj", row(9L, 90.0, "O"), "k", "p")
    MergeOps.mergeUpsert(spark, dir, row(8L, 80.0, "E"), "k", "p")   // v3
    assert(counted(BranchOps.publishBranch(spark, dir, "dj"))._2 == 1)
    assert(Versioned.currentVersion(spark, dir).contains(4L))
    val got = onMain(dir).select("k", "v").as[(Long, Double)].collect().toMap
    assert(got(8L) == 80.0 && got(9L) == 90.0)

    // overlap: main writes O after the fork, the branch O too
    BranchOps.createBranch(spark, dir, "ovl")
    BranchOps.branchUpsert(spark, dir, "ovl", row(11L, 110.0, "O"), "k", "p")
    MergeOps.mergeUpsert(spark, dir, row(13L, 130.0, "O"), "k", "p") // v5
    val (refusal, n) = counted(
      intercept[IllegalArgumentException] {
        BranchOps.publishBranch(spark, dir, "ovl")
      })
    assert(n == 1)
    assert(refusal.getMessage.contains("advanced past") &&
      refusal.getMessage.contains("rebaseBranch"), refusal.getMessage)
    assert(Versioned.currentVersion(spark, dir).contains(5L))
    Seq("ff", "dj", "ovl").foreach(BranchOps.dropBranch(spark, dir, _))
  }

  test("a publish after main advanced and a vacuum swept the versions " +
       "between lands on main's current version, not at fork + 1") {
    val dir = freshDir("graft_bk_vacuum")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    // v2 holds the newest constraints sidecar, so vacuum keeps the fork
    MergeOps.addConstraint(spark, dir, "v_nonneg", "v >= 0", "p")    // v2
    BranchOps.createBranch(spark, dir, "b1")
    MergeOps.mergeUpsert(spark, dir,
      Seq((8L, 80.0, "E")).toDF("k", "v", "p"), "k", "p")            // v3
    MergeOps.mergeUpsert(spark, dir,
      Seq((10L, 100.0, "E")).toDF("k", "v", "p"), "k", "p")          // v4
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(!Versioned.committedVersions(spark, dir).contains(3L))
    BranchOps.branchUpsert(spark, dir, "b1",
      Seq((9L, 90.0, "O")).toDF("k", "v", "p"), "k", "p")
    BranchOps.publishBranch(spark, dir, "b1")
    assert(Versioned.currentVersion(spark, dir).contains(5L))
    assert(!Versioned.committedVersions(spark, dir).contains(3L),
      "a swept version must not come back")
    val got = onMain(dir).select("k", "v").as[(Long, Double)].collect().toMap
    assert(got(9L) == 90.0 && got(8L) == 80.0 && got(10L) == 100.0)
    assert(got.size == 9)
  }

  test("publishing a branch that never diverged lands nothing, also " +
       "after an undeclared rollback on main") {
    val dir = freshDir("graft_bk_undiverged")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((8L, 80.0, "E")).toDF("k", "v", "p"), "k", "p")            // v2
    BranchOps.createBranch(spark, dir, "b1")
    BranchOps.publishBranch(spark, dir, "b1")
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    Versioned.rollback(spark, dir, 1L)                               // v3
    BranchOps.publishBranch(spark, dir, "b1")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    assert(onMain(dir).count() == 6L)
  }
}

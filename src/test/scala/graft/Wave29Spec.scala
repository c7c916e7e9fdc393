package graft

import org.apache.spark.sql.functions._
import graft.engine.{ConcurrentCommitException, Versioned}
import graft.ops.{BranchOps, MergeOps}

/** Round-12 wave 5: BRANCHES — write-audit-publish. Fork is metadata-
  * only, branch writes are invisible to main, the publish audits
  * against main's persisted constraints and fast-forwards atomically,
  * vacuum pins live branches' storage, drop releases it. */
class Wave29Spec extends SparkTestBase {

  private def row(k: Long, v: Double, p: String) = {
    import spark.implicits._
    Seq((k, v, p)).toDF("k", "v", "p")
  }

  private def readAll(dir: String): Map[Long, (Double, String)] =
    MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  private def readBranch(dir: String, n: String): Map[Long, (Double, String)] =
    BranchOps.readBranch(spark, dir, n, "p").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  test("branch writes are snapshot-isolated from main; upsert semantics " +
       "hold on the branch chain; publish fast-forwards main to exactly " +
       "the branch head; drop leaves no trace behind the next vacuum") {
    val dir = freshDir("graft_branch_iso")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    BranchOps.createBranch(spark, dir, "wap")
    assert(BranchOps.branches(spark, dir) === Seq("wap"))
    assert(readBranch(dir, "wap") === readAll(dir))   // fork = main
    BranchOps.branchUpsert(spark, dir, "wap", row(7L, 70.0, "O"), "k", "p")
    BranchOps.branchUpsert(spark, dir, "wap", row(7L, 77.0, "O"), "k", "p")
    BranchOps.branchUpsert(spark, dir, "wap", row(2L, -2.0, "E"), "k", "p")
    // main: untouched, still v1
    assert(Versioned.currentVersion(spark, dir).contains(1L))
    assert(!readAll(dir).contains(7L) && readAll(dir)(2L) === (20.0, "E"))
    // branch: replace-then-read semantics
    val b = readBranch(dir, "wap")
    assert(b(7L) === (77.0, "O") && b(2L) === (-2.0, "E"))
    BranchOps.publishBranch(spark, dir, "wap")                       // v2
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    assert(readAll(dir) === b)
    BranchOps.dropBranch(spark, dir, "wap")
    assert(BranchOps.branches(spark, dir).isEmpty)
    // the published b_ dirs are main-referenced and must survive vacuum
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(readAll(dir) === b)
  }

  test("publish refuses a stale branch (main advanced past the fork) " +
       "and refuses a dirty branch when main carries a persisted " +
       "constraint; a failed audit never moves main") {
    val dir = freshDir("graft_branch_guard")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.addConstraint(spark, dir, "v_pos", "v > 0", "p")        // v2
    // dirty branch: audit must reject at publish, not at branch write
    BranchOps.createBranch(spark, dir, "dirty")
    BranchOps.branchUpsert(spark, dir, "dirty", row(7L, -7.0, "O"),
                           "k", "p")
    val audit = intercept[IllegalArgumentException] {
      BranchOps.publishBranch(spark, dir, "dirty")
    }
    assert(audit.getMessage.contains("v_pos") &&
           audit.getMessage.contains("audit"))
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    // the fix publishes
    BranchOps.branchUpsert(spark, dir, "dirty", row(7L, 7.0, "O"),
                           "k", "p")
    BranchOps.publishBranch(spark, dir, "dirty")                     // v3
    assert(readAll(dir)(7L) === (7.0, "O"))
    BranchOps.dropBranch(spark, dir, "dirty")
    // DISJOINT main advance: the publish REBASES — main's E-partition
    // write and the branch's O-partition work both land
    BranchOps.createBranch(spark, dir, "stale")
    MergeOps.mergeUpsert(spark, dir, row(8L, 80.0, "E"), "k", "p")   // v4
    BranchOps.branchUpsert(spark, dir, "stale", row(9L, 90.0, "O"),
                           "k", "p")
    BranchOps.publishBranch(spark, dir, "stale")                     // v5
    val got = readAll(dir)
    assert(got(8L) === (80.0, "E") && got(9L) === (90.0, "O"),
      "a disjoint-rebased publish must keep BOTH sides' work")
    BranchOps.dropBranch(spark, dir, "stale")
    // OVERLAPPING main advance: loud refusal, main unmoved
    BranchOps.createBranch(spark, dir, "ovl")
    BranchOps.branchUpsert(spark, dir, "ovl", row(10L, 100.0, "E"),
                           "k", "p")
    MergeOps.mergeUpsert(spark, dir, row(12L, 120.0, "E"), "k", "p") // v6
    val e = intercept[IllegalArgumentException] {
      BranchOps.publishBranch(spark, dir, "ovl")
    }
    assert(e.getMessage.contains("advanced past"))
    assert(Versioned.currentVersion(spark, dir).contains(6L))
    BranchOps.dropBranch(spark, dir, "ovl")
    // UNDECLARED main advance (rollback): refusal too
    BranchOps.createBranch(spark, dir, "undecl")
    BranchOps.branchUpsert(spark, dir, "undecl", row(11L, 110.0, "O"),
                           "k", "p")
    Versioned.rollback(spark, dir, 5L)                               // v7
    val e2 = intercept[IllegalArgumentException] {
      BranchOps.publishBranch(spark, dir, "undecl")
    }
    assert(e2.getMessage.contains("advanced past"))
    BranchOps.dropBranch(spark, dir, "undecl")
    // duplicate create is loud
    BranchOps.createBranch(spark, dir, "x")
    intercept[IllegalStateException] {
      BranchOps.createBranch(spark, dir, "x")
    }
    intercept[IllegalArgumentException] {
      BranchOps.createBranch(spark, dir, "bad_name")
    }
  }

  test("vacuum pins a live branch's storage: fork-referenced main dirs " +
       "survive main's retention and the branch stays readable; after " +
       "drop, the next vacuum reclaims the branch-staged dirs") {
    val dir = freshDir("graft_branch_vac")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    BranchOps.createBranch(spark, dir, "pin")
    BranchOps.branchUpsert(spark, dir, "pin", row(7L, 70.0, "O"), "k", "p")
    val forkSnapshot = readBranch(dir, "pin")
    // main advances, restaging BOTH partitions — v1's dirs become
    // main-unreferenced, but the live branch still reads them
    MergeOps.mergeUpsert(spark, dir, row(8L, 80.0, "E"), "k", "p")   // v2
    MergeOps.mergeUpsert(spark, dir, row(9L, 90.0, "O"), "k", "p")   // v3
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(readBranch(dir, "pin") === forkSnapshot,
      "a live branch must survive main's retention sweep")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def branchDirs(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("b_pin_"))
    assert(branchDirs().nonEmpty)
    BranchOps.dropBranch(spark, dir, "pin")
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(branchDirs().isEmpty,
      "a dropped branch's staged dirs must be reclaimed")
  }

  test("a publish DECLARES its changed partitions: a gated disjoint " +
       "upsert that loses to a publishBranch rebases across it") {
    val dir = freshDir("graft_branch_rebase")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    BranchOps.createBranch(spark, dir, "feed")
    BranchOps.branchUpsert(spark, dir, "feed", row(8L, 80.0, "E"),
                           "k", "p")   // branch touches E only
    Wave27Gate.arm()
    val gatedP = udf(Wave27Gate.pass _)
    import spark.implicits._
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val w1 = new Thread(() => {
      try MergeOps.mergeUpsert(spark, dir,
        Seq((7L, 70.0, "O")).toDF("k", "v", "p0")
          .select(col("k"), col("v"), gatedP(col("p0")).as("p")),
        "k", "p")
      catch { case t: Throwable => err.set(t) }
    })
    w1.start()
    assert(Wave27Gate.reached.await(
      60, java.util.concurrent.TimeUnit.SECONDS))
    BranchOps.publishBranch(spark, dir, "feed")   // v2, touch = {p=E}
    Wave27Gate.resume.countDown()
    w1.join(120000)
    assert(err.get() == null,
      s"disjoint upsert must rebase across a publish: ${err.get()}")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    val got = readAll(dir)
    assert(got(7L) === (70.0, "O") && got(8L) === (80.0, "E"))
    BranchOps.dropBranch(spark, dir, "feed")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-12 wave 2: PERSISTED table-level CHECK constraints — the
  * contract lives with the table (a `constraints` sidecar on the
  * commit log), every writer loads and enforces it automatically, and
  * the staged read-back closes the non-deterministic-batch hole
  * plan-level checks leave open. */
class Wave26Spec extends SparkTestBase {

  private def row(k: Long, v: java.lang.Double, p: String) = {
    import spark.implicits._
    Seq((k, v, p)).toDF("k", "v", "p")
      .select(col("k"), col("v").cast("double").as("v"), col("p"))
  }

  test("a constraint added once binds every later writer that passes " +
       "nothing: plain upsert, changelog apply, and UPDATE WHERE are all " +
       "gated; the version never moves on a rejection") {
    val dir = freshDir("graft_pc_bind")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.addConstraint(spark, dir, "v_pos", "v > 0", "p")        // v2
    assert(MergeOps.tableConstraints(spark, dir, 2L) ===
      Seq(("v_pos", "v > 0")))
    // plain upsert with a violator: plan-checked, loud, unpublished
    val e1 = intercept[IllegalArgumentException] {
      MergeOps.mergeUpsert(spark, dir, row(7L, -1.0, "O"), "k", "p")
    }
    assert(e1.getMessage.contains("v_pos"))
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    // changelog apply with a violating upsert row: same gate
    import spark.implicits._
    val badChange = Seq((8L, -2.0, "E", "i")).toDF("k", "v", "p", "op")
    val e2 = intercept[IllegalArgumentException] {
      MergeOps.mergeApplyChangelog(spark, dir, badChange, "k", "p")
    }
    assert(e2.getMessage.contains("v_pos"))
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    // UPDATE WHERE manufacturing a violation: only the staged read-back
    // sees the transformed values — it must reject and leave no version
    val e3 = intercept[IllegalArgumentException] {
      MergeOps.mergeUpdateWhere(spark, dir, col("k") === 2L,
        Seq("v" -> (col("v") * -1)), "k", "p")
    }
    assert(e3.getMessage.contains("v_pos") &&
           e3.getMessage.contains("read-back"))
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    // ...and the staged ghost was reclaimed, not left for vacuum
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ghosts = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName)
      .filter(n => Versioned.stageDirVersion(n).exists(_ > 2L))
    assert(ghosts.isEmpty, s"staged ghost left behind: ${ghosts.mkString}")
    // a clean write still lands, and a NULL predicate passes (SQL CHECK)
    MergeOps.mergeUpsert(spark, dir, row(9L, null, "O"), "k", "p")   // v3
    assert(Versioned.currentVersion(spark, dir).contains(3L))
  }

  test("ADD CONSTRAINT validates existing data first; DROP releases; an " +
       "empty set masks older sidecars") {
    val dir = freshDir("graft_pc_ddl")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    // existing data violates: the add must refuse and commit nothing
    val e = intercept[IllegalArgumentException] {
      MergeOps.addConstraint(spark, dir, "v_big", "v > 15", "p")
    }
    assert(e.getMessage.contains("v_big") &&
           e.getMessage.contains("existing data"))
    assert(Versioned.currentVersion(spark, dir).contains(1L))
    MergeOps.addConstraint(spark, dir, "v_pos", "v > 0", "p")        // v2
    intercept[IllegalArgumentException] {   // duplicate name refused
      MergeOps.addConstraint(spark, dir, "v_pos", "v > 1", "p")
    }
    MergeOps.dropConstraint(spark, dir, "v_pos")                     // v3
    assert(MergeOps.tableConstraints(spark, dir, 3L).isEmpty)
    // released: the previously-rejected write lands
    MergeOps.mergeUpsert(spark, dir, row(7L, -1.0, "O"), "k", "p")   // v4
    assert(Versioned.currentVersion(spark, dir).contains(4L))
    intercept[IllegalArgumentException] {   // dropping a ghost is loud
      MergeOps.dropConstraint(spark, dir, "nope")
    }
  }

  test("the constraint set walks back across unrelated commits and " +
       "survives a floor-raising vacuum (the cumulative-metadata keep " +
       "rule); a batch lacking the constrained column fails loudly") {
    val dir = freshDir("graft_pc_walk")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.addConstraint(spark, dir, "v_pos", "v > 0", "p")        // v2
    MergeOps.mergeUpsert(spark, dir, row(7L, 70.0, "O"), "k", "p")   // v3
    MergeOps.mergeUpsert(spark, dir, row(8L, 80.0, "E"), "k", "p")   // v4
    Versioned.vacuum(spark, dir, keepVersions = 1)   // floor 4 > v2
    // the newest constraints sidecar sat below the floor: kept whole
    assert(MergeOps.tableConstraints(spark, dir, 4L) ===
      Seq(("v_pos", "v > 0")))
    val e1 = intercept[IllegalArgumentException] {
      MergeOps.mergeUpsert(spark, dir, row(9L, -1.0, "O"), "k", "p")
    }
    assert(e1.getMessage.contains("v_pos"))
    // a batch that DROPS the constrained column cannot silently destroy
    // the evidence: loud schema/contract mismatch naming the constraint
    import spark.implicits._
    val narrow = Seq((9L, "O")).toDF("k", "p")
    val e2 = intercept[IllegalArgumentException] {
      MergeOps.mergeUpsert(spark, dir, narrow, "k", "p")
    }
    assert(e2.getMessage.contains("v_pos") && e2.getMessage.contains("v"))
  }

  test("rollback restores content but NOT the constraint contract (the " +
       "Delta RESTORE rule): the set in force stays the newest committed " +
       "one") {
    val dir = freshDir("graft_pc_rb")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, dir, row(5L, 50.0, "O"), "k", "p")   // v2
    MergeOps.addConstraint(spark, dir, "v_pos", "v > 0", "p")        // v3
    Versioned.rollback(spark, dir, 1L)                               // v4
    // content is v1's again...
    assert(Versioned.readCurrent(spark, dir, Some("p")).count() === 4L)
    // ...but the contract still binds
    val e = intercept[IllegalArgumentException] {
      MergeOps.mergeUpsert(spark, dir, row(6L, -1.0, "E"), "k", "p")
    }
    assert(e.getMessage.contains("v_pos"))
  }
}

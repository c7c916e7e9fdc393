package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-12 wave 6: MERGE-ON-READ UPDATE VECTORS — image sidecars
  * substituted at read (before the tombstone anti-join), stacking
  * latest-wins, materialized by compaction, byte-copied by repair and
  * rollback, swept by vacuum; write cost ∝ matched rows. */
class Wave30Spec extends SparkTestBase {

  private def readAll(dir: String): Map[Long, (Double, String)] =
    MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  test("MOR update: no data partition restages, the substitution read " +
       "is exact, generations stack latest-wins, a later MOR delete " +
       "shadows the image, and an upsert re-insert materializes") {
    import spark.implicits._
    val dir = freshDir("graft_uv")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.mergeUpdateMor(spark, dir, col("k") <= 2,
      Seq("v" -> (col("v") * 2)), "k", "p")                          // v2
    assert(Versioned.manifest(spark, dir, 2L) ===
           Versioned.manifest(spark, dir, 1L),
      "a MOR update must not restage data partitions")
    val got2 = readAll(dir)
    assert(got2(1L) === (20.0, "O") && got2(2L) === (40.0, "E") &&
           got2(3L) === (30.0, "O"))
    // stacking: a second update of key 1 wins over the first image
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 1,
      Seq("v" -> lit(999.0)), "k", "p")                              // v3
    assert(readAll(dir)(1L) === (999.0, "O"))
    assert(readAll(dir)(2L) === (40.0, "E"), "other images still apply")
    // a later MOR delete shadows the image
    MergeOps.mergeDeleteMor(spark, dir, Seq(Tuple1(1L)).toDF("k"),
                            "k", "p")                                // v4
    assert(!readAll(dir).contains(1L))
    // an upsert restaging partition O materializes: its uv/dv lines drop
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 11.0, "O")).toDF("k", "v", "p"), "k", "p")            // v5
    val oName = Versioned.partDirName("p", "O")
    assert(!Versioned.morRefs(spark, dir, 5L, Versioned.Uv).contains(oName) &&
           !Versioned.morRefs(spark, dir, 5L, Versioned.Dv).contains(oName))
    val got5 = readAll(dir)
    assert(got5(1L) === (11.0, "O") && got5(2L) === (40.0, "E"),
      "E's image must survive O's restage")
    // time travel: v1 shows pre-update values; rollback restores them
    assert(Versioned.readVersion(spark, dir, 1L, Some("p")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap.apply(2L) === 20.0)
    Versioned.rollback(spark, dir, 1L)                               // v6
    assert(readAll(dir) === (1 to 6).map(i =>
      i.toLong -> (i * 10.0, if (i % 2 == 0) "E" else "O")).toMap)
  }

  test("compactDeletes materializes BOTH sidecars in one pass and a " +
       "vacuum then reclaims the image and tombstone dirs") {
    import spark.implicits._
    val dir = freshDir("graft_uv_mat")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 3,
      Seq("v" -> lit(-3.0)), "k", "p")                               // v2
    MergeOps.mergeDeleteMor(spark, dir, Seq(Tuple1(4L)).toDF("k"),
                            "k", "p")                                // v3
    MergeOps.compactDeletes(spark, dir, "p", sortCol = Some("k"))    // v4
    assert(Versioned.morRefs(spark, dir, 4L, Versioned.Uv).isEmpty &&
           Versioned.morRefs(spark, dir, 4L, Versioned.Dv).isEmpty)
    val got = readAll(dir)
    assert(got(3L) === (-3.0, "O") && !got.contains(4L))
    Versioned.vacuum(spark, dir, keepVersions = 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("uvdata", "dvdata").foreach { sub =>
      val pp = new org.apache.hadoop.fs.Path(dir, sub)
      assert(!fs.exists(pp) || fs.listStatus(pp).isEmpty,
        s"$sub dirs must be reclaimed after materialization + vacuum")
    }
    assert(readAll(dir) === got)
  }

  test("a torn-claim repair byte-copies the uv sidecar: MOR-updated " +
       "values never revert through a repaired no-op commit") {
    import spark.implicits._
    val dir = freshDir("graft_uv_repair")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 2,
      Seq("v" -> lit(222.0)), "k", "p")                              // v2
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.createNewFile(new org.apache.hadoop.fs.Path(dir, "commits/3"))
    assert(Versioned.repairTornCommit(spark, dir, 3L, graceMs = 0L))
    assert(readAll(dir)(2L) === (222.0, "E"),
      "the repaired no-op version must carry the update vectors")
  }

  test("the change feed prunes on uv-ref diffs and classifies a MOR " +
       "update as an update with the new image; a mirror syncs it") {
    import spark.implicits._
    val dir = freshDir("graft_uv_feed")
    val dst = freshDir("graft_uv_feed_dst")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.syncMirror(spark, dir, dst, "k", "p")
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 5,
      Seq("v" -> lit(555.0)), "k", "p")                              // v2
    val feed = MergeOps.changeFeed(spark, dir, 1L, 2L, "k")
      .select("k", "v", "change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(feed === Set((5L, 555.0, "update")))
    MergeOps.syncMirror(spark, dir, dst, "k", "p")
    assert(readAll(dst) === readAll(dir))
  }

  test("manifest-carry commits (retention drop, ANALYZE refresh) carry " +
       "the update vectors of surviving partitions — the deep-fuzz " +
       "seed-304 catch: retention after a MOR update must not revert " +
       "the updated rows") {
    import spark.implicits._
    val dir = freshDir("graft_uv_carry")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p",
                         statsKeys = Seq("k"))                       // v1
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 5,
      Seq("v" -> lit(555.0)), "k", "p")                              // v2
    // retention drops partition E; O's image must survive the carry
    MergeOps.applyRetention(spark, dir,
      name => name != Versioned.partDirName("p", "E"))               // v3
    assert(readAll(dir) === Map(1L -> (10.0, "O"), 3L -> (30.0, "O"),
                                5L -> (555.0, "O")))
    // ANALYZE (manifest-carry stats refresh) must carry it too, and its
    // live scan must record the SUBSTITUTED bounds
    MergeOps.refreshStats(spark, dir, "p", statsKeys = Seq("k"))     // v4
    assert(readAll(dir)(5L) === (555.0, "O"))
    // a retention drop of the IMAGE-BEARING partition takes the image
    // with it (the dropped-partition rule)
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 20.0, "E")).toDF("k", "v", "p"), "k", "p")            // v5
    MergeOps.applyRetention(spark, dir,
      name => name != Versioned.partDirName("p", "O"))               // v6
    assert(Versioned.morRefs(spark, dir, 6L, Versioned.Uv).isEmpty)
    assert(readAll(dir) === Map(2L -> (20.0, "E")))
  }

  test("a MOR update that violates the persisted constraint set is " +
       "rejected by the staged read-back, the version never moves, and " +
       "the image ghost is reclaimed") {
    val dir = freshDir("graft_uv_constr")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    MergeOps.addConstraint(spark, dir, "v_pos", "v > 0", "p")        // v2
    val e = intercept[IllegalArgumentException] {
      MergeOps.mergeUpdateMor(spark, dir, col("k") === 2,
        Seq("v" -> (col("v") * -1)), "k", "p")
    }
    assert(e.getMessage.contains("v_pos"))
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pp = new org.apache.hadoop.fs.Path(dir, "uvdata")
    assert(!fs.exists(pp) || fs.listStatus(pp).isEmpty,
      "a rejected update's image ghost must be reclaimed")
    assert(readAll(dir)(2L) === (20.0, "E"))
  }
}

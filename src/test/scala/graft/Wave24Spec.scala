package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-11 wave: named version tags — retention-exempt provenance
  * pins. A tag binds a name to a committed version; vacuum keeps the
  * tagged version's dirs and metadata even below the floor; reads and
  * rollbacks to it stay legal; deleting the tag releases the pin. */
class Wave24Spec extends SparkTestBase {

  private def keysAt(dir: String, v: Long): Set[Long] =
    Versioned.readVersion(spark, dir, v, Some("p")).select("k")
      .collect().map(_.getLong(0)).toSet

  test("a tagged version survives a floor-raising vacuum whole; the " +
       "untagged sibling sweeps; readTag reproduces the pinned snapshot") {
    import spark.implicits._
    val dir = freshDir("graft_tag")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    Versioned.tagVersion(spark, dir, "baseline", 1L)
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 222.0, "E")).toDF("k", "v", "p"), "k", "p")          // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 333.0, "E")).toDF("k", "v", "p"), "k", "p")          // v3
    Versioned.vacuum(spark, dir, keepVersions = 1)   // floor = 3
    assert(Versioned.retentionFloor(spark, dir).contains(3L))
    // the tag reads below the floor; the untagged v2 fails fast
    assert(keysAt(dir, 1L) == (1L to 10L).toSet)
    val tagged = Versioned.readTag(spark, dir, "baseline", Some("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(tagged(2L) == 20.0, "the pin must hold the ORIGINAL value")
    // v2's marker itself was swept below the floor, so the fail-fast is
    // the never-committed guard (had the marker survived — ledger keep,
    // tag — it would be the floor guard; both refuse)
    val e = intercept[IllegalArgumentException] { keysAt(dir, 2L) }
    assert(e.getMessage.contains("never committed") ||
      e.getMessage.contains("retention floor"))
    // v2's metadata swept, v1's (tagged) kept
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Versioned.committedVersions(spark, dir) == Seq(1L, 3L),
      "the untagged below-floor version must sweep; the tagged must not")
  }

  test("re-tagging moves the pin atomically; deleteTag releases it so " +
       "the next vacuum reclaims; rollback to a tagged version works " +
       "below the floor") {
    import spark.implicits._
    val dir = freshDir("graft_retag")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")           // v1
    Versioned.tagVersion(spark, dir, "pin", 1L)
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 111.0, "O")).toDF("k", "v", "p"), "k", "p")          // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 112.0, "O")).toDF("k", "v", "p"), "k", "p")          // v3
    Versioned.vacuum(spark, dir, keepVersions = 1)
    // rollback to the tagged v1 even though floor = 3
    Versioned.rollback(spark, dir, 1L)                              // v4
    assert(MergeOps.readCorpus(spark, dir, "p")
      .where(col("k") === 1L).collect()(0).getDouble(1) == 10.0)
    // re-tag: the pin moves to v4; v1 becomes sweepable
    Versioned.tagVersion(spark, dir, "pin", 4L)
    assert(Versioned.tags(spark, dir) == Map("pin" -> 4L))
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(!Versioned.committedVersions(spark, dir).contains(1L),
      "after the re-tag, v1 must sweep")
    // delete the tag: nothing pins v4 beyond the keep window now, but
    // v4 IS current so it stays; the tag listing is empty
    Versioned.deleteTag(spark, dir, "pin")
    assert(Versioned.tags(spark, dir).isEmpty)
    val e = intercept[IllegalArgumentException] {
      Versioned.readTag(spark, dir, "pin", Some("p"))
    }
    assert(e.getMessage.contains("no tag"))
  }

  test("dropTable removes the whole store (refusing while tags pin, " +
       "unless forced); storeDetail reports the operational snapshot " +
       "from metadata only") {
    import spark.implicits._
    val dir = freshDir("graft_drop")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p",
      statsKeys = Seq("k"))                                         // v1
    MergeOps.mergeDeleteMor(spark, dir, Seq(2L, 5L).toDF("k"),
      "k", "p")                                                     // v2
    Versioned.tagVersion(spark, dir, "keep", 1L)
    val d = Versioned.storeDetail(spark, dir).collect()(0)
    assert(d.getAs[Long]("version") == 2L &&
      d.getAs[Long]("committed_versions") == 2L &&
      d.getAs[Long]("partitions") == 2L &&
      d.getAs[Long]("dv_partitions") == 2L &&
      d.getAs[Long]("uv_partitions") == 0L &&
      d.getAs[Long]("tags") == 1L &&
      d.getAs[Long]("branches") == 0L &&
      d.getAs[Long]("constraints") == 0L &&
      // 2 range lines + 2 per-file row-count lines (round 16 — every
      // stats job records the manifest-recorded-counts tier)
      d.getAs[Long]("stats_lines") == 4L &&
      d.getAs[Long]("dict_lines") == 0L &&
      d.getAs[Long]("bloom_lines") == 0L &&
      d.getAs[Long]("stage_pins") == 0L, s"detail: $d")
    val e = intercept[IllegalArgumentException] {
      Versioned.dropTable(spark, dir)
    }
    assert(e.getMessage.contains("keep->v1"),
      "the refusal must name the pinning tags")
    Versioned.dropTable(spark, dir, force = true)
    assert(Versioned.currentVersion(spark, dir).isEmpty)
    Versioned.dropTable(spark, dir)  // idempotent on a missing dir
  }

  test("guard rails: bad names, uncommitted versions, and below-floor " +
       "tagging are refused; foreign files in tags/ are skipped") {
    import spark.implicits._
    val dir = freshDir("graft_tagguards")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")           // v1
    intercept[IllegalArgumentException] {
      Versioned.tagVersion(spark, dir, "bad name", 1L)
    }
    intercept[IllegalArgumentException] {
      Versioned.tagVersion(spark, dir, "ghost", 9L)
    }
    // keep v1's marker alive below the floor (a temporary tag holds it
    // through the vacuum), then release — tagging it anew must refuse
    // on the FLOOR, not on marker absence
    Versioned.tagVersion(spark, dir, "tmp", 1L)
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 1.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    Versioned.vacuum(spark, dir, keepVersions = 1)   // floor = 2
    Versioned.deleteTag(spark, dir, "tmp")
    val e = intercept[IllegalArgumentException] {
      Versioned.tagVersion(spark, dir, "late", 1L)
    }
    assert(e.getMessage.contains("below the retention floor"))
    // a torn/foreign file in tags/ is skipped, not fatal
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, "tags/garbage.txt"), true)
    out.write("not-a-version".getBytes("UTF-8")); out.close()
    Versioned.tagVersion(spark, dir, "ok", 2L)
    assert(Versioned.tags(spark, dir) == Map("ok" -> 2L))
  }
}

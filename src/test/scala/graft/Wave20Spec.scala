package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-11 wave: merge-on-read deletion vectors. A MOR delete
  * publishes a tombstone dir + `dv` sidecar and carries the manifest
  * VERBATIM (no restage); every committed read applies the refs
  * per-partition; restaging writers (upsert/CoW delete/changelog/
  * compaction) materialize the refs they touch and drop their lines;
  * compactDeletes materializes everything; rollback byte-copies the
  * target's sidecar; vacuum sweeps unreferenced tombstone dirs. */
class Wave20Spec extends SparkTestBase {

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.delete(); d.getAbsolutePath
  }

  private def corpus(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
      .toDF("k", "v", "p")
  }

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def keysOf(dir: String): Set[Long] =
    MergeOps.readCorpus(spark, dir, "p").select("k").collect()
      .map(_.getLong(0)).toSet

  private def dataDirNames(dir: String): Set[String] = {
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir, "data")
    fs.listStatus(root).map(_.getPath.getName).toSet
  }

  test("mergeDeleteMor: manifest and data dirs carry verbatim, the " +
       "committed read hides exactly the doomed keys, and the all-miss " +
       "replay publishes nothing") {
    import spark.implicits._
    val dir = freshDir("graft_mor")
    MergeOps.mergeUpsert(spark, dir, corpus(20), "k", "p",
      statsKeys = Seq("k"))                                         // v1
    val before = dataDirNames(dir)
    val man1 = Versioned.manifest(spark, dir, 1L)
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(2L, 5L, 8L, 99L).toDF("k"), "k", "p")                     // v2
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    // no restage: same data dirs, same manifest entries
    assert(dataDirNames(dir) == before,
      "a MOR delete must not stage any data dir")
    assert(Versioned.manifest(spark, dir, 2L) == man1,
      "a MOR delete must carry the manifest verbatim")
    // stats carried verbatim (valid supersets)
    assert(Versioned.readStatsMulti(spark, dir, 2L).nonEmpty)
    assert(keysOf(dir) == (1L to 20L).toSet -- Set(2L, 5L, 8L))
    // tombstoned keys read as absent → the replay is all-miss → no-op
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(2L, 5L, 8L, 99L).toDF("k"), "k", "p")
    assert(Versioned.currentVersion(spark, dir).contains(2L),
      "re-deleting tombstoned keys must publish nothing")
    // zone-map-pruned read applies the DVs too
    val pruned = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      ranges = Seq(("k", 1L, 9L)))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(pruned == Set(1L, 3L, 4L, 6L, 7L, 9L))
  }

  test("restaging writers materialize the DVs they touch: an upsert " +
       "re-inserting a tombstoned key wins, other tombstones hold, and " +
       "untouched partitions keep their refs") {
    import spark.implicits._
    val dir = freshDir("graft_morupsert")
    MergeOps.mergeUpsert(spark, dir, corpus(20), "k", "p")          // v1
    // doom 2,4 (partition E) and 5 (partition O)
    MergeOps.mergeDeleteMor(spark, dir, Seq(2L, 4L, 5L).toDF("k"),
      "k", "p")                                                     // v2
    // upsert touches ONLY partition E, re-inserting key 2
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 777.0, "E")).toDF("k", "v", "p"), "k", "p")          // v3
    val rows = MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(2L) == 777.0, "the re-inserted key must win")
    assert(!rows.contains(4L),
      "the restage must materialize partition E's other tombstone")
    assert(!rows.contains(5L),
      "partition O's carried ref must still apply")
    val refs = Versioned.readDvRefs(spark, dir, 3L)
    assert(refs.keySet == Set("p=O"),
      s"restaged E drops its lines, O carries: $refs")
  }

  test("compactDeletes: content-invisible materialization that clears " +
       "every ref, drops a fully-tombstoned partition, and lets vacuum " +
       "reclaim the tombstone dirs") {
    import spark.implicits._
    val dir = freshDir("graft_morcompact")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p",
      statsKeys = Seq("k"))                                         // v1
    // doom EVERY odd key → partition O becomes logically empty
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(1L, 3L, 5L, 7L, 9L).toDF("k"), "k", "p")                  // v2
    val want = keysOf(dir)
    MergeOps.compactDeletes(spark, dir, "p", sortCol = Some("k"))   // v3
    assert(keysOf(dir) == want && want == Set(2L, 4L, 6L, 8L, 10L),
      "materialization must be content-invisible")
    assert(Versioned.readDvRefs(spark, dir, 3L).isEmpty)
    assert(Versioned.manifest(spark, dir, 3L).map(_._1) == Seq("p=E"),
      "the fully-tombstoned partition must leave the manifest")
    // no refs left → a second pass is a no-op
    MergeOps.compactDeletes(spark, dir, "p")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    val rep = Versioned.vacuum(spark, dir)                          // keep v3
    val fs = fsOf(dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "dvdata")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(dir, "dvdata")).isEmpty,
      s"vacuum must reclaim unreferenced tombstone dirs ($rep)")
    assert(keysOf(dir) == want, "reads survive the sweep")
  }

  test("time travel and rollback honor the version's own DV state; a " +
       "vacuum with a deeper window keeps referenced tombstone dirs") {
    import spark.implicits._
    val dir = freshDir("graft_mortravel")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    MergeOps.mergeDeleteMor(spark, dir, Seq(2L, 3L).toDF("k"),
      "k", "p")                                                     // v2
    def at(v: Long): Set[Long] =
      Versioned.readVersion(spark, dir, v, Some("p")).select("k")
        .collect().map(_.getLong(0)).toSet
    assert(at(1L) == (1L to 10L).toSet, "pre-delete version is whole")
    assert(at(2L) == (1L to 10L).toSet -- Set(2L, 3L))
    // a deep-enough vacuum keeps the tombstone dir v2 references
    Versioned.vacuum(spark, dir, keepVersions = 2)
    assert(at(2L) == (1L to 10L).toSet -- Set(2L, 3L),
      "referenced tombstones must survive the sweep")
    Versioned.rollback(spark, dir, 1L)                              // v3
    assert(keysOf(dir) == (1L to 10L).toSet,
      "rolling back past the delete resurrects the rows")
    Versioned.rollback(spark, dir, 2L)                              // v4
    assert(keysOf(dir) == (1L to 10L).toSet -- Set(2L, 3L),
      "rolling forward to the delete re-applies its sidecar")
  }

  test("a torn-claim repair on a DV-bearing table carries the previous " +
       "version's dv sidecar — deleted rows must NOT resurrect") {
    import spark.implicits._
    val dir = freshDir("graft_morrepair")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    MergeOps.mergeDeleteMor(spark, dir, Seq(2L, 5L).toDF("k"),
      "k", "p")                                                     // v2
    // a writer dies mid-claim at v3: bare marker, no binding
    val fs = fsOf(dir)
    fs.createNewFile(new org.apache.hadoop.fs.Path(dir, "commits/3"))
    assert(Versioned.repairTornCommit(spark, dir, 3L, graceMs = 0L))
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    assert(keysOf(dir) == (1L to 10L).toSet -- Set(2L, 5L),
      "the repaired no-op version must keep the tombstones applied")
    assert(Versioned.readDvRefs(spark, dir, 3L).nonEmpty,
      "the repair must byte-copy the dv sidecar it duplicates")
  }

  test("a MOR delete may logically empty the table (schema-preserving " +
       "empty read); materializing that state fails fast; retention " +
       "carries refs for kept partitions only") {
    import spark.implicits._
    val dir = freshDir("graft_morempty")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")           // v1
    MergeOps.mergeDeleteMor(spark, dir, (1L to 6L).toDF("k"),
      "k", "p")                                                     // v2
    val live = MergeOps.readCorpus(spark, dir, "p")
    assert(live.count() == 0L)
    assert(live.columns.toSeq == Seq("k", "v", "p"),
      "the logically empty table keeps its schema")
    val e = intercept[IllegalArgumentException] {
      MergeOps.compactDeletes(spark, dir, "p")
    }
    assert(e.getMessage.contains("logically empty"))
    // retention: drop partition O; E keeps its ref and stays empty
    MergeOps.applyRetention(spark, dir, _ != "p=O")                 // v3
    assert(Versioned.readDvRefs(spark, dir, 3L).keySet == Set("p=E"))
    assert(MergeOps.readCorpus(spark, dir, "p").count() == 0L)
  }

  test("changelog apply on a DV-bearing table: touched partitions " +
       "materialize, a delete op on a tombstoned key is a miss") {
    import spark.implicits._
    val dir = freshDir("graft_morcdc")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    MergeOps.mergeDeleteMor(spark, dir, Seq(2L, 5L).toDF("k"),
      "k", "p")                                                     // v2
    // one batch: update k=4, insert k=12 (E), delete k=6; the delete op
    // on tombstoned k=2 must be a harmless miss
    val changes = Seq((4L, 444.0, "E", "u"), (12L, 120.0, "E", "i"),
        (6L, 0.0, "E", "d"), (2L, 0.0, "E", "d"))
      .toDF("k", "v", "p", "op")
    MergeOps.mergeApplyChangelog(spark, dir, changes, "k", "p")     // v3
    val rows = MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(4L) == 444.0 && rows(12L) == 120.0)
    assert(!rows.contains(6L) && !rows.contains(2L) && !rows.contains(5L))
    assert(Versioned.readDvRefs(spark, dir, 3L).keySet == Set("p=O"),
      "the restaged E partition must shed its ref; O carries")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps
import graft.sql.{GraftCatalog, GraftScanObservable}

/** Round-14 wave 3: METADATA-TIER partition evolution — evolving a
  * spec is just writing with a new partCol: new data lands under the
  * new layout, foreign-layout entries carry byte-identical, reads
  * union the layouts with per-layout pruning, and a cross-layout
  * upsert migrates exactly the old partitions that might hold its
  * keys (the sidecar candidate probe). */
class Wave38Spec extends SparkTestBase {

  /** k 1..n with BOTH partition columns carried as data: p = k%4 (the
    * old spec), q = parity (the new spec). */
  private def corpus(r: Range) = {
    import spark.implicits._
    r.map(i => (i.toLong, i * 1.5, (i % 4).toString,
                if (i % 2 == 0) "even" else "odd"))
      .toDF("k", "v", "p", "q")
  }

  /** (name, length, mtime) of every data file under the store's rel
    * dirs — the byte-identical observable. */
  private def fileStates(dir: String, rels: Iterable[String])
      : Map[String, (Long, Long)] =
    rels.flatMap { rel =>
      val d = new java.io.File(dir, rel)
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.filter(_.isFile)
            .map(g => g.getPath -> (g.length(), g.lastModified()))
        else if (f.isFile) Seq(f.getPath -> (f.length(), f.lastModified()))
        else Nil
      }
    }.toMap

  test("a range-disjoint append under a NEW spec is metadata-only for " +
       "the old layout: entries carry verbatim, files byte-identical, " +
       "and the union read sees both layouts' rows") {
    val dir = freshDir("graft_evo_meta")
    MergeOps.mergeUpsert(spark, dir, corpus(1 to 100), "k", "p",
                         statsKeys = Seq("k"))                       // v1
    val man1 = Versioned.manifest(spark, dir, 1L).toMap
    val before = fileStates(dir, man1.values)
    MergeOps.mergeUpsert(spark, dir, corpus(101 to 200), "k", "q",
                         statsKeys = Seq("k"))                       // v2
    val man2 = Versioned.manifest(spark, dir, 2L)
    assert(man2.filter(_._1.startsWith("p=")).toMap == man1,
      "old-layout entries must carry verbatim")
    assert(man2.count(_._1.startsWith("q=")) == 2,
      "the new layout must land beside the old one")
    assert(fileStates(dir, man1.values) == before,
      "old dirs must stay byte-identical (mtime + length)")
    val got = MergeOps.readCorpus(spark, dir, "q")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1).toSeq
    assert(got == (1 to 200).map(i => (i.toLong, i * 1.5)))
  }

  test("per-layout pruning over a mixed manifest: a predicate on the " +
       "OLD partition column name-prunes old-layout entries and admits " +
       "new-layout ones; the NEW column prunes the other way — both " +
       "through Scala and SQL, both exact") {
    val dir = freshDir("graft_evo_prune")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, corpus(1 to 100), "k", "p",
                         statsKeys = Seq("k"))
    MergeOps.mergeUpsert(spark, dir, corpus(101 to 200), "k", "q",
                         statsKeys = Seq("k"))
    // Scala composed reader: values on p → old layout prunes by name
    val gotP = MergeOps.readCorpusSkipPruned(spark, dir, "q",
        values = Seq(("p", Seq("2"))))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotP == (1 to 200).filter(_ % 4 == 2).map(_.toLong),
      "rows with p=2 live under BOTH layouts and all must surface")
    // SQL front door: the kept set is {p=2} plus every q= entry
    spark.conf.set("spark.sql.catalog.gtest",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.root",
      new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath)
    GraftScanObservable.lastKeptDirs = Nil
    val sqlP = spark.sql(
      s"SELECT k FROM gtest.`$tbl` WHERE p = '2' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(sqlP == (1 to 200).filter(_ % 4 == 2).map(_.toLong))
    val kept = GraftScanObservable.lastKeptDirs.toSet
    assert(kept.filter(_.startsWith("p=")) == Set("p=2"),
      s"old-layout entries must name-prune to p=2: $kept")
    assert(kept.count(_.startsWith("q=")) == 2,
      s"new-layout entries carry no p dirs and must all admit: $kept")
    // and the NEW column prunes the new layout while old ones admit
    GraftScanObservable.lastKeptDirs = Nil
    val sqlQ = spark.sql(
      s"SELECT k FROM gtest.`$tbl` WHERE q = 'odd' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(sqlQ == (1 to 200).filter(_ % 2 == 1).map(_.toLong))
    val kept2 = GraftScanObservable.lastKeptDirs.toSet
    assert(kept2.filter(_.startsWith("q=")) == Set("q=odd") &&
           kept2.count(_.startsWith("p=")) == 4, s"got $kept2")
  }

  test("a cross-layout upsert migrates ONLY the old partitions whose " +
       "key stats overlap the batch: range-aligned old layout, one " +
       "partition restages, the rest stay byte-identical — and " +
       "replaced keys never duplicate") {
    import spark.implicits._
    val dir = freshDir("graft_evo_migrate")
    // old layout with DISJOINT key ranges per partition: p = (k-1)/50
    val old = (1 to 200).map(i =>
      (i.toLong, i * 1.5, ((i - 1) / 50).toString,
       if (i % 2 == 0) "even" else "odd")).toDF("k", "v", "p", "q")
    MergeOps.mergeUpsert(spark, dir, old, "k", "p",
                         statsKeys = Seq("k"))                       // v1
    val man1 = Versioned.manifest(spark, dir, 1L).toMap
    val untouchedRels = (man1 - "p=1").values
    val before = fileStates(dir, untouchedRels)
    // replace k=60..70 (all inside p=1) under the NEW spec q
    val batch = (60 to 70).map(i =>
      (i.toLong, -1.0, ((i - 1) / 50).toString,
       if (i % 2 == 0) "even" else "odd")).toDF("k", "v", "p", "q")
    MergeOps.mergeUpsert(spark, dir, batch, "k", "q",
                         statsKeys = Seq("k"))                       // v2
    val man2 = Versioned.manifest(spark, dir, 2L)
    assert(!man2.exists(_._1 == "p=1"),
      "the overlapping old partition must have migrated")
    assert((man2.filter(_._1.startsWith("p=")).toMap) == (man1 - "p=1"),
      "non-overlapping old partitions must carry verbatim")
    assert(fileStates(dir, untouchedRels) == before,
      "non-overlapping old dirs must stay byte-identical")
    // no duplicate keys, replaced values win, survivors intact
    val got = MergeOps.readCorpus(spark, dir, "q")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1).toSeq
    val want = (1 to 200).map(i =>
      (i.toLong, if (i >= 60 && i <= 70) -1.0 else i * 1.5))
    assert(got == want)
  }

  test("with NO key stats recorded every foreign entry is a candidate: " +
       "the first overlapping upsert migrates the whole old layout — " +
       "the documented honest cost — and stays exact") {
    import spark.implicits._
    val dir = freshDir("graft_evo_nostats")
    MergeOps.mergeUpsert(spark, dir, corpus(1 to 100), "k", "p")     // v1
    // the batch's keys replace 5 old ones; without stats nothing can
    // prove absence, so all of p=0..3 restage under q
    MergeOps.mergeUpsert(spark, dir,
      corpus(96 to 105).withColumn("v", lit(0.0)), "k", "q")         // v2
    assert(Versioned.manifest(spark, dir, 2L)
        .forall(_._1.startsWith("q=")),
      "a stat-less overlap must migrate every old partition")
    val got = MergeOps.readCorpus(spark, dir, "q")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1).toSeq
    val want = (1 to 95).map(i => (i.toLong, i * 1.5)) ++
      (96 to 105).map(i => (i.toLong, 0.0))
    assert(got == want)
  }

  /** k with g = k%3 (old spec — every group holds BOTH parities) and
    * q = parity (new spec): the layout pair that exposes migration
    * collisions. */
  private def corpus3(r: Range) = {
    import spark.implicits._
    r.map(i => (i.toLong, i * 1.5, (i % 3).toString,
                if (i % 2 == 0) "even" else "odd"))
      .toDF("k", "v", "g", "q")
  }

  private def uniqueNames(dir: String): Unit = {
    val v = Versioned.currentVersion(spark, dir).get
    val names = Versioned.manifest(spark, dir, v).map(_._1)
    assert(names.distinct.size == names.size,
      s"manifest at v$v carries duplicate entry names: " +
        names.groupBy(identity).filter(_._2.size > 1).keys.mkString(", "))
  }

  private def contents(dir: String, partCol: String): Map[Long, Double] =
    MergeOps.readCorpus(spark, dir, partCol).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("the CoW DML family is evolution-aware (round-14 fuzz catch, " +
       "seed 131): a delete/update/changelog whose hit rows live under " +
       "the OLD layout restages the foreign entries — the partDirName " +
       "touched set alone could never name them, so the old copies " +
       "silently survived") {
    import spark.implicits._
    val dir = freshDir("graft_evo_dml")
    MergeOps.mergeUpsert(spark, dir, corpus3(1 to 100), "k", "g",
                         statsKeys = Seq("k"))                       // v1
    MergeOps.mergeUpsert(spark, dir, corpus3(101 to 200), "k", "q",
                         statsKeys = Seq("k"))                       // v2
    val man2 = Versioned.manifest(spark, dir, 2L)
    assert(man2.exists(_._1.startsWith("g=")) &&
           man2.exists(_._1.startsWith("q=")), "mixed precondition")
    var model = (1 to 200).map(i => i.toLong -> i * 1.5).toMap
    // DELETE by keys: 7 lives under g=1 (old layout), 150 under q
    MergeOps.mergeDelete(spark, dir, Seq(7L, 150L).toDF("k"), "k", "q")
    model = model -- Seq(7L, 150L)
    assert(contents(dir, "q") === model,
      "a key delete must reach rows under the old layout")
    uniqueNames(dir)
    // DELETE WHERE: the value predicate hits rows of BOTH layouts
    MergeOps.mergeDeleteWhere(spark, dir, col("v") > 250.0, "q",
                              sortCol = Some("k"))
    model = model.filter { case (_, v) => !(v > 250.0) }
    assert(contents(dir, "q") === model,
      "a predicate delete must reach rows under the old layout")
    uniqueNames(dir)
    // UPDATE WHERE: in-place transform across layouts
    MergeOps.mergeUpdateWhere(spark, dir,
      col("k") >= 10L && col("k") <= 120L,
      Seq("v" -> (col("v") * 2)), "k", "q")
    model = model.map { case (k, v) =>
      k -> (if (k >= 10L && k <= 120L) v * 2 else v) }
    assert(contents(dir, "q") === model,
      "a predicate update must reach rows under the old layout")
    uniqueNames(dir)
    // CHANGELOG apply: upsert an old-layout key, delete another
    MergeOps.mergeApplyChangelog(spark, dir,
      Seq((4L, -4.0, "1", "even", "u"), (5L, 0.0, "2", "odd", "d"))
        .toDF("k", "v", "g", "q", "op"),
      "k", "q", "op")
    model = model + (4L -> -4.0) - 5L
    assert(contents(dir, "q") === model,
      "a changelog apply must reach rows under the old layout")
    uniqueNames(dir)
  }

  test("migration COLLISION: a cross-layout upsert whose candidate's " +
       "survivors stage into a partition name an UNTOUCHED same-layout " +
       "entry already carries must fold that entry into the merge — " +
       "publish replaces entries by staged name, so its rows would " +
       "silently drop otherwise") {
    import spark.implicits._
    val dir = freshDir("graft_evo_collide")
    MergeOps.mergeUpsert(spark, dir, corpus3(1 to 100), "k", "g",
                         statsKeys = Seq("k"))                       // v1
    MergeOps.mergeUpsert(spark, dir, corpus3(101 to 200), "k", "q",
                         statsKeys = Seq("k"))                       // v2
    // batch = key 3 only (g=0, odd): candidate g=0's survivors carry
    // BOTH parities, so q=even receives migrated rows while the batch
    // touches only q=odd — the collision shape
    MergeOps.mergeUpsert(spark, dir,
      corpus3(3 to 3).withColumn("v", lit(-3.0)), "k", "q",
      statsKeys = Seq("k"))                                          // v3
    val model = ((1 to 200).map(i => i.toLong -> i * 1.5).toMap +
      (3L -> -3.0))
    assert(contents(dir, "q") === model,
      "the untouched colliding entry's rows must survive the migration")
    uniqueNames(dir)
  }

  test("compactDeletes with a FOREIGN-layout bearing entry migrates it " +
       "and folds in collision entries — materialization keeps every " +
       "row exactly once") {
    import spark.implicits._
    val dir = freshDir("graft_evo_compact")
    MergeOps.mergeUpsert(spark, dir, corpus3(1 to 100), "k", "g",
                         statsKeys = Seq("k"))                       // v1
    MergeOps.mergeUpsert(spark, dir, corpus3(101 to 200), "k", "q",
                         statsKeys = Seq("k"))                       // v2
    // MOR delete of an old-layout key: the dv ref keys by the g-entry
    MergeOps.mergeDeleteMor(spark, dir, Seq(9L).toDF("k"), "k", "q")
    val model = (1 to 200).map(i => i.toLong -> i * 1.5).toMap - 9L
    assert(contents(dir, "q") === model)
    MergeOps.compactDeletes(spark, dir, "q", sortCol = Some("k"))
    assert(Versioned.morRefs(spark, dir,
      Versioned.currentVersion(spark, dir).get, Versioned.Dv).isEmpty,
      "materialization must clear the refs")
    assert(contents(dir, "q") === model,
      "the migration must keep every row exactly once")
    uniqueNames(dir)
  }
}

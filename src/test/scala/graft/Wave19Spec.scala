package graft

import org.apache.spark.sql.functions._
import graft.engine.{ConcurrentCommitException, Versioned}
import graft.ops.MergeOps

/** Round-11 wave: the advice fixes on the commit protocol's last
  * non-atomic writes. The winner binding is now CLAIMED with the same
  * O_CREAT|O_EXCL create the marker uses (no check-then-create race on
  * file://), and every small-metadata overwrite (binding content, the
  * empty-winner repair token, floor.txt) lands via temp + rename —
  * a reader can observe old-or-new content, never a truncated prefix
  * and never a deleted-floor crash window. A vanished winner-named
  * manifest surfaces as the retryable commit-race signal instead of a
  * raw FileNotFoundException. */
class Wave19Spec extends SparkTestBase {

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("publish: two REAL threads racing the same version resolve to " +
       "exactly one winner via the exclusive binding claim") {
    val dir = freshDir("graft_pubrace")
    val fs = fsOf(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "data/1_a"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "data/1_b"))
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq("a", "b").map { tok =>
      new Thread(() => {
        gate.await()
        try {
          Versioned.publish(spark, dir, 1L, tok,
            Versioned.wholeTableEntryAt(s"data/1_$tok"))
          outcomes.add(s"win:$tok")
        } catch {
          case _: ConcurrentCommitException => outcomes.add(s"lose:$tok")
        }
      })
    }
    threads.foreach(_.start()); gate.countDown()
    threads.foreach(_.join(60000))
    assert(threads.forall(!_.isAlive), "publish must never hang")
    val (wins, losses) = outcomes.toArray.map(_.toString)
      .partition(_.startsWith("win:"))
    assert(wins.length == 1 && losses.length == 1,
      s"exactly one winner and one loud loser, got ${outcomes.toArray.toSeq}")
    val winTok = wins.head.stripPrefix("win:")
    // the committed binding names the winner's attempt, full token
    assert(Versioned.manifest(spark, dir, 1L) ==
      Seq(("__ALL__", s"data/1_$winTok")),
      "readers must resolve exactly the winning attempt's manifest")
  }

  test("empty-winner repair: the token lands atomically even over a " +
       "checksummed empty binding from an older writer") {
    import spark.implicits._
    val dir = freshDir("graft_emptywinner")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    val fs = fsOf(dir)
    // crash state: a writer died INSIDE its binding write — claim and
    // an EMPTY winner file exist. Craft it with fs.create so the store
    // also carries a Hadoop .crc sidecar for the empty content (what a
    // round-10 writer would have left): the repair's rename-replace
    // must not leave that stale checksum behind to fail later reads.
    fs.createNewFile(new org.apache.hadoop.fs.Path(dir, "commits/2"))
    fs.create(new org.apache.hadoop.fs.Path(dir, "commits/2.winner"), true)
      .close()
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(dir, "commits/.2.winner.crc")),
      "precondition: the crafted empty binding is checksummed")
    assert(Versioned.repairTornCommit(spark, dir, 2L, graceMs = 0L),
      "an aged empty binding must repair as a no-op commit")
    // the repaired version reads back v1's state through the new token
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(_.getLong(0)).toSet
    assert(rows == (1L to 10L).toSet)
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    // and the table stays writable
    MergeOps.mergeUpsert(spark, dir,
      Seq((99L, 9.9, "O")).toDF("k", "v", "p"), "k", "p")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
  }

  test("floor.txt: vacuum replaces the record atomically (no delete " +
       "window) and survives a checksummed predecessor") {
    import spark.implicits._
    val dir = freshDir("graft_floor")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")           // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -1.0, "O")).toDF("k", "v", "p"), "k", "p")           // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, -2.0, "E")).toDF("k", "v", "p"), "k", "p")           // v3
    val fs = fsOf(dir)
    // an older engine's floor record: fs.create-written, checksummed
    val fp = new org.apache.hadoop.fs.Path(dir, "floor.txt")
    val o = fs.create(fp, true)
    o.write("1\n".getBytes("UTF-8")); o.close()
    assert(Versioned.retentionFloor(spark, dir).contains(1L))
    val rep = Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(rep.floor == 3L, s"floor must advance to current, got $rep")
    // the replace went through rename: the record reads back exactly
    // (a stale .crc from the predecessor would fail this read loudly)
    assert(Versioned.retentionFloor(spark, dir).contains(3L))
    // no temp debris survives the pass
    val debris = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.contains("floor.txt.tmp"))
    assert(debris.isEmpty, s"stale floor tmps must be reclaimed: $debris")
    // and the table still reads current state
    val m = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) == -1.0 && m(2L) == -2.0 && m.size == 6)
  }

  test("a retention maintainer races a merging writer: manifest-only " +
       "commits and data commits contend on the same claims, every " +
       "surviving write lands, every drop sticks") {
    import spark.implicits._
    val dir = freshDir("graft_retention_race")
    // base corpus: one key in each of six partitions d1..d6
    MergeOps.mergeUpsert(spark, dir,
      (1 to 6).map(i => (i.toLong, i * 1.0, s"d$i")).toDF("k", "v", "p"),
      "k", "p")                                                     // v1
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val merger = new Thread(() => {
      try (1 to 5).foreach { i =>
        Versioned.withCommitRetry(maxAttempts = 12) {
          MergeOps.mergeUpsert(spark, dir,
            Seq((100L + i, i * 10.0, s"d${4 + i % 3}")).toDF("k", "v", "p"),
            "k", "p")
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    val retainer = new Thread(() => {
      try (1 to 3).foreach { i =>
        Versioned.withCommitRetry(maxAttempts = 12) {
          MergeOps.applyRetention(spark, dir, name => name != s"p=d$i")
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    merger.start(); retainer.start()
    merger.join(180000); retainer.join(180000)
    assert(!merger.isAlive && !retainer.isAlive,
      "a hung writer must fail the test as a hang, not a state mismatch")
    assert(errs.isEmpty, s"no writer may fail: ${errs.toArray.toSeq}")
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    // the retained base keys (the merger and retainer touch DISJOINT
    // partitions, so the outcome is order-independent) ...
    assert(rows.keySet.filter(_ <= 6L) == Set(4L, 5L, 6L),
      s"d1..d3 must be dropped, d4..d6 retained: $rows")
    // ... plus every merged key, each in its written partition
    (1 to 5).foreach { i =>
      assert(rows.get(100L + i).contains(s"d${4 + i % 3}"),
        s"merged key ${100 + i} must have survived the race: $rows")
    }
    // one committed version per successful writer: 1 base + 5 merges +
    // 3 real drops — losers redid their attempt, never burned a number
    assert(Versioned.committedVersions(spark, dir).size == 9,
      s"got ${Versioned.committedVersions(spark, dir)}")
    // and the store survives a vacuum after the contention
    Versioned.vacuum(spark, dir, keepVersions = 1)
    val after = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(after == rows, "vacuum must not change the committed state")
  }

  test("multi-column zone maps: intersection pruning reads fewer " +
       "files, returns the exact filter, and the bounds survive " +
       "merge, compaction, and retention verbatim") {
    import spark.implicits._
    val dir = freshDir("graft_multizone")
    // 100 rows, clustered by bucket b = k/10; a is correlated with k
    // (tight per-partition bounds), c anti-correlated (tight too) — so
    // EACH predicate can prune partitions the other cannot.
    def rows(ks: Seq[Long]) =
      ks.map(k => (k, k * 3, 1000L - k * 3, k / 10)).toDF("k", "a", "c", "b")
    MergeOps.mergeUpsert(spark, dir, rows(0L until 100L), "k", "b",
      statsKeys = Seq("a", "c"))                                    // v1
    def prune(aLo: Long, aHi: Long, cLo: Long, cHi: Long) =
      MergeOps.readCorpusSkipPruned(spark, dir, "b",
        ranges = Seq(("a", aLo, aHi), ("c", cLo, cHi)))
    // a ∈ [60,150] keeps k ∈ [20,50]; c ∈ [880,940] keeps k ∈ [20,40]
    // → intersection k ∈ [20,40] = buckets 2..4 of 10
    val got = prune(60, 150, 880, 940).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(got == (20L to 40L).toSet, s"exact filter result, got $got")
    val full = MergeOps.readCorpus(spark, dir, "b")
    val pruned = prune(60, 150, 880, 940)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"pruning must skip partition files: ${pruned.inputFiles.length} " +
        s"vs ${full.inputFiles.length}")
    // all-pruned range: empty result, schema intact, one-entry listing
    assert(prune(10000, 20000, 10000, 20000).collect().isEmpty)
    // a merge touching one bucket refreshes its lines and carries the
    // rest verbatim
    MergeOps.mergeUpsert(spark, dir,
      Seq((25L, 500L, 500L, 2L)).toDF("k", "a", "c", "b"), "k", "b",
      statsKeys = Seq("a", "c"))                                    // v2
    val s2 = graft.engine.Versioned.readStatsMulti(spark, dir, 2L)
    assert(s2("b=2")("a") == (60L, 500L) && s2("b=2")("c") == (500L, 940L),
      s"touched bucket's bounds must refresh, got ${s2("b=2")}")
    assert(s2("b=5")("a") == (150L, 177L),
      "untouched buckets' bounds carry verbatim")
    // compaction and retention carry the multi-format lines unchanged
    MergeOps.compactPartitions(spark, dir, "b", maxFilesPerPart = 0) // v3
    assert(graft.engine.Versioned.readStatsMulti(spark, dir, 3L) == s2,
      "compaction must carry multi-column bounds verbatim")
    MergeOps.applyRetention(spark, dir, name => name != "b=9")      // v4
    val s4 = graft.engine.Versioned.readStatsMulti(spark, dir, 4L)
    assert(s4 == (s2 - "b=9"),
      "retention must carry kept partitions' bounds and drop the rest")
    // pruning still bites after the maintenance passes
    val afterK = prune(60, 150, 880, 940).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(afterK == ((20L to 40L).toSet - 25L),
      s"post-maintenance prune must reflect the merge, got $afterK")
    // an unnamed legacy 3-field line (no longer written; rewritten by
    // hand here) reads through the multi API as __key__
    val dirL = freshDir("graft_legacyzone")
    MergeOps.mergeUpsert(spark, dirL, rows(0L until 30L), "k", "b",
      statsKeys = Seq("a"))
    val statsFile = graft.engine.Versioned
      .committedSidecar(spark, dirL, 1L, "stats").get
    val sfs = fsOf(dirL)
    val named = graft.engine.Versioned.sidecarLines(spark, dirL, 1L,
      graft.engine.Versioned.Stats)
    sfs.delete(statsFile, false)
    val out = sfs.create(statsFile, false)
    try out.write(named.map(_.split('\t')).collect {
        case Array(part, "a", lo, hi) => s"$part\t$lo\t$hi"
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val sl = graft.engine.Versioned.readStatsMulti(spark, dirL, 1L)
    assert(sl("b=1")("__key__") == (30L, 57L),
      s"legacy 3-field lines must lift to __key__, got $sl")
    // an all-NULL stats column in a partition emits no bounds line for
    // it (no NPE at stats time) and that partition always reads
    val dirN = freshDir("graft_nullzone")
    val withNulls = rows(0L until 30L)
      .withColumn("a", when(col("k") < 10, col("a")))   // b=1, b=2 all-null
    MergeOps.mergeUpsert(spark, dirN, withNulls, "k", "b",
      statsKeys = Seq("a", "c"))
    val sn = graft.engine.Versioned.readStatsMulti(spark, dirN, 1L)
    assert(!sn("b=1").contains("a") && sn("b=1").contains("c"),
      s"all-null column must have no bounds, others keep theirs: $sn")
    val nGot = MergeOps.readCorpusSkipPruned(spark, dirN, "b",
        ranges = Seq(("a", 0L, 20L))).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(nGot == (0L to 6L).toSet,
      s"boundless partitions are pruned by the RESIDUAL only, got $nGot")
  }

  test("merge stages land key-ordered inside each partition, and a " +
       "sorted compaction restores the order merges interleave") {
    import spark.implicits._
    val dir = freshDir("graft_sortedstage")
    val fs = fsOf(dir)
    def assertFilesOrdered(v: Long): Unit =
      graft.engine.Versioned.manifest(spark, dir, v).foreach {
        case (name, rel) =>
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$rel"))
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
            .foreach { f =>
              val ks = spark.read.parquet(f.getPath.toString)
                .select("k").collect().map(_.getLong(0))
              assert(ks.sameElements(ks.sorted),
                s"$name/${f.getPath.getName} must be key-ordered at v$v")
            }
      }
    // a deliberately scrambled batch across 8 input tasks: the stage
    // write's local sort must still land every file key-ordered
    val scrambled = (0 until 200)
      .map(i => ((i * 37 % 200).toLong, i.toDouble,
        if (i % 2 == 0) "E" else "O"))
      .toDF("k", "v", "p").repartition(8)
    MergeOps.mergeUpsert(spark, dir, scrambled, "k", "p")           // v1
    assertFilesOrdered(1L)
    // two more merges fragment the partitions (one file per task per
    // merge); a SORTED compaction rewrites each to one ordered file
    MergeOps.mergeUpsert(spark, dir,
      Seq((500L, 1.0, "E"), (501L, 1.0, "O")).toDF("k", "v", "p"),
      "k", "p")                                                     // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((600L, 2.0, "E"), (601L, 2.0, "O")).toDF("k", "v", "p"),
      "k", "p")                                                     // v3
    MergeOps.compactPartitions(spark, dir, "p", maxFilesPerPart = 1,
      sortCol = Some("k"))                                          // v4
    assertFilesOrdered(4L)
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(rows == ((0L until 200L) ++ Seq(500L, 501L, 600L, 601L)).toSet,
      "clustering must never change the committed multiset")
  }

  test("AS OF TIMESTAMP resolves by the store clock's commit instants " +
       "and fails fast before the log or below the floor") {
    import spark.implicits._
    val dir = freshDir("graft_asof")
    MergeOps.mergeUpsert(spark, dir, corpus(5), "k", "p")           // v1
    val fs = fsOf(dir)
    def mtime(v: Long) = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(dir, s"commits/$v")).getModificationTime
    val t1 = mtime(1L)
    Thread.sleep(20)  // ensure distinct store mtimes across commits
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -1.0, "O")).toDF("k", "v", "p"), "k", "p")           // v2
    val t2 = mtime(2L)
    assert(t2 > t1, "precondition: distinct commit instants")
    assert(graft.engine.Versioned.versionAsOf(spark, dir, t1).contains(1L))
    assert(graft.engine.Versioned.versionAsOf(spark, dir, t2).contains(2L))
    assert(graft.engine.Versioned
      .versionAsOf(spark, dir, (t1 + t2) / 2).contains(1L),
      "an instant between commits resolves to the earlier version")
    val atV1 = graft.engine.Versioned.readAsOf(spark, dir, t1, Some("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(atV1(1L) == 10.0, "AS OF v1's instant reads v1's data")
    val now = graft.engine.Versioned.readAsOf(spark, dir, t2, Some("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(now(1L) == -1.0, "AS OF the newest instant reads current")
    val ePre = intercept[IllegalArgumentException] {
      graft.engine.Versioned.readAsOf(spark, dir, t1 - 1000000L, Some("p"))
    }
    assert(ePre.getMessage.contains("predates"))
    // a vacuumed-below-floor resolution hits the floor fail-fast, not
    // a missing-file surprise
    Versioned.vacuum(spark, dir, keepVersions = 1)                  // floor=2
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, -2.0, "E")).toDF("k", "v", "p"), "k", "p")           // v3
    Versioned.vacuum(spark, dir, keepVersions = 1)                  // floor=3,
    // sweeps v1's marker below the floor: AS OF t1 now resolves to no
    // version (its marker is gone) or fails the floor check — both loud
    val res = scala.util.Try(
      graft.engine.Versioned.readAsOf(spark, dir, t1, Some("p")))
    assert(res.isFailure, "below-floor AS OF must fail fast")
  }

  test("mergeDelete: copy-on-write row deletes restage only touched " +
       "partitions, drop fully-emptied ones, refuse to empty the " +
       "table, and keep valid stats") {
    import spark.implicits._
    val dir = freshDir("graft_rowdelete")
    // partitions d1 (k 1-3), d2 (k 4-6), d3 (k 7-9)
    MergeOps.mergeUpsert(spark, dir,
      (1 to 9).map(i => (i.toLong, i * 1.0, s"d${(i - 1) / 3 + 1}"))
        .toDF("k", "v", "p"),
      "k", "p", statsKeys = Seq("k"))                               // v1
    // delete k=2 (partial d1) and all of d2 (k 4,5,6); k=99 no-ops
    MergeOps.mergeDelete(spark, dir,
      Seq(2L, 4L, 5L, 6L, 99L).toDF("k"), "k", "p")                 // v2
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(rows.keySet == Set(1L, 3L, 7L, 8L, 9L), s"got $rows")
    val man2 = graft.engine.Versioned.manifest(spark, dir, 2L)
    assert(!man2.exists(_._1 == "p=d2"),
      "a fully-emptied partition must drop out of the manifest")
    // stats: untouched d3 carries verbatim; restaged d1 keeps its old
    // (valid superset) bounds; emptied d2's line is gone
    val s2 = graft.engine.Versioned.readStatsMulti(spark, dir, 2L)
    assert(s2("p=d1")("k") == (1L, 3L) && s2("p=d3")("k") == (7L, 9L) &&
      !s2.contains("p=d2"), s"stats carry, got $s2")
    // pruning still correct with the superset bounds
    val pr = MergeOps.readCorpusSkipPruned(spark, dir, "p",
        ranges = Seq(("k", 1L, 3L)))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(pr == Set(1L, 3L))
    // CDC sees the row deletes as deletes — downstream consumers
    // (index maintenance, cache invalidation) subscribe to the same
    // changelog for DELETE writes as for merges
    val cdc = MergeOps.changelog(spark, dir, 1L, 2L, "k", "v")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change"))
      .toMap
    assert(cdc == Map(2L -> "delete", 4L -> "delete", 5L -> "delete",
      6L -> "delete"), s"changelog must be exactly the deletes: $cdc")
    // deleting a key that is already gone publishes nothing
    MergeOps.mergeDelete(spark, dir, Seq(2L).toDF("k"), "k", "p")
    assert(graft.engine.Versioned.currentVersion(spark, dir).contains(2L),
      "an all-miss delete must not publish a version")
    // refusing to empty the table
    val e = intercept[IllegalArgumentException] {
      MergeOps.mergeDelete(spark, dir,
        Seq(1L, 3L, 7L, 8L, 9L).toDF("k"), "k", "p")
    }
    assert(e.getMessage.contains("empty table"),
      s"must fail fast, got: ${e.getMessage}")
    // time travel still sees the pre-delete state (nothing was erased)
    val v1 = graft.engine.Versioned.readVersion(spark, dir, 1L, Some("p"))
      .collect().map(_.getLong(0)).toSet
    assert(v1 == (1L to 9L).toSet,
      "copy-on-write: the deleted rows remain time-travelable")
  }

  test("mergeApplyChangelog: inserts, updates, and deletes from one " +
       "CDC batch land in ONE committed version with fresh bounds") {
    import spark.implicits._
    val dir = freshDir("graft_applycdc")
    MergeOps.mergeUpsert(spark, dir,
      (1 to 6).map(i => (i.toLong, i * 1.0, s"d${(i - 1) / 3 + 1}"))
        .toDF("k", "v", "p"),
      "k", "p", statsKeys = Seq("k"))                               // v1
    val changes = Seq(
      (2L, 20.0, "d1", "u"),   // update in place
      (4L, 0.0, "d2", "d"),    // delete (value ignored)
      (7L, 7.0, "d3", "i")     // insert into a NEW partition
    ).toDF("k", "v", "p", "op")
    MergeOps.mergeApplyChangelog(spark, dir, changes, "k", "p",
      statsKeys = Seq("k"))                                         // v2
    assert(graft.engine.Versioned.currentVersion(spark, dir).contains(2L),
      "all three op kinds must land in exactly one version")
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0,
      5L -> 5.0, 6L -> 6.0, 7L -> 7.0), s"got $rows")
    // bounds: every touched partition recomputed, new partition added
    val st = graft.engine.Versioned.readStatsMulti(spark, dir, 2L)
    assert(st("p=d1")("k") == (1L, 3L) && st("p=d2")("k") == (5L, 6L) &&
      st("p=d3")("k") == (7L, 7L), s"fresh bounds, got $st")
    // CDC of the apply reports all three op kinds
    val cdc = MergeOps.changelog(spark, dir, 1L, 2L, "k", "v")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change"))
      .toMap
    assert(cdc == Map(2L -> "update", 4L -> "delete", 7L -> "insert"),
      s"got $cdc")
    // replay converges: same content, one more version
    MergeOps.mergeApplyChangelog(spark, dir, changes, "k", "p",
      statsKeys = Seq("k"))                                         // v3
    val rows3 = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows3 == rows, "the replay must converge to the same content")
  }

  test("streaming tombstone sink: per-trigger deletes land copy-on-" +
       "write; a replayed batch is idempotent with no ledger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir("graft_tombstones")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    val in = MemoryStream[Long]
    val q = graft.streaming.StreamOps.deleteMaintenance(
        in.toDF().toDF("k"), dir, "k", "p")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_tomb_ck").toString)
      .start()
    try {
      in.addData(2L, 4L)
      q.processAllAvailable()
      in.addData(6L, 99L)   // 99 misses — partial-hit batch
      q.processAllAvailable()
    } finally q.stop()
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 3L, 5L, 7L, 8L, 9L, 10L), s"got $rows")
    // two publishing triggers: v2 and v3
    assert(graft.engine.Versioned.currentVersion(spark, dir).contains(3L))
    // replaying a batch's keys is exactly-once WITHOUT a ledger:
    // all keys already gone → nothing touched → nothing published
    MergeOps.mergeDelete(spark, dir, Seq(2L, 4L).toDF("k"), "k", "p")
    assert(graft.engine.Versioned.currentVersion(spark, dir).contains(3L),
      "a replayed tombstone batch must publish nothing")
  }

  test("a committed manifest vanishing mid-read surfaces as the " +
       "retryable commit-race signal, not a raw FileNotFound") {
    val dir = freshDir("graft_goneman")
    MergeOps.mergeUpsert(spark, dir, corpus(5), "k", "p")           // v1
    val fs = fsOf(dir)
    val manDir = new org.apache.hadoop.fs.Path(dir, "manifest")
    fs.listStatus(manDir).foreach(st => fs.delete(st.getPath, false))
    val e = intercept[ConcurrentCommitException] {
      Versioned.manifest(spark, dir, 1L)
    }
    assert(e.getMessage.contains("re-derive"),
      s"the error must route the caller to retry, got: ${e.getMessage}")
  }
}

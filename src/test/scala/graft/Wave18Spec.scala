package graft

import org.apache.spark.sql.functions._
import graft.engine.{ConcurrentCommitException, Versioned}
import graft.ops.{IncrementalOps, MergeOps}

/** Round-10 wave: the optimistic-retry wrapper, the bounded commit log
  * (metadata vacuum below the retention floor with the exactly-once
  * ledger guard), and history on vacuumed tables. The threaded test is
  * the one place REAL concurrency (not an interleaving) is exercised:
  * the marker claim is createNewFile, atomic on the local filesystem,
  * so two genuine racers must resolve to exactly one winner per
  * version and the retry wrapper must land both writers' updates. */
class Wave18Spec extends SparkTestBase {

  test("withCommitRetry: retries exactly on commit races, passes other " +
       "failures through, and gives up loudly") {
    var calls = 0
    val got = Versioned.withCommitRetry(maxAttempts = 5, baseBackoffMs = 1L) {
      calls += 1
      if (calls < 3) throw new ConcurrentCommitException("lost the race")
      42
    }
    assert(got == 42 && calls == 3, s"expected success on call 3, got $calls")

    var exhausted = 0
    val e = intercept[ConcurrentCommitException] {
      Versioned.withCommitRetry(maxAttempts = 3, baseBackoffMs = 1L) {
        exhausted += 1
        throw new ConcurrentCommitException("always loses")
      }
    }
    assert(exhausted == 3, s"must stop at maxAttempts, ran $exhausted")
    assert(e.getMessage.contains("3 attempts"))

    // a non-race failure must NOT be retried
    var other = 0
    intercept[IllegalStateException] {
      Versioned.withCommitRetry(maxAttempts = 5, baseBackoffMs = 1L) {
        other += 1
        throw new IllegalStateException("not a race")
      }
    }
    assert(other == 1, "non-race exceptions must propagate on attempt 1")
  }

  test("two REAL threads merging concurrently with retry: every batch " +
       "lands, one version per successful merge") {
    import spark.implicits._
    val dir = freshDir("graft_threads")
    MergeOps.mergeUpsert(spark, dir, corpus(20), "k", "p")          // v1
    // Each thread upserts 3 distinct keys, one merge per key, wrapped
    // in the retry loop. Threads share the table; every merge
    // re-derives from current state, so retries compose correctly.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { t =>
      new Thread(() => {
        try {
          (1 to 3).foreach { i =>
            val k = 100L + t * 10 + i
            Versioned.withCommitRetry(maxAttempts = 12) {
              MergeOps.mergeUpsert(spark, dir,
                Seq((k, k * 1.0, if (t % 2 == 0) "O" else "E"))
                  .toDF("k", "v", "p"),
                "k", "p")
            }
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    assert(threads.forall(!_.isAlive),
      "a hung writer must fail the test as a hang, not a sum mismatch")
    assert(errs.isEmpty, s"no writer may fail: ${errs.toArray.toSeq}")
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val want = (0 until 3).flatMap(t => (1 to 3).map(i => 100L + t * 10 + i))
    want.foreach(k => assert(rows.get(k).contains(k * 1.0),
      s"key $k must have landed exactly as written"))
    assert(rows.size == 29, s"20 base + 9 new keys, got ${rows.size}")
    // exactly one commit per successful merge: 1 base + 9
    assert(Versioned.committedVersions(spark, dir).size == 10)
  }

  test("a torn commit (claim without binding) fails reads loudly and " +
       "repairs mechanically; the marker itself stays empty") {
    import spark.implicits._
    val dir = freshDir("graft_torn")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")          // v1
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // protocol v3.1: the marker is EMPTY; the winner binding resolves
    assert(fs.getFileStatus(
      new org.apache.hadoop.fs.Path(dir, "commits/1")).getLen == 0,
      "the marker must stay empty forever (no torn-content state)")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(dir, "commits/1.winner")),
      "the winner binding must exist for a committed version")

    // crash state: claim landed, binding did not (writer died between
    // publish steps 2 and 3)
    fs.createNewFile(new org.apache.hadoop.fs.Path(dir, "commits/2"))
    // unresolved commits surface as the commit-race class so a
    // writer's withCommitRetry absorbs an in-flight window instead of
    // dying on a misleading "corrupt" error
    val e = intercept[ConcurrentCommitException] {
      MergeOps.readCorpus(spark, dir, "p").collect()
    }
    assert(e.getMessage.contains("repairTornCommit"),
      s"torn reads must name the recovery, got: ${e.getMessage}")
    // repair refuses inside the grace period (the writer might be a
    // live pause, whose resume completes the commit)
    val g = intercept[IllegalArgumentException] {
      Versioned.repairTornCommit(spark, dir, 2L)
    }
    assert(g.getMessage.contains("grace"))
    // ... and COMPLETES the torn claim as a no-op commit once the
    // grace is waived: v2 becomes readable as v1's state verbatim —
    // nothing is deleted, so no writer's believed commit can vanish
    assert(Versioned.repairTornCommit(spark, dir, 2L, graceMs = 0L))
    assert(Versioned.currentVersion(spark, dir).get == 2L,
      "the repaired version stays committed (as a no-op)")
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .collect().map(r => r.getLong(0)).toSet
    assert(rows == (1L to 10L).toSet,
      "after repair, readers see the previous committed state")
    // the table is writable again: the next merge lands at v3
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 111.0, "O")).toDF("k", "v", "p"), "k", "p")
    assert(Versioned.currentVersion(spark, dir).get == 3L)
    // repair is a no-op on healthy commits
    assert(!Versioned.repairTornCommit(spark, dir, 2L, graceMs = 0L))
    assert(!Versioned.repairTornCommit(spark, dir, 3L, graceMs = 0L))
  }

  test("a folding writer races a compacting maintainer on one rollup " +
       "store: exactly-once and exact sums survive real contention") {
    import spark.implicits._
    val dir = freshDir("graft_fold_vs_compact")
    def batch(idNum: Int) =
      Seq(("u0",
        java.sql.Timestamp.valueOf(f"2024-03-${1 + idNum % 3}%02d 12:00:00"),
        idNum + 0.25)).toDF("user_id", "ts", "value")
    IncrementalOps.foldBatch(spark, dir, batch(0), "b0")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val folder = new Thread(() => {
      try (1 to 5).foreach { i =>
        Versioned.withCommitRetry(maxAttempts = 12) {
          IncrementalOps.foldBatch(spark, dir, batch(i), s"b$i")
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    val compactor = new Thread(() => {
      try (1 to 5).foreach { _ =>
        Versioned.withCommitRetry(maxAttempts = 12) {
          MergeOps.compactPartitions(spark, dir, "day_s", maxFilesPerPart = 0)
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    folder.start(); compactor.start()
    folder.join(180000); compactor.join(180000)
    assert(!folder.isAlive && !compactor.isAlive,
      "a hung writer must fail the test as a hang, not a sum mismatch")
    assert(errs.isEmpty, s"no writer may fail: ${errs.toArray.toSeq}")
    def sums = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("sum_value").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = (0 to 5).map(i =>
      (f"2024-03-${1 + i % 3}%02d", i + 0.25))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(sums == want, s"expected $want, got $sums")
    // the races must not have damaged exactly-once: every id replays
    // as a no-op
    (0 to 5).foreach(i =>
      IncrementalOps.foldBatch(spark, dir, batch(i), s"b$i"))
    assert(sums == want, "replays after the race must all no-op")
  }

  test("vacuum sweeps metadata below the floor: the commit log is " +
       "bounded by the retention window") {
    import spark.implicits._
    val dir = freshDir("graft_meta_vacuum")
    MergeOps.mergeUpsert(spark, dir, corpus(12), "k", "p")                // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -1.0, "O")).toDF("k", "v", "p"), "k", "p")                 // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, -2.0, "E")).toDF("k", "v", "p"), "k", "p")                 // v3
    val report = Versioned.vacuum(spark, dir, keepVersions = 2)    // floor=2
    assert(report.floor == 2L && report.versionsSwept == 1,
      s"the receipt must record the sweep, got $report")
    // v1's data dir is still REFERENCED (v2's untouched-partition entry
    // points into it — the whole point of manifest-level merges), so
    // nothing is data-deletable here; the swept version's tokenized
    // manifest is reclaimed as a ghost once its marker is gone
    assert(report.dataDirsDeleted == 0 && report.ghostFilesDeleted >= 1,
      s"receipt counts must match the sweep semantics, got $report")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "commits/1")),
      "the below-floor marker must be swept")
    assert(Versioned.committedVersions(spark, dir) == Seq(2L, 3L))
    // no manifest/stats/ledger file of any form survives for v1
    Seq("manifest", "stats", "ledger").foreach { side =>
      val root = new org.apache.hadoop.fs.Path(dir, side)
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        assert(!st.getPath.getName.takeWhile(_ != '_').equals("1"),
          s"swept version 1 left ${st.getPath.getName} in $side/")
      }
    }
    // retained versions read back exactly
    val s2 = Versioned.readVersion(spark, dir, 2L, Some("p"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(s2(1L) == -1.0 && s2(2L) == 20.0)
    val s3 = Versioned.readVersion(spark, dir, 3L, Some("p"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(s3(2L) == -2.0)
  }

  test("metadata vacuum never deletes the newest committed ledger: " +
       "exactly-once survives a floor passing every fold") {
    import spark.implicits._
    val dir = freshDir("graft_ledger_guard")
    def batch(day: Int, v: Double) =
      Seq(("u0", java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:00"), v))
        .toDF("user_id", "ts", "value")
    def sums = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("sum_value").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    IncrementalOps.foldBatch(spark, dir, batch(1, 1.0), "b1")       // v1 +ledger
    MergeOps.compactPartitions(spark, dir, "day_s", maxFilesPerPart = 0) // v2
    MergeOps.compactPartitions(spark, dir, "day_s", maxFilesPerPart = 0) // v3
    Versioned.vacuum(spark, dir, keepVersions = 1)                  // floor=3
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "commits/1")),
      "the version carrying the newest committed ledger must survive " +
        "the metadata sweep even below the floor")
    // the kept-below-floor version is retained for its LEDGER only —
    // reading it still fails fast with the floor error
    val eFloor = intercept[IllegalArgumentException] {
      Versioned.readVersion(spark, dir, 1L, Some("day_s"))
    }
    assert(eFloor.getMessage.contains("retention floor"),
      s"kept-below-floor reads need the floor error, got: " +
        eFloor.getMessage)
    // the guard is what makes this replay a no-op instead of a
    // double-count
    IncrementalOps.foldBatch(spark, dir, batch(1, 1.0), "b1")
    assert(sums == Map("2024-03-01" -> 1.0),
      s"replay after metadata vacuum must no-op, got $sums")
    // ...and a fresh fold writes a new ledger ABOVE the floor, after
    // which a second vacuum may finally sweep v1
    IncrementalOps.foldBatch(spark, dir, batch(2, 7.0), "b2")
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "commits/1")),
      "once a newer committed ledger exists the old guard version sweeps")
    assert(sums == Map("2024-03-01" -> 1.0, "2024-03-02" -> 7.0))
    IncrementalOps.foldBatch(spark, dir, batch(2, 7.0), "b2")
    assert(sums == Map("2024-03-01" -> 1.0, "2024-03-02" -> 7.0),
      "exactly-once must keep holding on the post-sweep line")
  }

  test("history on a vacuumed table audits the retained window instead " +
       "of throwing") {
    import spark.implicits._
    val dir = freshDir("graft_hist_vacuum")
    MergeOps.mergeUpsert(spark, dir, corpus(10), "k", "p")                // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -1.0, "O")).toDF("k", "v", "p"), "k", "p")                 // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, -2.0, "E")).toDF("k", "v", "p"), "k", "p")                 // v3
    Versioned.vacuum(spark, dir, keepVersions = 2)                 // floor=2
    val hist = MergeOps.history(spark, dir, "p")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(hist.keySet == Set(2L, 3L),
      s"history must cover exactly the retained versions, got $hist")
    assert(hist(2L) == 10L && hist(3L) == 10L)
  }
}

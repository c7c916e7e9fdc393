package graft

import org.apache.spark.sql.functions._
import graft.engine.{ConcurrentCommitException, Versioned}
import graft.ops.MergeOps

/** Round-12 wave 1: the round-11 advice/verdict hardenings —
  * tag-exempt change feeds, the loud tombstone-schema contract, the
  * empty-manifest feed guard, and the vacuum-vs-reader race surfacing
  * as the protocol's own retryable signal instead of a raw
  * missing-path exception. */
class Wave25Spec extends SparkTestBase {

  test("changeFeed accepts a fromV below the retention floor when a tag " +
       "pins it — the pinned-mirror replication case; an unpinned fromV " +
       "below the floor still fails fast") {
    import spark.implicits._
    val dir = freshDir("graft_feed_tag")
    MergeOps.mergeUpsert(spark, dir, corpus(8), "k", "p")            // v1
    Versioned.tagVersion(spark, dir, "hw", 1L)
    MergeOps.mergeUpsert(spark, dir,
      Seq((3L, 999.0, "O")).toDF("k", "v", "p"), "k", "p")           // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((9L, 90.0, "O")).toDF("k", "v", "p"), "k", "p")            // v3
    Versioned.vacuum(spark, dir, keepVersions = 1)                   // floor 3
    // pinned: the feed from v1 still computes, and is the right diff
    val feed = MergeOps.changeFeed(spark, dir, 1L, 3L, "k")
      .select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((3L, "update"), (9L, "insert")))
    // unpinned below-floor fromV: loud floor error, not a missing file
    val e = intercept[IllegalArgumentException] {
      MergeOps.changeFeed(spark, dir, 2L, 3L, "k").collect()
    }
    assert(e.getMessage.contains("retention floor"))
  }

  test("a tombstone dir that violates the two-column writer contract " +
       "fails the live read loudly instead of anti-joining an arbitrary " +
       "column") {
    import spark.implicits._
    val dir = freshDir("graft_dv_schema")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(Tuple1(2L)).toDF("k"), "k", "p")                           // v2
    // corrupt the contract: rewrite the committed tombstone dir with an
    // extra column (as a future writer drifting the schema would)
    val refs = Versioned.morRefs(spark, dir, 2L, Versioned.Dv)
    val rel = refs.values.flatten.head.rel
    spark.createDataFrame(Seq((2L, "x", "E"))).toDF("k", "extra", "p")
      .write.mode("overwrite").partitionBy("p").parquet(s"$dir/$rel")
    val e = intercept[IllegalArgumentException] {
      Versioned.readCurrent(spark, dir, Some("p")).collect()
    }
    assert(e.getMessage.contains("exactly"))
  }

  test("changeFeed against a hand-crafted empty manifest fails with the " +
       "schema-recovery guard, not a MaxBy crash") {
    import spark.implicits._
    val dir = freshDir("graft_feed_empty")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    Versioned.publish(spark, dir, 2L, Nil)         // an emptied table
    val e = intercept[IllegalArgumentException] {
      MergeOps.changeFeed(spark, dir, 1L, 2L, "k").collect()
    }
    assert(e.getMessage.contains("empty manifest"))
  }

  test("a reader holding a resolved manifest whose data a vacuum then " +
       "sweeps fails with the protocol's retryable race signal, never a " +
       "raw missing-path exception") {
    import spark.implicits._
    val dir = freshDir("graft_vac_race")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, -1.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, -2.0, "E")).toDF("k", "v", "p"), "k", "p")            // v3
    // the reader resolved v1's manifest...
    val entries = Versioned.manifest(spark, dir, 1L)
    // ...then a vacuum sweeps v1 below the floor (v1's own staged dirs
    // go; v2/v3 reference only their restaged partitions)
    Versioned.vacuum(spark, dir, keepVersions = 1)
    // ...and the reader's continuation surfaces the race signal
    intercept[ConcurrentCommitException] {
      Versioned.readEntries(spark, dir, entries, Some("p")).collect()
    }
  }

  test("threaded vacuum-vs-reader: every reader outcome is a sanctioned " +
       "loud state — success, the floor error, never-committed, or the " +
       "race signal; no raw missing-path error escapes") {
    import spark.implicits._
    val dir = freshDir("graft_vac_thread")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    (2 to 6).foreach { i =>
      MergeOps.mergeUpsert(spark, dir,
        Seq((i.toLong, i * -1.0, if (i % 2 == 0) "E" else "O"))
          .toDF("k", "v", "p"), "k", "p")
    }                                                                // v2..v6
    val bad = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    def sanctioned(t: Throwable): Boolean = t match {
      case _: ConcurrentCommitException => true
      case e: IllegalArgumentException =>
        e.getMessage != null && (e.getMessage.contains("retention floor")
          || e.getMessage.contains("never committed"))
      case _ =>
        // a scan task opening a file the sweep deleted AFTER frame
        // creation is the documented reader-vs-vacuum window (every
        // table format's contract; see Versioned.readEntries) — but
        // ONLY once a vacuum has actually recorded a floor past the
        // read version; an FNF without that is a real defect
        causes(t).exists(_.isInstanceOf[java.io.FileNotFoundException]) &&
          Versioned.retentionFloor(spark, dir).exists(_ > 1L)
    }
    val reader = new Thread(() => {
      while (!stop.get()) {
        try { Versioned.readVersion(spark, dir, 1L, Some("p")).count()
              reads.incrementAndGet() }
        catch {
          case t: Throwable =>
            if (!sanctioned(t)) bad.compareAndSet(null, t)
        }
      }
    })
    reader.start()
    try {
      Thread.sleep(50)
      Versioned.vacuum(spark, dir, keepVersions = 1)   // sweeps v1
      Thread.sleep(200)
    } finally { stop.set(true); reader.join(30000) }
    assert(bad.get() == null,
      s"reader escaped with an unsanctioned error: ${bad.get()}")
    // and the steady state after the sweep is the deterministic floor error
    val e = intercept[IllegalArgumentException] {
      Versioned.readVersion(spark, dir, 1L, Some("p")).count()
    }
    assert(e.getMessage.contains("retention floor") ||
           e.getMessage.contains("never committed"))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-13 wave 5: partition evolution (`repartitionTable`) —
  * composition pins beyond the declared query's in-line requires:
  * persisted constraints keep enforcing on the new layout, fresh
  * skipping stats work on the new layout, and a racing old-layout
  * writer fails LOUDLY instead of rebasing a stale-layout manifest. */
class Wave35Spec extends SparkTestBase {

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.delete(); d.getAbsolutePath
  }

  /** two layout candidates per row: p (k%3) and q (k%2 as a string) */
  private def corpus(n: Int) = {
    import spark.implicits._
    (1 to n).map(i =>
      (i.toLong, i * 10.0, (i % 3).toString, if (i % 2 == 0) "E" else "O"))
      .toDF("k", "v", "p", "q")
  }

  test("persisted constraints survive the layout move: a violating " +
       "upsert against the NEW layout is rejected at the staged " +
       "read-back, and a clean one lands") {
    import spark.implicits._
    val dir = freshDir("graft_repart_cons")
    MergeOps.mergeUpsert(spark, dir, corpus(60), "k", "p")           // v1
    MergeOps.addConstraint(spark, dir, "pos", "v > 0", "p")          // v2
    MergeOps.repartitionTable(spark, dir, "p", "q")                  // v3
    intercept[IllegalArgumentException] {
      MergeOps.mergeUpsert(spark, dir,
        Seq((99L, -1.0, "0", "O")).toDF("k", "v", "p", "q"), "k", "q")
    }
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    MergeOps.mergeUpsert(spark, dir,
      Seq((99L, 990.0, "0", "O")).toDF("k", "v", "p", "q"), "k", "q")
    val got = MergeOps.readCorpus(spark, dir, "q")
      .where(col("k") === 99L).collect()
    assert(got.length == 1 && got(0).getDouble(1) == 990.0)
  }

  test("fresh skipping stats on the new layout: repartitionTable drops " +
       "every old-layout line and records requested bounds + blooms " +
       "keyed by the new partition names; the pruned reads are exact") {
    val dir = freshDir("graft_repart_stats")
    MergeOps.mergeUpsert(spark, dir, corpus(120), "k", "p",
                         statsKeys = Seq("k"), bloomKeys = Seq("k"))  // v1
    val oldParts = Versioned.readStatsBloom(spark, dir, 1L).keySet
    assert(oldParts.forall(_.startsWith("p=")))
    MergeOps.repartitionTable(spark, dir, "p", "q",
      statsKeys = Seq("k"), bloomKeys = Seq("k"))                    // v2
    val b2 = Versioned.readStatsBloom(spark, dir, 2L)
    assert(b2.keySet == Set("q=E", "q=O"),
      s"bloom lines must re-key to the new layout, got ${b2.keySet}")
    assert(Versioned.readStatsMulti(spark, dir, 2L).keySet ==
      Set("q=E", "q=O"))
    val pruned = MergeOps.readCorpusSkipPruned(spark, dir, "q",
      values = Seq(("k", Seq("42")))).collect()
    assert(pruned.map(_.getLong(0)).toSeq == Seq(42L))
    val ranged = MergeOps.readCorpusSkipPruned(spark, dir, "q",
      ranges = Seq(("k", 10L, 12L))).collect().map(_.getLong(0)).sorted
    assert(ranged.toSeq == Seq(10L, 11L, 12L))
  }

  test("a racing old-layout upsert fails LOUDLY across a repartition " +
       "(undeclared touch blocks the silent rebase), and the store " +
       "stays consistent on the new layout") {
    import spark.implicits._
    val dir = freshDir("graft_repart_race")
    MergeOps.mergeUpsert(spark, dir, corpus(30), "k", "p")           // v1
    val reached = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    MergeOps.Hooks.onBeforePublish = () => {
      if (once.compareAndSet(false, true)) {
        reached.countDown()
        resume.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val w = new Thread(() => {
      try MergeOps.mergeUpsert(spark, dir,
        Seq((31L, 310.0, "1", "O")).toDF("k", "v", "p", "q"), "k", "p")
      catch { case t: Throwable => err.set(t) }
    })
    try {
      w.start()
      assert(reached.await(60, java.util.concurrent.TimeUnit.SECONDS))
      MergeOps.repartitionTable(spark, dir, "p", "q")                // v2
      resume.countDown()
      w.join(120000)
    } finally MergeOps.Hooks.onBeforePublish = () => ()
    assert(err.get().isInstanceOf[graft.engine.ConcurrentCommitException],
      s"the old-layout writer must get the loud re-derive signal, " +
        s"got ${err.get()}")
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    // every manifest entry is new-layout — nothing half-rebased in
    assert(Versioned.manifest(spark, dir, 2L).forall(_._1.startsWith("q=")))
    assert(MergeOps.readCorpus(spark, dir, "q").count() == 30L)
  }
}

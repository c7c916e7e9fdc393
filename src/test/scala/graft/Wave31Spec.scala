package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-13 wave 1: the vacuum-vs-rebase window (the round-12 verdict's
  * latent defect). Since round 12 a claim LOSER's staged dirs are no
  * longer inert garbage — publishOrRebase re-publishes them at a higher
  * version — but vacuum publishes no version, so the rebase's
  * disjointness check can never observe a concurrent sweep, and the old
  * `n > cur` keep rule reclaimed exactly the loser's shape (version ≤
  * current, unreferenced). The fix is the pinStage intent: written
  * BEFORE the first staged byte, read by vacuum AFTER its data-root
  * listings (so any dir the sweep can see has a visible pin), cleared
  * once the claim is decided either way. */
class Wave31Spec extends SparkTestBase {

  private def readAll(dir: String): Map[Long, (Double, String)] =
    MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  private def dataDirs(dir: String): Seq[String] = {
    val f = new java.io.File(dir, "data")
    if (!f.exists()) Nil else f.listFiles().toSeq.map(_.getName)
  }

  private def intentFiles(dir: String): Seq[String] = {
    val f = new java.io.File(dir, "intents")
    if (!f.exists()) Nil else f.listFiles().toSeq.map(_.getName)
  }

  /** Park a writer after staging, before its first publish attempt —
    * one-shot, so the competing writer the test commits in the window
    * passes straight through. */
  private def gate(): (java.util.concurrent.CountDownLatch,
                       java.util.concurrent.CountDownLatch) = {
    val reached = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    MergeOps.Hooks.onBeforePublish = () => {
      if (once.compareAndSet(false, true)) {
        reached.countDown()
        resume.await(60, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    (reached, resume)
  }

  test("a vacuum racing a gated rebase loser must NOT sweep its pinned " +
       "stage: the rebase publishes onto intact files and the rebased " +
       "version reads back whole") {
    val dir = freshDir("graft_vac_rebase")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    val (reached, resume) = gate()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val loser = new Thread(() => {
      try {
        import spark.implicits._
        MergeOps.mergeUpsert(spark, dir,
          Seq((7L, 70.0, "O"), (9L, 90.0, "O")).toDF("k", "v", "p"),
          "k", "p")
      } catch { case t: Throwable => err.set(t) }
    })
    try {
      loser.start()
      assert(reached.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // the loser is parked: staged at version 2, pin on disk
      assert(intentFiles(dir).nonEmpty,
        "the parked writer must have a live stage pin")
      // a DISJOINT writer steals version 2 ...
      import spark.implicits._
      MergeOps.mergeUpsert(spark, dir,
        Seq((8L, 80.0, "E")).toDF("k", "v", "p"), "k", "p")          // v2
      // ... which makes the loser's stage exactly vacuum's reclaim
      // shape: version 2 ≤ current 2, referenced by no retained
      // manifest. The in-window vacuum must keep it (the pin).
      val before = dataDirs(dir).filter(_.startsWith("2_")).toSet
      assert(before.size == 2, s"two stages at v2 expected, got $before")
      Versioned.vacuum(spark, dir)
      assert(dataDirs(dir).filter(_.startsWith("2_")).toSet == before,
        "vacuum swept a pinned live stage in the rebase window")
    } finally {
      resume.countDown()
      MergeOps.Hooks.onBeforePublish = () => ()
    }
    loser.join(120000)
    assert(err.get() == null, s"gated writer failed: ${err.get()}")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    // the rebased manifest points at the lost-version stage — and the
    // files must still be there: a full read-back of v3
    val m3 = Versioned.manifest(spark, dir, 3L).toMap
    val oRel = m3(Versioned.partDirName("p", "O"))
    assert(Versioned.stageDirVersion(oRel.split("/")(1)).contains(2L))
    assert(readAll(dir) === Map(
      1L -> (10.0, "O"), 2L -> (20.0, "E"), 3L -> (30.0, "O"),
      4L -> (40.0, "E"), 5L -> (50.0, "O"), 6L -> (60.0, "E"),
      7L -> (70.0, "O"), 8L -> (80.0, "E"), 9L -> (90.0, "O")))
    // claim decided → pin cleared; the committed dirs are manifest-
    // referenced, so a later vacuum keeps them on the ordinary rule
    assert(intentFiles(dir).isEmpty, "pin must clear after publish")
    Versioned.vacuum(spark, dir)
    assert(readAll(dir).size == 9)
  }

  test("pin lifecycle: a clean upsert leaves no intent behind, and a " +
       "writer that dies AFTER staging, BEFORE publish unpins in its " +
       "finally, so its ghost stays reclaimable") {
    import spark.implicits._
    val dir = freshDir("graft_pin_life")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    assert(intentFiles(dir).isEmpty,
      "clean upserts must leave no intent behind")
    // inject a death between staging and the first publish attempt
    MergeOps.Hooks.onBeforePublish =
      () => throw new RuntimeException("injected crash")
    try intercept[RuntimeException] {
      MergeOps.mergeUpsert(spark, dir,
        Seq((6L, 60.0, "E")).toDF("k", "v", "p"), "k", "p")
    } finally MergeOps.Hooks.onBeforePublish = () => ()
    assert(intentFiles(dir).isEmpty,
      "a failed attempt must clear its pin in the finally")
    // its staged ghost sits at version 3 > current 2 (writer-retry
    // protection keeps it); once another writer takes version 3 the
    // unpinned ghost is ordinary ≤-current garbage and vacuum reclaims
    assert(dataDirs(dir).exists(_.startsWith("3_")))
    MergeOps.mergeUpsert(spark, dir,
      Seq((7L, 70.0, "O")).toDF("k", "v", "p"), "k", "p")            // v3
    Versioned.vacuum(spark, dir)
    val v3rel = Versioned.manifest(spark, dir, 3L).toMap.values
      .map(_.split("/")(1)).toSet
    assert(dataDirs(dir).filter(_.startsWith("3_")).toSet == v3rel
      .filter(_.startsWith("3_")),
      "the unpinned crashed ghost must be reclaimed once ≤ current")
    assert(readAll(dir).size == 6)
  }

  test("the unpin-before-pin-read interleaving ABORTS the sweep: a " +
       "rebase that publishes and unpins inside vacuum's " +
       "listing→pin-read window moves the commit log, and the post-" +
       "pin-read re-check keeps the sweep off dirs the new current " +
       "references") {
    import spark.implicits._
    val dir = freshDir("graft_vac_recheck")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    val (reached, resume) = gate()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val loser = new Thread(() => {
      try MergeOps.mergeUpsert(spark, dir,
        Seq((7L, 70.0, "O")).toDF("k", "v", "p"), "k", "p")
      catch { case t: Throwable => err.set(t) }
    })
    loser.start()
    assert(reached.await(60, java.util.concurrent.TimeUnit.SECONDS))
    MergeOps.mergeUpsert(spark, dir,
      Seq((8L, 80.0, "E")).toDF("k", "v", "p"), "k", "p")            // v2
    // vacuum starts NOW (commit log at v2, loser parked at its lost
    // claim); inside its listing→pin-read window the loser completes:
    // rebase publishes v3 referencing the 2_* stage, then unpins — so
    // the pin is INVISIBLE to the pin read and only the re-check saves
    // the dirs
    Versioned.VacuumHooks.afterDataListing = () => {
      resume.countDown()
      loser.join(120000)
    }
    val report =
      try Versioned.vacuum(spark, dir)
      finally Versioned.VacuumHooks.afterDataListing = () => ()
    assert(err.get() == null, s"rebase failed: ${err.get()}")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    assert(report.dataDirsDeleted == 0,
      "the moved commit log must abort the destructive pass")
    assert(readAll(dir).size == 8,
      "the rebased version must read back whole after the aborted sweep")
    // a FRESH vacuum (snapshot taken after the publish) reclaims the
    // genuinely dead dirs and keeps the referenced ones
    Versioned.vacuum(spark, dir)
    assert(readAll(dir).size == 8)
  }

  test("crash-leaked pins age out: an intent older than pinGraceMs is " +
       "swept and its dirs fall back to the unreferenced keep rules") {
    import spark.implicits._
    val dir = freshDir("graft_pin_age")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    // hand-craft a crashed writer: a stage dir at a claimed-and-lost
    // version plus its pin, both long in the past
    val tok = Versioned.newToken()
    val rel = Versioned.newStageRel(2L, tok)
    val stage = new java.io.File(dir, rel)
    stage.mkdirs()
    java.nio.file.Files.write(stage.toPath.resolve("part-ghost.parquet"),
      Array[Byte](1, 2, 3))
    Versioned.pinStage(spark, dir, tok, Seq(rel))
    val intent = new java.io.File(dir, s"intents/$tok.txt")
    assert(intent.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    // a FRESH pin holds its dir; the stale one is swept with its dir
    Versioned.vacuum(spark, dir, keepVersions = 1,
      pinGraceMs = 24L * 3600 * 1000)
    assert(!intent.exists(), "a stale intent must be swept")
    assert(!stage.exists(),
      "the stale pin's dir must fall to the unreferenced rule")
    assert(readAll(dir).size == 5)
  }

  test("vacuum enforces the pin-grace floor, and a heartbeated pin " +
       "never ages out: a LIVE long-running writer keeps its dirs " +
       "however far its initial pin mtime lies in the past") {
    import spark.implicits._
    val dir = freshDir("graft_pin_beat")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    // a too-small grace is refused outright: the age-out must sit well
    // above any plausible stage duration
    val e = intercept[IllegalArgumentException] {
      Versioned.vacuum(spark, dir, keepVersions = 1, pinGraceMs = 1000L)
    }
    assert(e.getMessage.contains("floor"))
    // a live writer whose stage outlives the grace: pin backdated 48h,
    // but the heartbeat refreshes the mtime before the sweep reads it
    val tok = Versioned.newToken()
    val rel = Versioned.newStageRel(2L, tok)
    val stage = new java.io.File(dir, rel)
    stage.mkdirs()
    java.nio.file.Files.write(stage.toPath.resolve("part-live.parquet"),
      Array[Byte](1, 2, 3))
    Versioned.pinStage(spark, dir, tok, Seq(rel))
    val intent = new java.io.File(dir, s"intents/$tok.txt")
    assert(intent.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    val beat = Versioned.pinHeartbeat(spark, dir, tok, periodMs = 50L)
    try {
      // wait until a tick lands (mtime moves into the live window)
      val deadline = System.currentTimeMillis() + 10000
      while (intent.lastModified() <
               System.currentTimeMillis() - 60000 &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Versioned.vacuum(spark, dir, keepVersions = 1,
        pinGraceMs = 24L * 3600 * 1000)
      assert(intent.exists(),
        "a heartbeated pin must survive the age-out")
      assert(stage.exists(),
        "the live writer's staged dir must survive the sweep")
    } finally {
      beat.close()
      Versioned.unpinStage(spark, dir, tok)
    }
  }
}

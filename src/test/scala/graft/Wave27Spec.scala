package graft

import org.apache.spark.sql.functions._
import graft.engine.{ConcurrentCommitException, Versioned}
import graft.ops.MergeOps

/** Gate a writer mid-derivation: the FIRST evaluation of the gated
  * column signals `reached` and blocks on `resume`, so the test can
  * commit competing versions while the writer's snapshot is pinned —
  * a deterministic interleaving, not a timing race. Static fields:
  * the udf closure must reach the same latches after (de)serialization
  * inside one local JVM. */
object Wave27Gate {
  @volatile var reached: java.util.concurrent.CountDownLatch = _
  @volatile var resume: java.util.concurrent.CountDownLatch = _
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  def arm(): Unit = {
    reached = new java.util.concurrent.CountDownLatch(1)
    resume = new java.util.concurrent.CountDownLatch(1)
    fired.set(false)
  }
  def pass(p: String): String = {
    if (fired.compareAndSet(false, true)) {
      reached.countDown()
      resume.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    p
  }
}

/** Round-12 wave 3: partition-disjoint concurrent-writer commits — a
  * losing upsert whose intervening commits all DECLARE disjoint
  * touched sets REBASES its already-staged dirs onto a fresh version
  * (metadata-only small-file writes, no re-derivation); any overlap or
  * undeclared commit still serializes through the loud re-derive
  * signal. */
class Wave27Spec extends SparkTestBase {

  private val gated = udf(Wave27Gate.pass _)

  /** A batch whose partition column routes through the gate — the
    * writer's first evaluation parks it with its snapshot pinned. */
  private def gatedBatch(rows: Seq[(Long, Double, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v", "p0")
      .select(col("k"), col("v"), gated(col("p0")).as("p"))
  }

  private def readAll(dir: String): Map[Long, (Double, String)] =
    MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

  test("a gated upsert that loses to a DISJOINT commit rebases: both " +
       "land, one derivation each, and the rebased version references " +
       "the dirs staged at the lost version number") {
    val dir = freshDir("graft_rebase")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    Wave27Gate.arm()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val w1 = new Thread(() => {
      try MergeOps.mergeUpsert(spark, dir,
        gatedBatch(Seq((7L, 70.0, "O"), (9L, 90.0, "O"))), "k", "p")
      catch { case t: Throwable => err.set(t) }
    })
    w1.start()
    assert(Wave27Gate.reached.await(
      60, java.util.concurrent.TimeUnit.SECONDS))
    // W1 is parked with snapshot v1; a disjoint writer commits v2
    import spark.implicits._
    MergeOps.mergeUpsert(spark, dir,
      Seq((8L, 80.0, "E")).toDF("k", "v", "p"), "k", "p")            // v2
    Wave27Gate.resume.countDown()
    w1.join(120000)
    assert(err.get() == null, s"gated writer failed: ${err.get()}")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    // forensics: v3's O-partition entry points at a dir STAGED at the
    // lost version number 2 — the rebase re-published, never re-staged
    val m3 = Versioned.manifest(spark, dir, 3L).toMap
    val oRel = m3(Versioned.partDirName("p", "O"))
    assert(Versioned.stageDirVersion(oRel.split("/")(1)).contains(2L),
      s"expected a dir staged at the lost version, got $oRel")
    assert(readAll(dir) === Map(
      1L -> (10.0, "O"), 2L -> (20.0, "E"), 3L -> (30.0, "O"),
      4L -> (40.0, "E"), 5L -> (50.0, "O"), 6L -> (60.0, "E"),
      7L -> (70.0, "O"), 8L -> (80.0, "E"), 9L -> (90.0, "O")))
  }

  test("an OVERLAPPING intervening commit still serializes: the loser " +
       "gets the loud re-derive signal, and the re-derivation lands on " +
       "top of the winner") {
    val dir = freshDir("graft_rebase_ovl")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    Wave27Gate.arm()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val batch = Seq((7L, 70.0, "O"))
    val w1 = new Thread(() => {
      try MergeOps.mergeUpsert(spark, dir, gatedBatch(batch), "k", "p")
      catch { case t: Throwable => err.set(t) }
    })
    w1.start()
    assert(Wave27Gate.reached.await(
      60, java.util.concurrent.TimeUnit.SECONDS))
    import spark.implicits._
    MergeOps.mergeUpsert(spark, dir,
      Seq((5L, -5.0, "O")).toDF("k", "v", "p"), "k", "p")   // v2, SAME part
    Wave27Gate.resume.countDown()
    w1.join(120000)
    assert(err.get().isInstanceOf[ConcurrentCommitException],
      s"expected the re-derive signal, got ${err.get()}")
    assert(Versioned.currentVersion(spark, dir).contains(2L))
    // the withCommitRetry re-derivation then lands on the winner's state
    Versioned.withCommitRetry() {
      MergeOps.mergeUpsert(spark, dir,
        batch.toDF("k", "v", "p"), "k", "p")
    }
    assert(readAll(dir)(5L) === (-5.0, "O"))
    assert(readAll(dir)(7L) === (70.0, "O"))
  }

  test("a rebase crosses MULTIPLE intervening declared commits — an " +
       "upsert, a MOR delete, and an empty-touch ledger tick — carrying " +
       "their dv refs and ledger ids into the rebased version") {
    val dir = freshDir("graft_rebase_multi")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    Wave27Gate.arm()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val w1 = new Thread(() => {
      try MergeOps.mergeUpsert(spark, dir,
        gatedBatch(Seq((7L, 70.0, "O"))), "k", "p",
        ledgerId = Some("w1-batch"))
      catch { case t: Throwable => err.set(t) }
    })
    w1.start()
    assert(Wave27Gate.reached.await(
      60, java.util.concurrent.TimeUnit.SECONDS))
    import spark.implicits._
    MergeOps.mergeUpsert(spark, dir,
      Seq((8L, 80.0, "E")).toDF("k", "v", "p"), "k", "p")            // v2
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(Tuple1(2L)).toDF("k"), "k", "p")                           // v3
    MergeOps.mergeApplyChangelog(spark, dir,                // ledger tick
      Seq.empty[(Long, Double, String, String)].toDF("k", "v", "p", "op"),
      "k", "p", ledgerId = Some("tick-1"))                           // v4
    Wave27Gate.resume.countDown()
    w1.join(120000)
    assert(err.get() == null, s"gated writer failed: ${err.get()}")
    assert(Versioned.currentVersion(spark, dir).contains(5L))
    // content: W1's row landed, the E-partition upsert landed, and the
    // MOR tombstone still hides key 2 (its dv line carried the rebase)
    val got = readAll(dir)
    assert(got(7L) === (70.0, "O") && got(8L) === (80.0, "E") &&
           !got.contains(2L))
    // both exactly-once ids are in the rebased version's ledger
    val ids = Versioned.appliedLedgerIds(spark, dir, 5L)
    assert(ids.contains("w1-batch") && ids.contains("tick-1"))
  }

  test("an UNDECLARED intervening commit (rollback) blocks the rebase: " +
       "the loser re-derives, never publishes over an unknown change") {
    val dir = freshDir("graft_rebase_undecl")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    import spark.implicits._
    MergeOps.mergeUpsert(spark, dir,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    Wave27Gate.arm()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val w1 = new Thread(() => {
      try MergeOps.mergeUpsert(spark, dir,
        gatedBatch(Seq((7L, 70.0, "E"))), "k", "p")
      catch { case t: Throwable => err.set(t) }
    })
    w1.start()
    assert(Wave27Gate.reached.await(
      60, java.util.concurrent.TimeUnit.SECONDS))
    Versioned.rollback(spark, dir, 1L)   // v3 — no touch declaration
    Wave27Gate.resume.countDown()
    w1.join(120000)
    assert(err.get().isInstanceOf[ConcurrentCommitException],
      s"expected the re-derive signal across a rollback, got ${err.get()}")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
  }

  test("live two-thread race on disjoint partitions: both writers " +
       "commit under withCommitRetry and the final content is exact") {
    val dir = freshDir("graft_race_live")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    import spark.implicits._
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def writer(rows: Seq[(Long, Double, String)]) = new Thread(() => {
      try Versioned.withCommitRetry() {
        MergeOps.mergeUpsert(spark, dir, rows.toDF("k", "v", "p"), "k", "p")
      } catch { case t: Throwable => errs.compareAndSet(null, t) }
    })
    val a = writer(Seq((11L, 1.0, "O"), (13L, 3.0, "O")))
    val b = writer(Seq((12L, 2.0, "E"), (14L, 4.0, "E")))
    a.start(); b.start(); a.join(120000); b.join(120000)
    assert(errs.get() == null, s"racer failed: ${errs.get()}")
    assert(Versioned.currentVersion(spark, dir).contains(3L))
    val got = readAll(dir)
    assert(got(11L) === (1.0, "O") && got(12L) === (2.0, "E") &&
           got(13L) === (3.0, "O") && got(14L) === (4.0, "E"))
    assert(got.size === 10)
  }
}

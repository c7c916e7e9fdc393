package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Model-based randomized check of the whole commit protocol: a seeded
  * random sequence of table operations (merge / compact / retention /
  * rollback / vacuum) runs against BOTH the real versioned store and a
  * trivial in-memory model, and the committed read must equal the model
  * after EVERY step — plus time travel must reproduce every retained
  * model snapshot at the end. This is the lakehouse-protocol test
  * style: the model is obviously correct, so any divergence is a
  * protocol bug, and the random interleaving of maintenance ops reaches
  * compositions (retention→rollback→vacuum→merge...) no hand-written
  * scenario enumerates. Seeds are FIXED — the runs are deterministic,
  * failures reproduce. */
class ProtocolModelSpec extends SparkTestBase {

  private val Parts = Vector("A", "B", "C")

  /** The model: key → (value, partition), plus the snapshot history the
    * store's commit log should replay. */
  private case class Model(
      rows: Map[Long, (Double, String)],
      snapshots: Vector[Map[Long, (Double, String)]],  // index = version-1
      floor: Long) {
    def current: Map[Long, (Double, String)] = rows
  }

  private def mergeModel(m: Map[Long, (Double, String)],
                         batch: Seq[(Long, Double, String)])
      : Map[Long, (Double, String)] = {
    // mergeUpsert semantics: batch partitions restage fully; rows of a
    // touched partition whose key the batch replaces take the batch
    // value; other keys survive; brand-new keys append. Key moves
    // ACROSS partitions follow the batch (the old row's partition is
    // touched or not — if not touched, the old row survives too; the
    // engine treats the key column as authoritative within touched
    // partitions only). To keep the model trivially right, the
    // generator never moves a key between partitions.
    m ++ batch.map { case (k, v, p) => k -> (v, p) }
  }

  private def run(seed: Long, steps: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val dir = {
      val d = java.nio.file.Files
        .createTempDirectory(s"graft_model_$seed").toFile
      d.delete(); d.getAbsolutePath
    }
    // a key's partition is fixed by the key: k mod 3 → A/B/C (ensures
    // the "never moves partitions" model precondition)
    def partOf(k: Long): String = Parts((k % 3).toInt)
    def batch(n: Int): Seq[(Long, Double, String)] =
      (1 to n).map { _ =>
        val k = rnd.nextInt(30).toLong
        (k, math.floor(rnd.nextDouble() * 1e4) / 1e2, partOf(k))
      }.distinctBy(_._1)

    // every merge writes MULTI-COLUMN zone maps (round 11), so the fuzz
    // drives the 4-field stats format through every maintenance
    // composition — carry (merge/compact/retention), byte-copy
    // (rollback), absence (repair no-op commits write no sidecar) —
    // and a random pruned read checks intersection pruning against the
    // model's plain filter after every step
    val init = batch(10)
    MergeOps.mergeUpsert(spark, dir, init.toDF("k", "v", "p"), "k", "p",
      statsKeys = Seq("k"))
    var model = Model(mergeModel(Map.empty, init),
      Vector(mergeModel(Map.empty, init)), floor = 1L)

    def readBack(): Map[Long, (Double, String)] =
      MergeOps.readCorpus(spark, dir, "p").select("k", "v", "p")
        .collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

    // a REPLICA synced at random points (round 11): the change feed
    // must compose with whatever op sequence produced the source
    def freshMirror(): String = {
      val d = java.nio.file.Files
        .createTempDirectory(s"graft_model_mirror_$seed").toFile
      d.delete(); d.getAbsolutePath
    }
    var mirrorDir = freshMirror()
    var mirrorLast = 0L
    // TAGS (round 11): pin random versions as the run proceeds; every
    // pin must read back as its model snapshot at the END, across
    // whatever vacuums/rollbacks/retention happened after it
    var pins = Map.empty[String, Int]  // tag name -> snapshot index

    for (step <- 1 to steps) {
      val opDraw = rnd.nextInt(22)
      if (sys.env.contains("GRAFT_FUZZ_TRACE"))
        println(s"TRACE seed=$seed step=$step op=$opDraw")
      opDraw match {
        case 21 =>                 // METADATA-TIER SPEC EVOLUTION (round 14)
          // upsert under an ALTERNATE partition column (q = key
          // parity): evolving is just writing with a new partCol —
          // foreign-layout entries carry unless the key-sidecar probe
          // says they might hold a batch key, in which case they
          // MIGRATE through the merge. The mixed-layout union read and
          // a mixed pruned read must equal the model mid-state; a
          // full-rewrite back to the p layout then restores the
          // pure-layout precondition the retention op assumes.
          val b = batch(1 + rnd.nextInt(4))
          val evo = b.map { case (k, v, p) =>
            (k, v, p, if (k % 2 == 0) "even" else "odd") }
          MergeOps.mergeUpsert(spark, dir, evo.toDF("k", "v", "p", "q"),
            "k", "q", statsKeys = Seq("k"))
          val next = mergeModel(model.rows, b)
          model = model.copy(rows = next,
            snapshots = model.snapshots :+ next)
          assert(readBack() == next,
            s"seed=$seed step=$step: mixed-layout read diverged")
          val lo21 = rnd.nextInt(30).toLong
          val hi21 = lo21 + rnd.nextInt(15).toLong
          val mixedPruned = MergeOps.readCorpusSkipPruned(spark, dir, "p",
              ranges = Seq(("k", lo21, hi21)))
            .select("k", "v", "p").collect()
            .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2)))
            .toMap
          assert(mixedPruned ==
              next.filter { case (k, _) => k >= lo21 && k <= hi21 },
            s"seed=$seed step=$step: mixed pruned read diverged")
          // MID-STATE DML on the mixed manifest (round-14 fuzz-catch
          // coverage, seed 131's shape without waiting for a rollback):
          // a random restaging write whose hit rows may live under the
          // OLD layout must fold the foreign holders in — this draws
          // the foreignLayoutTouch/collision kernel every time op 21
          // fires, not only on rollback-reached mixed states. The write
          // runs under the CURRENT (q) spec like any post-evolution
          // caller would.
          rnd.nextInt(3) match {
            case 0 =>                          // predicate delete, mixed
              val t = math.floor(rnd.nextDouble() * 1e4) / 1e2
              val hit21 = model.rows.filter { case (_, (v, _)) => v > t }
              val rem = model.rows -- hit21.keys
              if (rem.nonEmpty) {
                MergeOps.mergeDeleteWhere(spark, dir, col("v") > t, "q",
                  sortCol = Some("k"))
                if (hit21.nonEmpty)
                  model = model.copy(rows = rem,
                    snapshots = model.snapshots :+ rem)
              }
            case 1 =>                          // key delete, mixed
              val ks = (1 to (1 + rnd.nextInt(3)))
                .map(_ => rnd.nextInt(30).toLong).distinct
              val hit21 = model.rows.keySet.intersect(ks.toSet)
              val rem = model.rows -- ks
              if (rem.nonEmpty) {
                MergeOps.mergeDelete(spark, dir, ks.toDF("k"), "k", "q")
                if (hit21.nonEmpty)
                  model = model.copy(rows = rem,
                    snapshots = model.snapshots :+ rem)
              }
            case _ =>                          // MOR update, mixed
              val lo = rnd.nextInt(30).toLong
              val hi = lo + rnd.nextInt(10).toLong
              val hit21 = model.rows.exists { case (k, _) =>
                k >= lo && k <= hi }
              MergeOps.mergeUpdateMor(spark, dir,
                col("k") >= lo && col("k") <= hi,
                Seq("v" -> (col("v") * 2)), "k", "q")
              if (hit21) {
                val next2 = model.rows.map {
                  case (k, (v, p)) if k >= lo && k <= hi => k -> (v * 2, p)
                  case other => other
                }
                model = model.copy(rows = next2,
                  snapshots = model.snapshots :+ next2)
              }
          }
          assert(readBack() == model.rows,
            s"seed=$seed step=$step: mixed-state DML diverged")
          MergeOps.repartitionTable(spark, dir, "q", "p",
            statsKeys = Seq("k"))
          model = model.copy(
            snapshots = model.snapshots :+ model.rows)
        case 20 =>                               // VACUUM vs REBASE window
          // the round-12 latent defect's interleaving, deterministic: a
          // writer parks AFTER staging and BEFORE its first publish
          // attempt (Hooks.onBeforePublish); a DISJOINT commit then
          // steals its claim version and a vacuum sweeps in the window.
          // The parked loser's stage is at version ≤ current and
          // unreferenced — exactly vacuum's reclaim shape — and must
          // survive via its pinStage intent so the rebase that follows
          // publishes a manifest whose files still exist. Both batches
          // land; the intermediate snapshot is base+main-batch.
          val gi = rnd.nextInt(Parts.size)
          val mi = (gi + 1 + rnd.nextInt(Parts.size - 1)) % Parts.size
          def confined20(pi: Int, n: Int): Seq[(Long, Double, String)] =
            (1 to n).map { _ =>
              val k = (rnd.nextInt(10) * 3 + pi).toLong  // k%3 == pi
              (k, math.floor(rnd.nextDouble() * 1e4) / 1e2, partOf(k))
            }.distinctBy(_._1)
          val gb = confined20(gi, 1 + rnd.nextInt(3))
          val mb = confined20(mi, 1 + rnd.nextInt(3))
          if (gb.isEmpty || mb.isEmpty) {
            val b = if (gb.nonEmpty) gb else mb
            if (b.nonEmpty) {
              MergeOps.mergeUpsert(spark, dir, b.toDF("k", "v", "p"),
                "k", "p", statsKeys = Seq("k"))
              val next = mergeModel(model.rows, b)
              model = model.copy(rows = next,
                snapshots = model.snapshots :+ next)
            }
          } else {
            val reached = new java.util.concurrent.CountDownLatch(1)
            val resume = new java.util.concurrent.CountDownLatch(1)
            val once = new java.util.concurrent.atomic.AtomicBoolean(false)
            MergeOps.Hooks.onBeforePublish = () => {
              if (once.compareAndSet(false, true)) {
                reached.countDown()
                resume.await(60, java.util.concurrent.TimeUnit.SECONDS)
              }
            }
            val err =
              new java.util.concurrent.atomic.AtomicReference[Throwable]()
            // withCommitRetry: the documented caller contract — a lost
            // claim that cannot REBASE re-derives the whole operation.
            // On a pure-layout store disjoint writers always rebase, but
            // a rollback can land a MIXED snapshot where both writers
            // migrate the SAME foreign entry (a genuine touch overlap),
            // and the rebase must refuse — the retry is what production
            // callers do with that signal (round-14 deep-fuzz find).
            val t = new Thread(() => {
              try Versioned.withCommitRetry() {
                MergeOps.mergeUpsert(spark, dir,
                  gb.toDF("k", "v", "p"), "k", "p", statsKeys = Seq("k"))
              }
              catch { case x: Throwable => err.set(x) }
            })
            try {
              t.start()
              assert(reached.await(
                60, java.util.concurrent.TimeUnit.SECONDS),
                s"seed=$seed step=$step: gated writer never staged")
              MergeOps.mergeUpsert(spark, dir, mb.toDF("k", "v", "p"),
                "k", "p", statsKeys = Seq("k"))
              Versioned.vacuum(spark, dir)   // the in-window sweep
              resume.countDown()
              t.join(180000)
            } finally MergeOps.Hooks.onBeforePublish = () => ()
            assert(err.get() == null,
              s"seed=$seed step=$step: gated rebase writer failed: " +
                s"${err.get()}\n" +
                Option(err.get()).map(_.getStackTrace.take(14)
                  .mkString("  at ", "\n  at ", "")).getOrElse(""))
            val midV = model.snapshots.size.toLong + 1
            val mid = mergeModel(model.rows, mb)
            val finalRows = mergeModel(mid, gb)
            model = model.copy(rows = finalRows,
              snapshots = model.snapshots :+ mid :+ finalRows,
              floor = math.max(model.floor, midV))
          }
        case 19 =>                                           // MOR UPDATE
          // same model rule as UPDATE WHERE (op 15): content-wise the
          // two must be indistinguishable, while every later op —
          // merge/compact/retention/rollback/vacuum/feeds/pruned
          // reads — composes with the outstanding image sidecars
          val lo = rnd.nextInt(30).toLong
          val hi = lo + rnd.nextInt(10).toLong
          val hit = model.rows.exists { case (k, _) => k >= lo && k <= hi }
          MergeOps.mergeUpdateMor(spark, dir,
            col("k") >= lo && col("k") <= hi,
            Seq("v" -> (col("v") * 2)), "k", "p")
          if (hit) {
            val next = model.rows.map {
              case (k, (v, p)) if k >= lo && k <= hi => k -> (v * 2, p)
              case other => other
            }
            model = model.copy(rows = next,
              snapshots = model.snapshots :+ next)
          }
        case 18 =>                                           // WAP cycle
          // branch off current, land a batch on the branch (main must
          // not move), SOMETIMES advance main with a batch confined to
          // a partition the branch never touched (the publish must then
          // REBASE across the declared-disjoint commit), then either
          // PUBLISH (one new version, model merges the branch batch) or
          // ABANDON (drop — the branch work vanishes). Either way the
          // branch is dropped and a later vacuum may reclaim its stages.
          import graft.ops.BranchOps
          val b = batch(1 + rnd.nextInt(4))
          val publish = rnd.nextBoolean()
          if (b.nonEmpty) {
            val name = s"wap$step"
            BranchOps.createBranch(spark, dir, name)
            BranchOps.branchUpsert(spark, dir, name,
              b.toDF("k", "v", "p"), "k", "p")
            assert(Versioned.currentVersion(spark, dir)
                .contains(model.snapshots.size.toLong),
              s"seed=$seed step=$step: branch work moved main")
            val bParts = b.map(_._3).toSet
            val free = Parts.zipWithIndex.filterNot(p => bParts(p._1))
            if (free.nonEmpty && rnd.nextBoolean()) {
              val pi = free(rnd.nextInt(free.size))._2
              val adv = (1 to (1 + rnd.nextInt(3))).map { _ =>
                val k = (rnd.nextInt(10) * 3 + pi).toLong  // k%3 == pi
                (k, math.floor(rnd.nextDouble() * 1e4) / 1e2, partOf(k))
              }.distinctBy(_._1)
              if (adv.nonEmpty) {
                MergeOps.mergeUpsert(spark, dir, adv.toDF("k", "v", "p"),
                  "k", "p", statsKeys = Seq("k"))
                val next = mergeModel(model.rows, adv)
                model = model.copy(rows = next,
                  snapshots = model.snapshots :+ next)
              }
            }
            if (publish) {
              BranchOps.publishBranch(spark, dir, name)
              val next = mergeModel(model.rows, b)
              model = model.copy(rows = next,
                snapshots = model.snapshots :+ next)
            }
            BranchOps.dropBranch(spark, dir, name)
          }
        case 17 =>                                           // disjoint racers
          // two REAL threads upsert batches confined to DIFFERENT
          // partitions (keys mod 3 route each batch whole to one
          // partition); under the round-12 rebase BOTH must commit —
          // two new versions — and the intermediate version must be
          // the base plus exactly ONE of the batches (whichever won
          // the first claim), the final state both. Draws where either
          // batch is empty degrade to a plain merge of the other.
          val pa = rnd.nextInt(Parts.size)
          val pb = (pa + 1 + rnd.nextInt(Parts.size - 1)) % Parts.size
          def confined(pi: Int, n: Int): Seq[(Long, Double, String)] =
            (1 to n).map { _ =>
              val k = (rnd.nextInt(10) * 3 + pi).toLong  // k%3 == pi
              (k, math.floor(rnd.nextDouble() * 1e4) / 1e2, partOf(k))
            }.distinctBy(_._1)
          val bA = confined(pa, 1 + rnd.nextInt(3))
          val bB = confined(pb, 1 + rnd.nextInt(3))
          if (bA.isEmpty || bB.isEmpty) {
            val b = if (bA.nonEmpty) bA else bB
            if (b.nonEmpty) {
              MergeOps.mergeUpsert(spark, dir, b.toDF("k", "v", "p"),
                "k", "p", statsKeys = Seq("k"))
              val next = mergeModel(model.rows, b)
              model = model.copy(rows = next,
                snapshots = model.snapshots :+ next)
            }
          } else {
            val errs =
              new java.util.concurrent.atomic.AtomicReference[Throwable]()
            val start = new java.util.concurrent.CountDownLatch(1)
            def racer(b: Seq[(Long, Double, String)]) = new Thread(() => {
              try {
                start.await()
                Versioned.withCommitRetry() {
                  MergeOps.mergeUpsert(spark, dir, b.toDF("k", "v", "p"),
                    "k", "p", statsKeys = Seq("k"))
                }
              } catch { case t: Throwable => errs.compareAndSet(null, t) }
            })
            val (ta, tb) = (racer(bA), racer(bB))
            ta.start(); tb.start(); start.countDown()
            ta.join(180000); tb.join(180000)
            assert(errs.get() == null,
              s"seed=$seed step=$step: racer failed: ${errs.get()}")
            val afterA = mergeModel(model.rows, bA)
            val afterB = mergeModel(model.rows, bB)
            val finalRows = mergeModel(afterA, bB)
            // the store decides the intermediate snapshot's identity
            // (which racer claimed first); it must be EXACTLY one of
            // the two predictions
            val midV = model.snapshots.size.toLong + 1
            val mid = Versioned.readVersion(spark, dir, midV, Some("p"))
              .select("k", "v", "p").collect()
              .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2)))
              .toMap
            assert(mid == afterA || mid == afterB,
              s"seed=$seed step=$step: racer intermediate version is " +
                s"neither prediction\n  got: ${mid.toSeq.sortBy(_._1)}")
            model = model.copy(rows = finalRows,
              snapshots = model.snapshots :+ mid :+ finalRows)
          }
        case 16 =>                                           // tag
          // pin the CURRENT version; publishes nothing (version count
          // must not move); the end-state check reads every pin back
          val name = s"pin$step"
          Versioned.tagVersion(spark, dir,
            name, model.snapshots.size.toLong)
          pins += (name -> (model.snapshots.size - 1))
        case 14 =>                                           // DELETE WHERE
          // predicate delete (round 11): value-range predicate, model
          // filters by the same doubles; emptying draws are skipped
          val t = math.floor(rnd.nextDouble() * 1e4) / 1e2
          val hit = model.rows.filter { case (_, (v, _)) => v > t }
          val remaining = model.rows -- hit.keys
          if (remaining.nonEmpty) {
            MergeOps.mergeDeleteWhere(spark, dir, col("v") > t, "p",
              sortCol = Some("k"))
            if (hit.nonEmpty)
              model = model.copy(rows = remaining,
                snapshots = model.snapshots :+ remaining)
          }
        case 15 =>                                           // UPDATE WHERE
          // in-place SET on a key range; key and partition stay fixed,
          // so the model transform is per-row value doubling
          val lo = rnd.nextInt(30).toLong
          val hi = lo + rnd.nextInt(10).toLong
          val hit = model.rows.exists { case (k, _) => k >= lo && k <= hi }
          MergeOps.mergeUpdateWhere(spark, dir,
            col("k") >= lo && col("k") <= hi,
            Seq("v" -> (col("v") * 2)), "k", "p")
          if (hit) {
            val next = model.rows.map {
              case (k, (v, p)) if k >= lo && k <= hi => k -> (v * 2, p)
              case other => other
            }
            model = model.copy(rows = next,
              snapshots = model.snapshots :+ next)
          }
        case 12 =>                                           // MOR delete
          // merge-on-read deletion vectors (round 11): same model rule
          // as the copy-on-write delete — content-wise the two must be
          // indistinguishable, while every later op (merge/compact/
          // retention/rollback/vacuum/pruned read) composes with the
          // outstanding tombstones
          val ks = (1 to (1 + rnd.nextInt(4)))
            .map(_ => rnd.nextInt(30).toLong).distinct
          val hit = model.rows.keySet.intersect(ks.toSet)
          val remaining = model.rows -- ks
          if (remaining.nonEmpty) {
            import spark.implicits._
            MergeOps.mergeDeleteMor(spark, dir, ks.toDF("k"), "k", "p")
            if (hit.nonEmpty)
              model = model.copy(rows = remaining,
                snapshots = model.snapshots :+ remaining)
          }
        case 13 =>                                           // materialize
          // publishes a version ONLY if tombstones are outstanding;
          // content-invisible like compaction
          val before = Versioned.currentVersion(spark, dir).get
          MergeOps.compactDeletes(spark, dir, "p", sortCol = Some("k"))
          if (Versioned.currentVersion(spark, dir).get > before)
            model = model.copy(snapshots = model.snapshots :+ model.rows)
        case 11 =>                                           // row delete
          // copy-on-write mergeDelete (round 11): random key set, some
          // hitting, some missing; an all-miss call must publish
          // NOTHING (the end-state version-count assertion catches a
          // phantom version), and draws that would empty the table are
          // skipped like retention's last-partition guard
          val ks = (1 to (1 + rnd.nextInt(4)))
            .map(_ => rnd.nextInt(30).toLong).distinct
          val hit = model.rows.keySet.intersect(ks.toSet)
          val remaining = model.rows -- ks
          if (remaining.nonEmpty) {
            MergeOps.mergeDelete(spark, dir, ks.toDF("k"), "k", "p")
            if (hit.nonEmpty)
              model = model.copy(rows = remaining,
                snapshots = model.snapshots :+ remaining)
          }
        case 10 =>                   // torn claim + mechanical repair:
          // a writer dies at current+1 either BETWEEN claim and binding
          // (bare marker) or INSIDE its binding write (claim + EMPTY
          // winner — the round-11 atomic-overwrite repair path); both
          // flavors repair as a no-op commit duplicating current
          val tv = model.snapshots.size.toLong + 1
          val fsT = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fsT.createNewFile(new org.apache.hadoop.fs.Path(dir, s"commits/$tv"))
          if (rnd.nextBoolean())
            fsT.create(new org.apache.hadoop.fs.Path(
              dir, s"commits/$tv.winner"), true).close()
          assert(Versioned.repairTornCommit(spark, dir, tv, graceMs = 0L),
            s"seed=$seed step=$step: repair must complete the torn claim")
          model = model.copy(snapshots = model.snapshots :+ model.rows)
        case 0 | 1 | 2 | 3 | 4 =>                            // merge
          val b = batch(1 + rnd.nextInt(5))
          if (b.nonEmpty) {
            MergeOps.mergeUpsert(spark, dir, b.toDF("k", "v", "p"), "k", "p",
              statsKeys = Seq("k"))
            val next = mergeModel(model.rows, b)
            model = model.copy(rows = next,
              snapshots = model.snapshots :+ next)
          }
        case 5 =>                                            // compact
          // publishes a version ONLY if some partition is fragmented;
          // mirror by checking whether the version count grew
          val before = Versioned.currentVersion(spark, dir).get
          MergeOps.compactPartitions(spark, dir, "p", maxFilesPerPart = 1)
          if (Versioned.currentVersion(spark, dir).get > before)
            model = model.copy(snapshots = model.snapshots :+ model.rows)
        case 6 =>                                            // retention
          val drop = Parts(rnd.nextInt(Parts.size))
          val dropName = Versioned.partDirName("p", drop)
          // Retention's keep rule is a MANIFEST-NAME predicate — on a
          // mixed-layout manifest (a rollback can resurrect one) a
          // p-name rule cannot see rows living under q-entries, so the
          // caller's move is to restore the layout first (exactly what
          // the repartition tier is for). The fuzz models that caller.
          if (Versioned.manifest(spark, dir,
                Versioned.currentVersion(spark, dir).get)
              .exists(!_._1.startsWith("p="))) {
            MergeOps.repartitionTable(spark, dir, "q", "p",
              statsKeys = Seq("k"))
            model = model.copy(snapshots = model.snapshots :+ model.rows)
          }
          // PHYSICAL presence decides whether retention publishes: with
          // MOR tombstones a partition can be logically empty yet still
          // hold a manifest entry, and dropping it is a real (content-
          // invisible) commit. Dropping the last physical partition is
          // table deletion and the engine refuses it — skip that draw.
          val cur = Versioned.currentVersion(spark, dir).get
          val man = Versioned.manifest(spark, dir, cur)
          val present = man.exists(_._1 == dropName)
          val othersPhys = man.exists(_._1 != dropName)
          if (!present)
            MergeOps.applyRetention(spark, dir, name => name != dropName)
          else if (othersPhys) {
            MergeOps.applyRetention(spark, dir, name => name != dropName)
            val next = model.rows.filter { case (_, (_, p)) => p != drop }
            model = model.copy(rows = next,
              snapshots = model.snapshots :+ next)
          }
        case 7 =>                                            // rollback
          val candidates =
            (model.floor to model.snapshots.size.toLong).filter(_ >= 1L)
          if (candidates.size > 1) {
            val to = candidates(rnd.nextInt(candidates.size))
            Versioned.rollback(spark, dir, to)
            if (to != model.snapshots.size.toLong) {
              val restored = model.snapshots(to.toInt - 1)
              model = model.copy(rows = restored,
                snapshots = model.snapshots :+ restored)
            }
          }
        case 8 | 9 =>                                        // vacuum
          val keep = 1 + rnd.nextInt(3)
          Versioned.vacuum(spark, dir, keepVersions = keep)
          val cur = model.snapshots.size.toLong
          val newFloor = math.max(model.floor, math.max(1L, cur - keep + 1))
          model = model.copy(floor = newFloor)
      }
      val curVer = Versioned.currentVersion(spark, dir).get
      assert(curVer == model.snapshots.size.toLong,
        s"seed=$seed step=$step: version $curVer != " +
          s"model snapshot count ${model.snapshots.size}")
      val got = readBack()
      assert(got == model.current,
        s"seed=$seed step=$step: committed read diverged from model\n" +
          s"  store: ${got.toSeq.sortBy(_._1)}\n" +
          s"  model: ${model.current.toSeq.sortBy(_._1)}")
      // zone-map-pruned read with a random key range: must equal the
      // model's plain filter no matter which maintenance op (or stats-
      // less repair commit) produced the current version
      val lo = rnd.nextInt(30).toLong
      val hi = lo + rnd.nextInt(15).toLong
      val prunedGot = MergeOps.readCorpusSkipPruned(spark, dir, "p",
          ranges = Seq(("k", lo, hi))).select("k", "v", "p").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
      val prunedWant = model.current.filter { case (k, _) => k >= lo && k <= hi }
      assert(prunedGot == prunedWant,
        s"seed=$seed step=$step: pruned read [$lo,$hi] diverged\n" +
          s"  store: ${prunedGot.toSeq.sortBy(_._1)}\n" +
          s"  model: ${prunedWant.toSeq.sortBy(_._1)}")
      // MIRROR composition: a replica synced at random points must
      // equal the model — the net change feed has to cross whatever op
      // (or repair commit) just ran: CoW/MOR deletes, rollbacks,
      // retention drops, compactions, torn-claim repairs. A mirror
      // whose high-water mark fell below the retention floor pins the
      // documented fail-fast and re-bootstraps on a fresh dir.
      if (rnd.nextInt(3) == 0) {
        val curV = Versioned.currentVersion(spark, dir).get
        val flr = Versioned.retentionFloor(spark, dir).getOrElse(1L)
        // a TAGGED high-water version is exempt from the floor check
        // (round 12): the pin keeps its data, so the sync legitimately
        // proceeds — only an UNPINNED below-floor mark must fail fast
        val pinned = Versioned.tags(spark, dir).values.toSet
        if (mirrorLast > 0 && mirrorLast < curV && mirrorLast < flr &&
            !pinned(mirrorLast)) {
          val e = intercept[IllegalArgumentException] {
            MergeOps.syncMirror(spark, dir, mirrorDir, "k", "p")
          }
          assert(e.getMessage.contains("retention floor"),
            s"seed=$seed step=$step: wrong floor signal: ${e.getMessage}")
          mirrorDir = freshMirror()
          mirrorLast = 0L
        }
        mirrorLast = MergeOps.syncMirror(spark, dir, mirrorDir, "k", "p")
        val mGot = MergeOps.readCorpus(spark, mirrorDir, "p")
          .select("k", "v", "p").collect()
          .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
        assert(mGot == model.current,
          s"seed=$seed step=$step: mirror diverged from model\n" +
            s"  mirror: ${mGot.toSeq.sortBy(_._1)}\n" +
            s"  model: ${model.current.toSeq.sortBy(_._1)}")
      }
    }

    // end state: every PIN reads back as the model snapshot it froze,
    // no matter what retention/vacuum/rollback churn followed
    pins.foreach { case (name, idx) =>
      val got = Versioned.readTag(spark, dir, name, Some("p"))
        .select("k", "v", "p").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
      assert(got == model.snapshots(idx),
        s"seed=$seed: tag $name diverged from its pinned snapshot")
    }
    // ... and every retained version time-travels to its model
    // snapshot; the commit log's version numbering matches the model's
    val committed = Versioned.committedVersions(spark, dir)
    assert(committed.last == model.snapshots.size.toLong,
      s"seed=$seed: version count ${committed.last} != " +
        s"model ${model.snapshots.size}")
    committed.filter(_ >= model.floor).foreach { v =>
      val got = Versioned.readVersion(spark, dir, v, Some("p"))
        .select("k", "v", "p").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
      assert(got == model.snapshots(v.toInt - 1),
        s"seed=$seed: time travel to v$v diverged from model snapshot")
    }
  }

  test("30-step randomized op sequences match the in-memory model at " +
       "every step and on all retained time-travel reads (3 seeds)") {
    Seq(11L, 42L, 77L).foreach(run(_, steps = 30))
    // deep mode for ad-hoc bug hunts: GRAFT_FUZZ_DEEP=seedLo:seedHi:steps
    sys.env.get("GRAFT_FUZZ_DEEP").foreach { spec =>
      val Array(lo, hi, st) = spec.split(':').map(_.toLong)
      (lo to hi).foreach(run(_, steps = st.toInt))
    }
  }

  // ---- the rollup/ledger family: exactly-once under random
  //      fold / replay / compact / rollback / vacuum compositions ----

  /** Rollup model: day → sum plus the applied-batch id set, with the
    * snapshot history the ledger walk-back must reproduce. Batch
    * content is a pure function of the id, so a replay is detectable
    * only through the ledger — exactly the property under test. */
  private case class RollupModel(
      sums: Map[String, Double],
      applied: Set[String],
      snapshots: Vector[(Map[String, Double], Set[String])],
      floor: Long)

  private def runRollup(seed: Long, steps: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val dir = {
      val d = java.nio.file.Files
        .createTempDirectory(s"graft_rollup_model_$seed").toFile
      d.delete(); d.getAbsolutePath
    }
    def dayOf(idNum: Int): String = f"2024-03-${1 + idNum % 4}%02d"
    def valueOf(idNum: Int): Double = idNum + 0.25
    def batchOf(idNum: Int) =
      Seq(("u0",
        java.sql.Timestamp.valueOf(s"${dayOf(idNum)} 12:00:00"),
        valueOf(idNum))).toDF("user_id", "ts", "value")
    def foldModel(m: Map[String, Double], idNum: Int): Map[String, Double] =
      m.updatedWith(dayOf(idNum))(prev =>
        Some(prev.getOrElse(0.0) + valueOf(idNum)))

    graft.ops.IncrementalOps.foldBatch(spark, dir, batchOf(0), "b0")
    var model = RollupModel(foldModel(Map.empty, 0), Set("b0"),
      Vector((foldModel(Map.empty, 0), Set("b0"))), floor = 1L)
    var nextId = 1
    // versions published WITHOUT a ledger (compactions) — rollback is
    // biased toward them because the ledger walk-back is the subtlest
    // path (the r9-advice defect lived exactly there; a uniform target
    // choice almost never composes compact→fold→rollback-to-compact)
    var ledgerless = Set.empty[Long]

    def readBack(): Map[String, Double] =
      graft.ops.IncrementalOps.readRollup(spark, dir)
        .select(col("day_s").cast("string"), col("sum_value").cast("double"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    for (step <- 1 to steps) {
      rnd.nextInt(11) match {
        case 10 =>                   // torn claim + mechanical repair
          val tv = model.snapshots.size.toLong + 1
          val fsT = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fsT.createNewFile(new org.apache.hadoop.fs.Path(dir, s"commits/$tv"))
          assert(Versioned.repairTornCommit(spark, dir, tv, graceMs = 0L),
            s"seed=$seed step=$step: repair must complete the torn claim")
          model = model.copy(
            snapshots = model.snapshots :+ (model.sums, model.applied))
          ledgerless += model.snapshots.size.toLong   // no-op has no ledger
        case 0 | 1 | 2 | 3 =>                                // fresh fold
          val id = nextId; nextId += 1
          graft.ops.IncrementalOps.foldBatch(spark, dir, batchOf(id), s"b$id")
          val sums = foldModel(model.sums, id)
          val app = model.applied + s"b$id"
          model = model.copy(sums = sums, applied = app,
            snapshots = model.snapshots :+ (sums, app))
        case 4 | 5 =>                                        // REPLAY
          val idNum = rnd.nextInt(nextId)
          graft.ops.IncrementalOps.foldBatch(
            spark, dir, batchOf(idNum), s"b$idNum")
          if (!model.applied.contains(s"b$idNum")) {
            // rolled-back batch: must RE-apply (the walk-back contract)
            val sums = foldModel(model.sums, idNum)
            val app = model.applied + s"b$idNum"
            model = model.copy(sums = sums, applied = app,
              snapshots = model.snapshots :+ (sums, app))
          } // applied → ledger no-op: no new version, nothing changes
        case 6 =>                                            // compact
          val before = Versioned.currentVersion(spark, dir).get
          // maxFilesPerPart=0: every partition "fragments", so each
          // draw publishes a LEDGERLESS version — the composition the
          // walk-back exists for must actually occur in the sequences
          MergeOps.compactPartitions(spark, dir, "day_s", maxFilesPerPart = 0)
          if (Versioned.currentVersion(spark, dir).get > before) {
            model = model.copy(
              snapshots = model.snapshots :+ (model.sums, model.applied))
            ledgerless += model.snapshots.size.toLong
          }
        case 7 =>                                            // rollback
          val candidates =
            (model.floor to model.snapshots.size.toLong).filter(_ >= 1L)
          if (candidates.size > 1) {
            val pref = candidates.filter(c =>
              ledgerless.contains(c) && c != model.snapshots.size.toLong)
            val to =
              if (pref.nonEmpty && rnd.nextBoolean()) pref(rnd.nextInt(pref.size))
              else candidates(rnd.nextInt(candidates.size))
            Versioned.rollback(spark, dir, to)
            if (to != model.snapshots.size.toLong) {
              val (sums, app) = model.snapshots(to.toInt - 1)
              model = model.copy(sums = sums, applied = app,
                snapshots = model.snapshots :+ (sums, app))
            }
          }
        case 8 | 9 =>                                        // vacuum
          val keep = 1 + rnd.nextInt(3)
          Versioned.vacuum(spark, dir, keepVersions = keep)
          val cur = model.snapshots.size.toLong
          model = model.copy(floor =
            math.max(model.floor, math.max(1L, cur - keep + 1)))
      }
      val got = readBack()
      assert(got == model.sums,
        s"seed=$seed step=$step: rollup diverged from model\n" +
          s"  store: ${got.toSeq.sorted}\n  model: ${model.sums.toSeq.sorted}")
    }

    // end state: every id ever folded replays as a no-op iff the model
    // says it is applied; non-applied (rolled-back) ids re-apply once
    (0 until nextId).foreach { idNum =>
      val pre = model.sums
      graft.ops.IncrementalOps.foldBatch(
        spark, dir, batchOf(idNum), s"b$idNum")
      val got = readBack()
      if (model.applied.contains(s"b$idNum"))
        assert(got == pre,
          s"seed=$seed: applied b$idNum must replay as a no-op")
      else {
        val sums = foldModel(model.sums, idNum)
        assert(got == sums,
          s"seed=$seed: rolled-back b$idNum must re-apply exactly once")
        model = model.copy(sums = sums, applied = model.applied + s"b$idNum")
      }
    }
  }

  test("rollup fuzz: random fold/replay/compact/rollback/vacuum keeps " +
       "exactly-once and the day sums model-exact (3 seeds)") {
    Seq(5L, 23L, 91L).foreach(runRollup(_, steps = 25))
  }
}

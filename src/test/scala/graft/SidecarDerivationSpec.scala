package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.{IncrementalOps, MergeOps}

/** What each restaging write verb publishes besides its data: the new
  * manifest, the stats lines it carries, keeps as bound supersets, drops
  * or recomputes, the dv/uv lines of the partitions it restages, its
  * touch declaration (the set a racing upsert's rebase checks), its
  * ledger, and the empty-table guard. Every verb commits through the
  * same copy-on-write tail, so these are the observable contract of that
  * one kernel. */
class SidecarDerivationSpec extends SparkTestBase {

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.delete(); d.getAbsolutePath
  }

  /** k, v = 10k, p = A/B/C by k mod 3 (0 → A, 1 → B, 2 → C). */
  private def rows(keys: Seq[Int], dv: Long = 0L): DataFrame = {
    import spark.implicits._
    keys.map(k => (k.toLong, k * 10L + dv, Seq("A", "B", "C")(k % 3)))
      .toDF("k", "v", "p")
  }

  /** A 30-key store with `k` zone maps, one data file per partition. */
  private def store(name: String): String = {
    val dir = freshDir(name)
    MergeOps.mergeUpsert(spark, dir, rows(1 to 30).repartition(1), "k", "p",
      statsKeys = Seq("k"))
    dir
  }

  private case class Commit(v: Long, man: Map[String, String],
                            stats: Seq[String], dv: Seq[String],
                            uv: Seq[String], touch: Option[Set[String]]) {
    /** Manifest names whose entry this version staged. */
    def restaged: Set[String] = man.collect {
      case (n, rel) if rel.startsWith(s"data/${v}_") => n }.toSet
    /** Stats lines with the per-file row-count payload cut (file names
      * are random). */
    def statsShape: Set[String] = stats.map { l =>
      val f = l.split('\t')
      if (f(2) == "rows") s"${f(0)}\t${f(1)}\trows" else l
    }.toSet
    def statsOf(part: String): Seq[String] =
      stats.filter(_.startsWith(part + "\t"))
  }

  private def at(dir: String): Commit = {
    val v = Versioned.currentVersion(spark, dir).get
    Commit(v, Versioned.manifest(spark, dir, v).toMap,
      Versioned.readStatsLines(spark, dir, v),
      Versioned.readDvLines(spark, dir, v),
      Versioned.readUvLines(spark, dir, v),
      Versioned.readTouched(spark, dir, v))
  }

  private def range(p: String, lo: Int, hi: Int) = s"p=$p\tk\t$lo\t$hi"
  private def rowsLine(p: String) = s"p=$p\t__rows__\trows"
  private val abc = Set("p=A", "p=B", "p=C")

  private def guarded(dir: String, msg: String)(write: => Unit): Unit = {
    val before = Versioned.currentVersion(spark, dir)
    val e = intercept[IllegalArgumentException](write)
    assert(e.getMessage.contains(msg), s"guard message: ${e.getMessage}")
    assert(Versioned.currentVersion(spark, dir) == before,
      "a guarded write publishes nothing")
  }

  test("upsert: bootstrap declares every staged partition; a restage " +
       "drops its lines without stats keys and refreshes them with keys") {
    val dir = store("graft_sd_upsert")
    val c1 = at(dir)
    assert(c1.v == 1L && c1.man.keySet == abc && c1.restaged == abc)
    assert(c1.statsShape == Set(range("A", 3, 30), range("B", 1, 28),
      range("C", 2, 29), rowsLine("A"), rowsLine("B"), rowsLine("C")))
    assert(c1.touch.contains(abc))
    assert(c1.dv.isEmpty && c1.uv.isEmpty)

    // into A only, no stats keys: A's lines drop, B/C carry verbatim
    MergeOps.mergeUpsert(spark, dir, rows(Seq(3, 33), dv = 1L), "k", "p")
    val c2 = at(dir)
    assert(c2.restaged == Set("p=A"))
    assert(c2.man - "p=A" == c1.man - "p=A")
    assert(c2.statsOf("p=A").isEmpty)
    assert(c2.stats.toSet == (c1.statsOf("p=B") ++ c1.statsOf("p=C")).toSet)
    assert(c2.touch.contains(Set("p=A")))

    // into B with stats keys: B's lines are fresh from the staged files
    MergeOps.mergeUpsert(spark, dir, rows(Seq(1, 31), dv = 1L), "k", "p",
      statsKeys = Seq("k"))
    val c3 = at(dir)
    assert(c3.restaged == Set("p=B"))
    assert(c3.statsShape == Set(range("B", 1, 31), rowsLine("B"),
      range("C", 2, 29), rowsLine("C")))
    assert(c3.statsOf("p=C") == c2.statsOf("p=C"))
    assert(c3.statsOf("p=B") != c2.statsOf("p=B"))
    assert(c3.touch.contains(Set("p=B")))
  }

  test("delete by key: restaged lines stay as bound supersets, an " +
       "emptied partition leaves manifest and stats, emptying is refused") {
    val dir = store("graft_sd_delete")
    val c1 = at(dir)
    import spark.implicits._
    MergeOps.mergeDelete(spark, dir, Seq(3L, 30L).toDF("k"), "k", "p")
    val c2 = at(dir)
    assert(c2.restaged == Set("p=A") && c2.man.keySet == abc)
    // A now holds 6..27, its carried bound 3..30 is a valid superset
    assert(c2.stats == c1.stats)
    assert(c2.touch.contains(Set("p=A")))

    MergeOps.mergeDelete(spark, dir,
      (2L to 29L by 3L).toDF("k"), "k", "p")
    val c3 = at(dir)
    assert(c3.man.keySet == Set("p=A", "p=B") && c3.restaged.isEmpty)
    assert(c3.statsOf("p=C").isEmpty && c3.stats.toSet ==
      (c1.statsOf("p=A") ++ c1.statsOf("p=B")).toSet)
    assert(c3.touch.contains(Set("p=C")))

    guarded(dir, "delete would remove every row") {
      MergeOps.mergeDelete(spark, dir, (1L to 30L).toDF("k"), "k", "p")
    }
  }

  test("delete where: same superset rule, touch and guard") {
    val dir = store("graft_sd_delwhere")
    val c1 = at(dir)
    MergeOps.mergeDeleteWhere(spark, dir,
      col("k") === 4L || col("k") === 7L, "p")
    val c2 = at(dir)
    assert(c2.restaged == Set("p=B"))
    assert(c2.stats == c1.stats)
    assert(c2.touch.contains(Set("p=B")))
    guarded(dir, "DELETE WHERE would remove every row") {
      MergeOps.mergeDeleteWhere(spark, dir, col("k") > 0L, "p")
    }
  }

  test("update where: restaged lines drop without keys and are fresh " +
       "with keys") {
    val dir = store("graft_sd_update")
    val c1 = at(dir)
    MergeOps.mergeUpdateWhere(spark, dir, col("k") === 4L,
      Seq("v" -> lit(-1L)), "k", "p")
    val c2 = at(dir)
    assert(c2.restaged == Set("p=B"))
    assert(c2.statsOf("p=B").isEmpty)
    assert(c2.stats.toSet == (c1.statsOf("p=A") ++ c1.statsOf("p=C")).toSet)
    assert(c2.touch.contains(Set("p=B")))

    MergeOps.mergeUpdateWhere(spark, dir, col("k") === 5L,
      Seq("v" -> lit(-1L)), "k", "p", statsKeys = Seq("k"))
    val c3 = at(dir)
    assert(c3.restaged == Set("p=C"))
    assert(c3.statsShape == Set(range("A", 3, 30), rowsLine("A"),
      range("C", 2, 29), rowsLine("C")))
    assert(c3.statsOf("p=C") != c1.statsOf("p=C"))
    assert(c3.touch.contains(Set("p=C")))
  }

  test("changelog apply: lines of touched partitions drop, the ledger " +
       "grows, a ledger tick carries everything and declares an empty " +
       "touch set") {
    val dir = store("graft_sd_changelog")
    val c1 = at(dir)
    import spark.implicits._
    val changes = Seq((5L, -1L, "C", "u"), (3L, 0L, "A", "d"))
      .toDF("k", "v", "p", "op")
    MergeOps.mergeApplyChangelog(spark, dir, changes, "k", "p",
      ledgerId = Some("c1"))
    val c2 = at(dir)
    assert(c2.restaged == Set("p=A", "p=C"))
    assert(c2.stats == c1.statsOf("p=B"))
    assert(c2.touch.contains(Set("p=A", "p=C")))
    assert(Versioned.appliedLedgerIds(spark, dir, c2.v) == Set("c1"))
    // replay of an applied id publishes nothing
    MergeOps.mergeApplyChangelog(spark, dir, changes, "k", "p",
      ledgerId = Some("c1"))
    assert(Versioned.currentVersion(spark, dir).contains(c2.v))

    // an identified apply that moves no row: a ledger tick
    MergeOps.mergeApplyChangelog(spark, dir,
      Seq((999L, 0L, "A", "d")).toDF("k", "v", "p", "op"), "k", "p",
      ledgerId = Some("c2"))
    val c3 = at(dir)
    assert(c3.v == c2.v + 1 && c3.man == c2.man && c3.stats == c2.stats)
    assert(c3.touch.contains(Set.empty[String]))
    assert(Versioned.appliedLedgerIds(spark, dir, c3.v) == Set("c1", "c2"))

    // with stats keys the restaged lines are fresh
    MergeOps.mergeApplyChangelog(spark, dir,
      Seq((4L, -1L, "B", "u")).toDF("k", "v", "p", "op"), "k", "p",
      statsKeys = Seq("k"))
    val c4 = at(dir)
    assert(c4.restaged == Set("p=B"))
    assert(c4.statsShape == Set(range("B", 1, 28), rowsLine("B")))

    guarded(dir, "changelog would remove every row") {
      MergeOps.mergeApplyChangelog(spark, dir,
        (1L to 30L).map(k => (k, 0L, "A", "d")).toDF("k", "v", "p", "op"),
        "k", "p")
    }
  }

  test("merge-on-read verbs add dv/uv lines; a restage drops the lines " +
       "of its partitions and materializing them clears both sidecars") {
    val dir = store("graft_sd_mor")
    val c1 = at(dir)
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(4L).toDF("k"), "k", "p")
    val c2 = at(dir)
    assert(c2.man == c1.man && c2.stats == c1.stats && c2.uv.isEmpty)
    assert(c2.dv.size == 1 && c2.dv.head.startsWith(s"p=B\tdvdata/${c2.v}_"))
    assert(c2.touch.contains(Set("p=B")))

    MergeOps.mergeUpdateMor(spark, dir, col("k") === 5L,
      Seq("v" -> lit(-1L)), "k", "p")
    val c3 = at(dir)
    assert(c3.man == c1.man && c3.dv == c2.dv)
    assert(c3.uv.size == 1 && c3.uv.head.startsWith(s"p=C\tuvdata/${c3.v}_"))
    // an update may widen C's bounds: its lines drop
    assert(c3.stats.toSet == (c1.statsOf("p=A") ++ c1.statsOf("p=B")).toSet)
    assert(c3.touch.contains(Set("p=C")))

    // restaging B materializes its tombstone: B's dv line drops, C's uv
    // line carries
    MergeOps.mergeUpsert(spark, dir, rows(Seq(7), dv = 1L), "k", "p")
    val c4 = at(dir)
    assert(c4.restaged == Set("p=B"))
    assert(c4.dv.isEmpty && c4.uv == c3.uv)
    assert(c4.stats == c1.statsOf("p=A"))
    assert(c4.touch.contains(Set("p=B")))

    MergeOps.mergeDeleteMor(spark, dir, Seq(6L).toDF("k"), "k", "p")
    MergeOps.compactDeletes(spark, dir, "p")
    val c5 = at(dir)
    assert(c5.restaged == Set("p=A", "p=C"))
    assert(c5.dv.isEmpty && c5.uv.isEmpty)
    // row removal and image substitution: A's bound stays a superset
    assert(c5.stats == c1.statsOf("p=A"))
    assert(c5.touch.contains(Set("p=A", "p=C")))
    assert(MergeOps.readCorpus(spark, dir, "p").count() == 28L)
  }

  test("compaction carries every stats line verbatim and drops the MOR " +
       "lines of the partitions it restages") {
    val dir = store("graft_sd_compact")
    // fragment A: the merge stages A from several tasks
    MergeOps.mergeUpsert(spark, dir, rows(Seq(3, 6, 9, 33)).repartition(3),
      "k", "p", statsKeys = Seq("k"))
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(4L, 6L).toDF("k"), "k", "p")
    val c1 = at(dir)
    val files = c1.man.map { case (n, rel) =>
      n -> Versioned.dataFileCount(spark, dir, rel) }
    assert(files("p=A") > 1 && files("p=B") == 1 && files("p=C") == 1,
      s"fixture: only A is fragmented, got $files")
    assert(c1.dv.map(Versioned.statsLinePart).toSet == Set("p=A", "p=B"))
    MergeOps.compactPartitions(spark, dir, "p", maxFilesPerPart = 1)
    val c2 = at(dir)
    assert(c2.restaged == Set("p=A"))
    assert(c2.stats == c1.stats)
    assert(c2.dv == c1.dv.filter(_.startsWith("p=B\t")))
    assert(c2.touch.contains(Set("p=A")))
  }

  test("z-order: a full restage declares every partition, recomputes " +
       "requested forms and drops per-file row counts") {
    val dir = store("graft_sd_zorder")
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(4L).toDF("k"), "k", "p")
    val c1 = at(dir)
    MergeOps.compactZOrder(spark, dir, "p", ("k", "v"))
    val c2 = at(dir)
    assert(c2.restaged == abc && c2.dv.isEmpty && c2.uv.isEmpty)
    assert(c2.statsShape == Set(range("A", 3, 30), range("B", 1, 28),
      range("C", 2, 29)))
    assert(c2.touch.contains(abc))

    MergeOps.compactZOrder(spark, dir, "p", ("k", "v"),
      statsKeys = Seq("k"))
    val c3 = at(dir)
    assert(c3.restaged == abc)
    assert(c3.statsShape == c1.statsShape)
    assert(c3.touch.contains(abc))
  }

  test("retention keeps the lines of kept partitions and declares " +
       "nothing") {
    val dir = store("graft_sd_rewrite")
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(5L).toDF("k"), "k", "p")
    val c1 = at(dir)
    MergeOps.applyRetention(spark, dir, _ != "p=A")
    val c2 = at(dir)
    assert(c2.man == c1.man - "p=A" && c2.restaged.isEmpty)
    assert(c2.stats.toSet == (c1.statsOf("p=B") ++ c1.statsOf("p=C")).toSet)
    assert(c2.dv == c1.dv && c2.touch.isEmpty)
    guarded(dir, "retention would drop every partition") {
      MergeOps.applyRetention(spark, dir, _ => false)
    }
  }

  test("repartition restages under the new layout with fresh stats " +
       "only; replace carries nothing") {
    val dir = freshDir("graft_sd_repart")
    MergeOps.mergeUpsert(spark, dir,
      rows(1 to 30).withColumn("g", col("k") % 2).repartition(1), "k", "p",
      statsKeys = Seq("k"))
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(5L).toDF("k"), "k", "p")
    MergeOps.repartitionTable(spark, dir, "p", "g", statsKeys = Seq("k"))
    val c1 = at(dir)
    assert(c1.man.keySet == Set("g=0", "g=1") && c1.restaged == c1.man.keySet)
    assert(c1.statsShape == Set("g=0\tk\t2\t30", "g=1\tk\t1\t29",
      "g=0\t__rows__\trows", "g=1\t__rows__\trows"))
    assert(c1.dv.isEmpty && c1.uv.isEmpty && c1.touch.isEmpty)

    MergeOps.replaceTable(spark, dir,
      rows(Seq(1, 2)).withColumn("g", col("k") % 2), "k", "g")
    val c2 = at(dir)
    assert(c2.man.keySet == Set("g=0", "g=1") && c2.restaged == c2.man.keySet)
    assert(c2.stats.isEmpty && c2.dv.isEmpty && c2.uv.isEmpty)
    assert(c2.touch.isEmpty)
  }

  test("every full restage of a fully tombstoned table is refused") {
    val dir = freshDir("graft_sd_tombstoned")
    import spark.implicits._
    MergeOps.mergeUpsert(spark, dir, rows(Seq(3, 6)), "k", "p")
    MergeOps.mergeDeleteMor(spark, dir, Seq(3L, 6L).toDF("k"), "k", "p")
    guarded(dir, "materializing the deletion vectors") {
      MergeOps.compactDeletes(spark, dir, "p")
    }
    guarded(dir, "compacting") {
      MergeOps.compactPartitions(spark, dir, "p", maxFilesPerPart = 0)
    }
    guarded(dir, "z-ordering") {
      MergeOps.compactZOrder(spark, dir, "p", ("k", "v"))
    }
    guarded(dir, "repartitioning") {
      MergeOps.repartitionTable(spark, dir, "p", "v")
    }
  }

  test("scd2 and rollup folds restage by whole table, bucket or day " +
       "without declaring a touch set, dropping only restaged lines") {
    import spark.implicits._
    val flat = freshDir("graft_sd_scd2")
    val dim = Seq((1L, "x"), (2L, "y")).toDF("id", "a")
    MergeOps.mergeScd2(spark, flat, dim, "id", Seq("a"), version = 0L)
    MergeOps.mergeScd2(spark, flat, Seq((1L, "z")).toDF("id", "a"), "id",
      Seq("a"), version = 1L)
    val f2 = at(flat)
    assert(f2.v == 2L && f2.man.keySet == Set("__ALL__"))
    assert(f2.man("__ALL__").startsWith("data/2_") && f2.touch.isEmpty)

    // zone maps on valid_from first: a restaged bucket or day must lose
    // its lines, the others keep theirs
    val bucketed = freshDir("graft_sd_scd2b")
    MergeOps.mergeScd2Bucketed(spark, bucketed,
      (1L to 8L).map(i => (i, "x")).toDF("id", "a"), "id", Seq("a"),
      version = 0L, buckets = 4)
    MergeOps.refreshStats(spark, bucketed, "kb", statsKeys = Seq("valid_from"))
    val b1 = at(bucketed)
    assert(b1.stats.count(_.endsWith("\tvalid_from\t0\t0")) == b1.man.size)
    MergeOps.mergeScd2Bucketed(spark, bucketed,
      Seq((1L, "z")).toDF("id", "a"), "id", Seq("a"), version = 1L,
      buckets = 4)
    val b2 = at(bucketed)
    assert(b2.man.keySet == b1.man.keySet && b2.restaged.size == 1)
    assert((b2.man -- b2.restaged) == (b1.man -- b2.restaged))
    assert(b1.touch.isEmpty && b2.touch.isEmpty)
    assert(b2.stats.toSet ==
      b1.stats.filterNot(l => b2.restaged(l.split('\t')(0))).toSet)
    val opened = MergeOps.readCorpusSkipPruned(spark, bucketed, "kb",
      ranges = Seq(("valid_from", 1L, 1L))).where(col("valid_from") === 1L)
    assert(opened.count() == 1L, "a pruned read must find the new version")

    val rollup = freshDir("graft_sd_fold")
    def day(d: String, x: Double) =
      (java.sql.Timestamp.valueOf(s"$d 12:00:00"), x, 1L)
    val ev = Seq(day("2024-01-01", 1.0), day("2024-01-02", 2.0))
      .toDF("ts", "value", "user_id")
    IncrementalOps.foldBatch(spark, rollup, ev, "b0")
    MergeOps.refreshStats(spark, rollup, "day_s", statsKeys = Seq("n_events"))
    val r1 = at(rollup)
    IncrementalOps.foldBatch(spark, rollup,
      Seq(day("2024-01-02", 3.0), day("2024-01-03", 4.0))
        .toDF("ts", "value", "user_id"), "b1")
    val r2 = at(rollup)
    assert(r1.man.keySet == Set("day_s=2024-01-01", "day_s=2024-01-02"))
    assert(r2.restaged == Set("day_s=2024-01-02", "day_s=2024-01-03"))
    assert(r2.man("day_s=2024-01-01") == r1.man("day_s=2024-01-01"))
    assert(r1.touch.isEmpty && r2.touch.isEmpty)
    assert(Versioned.appliedLedgerIds(spark, rollup, r2.v) == Set("b0", "b1"))
    assert(r2.statsOf("day_s=2024-01-01") == r1.statsOf("day_s=2024-01-01"))
    assert(r2.statsOf("day_s=2024-01-02").isEmpty)
    val twice = MergeOps.readCorpusSkipPruned(spark, rollup, "day_s",
      ranges = Seq(("n_events", 2L, 2L))).where(col("n_events") === 2L)
    assert(twice.count() == 1L, "a pruned read must find the refolded day")
  }

  test("a restage that migrates a foreign-layout entry carries no bound " +
       "for the partitions its rows land in") {
    // spec g (k mod 2) with k zone maps, then spec p: the new-spec A
    // partition's bound covers only key 102
    val dir = freshDir("graft_sd_migrate")
    MergeOps.mergeUpsert(spark, dir,
      rows(1 to 30).withColumn("g", col("k") % 2).repartition(1), "k", "g",
      statsKeys = Seq("k"))
    MergeOps.mergeUpsert(spark, dir,
      rows(Seq(102)).withColumn("g", col("k") % 2), "k", "p",
      statsKeys = Seq("k"))
    assert(at(dir).stats.contains(range("A", 102, 102)))
    // deleting odd key 3 restages g=1: its survivors migrate into p=A,
    // p=B and p=C, so A now holds 9, 15, 21, 27 beside 102
    import spark.implicits._
    MergeOps.mergeDelete(spark, dir, Seq(3L).toDF("k"), "k", "p")
    val hit = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      ranges = Seq(("k", 9L, 9L))).where(col("k") === 9L).count()
    assert(hit == 1L, "a pruned read must still find migrated key 9")
    val c = at(dir)
    assert(c.man.keySet == Set("g=0", "p=A", "p=B", "p=C"))
    assert(c.statsOf("p=A").isEmpty, c.stats)
  }

  test("a constrained bootstrap stages exactly the rows its CHECK saw") {
    // each evaluation of the batch numbers its rows afresh: a second
    // evaluation for the stage would write 11..20, which the check
    // (v <= 10) never saw
    SidecarDerivationSpec.calls.set(0L)
    val next = udf(() => SidecarDerivationSpec.calls.incrementAndGet())
      .asNondeterministic()
    val batch = spark.range(0, 10, 1, 1).toDF("k")
      .withColumn("v", next()).withColumn("p", lit("A"))
    val dir = freshDir("graft_sd_boot_check")
    MergeOps.mergeUpsert(spark, dir, batch, "k", "p",
      constraints = Seq("small" -> (col("v") <= 10L)))
    val vs = MergeOps.readCorpus(spark, dir, "p").select("v")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vs == (1L to 10L), s"staged rows must be the checked rows: $vs")
  }
}

object SidecarDerivationSpec {
  val calls = new java.util.concurrent.atomic.AtomicLong(0L)
}

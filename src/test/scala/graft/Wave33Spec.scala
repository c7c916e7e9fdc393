package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-13 wave 3: per-partition BLOOM sidecars — the third
  * data-skipping tier (range zone maps → dictionaries → blooms),
  * riding the same stats sidecar so every carry rule holds for free. */
class Wave33Spec extends SparkTestBase {

  /** keys spread over 4 partitions by k%4 — high-cardinality in every
    * partition, the shape ranges and dictionaries cannot skip on. */
  private def quarterCorpus(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, i * 1.5, (i % 4).toString))
      .toDF("k", "v", "p")
  }

  test("a bloom point lookup never READS a pruned partition: the plan's " +
       "input files stay inside the kept dirs, and the result equals " +
       "the plain filter") {
    val dir = freshDir("graft_bloom_pin")
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(400), "k", "p",
                         bloomKeys = Seq("k"))
    // k=41 lives in partition p=1 only
    val blooms = Versioned.zoneMaps(spark, dir, 1L).blooms
    assert(blooms.size == 4 && blooms.values.forall(_.contains("k")),
      "every partition must have recorded a doc-level bloom on k")
    val pruned = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("k", Seq("41"))))
    val rows = pruned.collect().map(r => (r.getLong(0), r.get(2).toString))
    assert(rows.toSeq == Seq((41L, "1")))
    // the never-reads pin: input files ⊆ dirs of partitions whose bloom
    // admitted the probe (p=1 plus any false positive — never all four)
    val man = Versioned.manifest(spark, dir, 1L).toMap
    val h = MergeOps.bloomProbeHash("41")  // the pruner's own probe
    val keptParts = man.keys.filter(n =>
      blooms(n)("k").mightContainLong(h)).toSet
    assert(keptParts.contains("p=1") && keptParts.size < man.size,
      s"pruning must bite: kept $keptParts")
    val keptRel = man.collect {
      case (n, rel) if keptParts(n) => rel }.toSet
    val inputs = pruned.inputFiles.toSeq
    assert(inputs.nonEmpty && inputs.forall(f =>
        keptRel.exists(rel => f.contains(rel))),
      s"a pruned partition was read: $inputs vs kept $keptRel")
  }

  test("a partition WITHOUT a bloom line always reads (stats are never " +
       "a correctness gate), and a probe for an absent value returns " +
       "empty with the right schema — false positives only ever " +
       "read-and-filter") {
    import spark.implicits._
    val dir = freshDir("graft_bloom_miss")
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(200), "k", "p",
                         bloomKeys = Seq("k"))
    // restage partition 2 WITHOUT bloomKeys: its line drops (the
    // changelog rule) — that partition must now always read
    MergeOps.mergeUpsert(spark, dir,
      Seq((999L, 9.9, "2")).toDF("k", "v", "p"), "k", "p")
    val blooms2 = Versioned.zoneMaps(spark, dir, 2L).blooms
    assert(!blooms2.contains("p=2") && blooms2.size == 3,
      "the restaged partition's bloom line must drop")
    // 999 is only in the lineless partition: found via the always-read
    val got = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("k", Seq("999")))).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(999L))
    // absent value: exact empty whatever the blooms said
    val absent = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("k", Seq("123456789"))))
    assert(absent.count() == 0L)
    assert(absent.columns.toSeq == Seq("k", "v", "p"))
  }

  test("bloom lines follow the sidecar carry rules: untouched " +
       "partitions carry across a merge, everything carries across " +
       "retention and rollback, and the pruned read stays exact after " +
       "each") {
    import spark.implicits._
    val dir = freshDir("graft_bloom_carry")
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(200), "k", "p",
                         bloomKeys = Seq("k"))                       // v1
    MergeOps.mergeUpsert(spark, dir,
      Seq((601L, 6.1, "1")).toDF("k", "v", "p"), "k", "p",
      bloomKeys = Seq("k"))                                          // v2
    val b2 = Versioned.zoneMaps(spark, dir, 2L).blooms
    assert(b2.size == 4, "untouched partitions' lines carry, the " +
      "restaged partition re-records")
    assert(b2("p=1")("k").mightContainLong(
        MergeOps.bloomProbeHash("601")),
      "the fresh line must cover the new key")
    MergeOps.applyRetention(spark, dir, _ != "p=3")                  // v3
    val b3 = Versioned.zoneMaps(spark, dir, 3L).blooms
    assert(b3.keySet == b2.keySet - "p=3",
      "retention must carry surviving partitions' bloom lines and drop " +
        "the retired partition's")
    val got = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("k", Seq("601", "42")))).collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(42L, 601L))
    Versioned.rollback(spark, dir, 2L)                               // v4
    assert(Versioned.zoneMaps(spark, dir, 4L).blooms.keySet == b2.keySet,
      "rollback must byte-copy the bloom lines with the rest")
  }

  test("readCorpusSkipPruned composes all three tiers in one pass: the " +
       "kept set is the intersection of every tier's opinion and the " +
       "result equals the plain conjunctive filter") {
    import spark.implicits._
    val dir = freshDir("graft_skip_composed")
    // partitions by k%4; a categorical 'c' correlated with partition
    // (only partition 1 holds "hot"), plus bounds and blooms on k
    val df = (1 to 400).map { i =>
      val p = (i % 4).toString
      (i.toLong, i * 1.5, if (i % 4 == 1 && i < 100) "hot" else "cold", p)
    }.toDF("k", "v", "c", "p")
    MergeOps.mergeUpsert(spark, dir, df, "k", "p",
      statsKeys = Seq("k"), dictKeys = Seq("c"), bloomKeys = Seq("k"))
    val got = MergeOps.readCorpusSkipPruned(spark, dir, "p",
        ranges = Seq(("k", 1L, 120L)),
        values = Seq(("c", Seq("hot")), ("k", Seq("41", "45", "999"))))
      .collect().map(_.getLong(0)).sorted.toSeq
    // plain-filter truth: k in [1,120] ∧ c='hot' ∧ k ∈ {41,45,999}
    val want = (1 to 400).filter(i => i >= 1 && i <= 120 &&
      (i % 4 == 1 && i < 100) && Seq(41, 45, 999).contains(i))
      .map(_.toLong)
    assert(got == want, s"composed pruning must be invisible: $got")
    // tier-intersection bite: the dictionary alone pins partition 1
    // ('hot' appears nowhere else), so at most one partition survives
    val dicts = Versioned.zoneMaps(spark, dir, 1L).dicts
    assert(dicts.count(_._2("c").contains("hot")) == 1)
    // and an absent-everywhere value prunes ALL partitions through the
    // bloom+dict intersection — exact empty with the right schema
    val none = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("c", Seq("lukewarm"))))
    assert(none.count() == 0L && none.columns.toSeq ==
      Seq("k", "v", "c", "p"))
  }

  test("ANALYZE respects the line-form boundary: a RANGE refresh on a " +
       "column never strips that column's bloom (the no-silent-" +
       "stripping rule), and a BLOOM refresh recomputes from live " +
       "rows — a fresh bloom can shed a deleted hot value") {
    import spark.implicits._
    val dir = freshDir("graft_bloom_refresh")
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(200), "k", "p",
      statsKeys = Seq("k"), bloomKeys = Seq("k"))                    // v1
    // the near-miss: a range-only refresh once routed bloom lines into
    // the range branch and dropped them
    MergeOps.refreshStats(spark, dir, "p", statsKeys = Seq("k"))     // v2
    assert(Versioned.zoneMaps(spark, dir, 2L).blooms.size == 4,
      "a range refresh must carry the blooms untouched")
    assert(Versioned.readStatsMulti(spark, dir, 2L).size == 4)
    // delete a key, then re-ANALYZE the bloom: the fresh filter is
    // built from live rows only, so the dead key can now prune
    MergeOps.mergeDelete(spark, dir, Seq(Tuple1(41L)).toDF("k"),
      "k", "p")                                                      // v3
    MergeOps.refreshStats(spark, dir, "p", bloomKeys = Seq("k"))     // v4
    val b4 = Versioned.zoneMaps(spark, dir, 4L).blooms
    assert(b4.size == 4 &&
      !b4("p=1")("k").mightContainLong(MergeOps.bloomProbeHash("41")),
      "the refreshed bloom must be built from live rows only")
    assert(Versioned.readStatsMulti(spark, dir, 4L).size == 4,
      "a bloom refresh must carry the range bounds untouched")
    // z-order compaction can refresh blooms in the same commit
    MergeOps.compactZOrder(spark, dir, "p", ("k", "k"),
      statsKeys = Seq("k"), bloomKeys = Seq("k"))                    // v5
    val b5 = Versioned.zoneMaps(spark, dir, 5L).blooms
    assert(b5.size == 4 &&
      b5("p=2")("k").mightContainLong(MergeOps.bloomProbeHash("42")))
    val got = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("k", Seq("42", "41")))).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(42L))
  }
}

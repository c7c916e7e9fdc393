package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-14 wave 1: the two scale fixes on the bloom skipping tier —
  * (a) TYPE-AWARE residuals: the pruned readers cast literal VALUES to
  * the column's type instead of the column to string, so the residual
  * reaches parquet as a pushable `In`/`EqualTo` DataFilter and
  * row-group stats skip INSIDE the partitions the sidecars kept;
  * (b) LAZY bloom sidecars: [[graft.engine.LazyBloom]] defers bitset
  * deserialization to first probe and `zoneMaps(bloomCols=…)` drops
  * unprobed columns' lines up front, bounding decoded driver heap at
  * O(probed partitions × probed columns). */
class Wave36Spec extends SparkTestBase {

  /** Untruncated PushedFilters of every parquet scan in the executed
    * plan (the plan's toString truncates metadata at 100 chars). */
  private def pushedFilters(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString(";")

  /** keys spread over 4 partitions by k%4 — the Wave33 corpus shape. */
  private def quarterCorpus(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, i * 1.5, (i % 4).toString))
      .toDF("k", "v", "p")
  }

  test("the bloom reader's residual on a TYPED column pushes into " +
       "parquet as an In/EqualTo DataFilter — never the old " +
       "cast(col as string) form that defeats row-group skipping") {
    val dir = freshDir("graft_typed_resid")
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(400), "k", "p",
                         bloomKeys = Seq("k"))
    val pruned = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("k", Seq("2", "23", "41"))))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("cast(k"),
      s"the residual must not cast the column:\n$plan")
    val pushed = pushedFilters(pruned)
    assert(pushed.contains("In(k, ") || pushed.contains("EqualTo(k,"),
      s"expected a pushed In(k, …) DataFilter, got: $pushed")
    // and the fix is invisible in the data
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 23L, 41L))
  }

  test("composed skipping pushes BOTH the typed range and the typed IN " +
       "residual; a string-column predicate still pushes as a plain " +
       "string In") {
    import spark.implicits._
    val dir = freshDir("graft_typed_composed")
    val df = (1 to 400).map { i =>
      val p = (i % 4).toString
      (i.toLong, i * 1.5, if (i % 4 == 1 && i < 100) "hot" else "cold", p)
    }.toDF("k", "v", "c", "p")
    MergeOps.mergeUpsert(spark, dir, df, "k", "p",
      statsKeys = Seq("k"), dictKeys = Seq("c"), bloomKeys = Seq("k"))
    val got = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      ranges = Seq(("k", 1L, 120L)),
      values = Seq(("c", Seq("hot")), ("k", Seq("41", "45", "999"))))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("cast(k") && !plan.contains("cast(c"),
      s"no column-side casts in the residual:\n$plan")
    val pushed = pushedFilters(got)
    assert(pushed.contains("In(k, ") || pushed.contains("EqualTo(k,"),
      s"typed IN must push, got: $pushed")
    assert(pushed.contains("In(c, ") || pushed.contains("EqualTo(c,"),
      s"string IN must push, got: $pushed")
    assert(got.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(41L, 45L))
  }

  test("a value that cannot cast to the column's type matches nothing " +
       "— dropped driver-side (TRY semantics), never an ANSI runtime " +
       "throw; all-uncastable collapses to an exact empty") {
    val dir = freshDir("graft_typed_uncastable")
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(100), "k", "p",
                         bloomKeys = Seq("k"))
    // mixed castable/uncastable: the uncastable value just drops
    val mixed = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("k", Seq("41", "not-a-number"))))
    assert(mixed.collect().map(_.getLong(0)).toSeq == Seq(41L))
    // all-uncastable: residual is false — exact empty, right schema
    val none = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("k", Seq("abc"))))
    assert(none.count() == 0L &&
      none.columns.toSeq == Seq("k", "v", "p"))
  }

  test("a single-column probe never materializes other columns' " +
       "filters: cols-restricted reads drop the lines up front, and " +
       "an unprobed handle's bitset is never deserialized") {
    val dir = freshDir("graft_lazy_bloom")
    // blooms on BOTH k and p — probe only k
    MergeOps.mergeUpsert(spark, dir, quarterCorpus(200), "k", "p",
                         bloomKeys = Seq("k", "p"))
    // the reader's own path: cols=Some(k) never even keeps p's lines
    val restricted = Versioned.zoneMaps(spark, dir, 1L,
      Some(Set("k"))).blooms
    assert(restricted.values.forall(_.keySet == Set("k")),
      "cols-restricted read must drop unprobed columns' lines")
    // unrestricted read: every handle starts un-decoded; probing one
    // (partition, column) decodes exactly that handle
    val all = Versioned.zoneMaps(spark, dir, 1L).blooms
    assert(all.values.flatMap(_.values).forall(!_.isDecoded),
      "no bitset may deserialize before a probe")
    all("p=1")("k").mightContainLong(MergeOps.bloomProbeHash("41"))
    assert(all("p=1")("k").isDecoded)
    assert(all.collect { case (n, cols) if n != "p=1" =>
        cols.values }.flatten.forall(!_.isDecoded) &&
      !all("p=1")("p").isDecoded,
      "probing one handle must not decode any other")
  }

  test("composed skipping short-circuits: a partition the dictionary " +
       "tier already pruned never deserializes its bloom bitset") {
    import spark.implicits._
    val dir = freshDir("graft_lazy_composed")
    val df = (1 to 400).map { i =>
      val p = (i % 4).toString
      (i.toLong, i * 1.5, if (i % 4 == 1) "hot" else "cold", p)
    }.toDF("k", "v", "c", "p")
    MergeOps.mergeUpsert(spark, dir, df, "k", "p",
      dictKeys = Seq("c"), bloomKeys = Seq("c"))
    // dict pins 'hot' to p=1; bloom tier rides along on the same column
    val got = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq(("c", Seq("hot"))))
    assert(got.collect().map(_.getLong(0)).forall(_ % 4 == 1))
    // the reader consulted blooms only for dict survivors — rebuild the
    // same lazy map it used and replay the tier order to pin the
    // decode bound: dict prunes 3 of 4, so ≤1 bloom decodes
    val dicts = Versioned.zoneMaps(spark, dir, 1L).dicts
    val blooms = Versioned.zoneMaps(spark, dir, 1L, Some(Set("c"))).blooms
    val h = MergeOps.bloomProbeHash("hot")
    val survivors = Versioned.manifest(spark, dir, 1L).filter {
      case (n, _) =>
        dicts.get(n).forall(_.get("c").forall(_.contains("hot"))) &&
          blooms.get(n).forall(_.get("c").forall(_.mightContainLong(h)))
    }
    assert(survivors.map(_._1).toSet == Set("p=1"))
    assert(blooms.count(_._2("c").isDecoded) <= 1,
      "dict-pruned partitions must never decode their blooms")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.engine.Versioned
import graft.ops.{IncrementalOps, MergeOps, Relational}

/** Round-8 wave: dynamic partition pruning and incremental rollup
  * maintenance (exactly-once partial-aggregate folding). */
class Wave16Spec extends SparkTestBase {

  test("scan_dpp: dim filter becomes a dynamic partition filter; " +
       "no rows lost vs the unpartitioned replay") {
    val q = Relational.scanDpp(spark, sf)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = graft.engine.Tables.orders(spark, sf)
      .where(col("o_orderstatus").isin("F", "P"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, s"DPP slice must match the direct replay: $got vs $want")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      "the fact scan must carry a dynamicpruning partition filter")
  }

  test("incremental rollup: folds merge exactly, replay is a no-op, " +
       "untouched days never restage") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rollup_t").toString
    def ev(day: String, vs: Double*) = vs.zipWithIndex.map { case (v, i) =>
      (java.sql.Timestamp.valueOf(s"$day 0${i % 10}:00:00"), v) }
    val base = (ev("2024-03-01", 10.0, 20.0) ++ ev("2024-03-02", 5.5))
      .toDF("ts", "value")
    IncrementalOps.foldBatch(spark, dir, base, "b0")
    // batch touches day 2 only; day 1 must keep its v1 manifest pointer
    IncrementalOps.foldBatch(spark, dir,
      ev("2024-03-02", 4.5, 1.0).toDF("ts", "value"), "b1")
    val v = Versioned.currentVersion(spark, dir).get
    assert(v == 2L)
    val man = Versioned.manifest(spark, dir, v).toMap
    assert(man("day_s=2024-03-01").startsWith("data/1_"),
      s"untouched day must still point at version 1: $man")
    assert(man("day_s=2024-03-02").startsWith("data/2_"),
      s"touched day must point at version 2: $man")
    // replaying b1 must be a no-op (no new version, same rows)
    IncrementalOps.foldBatch(spark, dir,
      ev("2024-03-02", 4.5, 1.0).toDF("ts", "value"), "b1")
    assert(Versioned.currentVersion(spark, dir).get == 2L,
      "replayed batch id must not create a version")
    val rows = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("n_events"),
              col("sum_value").cast("string"), col("min_value"),
              col("max_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
                           r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("2024-03-01", 2L, "30.00", 10.0, 20.0),
      ("2024-03-02", 3L, "11.00", 1.0, 5.5)),
      s"merged rollup rows: ${rows.toSeq}")
  }

  test("agg_incremental_hll: incrementally-folded sketch estimates " +
       "track exact distinct; deterministic; ledger shared") {
    val got = graft.ops.IncrementalOps.aggIncrementalHll(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    val exact = graft.engine.Tables.events(spark, sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("d"), col("user_id"))
      .groupBy("d").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.length == exact.size,
      s"one row per day: ${got.length} vs ${exact.size}")
    got.foreach { case (d, _, est) =>
      val ex = exact(d).toDouble
      assert(math.abs(est.toDouble - ex) / ex <= 0.05,
        s"day $d: sketch estimate $est vs exact $ex beyond 5%")
    }
    // deterministic: the whole build+fold+replay pipeline reruns equal
    val again = graft.ops.IncrementalOps.aggIncrementalHll(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq == again.toSeq, "sketch rollup must be deterministic")
  }

  test("schema-evolving merge: widened partition restages, narrow " +
       "partitions keep v1 files, nulls fill at the read") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sev_t").toString
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 10.0, "A"), (2L, 20.0, "B")).toDF("k", "v", "p"), "k", "p")
    // batch adds column `extra`, touching only partition B
    MergeOps.mergeUpsert(spark, dir,
      Seq((3L, 30.0, "B", 7L)).toDF("k", "v", "p", "extra"), "k", "p")
    val man = Versioned.manifest(spark, dir,
      Versioned.currentVersion(spark, dir).get).toMap
    assert(man("p=A").startsWith("data/1_") && man("p=B").startsWith("data/2_"),
      s"only the touched partition may restage: $man")
    val rows = MergeOps.readCorpus(spark, dir, "p")
      .select("k", "extra").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
                                 else Some(r.getLong(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(7L)),
      s"new column: value on merged row, null elsewhere: $rows")
    // survivors in the touched partition null-fill too (2L was in B and
    // survived the merge — it restaged under the widened schema)
    val planFiles = MergeOps.readCorpus(spark, dir, "p")
      .where(col("k") === 2L).select("extra").collect()
    assert(planFiles(0).isNullAt(0))
  }

  test("round-8 durable exports (zorder, status dim) are reused by a " +
       "fresh process (memo reset)") {
    Relational.scanZorder(spark, sf).count()
    Relational.scanDpp(spark, sf).count()
    val zDir = Relational.ensureZorderExport(spark, sf)
    val dDir = Relational.ensureStatusDimExport(spark)
    val (z, d) = (new java.io.File(zDir, "_SUCCESS"),
                  new java.io.File(dDir, "_SUCCESS"))
    val (zT, dT) = (z.lastModified(), d.lastModified())
    Relational.resetZorderMemo()
    Relational.resetStatusDimMemo()
    Relational.scanZorder(spark, sf).count()
    Relational.scanDpp(spark, sf).count()
    assert(z.lastModified() == zT && d.lastModified() == dT,
      "a fresh JVM must reuse the durable exports, not rebuild them")
  }

  test("rollup store composes with compaction: many folds fragment a " +
       "day, compactPartitions squeezes it, rows unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rollup_cmp").toString
    def b(i: Int) = Seq(
      (java.sql.Timestamp.valueOf(s"2024-03-01 0$i:00:00"), i.toDouble))
      .toDF("ts", "value")
    (1 to 5).foreach(i => IncrementalOps.foldBatch(spark, dir, b(i), s"b$i"))
    val before = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("n_events"),
              col("sum_value").cast("string"))
      .collect().map(_.toSeq).toSet
    // the rollup store IS a Versioned corpus — the merge-maintenance
    // compactor applies verbatim
    MergeOps.compactPartitions(spark, dir, "day_s", maxFilesPerPart = 1)
    val manAfter = Versioned.manifest(spark, dir,
      Versioned.currentVersion(spark, dir).get)
    manAfter.foreach { case (_, rel) =>
      assert(Versioned.dataFileCount(spark, dir, rel) <= 1,
        s"compacted partition $rel must hold one file")
    }
    val after = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("n_events"),
              col("sum_value").cast("string"))
      .collect().map(_.toSeq).toSet
    assert(after == before, "compaction must be data-invisible")
    // the ledger survives compaction (and vacuum): a replayed
    // pre-compact batch id must STILL no-op — the sidecar-ledger
    // property; a stage-dir-resident ledger would be lost here and b5
    // would double-count
    Versioned.vacuum(spark, dir)
    val vBefore = Versioned.currentVersion(spark, dir).get
    IncrementalOps.foldBatch(spark, dir, b(5), "b5")
    assert(Versioned.currentVersion(spark, dir).get == vBefore,
      "post-compact+vacuum replay of an applied batch must no-op")
    val replayed = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("n_events"),
              col("sum_value").cast("string"))
      .collect().map(_.toSeq).toSet
    assert(replayed == before, "replay must not change the rollup")
  }

  test("runtime bloom-filter join: Spark injects might_contain on the " +
       "fact side of a selective dim join (the 100 TB semi-join push)") {
    // The application-side threshold defaults to 10 GB — at 100 TB the
    // filter injects on its own; at test scale it is scaled to zero.
    // autoBroadcastJoinThreshold is disabled so the join actually
    // shuffles (a broadcast join needs no runtime filter). Confs are
    // restored afterward — this session is shared across suites.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
        k -> scala.util.Try(conf.get(k)).toOption)
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter." +
               "applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      val q = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val n = q.collect().map(r => (r.getString(0), r.getLong(1)))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        "the fact scan side must carry the injected bloom probe")
      // and the filter is transparent: same result as the plain join
      val plain = spark.read.parquet(s"$sf/lineitem.parquet")
        .join(spark.read.parquet(s"$sf/orders.parquet")
                .where(col("o_orderpriority") === "1-URGENT"),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(n.toSeq == plain.toSeq, "runtime filtering must be invisible")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("zone-map stats: pruned read never scans out-of-range partitions; " +
       "missing stats fall back to full read; merges refresh stats") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_zonemap_t").toString
    // three key-range partitions: [1,10] in A, [11,20] in B, [21,30] in C
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, "A"), (10L, "A"), (11L, "B"), (20L, "B"), (21L, "C"),
          (30L, "C")).toDF("k", "p"), "k", "p", statsKeys = Seq("k"))
    val pruned = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      ranges = Seq(("k", 12L, 19L)))
    val rows = pruned.collect().map(_.getLong(0)).toSet
    assert(rows == Set[Long](),
      s"range 12..19 holds no keys (11 and 20 are outside): $rows")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("p=A") && !plan.contains("p=C"),
      s"stats must prune partitions A and C from the scan")
    assert(plan.contains("p=B"), "overlapping partition B must be read")
    // a merge into B refreshes its stats and keeps pruning correct
    MergeOps.mergeUpsert(spark, dir, Seq((15L, "B")).toDF("k", "p"),
                         "k", "p", statsKeys = Seq("k"))
    val after = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      ranges = Seq(("k", 12L, 19L)))
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(15L), s"post-merge pruned read: $after")
    // stats are an optimization, not a gate: a corpus without stats
    // still answers (all partitions read)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_zonemap_ns").toString
    MergeOps.mergeUpsert(spark, dir2,
      Seq((1L, "A"), (25L, "C")).toDF("k", "p"), "k", "p")
    val ns = MergeOps.readCorpusSkipPruned(spark, dir2, "p",
      ranges = Seq(("k", 0L, 100L)))
      .collect().map(_.getLong(0)).toSet
    assert(ns == Set(1L, 25L), s"stats-less corpus must read fully: $ns")
  }

  test("stream-static enrichment: every streamed event carries its dim " +
       "row; dim-missing users drop (inner semantics)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Double)]
    val q = graft.streaming.StreamOps.enrichWithDim(
        in.toDF().toDF("user_id", "value"), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      in.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
      q.processAllAvailable()
      in.addData((1L, 11.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("enriched")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq((1L, 10.0, "gold"), (1L, 11.0, "gold"),
                      (2L, 20.0, "silver")),
      s"enriched rows: $got (user 3 has no dim row and must drop)")
  }

  test("retention is manifest-only: survivors keep their v1 dirs, " +
       "expired days stay on disk for time travel until vacuum") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ret_t").toString
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, "2024-03-01"), (2L, "2024-03-02"), (3L, "2024-03-03"))
        .toDF("k", "day_s"), "k", "day_s")
    MergeOps.applyRetention(spark, dir, name => name >= "day_s=2024-03-02")
    val v = Versioned.currentVersion(spark, dir).get
    assert(v == 2L)
    val man = Versioned.manifest(spark, dir, v).toMap
    assert(man.keySet == Set("day_s=2024-03-02", "day_s=2024-03-03"),
      s"expired day must leave the manifest: $man")
    assert(man.values.forall(_.startsWith("data/1_")),
      s"survivors must keep their ORIGINAL dirs — no rewrite: $man")
    // the dropped day's files still exist (soft delete; v1 time travel)
    val v1 = Versioned.readVersion(spark, dir, 1L, Some("day_s"))
    assert(v1.count() == 3, "time travel to v1 must still see all days")
    assert(MergeOps.readCorpus(spark, dir, "day_s").count() == 2)
    // idempotent: nothing more expires -> no new version
    MergeOps.applyRetention(spark, dir, name => name >= "day_s=2024-03-02")
    assert(Versioned.currentVersion(spark, dir).get == 2L,
      "a no-op retention must not commit a version")
  }

  test("mm_shard_pack: per-kind byte offsets replay as an exclusive " +
       "prefix sum; greedy whole-asset shard rule") {
    val rows = graft.ops.MultimodalOps.mmShardPack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                 r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (kind, as) =>
      var cum = 0L
      as.sortBy(_._1).foreach { case (id, _, nb, shard, start) =>
        assert(start == cum,
          s"$kind asset $id: start $start != prefix sum $cum")
        assert(shard == start / 65536L,
          s"$kind asset $id: shard rule violated")
        cum += nb
      }
    }
  }

  test("changelog: insert/update/delete detected; unchanged partitions " +
       "are manifest-pruned out of the diff read") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdc_t").toString
    // v1: two partitions; v2 built by hand so partition A is REMOVED
    // rows (delete), B updated+inserted, and C untouched (same dir).
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "C"))
        .toDF("k", "v", "p"), "k", "p")
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 25.0, "B"), (4L, 40.0, "B")).toDF("k", "v", "p"), "k", "p")
    // hand-stage v3 without partition A at all (a delete no merge emits)
    val man2 = Versioned.manifest(spark, dir, 2L)
    Versioned.publish(spark, dir, 3L, man2.filterNot(_._1 == "p=A"))
    val log = MergeOps.changelog(spark, dir, 1L, 3L, "k", "p", "v")
    val got = log.select("k", "change", "old_value", "new_value")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(1L -> "delete", 2L -> "update", 4L -> "insert"),
      s"changelog rows: $got")
    // pruning: partition C's dir must not appear in the diff's scan
    val scans = log.queryExecution.executedPlan.toString
    assert(!scans.contains("p=C"),
      "an identical manifest entry must never be read by the diff")
  }

  test("streaming rollup maintenance: per-trigger folds equal the batch " +
       "rollup; ledger makes replays no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rollup_stream").toString
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val q = graft.streaming.StreamOps.rollupMaintenance(
        in.toDF().toDF("ts", "value"), dir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_rollup_ck").toString)
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      in.addData((t("2024-03-01 01:00:00"), 10.0),
                 (t("2024-03-01 02:00:00"), 20.0))
      q.processAllAvailable()
      in.addData((t("2024-03-01 03:00:00"), 4.5),
                 (t("2024-03-02 01:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()
    // replay of an already-applied stream batch id: no new version
    val v = Versioned.currentVersion(spark, dir).get
    IncrementalOps.foldBatch(spark, dir,
      Seq((t("2024-03-01 03:00:00"), 4.5)).toDF("ts", "value"), "stream:1")
    assert(Versioned.currentVersion(spark, dir).get == v,
      "replayed stream batch must be a ledger no-op")
    val got = IncrementalOps.readRollup(spark, dir)
      .select(col("day_s").cast("string"), col("n_events"),
              col("sum_value").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(("2024-03-01", 3L, "34.50"),
                      ("2024-03-02", 1L, "1.00")),
      s"stream-maintained rollup: $got")
  }
}

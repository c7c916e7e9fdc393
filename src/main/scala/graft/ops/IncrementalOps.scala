package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables._
import graft.engine.{Artifacts, Versioned}

/** Incremental aggregate maintenance — the materialized-rollup side of a
  * streaming/batch ingest pipeline: a day-level summary table over
  * `events` that is kept current by folding each new batch's PARTIAL
  * aggregates into only the days the batch touches, never rescanning
  * history. This is the standing answer to "the dashboard query scans
  * 100 TB every morning": the rollup is the size of |days| × |groups|,
  * each fold costs O(batch + touched-day summary rows), and the summary
  * measures are chosen mergeable (count / decimal sum / min / max) so
  * partial ⊕ partial = total holds exactly.
  *
  * Exactly-once: unlike upsert, aggregate folding is NOT idempotent — a
  * replayed batch would double-count. Each fold writes a
  * `ledger/<v>_<token>.txt` sidecar (the batch ids folded so far, at
  * the fold's own attempt token) BEFORE the version is published, so a
  * fold whose id is already in the ledger is a no-op and a crash
  * between stage and publish leaves both the ledger and the data on
  * the previous version — they cannot diverge. See
  * [[appliedIds]] for why the ledger is a sidecar rather than a
  * stage-dir resident. Same commit discipline as the streaming stores,
  * composed with the merge protocol's manifest pruning. */
object IncrementalOps {

  private val DayCol = "day_s"

  /** The applied-batch ledger as of version `v` — a tokenized
    * `ledger/<v>_<token>.txt`
    * sidecar beside `manifest/` and `stats/`, NOT inside the version's
    * stage dir: manifest-level commits (compaction, retention) publish
    * versions with no stage dir of their own, and vacuum deletes
    * unreferenced stage dirs — either would silently lose a
    * stage-dir-resident ledger, and a replayed batch id would then
    * double-count (the composition bug the Wave16 compaction test
    * pins). Rollback is handled by [[Versioned.rollback]] itself: it
    * copies forward the newest COMMITTED ledger at or below the target
    * version — the same walk-back this reader performs — so ledger
    * state rolls back with the data even when the target is a
    * ledgerless maintenance commit, and a rolled-back batch re-folds
    * instead of silently no-opping (the r8 and r9 advice defects; the
    * Wave17 rollback tests pin both). The read walks
    * back to the newest COMMITTED version with a ledger file (bounded
    * by version count, two existence probes per step); the write lands
    * BEFORE publish, so ledger and data still commit together. */
  private def appliedIds(s: SparkSession, dir: String, v: Long): Set[String] =
    // COMMITTED ledgers only, resolved through each version's marker
    // token: a crashed fold's orphaned ledger (tokenized, never bound
    // to a marker) and a losing racer's ghost are both invisible here —
    // trusting either would mark a never-committed batch as applied,
    // silent data loss on the retry. Shared with the mirror syncs —
    // see [[Versioned.appliedLedgerIds]].
    Versioned.appliedLedgerIds(s, dir, v)

  /** Partial day-level rollup of a batch of event rows. The measures are
    * the mergeable four; the sum is DECIMAL(18,2) of the 2-dp-rounded
    * value so fold order can never move the result (same determinism
    * contract as agg_decimal's money math). */
  private def rollup(batch: DataFrame): DataFrame =
    batch
      .select(date_format(col("ts"), "yyyy-MM-dd").as(DayCol),
              col("value"))
      .groupBy(DayCol)
      .agg(count(lit(1)).as("n_events"),
           sum(expr("CAST(round(value, 2) AS DECIMAL(18,2))"))
             .cast("decimal(38,2)").as("sum_value"),
           min(col("value")).as("min_value"),
           max(col("value")).as("max_value"))

  /** Merge two summary row-sets for the SAME days: re-aggregate with the
    * measure-specific combiners (count→sum, sum→sum, min→min, max→max). */
  private def mergePartials(rows: DataFrame): DataFrame =
    rows.groupBy(DayCol)
      .agg(sum("n_events").as("n_events"),
           sum("sum_value").cast("decimal(38,2)").as("sum_value"),
           min("min_value").as("min_value"),
           max("max_value").as("max_value"))

  /** Fold one batch into the versioned rollup at `dir`, exactly once per
    * `batchId`: partial-aggregate the batch, restage ONLY the touched
    * day partitions (manifest-pruned read of their current summary rows,
    * merged with the partials), carry forward the applied-ledger + the
    * new id, publish atomically. Replay of an applied id is a no-op. */
  def foldBatch(s: SparkSession, dir: String, batch: DataFrame,
                batchId: String): Unit =
    foldBatchWith(s, dir, batch, batchId, rollup, mergePartials)

  /** [[foldBatch]] with the sketch-bearing rollup: the summary carries a
    * mergeable HLL sketch of the day's distinct users alongside the
    * algebraic measures, so INCREMENTAL DISTINCT — the aggregate that
    * plain incremental maintenance cannot express (distinct is not
    * algebraic: yesterday's count + today's count double-counts
    * returning users) — folds the same way everything else does:
    * sketch ⊕ sketch. The stored artifact answers "distinct users for
    * ANY day range" by unioning day sketches, never rescanning events. */
  def foldBatchHll(s: SparkSession, dir: String, batch: DataFrame,
                   batchId: String): Unit =
    foldBatchWith(s, dir, batch, batchId, rollupHll, mergePartialsHll)

  private def rollupHll(batch: DataFrame): DataFrame =
    batch
      .select(date_format(col("ts"), "yyyy-MM-dd").as(DayCol),
              col("value"), col("user_id"))
      .groupBy(DayCol)
      .agg(count(lit(1)).as("n_events"),
           sum(expr("CAST(round(value, 2) AS DECIMAL(18,2))"))
             .cast("decimal(38,2)").as("sum_value"),
           hll_sketch_agg(col("user_id")).as("users_sk"))

  private def mergePartialsHll(rows: DataFrame): DataFrame =
    rows.groupBy(DayCol)
      .agg(sum("n_events").as("n_events"),
           sum("sum_value").cast("decimal(38,2)").as("sum_value"),
           hll_union_agg(col("users_sk")).as("users_sk"))

  private def foldBatchWith(s: SparkSession, dir: String, batch: DataFrame,
                            batchId: String,
                            roll: DataFrame => DataFrame,
                            mergeP: DataFrame => DataFrame): Unit = {
    require(!batchId.contains("\n"), "batchId must be single-line")
    // the ledger is written with the fold's own attempt token by the
    // commit kernel, so id and data publish together
    def fold(v: Option[Long], man: Seq[(String, String)],
             rows: DataFrame, replaced: Set[String]): Unit =
      MergeOps.commit(s, dir, v, man,
        Some(MergeOps.Stage(rows, Some(DayCol))), replaced = replaced,
        // a restaged day's counts and sums grew: its lines drop
        stats = MergeOps.CarryUnchanged,
        ledgerId = Some(batchId), declareTouch = false)
    Versioned.currentVersion(s, dir) match {
      case None => fold(None, Nil, roll(batch), Set.empty)
      case Some(v) =>
        if (Versioned.ledgerContains(appliedIds(s, dir, v), batchId)) return
        val part = roll(batch)
        // Bounded driver-side list: the batch's DAY values (#days, not
        // #rows) — the manifest-pruning predicate, as in mergeUpsert.
        val touched = part.select(DayCol).distinct().collect()
          .map(r => Versioned.partDirName(DayCol, r.getString(0))).toSet
        if (touched.isEmpty) return
        val man = Versioned.manifest(s, dir, v)
        val oldEntries = Versioned.entriesNamed(man, touched)
        val merged =
          if (oldEntries.isEmpty) part
          else mergeP(
            Versioned.readEntries(s, dir, oldEntries, Some(DayCol), man)
              // partition-dir values like 2024-03-01 infer back as DATE;
              // re-cast so the union and the rewrite stay string-keyed
              .withColumn(DayCol, col(DayCol).cast("string"))
              .selectExpr(part.columns: _*)
              .unionByName(part))
        fold(Some(v), man, merged, oldEntries.map(_._1).toSet)
    }
  }

  /** Current committed rollup state. */
  def readRollup(s: SparkSession, dir: String): DataFrame =
    Versioned.readCurrent(s, dir, Some(DayCol))

  /** Declared agg_incremental query: build the rollup from a base load
    * (all but the last 7 days), fold the last week as two batches, fold
    * the SECOND batch AGAIN (the replay must be a no-op — exactly-once
    * is part of the checked contract), and return the summary. The
    * oracle is one flat GROUP BY over ALL events, so equality proves
    * partial ⊕ partial = total for every measure AND that the replayed
    * fold did not double-count. */
  def aggIncremental(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "rollup", d)
    val ev = events(s, d).withColumn("d", to_date(col("ts")))
    val cut = ev.agg(date_sub(max(col("d")), 6).as("c"),
                     date_sub(max(col("d")), 3).as("m")).collect()(0)
    val (c, m) = (cut.getDate(0), cut.getDate(1))
    foldBatch(s, dir, ev.where(col("d") < lit(c)).drop("d"), "base")
    foldBatch(s, dir, ev.where(col("d") >= lit(c) && col("d") < lit(m))
      .drop("d"), "week-a")
    foldBatch(s, dir, ev.where(col("d") >= lit(m)).drop("d"), "week-b")
    foldBatch(s, dir, ev.where(col("d") >= lit(m)).drop("d"), "week-b")
    readRollup(s, dir)
      .select(col(DayCol).cast("string").as(DayCol), col("n_events"),
              col("sum_value").cast("string").as("sum_value"),
              round(col("min_value"), 4).as("min_value_r"),
              round(col("max_value"), 4).as("max_value_r"))
      .orderBy(DayCol)
  }

  /** Declared agg_incremental_hll query: the same base + two-fold +
    * replay pipeline, with the sketch-bearing rollup — per-day distinct
    * users maintained incrementally as HLL state. No SQL oracle (the
    * estimate is sketch-defined); Wave16 bounds every day's estimate
    * against the exact distinct and pins determinism + the ledger. The
    * algebraic columns still ride along, so the sketch store subsumes
    * the plain one. */
  def aggIncrementalHll(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "rolluph", d)
    val ev = events(s, d).withColumn("d", to_date(col("ts")))
    val cut = ev.agg(date_sub(max(col("d")), 6).as("c"),
                     date_sub(max(col("d")), 3).as("m")).collect()(0)
    val (c, m) = (cut.getDate(0), cut.getDate(1))
    foldBatchHll(s, dir, ev.where(col("d") < lit(c)).drop("d"), "base")
    foldBatchHll(s, dir, ev.where(col("d") >= lit(c) && col("d") < lit(m))
      .drop("d"), "week-a")
    foldBatchHll(s, dir, ev.where(col("d") >= lit(m)).drop("d"), "week-b")
    foldBatchHll(s, dir, ev.where(col("d") >= lit(m)).drop("d"), "week-b")
    readRollup(s, dir)
      .select(col(DayCol).cast("string").as(DayCol), col("n_events"),
              col("sum_value").cast("string").as("sum_value"),
              hll_sketch_estimate(col("users_sk")).as("n_users_est"))
      .orderBy(DayCol)
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming operators (SURVEY §2.H, T3 — no batch oracle; unit
  * tests drive them with MemoryStream). Each takes a streaming DataFrame
  * with the `events` schema (event_id, ts, user_id, event_type, value) and
  * returns a transformed stream; the batch-mode twins live in
  * graft.ops.EventOps (same window semantics, oracle-checked).
  *
  * Scale: state lives in the StateStore keyed by (window, group) —
  * partitioned by the shuffle key, so state sharding follows data
  * sharding; the watermark bounds state size. */
object StreamOps {

  /** Watermarked 1-hour tumbling counts. Append mode emits a window only
    * once the 10-minute watermark passes its end; later rows are dropped. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("cnt"), col("sum_value"))

  /** Stateful exact dedup by event_id, state bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Sessionization on a stream: same session_window as the batch twin,
    * with watermark-driven state eviction. */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"), col("n_events"))

  /** foreachBatch sink: per-microbatch append to parquet — the
    * idempotent-upsert shape (batchId available for exactly-once
    * bookkeeping). */
  def foreachBatchParquet(stream: DataFrame, path: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(path)
      }

  /** Fold ONE micro-batch of documents into a minhash signature store —
    * the unit of work [[sigStoreMaintenance]] runs per trigger, factored
    * out so idempotence is directly testable. Each batch lands in its own
    * `batch_id=<id>` partition dir with mode("overwrite"): a replayed
    * batch (restart between sink write and checkpoint commit — the
    * at-least-once window foreachBatch leaves open) rewrites ITS OWN dir
    * instead of appending duplicates, which is what upgrades the sink to
    * exactly-once per batch id. Only the batch's documents are shingled —
    * the per-crawl cost contract of [[graft.ops.SimOps.dedupIncremental]],
    * now maintained continuously from a stream. */
  def foldBatchIntoSigStore(batch: DataFrame, batchId: Long,
                            storePath: String): Unit =
    graft.ops.SimOps.minhashSignaturesOf(batch)
      .write.mode("overwrite").parquet(s"$storePath/batch_id=$batchId")

  /** Streaming maintenance of the minhash signature store: the ingest
    * loop that keeps dedup state current per micro-batch (r7 verdict
    * item 5 — the missing streaming→store composition). Read back with
    * [[readSigStore]]; probe with [[graft.ops.SimOps.dedupNewVsStore]]. */
  def sigStoreMaintenance(docs: DataFrame,
                          storePath: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatchIntoSigStore(batch, batchId, storePath)
      }

  /** The stream-maintained store in the exact (doc_id, h0..h31) shape the
    * batch store has — the `batch_id` partition column is bookkeeping,
    * not signature state, so it is dropped at the read boundary. */
  def readSigStore(s: org.apache.spark.sql.SparkSession,
                   storePath: String): DataFrame =
    s.read.parquet(storePath).drop("batch_id")

  /** THE maintenance-sink shape: an append-mode `foreachBatch` that
    * runs one store verb per micro-batch inside
    * [[graft.engine.Versioned.withCommitRetry]]. Losing a commit race
    * to a concurrent writer on a shared store (a batch backfill, a
    * compactor) is the EXPECTED event, and every verb re-derives from
    * current state per attempt, so the sink absorbs the race instead of
    * killing the streaming query — while pathological contention still
    * surfaces after the bounded attempts (a dead trigger beats silent
    * starvation). Exactly-once is each verb's own argument, stated at
    * its sink. */
  private def commitSink(input: DataFrame)(
      verb: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    input.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.engine.Versioned.withCommitRetry()(verb(batch, batchId))
      }

  /** Streaming maintenance of the day-level rollup
    * ([[graft.ops.IncrementalOps]]): each micro-batch's PARTIAL
    * aggregates fold into only the days it touches, through the same
    * versioned commit + applied-ledger the batch path uses — so the
    * at-least-once window foreachBatch leaves open is closed by the
    * LEDGER, not by dir-overwrite tricks: a replayed `stream:<id>` fold
    * is a no-op because the id is already in the current version's
    * applied set. This is the third streaming→store composition (after
    * the minhash and embedding stores): the dashboard rollup stays
    * current per trigger, and a batch backfill and the stream can share
    * one store because both go through foldBatch ([[commitSink]]). */
  def rollupMaintenance(events: DataFrame,
                        rollupDir: String): DataStreamWriter[Row] =
    commitSink(events) { (batch, batchId) =>
      graft.ops.IncrementalOps.foldBatch(
        batch.sparkSession, rollupDir, batch, s"stream:$batchId")
    }

  /** Streaming TOMBSTONE sink (round 11): each micro-batch of doomed
    * keys row-level-deletes from a versioned corpus via
    * [[graft.ops.MergeOps.mergeDelete]] — the CDC-ingestion-with-
    * deletes pattern (upstream emits deletions, the corpus applies
    * them copy-on-write per trigger). Exactly-once needs NO ledger
    * here: deletes are idempotent by construction — a replayed batch's
    * keys are already gone, the touched-partition semi-join finds
    * nothing, and the sink publishes nothing ([[commitSink]]). */
  def deleteMaintenance(tombstones: DataFrame, corpusDir: String,
                        keyCol: String,
                        partCol: String): DataStreamWriter[Row] =
    commitSink(tombstones) { (batch, _) =>
      graft.ops.MergeOps.mergeDelete(
        batch.sparkSession, corpusDir, batch, keyCol, partCol)
    }

  /** MERGE-ON-READ twin of [[deleteMaintenance]]: each micro-batch of
    * doomed keys lands as ONE tombstone dir + dv sidecar
    * ([[graft.ops.MergeOps.mergeDeleteMor]]) — per-trigger write cost
    * ∝ the batch's keys, never partition bytes, which is what a
    * latency-critical deletion stream (GDPR requests as they arrive)
    * wants; the read-side anti-join tax accrues until the next
    * compaction/restage materializes it. Exactly-once by the same
    * argument as the CoW sink: a replayed batch's keys are already
    * tombstoned, read as absent, and the all-miss delete publishes
    * NOTHING. */
  def deleteMaintenanceMor(tombstones: DataFrame, corpusDir: String,
                           keyCol: String,
                           partCol: String): DataStreamWriter[Row] =
    commitSink(tombstones) { (batch, _) =>
      graft.ops.MergeOps.mergeDeleteMor(
        batch.sparkSession, corpusDir, batch, keyCol, partCol)
    }

  /** Streaming MERGE INTO — the CDC-INGESTION sink: each micro-batch of
    * changelog rows (full row schema + `op` ∈ i/u/d) applies ATOMICALLY
    * to the versioned corpus via
    * [[graft.ops.MergeOps.mergeApplyChangelog]], one committed version
    * per publishing trigger. Unlike the delete sinks, a changelog
    * replay is NOT naturally idempotent (a replayed update batch would
    * re-commit a version even at the same content), so exactly-once is
    * the LEDGER's: the batch id lands in the store's applied-id set
    * inside the same committed version, and the replay the at-least-
    * once foreachBatch contract allows finds `stream-cdc:<id>` applied
    * (one high-water ledger line per source) and no-ops. */
  def cdcApplyMaintenance(changes: DataFrame, corpusDir: String,
                          keyCol: String,
                          partCol: String): DataStreamWriter[Row] =
    commitSink(changes) { (batch, batchId) =>
      graft.ops.MergeOps.mergeApplyChangelog(
        batch.sparkSession, corpusDir, batch, keyCol, partCol,
        ledgerId = Some(s"stream-cdc:$batchId"))
    }

  /** Streaming REPLICATION: per trigger, advance the mirror to the
    * source's current content with ONE net change feed
    * ([[graft.ops.MergeOps.syncMirror]]). The stream's rows are only
    * the trigger clock (their content is ignored) — the data flows
    * source→mirror through the feed, so this composes with ANY
    * ingest writing the source (batch merges, the delete sinks above,
    * another stream). Exactly-once is the mirror ledger's: a replayed
    * trigger finds `src:<v>` applied and no-ops; an up-to-date source
    * publishes nothing at all. */
  def mirrorMaintenance(ticks: DataFrame, srcDir: String, dstDir: String,
                        keyCol: String,
                        partCol: String): DataStreamWriter[Row] =
    commitSink(ticks) { (batch, _) =>
      graft.ops.MergeOps.syncMirror(
        batch.sparkSession, srcDir, dstDir, keyCol, partCol)
      ()  // the synced version is diagnostics
    }

  /** Open a versioned store's change feed as a STREAM — the read-side
    * CDC completion ([[ChangeFeedStream]]): one micro-batch per
    * source-version advance, offset = last emitted source version,
    * restart-safe through Spark's own offset log. `startVersion`:
    * None = changes after stream start; Some(0) = bootstrap (first
    * batch is the full snapshot as inserts); Some(n) = diff from
    * version n. The partition layout comes from the store's
    * manifests. */
  def feedStream(s: org.apache.spark.sql.SparkSession, srcDir: String,
                 keyCol: String,
                 startVersion: Option[Long] = None,
                 maxVersionsPerTrigger: Option[Long] = None,
                 maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    val r0 = s.readStream
      .format("graft.streaming.ChangeFeedSourceProvider")
      .option("dir", srcDir)
      .option("keyCol", keyCol)
    val r1 = startVersion.fold(r0)(v => r0.option("startVersion", v.toString))
    val r2 = maxVersionsPerTrigger
      .fold(r1)(m => r1.option("maxVersionsPerTrigger", m.toString))
    maxBytesPerTrigger
      .fold(r2)(b => r2.option("maxBytesPerTrigger", b.toString))
      .load()
  }

  /** Apply a [[feedStream]] to a MIRROR store, exactly-once — the
    * streaming twin of [[graft.ops.MergeOps.syncMirror]], with the
    * data flowing through Spark's offset log instead of a poll loop.
    * Each micro-batch of feed rows (full schema + `change_type`)
    * applies as ONE committed changelog version keyed
    * `stream-feed:<batchId>`: a replayed batch id re-reads the SAME
    * immutable version range, so the identical feed re-applies and the
    * destination ledger no-ops it (the cdcApplyMaintenance argument).
    * An all-insert FIRST batch against an empty mirror bootstraps via
    * [[graft.ops.MergeOps.mergeUpsert]] under the same ledger id. */
  def feedMirrorMaintenance(feed: DataFrame, dstDir: String,
                            keyCol: String,
                            partCol: String): DataStreamWriter[Row] =
    commitSink(feed) { (batch, batchId) =>
      val s = batch.sparkSession
      val changes = batch.withColumn("op",
          when(col("change_type") === "delete", lit("d"))
            .when(col("change_type") === "insert", lit("i"))
            .otherwise(lit("u")))
        .drop("change_type")
      if (graft.engine.Versioned.currentVersion(s, dstDir).isEmpty)
        // an empty feed against a not-yet-bootstrapped mirror founds
        // nothing (a zero-row bootstrap publishes no version); the
        // store (and its ledger) begins with the first real batch
        graft.ops.MergeOps.mergeUpsert(s, dstDir,
          changes.where(col("op") =!= "d").drop("op"),
          keyCol, partCol, ledgerId = Some(s"stream-feed:$batchId"))
      else
        graft.ops.MergeOps.mergeApplyChangelog(s, dstDir, changes,
          keyCol, partCol, ledgerId = Some(s"stream-feed:$batchId"))
    }

  /** Fold ONE micro-batch of embeddings-shaped rows (vec_id, label,
    * embedding float[]) into a streamed embedding index: quantized
    * vectors and LSH signatures land in per-batch `batch_id=<id>` dirs
    * (same exactly-once-by-overwrite contract as
    * [[foldBatchIntoSigStore]]). `bits` is the store's FIXED geometry:
    * unlike the batch store — whose bits any reader can recover from its
    * immutable row count — a streamed store GROWS, so a count-derived
    * geometry would drift and orphan every earlier batch's signatures.
    * The maintainer therefore pins bits at store creation and records it
    * in a `_geometry` file (rewritten idempotently with the same value
    * each batch; underscore names are invisible to the parquet reader).
    * Occupancy grows with the corpus under a fixed geometry — the
    * documented rebuild trigger is n ≳ 4× the sizing corpus, at which
    * point a batch rebuild ([[graft.ops.SimOps.ensureEmbSignatureStore]]
    * pattern) re-derives bits. */
  def foldBatchIntoEmbStore(batch: DataFrame, batchId: Long,
                            vecPath: String, sigPath: String,
                            bits: Int): Unit = {
    val v = graft.ops.SimOps.normedOf(batch.sparkSession, batch)
      .localCheckpoint() // two writes below; shingle/hash the batch once
    graft.ops.SimOps.embStoreVecRows(v)
      .write.mode("overwrite").parquet(s"$vecPath/batch_id=$batchId")
    graft.ops.SimOps.embStoreSigRows(v, bits)
      .write.mode("overwrite").parquet(s"$sigPath/batch_id=$batchId")
    val p = new org.apache.hadoop.fs.Path(vecPath, "_geometry")
    val fs = p.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$bits\n".getBytes("UTF-8")) finally out.close()
  }

  /** Streaming maintenance of the embedding ANN store — the
    * [[sigStoreMaintenance]] pattern for vectors: per micro-batch, only
    * the new vectors are normalized/hashed, and the store stays
    * probe-ready for [[graft.ops.SimOps.incrementalAnnProbe]]. */
  def embStoreMaintenance(vectors: DataFrame, vecPath: String,
                          sigPath: String, bits: Int): DataStreamWriter[Row] =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatchIntoEmbStore(batch, batchId, vecPath, sigPath, bits)
      }

  /** Read a streamed embedding store back in probe form: dequantized
    * vectors, bare signatures, and the pinned geometry. */
  def readEmbStore(s: org.apache.spark.sql.SparkSession, vecPath: String,
                   sigPath: String): (DataFrame, DataFrame, Int) = {
    val p = new org.apache.hadoop.fs.Path(vecPath, "_geometry")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val bits =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    (graft.ops.SimOps.readEmbVecStore(s, vecPath),
     s.read.parquet(sigPath).select("vec_id", "tbl", "key"), bits)
  }

  /** Custom keyed state via flatMapGroupsWithState: running per-user event
    * count that survives across microbatches. State is one Long per user,
    * sharded by the groupByKey shuffle — the arbitrary-state escape hatch
    * when windowed aggs can't express the logic. */
  def runningUserCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.selectExpr("user_id", "event_id").as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator((user, total))
      }
      .toDF("user_id", "running_events")
  }

  /** Streaming twin of the batch ts_anomaly: per-user running moments
    * (Welford n/mean/M2) held as keyed state; each purchase is scored
    * against the state as it stood BEFORE that row folds in, so a value
    * is never judged against itself. State is three numbers per user —
    * bounded and sharded by the groupByKey shuffle — where the batch op
    * sorts a trailing window; the trade is expanding-window moments
    * instead of a sliding frame, the standard online form. Rows within a
    * microbatch fold in event_id order so replays are deterministic. */
  def streamingAnomaly(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.where(col("event_type") === "purchase")
      .selectExpr("user_id", "event_id", "value")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Double),
                              (Long, Long, Double, Option[Double])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Double)],
         state: GroupState[(Long, Double, Double)]) =>
          var (n, mean, m2) = state.getOption.getOrElse((0L, 0.0, 0.0))
          val out = rows.toSeq.sortBy(_._2).map { case (_, id, v) =>
            val z =
              if (n >= 5 && m2 > 0)
                Some((v - mean) / math.sqrt(m2 / (n - 1)))
              else None
            n += 1
            val delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
            (user, id, v, z)
          }
          state.update((n, mean, m2))
          out.iterator
      }
      .toDF("user_id", "event_id", "value", "z")
  }

  /** Stream-stream inner join: purchases joined to the click that preceded
    * them by at most 10 minutes, per user. Watermarks on both sides bound
    * the join state; the time-range condition tells Spark when buffered
    * rows can be evicted. */
  /** Stream-static enrichment — the remaining streaming join shape
    * (stream-stream is [[clickToPurchaseJoin]]): each micro-batch of
    * events joins a STATIC dimension snapshot. No watermark, no join
    * state — the dim is re-broadcast per batch, so at 100 TB/day of
    * stream the dimension cost is one broadcast per trigger, and a
    * dim UPDATE is picked up at the next batch (the slowly-refreshing
    * lookup-table pattern; for point-in-time-correct enrichment use the
    * SCD2 history + join_asof instead). */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), "user_id")

  def clickToPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("ts", "10 minutes").alias("c")
      .join(
        purchases.withWatermark("ts", "10 minutes").alias("p"),
        expr("""c.user_id = p.user_id AND
               |p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTES"""
          .stripMargin))
      .select(col("c.user_id").as("user_id"),
              col("c.event_id").as("click_id"),
              col("p.event_id").as("purchase_id"),
              col("c.ts").as("click_ts"), col("p.ts").as("purchase_ts"))
}

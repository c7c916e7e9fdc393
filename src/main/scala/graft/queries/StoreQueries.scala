package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Artifacts, Versioned}
import graft.engine.Tables._
import graft.ops.{BranchOps, MergeOps}
import graft.ops.MergeOps._

/** Declared queries over the versioned store: each builds a fresh
  * scratch store ([[Artifacts.scratchDir]]) from the input dataset, runs
  * one lifecycle through the engine's write verbs, and returns a read-back
  * the oracle can check. */
object StoreQueries {

  /** Content-stable fold bucket 0..99 of a key. */
  private def fold(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
      .cast("long").mod(100)

  /** The orders store rows: (o_orderkey, o_totalprice, o_orderstatus). */
  private def orderRows(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))

  /** The orders re-pricing fixture: bootstraps `dir` with the fold < 90
    * rows partitioned by status (v1) and returns (rows, batch), where
    * the batch re-prices fold ≥ 80 ×2 — buckets 80–89 UPDATE bootstrapped
    * keys, 90–99 INSERT new ones. */
  private def repricing(s: SparkSession, d: String,
                        dir: String): (DataFrame, DataFrame) = {
    val base = orderRows(s, d)
    mergeUpsert(s, dir, base.where(fold(col("o_orderkey")) < 90),
                "o_orderkey", "o_orderstatus")
    (base, base.where(fold(col("o_orderkey")) >= 80)
      .withColumn("o_totalprice", col("o_totalprice") * 2))
  }

  /** The CDC batch over fold 80–94 of `base`: op `u` (80–84, price ×2),
    * `d` (85–89) and `i` (90–94). */
  private def cdcBatch(base: DataFrame): DataFrame = {
    val b = fold(col("o_orderkey"))
    base.where(b >= 80 && b <= 94)
      .withColumn("op",
        when(b <= 84, lit("u")).when(b <= 89, lit("d")).otherwise(lit("i")))
      .withColumn("o_totalprice",
        when(col("op") === "u", col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
  }

  /** Declared merge_upsert query: build a corpus snapshot (orders with
    * fold < 90, partitioned by o_orderstatus), merge in a batch of
    * re-priced rows (fold ≥ 80: buckets 80-89 UPDATE existing keys,
    * 90-99 INSERT new ones), merge the SAME batch a second time —
    * idempotency is part of the checked contract — and return the corpus
    * read back. The oracle is pure SQL over the source table: every
    * order, re-priced iff its fold ≥ 80. */
  def mergeUpsertQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "merge", d)
    val (base, batch) = repricing(s, d, dir)
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_upsert_compact query: the full maintenance loop —
    * the same corpus/batch/double-merge as [[mergeUpsertQuery]], then
    * [[compactPartitions]] down to one file per partition and a
    * [[Versioned.vacuum]] of the dead version dirs — read back through
    * the committed view. Same oracle as merge_upsert: compaction and
    * vacuum are REQUIRED to be invisible in the data (multiset-
    * preserving, referenced-dirs-only), and running them inside the
    * oracle-checked path is what enforces that end-to-end. */
  def mergeUpsertCompactQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "mergec", d)
    val (base, batch) = repricing(s, d, dir)
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    compactPartitions(s, dir, "o_orderstatus", maxFilesPerPart = 1)
    graft.engine.Versioned.vacuum(s, dir)
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_upsert_timetravel query: corpus snapshot at version
    * 1, a re-pricing merge on top (version 2), then the corpus read AS
    * OF version 1 — the oracle is the PRE-merge snapshot, so equality
    * proves the merge left version 1's files untouched and the manifest
    * resolution is exact. Time travel is the versioned protocol's free
    * dividend: immutable data dirs + per-version manifests. */
  def mergeUpsertTimetravelQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "mergett", d)
    val (base, batch) = repricing(s, d, dir)
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    Versioned.readVersion(s, dir, 1L, Some("o_orderstatus"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_upsert_rollback query: same pipeline, then an atomic
    * ROLLBACK to version 1 and a CURRENT read — same oracle as time
    * travel (the rollback publishes version 1's manifest as version 3;
    * nothing is deleted, so a bad rollback rolls forward the same way). */
  def mergeUpsertRollbackQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "mergerb", d)
    val (base, batch) = repricing(s, d, dir)
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    Versioned.rollback(s, dir, toVersion = 1L)
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_cdc query: the merge_upsert pipeline (snapshot →
    * re-pricing merge), then the v1→v2 changelog. The oracle restates
    * the expected change rows straight from the source table and the
    * fold rule: buckets 80-89 are updates (old → ×2), 90-99 inserts.
    * Equality proves the diff finds exactly the merged keys — and the
    * manifest pruning drops only unchanged partitions. */
  def mergeCdcQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "mergecdc", d)
    val (base, batch) = repricing(s, d, dir)
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    changelog(s, dir, 1L, 2L, "o_orderkey", "o_totalprice")
      .select(col("o_orderkey"), col("change"),
              round(col("old_value"), 2).as("old_price_r"),
              round(col("new_value"), 2).as("new_price_r"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_schema_evolve query: a batch carrying a column the
    * corpus predates (`urgent`) merges into ONE partition (status F) —
    * the F partition restages under the widened schema, the other
    * partitions are untouched (their manifest entries still point at
    * version 1's narrow files), and the committed read unions the two
    * schemas with null-fill. The oracle restates the whole outcome from
    * the fold rule, so equality proves: the new column landed on exactly
    * the merged rows, survivors in the touched partition null-filled,
    * and untouched partitions neither rewrote nor grew the column
    * physically. Write-side schema evolution without a table rewrite —
    * the lakehouse ALTER TABLE ADD COLUMN. */
  def mergeSchemaEvolveQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "mergesev", d)
    val o = orders(s, d)
    mergeUpsert(s, dir,
      o.select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .where(fold(col("o_orderkey")) < 90),
      "o_orderkey", "o_orderstatus")
    val batch = o
      .where(fold(col("o_orderkey")) >= 80 && col("o_orderstatus") === "F")
      .select(col("o_orderkey"),
              (col("o_totalprice") * 2).as("o_totalprice"),
              col("o_orderstatus"),
              (col("o_orderpriority") === "1-URGENT").cast("int")
                .as("urgent"))
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price_r"),
              col("o_orderstatus"), col("urgent"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_history query: the standard snapshot → merge →
    * replayed-merge pipeline, then the commit log. Version 1 is the
    * fold<90 snapshot, version 2 the merged state, version 3 the
    * REPLAY — identical rows to v2 (idempotence made auditable: the
    * history row proves the replay changed nothing). */
  def mergeHistoryQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "mergehist", d)
    val (base, batch) = repricing(s, d, dir)
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    mergeUpsert(s, dir, batch, "o_orderkey", "o_orderstatus")
    history(s, dir, "o_orderstatus")
  }

  /** Declared scan_manifest_pruned query: orders clustered into
    * key-range partitions (kb = o_orderkey DIV 2048 — a layout rule the
    * READER never sees), zone-map stats written through the merge, and
    * a key-range read that prunes by stats alone before touching any
    * file. Oracle = the plain filter on the source table; Wave16 pins
    * that pruned-out partitions never appear in the scan. */
  def scanManifestPrunedQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "zonemap", d)
    val o = orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"),
              (col("o_orderkey") / 2048).cast("long").as("kb"))
    mergeUpsert(s, dir, o, "o_orderkey", "kb",
                statsKeys = Seq("o_orderkey"))
    readCorpusSkipPruned(s, dir, "kb",
        ranges = Seq(("o_orderkey", 1000L, 2999L)))
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price_r"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_delete query: build the full orders corpus
    * (partitioned by status), row-level-DELETE the fold ≥ 70 keys
    * (~30%, spread across every partition), delete the SAME keys again
    * — idempotence is part of the checked contract (the second pass
    * must find no touched partition and publish nothing) — and read
    * the survivors back. The oracle is the plain complement filter
    * over the source table: equality proves the copy-on-write restage
    * removed exactly the doomed keys and nothing else. */
  def mergeDeleteQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "mergedel", d)
    val base = orderRows(s, d)
    mergeUpsert(s, dir, base, "o_orderkey", "o_orderstatus")
    val doomed = base.where(fold(col("o_orderkey")) >= 70)
      .select("o_orderkey")
    mergeDelete(s, dir, doomed, "o_orderkey", "o_orderstatus")
    mergeDelete(s, dir, doomed, "o_orderkey", "o_orderstatus")
    val vAfter = Versioned.currentVersion(s, dir).get
    require(vAfter == 2L,
      s"idempotent re-delete must publish nothing, at v$vAfter")
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price_r"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_apply_cdc query: one CDC batch — updates (fold
    * 80-84, re-priced ×2), deletes (85-89), inserts (90-94) — applied
    * ATOMICALLY to the fold<90 corpus snapshot in a single committed
    * version, then applied AGAIN (the replay must converge to the same
    * content). The oracle restates the end state from the source table
    * and the fold rule, so equality proves all three op kinds landed
    * together and exactly once. */
  def mergeApplyCdcQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "applycdc", d)
    val (base, _) = repricing(s, d, dir)
    val changes = cdcBatch(base)
    mergeApplyChangelog(s, dir, changes, "o_orderkey", "o_orderstatus")
    mergeApplyChangelog(s, dir, changes, "o_orderkey", "o_orderstatus")
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_constrained query: write-side CHECK constraints —
    * the full corpus lands under two constraints that hold (positive
    * price, non-null key), then a VIOLATING batch (a negative price
    * among valid rows) must be rejected whole with nothing staged and
    * the version unmoved, and a NULL-predicate row must pass (SQL
    * three-valued CHECK). Round 12 extends the pin to the PERSISTED
    * path: ADD CONSTRAINT commits the predicate as table metadata, a
    * plain upsert passed NO constraints is rejected by it, NULL still
    * passes, and DROP CONSTRAINT releases the table. The read-back
    * equals the plain source restatement, proving the gate let exactly
    * the clean writes through and stopped the dirty ones cold. */
  def mergeConstrainedQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "constr", d)
    val base = orderRows(s, d)
    val checks = Seq(
      "positive_price" -> (col("o_totalprice") > 0),
      "key_present" -> col("o_orderkey").isNotNull)
    mergeUpsert(s, dir, base, "o_orderkey", "o_orderstatus",
                constraints = checks)                               // v1
    // the dirty batch: one violating row hidden among valid ones —
    // rejected WHOLE, version unmoved. Deterministic slice (ordered
    // limit, the FitBpe rule): a bare limit could pick rows that miss
    // the flipped key on a different file layout.
    val k0 = base.orderBy("o_orderkey").limit(1)
      .collect()(0).getLong(0)
    val dirty = base.orderBy("o_orderkey").limit(3)
      .withColumn("o_totalprice",
        when(col("o_orderkey") === k0, lit(-5.0))
          .otherwise(col("o_totalprice")))
    val rejected = scala.util.Try(
      mergeUpsert(s, dir, dirty, "o_orderkey", "o_orderstatus",
                  constraints = checks))
    require(rejected.isFailure &&
      rejected.failed.get.getMessage.contains("positive_price"),
      "the violating batch must be rejected with the constraint named")
    require(Versioned.currentVersion(s, dir).contains(1L),
      "a rejected batch must not publish")
    // NULL predicate passes (SQL CHECK): a null price row is admitted
    mergeUpsert(s, dir,
      base.orderBy("o_orderkey").limit(1)
        .select(lit(-1L).as("o_orderkey"),
          lit(null).cast("double").as("o_totalprice"),
          lit("F").as("o_orderstatus")),
      "o_orderkey", "o_orderstatus", constraints = checks)          // v2
    // PERSISTED path (round 12): the constraint set committed as table
    // metadata binds writers that pass NOTHING — the contract lives
    // with the table, not the caller.
    addConstraint(s, dir, "t_positive_price", "o_totalprice > 0",
                  "o_orderstatus")                                  // v3
    def oneRow(k: Long, price: java.lang.Double) =
      base.orderBy("o_orderkey").limit(1)
        .select(lit(k).as("o_orderkey"),
          lit(price).cast("double").as("o_totalprice"),
          lit("F").as("o_orderstatus"))
    val rejectedPlain = scala.util.Try(
      mergeUpsert(s, dir, oneRow(-2L, -7.0), "o_orderkey",
                  "o_orderstatus"))  // NO per-call constraints
    require(rejectedPlain.isFailure && rejectedPlain.failed.get
        .getMessage.contains("t_positive_price"),
      "a plain upsert must be rejected by the persisted constraint")
    require(Versioned.currentVersion(s, dir).contains(3L),
      "a persisted-constraint rejection must not publish")
    mergeUpsert(s, dir, oneRow(-3L, null), "o_orderkey",
                "o_orderstatus")  // NULL passes the persisted path too, v4
    dropConstraint(s, dir, "t_positive_price")                      // v5
    mergeUpsert(s, dir, oneRow(-2L, -7.0), "o_orderkey",
                "o_orderstatus")  // released: the same write lands, v6
    readCorpus(s, dir, "o_orderstatus")
      .where(col("o_orderkey") >= 0)
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_concurrent_disjoint query: partition-disjoint
    * CONCURRENT writers — two real threads upsert slices confined to
    * different partitions (order statuses) at the same time, and BOTH
    * must commit: the round-12 rebase lets the claim loser re-publish
    * its already-staged dirs onto a fresh version (metadata-only) when
    * every intervening commit declares a disjoint touched set, with
    * [[graft.engine.Versioned.withCommitRetry]] as the fallback when
    * the interleaving does serialize. The final read-back is
    * deterministic whichever racer won: exactly the base plus both
    * slices — which is what the oracle restates. The query REQUIRES
    * two new versions (both writers committed; neither was lost or
    * collapsed into the other). */
  def mergeConcurrentDisjointQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "racer", d)
    val base = orderRows(s, d)
    val b = fold(col("o_orderkey"))
    mergeUpsert(s, dir, base.where(b < 85),
                "o_orderkey", "o_orderstatus")                       // v1
    val feedF = base.where(b >= 85 && col("o_orderstatus") === "F")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val feedO = base.where(b >= 85 && col("o_orderstatus") === "O")
      .withColumn("o_totalprice", col("o_totalprice") * 3)
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    def racer(feed: DataFrame) = new Thread(() => {
      try {
        start.await()
        Versioned.withCommitRetry() {
          mergeUpsert(s, dir, feed, "o_orderkey", "o_orderstatus")
        }
      } catch { case t: Throwable => errs.compareAndSet(null, t) }
    })
    val (tf, to) = (racer(feedF), racer(feedO))
    tf.start(); to.start(); start.countDown()
    tf.join(300000); to.join(300000)
    require(errs.get() == null, s"racer failed: ${errs.get()}")
    require(Versioned.currentVersion(s, dir).contains(3L),
      "both disjoint racers must commit — two new versions")
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"),
              round(col("o_totalprice"), 2).as("price_r"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_tag_read query: version TAGS as provenance pins —
    * tag the fold<90 snapshot `baseline` (the corpus a model trained
    * on), advance the corpus with a CDC batch, then VACUUM with
    * keepVersions=1 so the floor rises PAST the tagged version — and
    * read the tag back. The oracle restates the pre-advance snapshot,
    * so equality proves the pin held end-to-end: the vacuum kept the
    * tagged version's dirs and metadata below the floor, and time
    * travel by name still reproduces the exact training corpus. The
    * query also REQUIRES that an untagged below-floor read still fails
    * fast (the exemption is the tag's, not the floor's). */
  def mergeTagReadQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "tagread", d)
    val (base, _) = repricing(s, d, dir)                             // v1
    Versioned.tagVersion(s, dir, "baseline", 1L)
    val b = fold(col("o_orderkey"))
    val changes = base.where(b >= 80 && b <= 94)
      .withColumn("op",
        when(b <= 84, lit("u")).when(b <= 89, lit("d")).otherwise(lit("i")))
    mergeApplyChangelog(s, dir, changes, "o_orderkey", "o_orderstatus") // v2
    mergeApplyChangelog(s, dir, changes, "o_orderkey", "o_orderstatus") // v3
    Versioned.vacuum(s, dir, keepVersions = 1)  // floor = 3 > tag's 1
    require(Versioned.retentionFloor(s, dir).exists(_ > 1L),
      "the vacuum must raise the floor past the tagged version")
    val e = scala.util.Try(
      Versioned.readVersion(s, dir, 2L, Some("o_orderstatus")).count())
    require(e.isFailure,
      "an untagged below-floor version must still fail fast")
    Versioned.readTag(s, dir, "baseline", Some("o_orderstatus"))
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_delete_where query: the PREDICATE delete — doom
    * every order above a price threshold across the status-partitioned
    * corpus, replay the identical DELETE (all matching rows are gone,
    * so the replay must publish NOTHING), read back. The oracle is the
    * plain complement filter. */
  def mergeDeleteWhereQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "delwhere", d)
    val base = orderRows(s, d)
    mergeUpsert(s, dir, base, "o_orderkey", "o_orderstatus")        // v1
    mergeDeleteWhere(s, dir, col("o_totalprice") > 250000,
      "o_orderstatus", sortCol = Some("o_orderkey"))                // v2
    mergeDeleteWhere(s, dir, col("o_totalprice") > 250000,
      "o_orderstatus", sortCol = Some("o_orderkey"))
    require(Versioned.currentVersion(s, dir).contains(2L),
      "a no-match DELETE WHERE replay must publish nothing")
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2)
        .as("price_r"),
        col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_update_where query: SQL UPDATE — double the price
    * of every fold<10 order in place (key and partition fixed), read
    * back. The oracle restates the transform as a CASE over the
    * source, so equality proves exactly the matching rows changed,
    * by exactly the SET expression, and nothing else moved. */
  def mergeUpdateWhereQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "updwhere", d)
    val base = orderRows(s, d)
    mergeUpsert(s, dir, base, "o_orderkey", "o_orderstatus")        // v1
    mergeUpdateWhere(s, dir, fold(col("o_orderkey")) < 10,
      Seq("o_totalprice" -> (col("o_totalprice") * 2)),
      "o_orderkey", "o_orderstatus")                                // v2
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_update_mor query: the MERGE-ON-READ twin of
    * [[mergeUpdateWhereQuery]] — same corpus, same UPDATE (fold<10
    * doubled in place), but via [[mergeUpdateMor]]: one image dir + a
    * uv sidecar, the MANIFEST REQUIRED UNCHANGED (write cost ∝ matched
    * rows, zero restage), then the substitution read, materialization
    * by [[compactDeletes]], and a vacuum sweeping the image dirs. The
    * oracle is merge_update_where's CASE restatement, so equality
    * proves the whole MOR-update lifecycle is content-identical to the
    * copy-on-write path. */
  def mergeUpdateMorQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "updmor", d)
    val base = orderRows(s, d)
    mergeUpsert(s, dir, base, "o_orderkey", "o_orderstatus")        // v1
    mergeUpdateMor(s, dir, fold(col("o_orderkey")) < 10,
      Seq("o_totalprice" -> (col("o_totalprice") * 2)),
      "o_orderkey", "o_orderstatus")                                // v2
    require(Versioned.manifest(s, dir, 2L) == Versioned.manifest(s, dir, 1L),
      "a MOR update must not restage any data partition")
    require(Versioned.morRefs(s, dir, 2L, Versioned.Uv).nonEmpty,
      "the update must land as uv sidecar refs")
    compactDeletes(s, dir, "o_orderstatus",
                   sortCol = Some("o_orderkey"))                    // v3
    require(Versioned.morRefs(s, dir, 3L, Versioned.Uv).isEmpty,
      "materialization must clear the uv refs")
    Versioned.vacuum(s, dir, keepVersions = 1)
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_change_feed query: build the fold<90 corpus (v1),
    * apply one CDC batch — updates 80-84 re-priced ×2, deletes 85-89,
    * inserts 90-94 — atomically (v2), then read `changeFeed(1, 2)`. The
    * oracle restates the change set straight from the source table and
    * the fold rule, so equality proves the computed feed returns
    * exactly the net content difference — every changed key, correctly
    * classified, with the right image (post for insert/update, pre for
    * delete) — and NOTHING for the restaged-but-identical survivor rows
    * that shared partitions with the changes. */
  def mergeChangeFeedQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "changefeed", d)
    val (base, _) = repricing(s, d, dir)
    val changes = cdcBatch(base)
    mergeApplyChangelog(s, dir, changes, "o_orderkey", "o_orderstatus")
    changeFeed(s, dir, 1L, 2L, "o_orderkey")
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus").cast("string").as("o_orderstatus"),
              col("change_type"))
      .orderBy("o_orderkey")
  }

  /** Declared pipeline_cdc_mirror query: the REPLICATION composition —
    * source corpus at v1 (fold<90), first [[syncMirror]] bootstraps the
    * mirror as a snapshot, the CDC batch (same shape as merge_apply_cdc)
    * advances the source to v2, a second sync ships the net feed, and a
    * THIRD sync must no-op (exactly-once: the `src:2` ledger id is
    * already committed). The mirror's content is then read back; the
    * oracle is merge_apply_cdc's end-state restatement, so equality
    * proves the feed was complete (every insert/update/delete crossed)
    * and the replay guard held. */
  def pipelineCdcMirrorQuery(s: SparkSession, d: String): DataFrame = {
    val src = Artifacts.scratchDir(s, "cdcmirror_src", d)
    val dst = Artifacts.scratchDir(s, "cdcmirror_dst", d)
    val (base, _) = repricing(s, d, src)
    require(syncMirror(s, src, dst, "o_orderkey", "o_orderstatus") == 1L)
    val changes = cdcBatch(base)
    mergeApplyChangelog(s, src, changes, "o_orderkey", "o_orderstatus")
    require(syncMirror(s, src, dst, "o_orderkey", "o_orderstatus") == 2L)
    val dstV = Versioned.currentVersion(s, dst).get
    syncMirror(s, src, dst, "o_orderkey", "o_orderstatus")
    require(Versioned.currentVersion(s, dst).contains(dstV),
      "an up-to-date sync must publish nothing")
    readCorpus(s, dst, "o_orderstatus")
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared pipeline_feed_stream query: the STREAMED replication
    * composition — the same source lifecycle as pipeline_cdc_mirror
    * (fold<90 snapshot, then the CDC batch), but the mirror is fed by
    * the [[graft.streaming.ChangeFeedStream]] STREAM: batch 0
    * bootstraps from version 0 (full snapshot as inserts), the next
    * micro-batch ships the net feed when the source advances, an idle
    * drain must commit nothing, and the mirror read-back must equal the
    * batch-path oracle — proving the offset-tracked stream delivers
    * exactly the computed CDC, end to end, exactly once. */
  def pipelineFeedStreamQuery(s: SparkSession, d: String): DataFrame = {
    val src = Artifacts.scratchDir(s, "feedq_src", d)
    val dst = Artifacts.scratchDir(s, "feedq_dst", d)
    val ck = Artifacts.scratchDir(s, "feedq_ck", d)
    val (base, _) = repricing(s, d, src)                             // v1
    val q = graft.streaming.StreamOps.feedMirrorMaintenance(
        graft.streaming.StreamOps.feedStream(s, src, "o_orderkey",
          Some(0L)),
        dst, "o_orderkey", "o_orderstatus")
      .option("checkpointLocation", ck)
      .start()
    try {
      q.processAllAvailable()   // batch 0: bootstrap snapshot
      val changes = cdcBatch(base)
      mergeApplyChangelog(s, src, changes, "o_orderkey", "o_orderstatus")
      q.processAllAvailable()   // batch 1: the net feed
      val dstV = Versioned.currentVersion(s, dst).get
      q.processAllAvailable()   // idle drain
      require(Versioned.currentVersion(s, dst).contains(dstV),
        "an idle drain must publish nothing to the mirror")
    } finally q.stop()
    readCorpus(s, dst, "o_orderstatus")
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_delete_mor query: the MERGE-ON-READ twin of
    * [[mergeDeleteQuery]] — same corpus, same doomed keys (fold ≥ 70),
    * but deleted via [[mergeDeleteMor]] (one tombstone dir + a sidecar;
    * no partition restages), re-deleted (idempotence: the all-miss
    * replay must publish NOTHING — tombstoned keys read as absent),
    * then MATERIALIZED by [[compactDeletes]] and read back after a
    * vacuum reclaims the tombstone dirs. The oracle is the same plain
    * complement filter, so equality proves the whole MOR lifecycle —
    * tombstone write, anti-join read (compactDeletes' own restage read
    * is that anti-join), materialization, and sweep — is invisible in
    * the data. */
  def mergeDeleteMorQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "mergemor", d)
    val base = orderRows(s, d)
    mergeUpsert(s, dir, base, "o_orderkey", "o_orderstatus")
    val doomed = base.where(fold(col("o_orderkey")) >= 70)
      .select("o_orderkey")
    mergeDeleteMor(s, dir, doomed, "o_orderkey", "o_orderstatus")
    mergeDeleteMor(s, dir, doomed, "o_orderkey", "o_orderstatus")
    val vAfter = Versioned.currentVersion(s, dir).get
    require(vAfter == 2L,
      s"idempotent MOR re-delete must publish nothing, at v$vAfter")
    compactDeletes(s, dir, "o_orderstatus", sortCol = Some("o_orderkey"))
    require(Versioned.morRefs(s, dir, 3L, Versioned.Dv).isEmpty,
      "compactDeletes must clear every dv ref")
    Versioned.vacuum(s, dir)
    readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price_r"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Declared pipeline_dedup_delete query: RETROACTIVE corpus dedup —
    * the composition a production training-data pipeline runs when a
    * dedup pass lands after a corpus is already ingested. The documents
    * table becomes a lang-partitioned versioned corpus; the doom set
    * is exact-dup non-canonicals (dedup_exact's keep-min-doc_id-per-
    * md5 rule) UNION a quality gate (n_chars < 200 — the testdata has
    * few exact dups at small SF, so the gate keeps the delete path
    * exercised at every scale); [[mergeDelete]] removes them
    * copy-on-write (only partitions holding a doomed id restage; the
    * pre-dedup corpus stays time-travelable for provenance). The
    * oracle restates the surviving set straight from the source, so
    * equality proves the delete removed exactly the doomed ids. */
  def pipelineDedupDeleteQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "deduppurge", d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    mergeUpsert(s, dir, docs, "doc_id", "lang")
    val keep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val doomed = docs.select("doc_id")
      .join(keep, Seq("doc_id"), "left_anti")
      .union(docs.where(col("n_chars") < 200).select("doc_id"))
    mergeDelete(s, dir, doomed, "doc_id", "lang")
    readCorpus(s, dir, "lang")
      .select(col("doc_id"), col("lang").cast("string").as("lang"),
              col("n_chars"))
      .orderBy("doc_id")
  }

  /** Declared scan_zonemap_multi query: orders clustered by CUSTOMER
    * bucket (o_custkey/512) with multi-column zone maps on BOTH
    * o_custkey and o_orderkey, read back through the intersection
    * pruner with one predicate per column. The custkey predicate is
    * the one the clustering makes prunable (tight per-partition custkey
    * bounds); the orderkey predicate rides the same bounds file and
    * prunes whatever the data's correlation allows — exactly the
    * two-predicate shape per-column stats exist for. The oracle is the
    * plain conjunctive filter over the source table, so equality proves
    * pruning dropped only partitions that contain NO qualifying row. */
  def scanZonemapMultiQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "zonemap2", d)
    val o = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              (col("o_custkey") / 512).cast("long").as("cb"))
    mergeUpsert(s, dir, o, "o_orderkey", "cb",
                statsKeys = Seq("o_custkey", "o_orderkey"))
    readCorpusSkipPruned(s, dir, "cb",
        ranges = Seq(("o_custkey", 40L, 139L), ("o_orderkey", 0L, 1200L)))
      .select(col("o_orderkey"), col("o_custkey"),
              round(col("o_totalprice"), 2).as("price_r"))
      .orderBy("o_orderkey")
  }

  /** Declared scan_dictmap_pruned query: documents land partitioned by
    * coarse SOURCE GROUP (5 sources per partition — the cluster-coarse
    * shape a 100 TB corpus needs, since one partition per fine-grained
    * source is unmanageable at scale) with a dictionary recorded on the
    * fine SOURCE itself. The point lookup `source = 'src13'` then reads
    * ONE group instead of all of them — the dictionary recovers
    * entity-level pruning the coarse clustering gave up, which range
    * bounds cannot express on a string column. The query REQUIRES that
    * exactly one partition's recorded set contains the value (pruning
    * really bites, on every SF — 20 sources / 4 groups in the
    * testdata); the oracle is the plain equality filter, so equality
    * proves pruning is invisible in the data. */
  def scanDictmapPrunedQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "dictmap", d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    mergeUpsert(s, dir, docs, "doc_id", "src_grp",
                dictKeys = Seq("source"))
    require(Versioned.zoneMaps(s, dir, 1L).dicts
        .count(_._2("source").contains("src13")) == 1,
      "exactly one source group's dictionary must hold src13 — " +
        "the point lookup must actually prune")
    readCorpusSkipPruned(s, dir, "src_grp",
        values = Seq(("source", Seq("src13"))))
      .select(col("doc_id"), col("source").cast("string").as("source"),
              col("n_chars"))
      .orderBy("doc_id")
  }

  /** Declared scan_bloom_pruned query: the THIRD skipping tier on the
    * same coarse source-group layout — a point lookup on DOC_ID, the
    * high-cardinality key where the other two tiers are structurally
    * blind: per-group doc_id RANGE bounds span nearly the whole id
    * space (ids interleave round-robin across sources), and a
    * dictionary of thousands of ids blew [[DictCap]] long ago. The
    * per-partition bloom recorded at write time answers "definitely not
    * here" for the three probed ids on every group but the one that
    * holds them, so the lookup reads ONE group of four; a bloom false
    * positive merely reads a group the residual IN-filter then empties.
    * The query REQUIRES that pruning actually bit (kept < total, which
    * fails only if every other group false-positives simultaneously —
    * p ≈ fpp³); the oracle is the plain IN-filter, so equality proves
    * pruning is invisible in the data. */
  def scanBloomPrunedQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "bloompr", d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    mergeUpsert(s, dir, docs, "doc_id", "src_grp",
                bloomKeys = Seq("doc_id"))
    val probes = Seq("2", "23", "41")   // all land in source group 0
    val blooms = Versioned.zoneMaps(s, dir, 1L).blooms
    val kept = Versioned.manifest(s, dir, 1L).count { case (n, _) =>
      blooms.get(n).forall(cols => cols.get("doc_id").forall(bf =>
        probes.exists(v => bf.mightContainLong(bloomProbeHash(v)))))
    }
    require(kept < Versioned.manifest(s, dir, 1L).size,
      s"the doc_id blooms must prune at least one source group, kept $kept")
    readCorpusSkipPruned(s, dir, "src_grp",
        values = Seq(("doc_id", probes)))
      .select(col("doc_id"), col("source").cast("string").as("source"),
              col("n_chars"))
      .orderBy("doc_id")
  }

  /** Declared scan_skip_composed query: all THREE skipping tiers in one
    * pruning pass on the coarse source-group layout — range bounds on
    * doc_id, the dictionary on the fine source, and the doc_id bloom,
    * written in the ONE staged-read stats job and consulted together by
    * [[readCorpusSkipPruned]]. The dictionary pins the single group
    * holding src13; the range and bloom tiers ride along and the
    * residual conjunction runs on the survivors. The query REQUIRES the
    * intersection actually pruned; the oracle is the plain conjunctive
    * filter, so equality proves composed pruning is invisible. */
  def scanSkipComposedQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "skipcomp", d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    mergeUpsert(s, dir, docs, "doc_id", "src_grp",
                statsKeys = Seq("doc_id"), dictKeys = Seq("source"),
                bloomKeys = Seq("doc_id"))
    val dicts = Versioned.zoneMaps(s, dir, 1L).dicts
    require(dicts.count(_._2("source").contains("src13")) == 1,
      "the dictionary tier must pin exactly one source group")
    readCorpusSkipPruned(s, dir, "src_grp",
        ranges = Seq(("doc_id", 0L, 300L)),
        values = Seq(("source", Seq("src13"))))
      .select(col("doc_id"), col("source").cast("string").as("source"),
              col("n_chars"))
      .orderBy("doc_id")
  }

  /** Declared merge_evolve_spec query: METADATA-TIER partition
    * evolution (the Iceberg trick, vs [[repartitionTable]]'s full-
    * rewrite tier) — three commits on one table:
    * v1 lands doc_id < 300 under the coarse source-group spec with
    * doc_id range stats; v2 EVOLVES by simply writing doc_id ≥ 300
    * under the by-language spec — the batch's key range is disjoint
    * from every old entry's recorded bounds, so the mixed-layout
    * candidate probe proves no old partition can hold a batch key and
    * the old dirs carry BYTE-IDENTICAL (REQUIRED: same rel dirs in the
    * v2 manifest, both layouts present); v3 upserts tripled n_chars
    * for doc_id < 50 under the new spec — those keys DO live under the
    * old layout, so the overlapping old partitions restage through the
    * merge and their survivors migrate to by-language dirs (REQUIRED:
    * the v3 manifest is pure new-layout — lazy migration completed
    * because every source group's id range overlaps [0,50)). The
    * oracle is the plain restatement with the CASE'd n_chars, so
    * equality proves the whole mixed-layout lifecycle — spec change,
    * union read over two layouts, cross-layout dedup — is invisible
    * in the data. */
  def mergeEvolveSpecQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "evolve", d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                "doc_id", "src_grp", statsKeys = Seq("doc_id"))     // v1
    val man1 = Versioned.manifest(s, dir, 1L).toMap
    // v2: the spec EVOLVES — same table, new partition column; the
    // append's key range sits beyond every old bound, so this commit
    // is metadata-only for the old layout
    mergeUpsert(s, dir, docs.where(col("doc_id") >= 300),
                "doc_id", "lang", statsKeys = Seq("doc_id"))        // v2
    val man2 = Versioned.manifest(s, dir, 2L)
    val oldIn2 = man2.filter(_._1.startsWith("src_grp=")).toMap
    require(oldIn2 == man1,
      "a range-disjoint append under the new spec must carry every " +
        "old-layout entry verbatim (metadata-only evolution)")
    require(man2.exists(_._1.startsWith("lang=")),
      "the new layout must land beside the old one")
    // v3: a cross-layout upsert — its keys live under the OLD layout,
    // so the candidate probe restages those partitions and their
    // survivors migrate to the new spec through the merge itself
    mergeUpsert(s, dir,
      docs.where(col("doc_id") < 50)
        .withColumn("n_chars", col("n_chars") * 3),
      "doc_id", "lang", statsKeys = Seq("doc_id"))                  // v3
    require(Versioned.manifest(s, dir, 3L)
        .forall(_._1.startsWith("lang=")),
      "every source group overlaps [0,50), so the upsert must have " +
        "migrated the whole old layout")
    readCorpus(s, dir, "lang")
      .select(col("doc_id"), col("source").cast("string").as("source"),
              col("n_chars"), col("lang").cast("string").as("lang"))
      .orderBy("doc_id")
  }

  /** Declared merge_repartition query: PARTITION EVOLUTION end-to-end —
    * documents land under the coarse source-group layout, a MOR delete
    * leaves outstanding tombstones, then [[repartitionTable]] moves the
    * whole table to a BY-LANGUAGE layout in one atomic maintenance
    * commit. The query REQUIRES the composition contracts in-line: the
    * change feed across the repartition is EMPTY (layout moves are
    * content-invisible — mirrors stream nothing), the tombstones
    * materialized (no dv refs at the new version), and version 1 still
    * time-travels under the OLD layout. The oracle is the plain
    * restatement of the surviving rows, so equality proves the rewrite
    * changed nothing but the directory shape. */
  def mergeRepartitionQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "repart", d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    mergeUpsert(s, dir, docs, "doc_id", "src_grp")                   // v1
    mergeDeleteMor(s, dir,                                           // v2
      docs.where(fold(col("doc_id")) >= 90).select("doc_id"),
      "doc_id", "src_grp")
    repartitionTable(s, dir, "src_grp", "lang",                      // v3
                     statsKeys = Seq("doc_id"))
    require(Versioned.currentVersion(s, dir).contains(3L),
      "the repartition must land as one atomic version")
    require(Versioned.morRefs(s, dir, 3L, Versioned.Dv).isEmpty,
      "the rewrite must materialize every outstanding tombstone")
    // the feed across the move is queried with the OLD partCol: the
    // from-side is the one still carrying old-layout tombstones (the
    // rewrite materialized them all, so the to-side has none)
    require(changeFeed(s, dir, 2L, 3L, "doc_id").isEmpty,
      "a layout move must be content-invisible to the change feed")
    require(Versioned.readVersion(s, dir, 1L, Some("src_grp")).count() ==
        docs.count(),
      "version 1 must still time-travel under the OLD layout")
    readCorpus(s, dir, "lang")
      .select(col("doc_id"), col("lang").cast("string").as("lang"),
              col("n_chars"))
      .orderBy("doc_id")
  }

  /** Declared merge_zorder_compact query: the full OPTIMIZE ZORDER
    * lifecycle on the customer-bucketed corpus of
    * [[scanZonemapMultiQuery]] — build with two-column bounds, MOR-
    * delete a key band (tombstones outstanding), z-order compact on
    * (o_custkey, o_orderkey) with fresh bounds in the same commit
    * (REQUIRED: every dv ref materialized), then read back through the
    * two-range intersection pruner. The oracle is the plain conjunctive
    * filter over the source complement, so equality proves the whole
    * pass — Morton rewrite, tombstone fold-in, stats refresh, pruned
    * read — is invisible in the data. */
  def mergeZorderCompactQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "zocompact", d)
    val o = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              (col("o_custkey") / 512).cast("long").as("cb"))
    mergeUpsert(s, dir, o, "o_orderkey", "cb",
                statsKeys = Seq("o_custkey", "o_orderkey"))         // v1
    mergeDeleteMor(s, dir,                                          // v2
      o.where(fold(col("o_orderkey")) >= 90).select("o_orderkey"),
      "o_orderkey", "cb")
    compactZOrder(s, dir, "cb", ("o_custkey", "o_orderkey"),        // v3
      statsKeys = Seq("o_custkey", "o_orderkey"))
    require(Versioned.morRefs(s, dir, 3L, Versioned.Dv).isEmpty,
      "the z-order restage must materialize every deletion vector")
    readCorpusSkipPruned(s, dir, "cb",
        ranges = Seq(("o_custkey", 40L, 139L), ("o_orderkey", 0L, 1200L)))
      .select(col("o_orderkey"), col("o_custkey"),
              round(col("o_totalprice"), 2).as("price_r"))
      .orderBy("o_orderkey")
  }

  /** Declared merge_refresh_stats query: the shed-then-re-arm
    * lifecycle. The source-group corpus of [[scanDictmapPrunedQuery]]
    * records a source dictionary; a dict-less upsert flips the LOWEST
    * doc_id's source to 'src13' in place (same key, same partition —
    * the stable key→partition rule — so a group whose NAME never saw
    * src13 now holds one), shedding that group's dictionary;
    * [[refreshStats]] recomputes the sidecar in one live scan and a
    * manifest-carry commit. The dictionary-pruned read for 'src13'
    * must equal the oracle's restatement (source rows plus the flipped
    * doc), proving the refreshed sidecar is exact for the CURRENT
    * content — dictionaries index what partitions HOLD, not what their
    * names suggest. */
  def mergeRefreshStatsQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "refstats", d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    mergeUpsert(s, dir, docs, "doc_id", "src_grp",
                dictKeys = Seq("source"))                           // v1
    val flipped = readCorpus(s, dir, "src_grp").orderBy("doc_id")
      .limit(1)
      .select(col("doc_id"), lit("src13").as("source"), col("n_chars"),
              col("src_grp").cast("long").as("src_grp"))
      .localCheckpoint() // pin the pre-merge snapshot the batch derives from
    val shedGrp = "src_grp=" + flipped.collect()(0).getAs[Long]("src_grp")
    mergeUpsert(s, dir, flipped, "doc_id", "src_grp")               // v2
    require(!Versioned.zoneMaps(s, dir, 2L).dicts.contains(shedGrp),
      s"the dict-less restage must shed $shedGrp's dictionary")
    refreshStats(s, dir, "src_grp", dictKeys = Seq("source"))      // v3
    require(Versioned.zoneMaps(s, dir, 3L).dicts
        .get(shedGrp).exists(_("source").contains("src13")),
      s"the refresh must re-arm $shedGrp's dictionary with src13")
    readCorpusSkipPruned(s, dir, "src_grp",
        values = Seq(("source", Seq("src13"))))
      .select(col("doc_id"), col("source").cast("string").as("source"),
              col("n_chars"))
      .orderBy("doc_id")
  }

  /** Declared merge_retention query: events land in a day-partitioned
    * versioned corpus, retention expires every day before the 15th of
    * the newest month (a mid-month cutoff so the drop is non-trivial on
    * the one-month testdata), and the surviving corpus is read back.
    * The oracle filters the source table by the same cutoff, so
    * equality proves the manifest drop removed exactly the expired days
    * and nothing else. */
  def mergeRetentionQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "mergeret", d)
    val ev = events(s, d)
      .select(col("event_id"), col("user_id"),
              date_format(col("ts"), "yyyy-MM-dd").as("day_s"))
    mergeUpsert(s, dir, ev, "event_id", "day_s")
    val cutoff = ev.agg(max("day_s")).collect()(0).getString(0)
      .substring(0, 8) + "15" // mid-month of the newest month
    applyRetention(s, dir, name => name >= s"day_s=$cutoff")
    readCorpus(s, dir, "day_s")
      .select(col("event_id"), col("user_id"),
              col("day_s").cast("string").as("day_s"))
      .orderBy("event_id")
  }

  /** Declared merge_scd2_bucketed query: the [[mergeScd2Query]] pipeline
    * run through the bucket-pruned merge — same versions, same double
    * apply, same oracle: hash-bucketing is REQUIRED to be invisible in
    * the history content, and sharing the flat oracle enforces it. */
  def mergeScd2BucketedQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "scd2b", d)
    val base = customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal"), 2).as("c_acctbal_r"))
    val attrs = Seq("c_mktsegment", "c_acctbal_r")
    mergeScd2Bucketed(s, dir, base, "c_custkey", attrs, version = 0L)
    val batch = base.withColumn("c_mktsegment",
        when(pmod(col("c_custkey"), lit(2)) === 1,
             concat(lit("V2_"), col("c_mktsegment")))
          .otherwise(col("c_mktsegment")))
      .withColumn("c_acctbal_r",
        when(pmod(col("c_custkey"), lit(2)) === 1,
             round(col("c_acctbal_r") + 100, 2))
          .otherwise(col("c_acctbal_r")))
    mergeScd2Bucketed(s, dir, batch, "c_custkey", attrs, version = 1L)
    mergeScd2Bucketed(s, dir, batch, "c_custkey", attrs, version = 1L)
    readBucketedHistory(s, dir, "c_custkey", attrs)
      .orderBy("c_custkey", "valid_from")
  }

  /** Declared merge_scd2 query: customer history at version 0, a change
    * batch at version 1 (odd keys move segment + balance), applied TWICE
    * — the second application must be a no-op — then the full history
    * read back. The oracle replays the same pure function of the source
    * table: every customer's v0 row (closed iff the key changed) plus a
    * v1 open row for the changed keys. */
  def mergeScd2Query(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "scd2", d)
    val base = customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal"), 2).as("c_acctbal_r"))
    val attrs = Seq("c_mktsegment", "c_acctbal_r")
    mergeScd2(s, dir, base, "c_custkey", attrs, version = 0L)
    val batch = base.withColumn("c_mktsegment",
        when(pmod(col("c_custkey"), lit(2)) === 1,
             concat(lit("V2_"), col("c_mktsegment")))
          .otherwise(col("c_mktsegment")))
      .withColumn("c_acctbal_r",
        when(pmod(col("c_custkey"), lit(2)) === 1,
             round(col("c_acctbal_r") + 100, 2))
          .otherwise(col("c_acctbal_r")))
    mergeScd2(s, dir, batch, "c_custkey", attrs, version = 1L)
    mergeScd2(s, dir, batch, "c_custkey", attrs, version = 1L)
    readHistory(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal_r"),
              col("valid_from"), col("valid_to"))
      .orderBy("c_custkey", "valid_from")
  }

  /** Declared merge_branch_wap query: the full WRITE-AUDIT-PUBLISH
    * loop — main lands the fold<90 corpus under a persisted positive-
    * price constraint (v1, v2=ADD CONSTRAINT), a branch forks and
    * takes a DIRTY batch (fold 90–94 with two poisoned prices); main
    * must never expose it; the publish AUDIT must reject the branch;
    * the fix lands on the branch (same keys, clean prices) and the
    * publish fast-forwards main atomically. The read-back equals the
    * bucket<95 restatement — exactly the audited content, nothing of
    * the dirty intermediate. */
  def mergeBranchWapQuery(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.scratchDir(s, "wap", d)
    val (base, _) = repricing(s, d, dir)                             // v1
    val b = fold(col("o_orderkey"))
    MergeOps.addConstraint(s, dir, "positive_price",
                           "o_totalprice > 0", "o_orderstatus")      // v2
    BranchOps.createBranch(s, dir, "ingest")
    val slice = base.where(b >= 90 && b <= 94)
    val dirty = slice.withColumn("o_totalprice",
      when(b >= 93, lit(-1.0)).otherwise(col("o_totalprice")))
    BranchOps.branchUpsert(s, dir, "ingest", dirty,
                           "o_orderkey", "o_orderstatus")
    require(Versioned.currentVersion(s, dir).contains(2L),
      "branch work must not move main")
    require(MergeOps.readCorpus(s, dir, "o_orderstatus")
        .where(col("o_totalprice") < 0).isEmpty,
      "main must never expose the unaudited branch content")
    val audit = scala.util.Try(BranchOps.publishBranch(s, dir, "ingest"))
    require(audit.isFailure &&
      audit.failed.get.getMessage.contains("positive_price"),
      "the publish audit must reject the dirty branch")
    require(Versioned.currentVersion(s, dir).contains(2L),
      "a failed audit must not move main")
    BranchOps.branchUpsert(s, dir, "ingest", slice,
                           "o_orderkey", "o_orderstatus")   // the fix
    BranchOps.publishBranch(s, dir, "ingest")                        // v3
    BranchOps.dropBranch(s, dir, "ingest")
    MergeOps.readCorpus(s, dir, "o_orderstatus")
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus").cast("string").as("o_orderstatus"))
      .orderBy("o_orderkey")
  }
}

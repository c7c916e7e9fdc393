package graft.streaming

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{BytesWritable, NullWritable, SequenceFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.engine.Versioned
import graft.ops.MergeOps
import graft.sql.TableDoor

/** A Structured Streaming SOURCE over a versioned store's change feed —
  * the read-side completion of the CDC story (Delta's
  * `readStream.option("readChangeFeed", ...)`): each micro-batch is one
  * net [[graft.ops.MergeOps.changeFeed]] slice, the OFFSET is the
  * source-table version already fully emitted, and Spark's own offset
  * log gives restart-exactly-where-you-stopped for free. Downstream
  * exactly-once composes the usual way: an idempotent `foreachBatch`
  * sink keyed on the batch id ([[StreamOps.feedMirrorMaintenance]]) —
  * a replayed batch id recomputes the SAME version range (versions are
  * immutable), so the replay applies the identical feed and the
  * destination ledger no-ops it.
  *
  * DSv2 `MicroBatchStream` implementation (round 14 — the V1 `Source`
  * + `private[sql]` shim hop is gone). The V2 reader contract wants
  * executor-side row production, but a feed batch is a COMPUTED
  * distributed plan (manifest-pruned diff + a key join), not a
  * partitioned scan — so each batch runs its full Catalyst plan ONCE
  * as a distributed job that stages the result's UnsafeRows into
  * SequenceFiles under the stream's own checkpoint dir
  * (`<checkpoint>/graft-feed-stage/<from>_<to>`), and
  * `planInputPartitions` hands one staged file to each
  * [[StagedRowReader]], which replays the raw UnsafeRow bytes — no row
  * ever transits the driver, no private API, and the staged bytes are
  * exactly the CHANGE rows (bounded by the pacing options, never
  * corpus-sized). Staging is also what makes crash-replay free: a
  * replayed range finds its `_SUCCESS`-marked stage dir and re-serves
  * the identical bytes without recomputing; committed ranges' dirs are
  * swept in `commit`.
  *
  * Options (case-insensitive): `dir` (the store root), `keyCol` (else
  * the store's persisted `keyCol` property; the partition layout comes
  * from each version's manifest), optional `startVersion` — absent:
  * emit changes committed AFTER stream start; `0`: BOOTSTRAP (first
  * batch is the full current snapshot as `insert` rows — the content
  * diff from empty); `N>0`: first batch is the net diff from version N
  * — and
  * optional `maxVersionsPerTrigger` (backlog pacing, Delta's
  * `maxFilesPerTrigger` shape at this source's granularity): each
  * trigger's offset advances at most that many SOURCE VERSIONS past
  * what was already offered, so a mirror that slept through a weekend
  * of high-cadence ingest drains the backlog as many bounded batches
  * with a checkpoint after each, instead of one micro-batch spanning
  * days of changes. Net-effect semantics are unchanged — each paced
  * batch is still a net [[graft.ops.MergeOps.changeFeed]] slice, and
  * the concatenation of slices applies to the same mirror end state
  * as the single spanning slice.
  *
  * Optional `maxBytesPerTrigger` paces by DATA instead of commit
  * count (Delta's `maxBytesPerTrigger` shape): version count is a bad
  * proxy for batch size — one compaction-day version can touch every
  * partition while a hundred trickle versions touch one — so each
  * trigger extends its offset version by version only while the
  * cumulative CHANGED-PARTITION BYTES of the added steps stay within
  * the cap, priced from the same manifest/dv/uv diff the batch plan
  * prunes with (a `getContentSummary` per changed dir; nothing is
  * read). A SOFT cap, like Delta's: the first version past the floor
  * is always included — version granularity is the atom, a single fat
  * version lands as its own (possibly over-cap) batch rather than
  * stalling the stream. Composes with `maxVersionsPerTrigger` as the
  * min of both limits, and paces from the same floor: the start offset
  * Spark passes to `latestOffset`.
  *
  * `startTag` starts from a NAMED pinned version — the mirror-restart
  * idiom (a mirror tags its high-water version to hold its data
  * through vacuums; the stream that resumes it starts exactly there).
  * Resolved once at first creation and persisted like any base, so a
  * later re-tag cannot silently move a running stream.
  *
  * The INITIAL BASE VERSION is resolved once and persisted under the
  * stream's checkpoint dir (the same write-once pattern as Spark's
  * file source and Delta's CDF source): with the default
  * startVersion-absent mode the base is "current at FIRST creation",
  * and a crash-restart that replays a logged-but-uncommitted batch 0
  * must recompute the SAME range — recomputing "current" at
  * re-creation would fold the crashed batch's changes into the new
  * base and silently lose them at the mirror.
  *
  * Contracts shared with every table format's CDC stream: the schema
  * is pinned at stream start (an evolving table needs a stream
  * restart); a `from` version vacuumed below the retention floor while
  * the stream was down fails LOUDLY with the floor error (tag the
  * mirror's high-water version to pin it); each latestOffset is one
  * bounded `commits/` listing. */
class ChangeFeedSourceProvider extends TableProvider with DataSourceRegister {
  import ChangeFeedSourceProvider._

  override def shortName(): String = "graft-change-feed"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    feedSchema(SparkSession.active,
      required(TableDoor.options(options), "dir"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ChangeFeedTable(schema, TableDoor.options(properties))
}

object ChangeFeedSourceProvider {
  private[streaming] def required(p: Map[String, String], k: String): String =
    p.getOrElse(k, throw new IllegalArgumentException(
      s"graft-change-feed needs option '$k' (have: ${p.keys.toSeq.sorted
        .mkString(", ")})"))

  /** The feed's schema: the store's current schema plus `change_type`. */
  private[graft] def feedSchema(spark: SparkSession,
                                dir: String): StructType = {
    val v = Versioned.currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val base = ChangeFeedStream.snapshot(spark, dir, v).schema
    require(!base.fieldNames.contains("change_type"),
      s"the table under $dir already has a change_type column — the " +
        "feed cannot add its classification column")
    base.add("change_type", StringType, nullable = false)
  }
}

private[graft] class ChangeFeedTable(schema: StructType,
                                     props: Map[String, String])
    extends Table with SupportsRead {
  import ChangeFeedSourceProvider.required

  override def name(): String =
    s"graft-change-feed(${props.getOrElse("dir", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ScanBuilder with Scan {
      // scan-time options override table properties: on the V1-format
      // path both maps are the same stream options (merge is a no-op);
      // on the CATALOG path props carry the store dir and the reader's
      // .option(...) calls land here
      private val merged = props ++ TableDoor.options(options)
      override def build(): Scan = this
      override def readSchema(): StructType = schema
      // rowImage stays false here: this table IS the CDC stream (its
      // schema carries change_type); the row-image shape is the
      // plain-table door, [[graft.sql.GraftTable]]'s
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        ChangeFeedStream.open(SparkSession.active, merged,
          required(merged, "dir"), name(), checkpointLocation, schema,
          rowImage = false, defaultStart = None)
    }
}

/** The stream's offset: the source-table version already fully
  * emitted. */
case class FeedOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

object ChangeFeedStream {
  /** THE stream-option parser, shared by both doors — the CDC stream
    * (`format("graft-change-feed")`, the catalog's `changes` namespace)
    * and the plain-table row-image stream (`readStream.table("graft.t")`):
    * checks `opts` (keys lower-cased; see [[ChangeFeedSourceProvider]]
    * for their meaning) and opens the stream over `dir`, starting at
    * `startVersion` or `startTag`, else `defaultStart` (None: changes
    * committed after stream start). The merge key is the `keyCol`
    * option, else the store's persisted property
    * ([[TableDoor.requireKeyCol]]; `ident` names the table in its
    * error). */
  private[graft] def open(spark: SparkSession, opts: Map[String, String],
                          dir: String, ident: String,
                          checkpointLocation: String, schema: StructType,
                          rowImage: Boolean,
                          defaultStart: Option[Long]): ChangeFeedStream = {
    def atLeastOne(k: String, name: String): Option[Long] =
      opts.get(k).map(_.trim.toLong).map { m =>
        require(m >= 1, s"$name must be >= 1, got $m"); m }
    val maxV = atLeastOne("maxversionspertrigger", "maxVersionsPerTrigger")
    val maxB = atLeastOne("maxbytespertrigger", "maxBytesPerTrigger")
    require(!(opts.contains("startversion") && opts.contains("starttag")),
      "pass startVersion or startTag, not both")
    // `startTag`: resolved once at first creation; the persisted base
    // (resolveBase) makes a later re-tag invisible to this stream
    val startV = opts.get("startversion").map(_.trim.toLong).orElse(
      opts.get("starttag").map(_.trim).map { t =>
        Versioned.tags(spark, dir).getOrElse(t,
          throw new IllegalArgumentException(
            s"no tag '$t' under $dir — live tags: " +
              Versioned.tags(spark, dir).keys.toSeq.sorted.mkString(", ")))
      }).orElse(defaultStart)
    new ChangeFeedStream(spark, dir,
      TableDoor.requireKeyCol(spark, dir, opts, "readStream of", ident),
      resolveBase(spark, checkpointLocation, dir, startV), maxV, maxB,
      checkpointLocation, schema, rowImage,
      ignoreDeletes = opts.get("ignoredeletes").exists(_.trim.toBoolean),
      pinRetention = opts.get("pinretention").exists(_.trim.toBoolean))
  }

  /** Version `v` of the store, read live at the partition layout its
    * own manifest names ([[Versioned.partColOf]]). */
  private[graft] def snapshot(spark: SparkSession, dir: String,
                              v: Long): DataFrame = {
    Versioned.requireAboveFloor(spark, dir, v)
    val man = Versioned.manifest(spark, dir, v)
    Versioned.readEntriesLive(spark, dir, v, man, man,
      Versioned.partColOf(man))
  }

  /** Resolve-and-persist the stream's initial base version: first
    * creation computes it (explicit `startVersion`, else current) and
    * records it write-once under the stream's own checkpoint dir;
    * every re-creation — including a crash-restart about to REPLAY a
    * logged batch 0 — reads the recorded value back, so the batch-0
    * range is deterministic across restarts. */
  private[graft] def resolveBase(spark: SparkSession,
                                     checkpointLocation: String,
                                     dir: String,
                                     startVersion: Option[Long]): Long = {
    val mp = new Path(checkpointLocation, "graft-feed-base")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readBack(): Long = {
      val in = fs.open(mp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
    if (fs.exists(mp)) readBack()
    else {
      val base = startVersion.getOrElse(
        Versioned.currentVersion(spark, dir).getOrElse(
          throw new IllegalStateException(
            s"no committed version under $dir — nothing to stream; pass " +
              "startVersion=0 to bootstrap from the first commit")))
      fs.mkdirs(mp.getParent)
      try {
        val out = fs.create(mp, false)  // write-once: first creation wins
        try out.write(s"$base\n".getBytes("UTF-8")) finally out.close()
        base
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => readBack()
        case e: java.io.IOException if fs.exists(mp) => readBack()
      }
    }
  }
}

class ChangeFeedStream(spark: SparkSession, dir: String, keyCol: String,
                       /** resolved-and-persisted by the scan: the
                         * version everything BEFORE the stream is folded
                         * into — batches emit changes strictly after it */
                       baseVersion: Long,
                       maxVersionsPerTrigger: Option[Long],
                       maxBytesPerTrigger: Option[Long],
                       checkpointLocation: String,
                       pinnedSchema: StructType,
                       /** ROW-IMAGE mode (the plain
                         * `readStream.table("graft.t")` semantics): emit
                         * insert/update row images AT THE TABLE SCHEMA —
                         * no change_type column — and fail LOUDLY when a
                         * slice contains deletes (a row-image stream
                         * cannot represent them; the CDC stream can).
                         * `ignoreDeletes` drops them instead, Delta's
                         * escape hatch for append-mostly corpora. */
                       rowImage: Boolean = false,
                       ignoreDeletes: Boolean = false,
                       /** Pin the stream's unread floor against vacuum:
                         * each committed offset re-tags
                         * `__feed_<ckhash>` to itself, so an aggressive
                         * retention sweep during a paced backlog keeps
                         * the next batch's `from` endpoint readable
                         * (tagged versions are retention-exempt)
                         * instead of failing with the floor error.
                         * OPT-IN: the loud floor failure is the
                         * documented default contract, and the tag
                         * outlives the stream by design — drop the
                         * stream's checkpoint, drop its tag. */
                       pinRetention: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** `Trigger.AvailableNow` + pacing: without this interface Spark's
    * generic wrapper captures latestOffset ONCE as the run's target —
    * on a paced stream that is just the FIRST bounded slice, so the
    * run would stop with the backlog undrained. Implementing it
    * ourselves, `prepare` pins the UNPACED current version as the
    * run's ceiling and [[latestOffset]] keeps pacing bounded batches
    * toward it (never past it — versions committed after the trigger
    * fired belong to the next run). */
  @volatile private var availableNowCeiling: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCeiling =
      Some(Versioned.currentVersion(spark, dir).getOrElse(baseVersion))

  /** The filesystem of the stream's checkpoint dir (staged batches). */
  private val ckFs = new Path(checkpointLocation)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private lazy val storeFs =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Upper bound on the bytes the feed slice grows by when its end
    * extends across the single version step `prev -> v`: the on-disk
    * size of every data dir (both sides) of a partition whose manifest
    * entry, dv refs, or uv refs changed across the step — the one
    * changed-partition rule ([[Versioned.changedParts]]) the feed prunes
    * with, priced via one `getContentSummary` per changed dir instead
    * of a read. An upper bound, not exact: a partition rewritten in
    * several steps of one slice is priced per step but read once, and
    * <=> row-dedup can shrink the emitted rows further — conservative
    * is the right direction for a pacing cap. `prev = None` (nothing
    * committed at or below the floor — the bootstrap walk) prices the
    * full version, which is what the bootstrap batch reads. */
  /** Versions are immutable, so a step's price never changes: cache it
    * for the stream's lifetime — without this, every trigger re-lists
    * and re-prices every candidate step of a long backlog (the pacing
    * walk restarts from the floor each time). Bounded by the number of
    * distinct steps this stream ever considers. */
  private val deltaBytesCache =
    scala.collection.mutable.Map.empty[(Option[Long], Long), Long]

  private def deltaBytes(prev: Option[Long], v: Long): Long =
    deltaBytesCache.getOrElseUpdate((prev, v), {
    val (fromMan, toMan, changed) =
      Versioned.changedParts(spark, dir, prev, v)
    val fm = fromMan.toMap
    val tm = toMan.toMap
    changed.flatMap(n => fm.get(n).toSeq ++ tm.get(n).toSeq)
      .toSeq.distinct.map { rel =>
        scala.util.Try(storeFs.getContentSummary(
          new Path(s"$dir/$rel")).getLength) match {
          case scala.util.Success(b) => b
          case scala.util.Failure(e) =>
            // a swept/vacuumed dir prices at 0 — log it instead of
            // silently over-admitting, so a paced stream that starts
            // overshooting its byte cap is diagnosable
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"graft-change-feed: could not price $dir/$rel for " +
                s"byte pacing (${e.getMessage}); counting it as 0 bytes")
            0L
        }
      }.sum
    })

  override def initialOffset(): Offset = FeedOffset(baseVersion)

  /** Spark's admission-control entry point (what it calls on every
    * trigger of this source). `start` is the offset Spark
    * logged last — [[initialOffset]] before the first batch — and is
    * the pacing floor: Spark's offset log carries it across clean and
    * crashed restarts alike, so the source persists nothing of its own
    * for pacing. The engine's `limit` is always allAvailable here (no
    * default limit is declared); pacing is this source's own options.
    * One `commits/` listing per call. */
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val hi = math.max(versionOf(start), baseVersion)
    val all = Versioned.committedVersions(spark, dir)
    val cur = all.lastOption.fold(hi)(c =>
      availableNowCeiling.fold(c)(math.min(c, _)))
    // version pacing: advance at most maxVersionsPerTrigger COMMITTED
    // versions past the floor; a backlog then drains as bounded
    // batches, each with its own checkpoint. Walking the committed list
    // (not hi + m arithmetic) matters once a vacuum has swept
    // mid-backlog versions: every offset this source logs must be a
    // version whose manifest still exists, or the batch endpoints
    // can't be diffed — swept versions collapse into their successor's
    // net slice.
    val next = all.filter(v => v > hi && v <= cur)
    val capped = maxVersionsPerTrigger.fold(next)(m =>
      next.take(math.min(m, Int.MaxValue.toLong).toInt))
    // byte pacing: within the version cap, extend the offset one
    // committed version at a time while the cumulative changed-
    // partition bytes stay under the cap — soft (the first version
    // always lands, so one fat commit can't stall the stream). Steps
    // are priced lazily, up to the first that overflows the cap.
    val n = maxBytesPerTrigger match {
      case Some(maxB) if capped.nonEmpty =>
        val prevs = all.takeWhile(_ <= hi).lastOption +:
          capped.init.map(Some(_))
        val sums = prevs.iterator.zip(capped).map((deltaBytes _).tupled)
          .scanLeft(0L)(_ + _).drop(1)  // bytes of the first 1, 2, … steps
        1 + sums.drop(1).takeWhile(_ <= maxB).size
      case _ => capped.size
    }
    FeedOffset(capped.take(n).lastOption.getOrElse(hi))
  }

  /** Spark calls the admission-control [[latestOffset]] on this source;
    * without a start offset there is no pacing floor. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def deserializeOffset(json: String): Offset =
    FeedOffset(json.trim.toLong)

  private def versionOf(o: Offset): Long = o match {
    case f: FeedOffset => f.v
    case other => other.json.trim.toLong
  }

  /** The batch's DataFrame — the same plan the V1 source wrapped
    * streaming: a bootstrap snapshot at `to` for `from == 0`, else the
    * net [[graft.ops.MergeOps.changeFeed]] slice, aligned to the
    * pinned schema with the loud-evolution guard. */
  /** The staged row layout: the pinned schema, plus — in row-image
    * mode, where the pin IS the table schema — a trailing change_type
    * the staging pass consumes (delete guard + filter) and strips. */
  private def stagedFrameSchema: StructType =
    if (rowImage) pinnedSchema.add("change_type", StringType,
      nullable = false)
    else pinnedSchema

  private def batchFrame(from: Long, to: Long): DataFrame = {
    val frameSchema = stagedFrameSchema
    val batch =
      if (from == 0L)
        // bootstrap: the content diff from empty IS the full snapshot
        ChangeFeedStream.snapshot(spark, dir, to)
          .withColumn("change_type", lit("insert"))
      else
        MergeOps.changeFeed(spark, dir, from, to, keyCol)
    // pin the declared column order; a mid-stream schema evolution
    // surfaces LOUDLY here, both directions: a dropped pinned column
    // as Spark's unresolved-column error from the select, an ADDED
    // column via the explicit guard below — without it the pinned
    // projection would silently discard the new column's values and
    // the mirror would diverge (the round-12 verdict's "not silent
    // nulls" contract). Restarting the stream re-creates the source,
    // re-pins the WIDENED schema, and the replayed batch flows.
    val extra = batch.columns.filterNot(frameSchema.fieldNames.contains)
    require(extra.isEmpty,
      s"the source table under $dir evolved mid-stream: column(s) " +
        s"[${extra.mkString(", ")}] are not in this stream's pinned " +
        "schema — restart the stream to pick up the widened schema")
    // A batch NARROWER than the pin is the restart-replay of a range
    // that predates a widening (the re-created source pinned the
    // widened schema; the replayed slice was computed before the new
    // column existed): those rows null-fill at the pinned type —
    // exactly the value they'd carry read through the widened table.
    // Present columns CAST-ALIGN to the pinned type (no-op casts fold
    // away): on a mixed-layout store the slice's union can coerce a
    // dir-derived column wider than the pin recorded, and the staged
    // UnsafeRow bytes must be laid out at exactly the pinned types the
    // replaying projection reads them with.
    batch.select(frameSchema.fields.map(f =>
      if (batch.columns.contains(f.name))
        col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  private def stageRoot = new Path(checkpointLocation, "graft-feed-stage")

  /** Stage the batch's rows once, distributed: run the feed plan as an
    * ordinary job whose tasks write their partitions' UnsafeRow BYTES
    * to SequenceFiles — the full Catalyst plan (pruned reads, one key
    * shuffle) executes exactly as the V1 source's did, nothing transits
    * the driver, and the staged payload is the change rows only. The
    * dir is keyed by the range, committed by rename, and reused
    * verbatim on replay (versions are immutable, so the recompute
    * would be identical anyway — the reuse just makes replay free). */
  /** The staged bytes are raw UnsafeRows of the schema that was pinned
    * WHEN THEY WERE WRITTEN — replaying them under a different pin
    * (crash with an uncommitted batch, source schema widened, restart
    * re-pins the wider schema) would re-wrap old-width bytes with the
    * new numFields and silently misread the null bitset and offsets.
    * So each stage dir records its schema, and reuse is conditional on
    * the recorded schema matching the CURRENT pin — a mismatch (or a
    * legacy dir with no record) deletes the dir and restages through
    * [[batchFrame]], which aligns/null-fills the recomputed slice to
    * the new pin (versions are immutable, so the recompute is the same
    * logical batch in the new width). */
  private val stageSchemaFile = "_graft_schema.json"

  private def stagedSchemaMatches(dest: Path): Boolean = {
    val sp = new Path(dest, stageSchemaFile)
    ckFs.exists(sp) && {
      val in = ckFs.open(sp)
      val recorded =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      recorded == pinnedSchema.json
    }
  }

  private def stage(from: Long, to: Long): Path = {
    val dest = new Path(stageRoot, s"${from}_$to")
    if (ckFs.exists(new Path(dest, "_SUCCESS"))) {
      if (stagedSchemaMatches(dest)) return dest
      ckFs.delete(dest, true)  // stale-pin bytes: restage under the new pin
    }
    val tmp = new Path(stageRoot,
      s".${from}_${to}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val emitSchema = pinnedSchema
    val frameSchema = stagedFrameSchema
    val imageMode = rowImage
    // row-image delete guard: counted DURING the one staging pass (no
    // second action over the computed feed plan), checked after it
    val deleted = spark.sparkContext.longAccumulator("graft-feed-deletes")
    batchFrame(from, to).queryExecution.toRdd
      .mapPartitions { it =>
        import org.apache.spark.sql.catalyst.expressions.BoundReference
        // in row-image mode the frame carries a trailing change_type
        // the emitted rows strip; the no-op projection otherwise
        val proj = UnsafeProjection.create(
          emitSchema.fields.toIndexedSeq.zipWithIndex.map {
            case (f, i) => BoundReference(i, f.dataType, f.nullable) })
        val ctOrd = frameSchema.length - 1
        it.flatMap { r =>
          if (imageMode) {
            val ct = r.getUTF8String(ctOrd).toString
            if (ct == "delete") { deleted.add(1L); None }
            else Some((NullWritable.get(),
                       new BytesWritable(proj(r).getBytes)))
          } else Some((NullWritable.get(),
                       new BytesWritable(proj(r).getBytes)))
        }
      }
      .saveAsSequenceFile(tmp.toString)
    if (imageMode && deleted.value > 0L && !ignoreDeletes) {
      ckFs.delete(tmp, true)
      throw new IllegalStateException(
        s"the change feed $from -> $to under $dir contains " +
          s"${deleted.value} DELETE row(s): a plain table stream is an " +
          "append/upsert row-image stream and cannot represent " +
          "deletions — read the CDC stream (the catalog's " +
          "`changes` namespace, or format(\"graft-change-feed\")) for " +
          "change_type rows, or pass ignoreDeletes=true to drop them")
    }
    val out = ckFs.create(new Path(tmp, stageSchemaFile), true)
    try out.write(pinnedSchema.json.getBytes("UTF-8")) finally out.close()
    ckFs.delete(dest, true)  // a torn earlier attempt without _SUCCESS
    require(ckFs.rename(tmp, dest),
      s"could not commit staged feed batch $tmp -> $dest")
    dest
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val from = versionOf(start)
    val to = versionOf(end)
    if (from >= to) return Array.empty
    val dest = stage(from, to)
    pinFloor(to)  // staged: the source is only needed beyond `to` now
    ckFs.listStatus(dest).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("part-"))
      .sortBy(_.getName)
      .map(p => StagedFilePartition(p.toString): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StagedRowReaderFactory(pinnedSchema.fields.length,
      new SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))

  /** The stream's vacuum pin: one tag per checkpoint (stable across
    * restarts — the checkpoint IS the stream's identity), re-pointed
    * to each batch's END as soon as its bytes are STAGED — from then
    * on the staged SequenceFiles serve any replay of the range, and
    * everything the stream still needs from the source is versions
    * > end (the next slice's from-side) — so every advance releases
    * the versions behind it. Staging time, not `commit`, because Spark
    * defers the source-commit callback to the NEXT trigger (or the
    * next restart): a Trigger.Once run would otherwise end with its
    * pin one batch behind, and a vacuum between runs could sweep the
    * very version the next slice diffs FROM. Registered at creation
    * too (the base would otherwise be sweepable between stream start
    * and the first batch). Tag writes are atomic rename-replace, so a
    * racing vacuum sees old-or-new — both safe. One lagging edge,
    * documented: a schema-widening RESTAGE of an already-staged range
    * needs the from-side's data again, and a vacuum past it fails with
    * the loud floor error. */
  private val retentionTag: String = "__feed_" + java.security.MessageDigest
    .getInstance("MD5").digest(checkpointLocation.getBytes("UTF-8"))
    .take(6).map("%02x".format(_)).mkString

  private def pinFloor(v: Long): Unit =
    if (pinRetention &&
        Versioned.committedVersions(spark, dir).contains(v) &&
        // MONOTONE: the deferred source-commit callback of an already-
        // superseded batch (Spark fires it a trigger late) must not
        // regress the pin a newer staging already advanced
        !Versioned.tags(spark, dir).get(retentionTag).exists(_ >= v) &&
        // already below the floor: tagging is refused (the data may be
        // gone) — skip, and let the feed's own floor check fail loudly
        Versioned.retentionFloor(spark, dir).forall(f => v >= f))
      Versioned.tagVersion(spark, dir, retentionTag, v)

  pinFloor(baseVersion)

  /** A committed range's staged bytes can never be replayed — sweep
    * every stage dir whose end is at or below the committed offset
    * (and any torn tmp attempt). */
  override def commit(end: Offset): Unit = {
    val committed = versionOf(end)
    pinFloor(committed)
    if (!ckFs.exists(stageRoot)) return
    ckFs.listStatus(stageRoot).foreach { st =>
      val n = st.getPath.getName
      val sweep =
        if (n.startsWith(".")) true  // torn tmp attempt
        else n.split('_') match {
          case Array(_, t) =>
            scala.util.Try(t.toLong).toOption.exists(_ <= committed)
          case _ => false
        }
      if (sweep) scala.util.Try(ckFs.delete(st.getPath, true))
    }
  }

  override def stop(): Unit = ()
  override def toString: String =
    s"ChangeFeedStream[$dir, key=$keyCol, base=$baseVersion]"
}

/** One staged SequenceFile of UnsafeRow bytes. */
case class StagedFilePartition(path: String) extends InputPartition

class StagedRowReaderFactory(numFields: Int,
                             conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new StagedRowReader(
      partition.asInstanceOf[StagedFilePartition].path, numFields,
      conf.value)
}

/** Replays one staged SequenceFile: each record's bytes ARE an
  * UnsafeRow of the pinned schema — `pointTo` re-wraps them with zero
  * decoding (the same-version write/read pairing every shuffle relies
  * on). */
class StagedRowReader(path: String, numFields: Int, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private val reader =
    new SequenceFile.Reader(conf, SequenceFile.Reader.file(new Path(path)))
  private val key = NullWritable.get()
  private val value = new BytesWritable()
  private var row: UnsafeRow = _

  override def next(): Boolean =
    if (reader.next(key, value)) {
      val r = new UnsafeRow(numFields)
      r.pointTo(value.copyBytes(), value.getLength)
      row = r
      true
    } else false

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

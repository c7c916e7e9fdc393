package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.graftbridge.ClassicBridge
import org.apache.spark.sql.functions.{col, lit, row_number}
import org.apache.spark.sql.types.StructType

/** Thrown when a writer loses a commit race: another writer claimed the
  * same version's manifest or marker first. The loser's staged data is
  * never visible (its stage dir is unique and unreferenced); the correct
  * response is to redo the whole stage+publish at [[Versioned.nextVersion]]
  * — the state it computed from has changed, so re-deriving, not just
  * re-publishing, is required. */
class ConcurrentCommitException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

/** Minimal crash-atomic commit protocol for in-place table rewrites — the
  * write-audit-publish discipline [[graft.ops.MergeOps]] sits on (SURVEY
  * §2 merge rows; the design every table format with a commit log uses,
  * scaled down to "one manifest per version + one empty marker file").
  *
  * Layout under a table root `dir` (protocol v3.1, round 10):
  * {{{
  *   dir/commits/<v>               marker — EXISTENCE is the commit;
  *                                 stays EMPTY forever
  *   dir/commits/<v>.winner        winner binding — the committed
  *                                 attempt's token, exclusive-created
  *   dir/manifest/<v>_<token>.txt  partition-dir-name \t rel-data-dir,
  *                                 one per ATTEMPT (winner bound by the
  *                                 binding; legacy: manifest/<v>.txt
  *                                 with no binding)
  *   dir/<kind>/<v>_<token>.txt   sidecars, same attempt binding
  *                                 ([[SidecarKinds]])
  *   dir/data/<v>_<token>/...      data staged by ONE writer's attempt
  * }}}
  *
  * A writer allocates `v` = snapshot+1, mints an attempt token, stages
  * data under its UNIQUE `data/<v>_<token>` dir, writes its sidecars
  * and `manifest/<v>_<token>.txt`, then claims the EMPTY marker and
  * binds its token ([[publish]] — four steps, every torn intermediate
  * either invisible or mechanically recoverable via
  * [[repairTornCommit]]). Readers resolve the highest committed
  * version, read its winner binding, and read exactly the directories
  * the WINNING manifest lists. A crash before the claim leaves every
  * reader on the previous version — always fully-old or fully-new,
  * never a mix (the property [[graft.AtomicCommitSpec]] kills a staged
  * write mid-flight to prove); a crash between claim and binding is
  * the one LOUD state: reads of it fail naming [[repairTornCommit]],
  * which COMPLETES the version as a no-op commit through the same
  * binding claim every writer uses — nothing resolves arbitrarily,
  * nothing is deleted, and nothing anyone was told committed is lost.
  *
  * Concurrency contract (two LIVE writers racing — the streaming
  * maintenance sink + a batch merge sharing one store): exactly one
  * wins, and EVERY loser learns it lost. Three mechanisms compose:
  *   1. every attempt's files (stage dir, manifest, sidecars) are
  *      tokenized — attempts can never overwrite each other's bytes,
  *      and a crashed ghost can never collide with (and so never burn)
  *      a retry at the same version;
  *   2. every writer publishes at SNAPSHOT+1 ([[nextVersion]]), so all
  *      racers from one snapshot contend on the SAME marker — the
  *      round-9 protocol skipped in-flight sidecars and let a racer
  *      slip to a higher number staged from a stale snapshot, where
  *      both writers "won" and the first commit silently vanished (the
  *      r9 advice lost-update);
  *   3. the marker claim and the winner binding are both atomic
  *      exclusive creates (kernel-atomic on POSIX local filesystems,
  *      namenode-atomic on HDFS-class stores); the binding is what
  *      makes a loser's same-version manifest and sidecars inert
  *      ghosts rather than ambient state.
  * A loser gets [[ConcurrentCommitException]] and must redo the whole
  * stage at snapshot+1 of the NEW current (the state it computed from
  * changed) — [[withCommitRetry]] automates exactly that loop; ghosts
  * are reclaimed by [[vacuum]] once `current` passes them.
  *
  * Scale notes: resolution is one `listStatus` of `commits/` (one entry
  * per version — the same bounded metadata walk a commit log replays);
  * the manifest is one line per partition, so planning-time partition
  * pruning is a driver-side filter over it, exactly what `PartitionFilters`
  * does for Hive layouts. Untouched partitions keep pointing at older
  * versions' data dirs — a merge pays for touched partitions only, and a
  * reader never lists data dirs it does not need. */
object Versioned {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Versioned")

  /** COMPACT position encoding (round 16, the sidecar format's second
    * generation): sorted row positions serialize as delta-gap VARINTs
    * (LEB128) in base64, marked by a leading `~` — ~3–10× smaller than
    * the dot-joined decimal the round-15 writer used and O(1)-parsed
    * per byte instead of per digit-split. Base64's alphabet shares no
    * character with the line format's separators (tab, comma, colon,
    * dot), so both generations parse through the same field walk. */
  private[graft] def encodePositions(ps: Seq[Long]): String = {
    val out = new java.io.ByteArrayOutputStream(ps.length * 2)
    var prev = 0L
    ps.foreach { p =>
      var v = p - prev
      prev = p
      while ((v & ~0x7FL) != 0L) {
        out.write(((v & 0x7FL) | 0x80L).toInt); v >>>= 7
      }
      out.write(v.toInt)
    }
    "~" + java.util.Base64.getEncoder.withoutPadding
      .encodeToString(out.toByteArray)
  }

  private[graft] def decodePositions(s: String): Seq[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s.substring(1))
    val ps = Seq.newBuilder[Long]
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        b = bytes(i) & 0xFF
        require(shift < 64, "varint overflow")
        v |= (b & 0x7FL) << shift
        shift += 7
        i += 1
      } while ((b & 0x80) != 0)
      acc += v
      ps += acc
    }
    ps.result()
  }

  /** Parse one sidecar POSITION field (`file:~<b64-varints>` — round
    * 16 — or the legacy `file:p1.p2` dot-decimal) against its line's
    * scope. Malformed entries — no ':', an empty, non-numeric or
    * corrupt position list (a foreign-written sidecar) — DEMOTE their
    * file to the scope tier's anti-join with a warning instead of
    * killing the read with an index/number error: the coarser tier is
    * always correct. The writer invariant pos ⊆ scope is enforced here
    * too — a position-mapped file the scope does not name would route
    * into both the clean and the positional read splits (duplicate
    * rows), so such an entry demotes as well. */
  private def parsePosField(field: String, scope: Option[Set[String]])
      : Map[String, Seq[Long]] =
    field.split(',').iterator.flatMap { s =>
      val i = s.lastIndexOf(':')
      val parsed =
        if (i <= 0 || i == s.length - 1) None
        else {
          val body = s.substring(i + 1)
          scala.util.Try(
            if (body.startsWith("~")) decodePositions(body)
            else body.split('.').toSeq.map(_.toLong)).toOption
            .filter(ps => ps.nonEmpty && ps == ps.sorted)
            .map(ps => s.substring(0, i) -> ps)
        }
      val kept = parsed.filter { case (f, _) =>
        scope.exists(sc => sc.contains(f)) }
      if (kept.isEmpty)
        log.warn(s"malformed or out-of-scope positional entry '$s' in " +
          "a dv/uv sidecar line — demoting its file to the " +
          "file-scope anti-join (always correct)")
      kept
    }.toMap

  /** Manifest key used for the single entry of an unpartitioned table. */
  private val WholeTable = "__ALL__"

  /** Optimistic-concurrency retry — the loop every commit-log system
    * wraps its writers in. `op` must be a COMPLETE stage+publish that
    * RE-DERIVES from the current committed state on every call (every
    * [[graft.ops.MergeOps]] / [[graft.ops.IncrementalOps]] writer is:
    * they read current, compute, allocate, stage, publish); a loser's
    * retry then automatically lands against the winner's state instead
    * of surfacing [[ConcurrentCommitException]] to the caller. Bounded
    * attempts keep a livelock loud; jittered linear backoff de-syncs
    * herds of racers (jitter only times the SLEEP — it can never reach
    * committed data, so output determinism is untouched). */
  def withCommitRetry[T](maxAttempts: Int = 5, baseBackoffMs: Long = 50L)
                        (op: => T): T = {
    require(maxAttempts >= 1, "withCommitRetry needs at least one attempt")
    var attempt = 1
    while (true) {
      try return op
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxAttempts) throw new ConcurrentCommitException(
            s"commit still losing races after $maxAttempts attempts — " +
              "either writer contention is pathological or the conflict " +
              s"is not transient (last: ${e.getMessage})", e)
          Thread.sleep(baseBackoffMs * attempt +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(50L))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def fsOf(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** File-schema memo, keyed by a WRITE-ONCE dir (or root list): every
    * uncached footer inference is a Spark job, and a multi-pass write
    * verb re-opens the same staged dirs 3-20× per commit. A version dir
    * is staged by one write and never changes (tokenized per attempt;
    * vacuum only deletes); the bench's source tables are read-only.
    * Data columns only: partition types are decided per read
    * ([[scanEntries]]), never memoized. Bounded; whole-map eviction. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The data schema of `files`, memoized under `key`. */
  private def fileSchema(s: SparkSession, key: String,
                         files: Seq[FileStatus]): StructType =
    Option(schemaMemo.get(key)).getOrElse {
      if (schemaMemo.size >= 8192) schemaMemo.clear()
      val st = ClassicBridge.parquetSchema(s, files)
      schemaMemo.put(key, st)
      st
    }

  /** One read's leaf listing as a read-only `FileStatusCache`: the
    * read's file index finds every root's files here, so Spark never
    * lists, never starts a "Listing leaf files" job and files nothing
    * in its process-wide cache. Held by that index alone — it lives
    * exactly as long as the read's plan. */
  private final class Listed(leaves: Map[Path, Array[FileStatus]])
      extends FileStatusCache {
    override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
      leaves.get(p)
    override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** THE store-read kernel: a parquet DataFrame over `paths` (dirs or
    * files), each listed once on the driver ([[listLeaves]]) and handed
    * to Spark as a ready file index — no path check, no leaf-listing
    * job, nothing left in Spark's shared `FileStatusCache`, no repeat
    * footer inference. Partition columns below each path are inferred
    * as `read.parquet` infers them. */
  private[graft] def readParquetCached(s: SparkSession,
                                       paths: Seq[String]): DataFrame =
    readListed(s, listLeaves(s, paths))

  /** [[readParquetCached]] over listed roots; `spec` and `data` given
    * ([[scanEntries]]): the index's partitions and the file schema. */
  private def readListed(s: SparkSession,
      roots: Seq[(Path, Seq[FileStatus])],
      spec: Option[PartitionSpec] = None,
      data: Option[StructType] = None): DataFrame = {
    val index = new InMemoryFileIndex(s, roots.map(_._1), Map.empty, None,
      new Listed(roots.map { case (p, files) => p -> files.toArray }.toMap),
      spec)
    ClassicBridge.parquet(s, index, data.getOrElse(fileSchema(s,
      roots.map(_._1.toString).sorted.mkString("\u0001"),
      roots.flatMap(_._2))))
  }

  /** The kernel's driver listing: each of `paths`, qualified, with the
    * data files under it ([[dataFiles]]' rule, descending into
    * partition dirs; a file is its own leaf). A path that VANISHED
    * between the manifest resolve and this listing (a racing vacuum
    * swept the version below its floor) is a commit-state change, not
    * corruption: it surfaces as the retryable race signal — the same
    * translation the manifest read does — so a reader racing a vacuum
    * fails loudly with the protocol's own error instead of a raw
    * missing-path exception. (The window AFTER frame creation — a scan
    * task opening a file a vacuum deleted mid-job — remains the
    * documented reader-vs-vacuum contract every table format has:
    * schedule retention from one maintainer, or retry the read.) */
  private[graft] def listLeaves(s: SparkSession, paths: Seq[String])
      : Seq[(Path, Seq[FileStatus])] = {
    require(paths.nonEmpty, "a parquet read needs at least one path")
    val fs = fsOf(s, paths.head)
    def leaves(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (st.isFile) Seq(st).filter(isDataFile)
        else if (n.startsWith(".") || (n.startsWith("_") && !n.contains('=')))
          Nil
        else leaves(st.getPath)
      }
    paths.map { p =>
      val q = fs.makeQualified(new Path(p))
      try q -> leaves(q)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new ConcurrentCommitException(
            s"data path $q vanished mid-read — a concurrent vacuum " +
              "swept this version below its retention floor; " +
              "re-derive from the current commit log", e)
      }
    }
  }

  /** Legacy fixed stage path (round-8 layout, version-only name). Still
    * readable — [[stageDirVersion]] parses both forms — and used by the
    * kill-tests to hand-craft torn states; live writers use
    * [[newStageRel]] so concurrent attempts can never collide. */
  def stagePath(dir: String, v: Long): String = s"$dir/data/$v"

  /** A fresh attempt token: 8 hex chars of a UUID. One token identifies
    * ONE writer attempt — its stage dir, its manifest, and its sidecars
    * all carry it, and the commit marker records the winner's token so
    * readers resolve exactly the winning attempt's files. Uniqueness
    * (not secrecy) is the point. */
  def newToken(): String = java.util.UUID.randomUUID().toString.take(8)

  /** The UNIQUE relative stage dir of attempt `token` at version `v`:
    * `data/<v>_<token>`. */
  def newStageRel(v: Long, token: String): String = s"data/${v}_$token"

  /** [[newStageRel]] with a throwaway token — for writers that carry no
    * sidecars (the stage token never needs to match the publish token;
    * manifest entries record full relative paths). */
  def newStageRel(v: Long): String = newStageRel(v, newToken())

  /** The version a data dir name was staged for: `<v>` or `<v>_<token>`. */
  private[graft] def stageDirVersion(name: String): Option[Long] =
    scala.util.Try(name.takeWhile(_ != '_').toLong).toOption

  /** An EMPTY frame at the schema of `man`'s newest-staged entry — the
    * authoritative schema under the batch-wins evolution rule — read
    * from that ONE entry, so an all-pruned read or a schema probe costs
    * one directory listing, not a metadata walk over every partition. */
  private[graft] def emptyFrame(s: SparkSession, dir: String,
                                man: Seq[(String, String)],
                                partCol: Option[String]): DataFrame = {
    val newest = man.maxBy(e =>
      stageDirVersion(e._2.split("/")(1)).getOrElse(0L))
    readEntries(s, dir, Seq(newest), partCol, man).limit(0)
  }

  /** THE commit-log listing: every committed version with its marker's
    * store mtime (the commit instant on the store's clock), ascending —
    * one bounded `commits/` listing. May have gaps: a crashed or
    * race-losing writer burns its version number (see [[nextVersion]]),
    * so consumers iterate THIS list, never `1..current`. */
  def commitLog(s: SparkSession, dir: String): Seq[(Long, Long)] = {
    val fs = fsOf(s, dir)
    val c = new Path(dir, "commits")
    if (!fs.exists(c)) Seq.empty
    else fs.listStatus(c).toSeq.flatMap(st =>
      scala.util.Try(st.getPath.getName.toLong).toOption
        .map(_ -> st.getModificationTime)).sortBy(_._1)
  }

  /** All committed versions, ascending ([[commitLog]]). */
  def committedVersions(s: SparkSession, dir: String): Seq[Long] =
    commitLog(s, dir).map(_._1)

  /** Highest committed version, if any — one bounded metadata listing. */
  def currentVersion(s: SparkSession, dir: String): Option[Long] =
    committedVersions(s, dir).lastOption

  /** The version a writer deriving from current RIGHT NOW may attempt:
    * highest committed version + 1. The load-bearing invariant is
    * stronger and belongs to every writer: **publish at SNAPSHOT + 1**,
    * where the snapshot is the version the write actually derived from
    * — allocated from the SAME read, never from a later re-listing.
    * Two distinct lost-update holes close under that rule:
    *   - allocating past orphaned sidecars (the round-9 protocol) let a
    *     racer slip to a higher number with a stale snapshot;
    *   - re-listing current at allocation time (the first round-10
    *     draft) had the same hole in miniature — a racer committing
    *     between a writer's derivation and its allocation leapfrogged
    *     the claim instead of contesting it (caught live by the Wave18
    *     threaded race).
    * With snapshot+1, any commit that intervenes makes the claim FAIL
    * with [[ConcurrentCommitException]] and the loser redoes its whole
    * derivation. Crashed attempts cannot burn a version because every
    * manifest/stats/ledger file is tokenized per attempt
    * ([[newToken]]) — nothing write-once lives at a shared name except
    * the marker itself. One bounded metadata listing. */
  def nextVersion(s: SparkSession, dir: String): Long =
    currentVersion(s, dir).getOrElse(0L) + 1

  /** The winning attempt's token of a COMMITTED version: Some(token)
    * for tokenized commits, None for legacy commits (empty marker +
    * version-named `manifest/<v>.txt`). Resolution order:
    *   1. `commits/<v>.winner` content (protocol v3.1 — the marker
    *      itself stays empty forever, so there is no torn-content or
    *      overwrite-glimpse hazard on the marker);
    *   2. non-empty marker content (the short-lived v3.0 interim format
    *      that wrote the token into the marker — still readable);
    *   3. legacy `manifest/<v>.txt` → None.
    * A marker with none of the three is a TORN commit: the writer died
    * between its claim and its binding. A racing reader can also catch
    * the microseconds between those two creates, so the reader retries
    * briefly; a genuinely torn commit then fails LOUDLY, naming
    * [[repairTornCommit]] as the recovery — never resolving to an
    * arbitrary attempt. */
  /** Read a small metadata file as its trimmed UTF-8 content. */
  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private[graft] def committedToken(s: SparkSession, dir: String,
                                    v: Long): Option[String] = {
    val fs = fsOf(s, dir)
    def resolveOnce(): Option[Option[String]] = {
      val w = winnerPath(dir, v)
      if (fs.exists(w)) {
        val t = readSmallFile(fs, w)
        if (t.nonEmpty) return Some(Some(t))
      }
      val markerP = new Path(dir, s"commits/$v")
      if (!fs.exists(markerP))
        // the version vanished between the caller's listing and this
        // read: a torn FIRST version was repaired away or the metadata
        // sweep passed — a commit-state change, not corruption
        throw new ConcurrentCommitException(
          s"commit marker for version $v under $dir disappeared " +
            "mid-read — re-derive from the current commit log")
      val m = readSmallFile(fs, markerP)
      if (m.nonEmpty) Some(Some(m))
      else if (fs.exists(sidecarPathFor(dir, v, None, Manifest))) Some(None)
      else None
    }
    var attempt = 0
    while (attempt < 5) {
      resolveOnce() match {
        case Some(r) => return r
        case None =>
          attempt += 1
          if (attempt < 5) Thread.sleep(100L * attempt)
      }
    }
    // ConcurrentCommitException, not IllegalState: the unresolved claim
    // is either a writer mid-publish (transient — withCommitRetry's
    // backoff absorbs it and re-derives once the binding lands) or a
    // dead writer's torn claim (run the repair). Both are commit-state
    // conflicts, not corrupt data.
    throw new ConcurrentCommitException(
      s"commit at version $v under $dir is unresolved: the claim exists " +
        "but no winner binding, marker token, or legacy manifest names " +
        "the winning attempt. Either its writer is mid-publish (retry " +
        "shortly) or it died between claim and binding — run " +
        "Versioned.repairTornCommit to complete it as a no-op commit")
  }

  /** Repair a TORN commit — a claim whose publishing writer died
    * before its winner binding landed, leaving a version that exists
    * but cannot resolve (reads of it fail loudly). The repair COMPLETES
    * the version as a NO-OP COMMIT: it writes a fresh tokenized
    * manifest duplicating the previous committed version's entries and
    * binds it through the same exclusive-create claim every writer
    * uses — so a paused (not dead) writer that resumes contends on the
    * binding like any racer: if the writer binds first, repair sees a
    * healthy commit and backs off (false); if repair binds first, the
    * writer loses with [[ConcurrentCommitException]] and redoes its
    * stage, exactly as if a real competitor had won. NOTHING is
    * deleted, so there is no state in which a commit someone was told
    * succeeded disappears. (Only a torn FIRST version, with no prior
    * manifest to duplicate and no binding at all, is discarded by
    * deleting the claim — nothing below it can reference it.) An EMPTY
    * winner file — a writer dead INSIDE its binding write — is
    * repaired after the grace by OVERWRITING it with the no-op token,
    * never deleting it: if the "dead" writer was merely paused and its
    * own 8-byte token write lands after ours, last-write-wins leaves
    * ITS valid commit bound (repair's no-op manifest becomes a ghost)
    * — both terminal states are valid committed versions and neither
    * loses data, which a delete-then-recreate could not guarantee
    * (the writer's resumed write would land in an unlinked inode and
    * its believed commit would vanish).
    *
    * The grace period is measured against the STORE's clock (a probe
    * file's mtime), not the client's, so clock skew cannot defeat it
    * in either direction. Returns true if this call repaired the
    * version. */
  def repairTornCommit(s: SparkSession, dir: String, v: Long,
                       graceMs: Long = 60000L): Boolean = {
    val fs = fsOf(s, dir)
    val marker = new Path(dir, s"commits/$v")
    if (!fs.exists(marker)) return false
    val w = winnerPath(dir, v)
    val emptyWinner = fs.exists(w) && {
      if (readSmallFile(fs, w).nonEmpty) return false      // healthy
      true
    }
    if (readSmallFile(fs, marker).nonEmpty) return false   // v3.0 interim
    // a legacy commit (version-named manifest, no binding)
    if (fs.exists(sidecarPathFor(dir, v, None, Manifest))) return false
    // store-clock age: create a probe and compare the two mtimes, so
    // client/store clock skew cannot defeat the grace either way
    val probe = new Path(dir, s"commits/.repair_probe_${newToken()}")
    val storeNow =
      try { atomicCreateNewFile(fs, probe)
            fs.getFileStatus(probe).getModificationTime }
      finally fs.delete(probe, false)
    val anchor = fs.getFileStatus(if (emptyWinner) w else marker)
      .getModificationTime
    val age = storeNow - anchor
    require(age >= graceMs,
      s"commit claim for version $v under $dir is only ${age}ms old by " +
        "the store's clock — its writer may still be mid-publish; wait " +
        "out the grace period before repairing")
    committedVersions(s, dir).filter(_ < v).lastOption match {
      case None =>
        // torn first version with no binding: nothing committed below
        // it, nothing can reference it — discard the claim. A paused
        // writer that resumes re-binds and re-claims via publish steps
        // 3-4. With an EMPTY binding the winner identity is
        // undecidable and there is no prior manifest to no-op to:
        // refuse rather than risk unlinking a resuming writer's
        // binding — a first version with no data is a delete-the-table
        // situation, not a repair.
        if (emptyWinner) false
        else { fs.delete(marker, false); true }
      case Some(pv) =>
        val tok = newToken()
        // the no-op version duplicates pv's manifest, so pv's partition
        // lines describe it exactly. DV refs are CORRECTNESS state: a
        // repaired version without pv's dv sidecar would RESURRECT every
        // MOR-deleted row the moment it becomes current (the protocol
        // fuzz found exactly this: MOR delete → torn claim → repair →
        // ghosts). The cumulative kinds' readers walk back past it.
        writeSidecar(s, dir, v, tok, Manifest,
          manifestLines(manifest(s, dir, pv)))
        copyPartitionSidecars(s, dir, pv, dir, v, tok)
        if (emptyWinner) {
          // overwrite (see the scaladoc): last-write-wins between this
          // repair token and a resuming writer's leaves a valid binding
          // either way; nothing is unlinked — and the write is a
          // rename-replace, so a racing reader sees empty-or-full,
          // never the truncated prefix a create(overwrite) could tear to
          atomicWriteSmallFile(fs, w, tok)
          true
        } else claimWinner(fs, dir, v, tok) // false → writer finished first
    }
  }

  /** The VERSIONED SIDECAR kinds: `<kind>/<v>_<token>.txt` files beside
    * the commit log, written once under the publishing attempt's token
    * BEFORE [[publish]] binds it, so a committed version and its
    * sidecars commit atomically and a losing or crashed attempt's files
    * are never read (legacy commits use `<kind>/<v>.txt`). Each kind's
    * directory name is defined here and nowhere else: a new kind joins
    * one of the lists below and thereby gets its rollback, branch,
    * repair and vacuum rules. */
  private[graft] val Manifest = "manifest"
  /** The partitions whose live content a commit may have changed —
    * what a rebase's disjointness check trusts. An absent sidecar
    * declares nothing (= touches everything); an empty one is a real
    * "content untouched" declaration (ledger ticks). Never carried. */
  private[graft] val Touch = "touch"
  /** Per-partition zone maps (Iceberg's manifest stats): range bounds,
    * dictionaries, blooms and per-file row counts ([[StatsLine]]), one
    * line per entry × column. Stats make range pruning
    * LAYOUT-AGNOSTIC — the reader needs only the bounds, not how the
    * writer clustered the data — and are an optimization, never a
    * correctness gate: a missing line merely reads the partition. */
  private[graft] val Stats = "stats"
  /** Merge-on-read DELETION VECTORS (Delta's DV idea, at this store's
    * partition granularity): each line maps a partition dir name to a
    * tombstone-key parquet dir (under `dvdata/`) that must be
    * ANTI-JOINED out of that partition's rows on read (format:
    * [[MorRef]]). A MOR delete publishes only this sidecar plus
    * one small tombstone dir — the manifest and data dirs carry
    * verbatim, so delete cost is ∝ deleted keys, never partition bytes.
    * Unlike stats, DV refs are CORRECTNESS state: every publisher that
    * restages a partition must first read it LIVE ([[readEntriesLive]],
    * which applies the refs) and then DROP that partition's lines. */
  private[graft] val Dv = "dv"
  /** Merge-on-read UPDATE VECTORS — the DV idea for updates
    * ([[graft.ops.MergeOps.mergeUpdateMor]]): each line names a dir of
    * FULL replacement row images (under `uvdata/`, partitioned by the
    * table's partCol) that SUBSTITUTE for the base rows with the same
    * key on read (format: [[MorRef]]) — applied BEFORE the DV
    * anti-join (an update of a live key precedes any later tombstone of
    * it; a tombstoned key is not live, so no image is ever written for
    * one). Multiple generations on one partition stack: the image from
    * the HIGHEST staged version wins per key (the dir name carries the
    * version). Same correctness-state carry contract as dv. */
  private[graft] val Uv = "uv"
  /** The applied-id ledger ([[appliedLedgerIds]]). */
  private[graft] val Ledger = "ledger"
  /** PERSISTED table-level CHECK constraints, `name \t sql-expr` lines:
    * TABLE METADATA riding the commit log (Delta's `ADD CONSTRAINT`
    * model), so every writer deriving from `v` sees exactly the set
    * committed at or before its snapshot, a torn add is invisible, and
    * a racing add loses the version claim like any writer. An EMPTY
    * sidecar is how dropping the last constraint releases the table
    * ([[graft.ops.MergeOps.dropConstraint]]). A rollback restores
    * CONTENT, not the table's contract — the Delta RESTORE rule. */
  private[graft] val Constraints = "constraints"
  /** Table properties (`key \t value`, [[tableProps]]). */
  private[graft] val Props = "props"

  /** Kinds whose lines are keyed by partition dir name and describe
    * exactly ONE manifest: a writer carries the lines of the partitions
    * it keeps and drops those it restages; rollback and torn-claim
    * repair copy the source version's lines whole
    * ([[copyPartitionSidecars]]), and a branch fork carries them whole
    * through the commit kernel. */
  private[graft] val PartitionKeyed = Seq(Stats, Dv, Uv)

  /** The merge-on-read kinds ([[MorRef]]); each stages its row dirs under
    * `<kind>data/`. */
  private[graft] val MorKinds = Seq(Dv, Uv)

  /** CUMULATIVE kinds: the newest committed sidecar at or below `v`
    * is in force at `v` ([[newestSidecar]]), so writers that do not
    * change them write none, and an empty one masks older ones.
    * [[vacuum]] keeps each kind's newest version below its floor whole.
    * Only the ledger rolls back with the data ([[rollback]]);
    * constraints and properties are the table's contract and stay. */
  private[graft] val Cumulative = Seq(Ledger, Constraints, Props)

  /** Every versioned sidecar kind — what [[vacuum]] sweeps. */
  private[graft] val SidecarKinds =
    Seq(Manifest, Touch) ++ PartitionKeyed ++ Cumulative

  /** The on-disk path of a version's `side` sidecar under attempt
    * resolution: `side/<v>_<token>.txt` for tokenized commits,
    * `side/<v>.txt` for legacy ones. */
  private def sidecarPathFor(dir: String, v: Long, token: Option[String],
                             side: String): Path = token match {
    case Some(t) => new Path(dir, s"$side/${v}_$t.txt")
    case None => new Path(dir, s"$side/$v.txt")
  }

  /** The COMMITTED version `v`'s `side` sidecar path, if the winning
    * attempt wrote one. Resolves through the marker token, so a losing
    * or crashed attempt's ghost sidecar at the same version can never
    * be read. */
  private[graft] def committedSidecar(s: SparkSession, dir: String, v: Long,
                                      side: String): Option[Path] = {
    val fs = fsOf(s, dir)
    val p = sidecarPathFor(dir, v, committedToken(s, dir, v), side)
    if (fs.exists(p)) Some(p) else None
  }

  private def readLines(fs: FileSystem, p: Path): List[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The committed version `v`'s `side` lines (blank lines dropped);
    * None when the winning attempt wrote no such sidecar. A sidecar
    * that VANISHES between the token resolve and the read is a
    * commit-state change (a repair rebound the version and a vacuum
    * ghost-swept the old attempt's files), not corruption: it surfaces
    * as the retryable race signal so withCommitRetry re-derives. */
  private[graft] def committedLines(s: SparkSession, dir: String, v: Long,
                                    side: String): Option[List[String]] =
    committedSidecar(s, dir, v, side).map { p =>
      try readLines(fsOf(s, dir), p)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new ConcurrentCommitException(
            s"$side $p of committed version $v under $dir vanished " +
              "mid-read — the version's winner was rebound " +
              "concurrently; re-derive from the current commit log", e)
      }
    }

  /** [[committedLines]], empty when the version wrote none — the carry
    * surface of the partition-keyed kinds: a carry filters lines by
    * partition name ([[statsLinePart]]) without parsing them, so every
    * line form survives a carry verbatim. */
  private[graft] def sidecarLines(s: SparkSession, dir: String, v: Long,
                                  side: String): List[String] =
    committedLines(s, dir, v, side).getOrElse(Nil)

  /** The newest committed `side` sidecar at or below `v`, with its
    * version — the cumulative kinds' walk-back, bounded by the version
    * count; a table that never wrote the kind pays one existence probe.
    * Each step resolves through the marker token, so a crashed
    * writer's orphan and a losing racer's ghost are both invisible. */
  private[graft] def newestSidecar(s: SparkSession, dir: String, v: Long,
                                   side: String)
      : Option[(Long, List[String])] =
    if (!fsOf(s, dir).exists(new Path(dir, side))) None
    else committedVersions(s, dir).filter(_ <= v).reverseIterator
      .flatMap(w => committedLines(s, dir, w, side).map(w -> _))
      .nextOption()

  /** Lines of the cumulative `side` in force at `v` (empty if none). */
  private[graft] def cumulativeLines(s: SparkSession, dir: String, v: Long,
                                     side: String): List[String] =
    newestSidecar(s, dir, v, side).fold(List.empty[String])(_._2)

  /** Write version `v`'s `side` sidecar for attempt `token`: one
    * write-once file of newline-terminated lines, in the caller's
    * order. The one writer of every versioned sidecar; an existing file
    * is the commit-race signal ([[createExclusive]]). */
  private[graft] def writeSidecar(s: SparkSession, dir: String, v: Long,
                                  token: String, side: String,
                                  lines: Seq[String]): Unit = {
    val out = createExclusive(fsOf(s, dir),
      sidecarPathFor(dir, v, Some(token), side), side)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Copy `from`'s partition-keyed sidecars of version `fromV` whole to
    * attempt `token` of version `toV` under `to`; a kind with no line is
    * not written. */
  private[graft] def copyPartitionSidecars(s: SparkSession, from: String,
      fromV: Long, to: String, toV: Long, token: String): Unit =
    PartitionKeyed.foreach { side =>
      val lines = sidecarLines(s, from, fromV, side)
      if (lines.nonEmpty) writeSidecar(s, to, toV, token, side, lines)
    }

  private def manifestLines(entries: Seq[(String, String)]): Seq[String] =
    entries.map { case (k, rel) => s"$k\t$rel" }

  /** The committed manifest of version `v`: (partition dir name, relative
    * data dir) pairs; dir name `__ALL__` marks an unpartitioned table.
    * Resolved through the marker token (see [[committedToken]]). */
  def manifest(s: SparkSession, dir: String, v: Long): Seq[(String, String)] =
    committedLines(s, dir, v, Manifest).getOrElse(
      throw new ConcurrentCommitException(
        s"manifest of committed version $v under $dir vanished — the " +
          "version's winner was rebound concurrently; re-derive from the " +
          "current commit log"))
      .map { line =>
        val i = line.indexOf('\t')
        (line.substring(0, i), line.substring(i + 1))
      }

  /** Stage-dir partition listing → manifest entries: every `col=value`
    * child of the staged dir (the dirs Spark's partitionBy writer
    * created), named exactly as written so no unescaping round-trip can
    * drift. `stageRel` is the writer's own unique dir from
    * [[newStageRel]]. */
  def listStagedPartDirs(s: SparkSession, dir: String, stageRel: String,
                         partCol: String): Seq[(String, String)] = {
    val fs = fsOf(s, dir)
    fs.listStatus(new Path(s"$dir/$stageRel")).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .map(st => (st.getPath.getName, s"$stageRel/${st.getPath.getName}"))
      .sortBy(_._1)
  }

  /** [[listStagedPartDirs]] for the legacy version-only stage layout —
    * kept for the kill-tests that hand-craft torn round-8-shaped states. */
  def listPartDirs(s: SparkSession, dir: String, v: Long,
                   partCol: String): Seq[(String, String)] =
    listStagedPartDirs(s, dir, s"data/$v", partCol)

  /** Create a file write-once, translating "already exists" into the
    * commit-race signal. The existence pre-check is only for a friendlier
    * message; `overwrite=false` is the atomic claim. */
  private def createExclusive(fs: FileSystem, p: Path, what: String)
      : org.apache.hadoop.fs.FSDataOutputStream =
    try fs.create(p, false)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(
          s"$what $p already exists — another writer claimed this " +
            "version; redo the stage at nextVersion", e)
      case e: java.io.IOException if fs.exists(p) =>
        throw new ConcurrentCommitException(
          s"$what $p already exists — another writer claimed this " +
            "version; redo the stage at nextVersion", e)
    }

  /** The winner-binding sidecar of a committed version: created
    * EXCLUSIVELY, written once, never overwritten. */
  private def winnerPath(dir: String, v: Long): Path =
    new Path(dir, s"commits/$v.winner")

  /** Publish version `v` as attempt `token`, in four steps whose every
    * torn intermediate state is either invisible or mechanically
    * recoverable:
    *
    *  1. write the attempt's own manifest
    *     (`manifest/<v>_<token>.txt` — tokenized, collision-free);
    *  2. CLAIM `commits/<v>` — an atomic create of an EMPTY file that
    *     stays empty forever (exactly the round-8 commit point, which
    *     had no torn-content state to worry about). Exists → the
    *     version went to another writer → [[ConcurrentCommitException]];
    *  3. BIND the winner: exclusively create `commits/<v>.winner` with
    *     the token. Exists → a repair cycle stole the claim while this
    *     writer was paused and another attempt bound the version →
    *     loser, redo (own staged files stay inert ghosts);
    *  4. VERIFY the marker still exists and re-claim it if a
    *     [[repairTornCommit]] deleted it between 2 and 3 — the binding
    *     from step 3 is already ours, so resurrecting the marker
    *     completes OUR commit; if someone re-claimed in between, the
    *     marker exists again and the binding is still ours, which is
    *     equally complete.
    *
    * A writer crash between 2 and 3 leaves a token-less marker — reads
    * fail LOUDLY ([[committedToken]]) and [[repairTornCommit]] removes
    * it safely after a grace period (the writer never returned, so
    * nothing anyone believes committed is lost). Because
    * [[nextVersion]] allocates strictly at snapshot+1, every racer from
    * one snapshot contends on the SAME claim; a stale writer's number
    * is committed by whoever advanced current, so it loses at step 2.
    *
    * Sidecar contract: every [[writeSidecar]] that belongs to this
    * version must use the SAME token and land BEFORE publish, so a
    * committed version and its sidecars are bound atomically by the one
    * winner file. */
  def publish(s: SparkSession, dir: String, v: Long, token: String,
              entries: Seq[(String, String)]): Unit = {
    writeSidecar(s, dir, v, token, Manifest, manifestLines(entries))
    val fs = fsOf(s, dir)
    fs.mkdirs(new Path(dir, "commits"))
    val marker = new Path(dir, s"commits/$v")
    if (!atomicCreateNewFile(fs, marker))
      throw new ConcurrentCommitException(
        s"commit marker for version $v already exists under $dir — " +
          "another writer won this version; redo the stage at nextVersion")
    if (!claimWinner(fs, dir, v, token))
      throw new ConcurrentCommitException(
        s"version $v's winner binding already exists under $dir — a " +
          "repair cycle reassigned the claim while this writer was " +
          "paused; redo the stage at nextVersion")
    if (!fs.exists(marker)) atomicCreateNewFile(fs, marker)
  }

  /** Replace a small metadata file's content ATOMICALLY: write a
    * tokenized temp sibling, then rename it over the target, so a
    * racing reader observes the old content or the new content — never
    * a truncated prefix (the torn-token hazard the round-10 advice
    * flagged on both the empty-winner repair and the floor record).
    * On `file://` the move is `rename(2)` via NIO ATOMIC_MOVE (and any
    * stale Hadoop checksum sidecar from an older writer is dropped so
    * the raw replace cannot trip ChecksumFileSystem verification); on
    * HDFS-class stores the replace is `FileContext.rename(..,
    * Options.Rename.OVERWRITE)` — namenode-atomic, and unlike
    * `FileSystem.rename` it DOES replace an existing destination (the
    * round-11 advice hole: every rewrite here has an existing target —
    * the winner file is pre-created by the claim, floor/tags exist on
    * re-record — so the plain rename returned false every time and the
    * path fell to a non-atomic in-place overwrite). Only a store whose
    * FileContext binding is unavailable falls back to the in-place
    * overwrite; there the caller's read path must absorb the store's
    * own create window ([[committedToken]]'s retry /
    * [[retentionFloor]]'s tolerant parse both do). */
  private def atomicWriteSmallFile(fs: FileSystem, p: Path,
                                   content: String): Unit = {
    val q = fs.makeQualified(p)
    val bytes = content.getBytes("UTF-8")
    if (Option(q.toUri.getScheme).forall(_ == "file")) {
      val dst = java.nio.file.Paths.get(q.toUri.getPath)
      java.nio.file.Files.createDirectories(dst.getParent)
      // retry on a vanished tmp: a racing sweeper (a concurrent vacuum
      // reclaiming stale tmps) may delete the staged file between write
      // and move — re-stage under a fresh token rather than surfacing a
      // raw NoSuchFileException from an otherwise-valid write
      var attempts = 0
      var moved = false
      while (!moved) {
        val tmp = dst.resolveSibling(s".${dst.getFileName}.tmp_${newToken()}")
        java.nio.file.Files.write(tmp, bytes)
        try {
          java.nio.file.Files.move(tmp, dst,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          moved = true
        } catch {
          case e: java.nio.file.NoSuchFileException =>
            attempts += 1; if (attempts >= 3) throw e
        }
      }
      java.nio.file.Files.deleteIfExists(
        dst.resolveSibling(s".${dst.getFileName}.crc"))
    } else {
      val tmp = new Path(q.getParent, s".${q.getName}.tmp_${newToken()}")
      val o = fs.create(tmp, true)
      try o.write(bytes) finally o.close()
      try {
        // FileContext.rename with OVERWRITE is the HDFS-class atomic
        // replace; FileSystem.rename would refuse the existing target.
        org.apache.hadoop.fs.FileContext.getFileContext(q.toUri, fs.getConf)
          .rename(tmp, q, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: UnsupportedOperationException | _: java.io.IOException
            if !fs.exists(tmp) && fs.exists(q) =>
          // the rename actually landed (some stores throw after effect)
          ()
        case _: UnsupportedOperationException |
             _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no FileContext binding for this store (getFileContext signals
          // that with UnsupportedFileSystemException, an IOException —
          // NOT UnsupportedOperationException): last-resort in-place
          // overwrite — the documented non-atomic fallback. Genuine
          // rename failures (other IOExceptions with tmp still present)
          // stay loud via the guarded arm above not matching.
          val o2 = fs.create(q, true)
          try o2.write(bytes) finally o2.close()
          fs.delete(tmp, false)
      }
    }
  }

  /** Claim version `v`'s winner binding for attempt `token`. The CLAIM
    * is [[atomicCreateNewFile]] on the winner file itself — kernel-
    * atomic O_CREAT|O_EXCL on `file://`, namenode-atomic elsewhere —
    * closing the check-then-create race the round-10 advice flagged on
    * `createExclusive` here (the very race class observed on the marker
    * in Wave18). The token then lands via [[atomicWriteSmallFile]], so
    * the only observable intermediate is an EMPTY claimed winner, which
    * [[committedToken]]'s bounded retry already absorbs. Returns false
    * if another party (a racing writer, or a repair cycle) holds the
    * claim. */
  private def claimWinner(fs: FileSystem, dir: String, v: Long,
                          token: String): Boolean = {
    val w = winnerPath(dir, v)
    if (!atomicCreateNewFile(fs, w)) return false
    atomicWriteSmallFile(fs, w, token)
    true
  }

  /** Create-empty-if-absent with a REAL atomicity guarantee. Hadoop's
    * `FileSystem.createNewFile` and `RawLocalFileSystem.create(
    * overwrite=false)` are exists-check-then-create — under genuine
    * thread races on `file://` BOTH racers can pass the check and both
    * "win" the claim (observed as a once-in-many-runs lost update in
    * the Wave18 threaded test). For `file://` the claim drops to
    * `java.io.File#createNewFile` — POSIX O_CREAT|O_EXCL, kernel-atomic;
    * for HDFS-class stores `create(overwrite=false)` is already
    * namenode-atomic and is used as-is. */
  private def atomicCreateNewFile(fs: FileSystem, p: Path): Boolean = {
    val q = fs.makeQualified(p)
    if (Option(q.toUri.getScheme).forall(_ == "file")) {
      val f = new java.io.File(q.toUri.getPath)
      f.getParentFile.mkdirs()
      f.createNewFile()
    } else {
      try { fs.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException => if (fs.exists(p)) false else throw e
      }
    }
  }

  /** [[publish]] for writers that carry no sidecars: mints a throwaway
    * token. */
  def publish(s: SparkSession, dir: String, v: Long,
              entries: Seq[(String, String)]): Unit =
    publish(s, dir, v, newToken(), entries)

  /** The partition-name prefix of a stats line — the carry filter key. */
  private[graft] def statsLinePart(line: String): String =
    line.takeWhile(_ != '\t')

  /** One merge-on-read ref: one `dv` or `uv` sidecar line. Format:
    * `partition-dir-name \t dvdata-relpath [\t scope [\t positions]]`
    * for dv and `partition-dir-name \t uvdata-relpath \t keyCol
    * [\t scope [\t positions]]` for uv. The optional SCOPE (round 14)
    * names the data files of the holder entry's dir that held a
    * tombstoned or imaged key when the write ran (data dirs are
    * immutable, so the set stays valid for as long as the ref carries;
    * any restaging write drops the line): the read side anti-joins only
    * those files and streams every other file verbatim — Delta/
    * Iceberg's per-file deletion-vector granularity. The optional
    * POSITIONS (round 15) map each scoped file whose shadowed-row count
    * fit the writer's cap to the exact `_metadata.row_index` values of
    * those rows: the read side filters them out positionally — no join,
    * no shuffle, no key read. Files in scope but not in the map keep the
    * per-file anti-join; a line without a scope means "unknown —
    * anti-join the whole partition". Every tier is the same content,
    * cheaper. */
  final case class MorRef(part: String, rel: String, keyCol: Option[String],
                          scope: Option[Set[String]],
                          pos: Map[String, Seq[Long]]) {
    /** The ref's dir identity — what change detection and vacuum
      * compare; scopes and positions never enter it. */
    def id: (String, Option[String]) = (rel, keyCol)

    /** This ref with bare (pre-round-16) scope and position names
      * qualified by its holder entry's relpath: a line keyed to an entry
      * names files within that entry's own dir, so the qualified form is
      * exact. Qualification is what lets entries merge into one read
      * group without ambiguity — one staged write names every
      * partition's file with the SAME leaf (`part-00000-<job-uuid>`). */
    def qualified(entryRel: String): MorRef = {
      def q(n: String) = if (n.contains('/')) n else s"$entryRel/$n"
      copy(scope = scope.map(_.map(q)),
           pos = pos.map { case (f, ps) => q(f) -> ps })
    }
  }

  /** Parse one `kind` ([[Dv]] or [[Uv]]) sidecar line (see [[MorRef]]). */
  private[graft] def morRef(kind: String, line: String): MorRef = {
    val fs = line.split('\t')
    val keyCol = if (kind == Uv) Some(fs(2)) else None
    val at = 2 + keyCol.size
    val scope =
      if (fs.length > at && fs(at).nonEmpty) Some(fs(at).split(',').toSet)
      else None
    val pos =
      if (fs.length > at + 1 && fs(at + 1).nonEmpty)
        parsePosField(fs(at + 1), scope)
      else Map.empty[String, Seq[Long]]
    MorRef(fs(0), fs(1), keyCol, scope, pos)
  }

  /** Format one `kind` sidecar line: `files` are the holder's scoped
    * files with their positions (empty positions: scope tier only); no
    * files writes the unscoped line. The one writer of both formats. */
  private[graft] def morLine(kind: String, part: String, rel: String,
                             keyCol: Option[String],
                             files: Seq[(String, Seq[Long])]): String = {
    require(keyCol.isDefined == (kind == Uv),
      s"a $kind line carries a key column exactly when it is a uv line")
    val posed = files.filter(_._2.nonEmpty)
    val scoped =
      if (files.isEmpty) Nil
      else files.map(_._1).mkString(",") +: (
        if (posed.isEmpty) Nil
        else Seq(posed.map { case (f, ps) => s"$f:${encodePositions(ps)}" }
          .mkString(",")))
    (Seq(part, rel) ++ keyCol ++ scoped).mkString("\t")
  }

  /** Committed `kind` refs of version `v`: partition dir name → its
    * refs, sorted by relpath (higher-version dirs last). Empty for a
    * table with no such MOR writes — the fast path. */
  def morRefs(s: SparkSession, dir: String, v: Long,
              kind: String): Map[String, Seq[MorRef]] =
    sidecarLines(s, dir, v, kind).map(morRef(kind, _))
      .groupBy(_.part).map { case (p, rs) => p -> rs.sortBy(_.rel) }

  /** THE changed-partition rule, `from` → `to`: both manifests (`from`
    * None = nothing, the bootstrap) and the partitions whose manifest
    * entry or dv/uv ref identities differ. Same staged dir + same ref
    * dirs ⇒ the partition's LIVE content is identical, so a diff, a
    * branch publish or a feed price reads only the rest. */
  def changedParts(s: SparkSession, dir: String, from: Option[Long],
                   to: Long)
      : (Seq[(String, String)], Seq[(String, String)], Set[String]) = {
    val fromMan = from.fold(Seq.empty[(String, String)])(manifest(s, dir, _))
    val toMan = manifest(s, dir, to)
    def ids(v: Option[Long], kind: String) = v.fold(
      Map.empty[String, Seq[(String, Option[String])]])(w =>
      morRefs(s, dir, w, kind).map { case (n, rs) => n -> rs.map(_.id) })
    val refIds = MorKinds.map(k => (ids(from, k), ids(Some(to), k)))
    val fm = fromMan.toMap
    val tm = toMan.toMap
    val changed = (fm.keySet ++ tm.keySet).filter { n =>
      fm.get(n) != tm.get(n) ||
        refIds.exists { case (f, t) => f.get(n) != t.get(n) }
    }
    (fromMan, toMan, changed)
  }

  /** The cumulative APPLIED-ID ledger as of version `v` — the newest
    * committed `ledger/` sidecar at or below `v` ([[newestSidecar]]),
    * so a crashed writer's orphan and a losing racer's ghost are both
    * invisible (trusting either would mark a never-committed write as
    * applied — silent loss on retry). Shared exactly-once surface:
    * incremental rollup folds record batch ids here
    * ([[graft.ops.IncrementalOps]]), mirror syncs record applied source
    * versions as `src:<v>` ([[graft.ops.MergeOps.syncMirror]]) — one id
    * set per store, committed atomically with the data it covers.
    * Rollback restores the newest ledger at or below the target (see
    * [[rollback]]), so the set rolls back with the data. */
  private[graft] def appliedLedgerIds(s: SparkSession, dir: String,
                                      v: Long): Set[String] =
    cumulativeLines(s, dir, v, Ledger).toSet

  /** Parse a HIGH-WATER ledger id: `<source>:<n>` (last colon, n ≥ 0).
    * Such ids come from a SINGLE SEQUENTIAL emitter — a mirror's source
    * versions (`src:<v>`), a streaming sink's batch ids
    * (`stream-cdc:<batchId>`) — whose foreachBatch/sync contract
    * guarantees id n commits only after every id below it (a failed
    * batch kills the query before the next id runs). Under that
    * contract "n is applied" ⟺ "n ≤ the recorded maximum", so the
    * ledger needs ONE line per source instead of one per trigger — the
    * round-11 advice growth fix: at streaming cadence the cumulative
    * set (and every commit's read-modify-write of it) grew O(total
    * triggers) without bound. High-water semantics are RESERVED to the
    * framework's own sequential emitters — source prefixes `src` (the
    * mirror sync's source versions) and `stream*` (streaming sinks'
    * batch ids) — the round-12 advice fix: `ledgerId` is a public
    * parameter, and an arbitrary caller id that merely LOOKS numeric
    * (`load:20240301`, out-of-order external batch ids) carries no
    * sequential-emitter contract, so inferring monotonic semantics
    * from its shape silently no-ops a genuinely new batch with a
    * lower suffix. Everything outside the reserved prefixes keeps
    * exact-set semantics.
    *
    * FORMAT-VERSION BREAK (round 14, deliberate): a ledger compacted
    * under the pre-restriction rule folded arbitrary `prefix:N` ids
    * into one max line, dropping the lower entries — those dropped
    * ids now read as un-applied (no literal match, no high-water
    * grant), so a replayed identified batch against such a PRE-
    * EXISTING store re-applies once instead of no-oping. This is the
    * documented trade: upserts are content-idempotent, so data stays
    * correct either way, while the alternative — recognizing ANY
    * recorded `prefix:M` as a high-water mark on the read side —
    * would permanently reintroduce the round-12 defect (a genuinely
    * NEW batch `load:<lower>` silently no-op'd by an unrelated
    * `load:<higher>` line) for every store, old and new. A one-time
    * possible duplicate apply on legacy stores beats a standing
    * wrong-answer class; migrating a legacy store is one re-commit
    * of its ledger under the current rule. */
  private def hwOf(id: String): Option[(String, Long)] = {
    val i = id.lastIndexOf(':')
    if (i <= 0 || i == id.length - 1) None
    else {
      val src = id.substring(0, i)
      if (src != "src" && !src.startsWith("stream")) None
      else scala.util.Try(id.substring(i + 1).toLong).toOption
        .filter(_ >= 0).map(n => (src, n))
    }
  }

  /** Is `id` applied under `ids`? Literal membership, or — for a
    * high-water id — any recorded mark of the same source at or above
    * it (see [[hwOf]]). */
  private[graft] def ledgerContains(ids: Set[String], id: String): Boolean =
    ids.contains(id) || hwOf(id).exists { case (src, n) =>
      ids.exists(r => hwOf(r).exists { case (s2, m) => s2 == src && m >= n })
    }

  /** Fold `id` into `ids`, COMPACTING high-water sources to their
    * single maximum line (see [[hwOf]]); plain ids accumulate. */
  private[graft] def ledgerAdd(ids: Set[String], id: String): Set[String] =
    hwOf(id) match {
      case None => ids + id
      case Some((src, n)) =>
        val marks = ids.flatMap(hwOf).collect {
          case (s2, m) if s2 == src => m
        }
        ids.filterNot(r => hwOf(r).exists(_._1 == src)) +
          s"$src:${(marks + n).max}"
    }

  /** PIN a live writer's staged dirs against [[vacuum]] for the whole
    * stage→publish(→rebase) window: `intents/<token>.txt` lists the
    * relative dirs (`data/…`, `dvdata/…`, `uvdata/…`) the attempt
    * staged (or is about to stage) and may still publish A MANIFEST
    * REFERENCE TO. Why vacuum's version keep rule (`n > cur`) is not
    * enough since round 12: a REBASING loser
    * ([[graft.ops.MergeOps]]' publishOrRebase) re-publishes dirs
    * staged at its LOST version `n` — the moment the racing winner
    * commits `n`, those dirs sit at `n ≤ cur` unreferenced, exactly
    * what vacuum reclaims, and vacuum publishes no version so the
    * rebase's disjointness check can never see it; a swept loser would
    * commit a manifest pointing at deleted files (publish is
    * metadata-only, nothing re-validates the bytes). ORDER CONTRACT:
    * the pin must land BEFORE the first staged byte — vacuum reads
    * `intents/` strictly AFTER listing the data roots, so any dir
    * visible to its sweep has its (earlier-created) pin visible to its
    * pin read; a pin it misses belongs to a dir it also missed. The
    * writer clears the pin in a `finally` once the claim is decided
    * either way (committed dirs are manifest-referenced; a permanently
    * failed attempt's dirs become ordinary unpinned garbage). Crash-
    * leaked pins age out: vacuum deletes intent files older than its
    * `pinGraceMs` — a writer's stage→publish window is minutes, the
    * default grace is a day, and a pin is one small file per write. */
  private[graft] def pinStage(s: SparkSession, dir: String, token: String,
                              relDirs: Seq[String]): Unit = {
    val fs = fsOf(s, dir)
    val out = createExclusive(
      fs, new Path(dir, s"intents/$token.txt"), "stage pin")
    try out.write(relDirs.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Clear an attempt's [[pinStage]] pin (idempotent). */
  private[graft] def unpinStage(s: SparkSession, dir: String,
                                token: String): Unit =
    fsOf(s, dir).delete(new Path(dir, s"intents/$token.txt"), false)

  /** Floor on [[vacuum]]'s `pinGraceMs`: the age-out treats a pin
    * older than the grace as a CRASH LEAK and deletes it mid-sweep —
    * if the grace were allowed below any plausible stage duration, a
    * legitimately long-running writer (a multi-TB restage at the
    * 100 TB scale) would lose its pin while still live, reopening
    * exactly the vacuum-vs-rebase window the pin exists to close.
    * One hour is the floor; [[pinHeartbeat]] is what makes even
    * multi-HOUR stages safe against the default 24 h grace — a live
    * pin's mtime never ages, however long the stage runs. */
  private[graft] val MinPinGraceMs: Long = 3600L * 1000

  private lazy val pinTicker =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-pin-heartbeat")
        t.setDaemon(true); t
      })

  /** HEARTBEAT a live [[pinStage]] pin: a shared daemon ticker touches
    * `intents/<token>.txt`'s mtime every `periodMs` until the returned
    * handle is closed, so a LIVE pin can never age past vacuum's
    * `pinGraceMs` however long its stage→publish window runs — the
    * age-out then only ever reaps writers that are actually gone.
    * Touch failures are swallowed: the pin may legitimately vanish
    * between ticks (the writer's claim resolved and it unpinned), and
    * a missed touch merely leaves the mtime one period staler —
    * periods are minutes, the grace floor is [[MinPinGraceMs]]. */
  private[graft] def pinHeartbeat(s: SparkSession, dir: String,
                                  token: String,
                                  periodMs: Long = 5L * 60 * 1000)
      : AutoCloseable = {
    val fs = fsOf(s, dir)
    val p = new Path(dir, s"intents/$token.txt")
    val task: Runnable = () => {
      try fs.setTimes(p, System.currentTimeMillis(), -1)
      catch { case _: Exception => () }
    }
    val fut = pinTicker.scheduleAtFixedRate(task, periodMs, periodMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    new AutoCloseable { def close(): Unit = { fut.cancel(false); () } }
  }

  /** PERSISTED table PROPERTIES as of version `v` (Delta's
    * TBLPROPERTIES): free-form `key \t value` pairs under the exact
    * sidecar rules of the constraints set — newest committed `props/`
    * sidecar at or below `v` (walk-back), metadata that does NOT roll
    * back with data, committed atomically with the claiming version.
    * The store itself interprets ONE key today: `keyCol`, the table's
    * merge key — it lets the SQL front door drive INSERT (and the
    * plain-table stream default its reader option) without the caller
    * re-stating what the table already knows. Everything else is
    * caller-owned annotation. */
  def tableProps(s: SparkSession, dir: String,
                 v: Long): Map[String, String] =
    cumulativeLines(s, dir, v, Props).map { l =>
      val i = l.indexOf('\t')
      require(i > 0, s"malformed props sidecar line '$l' under $dir")
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  /** One line of the zone-map [[Stats]] sidecar, keyed by the name of
    * the manifest entry it describes. [[statsLine]] is the one parser and
    * [[statsText]] the one formatter; carried lines stay verbatim (a
    * carry decides on the parsed form and keeps the original text).
    *  - range `part \t col \t lo \t hi`: integral bounds; an unnamed
    *    legacy `part \t lo \t hi` line (no longer written) parses as
    *    column [[LegacyCol]], which no hint names;
    *  - dict `part \t col \t dict \t v1,v2,…`: the entry's complete
    *    distinct set (URL-encoded values), recorded only under the
    *    producer's cap — the low-cardinality tier for equality/IN;
    *  - bloom `part \t col \t bloom \t <base64 filter>` over
    *    `xxhash64(cast(col AS string))` — the high-cardinality tier;
    *  - rows `part \t __rows__ \t rows \t leaf:N,…`: exact rows per
    *    data file at write time (Iceberg's manifest-recorded counts);
    *    names are immutable for an entry's life, so a consumer uses a
    *    count only for a file it listed ([[recordedRows]]);
    *  - any other form is [[OtherStats]]: no reader uses it, and no
    *    form-based carry rule drops it.
    * Every form rides the same carry rules: maintenance carries lines
    * verbatim, deletes keep them as valid supersets, restaging writers
    * drop the touched entries' lines — stats are an optimization, never
    * a correctness gate (a missing line merely reads the entry). */
  sealed trait StatsLine
  final case class RangeStats(part: String, col: String, lo: Long, hi: Long)
      extends StatsLine
  final case class DictStats(part: String, col: String, values: Seq[String])
      extends StatsLine
  final case class BloomStats(part: String, col: String, b64: String)
      extends StatsLine
  final case class RowsStats(part: String, files: Seq[(String, Long)])
      extends StatsLine
  final case class OtherStats(text: String) extends StatsLine

  /** The column an unnamed legacy range line bounds. */
  private[graft] val LegacyCol = "__key__"

  /** Parse one stats line (see [[StatsLine]]). */
  private[graft] def statsLine(text: String): StatsLine = {
    val f = text.split('\t')
    def longs(lo: String, hi: String) =
      lo.toLongOption.zip(hi.toLongOption)
    def other = OtherStats(text)
    if (f.length == 3)
      longs(f(1), f(2)).fold[StatsLine](other) { case (lo, hi) =>
        RangeStats(f(0), LegacyCol, lo, hi) }
    else if (f.length != 4) other
    else f(2) match {
      case "dict" => DictStats(f(0), f(1), f(3).split(',').toSeq
        .map(java.net.URLDecoder.decode(_, "UTF-8")))
      case "bloom" => BloomStats(f(0), f(1), f(3))
      case "rows" if f(1) == "__rows__" =>
        RowsStats(f(0), f(3).split(',').toSeq.map { e =>
          val i = e.lastIndexOf(':')
          e.substring(0, i) -> e.substring(i + 1).toLong
        })
      case lo if lo.nonEmpty && lo.forall(c => c.isDigit || c == '-') =>
        longs(lo, f(3)).fold[StatsLine](other) { case (l, h) =>
          RangeStats(f(0), f(1), l, h) }
      case _ => other
    }
  }

  /** Format one stats line (see [[StatsLine]]). */
  private[graft] def statsText(l: StatsLine): String = l match {
    case RangeStats(p, c, lo, hi) => s"$p\t$c\t$lo\t$hi"
    case DictStats(p, c, vs) => s"$p\t$c\tdict\t" +
      vs.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")
    case BloomStats(p, c, b64) => s"$p\t$c\tbloom\t$b64"
    case RowsStats(p, fs) => s"$p\t__rows__\trows\t" +
      fs.map { case (f, n) => s"$f:$n" }.sorted.mkString(",")
    case OtherStats(text) => text
  }

  /** A version's zone maps, entry name → column → its tier's answer:
    * range bounds, dictionaries, blooms and per-file row counts. */
  final case class ZoneMaps(
      ranges: Map[String, Map[String, (Long, Long)]],
      dicts: Map[String, Map[String, Set[String]]],
      blooms: Map[String, Map[String, LazyBloom]],
      rows: Map[String, Map[String, Long]])

  val NoZoneMaps: ZoneMaps = ZoneMaps(Map.empty, Map.empty, Map.empty, Map.empty)

  /** THE stats reader: version `v`'s zone maps from ONE read of its
    * committed stats sidecar (empty if the winning attempt wrote none).
    * Nothing is memoized. Blooms are [[LazyBloom]] handles restricted to
    * `bloomCols` (None: every column) up front, so decoded driver heap
    * is O(probed entries × probed columns): at 10⁵ entries × ≤240 KB
    * filters the eager form would be ~24 GB of bitsets for one point
    * lookup, while a pruning pass decodes exactly the filters it
    * consults. */
  def zoneMaps(s: SparkSession, dir: String, v: Long,
               bloomCols: Option[Set[String]] = None): ZoneMaps = {
    val ls = sidecarLines(s, dir, v, Stats).map(statsLine)
    def byPart[A](rs: Seq[(String, String, A)]) =
      rs.groupBy(_._1).map { case (p, cs) =>
        p -> cs.map(r => r._2 -> r._3).toMap }
    ZoneMaps(
      byPart(ls.collect { case RangeStats(p, c, lo, hi) => (p, c, (lo, hi)) }),
      byPart(ls.collect { case DictStats(p, c, vs) => (p, c, vs.toSet) }),
      byPart(ls.collect { case BloomStats(p, c, b)
          if bloomCols.forall(_.contains(c)) => (p, c, new LazyBloom(b)) }),
      ls.collect { case RowsStats(p, fs) => p -> fs.toMap }.toMap)
  }

  /** Version `v`'s range bounds alone ([[zoneMaps]]' `ranges`). */
  def readStatsMulti(s: SparkSession, dir: String,
                     v: Long): Map[String, Map[String, (Long, Long)]] =
    zoneMaps(s, dir, v, Some(Set.empty)).ranges

  /** Cap on a recorded dictionary: a column whose distinct set in some
    * entry exceeds it gets NO line there (unprunable, always read) — the
    * cap keeps the sidecar metadata-sized at any scale. 32 covers the
    * categorical columns dictionaries exist for (status, lang, source,
    * tier). */
  private val DictCap = 32

  /** Bloom knobs: an entry above the row cap gets NO bloom line (always
    * reads — the DictCap rule at bloom scale), and the fpp target sets
    * the bits per row. At the cap the worst line is ~7.3 bits/row ×
    * 200k rows ≈ 183 KB raw (~240 KB base64) — bounded sidecar growth;
    * a corpus whose entries routinely exceed the cap would move blooms
    * to per-entry binary sidecar files (the Iceberg Puffin shape) rather
    * than raise it. */
  private val BloomRowCap = 200000L
  private val BloomFpp = 0.03

  /** Cap on the files of one rows line: an entry with more data files
    * gets no line (the DictCap rule; COUNT then prices from footers). */
  private val RowsLineFileCap = 512

  /** What [[freshStats]] describes. */
  private[graft] sealed trait StatsOf
  /** Entries just staged from rows of `schema`: fresh immutable files,
    * so their footers answer row counts and exact integral ranges. */
  private[graft] final case class StagedRows(schema: StructType)
      extends StatsOf
  /** The LIVE content of committed version `v`'s entries (MOR refs
    * applied; `man` is v's manifest): the data pass answers every form,
    * and no rows line is written, since a live count is not a file's
    * count. */
  private[graft] final case class LiveRows(v: Long,
                                           man: Seq[(String, String)])
      extends StatsOf

  /** THE zone-map producer: fresh stats lines of `entries` for the
    * requested keys, every line named by the manifest entry it
    * describes.
    *  1. A stats key must exist and be integral, checked on its Spark
    *     type: a loud error before anything publishes.
    *  2. Footer pass ([[Footers]], one read per data file, staged rows
    *     and blooms only): the rows lines, every stats key the footers
    *     bound exactly in every entry (the partition column is not in
    *     the files), and each entry's row total, which sizes the bloom.
    *  3. Data pass, only for dictionaries, blooms and the ranges the
    *     footers declined: ONE aggregate grouped by each row's entry
    *     ([[withEntry]], rule 1), resolved on the driver after the
    *     bounded (#entries) collect. The value Spark re-infers from a
    *     dir name is no key: it reads `p=007` back as `p=7`.
    * An all-NULL column has no bound and an empty or over-cap set no
    * dictionary: no line, so that entry always reads. */
  private[graft] def freshStats(s: SparkSession, dir: String,
      entries: Seq[(String, String)], partCol: String, of: StatsOf,
      statsKeys: Seq[String], dictKeys: Seq[String],
      bloomKeys: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions._
    if (entries.isEmpty) return Nil
    def requireIntegral(schema: StructType)(k: String): Unit = {
      val dt = schema(k).dataType
      // no DATE: Spark disallows DateType→LongType casts, and a day
      // count is no bound a long hint compares with (r9 advice)
      require(Seq("long", "integer", "short", "byte").contains(dt.typeName),
        s"statsKeys column '$k' must be integral for zone-map bounds, " +
          s"got ${dt.typeName}")
    }
    lazy val data = of match {
      case LiveRows(v, man) =>
        readEntriesLive(s, dir, v, man, entries, Some(partCol),
          perScan = withEntry)
      case StagedRows(_) => withEntry(readParquetCached(s,
        entries.map(e => s"$dir/${verDirOf(e._2)}").distinct))
    }
    val footerCols = of match {
      case StagedRows(schema) =>
        val ks = statsKeys.filterNot(_ == partCol)
        ks.foreach(requireIntegral(schema))
        ks.map(k => k -> schema(k).dataType)
      case _: LiveRows => Nil
    }
    val conf = s.sparkContext.hadoopConfiguration
    val footers: Seq[(String, Seq[(String, Footers.Footer)])] =
      if (footerCols.isEmpty && bloomKeys.isEmpty &&
          of.isInstanceOf[LiveRows]) Nil
      else listEntries(s, dir, entries).map { case ((name, _), (_, fs)) =>
        name -> fs.map(f => f.getPath.getName -> Footers.read(conf, f,
          footerCols)) }
    val rowsLines = of match {
      case StagedRows(_) => footers.collect {
        case (name, fs) if fs.nonEmpty && fs.length <= RowsLineFileCap =>
          RowsStats(name, fs.map { case (f, ft) => f -> ft.rows }) }
      case _: LiveRows => Nil
    }
    val bounds = footerCols.map { case (k, _) => k -> footers.map {
      case (name, fs) => name -> Footers.merge(fs.map(_._2.bounds(k))) } }
      .toMap
    val (footerRanged, dataRanged) = statsKeys.partition(k =>
      bounds.get(k).exists(_.forall(_._2 != Footers.Decline)))
    val footerLines = footerRanged.flatMap(k => bounds(k).collect {
      case (name, Footers.Exact(lo, hi)) => RangeStats(name, k, lo, hi) })
    // one constant bit width across groups: sized for the largest
    // under-cap entry (rows bound distinct values, so the fpp only
    // tightens); over-cap entries get no line
    val underCap = footers.map { case (n, fs) => n -> fs.map(_._2.rows).sum }
      .filter(_._2 <= BloomRowCap).toMap
    val blooms = if (underCap.isEmpty) Nil else bloomKeys
    val dataLines: Seq[StatsLine] =
      if (dataRanged.isEmpty && dictKeys.isEmpty && blooms.isEmpty) Nil
      else {
        dataRanged.foreach(requireIntegral(data.schema))
        val nSize = math.max(1L, underCap.values.maxOption.getOrElse(0L))
        val numBits = org.apache.spark.util.sketch.BloomFilter
          .optimalNumOfBits(nSize, BloomFpp)
        if (blooms.nonEmpty)
          graft.functions.GraftExtensions.register(s, "graft_bloom_agg")
        // collect_set drops NULLs — right for equality/IN pruning, which
        // NULL never satisfies; the slice to cap+1 spots an over-cap set
        // without shipping it whole
        val aggs = dataRanged.flatMap(k =>
            Seq(min(col(k).cast("long")), max(col(k).cast("long")))) ++
          dictKeys.map(k => slice(sort_array(collect_set(
            col(k).cast("string"))), 1, DictCap + 1)) ++
          blooms.map(k => call_function("graft_bloom_agg",
            xxhash64(col(k).cast("string")), lit(nSize), lit(numBits)))
        val entryAt = entryOf(entries)
        val (d0, b0) = (1 + 2 * dataRanged.length,
                        1 + 2 * dataRanged.length + dictKeys.length)
        data.groupBy(col(EntryCol)).agg(aggs.head, aggs.tail: _*)
          .collect().toSeq.flatMap { r =>
            entryAt(r.getString(0)).map(_._1).toSeq.flatMap { name =>
              dataRanged.zipWithIndex.flatMap { case (k, i) =>
                if (r.isNullAt(1 + 2 * i)) None
                else Some(RangeStats(name, k,
                  r.getAs[Number](1 + 2 * i).longValue,
                  r.getAs[Number](2 + 2 * i).longValue))
              } ++ dictKeys.zipWithIndex.flatMap { case (k, i) =>
                val vs = r.getSeq[String](d0 + i)
                if (vs.isEmpty || vs.length > DictCap) None
                else Some(DictStats(name, k, vs))
              } ++ blooms.zipWithIndex.flatMap { case (k, i) =>
                Option(r.get(b0 + i)).filter(_ => underCap.contains(name))
                  .map(b => BloomStats(name, k, java.util.Base64.getEncoder
                    .encodeToString(b.asInstanceOf[Array[Byte]])))
              }
            }
          }
      }
    (footerLines ++ dataLines ++ rowsLines).map(statsText)
  }

  /** Read the current committed state. `partCol` present: entries are
    * `col=value` dirs possibly spread across versions, read as one scan
    * per partition layout with each value typed over the whole manifest
    * ([[scanEntries]]). */
  def readCurrent(s: SparkSession, dir: String,
                  partCol: Option[String]): DataFrame = {
    val v = currentVersion(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val man = manifest(s, dir, v)
    readEntriesLive(s, dir, v, man, man, partCol)
  }

  /** [[readEntries]] with version `v`'s merge-on-read refs APPLIED
    * ([[MorRef]]: update images substituted, then deletion vectors) —
    * the read every consumer of committed state must use on a table
    * that may carry MOR writes (readCurrent/readVersion route through
    * here, as do the restage readers in [[graft.ops.MergeOps]]). Entries
    * are grouped by their ref dirs: tables with no dv or uv sidecar pay
    * two metadata probes and read exactly as [[readEntries]]; a
    * ref-bearing group shadows the union of its refs' keys on the key
    * column, per file where scopes allow. Applying a ref only to
    * the partitions that carry it is what keeps re-inserts correct: a
    * restage drops its partition's lines, so a key later upserted back
    * is never shadowed by a stale tombstone. Under the store's stable
    * key→partition precondition a tombstone can never match a row in a
    * partition that merely shares a ref, so the per-group union is
    * exact. `perScan` applies to every file scan before any union or
    * join, so a metadata column it reads (`_metadata.*`) resolves.
    * `man` is version `v`'s manifest, which every partition value of
    * the read is typed over; `entries` are some of its entries. */
  def readEntriesLive(s: SparkSession, dir: String, v: Long,
                      man: Seq[(String, String)],
                      entries: Seq[(String, String)],
                      partCol: Option[String],
                      dataDir: Option[String] = None,
                      perScan: DataFrame => DataFrame = identity)
      : DataFrame = {
    require(entries.nonEmpty, "readEntries needs at least one entry")
    // dataDir: where the rel paths resolve — differs from `dir` only for
    // BRANCHES, whose metadata tree lives under the table root while the
    // staged data (and tombstone dirs) stay in the root's own data dirs
    val dd = dataDir.getOrElse(dir)
    val dvRefs = morRefs(s, dir, v, Dv)
    val uvRefs = morRefs(s, dir, v, Uv)
    // names qualified by the HOLDER entry (MorRef.qualified): entries
    // then merge into one group below without ambiguity
    def refsOf(refs: Map[String, Seq[MorRef]], e: (String, String)) =
      refs.getOrElse(e._1, Nil).map(_.qualified(e._2))
    // Group by REF-DIR IDENTITY (tombstone/image dirs + uv key), never
    // by scope/position content: one MOR delete writes a line naming
    // the SAME tombstone dir on every touched partition, and grouping
    // by content would fragment that read into one scan + one
    // anti-join PER PARTITION the moment per-partition fields (file
    // scopes that stopped colliding, row positions) make the lines
    // distinct — the round-15 merge_zorder_compact regression's actual
    // mechanism. Entries sharing the same ref dirs process as ONE
    // union read with per-file splits inside it.
    entries.groupBy(e =>
        (refsOf(dvRefs, e).map(_.id), refsOf(uvRefs, e).map(_.id)))
      .toSeq.sortBy(_._2.head._1)
      .map { case (_, es) =>
        val rs = es.flatMap(refsOf(dvRefs, _)).distinct
        val us = es.flatMap(refsOf(uvRefs, _)).distinct
        // one driver listing per entry dir, shared by the base read
        // and every split below
        val listed = listEntries(s, dd, es)
        val base = scanEntries(s, man, listed, partCol, perScan)
        // Read the group's data files that `keep` admits (it sees the
        // entry-QUALIFIED relative name, the scope/pos vocabulary), None
        // if none. `xform` applies PER-SCAN: `_metadata.file_path` and
        // `row_index` (the positional-filter inputs) resolve only
        // against a file-source scan, never a union's output.
        def readSplit(keep: String => Boolean,
                      xform: DataFrame => DataFrame = identity) =
          Some(listed.map { case (e, (root, sts)) =>
            e -> (root, sts.filter(st => keep(s"${e._2}/${st.getPath.getName}")))
          }).filter(_.exists(_._2._2.nonEmpty))
            .map(scanEntries(s, man, _, partCol, df => perScan(xform(df))))
        // THE SHADOW KERNEL, shared by both kinds: the rows of the
        // group that `refs` do not shadow, as union parts. Unscoped (any ref
        // without a scope): one whole-group anti-join on the key.
        // Scoped: the files no scope names stream verbatim; a tainted
        // file every scoping ref also position-maps drops its shadowed
        // rows through a codegen'd positional FILTER (positions union
        // across stacked generations) — no join, no shuffle, no key
        // read; any scope-only mention (dense/over-cap, or a round-14
        // writer) demotes the file to the per-file anti-join, which is
        // always correct. All names are entry-qualified, so set
        // membership and the endsWith predicates agree exactly.
        def shadow(rows: DataFrame, refs: Seq[MorRef], kc: String,
                   keys: DataFrame, scoped: Boolean): Seq[DataFrame] =
          if (!scoped) Seq(rows.join(keys, Seq(kc), "left_anti"))
          else {
            val tainted = refs.flatMap(_.scope.get).toSet
            val scopeOnly = refs.flatMap(r =>
              r.scope.get.filterNot(r.pos.contains)).toSet
            val posByName: Map[String, Seq[Long]] = refs.flatMap(_.pos.toSeq)
              .groupBy(_._1)
              .map { case (f, ps) => f -> ps.flatMap(_._2).distinct.sorted }
              .filterNot { case (f, _) => scopeOnly(f) }
            val joinTainted = tainted -- posByName.keySet
            readSplit(n => !tainted(n)).toSeq ++
              readSplit(joinTainted)
                .map(_.join(keys, Seq(kc), "left_anti")).toSeq ++
              readSplit(posByName.keySet, df => {
                val hit = posByName.map { case (f, ps) =>
                  // the path as `_metadata.file_path` spells it
                  col("_metadata.file_path")
                    .endsWith("/" + new Path(f).toUri.getRawPath) &&
                    col("_metadata.row_index").isInCollection(ps)
                }.reduce(_ || _)
                df.where(!hit)
              }).toSeq
          }
        // UPDATE substitution first (see [[Uv]] for why that order is
        // always right): the latest image per key across the group's uv
        // generations replaces the base row wholesale. Every imaged
        // key's base row lives in some scope-named file (scopes are
        // computed from the base files at write time), so when EVERY
        // generation carries a scope only those files are shadowed.
        val substituted =
          if (us.isEmpty) base
          else {
            val kcs = us.flatMap(_.keyCol).distinct
            require(kcs.length == 1,
              s"update-vector dirs ${us.map(_.rel).mkString(", ")} " +
                s"disagree on the key column (${kcs.mkString(", ")}) — " +
                "one table has one key")
            val kc = kcs.head
            // read ONLY this group's partition subdirs of each image dir:
            // an image dir spans every partition its update touched, and
            // a whole-dir read would leak other partitions' images into
            // this group (the refs are per-partition lines for exactly
            // this reason). Unpartitioned tables read the dir whole.
            // Distinct rels: the merged group carries one line per
            // (entry, generation) — the same image dir must be read once.
            val imgs = us.map(_.rel).distinct.map { rel =>
              val ver = stageDirVersion(rel.split("/")(1)).getOrElse(0L)
              val img = if (partCol.isEmpty) wholeTableEntryAt(rel)
                else es.map(e => e._1 -> s"$rel/${e._1}")
              scanEntries(s, man, listEntries(s, dd, img), partCol, perScan)
                .withColumn("__uv_v", lit(ver))
            }.reduce(_.unionByName(_, allowMissingColumns = true))
            import org.apache.spark.sql.expressions.Window
            val latest = imgs
              .withColumn("__uv_rn", row_number().over(
                Window.partitionBy(col(kc)).orderBy(col("__uv_v").desc)))
              .where(col("__uv_rn") === 1)
              .drop("__uv_v", "__uv_rn")
            (shadow(base, us, kc, latest.select(kc).distinct(),
                us.forall(_.scope.isDefined)) :+ latest)
              .reduce(_.unionByName(_, allowMissingColumns = true))
          }
        if (rs.isEmpty) substituted
        else {
          val rdirs = rs.map(_.rel).distinct
          val dvListed = listLeaves(s, rdirs.map(r => s"$dd/$r"))
          // a tombstone FILE holds exactly the key column (its spec's
          // partition column is in the dir names) — LOUD, or a writer
          // adding a column would make the anti-join's pick arbitrary
          val kcs = dvListed.flatMap(l =>
            fileSchema(s, l._1.toString, l._2).fieldNames).distinct
          require(kcs.length == 1, s"tombstone dirs ${rdirs.mkString(", ")}" +
            s" must hold exactly the key column, got [${kcs.mkString(", ")}]")
          val kc = kcs.head
          val dv = dvListed.map(l => readListed(s, Seq(l)).select(kc))
            .reduce(_.union(_))
          // file scoping only when no uv substitution ran (substituted
          // rows have no base-file identity) and EVERY ref carries a
          // scope: one deleted key taxes one file's rows, not the
          // partition; any unscoped (legacy) ref disables the split
          shadow(substituted, rs, kc, dv.distinct(),
              us.isEmpty && rs.forall(_.scope.isDefined))
            .reduceOption(_.unionByName(_, allowMissingColumns = true))
            // every file scoped out of existence (a restage raced the
            // listing) — an empty frame at the group's schema
            .getOrElse(substituted.limit(0))
        }
      }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Read a set of manifest entries (see [[readCurrent]]), values typed
    * over `man` (the manifest they come from) and `entries`. An empty
    * entry set is the caller's "partition absent" case — callers handle
    * it before calling (we cannot conjure a schema from nothing). A
    * referenced data dir that vanished since the manifest resolve raises
    * [[ConcurrentCommitException]] ([[listLeaves]]). */
  def readEntries(s: SparkSession, dir: String,
                  entries: Seq[(String, String)],
                  partCol: Option[String],
                  man: Seq[(String, String)] = Nil): DataFrame = {
    require(entries.nonEmpty, "readEntries needs at least one entry")
    scanEntries(s, man, listEntries(s, dir, entries), partCol, identity)
  }

  /** Each entry with its dir listed by the kernel ([[listLeaves]]). */
  private def listEntries(s: SparkSession, dir: String,
                          entries: Seq[(String, String)])
      : Seq[((String, String), (Path, Seq[FileStatus]))] =
    entries.zip(listLeaves(s, entries.map(e => s"$dir/${e._2}")))

  /** THE store scan rule: listed manifest entries (each with the
    * files of its dir a read wants; none at all fails as `read.parquet`
    * does) as a DataFrame. `perScan` applies to each file scan before any
    * union, so a `_metadata.*` column resolves. Partitioned: ONE scan
    * per layout (the column an entry name carries; a foreign layout
    * scans apart), its values from an explicit spec that types every
    * name of the layout in `man` and `listed` at once
    * ([[ClassicBridge.partitionSpec]]) — a pruned read types a value as
    * the full read does, and no commit re-types an entry it did not
    * touch. Version dirs that disagree on the file schema read its
    * by-name union, a missing column as null; only a column whose TYPE
    * differs splits a layout into scans unioned by name. */
  private[graft] def scanEntries(s: SparkSession, man: Seq[(String, String)],
      listed: Seq[((String, String), (Path, Seq[FileStatus]))],
      partCol: Option[String],
      perScan: DataFrame => DataFrame): DataFrame = {
    def layout(name: String) = partCol.flatMap(_ => partOf(name).map(_._1))
    // an entry's dir below its version dir, all under ONE base path "/"
    def leaf(rel: String) = new Path("/" + rel.drop(verDirOf(rel).length + 1))
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    def named(st: StructType, n: String) = st.find(f => resolver(f.name, n))
    val wanted = listed.filter(_._2._2.nonEmpty).sortBy { case ((_, rel), _) =>
      (stageDirVersion(rel.split("/")(1)).getOrElse(0L), verDirOf(rel)) }
    wanted.map(l => layout(l._1._1)).distinct.flatMap { lay =>
      val ls = wanted.filter(l => layout(l._1._1) == lay)
      val typed = lay.map(_ => ClassicBridge.partitionSpec(
        (man.filter(e => layout(e._1) == lay) ++ ls.map(_._1))
          .map(e => leaf(e._2)).distinct, Set(new Path("/"))))
      val values = typed.toSeq.flatMap(_.partitions)
        .map(p => p.path -> p.values).toMap
      // each entry's file schema, memoized by its version dir; distinct
      // schemas merge greedily into groups agreeing on every shared type
      val schemas = ls.map { case ((_, rel), (root, files)) =>
        fileSchema(s, Iterator.iterate(root)(_.getParent)
          .drop(rel.count(_ == '/') - 1).next().toString, files) }
      val (merged, groupOf) = schemas.distinct.foldLeft(
          (Vector.empty[StructType], Map.empty[StructType, Int])) {
        case ((gs, at), st) =>
          gs.indexWhere(g => st.forall(f =>
              named(g, f.name).forall(_.dataType == f.dataType))) match {
            case -1 => (gs :+ st, at + (st -> gs.length))
            case i => (gs.updated(i, StructType(gs(i) ++
              st.filterNot(f => named(gs(i), f.name).isDefined))),
              at + (st -> i))
          }
      }
      merged.indices.map { i =>
        val gl = ls.zip(schemas).collect { case (l, st) if groupOf(st) == i => l }
        perScan(readListed(s, gl.map(_._2), typed.map(t => PartitionSpec(
          t.partitionColumns, gl.flatMap { case ((_, rel), (_, files)) =>
            files.map(_.getPath.getParent).distinct
              .map(PartitionPath(values(leaf(rel)), _)) })), Some(merged(i))))
      }
    }.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(readListed(s, listed.map(_._2)))
  }

  /** The version dir (`data/<v>_<token>`) a manifest relpath lives in —
    * vacuum's keep key; a read keys its schema memo by this dir. */
  def verDirOf(rel: String): String = rel.split("/").take(2).mkString("/")

  /** Manifest entry for an unpartitioned table staged at `stageRel`. */
  def wholeTableEntryAt(stageRel: String): Seq[(String, String)] =
    Seq((WholeTable, stageRel))

  /** The directory name Spark's partitionBy writer gives a partition
    * value (same escaping, nulls to the default partition). A name, not
    * an identity: an entry is found from a name through
    * [[entriesNamed]]. */
  def partDirName(partCol: String, value: Any): String =
    if (value == null) s"$partCol=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
    else s"$partCol=${ExternalCatalogUtils.escapePathName(String.valueOf(value))}"

  /** A `col=value` entry name parsed: its column, and its value as a
    * read un-escapes it before any typing (None for the default, null,
    * partition). None for the whole-table entry. */
  private[graft] def partOf(name: String): Option[(String, Option[String])] =
    name.indexOf('=') match {
      case -1 => None
      case i =>
        val raw = name.substring(i + 1)
        Some((name.substring(0, i),
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
          else Some(ExternalCatalogUtils.unescapePathName(raw))))
    }

  // ---- PARTITION IDENTITY: the two rules by which every writer and
  // reader finds the manifest entries it touches ----

  /** RULE 1: a row belongs to the entry whose dir holds its data file.
    * [[withEntry]] tags each row of a file scan (apply it per scan: the
    * metadata column resolves only against a file source) with that
    * dir's last segment as `_metadata.file_path` spells it, URL-encoded;
    * [[entryOf]] resolves a tag on the driver. An update image, staged
    * under its holder's name, tags as its holder. */
  private[graft] val EntryCol = "__entry"

  private[graft] def withEntry(df: DataFrame): DataFrame =
    df.withColumn(EntryCol, org.apache.spark.sql.functions.regexp_extract(
      col("_metadata.file_path"), "([^/]+)/[^/]+$", 1))

  /** [[withEntry]]'s tag of one data file, from its URI string. */
  private[graft] def entryTag(fileUri: String): String = {
    val d = fileUri.substring(0, fileUri.lastIndexOf('/'))
    d.substring(d.lastIndexOf('/') + 1)
  }

  /** The entry of `man` a tag names: an entry's decoded last dir segment
    * is unique in a manifest (a partition entry's dir is its name, the
    * whole-table entry's its stage dir). */
  private[graft] def entryOf(man: Seq[(String, String)])
      : String => Option[(String, String)] = {
    val byDir = man.map(e => e._2.substring(e._2.lastIndexOf('/') + 1) -> e)
      .toMap
    tag => byDir.get(new java.net.URI("file:/" + tag).getPath.drop(1))
  }

  /** RULE 2: two `col=value` names name one partition when some read may
    * surface one value for both. A read infers each name's type (numeric,
    * else timestamp or date, else string), widens it across the layout's
    * names and casts each un-escaped value to the result; so two names
    * match when their columns agree and their un-escaped values are
    * equal strings, equal numbers (`007` and `7`, compared as doubles,
    * the widest) or equal timestamps (a date as its midnight). Returns
    * the entries of `man` that `names` name, each entry's keys computed
    * once per call.
    *
    * The soundness argument, once: a match may be WIDER than a read's (a
    * string-typed group reads `007` and `7` apart), which costs a writer
    * one more restaged entry and a reader one more entry its residual
    * filter drops. It is never NARROWER — every type a read may resolve
    * equates two dirs only when one of these keys does — and a narrower
    * match would lose rows: a delete missing the entry that holds its
    * key, an upsert staging a second copy beside it, a pruned read
    * skipping it. */
  private[graft] def entriesNamed(man: Seq[(String, String)],
                                  names: Iterable[String])
      : Seq[(String, String)] = {
    val want = names.iterator.flatMap(identityKeys).toSet
    if (want.isEmpty) Nil else man.filter(e => identityKeys(e._1).exists(want))
  }

  private def identityKeys(name: String): Seq[Any] = partOf(name) match {
    case None => Seq(name)
    case Some((c, v)) =>
      import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode,
        Literal}
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      val tz = Option(org.apache.spark.sql.internal.SQLConf.get
        .sessionLocalTimeZone)
      v.fold(Seq[Any](None)) { u =>
        val str = Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(u))
        Some(u) +: (
          // + 0.0 folds -0.0 into 0.0, as a numeric read compares them
          try Seq(java.lang.Double.parseDouble(u) + 0.0)
          catch {
            case _: NumberFormatException =>
              Seq(TimestampType, TimestampNTZType).flatMap(t =>
                Option(Cast(str, t, tz, EvalMode.TRY).eval(null)).map(t -> _))
          })
      }.map(c.toLowerCase(java.util.Locale.ROOT) -> _)
  }

  /** THE partition-column rule: the column of the manifest's `col=value`
    * entry names, None for a whole-table store. On a MIXED-layout
    * manifest (mid metadata-tier spec evolution) any `col=` entry will
    * do: readers only use Some-ness to choose a partitioned read, which
    * scans each layout with its own dir column ([[scanEntries]]) — so
    * the whole manifest is scanned for one rather than trusting the
    * first entry's sort luck. */
  def partColOf(man: Seq[(String, String)]): Option[String] =
    man.iterator.flatMap(e => partOf(e._1)).map(_._1).nextOption()

  /** The data files directly under `dir/relDir` ([[isDataFile]]). */
  def dataFiles(s: SparkSession, dir: String,
                relDir: String): Seq[FileStatus] =
    fsOf(s, dir).listStatus(new Path(s"$dir/$relDir")).toSeq
      .filter(isDataFile)

  /** A data file: every file not named `_*` (writer markers) or `.*`
    * (checksums, temp files). */
  private def isDataFile(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Number of data files under one manifest entry's dir — the
    * fragmentation measure [[graft.ops.MergeOps.compactPartitions]] acts
    * on. Driver-side listing bounded by that partition's file count. */
  def dataFileCount(s: SparkSession, dir: String, relDir: String): Int =
    dataFiles(s, dir, relDir).size

  /** The rows `entries` held at write time, from the manifest-recorded
    * per-file counts `rec` ([[zoneMaps]]' `rows`) and one listing per
    * entry: Some only when every listed data file has a recorded count.
    * Names are immutable for an entry's life, so a match is exact; a
    * carried line naming a restaged partition's dead files never
    * matches. MOR refs are not applied. */
  def recordedRows(s: SparkSession, dir: String,
                   entries: Seq[(String, String)],
                   rec: Map[String, Map[String, Long]]): Option[Long] = {
    val per = entries.map { case (name, rel) =>
      val m = rec.getOrElse(name, Map.empty[String, Long])
      val files = dataFiles(s, dir, rel).map(_.getPath.getName)
      if (files.forall(m.contains)) Some(files.map(m).sum) else None
    }
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  /** The retention floor [[vacuum]] recorded, if any: versions below it
    * may have had their data reclaimed and refuse to time-travel. The
    * floor is ADVISORY (a fail-fast, not a correctness gate), so a
    * torn/empty file — a crash mid-record — parses as None rather than
    * bricking every readVersion/rollback/vacuum until hand-repaired. */
  def retentionFloor(s: SparkSession, dir: String): Option[Long] = {
    val fs = fsOf(s, dir)
    val p = new Path(dir, "floor.txt")
    if (!fs.exists(p)) None
    else scala.util.Try(readSmallFile(fs, p).toLong).toOption
  }

  /** Time travel: read the table AS OF a specific committed version —
    * free with this layout, because publishing never deletes the data
    * dirs an older manifest references (only [[vacuum]] does, and only
    * below its retention floor). One metadata read resolves the
    * manifest; the data files are immutable. Versions below the floor
    * fail fast with a clear error instead of a missing-file surprise. */
  def readVersion(s: SparkSession, dir: String, v: Long,
                  partCol: Option[String]): DataFrame = {
    val fs = fsOf(s, dir)
    require(fs.exists(new Path(dir, s"commits/$v")),
      s"version $v was never committed under $dir")
    requireAboveFloor(s, dir, v)
    val man = manifest(s, dir, v)
    readEntriesLive(s, dir, v, man, man, partCol)
  }

  /** Time travel's loud below-floor guard: a version below the retention
    * floor may have had its data vacuumed, and reading a partial
    * snapshot silently is the one thing time travel must never do —
    * tagged versions are exempt (their dirs survive the sweep). */
  def requireAboveFloor(s: SparkSession, dir: String, v: Long): Unit =
    retentionFloor(s, dir).foreach(f => require(
      v >= f || tags(s, dir).values.exists(_ == v),
      s"version $v is below the retention floor $f under $dir — " +
        "its data dirs may have been vacuumed; raise keepVersions " +
        "before vacuuming (or tag the version) if you need deeper " +
        "time travel"))

  /** Named version TAGS (Iceberg's tags / a pinned snapshot): bind a
    * committed version to a stable name — the PROVENANCE handle a
    * training-data pipeline needs ("exactly the corpus run X trained
    * on"), durable against retention. `tags/<name>.txt` holds the
    * version number, written rename-replace (re-tagging is atomic
    * last-write-wins; a racing reader sees old-or-new, never a torn
    * file). A tagged version is EXEMPT from the retention sweep:
    * [[vacuum]] keeps its referenced data/tombstone dirs and its
    * metadata whole even below the floor, and [[readVersion]] /
    * [[rollback]] accept it below the floor — so a tag costs exactly
    * the tagged version's unique bytes for as long as it lives.
    * [[deleteTag]] releases the pin; the next vacuum reclaims.
    * Tagging below the current floor is refused (the data may already
    * be gone — a pin must be placed while the thing it pins exists). */
  def tagVersion(s: SparkSession, dir: String, name: String,
                 v: Long): Unit = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"tag name '$name' must be [A-Za-z0-9._-]+")
    val fs = fsOf(s, dir)
    require(fs.exists(new Path(dir, s"commits/$v")),
      s"cannot tag version $v under $dir — it was never committed")
    retentionFloor(s, dir).foreach(f => require(v >= f,
      s"cannot tag version $v: below the retention floor $f under " +
        s"$dir — its data dirs may already be vacuumed"))
    atomicWriteSmallFile(fs, new Path(dir, s"tags/$name.txt"), s"$v\n")
  }

  /** All live tags: name → pinned version. Unparseable files (a torn
    * legacy write, a foreign file) are skipped, never fatal. */
  def tags(s: SparkSession, dir: String): Map[String, Long] = {
    val fs = fsOf(s, dir)
    val root = new Path(dir, "tags")
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.endsWith(".txt") || n.startsWith(".")) None
      else scala.util.Try(
        readSmallFile(fs, st.getPath).trim.toLong).toOption
        .map(n.stripSuffix(".txt") -> _)
    }.toMap
  }

  /** Read the snapshot a tag pins (time travel by name). */
  def readTag(s: SparkSession, dir: String, name: String,
              partCol: Option[String]): DataFrame = {
    val v = tags(s, dir).getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' under $dir — live tags: ${tags(s, dir).keys.toSeq.sorted.mkString(", ")}"))
    readVersion(s, dir, v, partCol)
  }

  /** Release a tag's pin; the next [[vacuum]] may reclaim the version. */
  def deleteTag(s: SparkSession, dir: String, name: String): Unit =
    fsOf(s, dir).delete(new Path(dir, s"tags/$name.txt"), false)

  /** DROP TABLE: delete the whole store — data, tombstones, metadata,
    * tags, floor — in one recursive remove. This is the operation every
    * empty-table fail-fast in the engine routes to ("a logically empty
    * table cannot be materialized; delete the table instead"): emptying
    * a table is not a state the commit protocol can represent, dropping
    * it is. Refuses while tags pin versions unless `force` — a
    * provenance pin exists precisely so history does not vanish
    * silently. Idempotent on a missing dir. */
  def dropTable(s: SparkSession, dir: String,
                force: Boolean = false): Unit = {
    val fs = fsOf(s, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) return
    val pinned = tags(s, dir)
    require(force || pinned.isEmpty,
      s"refusing to drop $dir: tags still pin versions " +
        s"(${pinned.toSeq.sortBy(_._1).map { case (n, v) => s"$n->v$v" }
          .mkString(", ")}) — delete the tags first or pass force=true")
    fs.delete(p, true)
  }

  /** DESCRIBE DETAIL: one snapshot row of the store's operational
    * state — the observability surface a maintainer polls before
    * choosing a maintenance pass (compact? materialize DVs? vacuum?).
    * All fields come from metadata reads (manifest, sidecars, listings
    * bounded by partition/version counts); no data file is opened. */
  def storeDetail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = currentVersion(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val man = manifest(s, dir, v)
    val fs = fsOf(s, dir)
    val files = man.map { case (_, rel) => dataFiles(s, dir, rel).size }.sum
    val dvRefs = morRefs(s, dir, v, Dv)
    val uvRefs = morRefs(s, dir, v, Uv)
    val committed = committedVersions(s, dir)
    val branchCount = {
      val root = new Path(dir, "branches")
      if (!fs.exists(root)) 0L
      else fs.listStatus(root).count(_.isDirectory).toLong
    }
    // in-flight stage pins (round 13): a nonzero count while no writer
    // is live means crash-leaked intents awaiting the vacuum age-out —
    // exactly what a maintainer wants surfaced before scheduling one
    val pinCount = {
      val root = new Path(dir, "intents")
      if (!fs.exists(root)) 0L else fs.listStatus(root).length.toLong
    }
    val statsLines = sidecarLines(s, dir, v, Stats).map(statsLine)
    Seq((v, committed.size.toLong, man.size.toLong, files.toLong,
         dvRefs.size.toLong, dvRefs.values.map(_.size).sum.toLong,
         uvRefs.size.toLong, uvRefs.values.map(_.size).sum.toLong,
         retentionFloor(s, dir).getOrElse(1L),
         tags(s, dir).size.toLong, branchCount,
         cumulativeLines(s, dir, v, Constraints).size.toLong,
         statsLines.size.toLong,
         statsLines.count(_.isInstanceOf[DictStats]).toLong,
         statsLines.count(_.isInstanceOf[BloomStats]).toLong,
         appliedLedgerIds(s, dir, v).size.toLong, pinCount))
      .toDF("version", "committed_versions", "partitions", "data_files",
            "dv_partitions", "dv_refs", "uv_partitions", "uv_refs",
            "retention_floor", "tags", "branches", "constraints",
            "stats_lines", "dict_lines", "bloom_lines",
            "applied_ids", "stage_pins")
  }

  /** Time travel by TIMESTAMP (AS OF TIMESTAMP): the newest committed
    * version whose commit instant — the marker's STORE mtime, the same
    * clock [[repairTornCommit]]'s grace uses — is ≤ `tsMillis`. One
    * [[commitLog]] listing resolves it. Caveats shared with
    * every table format's timestamp travel: the mapping is the store
    * clock's, not the writer's, and a marker resurrected by publish
    * step 4 (a repair raced the claim) carries the resurrection time —
    * ties and anomalies resolve to the HIGHEST qualifying version, so
    * the answer is always a real committed snapshot, at worst a
    * slightly newer one than a skewed clock implies. None if nothing
    * was committed at or before the instant. */
  def versionAsOf(s: SparkSession, dir: String,
                  tsMillis: Long): Option[Long] =
    commitLog(s, dir).collect { case (v, ms) if ms <= tsMillis => v }
      .maxOption

  /** [[readVersion]] at [[versionAsOf]]'s resolution — fails fast with
    * the table's earliest commit instant when the timestamp predates
    * the log, and with the retention-floor error when the resolved
    * version's data may have been vacuumed. */
  def readAsOf(s: SparkSession, dir: String, tsMillis: Long,
               partCol: Option[String]): DataFrame =
    versionAsOf(s, dir, tsMillis) match {
      case Some(v) => readVersion(s, dir, v, partCol)
      case None => throw new IllegalArgumentException(
        s"no version committed at or before $tsMillis under $dir — " +
          "the timestamp predates the table (or its vacuumed history)")
    }

  /** Roll back to an earlier committed version — published as a NEW
    * version whose manifest is the old one verbatim, so the rollback is
    * itself atomic, auditable in the commit log, and reversible (nothing
    * is deleted; a bad rollback rolls forward the same way). Sidecar
    * state rolls back WITH the data: the target version's partition-
    * keyed sidecars and applied-batch ledger (if any) are copied forward
    * to the new version, so pruning, MOR refs and exactly-once replay resume
    * from the restored state — without the ledger copy, a re-fold of a
    * rolled-back batch would find the PRE-rollback ledger and silently
    * no-op, losing the batch (the round-8 advice defect). */
  def rollback(s: SparkSession, dir: String, toVersion: Long): Unit = {
    val v = currentVersion(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    if (toVersion == v) return
    val fs = fsOf(s, dir)
    require(fs.exists(new Path(dir, s"commits/$toVersion")),
      s"version $toVersion was never committed under $dir")
    retentionFloor(s, dir).foreach(f => require(
      toVersion >= f || tags(s, dir).values.exists(_ == toVersion),
      s"cannot roll back to version $toVersion: below the retention " +
        s"floor $f under $dir (its data dirs may have been vacuumed; " +
        "tagged versions are exempt)"))
    val nv = v + 1  // OCC: the rollback derives from current = v
    val tok = newToken()
    // The partition-keyed kinds describe exactly one manifest, so only
    // the target version's own lines may roll forward: a neighbor's
    // bounds could wrongly prune a partition whose data differs, and
    // DV refs are correctness state — a target that PRE-dates a MOR
    // delete carries no dv lines, resurrecting the rows exactly as the
    // restored manifest implies.
    copyPartitionSidecars(s, dir, toVersion, dir, nv, tok)
    // The ledger is cumulative and its reader walks back past ledgerless
    // versions, so the rollback restores the ledger that walk finds AT
    // the target: the newest committed one at or below toVersion
    // (copying only the exact-version sidecar broke fold → compact →
    // fold → rollback-to-compact: the rolled-back batch's re-fold found
    // the post-rollback ledger and silently no-opped). With none at or
    // below the target but some above, an EMPTY ledger masks the newer
    // ones.
    val ledgerAt = newestSidecar(s, dir, toVersion, Ledger)
    if (ledgerAt.isDefined || newestSidecar(s, dir, v, Ledger).isDefined)
      writeSidecar(s, dir, nv, tok, Ledger,
        ledgerAt.fold(List.empty[String])(_._2))
    publish(s, dir, nv, tok, manifest(s, dir, toVersion))
  }

  /** What a [[vacuum]] pass actually reclaimed — the operator-facing
    * receipt (every table format's VACUUM prints one): deleting storage
    * is the one irreversible act in an otherwise append-only protocol,
    * so it should be auditable without diffing directory listings. */
  final case class VacuumReport(
      floor: Long, dataDirsDeleted: Int, versionsSwept: Int,
      ghostFilesDeleted: Int)

  /** TEST-ONLY injection point (the MergeOps.Hooks idiom): runs between
    * vacuum's data-root listings and its pin read — the exact window a
    * deterministic interleaving test needs to land a rebase publish +
    * unpin in, proving the post-pin-read commit-log re-check aborts the
    * destructive pass. Production never sets it. */
  private[graft] object VacuumHooks {
    @volatile var afterDataListing: () => Unit = () => ()
  }

  /** Reclaim data dirs no RETAINED manifest references — retained =
    * the newest `keepVersions` committed versions (default 1: current
    * only, the round-8 behavior). This is the hard-delete half of the
    * soft/hard retention split: manifest-only drops ([[graft.ops
    * .MergeOps.applyRetention]], [[rollback]]) leave data in place for
    * time travel until a vacuum passes. Records the retention floor
    * (lowest retained version, monotonically non-decreasing) so
    * [[readVersion]]/[[rollback]] below it fail fast instead of hitting
    * missing files. Crashed/losing stages ABOVE current are left for
    * their writer's retry or a later vacuum; everything at or below
    * current that no retained manifest references is deleted. Also
    * sweeps METADATA below the floor (markers, manifests, sidecars,
    * attempt ghosts) so the commit log stays bounded by the retention
    * window, not the table's lifetime commit count — with the one guard
    * documented inline: the newest committed sidecar of each
    * [[Cumulative]] kind is never deleted, even below the floor.
    * Bounded metadata work: one listing of `data/` and of each sidecar
    * kind's dir, plus `keepVersions` manifests.
    *
    * Concurrency: two racing vacuums may leave `floor.txt` at the
    * SMALLER of their floors (last write wins; no marker claim guards
    * the advisory file). That weakens nothing: the sweep itself is
    * idempotent, and a version one racer already swept fails loudly as
    * "never committed" regardless of the recorded floor — the floor is
    * a fail-fast courtesy, never the correctness gate. A vacuum racing
    * an ordinary STAGE-AND-PUBLISH writer never touches a writer at
    * current+1 (`n > cur` keep rule) — and since round 12 a claim
    * LOSER's stage is no longer inert garbage (publishOrRebase may
    * re-publish it at a higher version), so live writers' stages are
    * additionally held by [[pinStage]] intents for the whole
    * stage→publish(→rebase) window, read AFTER the data-root listings
    * so the pin-before-stage order makes the pin visible for every dir
    * the sweep can see. The one maintenance writer vacuum must NOT race is
    * [[rollback]]: a rollback's new manifest references OLD data dirs,
    * so a vacuum whose referenced-set snapshot predates the rollback
    * commit could reclaim dirs the new current needs. Vacuum re-checks
    * the commit log right before its destructive pass and aborts if it
    * moved, which closes all but the in-pass window — schedule rollback
    * and vacuum from a single maintainer (the contract every table
    * format's VACUUM has with time travel). */
  def vacuum(s: SparkSession, dir: String,
             keepVersions: Int = 1,
             pinGraceMs: Long = 24L * 3600 * 1000): VacuumReport = {
    require(keepVersions >= 1, "vacuum must keep at least the current version")
    require(pinGraceMs >= MinPinGraceMs,
      s"pinGraceMs=$pinGraceMs is below the ${MinPinGraceMs} ms floor: " +
        "the pin age-out must sit well above any plausible stage " +
        "duration, or a LIVE long-running writer loses its pin mid-" +
        "stage and the vacuum-vs-rebase window reopens (writers " +
        "heartbeat their pins, so a large grace never strands garbage " +
        "longer than one crashed writer's grace window)")
    val fs = fsOf(s, dir)
    val committed = committedVersions(s, dir)
    if (committed.isEmpty) return VacuumReport(0L, 0, 0, 0)
    val cur = committed.last
    var dataDeleted = 0
    var ghostsDeleted = 0
    // TAGGED versions are pinned: they join the retained set (their
    // referenced data/tombstone dirs survive, their metadata is never
    // swept) but do NOT hold the floor down — untagged versions between
    // an old tag and the window still sweep, and reads below the floor
    // stay fail-fast for everything except the tags themselves.
    val kept = committed.takeRight(keepVersions)
    val tagged = tags(s, dir).values.toSet.intersect(committed.toSet)
    val retained = (kept ++ tagged).distinct.sorted
    val floor = math.max(kept.min, retentionFloor(s, dir).getOrElse(1L))
    val referenced = retained.flatMap(rv => manifest(s, dir, rv))
      .map(e => verDirOf(e._2)).toSet
    // Record the floor BEFORE anything is deleted: a crash mid-sweep
    // then leaves a floor that is merely conservative (reads fail fast
    // on versions whose data still exists), never the reverse — the
    // missing-file surprise the floor exists to prevent. The write is
    // [[atomicWriteSmallFile]]'s rename-replace: no delete-then-rename
    // window in which a crash removes the record entirely while already-
    // vacuumed data stays gone (the round-10 advice defect), and no
    // in-place overwrite that could tear to an empty file. Stale tmps
    // from crashed vacuums (legacy `floor.txt.tmp_*` and the current
    // dotted form) are reclaimed first.
    val fp = new Path(dir, "floor.txt")
    fs.listStatus(new Path(dir)).toSeq
      .filter(st => st.getPath.getName.startsWith("floor.txt.tmp_") ||
        st.getPath.getName.startsWith(".floor.txt.tmp_"))
      .foreach(st => fs.delete(st.getPath, false))
    // ... and any store-clock probes a crashed repairTornCommit leaked
    // into commits/ (dotfiles, invisible to committedVersions but real
    // files in the directory whose boundedness the protocol relies on)
    // ... and winner-binding tmps a crashed publish/repair leaked (the
    // dotted `.tmp_` siblings atomicWriteSmallFile stages through) —
    // but ONLY below the floor: a tmp at a retained version could
    // belong to a LIVE writer mid-binding (its marker commits the
    // version before the binding lands, so "at or above the floor"
    // is exactly the window a publish can still be in flight), and
    // the vacuum contract promises never to touch a live writer
    val commitsRoot = new Path(dir, "commits")
    if (fs.exists(commitsRoot)) fs.listStatus(commitsRoot).toSeq
      .filter { st =>
        val n = st.getPath.getName
        val tmpVer = n.stripPrefix(".").takeWhile(_.isDigit)
        n.startsWith(".repair_probe_") ||
          (n.contains(".tmp_") && tmpVer.nonEmpty && tmpVer.toLong < floor)
      }
      .foreach(st => fs.delete(st.getPath, false))
    atomicWriteSmallFile(fs, fp, s"$floor\n")
    // Best-effort guard against a maintenance writer (rollback is the
    // dangerous one: its new manifest references OLD dirs) committing
    // between the referenced-set snapshot and the deletes: re-check
    // current and abort the destructive half for this pass if it moved.
    // A commit landing INSIDE the delete loop below remains possible —
    // scheduling vacuum and rollback from one maintainer (or wrapping
    // both in withCommitRetry and re-running vacuum) is the operational
    // contract, as with every table format's VACUUM vs time-travel.
    if (committedVersions(s, dir) != committed)
      return VacuumReport(floor, 0, 0, 0)
    // BRANCHES pin storage like tags do: a live branch's HEAD manifest
    // (and its dv refs) joins the referenced set, so main data dirs a
    // stale-but-alive branch still reads survive main's retention, and
    // branch-staged dirs (`data/b_<name>_...`, never version-parseable)
    // are kept for the branch's whole lifetime — in-flight branch
    // stages included — then reclaimed once the branch is dropped.
    // Branch time travel is NOT retention-protected: only the head is.
    val branchRoot = new Path(dir, "branches")
    val liveBranches: Seq[String] =
      if (!fs.exists(branchRoot)) Nil
      else fs.listStatus(branchRoot).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
    val branchHeads: Seq[(String, Long)] = liveBranches.flatMap { n =>
      val bd = s"$dir/branches/$n"
      scala.util.Try(committedVersions(s, bd)).toOption
        .flatMap(_.lastOption).map(bd -> _)
    }
    val branchReferenced = branchHeads.flatMap { case (bd, bv) =>
      scala.util.Try(manifest(s, bd, bv)).toOption.getOrElse(Nil)
        .map(e => verDirOf(e._2))
    }.toSet
    val liveBranchNames = liveBranches.toSet
    def branchOwner(name: String): Option[String] =
      if (!name.startsWith("b_")) None
      else name.split('_').drop(1).headOption  // names are [A-Za-z0-9.-]+
    // Take the three data-root LISTINGS before reading the rebase pins:
    // a pin lands before its writer's first staged byte ([[pinStage]]'s
    // order contract), so any dir these listings see has its pin
    // visible to the later pin read — the lock-free ordering that
    // closes the round-12 vacuum-vs-rebase window without a handshake.
    val dataRoot = new Path(dir, "data")
    val dataList =
      if (fs.exists(dataRoot)) fs.listStatus(dataRoot).toSeq else Nil
    // the MOR data roots: `dvdata/` (tombstones), `uvdata/` (images)
    val morLists = MorKinds.map { kind =>
      val root = new Path(dir, s"${kind}data")
      kind -> (if (fs.exists(root)) fs.listStatus(root).toSeq else Nil)
    }
    VacuumHooks.afterDataListing()
    // Live writers' pinned rel dirs (stage→publish→rebase windows).
    // Pins older than `pinGraceMs` are crash leaks: their writer is
    // gone (a live window is minutes), so the pin is swept and its
    // dirs fall back to the ordinary unreferenced keep rules.
    val intentsRoot = new Path(dir, "intents")
    val pinned: Set[String] =
      if (!fs.exists(intentsRoot)) Set.empty
      else {
        val now = System.currentTimeMillis()
        fs.listStatus(intentsRoot).toSeq.flatMap { st =>
          if (now - st.getModificationTime > pinGraceMs) {
            fs.delete(st.getPath, false); ghostsDeleted += 1; Nil
          } else
            // a pin can vanish between the listing and this read (its
            // writer's claim resolved and it unpinned): it pins
            // nothing — the commit-log RE-CHECK below is what keeps
            // that safe, not the pin
            try readLines(fs, st.getPath)
            catch { case _: java.io.FileNotFoundException => Nil }
        }.toSet
      }
    // Second commit-log re-check, AFTER the pin read: a pin is only
    // removed once its writer's claim resolved, and a REBASE loser's
    // publish puts dirs staged at n ≤ cur into the NEW current's
    // manifest — dirs this sweep's (older) referenced-set snapshot
    // doesn't know. The ordering closes every path: a publish that
    // completed before the pin read moved the commit log (this check
    // aborts the destructive pass); one that completes after it still
    // held its pin at pin-read time (the pin keeps the dirs). Without
    // this check the unpin-before-pin-read interleaving silently swept
    // dirs the new current references.
    if (committedVersions(s, dir) != committed)
      return VacuumReport(floor, 0, 0, ghostsDeleted)
    dataList.foreach { st =>
      val name = st.getPath.getName
      val keep = stageDirVersion(name) match {
        case Some(n) => n > cur || referenced.contains(s"data/$name") ||
          branchReferenced.contains(s"data/$name") ||
          pinned.contains(s"data/$name")
        case None => branchOwner(name) match {
          case Some(owner) => liveBranchNames.contains(owner) ||
            referenced.contains(s"data/$name") ||
            branchReferenced.contains(s"data/$name")
          case None => true  // foreign/unknown name: never touch it
        }
      }
      if (!keep) { fs.delete(st.getPath, true); dataDeleted += 1 }
    }
    // MOR-dir sweep (tombstone and image dirs), same keep rule keyed on
    // the RETAINED versions' dv/uv sidecars: a dir some retained version
    // still reads must survive; one a compaction materialized away (no
    // retained ref) is reclaimable storage like any unreferenced stage
    // dir. Live branch heads' carried refs pin theirs too.
    morLists.foreach { case (kind, list) =>
      def rels(d: String, w: Long) = morRefs(s, d, w, kind).values.flatten
        .map(_.rel)
      val referencedMor = retained.flatMap(rels(dir, _)).toSet ++
        branchHeads.flatMap { case (bd, bv) =>
          scala.util.Try(rels(bd, bv)).toOption.getOrElse(Nil)
        }
      list.foreach { st =>
        val rel = s"${kind}data/${st.getPath.getName}"
        val keep = stageDirVersion(st.getPath.getName).forall(n =>
          n > cur || referencedMor.contains(rel) || pinned.contains(rel))
        if (!keep) { fs.delete(st.getPath, true); dataDeleted += 1 }
      }
    }
    // Metadata sweep below the floor: versions under the floor already
    // refuse to time-travel (their data may be gone), so their markers,
    // manifests, and sidecars are pure growth — at a streaming fold
    // cadence the commit log would otherwise accumulate forever. One
    // guard: each CUMULATIVE kind is in force from its newest committed
    // sidecar on, and if that sits below the floor (every later commit
    // left the kind alone), deleting it would forget the table's
    // applied batch ids (exactly-once replay would double-count), its
    // constraints or its properties. That version is retained whole
    // (marker + sidecars) until a newer sidecar of the kind commits
    // above the floor. Legacy version-named sidecars are deleted here;
    // tokenized ones fall to the ghost sweep below once their marker is
    // gone.
    val cumulativeKeep = Cumulative
      .flatMap(side => newestSidecar(s, dir, cur, side).map(_._1))
      .filter(_ < floor).toSet
    val swept = committed
      .filter(v => v < floor && !cumulativeKeep(v) && !tagged(v))
      .toSet
    swept.foreach { v =>
      SidecarKinds
        .foreach(side => fs.delete(new Path(dir, s"$side/$v.txt"), false))
      // marker FIRST: a crash between the two deletes then leaves a
      // harmless orphaned winner file (invisible to committedVersions)
      // instead of a committed-but-unresolvable torn state
      fs.delete(new Path(dir, s"commits/$v"), false)
      fs.delete(winnerPath(dir, v), false)
    }
    val survivors = committed.filterNot(swept)
    // Ghost-sidecar sweep: a losing or crashed attempt's tokenized
    // sidecar files at versions current has passed are
    // inert (the marker binds each committed version to its winner's
    // token) — reclaim them so the metadata dirs stay bounded by the
    // commit count, not the attempt count. Conservative by design:
    // only `<v>_<token>.txt` files whose token is NOT the committed
    // winner's are touched (legacy version-named files and anything at
    // a version a live writer could still claim are left alone), and a
    // torn marker keeps its version's files in place.
    val tokenOf = survivors.map(cv => cv ->
      scala.util.Try(committedToken(s, dir, cv)).toOption.flatten).toMap
    SidecarKinds.foreach { side =>
      val root = new Path(dir, side)
      if (fs.exists(root)) fs.listStatus(root).toSeq.foreach { st =>
        val name = st.getPath.getName.stripSuffix(".txt")
        val i = name.indexOf('_')
        if (i > 0) {
          val ghost = scala.util.Try(name.take(i).toLong).toOption.exists {
            gv =>
              gv <= cur &&
                (!tokenOf.contains(gv) ||
                 tokenOf(gv).exists(_ != name.drop(i + 1)))
          }
          if (ghost) { fs.delete(st.getPath, false); ghostsDeleted += 1 }
        }
      }
    }
    VacuumReport(floor, dataDeleted, swept.size, ghostsDeleted)
  }
}

/** A bloom-sidecar entry that defers deserialization until first probe:
  * holds the line's base64 payload and decodes the
  * `org.apache.spark.util.sketch.BloomFilter` bitset only when
  * [[mightContainLong]] is first called (memoized, thread-safe via
  * lazy-val init). This is what keeps [[Versioned.zoneMaps]]'s
  * driver footprint proportional to the filters a pruning pass actually
  * CONSULTS rather than every filter the table recorded — a partition
  * that another skipping tier already pruned, or a column the query
  * never probes, costs its sidecar line and nothing more.
  * `isDecoded` is the per-handle observable for the never-decodes
  * test pins. */
final class LazyBloom private[graft] (b64: String) {
  @volatile private var materialized = false
  private lazy val filter: org.apache.spark.util.sketch.BloomFilter = {
    val f = org.apache.spark.util.sketch.BloomFilter.readFrom(
      java.util.Base64.getDecoder.decode(b64))
    materialized = true
    f
  }
  def mightContainLong(h: Long): Boolean = filter.mightContainLong(h)
  /** Whether this handle's bitset has been deserialized yet. */
  def isDecoded: Boolean = materialized
}

package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, row_number}

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
  *   dir/stats|ledger/<v>_<token>.txt  sidecars, same attempt binding
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

  /** Inferred-schema memo for parquet reads of IMMUTABLE path sets.
    *
    * Every schemaless `read.parquet` pays a footer-inference Spark JOB
    * (plus its driver-side planning gap) before the first real action —
    * and a multi-pass write verb re-opens the same staged dirs 3-20×
    * per commit (ProfileOne round 17: ~20 `parquet at Versioned` jobs of
    * 25-40 ms inside one sql_merge lifecycle). Staged data dirs are
    * write-once by protocol (every attempt's dir is tokenized, vacuum
    * only ever deletes), and the bench's source tables are read-only,
    * so an identical (basePath, path list) always carries the identical
    * schema: memoize it and hand it back via `read.schema(...)`, which
    * skips the inference job entirely. METADATA only — never rows, never
    * results; the exact path list is the key, so a different file subset
    * (whose partition-value inference could differ) never shares an
    * entry. Bounded; eviction is whole-map (entries are a few hundred
    * bytes and keys die with their temp dirs). */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()

  private[graft] def readParquetCached(s: SparkSession,
      basePath: Option[String], paths: Seq[String]): DataFrame = {
    val key = basePath.getOrElse("") + "\u0000" +
      (if (paths.length == 1) paths.head
       else paths.sorted.mkString("\u0001"))
    val rd = basePath.fold(s.read)(bp => s.read.option("basePath", bp))
    schemaMemo.get(key) match {
      case null =>
        val df = rd.parquet(paths: _*)
        if (schemaMemo.size >= 8192) schemaMemo.clear()
        schemaMemo.put(key, df.schema)
        df
      case st => rd.schema(st).parquet(paths: _*)
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
    readEntries(s, dir, Seq(newest), partCol).limit(0)
  }

  /** All committed versions, ascending — one bounded metadata listing.
    * May have gaps: a crashed or race-losing writer burns its version
    * number (see [[nextVersion]]), so consumers iterate THIS list, never
    * `1..current`. */
  def committedVersions(s: SparkSession, dir: String): Seq[Long] = {
    val fs = fsOf(s, dir)
    val c = new Path(dir, "commits")
    if (!fs.exists(c)) Seq.empty
    else fs.listStatus(c).toSeq
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      .sorted
  }

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
      else if (fs.exists(new Path(dir, s"manifest/$v.txt"))) Some(None)
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
    if (fs.exists(new Path(dir, s"manifest/$v.txt"))) return false // legacy
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
        val entries = manifest(s, dir, pv)
        val tok = newToken()
        writeManifestFile(fs,
          sidecarPathFor(dir, v, Some(tok), "manifest"), entries)
        // DV refs are CORRECTNESS state bound to the manifest being
        // duplicated: a repaired no-op version without the previous
        // version's dv sidecar would RESURRECT every MOR-deleted row
        // the moment it becomes current (the protocol fuzz found
        // exactly this: MOR delete → torn claim → repair → ghosts).
        // Stats stay dropped (pruning is optional, never correctness);
        // the ledger reader walks back past ledgerless versions.
        Seq("dv", "uv").foreach { side =>
          committedSidecar(s, dir, pv, side).foreach { from =>
            val in = fs.open(from)
            val bytes = try {
              val bos = new java.io.ByteArrayOutputStream()
              org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
              bos.toByteArray
            } finally in.close()
            val out = createExclusive(
              fs, sidecarPathFor(dir, v, Some(tok), side), side)
            try out.write(bytes) finally out.close()
          }
        }
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

  /** The committed manifest of version `v`: (partition dir name, relative
    * data dir) pairs; dir name `__ALL__` marks an unpartitioned table.
    * Resolved through the marker token (see [[committedToken]]). */
  def manifest(s: SparkSession, dir: String, v: Long): Seq[(String, String)] = {
    val fs = fsOf(s, dir)
    val p = sidecarPathFor(dir, v, committedToken(s, dir, v), "manifest")
    // A winner-named manifest that VANISHED between the token resolve
    // and this read is a commit-state change (a repair rebound the
    // version and a vacuum ghost-swept the old attempt's files), not
    // corruption — surface the retryable race signal so withCommitRetry
    // re-derives, instead of a raw FileNotFoundException.
    try readLines(fs, p).map { line =>
      val i = line.indexOf('\t')
      (line.substring(0, i), line.substring(i + 1))
    } catch {
      case e: java.io.FileNotFoundException =>
        throw new ConcurrentCommitException(
          s"manifest $p of committed version $v under $dir vanished " +
            "mid-read — the version's winner was rebound concurrently; " +
            "re-derive from the current commit log", e)
    }
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
  private[graft] def createExclusive(fs: FileSystem, p: Path, what: String)
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

  /** Serialize manifest entries to a write-once file — the ONE format
    * both [[publish]] and [[repairTornCommit]] emit. */
  private def writeManifestFile(fs: FileSystem, p: Path,
                                entries: Seq[(String, String)]): Unit = {
    val out = createExclusive(fs, p, "manifest")
    try out.write(entries.map { case (k, rel) => s"$k\t$rel" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

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
    * Sidecar contract: [[writeStats]] / ledger writes that belong to
    * this version must use the SAME token and land BEFORE publish, so a
    * committed version and its sidecars are bound atomically by the one
    * winner file. */
  def publish(s: SparkSession, dir: String, v: Long, token: String,
              entries: Seq[(String, String)]): Unit = {
    val fs = fsOf(s, dir)
    writeManifestFile(fs, sidecarPathFor(dir, v, Some(token), "manifest"),
                      entries)
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

  /** Per-partition zone-map sidecar (Iceberg's manifest-stats idea):
    * `stats/<v>.txt` maps each partition dir name to the min/max of a
    * designated LONG column, written BEFORE publish so stats and data
    * commit together (a torn stats write precedes the marker — the
    * version is simply not visible yet). WRITE-ONCE for the same reason
    * the manifest is: a racing loser must not replace the bounds a
    * committed version's readers prune by. Stats make range pruning
    * LAYOUT-AGNOSTIC: the reader needs no knowledge of how the writer
    * clustered the data, only the per-partition bounds. */
  def writeStats(s: SparkSession, dir: String, v: Long, token: String,
                 stats: Seq[(String, (Long, Long))]): Unit =
    writeStatsLines(s, dir, v, token,
      stats.map { case (k, (lo, hi)) => s"$k\t$lo\t$hi" })

  /** MULTI-COLUMN zone maps (the Iceberg/Delta per-column bounds idea,
    * at this store's partition granularity): `stats/<v>_<token>.txt`
    * lines of `partition-dir-name \t column \t lo \t hi`, one per
    * partition × stats column — the 3-field legacy form (no column
    * field) remains readable as the table's single unnamed key. Same
    * write-once / commit-with-the-manifest contract as [[writeStats]].
    * Multi-column bounds are what let a reader prune on the
    * INTERSECTION of several predicates without knowing which column
    * the writer clustered by — at 100 TB, the second predicate often
    * prunes what the first cannot. */
  def writeStatsMulti(s: SparkSession, dir: String, v: Long, token: String,
                      stats: Seq[(String, Seq[(String, (Long, Long))])])
      : Unit =
    writeStatsLines(s, dir, v, token,
      stats.flatMap { case (part, cols) =>
        cols.map { case (c, (lo, hi)) => s"$part\t$c\t$lo\t$hi" } })

  /** Raw committed stats lines of version `v` (empty if none) — the
    * FORMAT-PRESERVING carry surface maintenance writers use: a carry
    * filters lines by partition name (the first tab field) without
    * parsing bounds, so single-key (3-field) and multi-column (4-field)
    * sidecars survive compaction/retention/merge identically, and a
    * carry can never silently downgrade a multi-column table to its
    * first column. */
  private[graft] def readStatsLines(s: SparkSession, dir: String,
                                    v: Long): Seq[String] = {
    val fs = fsOf(s, dir)
    committedSidecar(s, dir, v, "stats") match {
      case None => Seq.empty
      case Some(p) => readLines(fs, p)
    }
  }

  /** Serialize stats lines write-once (see [[readStatsLines]]). */
  private[graft] def writeStatsLines(s: SparkSession, dir: String, v: Long,
                                     token: String,
                                     lines: Seq[String]): Unit = {
    val fs = fsOf(s, dir)
    val out = createExclusive(
      fs, sidecarPathFor(dir, v, Some(token), "stats"), "stats")
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The partition-name prefix of a stats line — the carry filter key. */
  private[graft] def statsLinePart(line: String): String =
    line.takeWhile(_ != '\t')

  /** Merge-on-read DELETION VECTORS (Delta's DV idea, at this store's
    * partition granularity): the `dv/<v>_<token>.txt` sidecar maps each
    * partition dir name to the relative paths of tombstone-key parquet
    * dirs (under `dvdata/`) that must be ANTI-JOINED out of that
    * partition's rows on read. A MOR delete publishes only this sidecar
    * plus one small tombstone dir — the manifest and data dirs carry
    * verbatim, so delete cost is ∝ deleted keys, never partition bytes
    * (the write-amplification escape hatch a 100 TB GDPR sweep needs).
    * Unlike stats, DV refs are CORRECTNESS state: every publisher that
    * restages a partition must first read it LIVE ([[readEntriesLive]],
    * which applies the refs) and then DROP that partition's lines; a
    * manifest-only publisher carries lines for kept partitions; rollback
    * byte-copies the target version's sidecar (refs describe exactly one
    * manifest, the stats rule). Same write-once / commit-with-the-
    * manifest token contract as every sidecar. */
  private[graft] def writeDvLines(s: SparkSession, dir: String, v: Long,
                                  token: String,
                                  lines: Seq[String]): Unit = {
    val fs = fsOf(s, dir)
    val out = createExclusive(
      fs, sidecarPathFor(dir, v, Some(token), "dv"), "dv")
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Parse one DV sidecar line: `partition-dir-name \t dvdata-relpath
    * [\t file1,file2,…] [\t file1:p1.p2,file2:p7,…]`. The OPTIONAL
    * third field (round 14) is the FILE SCOPE — the leaf names of the
    * data files within that partition's dir that contained at least
    * one tombstoned key when the delete ran (data dirs are immutable,
    * so the set stays valid for as long as the ref itself carries; any
    * restaging write drops the line). Scoped refs let the read side
    * anti-join ONLY those files and stream every other file of the
    * partition verbatim — Delta/Iceberg's per-file deletion-vector
    * granularity. The OPTIONAL fourth field (round 15) is the ROW
    * POSITION map — for each scoped file whose doomed-row count fit
    * the writer's cap, the exact `_metadata.row_index` positions of
    * the tombstoned rows, recorded when the delete ran (files are
    * immutable, so positions stay valid like the names do): the read
    * side then applies a codegen'd positional FILTER to those files
    * instead of the key anti-join — no join, no shuffle, no tombstone
    * read — Delta's deletion-vector end state. Files in scope but not
    * in the map (over-cap, or written by a round-14 writer) keep the
    * per-file anti-join; a 2-field line means "unknown — anti-join the
    * whole partition". Every tier is the same content, cheaper. */
  private[graft] def dvLineFields(line: String)
      : (String, String, Option[Set[String]], Map[String, Seq[Long]]) = {
    val fs = line.split('\t')
    val scope =
      if (fs.length >= 3 && fs(2).nonEmpty) Some(fs(2).split(',').toSet)
      else None
    val pos =
      if (fs.length >= 4 && fs(3).nonEmpty) parsePosField(fs(3), scope)
      else Map.empty[String, Seq[Long]]
    (fs(0), fs(1), scope, pos)
  }

  /** Raw committed DV lines of version `v` (see [[dvLineFields]] for
    * the format, empty if none) — the carry surface, filtered by
    * partition name exactly as stats lines are. */
  private[graft] def readDvLines(s: SparkSession, dir: String,
                                 v: Long): Seq[String] = {
    val fs = fsOf(s, dir)
    committedSidecar(s, dir, v, "dv") match {
      case None => Seq.empty
      case Some(p) => readLines(fs, p)
    }
  }

  /** Merge-on-read UPDATE VECTORS — the DV idea for updates
    * ([[graft.ops.MergeOps.mergeUpdateMor]]): the `uv/<v>_<token>.txt`
    * sidecar lines are `partition-dir-name \t uvdata-relpath \t keyCol
    * [\t file-scope]` (see [[uvLineFields]]),
    * each naming a dir of FULL replacement row images (under `uvdata/`,
    * partitioned by the table's partCol) that SUBSTITUTE for the base
    * rows with the same key on read — applied BEFORE the DV anti-join
    * (an update of a live key precedes any later tombstone of it; a
    * tombstoned key is not live, so no image is ever written for one —
    * the write side guarantees substitution-then-delete is always the
    * right order). Multiple generations on one partition stack: the
    * image from the HIGHEST staged version wins per key (the dir name
    * carries the version). Same CORRECTNESS-state carry contract as dv:
    * restaging writers materialize and drop their partitions' lines,
    * manifest-carry writers keep them verbatim, rollback and torn-claim
    * repair byte-copy the sidecar. */
  private[graft] def readUvLines(s: SparkSession, dir: String,
                                 v: Long): Seq[String] = {
    val fs = fsOf(s, dir)
    committedSidecar(s, dir, v, "uv") match {
      case None => Seq.empty
      case Some(p) => readLines(fs, p)
    }
  }

  private[graft] def writeUvLines(s: SparkSession, dir: String, v: Long,
                                  token: String,
                                  lines: Seq[String]): Unit = {
    val fs = fsOf(s, dir)
    val out = createExclusive(
      fs, sidecarPathFor(dir, v, Some(token), "uv"), "uv")
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Parse one UV sidecar line: `partition-dir-name \t uvdata-relpath
    * \t keyCol [\t file1,file2,…]`. The OPTIONAL fourth field (round
    * 14) is the FILE SCOPE, the exact analogue of [[dvLineFields]]'
    * third: the base data files that held an imaged key when the
    * update ran — the read side anti-joins only those files' rows
    * before unioning the images in, and every other file streams
    * verbatim. A 3-field line means "unknown — anti-join the whole
    * partition". */
  private[graft] def uvLineFields(line: String)
      : (String, String, String, Option[Set[String]],
         Map[String, Seq[Long]]) = {
    val fs = line.split('\t')
    val scope =
      if (fs.length >= 4 && fs(3).nonEmpty) Some(fs(3).split(',').toSet)
      else None
    // OPTIONAL fifth field (round 15, the dv analogue): per-file row
    // positions of the imaged base rows — the substitution anti-join
    // becomes a positional filter for mapped files
    val pos =
      if (fs.length >= 5 && fs(4).nonEmpty) parsePosField(fs(4), scope)
      else Map.empty[String, Seq[Long]]
    (fs(0), fs(1), fs(2), scope, pos)
  }

  /** Committed UV refs of version `v`: partition dir name →
    * ((uvdata relpath, keyCol)) list, highest-version dirs last (file
    * scopes stripped — the dir identity is the change-detection and
    * vacuum surface). Empty for tables with no MOR updates — the fast
    * path. */
  def readUvRefs(s: SparkSession, dir: String,
                 v: Long): Map[String, Seq[(String, String)]] =
    readUvLines(s, dir, v).map(uvLineFields)
      .groupBy(_._1)
      .map { case (p, rs) => p -> rs.map(r => (r._2, r._3)).sortBy(_._1) }

  /** [[readUvRefs]] WITH each ref's optional file scope and row
    * positions (see [[uvLineFields]]) — the read-path surface. */
  def readUvRefsScoped(s: SparkSession, dir: String, v: Long)
      : Map[String, Seq[(String, String, Option[Set[String]],
                         Map[String, Seq[Long]])]] =
    readUvLines(s, dir, v).map(uvLineFields)
      .groupBy(_._1)
      .map { case (p, rs) =>
        p -> rs.map(r => (r._2, r._3, r._4, r._5)).sortBy(_._1)
      }

  /** Committed DV refs of version `v`: partition dir name → tombstone
    * dirs to anti-join out (file scopes stripped — the dir identity is
    * the change-detection and vacuum surface). Empty map for tables
    * with no MOR deletes — the fast path every non-DV read takes. */
  def readDvRefs(s: SparkSession, dir: String,
                 v: Long): Map[String, Seq[String]] =
    readDvLines(s, dir, v).map(dvLineFields)
      .groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).sorted }

  /** [[readDvRefs]] WITH each ref's optional file scope and row
    * positions (see [[dvLineFields]]) — the read-path surface:
    * [[readEntriesLive]] anti-joins only a scoped ref's named files,
    * and position-mapped files take a positional filter instead. */
  def readDvRefsScoped(s: SparkSession, dir: String, v: Long)
      : Map[String, Seq[(String, Option[Set[String]],
                         Map[String, Seq[Long]])]] =
    readDvLines(s, dir, v).map(dvLineFields)
      .groupBy(_._1)
      .map { case (p, rs) =>
        p -> rs.map(r => (r._2, r._3, r._4)).sortBy(_._1)
      }

  /** The cumulative APPLIED-ID ledger as of version `v` — the newest
    * COMMITTED `ledger/` sidecar at or below `v` (walk-back bounded by
    * version count, two existence probes per step), resolved through
    * each version's marker token so a crashed writer's orphan and a
    * losing racer's ghost are both invisible (trusting either would
    * mark a never-committed write as applied — silent loss on retry).
    * Shared exactly-once surface: incremental rollup folds record batch
    * ids here ([[graft.ops.IncrementalOps]]), mirror syncs record
    * applied source versions as `src:<v>`
    * ([[graft.ops.MergeOps.syncMirror]]) — one id set per store,
    * committed atomically with the data it covers. Rollback copies the
    * newest ledger at or below the target forward (see [[rollback]]),
    * so the set rolls back with the data. */
  private[graft] def appliedLedgerIds(s: SparkSession, dir: String,
                                      v: Long): Set[String] = {
    val fs = fsOf(s, dir)
    committedVersions(s, dir).filter(_ <= v).sorted.reverse
      .iterator
      .map(w => committedSidecar(s, dir, w, "ledger"))
      .collectFirst { case Some(p) =>
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toSet
        finally in.close()
      }
      .getOrElse(Set.empty)
  }

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

  /** WRITE-ONCE ledger sidecar at the attempt's own tokenized name,
    * like the manifest: concurrent attempts never collide on the file
    * (each has its own token); the single-winner fight happens at the
    * commit marker inside [[publish]]. [[createExclusive]] translates
    * only a REAL already-exists into the commit-race signal. The write
    * must land BEFORE publish so ledger and data commit together. */
  private[graft] def writeLedgerIds(s: SparkSession, dir: String, v: Long,
                                    token: String,
                                    ids: Set[String]): Unit = {
    val p = new Path(dir, s"ledger/${v}_$token.txt")
    val fs = fsOf(s, dir)
    val out = createExclusive(fs, p, "ledger")
    try out.write(ids.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** TOUCHED-PARTITION sidecar of a commit — the summary optimistic
    * conflict detection reads (Delta/Iceberg's logical conflict check,
    * at this store's partition granularity): `touch/<v>_<token>.txt`
    * lists the partition dir names whose LIVE CONTENT the commit may
    * have changed (restaged, row-deleted, tombstoned). A commit WITHOUT
    * a touch sidecar declares nothing and is treated as touching
    * everything (rollback, retention drops, constraint DDL — the
    * conservative default that keeps rebase decisions sound as new
    * writer kinds appear). An EMPTY sidecar is a real declaration:
    * "content untouched" (ledger ticks). Same write-once tokenized
    * contract as every sidecar. */
  private[graft] def writeTouchLines(s: SparkSession, dir: String, v: Long,
                                     token: String,
                                     parts: Seq[String]): Unit = {
    val fs = fsOf(s, dir)
    val out = createExclusive(
      fs, sidecarPathFor(dir, v, Some(token), "touch"), "touch")
    try out.write(parts.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
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

  /** The committed touch declaration of version `v`: Some(set) if the
    * winning attempt declared one (possibly empty), None for undeclared
    * (= touches everything) commits. */
  private[graft] def readTouched(s: SparkSession, dir: String,
                                 v: Long): Option[Set[String]] = {
    val fs = fsOf(s, dir)
    committedSidecar(s, dir, v, "touch").map(p => readLines(fs, p).toSet)
  }

  /** PERSISTED table-level CHECK constraints as of version `v` — the
    * newest committed `constraints/` sidecar at or below `v`, the
    * applied-id-ledger walk-back rule: constraints are TABLE METADATA
    * riding the commit log (Delta's `ADD CONSTRAINT` model), so every
    * writer deriving from `v` sees exactly the constraint set committed
    * at or before its snapshot, a torn add is invisible, and a racing
    * add loses the version claim like any writer. Lines are
    * `name \t sql-expr`; an EMPTY sidecar masks older ones (that is how
    * dropping the last constraint releases the table —
    * [[graft.ops.MergeOps.dropConstraint]]). Unlike the ledger these do
    * NOT roll back with data ([[rollback]] copies no constraints
    * sidecar; the walk-back finds the newest one regardless): a
    * rollback restores CONTENT, not the table's contract — the Delta
    * RESTORE rule. */
  private[graft] def readConstraintLines(s: SparkSession, dir: String,
                                         v: Long): Seq[String] = {
    val fs = fsOf(s, dir)
    if (!fs.exists(new Path(dir, "constraints"))) return Seq.empty
    committedVersions(s, dir).filter(_ <= v).sorted.reverse
      .iterator
      .map(w => committedSidecar(s, dir, w, "constraints"))
      .collectFirst { case Some(p) => readLines(fs, p) }
      .getOrElse(Seq.empty)
  }

  /** Write-once constraints sidecar at the attempt's tokenized name —
    * the ledger contract: lands BEFORE publish so the constraint set
    * and the version commit atomically. */
  private[graft] def writeConstraintLines(s: SparkSession, dir: String,
                                          v: Long, token: String,
                                          lines: Seq[String]): Unit = {
    val fs = fsOf(s, dir)
    val out = createExclusive(
      fs, sidecarPathFor(dir, v, Some(token), "constraints"), "constraints")
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
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
                 v: Long): Map[String, String] = {
    val fs = fsOf(s, dir)
    if (!fs.exists(new Path(dir, "props"))) return Map.empty
    committedVersions(s, dir).filter(_ <= v).sorted.reverse
      .iterator
      .map(w => committedSidecar(s, dir, w, "props"))
      .collectFirst { case Some(p) => readLines(fs, p) }
      .getOrElse(Seq.empty)
      .map { l =>
        val i = l.indexOf('\t')
        require(i > 0, s"malformed props sidecar line '$l' under $dir")
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
  }

  /** Write-once props sidecar at the attempt's tokenized name — lands
    * BEFORE publish so the property set and the version commit
    * atomically ([[tableProps]]). */
  private[graft] def writePropsLines(s: SparkSession, dir: String,
                                     v: Long, token: String,
                                     props: Map[String, String]): Unit = {
    val fs = fsOf(s, dir)
    val out = createExclusive(
      fs, sidecarPathFor(dir, v, Some(token), "props"), "props")
    try out.write(props.toSeq.sortBy(_._1)
      .map { case (k, vv) => s"$k\t$vv" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Per-partition, per-column committed bounds of version `v` —
    * partition dir name → column → (lo, hi) of the committed stats
    * sidecar (resolved through the marker token; empty if the winning
    * attempt wrote none). Unnamed legacy 3-field lines, which writers
    * no longer produce, surface under the column name `__key__` — no
    * pruning hint names that column, so they never prune. Dictionary
    * lines (see [[readStatsDict]]) ride the same sidecar and are
    * skipped here — each reader takes the line forms it understands
    * (stats are an optimization, never a correctness gate). */
  def readStatsMulti(s: SparkSession, dir: String,
                     v: Long): Map[String, Map[String, (Long, Long)]] =
    readStatsLines(s, dir, v).flatMap { line =>
      val parts = line.split('\t')
      // a range line's third field is the numeric lo bound — tagged
      // forms (dict, bloom, future kinds) are other readers' lines
      if (parts.length == 4 && parts(2).nonEmpty &&
          parts(2).forall(c => c.isDigit || c == '-'))
        Some((parts(0), parts(1), (parts(2).toLong, parts(3).toLong)))
      else if (parts.length == 3)
        Some((parts(0), "__key__", (parts(1).toLong, parts(2).toLong)))
      else None
    }.groupBy(_._1).map { case (part, rows) =>
      part -> rows.map(r => r._2 -> r._3).toMap
    }

  /** Per-partition categorical DICTIONARIES of version `v` — partition
    * dir name → column → the partition's complete distinct value set,
    * recorded only when it fit the writer's cap (a high-cardinality
    * column simply has no line and always reads). Lines are
    * `part \t col \t dict \t v1,v2,...` with URL-encoded values, riding
    * the SAME stats sidecar as the range bounds — so every carry rule
    * holds for free: maintenance carries verbatim, deletes keep a
    * recorded set a valid SUPERSET (equality pruning stays exact), and
    * restaging writers drop the touched partitions' lines. This is the
    * low-cardinality complement to range zone maps: min/max on a
    * categorical column is meaningless, but "which of the 5 statuses
    * appear in this partition" prunes an equality/IN predicate on a
    * column CORRELATED with the clustering (status vs ingest year) even
    * though it is not the partition key — tiny metadata (≤ cap values
    * per partition per column), real skipping at 100 TB. */
  /** Per-partition, per-FILE committed row counts of version `v`
    * (round 16 — Iceberg's manifest-recorded counts): partition dir
    * name → data-file leaf name → exact rows at write time. Files are
    * immutable for an entry's life, so a recorded count stays exact
    * while the name matches; consumers must use a count ONLY for files
    * they actually listed (a carried line naming a restaged
    * partition's dead files never matches — the safe fallback is the
    * parquet footer). Lines are `part \t __rows__ \t rows \t leaf:N,…`
    * riding the stats sidecar under its carry rules. */
  def readStatsRows(s: SparkSession, dir: String,
                    v: Long): Map[String, Map[String, Long]] =
    readStatsLines(s, dir, v).flatMap { line =>
      val parts = line.split('\t')
      if (parts.length == 4 && parts(1) == "__rows__" &&
          parts(2) == "rows")
        Some(parts(0) -> parts(3).split(',').iterator.map { e =>
          val i = e.lastIndexOf(':')
          e.substring(0, i) -> e.substring(i + 1).toLong
        }.toMap)
      else None
    }.toMap

  def readStatsDict(s: SparkSession, dir: String,
                    v: Long): Map[String, Map[String, Set[String]]] =
    readStatsLines(s, dir, v).flatMap { line =>
      val parts = line.split('\t')
      if (parts.length == 4 && parts(2) == "dict")
        Some((parts(0), parts(1), parts(3).split(',').iterator
          .map(java.net.URLDecoder.decode(_, "UTF-8")).toSet))
      else None
    }.groupBy(_._1).map { case (part, rows) =>
      part -> rows.map(r => r._2 -> r._3).toMap
    }

  /** Per-partition BLOOM FILTERS of version `v` — partition dir name →
    * column → the deserialized sketch over `xxhash64(cast(col AS
    * string))` of the partition's rows. Lines are
    * `part \t col \t bloom \t <base64(serialized filter)>`, riding the
    * SAME stats sidecar as range bounds and dictionaries — so every
    * carry rule holds for free (maintenance carries verbatim, deletes
    * keep a recorded filter a valid SUPERSET since a bloom only
    * over-approximates, restaging writers drop the touched partitions'
    * lines). This is the THIRD skipping tier (Delta's bloom index /
    * Iceberg's Puffin shape): a point lookup on a HIGH-CARDINALITY
    * column — where range bounds span everything and dictionaries blow
    * their cap — skips every partition whose filter answers "definitely
    * absent"; a false positive merely reads a partition the residual
    * filter then empties, so correctness never rides on the fpp.
    *
    * LAZY by design: values are [[LazyBloom]] handles that keep the
    * base64 payload and deserialize the sketch only on the first
    * probe, and `cols` restricts the map to the probed columns' lines
    * up front — so decoded driver heap is O(probed partitions ×
    * probed columns), NOT O(all partitions × all bloom'd columns).
    * At 10⁵ partitions × ≤240 KB filters the eager form is ~24 GB of
    * driver bitsets to answer one point lookup; the lazy form decodes
    * exactly the filters a pruning pass consults (a partition another
    * tier already pruned never decodes — the composed reader
    * short-circuits). The un-decoded lines cost only their share of
    * the stats sidecar the read already loads; if THAT line volume
    * ever becomes the bound, the next subdivision is a per-column
    * sidecar file — same carry rules, loaded on demand. */
  def readStatsBloom(s: SparkSession, dir: String, v: Long,
                     cols: Option[Set[String]] = None)
      : Map[String, Map[String, LazyBloom]] =
    readStatsLines(s, dir, v).flatMap { line =>
      val parts = line.split('\t')
      if (parts.length == 4 && parts(2) == "bloom" &&
          cols.forall(_.contains(parts(1))))
        Some((parts(0), parts(1), new LazyBloom(parts(3))))
      else None
    }.groupBy(_._1).map { case (part, rows) =>
      part -> rows.map(r => r._2 -> r._3).toMap
    }

  /** Read the current committed state. `partCol` present: entries are
    * `col=value` dirs possibly spread across versions — they are grouped
    * by staging dir and each group is read with that dir as `basePath`,
    * so Spark re-derives the partition column exactly as a plain
    * partitioned-directory read would (same value escaping, same type
    * inference). `partValues` prunes to the named values BEFORE any file
    * is listed — the manifest is the partition index. */
  def readCurrent(s: SparkSession, dir: String, partCol: Option[String],
                  partValues: Option[Seq[String]] = None): DataFrame = {
    val v = currentVersion(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val man = manifest(s, dir, v)
    val kept = (partCol, partValues) match {
      case (Some(c), Some(vals)) =>
        val want = vals.map(x => partDirName(c, x)).toSet
        man.filter(e => want.contains(e._1))
      case _ => man
    }
    readEntriesLive(s, dir, v, kept, partCol)
  }

  /** [[readEntries]] with version `v`'s deletion vectors APPLIED — the
    * read every consumer of committed state must use on a table that may
    * carry MOR deletes (readCurrent/readVersion route through here, as
    * do the restage readers in [[graft.ops.MergeOps]]). Entries are
    * grouped by their DV-ref set: a no-ref group reads exactly as
    * [[readEntries]] (tables with no DV sidecar pay one metadata probe
    * and nothing else), a ref-bearing group anti-joins the union of its
    * tombstone dirs on the tombstone key column. Applying a ref only to
    * the partitions that carry it is what keeps re-inserts correct: a
    * restage drops its partition's lines, so a key later upserted back
    * is never shadowed by a stale tombstone. Under the store's stable
    * key→partition precondition a tombstone can never match a row in a
    * partition that merely shares a ref, so the per-group union is
    * exact. */
  def readEntriesLive(s: SparkSession, dir: String, v: Long,
                      entries: Seq[(String, String)],
                      partCol: Option[String],
                      dataDir: Option[String] = None): DataFrame = {
    require(entries.nonEmpty, "readEntries needs at least one entry")
    // dataDir: where the rel paths resolve — differs from `dir` only for
    // BRANCHES, whose metadata tree lives under the table root while the
    // staged data (and tombstone dirs) stay in the root's own data dirs
    val dd = dataDir.getOrElse(dir)
    val refs = readDvRefsScoped(s, dir, v)
    val uvRefs = readUvRefsScoped(s, dir, v)
    if (refs.isEmpty && uvRefs.isEmpty)
      return readEntries(s, dd, entries, partCol)
    // Qualify bare (pre-round-16) scope/position names by their HOLDER
    // entry's relpath: a line keyed to entry n names files within n's
    // own dir, so the qualified form is exact. Qualification is what
    // lets entries MERGE into one group below without ambiguity — one
    // staged write names every partition's file with the SAME leaf
    // (`part-00000-<job-uuid>`), so bare leaf names collide across the
    // partition dirs of a group ROUTINELY, not rarely.
    def qualName(rel: String, n: String): String =
      if (n.contains('/')) n else s"$rel/$n"
    def dvRefsOf(e: (String, String)) =
      refs.getOrElse(e._1, Nil).map { case (rel, scope, pos) =>
        (rel, scope.map(_.map(n => qualName(e._2, n))),
         pos.map { case (f, ps) => qualName(e._2, f) -> ps })
      }
    def uvRefsOf(e: (String, String)) =
      uvRefs.getOrElse(e._1, Nil).map { case (rel, kc, scope, pos) =>
        (rel, kc, scope.map(_.map(n => qualName(e._2, n))),
         pos.map { case (f, ps) => qualName(e._2, f) -> ps })
      }
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
        (dvRefsOf(e).map(_._1), uvRefsOf(e).map(r => (r._1, r._2))))
      .toSeq.sortBy(_._2.head._1)
      .map { case (_, es) =>
        val rs = es.flatMap(dvRefsOf).distinct
        val us = es.flatMap(uvRefsOf).distinct
        var base = readEntries(s, dd, es, partCol)
        // FILE-SCOPED MOR shared kernel (round 14): list the group's
        // data files once and read a keep-subset at the right basePath
        // — both sidecar kinds use it to anti-join ONLY the files their
        // scopes name while every other file streams verbatim.
        val fsys = fsOf(s, dd)
        lazy val byVer = es.groupBy(_._2.split("/").take(2).mkString("/"))
          .toSeq.sortBy(_._1)
        // `keep` sees the entry-QUALIFIED relative name (the scope/pos
        // vocabulary after qualName). `xform` applies PER-SCAN, before
        // any union: metadata columns (`_metadata.file_path` /
        // `row_index` — the positional-filter inputs) resolve only
        // against a file-source scan, never a union's output
        def readSplit(keep: String => Boolean,
                      xform: DataFrame => DataFrame = identity)
            : Option[DataFrame] =
          byVer.flatMap { case (verDir, ves) =>
            val paths =
              try ves.flatMap(e =>
                    fsys.listStatus(new Path(dd, e._2)).toSeq
                      .map(st => (e._2, st)))
                  .filter(_._2.isFile)
                  .map { case (rel, st) => (rel, st.getPath) }
                  .filter { case (rel, p) =>
                    !p.getName.startsWith("_") &&
                      !p.getName.startsWith(".") &&
                      keep(s"$rel/${p.getName}") }
                  .map(_._2)
              catch {
                case e: java.io.FileNotFoundException =>
                  throw new ConcurrentCommitException(
                    s"a manifest-referenced data dir under $dd " +
                      "vanished mid-read — a concurrent vacuum swept " +
                      "this version below its retention floor; " +
                      "re-derive from the current commit log", e)
              }
            if (paths.isEmpty) None
            else Some(xform(partCol match {
              case Some(_) =>
                readParquetCached(s, Some(s"$dd/$verDir"),
                  paths.map(_.toString))
              case None =>
                readParquetCached(s, None, paths.map(_.toString))
            }))
          }.reduceOption(_.unionByName(_, allowMissingColumns = true))
        // UPDATE substitution first (see [[readUvLines]] for why that
        // order is always right): latest image per key across the
        // group's uv generations replaces the base row wholesale.
        if (us.nonEmpty) {
          val kcs = us.map(_._2).distinct
          require(kcs.length == 1,
            s"update-vector dirs ${us.map(_._1).mkString(", ")} disagree " +
              s"on the key column (${kcs.mkString(", ")}) — one table " +
              "has one key")
          val kc = kcs.head
          // read ONLY this group's partition subdirs of each image dir:
          // an image dir spans every partition its update touched, and a
          // whole-dir read would leak other partitions' images into this
          // group (the refs are per-partition lines for exactly this
          // reason). Unpartitioned tables read the dir whole. Distinct
          // rels: the merged group carries one line per (entry,
          // generation) — the same image dir must be read once.
          val imgs = us.map(_._1).distinct.map { rel =>
            val ver = stageDirVersion(rel.split("/")(1)).getOrElse(0L)
            val df = partCol match {
              case Some(_) =>
                readParquetCached(s, Some(s"$dd/$rel"),
                  es.map(e => s"$dd/$rel/${e._1}"))
              case None => readParquetCached(s, None, Seq(s"$dd/$rel"))
            }
            df.withColumn("__uv_v", lit(ver))
          }.reduce(_.unionByName(_, allowMissingColumns = true))
          import org.apache.spark.sql.expressions.Window
          val latest = imgs
            .withColumn("__uv_rn", row_number().over(
              Window.partitionBy(col(kc)).orderBy(col("__uv_v").desc)))
            .where(col("__uv_rn") === 1)
            .drop("__uv_v", "__uv_rn")
          val latestKeys = latest.select(kc).distinct()
          // FILE-SCOPED image refs (round 14, see [[uvLineFields]]):
          // every imaged key's base row lives in some scope-named file
          // (scopes are computed from the base files at write time and
          // carry for the ref's life), so when EVERY generation carries
          // a scope the substitution anti-join runs over only those
          // files' rows and the rest of the partition streams verbatim.
          // Any unscoped (legacy) line falls back to the whole-group
          // anti-join.
          base =
            if (!us.forall(_._3.isDefined))
              base.join(latestKeys, Seq(kc), "left_anti")
                .unionByName(latest, allowMissingColumns = true)
            else {
              // all names are entry-qualified (qualName above), so set
              // membership and the endsWith predicates agree exactly
              val uvTainted = us.flatMap(_._3.get).toSet
              // POSITIONAL tier (round 15, the dv analogue): a tainted
              // file every scoping generation position-mapped drops
              // its imaged base rows through a codegen'd filter — the
              // substitution costs no join for that file; any
              // scope-only mention demotes it to the anti-join
              val uvScopeOnly = us.flatMap(u =>
                u._3.get.filterNot(u._4.contains)).toSet
              val uvPosByName: Map[String, Seq[Long]] =
                us.flatMap(_._4.toSeq)
                  .groupBy(_._1)
                  .map { case (f, ps) =>
                    f -> ps.flatMap(_._2).distinct.sorted }
                  .filterNot { case (f, _) => uvScopeOnly(f) }
              val joinTainted = uvTainted -- uvPosByName.keySet
              val clean = readSplit(n => !uvTainted(n))
              val shadowJoin = readSplit(joinTainted)
                .map(_.join(latestKeys, Seq(kc), "left_anti"))
              val shadowPos = readSplit(uvPosByName.keySet, df => {
                val hit = uvPosByName.map { case (f, ps) =>
                  col("_metadata.file_path").endsWith("/" + f) &&
                    col("_metadata.row_index").isInCollection(ps)
                }.reduce(_ || _)
                df.where(!hit)
              })
              (clean.toSeq ++ shadowJoin.toSeq ++ shadowPos.toSeq
                :+ latest)
                .reduce(_.unionByName(_, allowMissingColumns = true))
            }
        }
        if (rs.isEmpty) base
        else {
          val rdirs = rs.map(_._1).distinct
          val dv = rdirs.map(r => readParquetCached(s, None, Seq(s"$dd/$r")))
            .reduce(_.unionByName(_))
          // tombstone dirs are partitioned by the partition column of
          // the SPEC THAT WROTE THEM — under metadata-tier partition
          // evolution that may differ from the partCol this read was
          // asked for, so the key column is inferred against each ref
          // dir's OWN `col=value` layout, never the caller's: the one
          // data column that is not any ref dir's partition column — a
          // LOUD contract: a future tombstone writer adding a column
          // would silently anti-join on an arbitrary pick otherwise
          val kc = partCol match {
            case Some(_) =>
              val fs = fsOf(s, dd)
              val dvParts = rdirs.flatMap { r =>
                fs.listStatus(new Path(dd, r)).toSeq
                  .map(_.getPath.getName).filter(_.contains('='))
                  .map(_.takeWhile(_ != '='))
              }.toSet
              val dataCols = dv.columns.filterNot(dvParts)
              require(dataCols.length == 1,
                s"tombstone dirs ${rdirs.mkString(", ")} must carry " +
                  s"exactly (key, <their own partition column>) — got " +
                  s"columns [${dv.columns.mkString(", ")}] with " +
                  s"dir-derived partition columns " +
                  s"[${dvParts.mkString(", ")}]; the dv writer contract " +
                  "changed without updating the read-side key inference")
              dataCols.head
            case None =>
              require(dv.columns.length == 1,
                s"unpartitioned tombstone dirs ${rdirs.mkString(", ")} " +
                  s"must carry exactly the key column — got " +
                  s"[${dv.columns.mkString(", ")}]")
              dv.columns.head
          }
          val dvKeys = dv.select(kc).distinct()
          // FILE-SCOPED refs (round 14, see [[dvLineFields]]): when no
          // uv substitution ran (substituted rows have no base-file
          // identity) and EVERY ref carries a scope, split each
          // partition dir's files into tainted (named by some scope —
          // they held a doomed key when their delete ran) and clean,
          // anti-join only the tainted files' rows, and stream the
          // clean files verbatim: one deleted key taxes one file's
          // rows, not the partition. Any unscoped (legacy) ref
          // disables the split for its group — always-correct
          // whole-partition fallback.
          val canScope = us.isEmpty && rs.forall(_._2.isDefined)
          if (!canScope) base.join(dvKeys, Seq(kc), "left_anti")
          else {
            // all names entry-qualified (qualName) — see the uv block
            val tainted = rs.flatMap(_._2.get).toSet
            // POSITIONAL tier (round 15): a tainted file whose every
            // scoping ref also carries its row positions takes a
            // codegen'd positional FILTER — no join, no shuffle, no
            // tombstone read. Positions union across stacked delete
            // generations; one scope-only mention (dense/over-cap, or
            // a round-14 writer) demotes the file to the per-file
            // anti-join, which is always correct.
            val scopeOnly = rs.flatMap(r =>
              r._2.get.filterNot(r._3.contains)).toSet
            val posByName: Map[String, Seq[Long]] = rs.flatMap(_._3.toSeq)
              .groupBy(_._1)
              .map { case (f, ps) =>
                f -> ps.flatMap(_._2).distinct.sorted }
              .filterNot { case (f, _) => scopeOnly(f) }
            val joinTainted = tainted -- posByName.keySet
            val clean = readSplit(n => !tainted(n))
            val doomedJoin = readSplit(joinTainted)
              .map(_.join(dvKeys, Seq(kc), "left_anti"))
            val doomedPos = readSplit(posByName.keySet, df => {
              val hit = posByName.map { case (f, ps) =>
                col("_metadata.file_path").endsWith("/" + f) &&
                  col("_metadata.row_index").isInCollection(ps)
              }.reduce(_ || _)
              df.where(!hit)
            })
            (clean.toSeq ++ doomedJoin.toSeq ++ doomedPos.toSeq)
              .reduceOption(_.unionByName(_, allowMissingColumns = true))
              // every file scoped out of existence (a restage raced
              // the listing) — an empty frame at the group's schema
              .getOrElse(base.limit(0))
          }
        }
      }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Union-read a set of manifest entries (see [[readCurrent]]). An empty
    * entry set is the caller's "partition absent" case — callers handle it
    * before calling (we cannot conjure a schema from nothing).
    *
    * A referenced data dir that VANISHED between the manifest resolve and
    * this read (a racing vacuum swept the version below its floor) is a
    * commit-state change, not corruption: it surfaces as the retryable
    * race signal — the same translation the manifest read does — so a
    * reader racing a vacuum fails loudly with the protocol's own error
    * instead of a raw missing-path exception. (The window AFTER frame
    * creation — a scan task opening a file a vacuum deleted mid-job —
    * remains the documented reader-vs-vacuum contract every table format
    * has: schedule retention from one maintainer, or retry the read.) */
  def readEntries(s: SparkSession, dir: String,
                  entries: Seq[(String, String)],
                  partCol: Option[String]): DataFrame = {
    require(entries.nonEmpty, "readEntries needs at least one entry")
    def translate[T](body: => T): T =
      try body catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          throw new ConcurrentCommitException(
            s"a manifest-referenced data dir under $dir vanished " +
              "mid-read — a concurrent vacuum swept this version below " +
              "its retention floor; re-derive from the current commit log",
            e)
      }
    partCol match {
      case None =>
        translate(readParquetCached(s, None,
          entries.map(e => s"$dir/${e._2}")))
      case Some(_) =>
        // allowMissingColumns: version groups may disagree on schema
        // after a schema-evolving merge (a later version's partitions
        // carry columns older ones predate) — missing columns null-fill,
        // the same union semantics scan_evolved pins for file sources.
        entries.groupBy(_._2.split("/").take(2).mkString("/"))
          .toSeq.sortBy(_._1)
          .map { case (verDir, es) =>
            translate(readParquetCached(s, Some(s"$dir/$verDir"),
              es.map(e => s"$dir/${e._2}")))
          }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Manifest entry for an unpartitioned table staged at `stageRel`. */
  def wholeTableEntryAt(stageRel: String): Seq[(String, String)] =
    Seq((WholeTable, stageRel))

  /** Legacy form of [[wholeTableEntryAt]] for the version-only layout. */
  def wholeTableEntries(v: Long): Seq[(String, String)] =
    wholeTableEntryAt(s"data/$v")

  /** The directory name Spark's partitionBy writer gives a partition
    * value — same escaping, so manifest pruning matches the physical
    * layout for ANY value (spaces, unicode, nulls). */
  def partDirName(partCol: String, value: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    if (value == null) s"$partCol=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
    else s"$partCol=${ExternalCatalogUtils.escapePathName(String.valueOf(value))}"
  }

  /** Number of data files under one manifest entry's dir — the
    * fragmentation measure [[graft.ops.MergeOps.compactPartitions]] acts
    * on. Driver-side listing bounded by that partition's file count. */
  def dataFileCount(s: SparkSession, dir: String, relDir: String): Int = {
    val fs = fsOf(s, dir)
    fs.listStatus(new Path(s"$dir/$relDir")).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
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
    retentionFloor(s, dir).foreach(f => require(
      v >= f || tags(s, dir).values.exists(_ == v),
      s"version $v is below the retention floor $f under $dir — " +
        "its data dirs may have been vacuumed; raise keepVersions " +
        "before vacuuming (or tag the version) if you need deeper " +
        "time travel"))
    readEntriesLive(s, dir, v, manifest(s, dir, v), partCol)
  }

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
    val files = man.map { case (_, rel) =>
      val st = fs.listStatus(new Path(dir, rel))
      st.count(f => f.getPath.getName.endsWith(".parquet"))
    }.sum
    val dvRefs = readDvRefs(s, dir, v)
    val uvRefs = readUvRefs(s, dir, v)
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
    val statsLines = readStatsLines(s, dir, v)
    def formCount(tag: String): Long = statsLines.count { l =>
      val parts = l.split('\t'); parts.length == 4 && parts(2) == tag
    }.toLong
    Seq((v, committed.size.toLong, man.size.toLong, files.toLong,
         dvRefs.size.toLong, dvRefs.values.map(_.size).sum.toLong,
         uvRefs.size.toLong, uvRefs.values.map(_.size).sum.toLong,
         retentionFloor(s, dir).getOrElse(1L),
         tags(s, dir).size.toLong, branchCount,
         readConstraintLines(s, dir, v).size.toLong,
         statsLines.size.toLong, formCount("dict"), formCount("bloom"),
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
    * bounded listing of `commits/` resolves it (the mtimes ride the
    * same listStatus the version listing uses). Caveats shared with
    * every table format's timestamp travel: the mapping is the store
    * clock's, not the writer's, and a marker resurrected by publish
    * step 4 (a repair raced the claim) carries the resurrection time —
    * ties and anomalies resolve to the HIGHEST qualifying version, so
    * the answer is always a real committed snapshot, at worst a
    * slightly newer one than a skewed clock implies. None if nothing
    * was committed at or before the instant. */
  def versionAsOf(s: SparkSession, dir: String,
                  tsMillis: Long): Option[Long] = {
    val fs = fsOf(s, dir)
    val c = new Path(dir, "commits")
    if (!fs.exists(c)) None
    else fs.listStatus(c).toSeq.flatMap { st =>
      scala.util.Try(st.getPath.getName.toLong).toOption
        .filter(_ => st.getModificationTime <= tsMillis)
    }.maxOption
  }

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
    * state rolls back WITH the data: the target version's stats and
    * applied-batch ledger (if any) are copied forward to the new
    * version, so zone-map pruning and exactly-once fold replay resume
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
    def copyTo(from: Path, side: String): Unit = {
      val in = fs.open(from)
      val bytes = try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
        bos.toByteArray
      } finally in.close()
      val out = createExclusive(
        fs, sidecarPathFor(dir, nv, Some(tok), side), side)
      try out.write(bytes) finally out.close()
    }
    // Stats describe exactly one manifest, so only the target version's
    // own sidecar may roll forward (a neighbor's bounds could wrongly
    // prune a partition whose data differs; missing stats merely skip
    // pruning — safe).
    committedSidecar(s, dir, toVersion, "stats").foreach(copyTo(_, "stats"))
    // DV refs are correctness state bound to exactly one manifest (the
    // stats rule, but load-bearing): the rollback target's own sidecar
    // rolls forward whole, so deleted rows stay deleted — and a target
    // that PRE-dates a MOR delete carries no sidecar, resurrecting the
    // rows exactly as the restored manifest implies.
    committedSidecar(s, dir, toVersion, "dv").foreach(copyTo(_, "dv"))
    committedSidecar(s, dir, toVersion, "uv").foreach(copyTo(_, "uv"))
    // The ledger is cumulative history and its READER
    // (IncrementalOps.appliedIds) walks back past ledgerless versions —
    // so the rollback must restore the same ledger that walk would have
    // found AT the target: the newest committed ledger at or below
    // toVersion. Copying only the exact-version sidecar (the previous
    // behavior) broke the fold → compact → fold → rollback-to-compact
    // composition: nothing copied, the newest ledger stayed the
    // post-rollback one, and the rolled-back batch re-fold silently
    // no-opped — the lost-batch defect class again. If NO ledger exists
    // at or below the target but some exists above, an empty ledger is
    // written at the rollback version to mask the newer ones.
    val committed = committedVersions(s, dir)
    // short-circuit: tables that never wrote a ledger (every plain merge
    // corpus) must not pay an O(versions) marker-read walk here
    val hasLedgerDir = fs.exists(new Path(dir, "ledger"))
    val ledgerAtOrBelow =
      if (!hasLedgerDir) None
      else committed.filter(_ <= toVersion).sorted.reverse
        .iterator.map(w => committedSidecar(s, dir, w, "ledger"))
        .collectFirst { case Some(p) => p }
    ledgerAtOrBelow match {
      case Some(from) => copyTo(from, "ledger")
      case None =>
        val anyAbove = hasLedgerDir &&
          committed.filter(w => w > toVersion && w <= v)
            .exists(w => committedSidecar(s, dir, w, "ledger").isDefined)
        if (anyAbove) {
          val out = createExclusive(
            fs, sidecarPathFor(dir, nv, Some(tok), "ledger"), "ledger")
          out.close()
        }
    }
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
    * window, not the table's lifetime commit count — with the one
    * exactly-once guard documented inline: the newest committed
    * applied-batch ledger is never deleted, even below the floor.
    * Bounded metadata work: one listing each of `data/`, `manifest/`,
    * `stats/`, `ledger/` plus `keepVersions` manifests.
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
      .map(_._2.split("/").take(2).mkString("/")).toSet
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
        .map(_._2.split("/").take(2).mkString("/"))
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
    val dvRoot = new Path(dir, "dvdata")
    val dvList = if (fs.exists(dvRoot)) fs.listStatus(dvRoot).toSeq else Nil
    val uvRoot = new Path(dir, "uvdata")
    val uvList = if (fs.exists(uvRoot)) fs.listStatus(uvRoot).toSeq else Nil
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
    // Tombstone-dir sweep, same keep rule keyed on the RETAINED versions'
    // DV sidecars: a dvdata dir some retained version still anti-joins by
    // must survive; one a compaction materialized away (no retained ref)
    // is reclaimable storage like any unreferenced stage dir. Live
    // branch heads' carried refs pin theirs too.
    val referencedDv = retained
      .flatMap(rv => readDvLines(s, dir, rv))
      .map(l => dvLineFields(l)._2).toSet ++
      branchHeads.flatMap { case (bd, bv) =>
        scala.util.Try(readDvLines(s, bd, bv)).toOption.getOrElse(Nil)
          .map(l => dvLineFields(l)._2)
      }
    dvList.foreach { st =>
      val name = st.getPath.getName
      val keep = stageDirVersion(name).forall(n =>
        n > cur || referencedDv.contains(s"dvdata/$name") ||
          pinned.contains(s"dvdata/$name"))
      if (!keep) { fs.delete(st.getPath, true); dataDeleted += 1 }
    }
    // update-vector image dirs: same keep rule as tombstone dirs
    val referencedUv = retained
      .flatMap(rv => readUvLines(s, dir, rv))
      .map(_.split('\t')(1)).toSet ++
      branchHeads.flatMap { case (bd, bv) =>
        scala.util.Try(readUvLines(s, bd, bv)).toOption.getOrElse(Nil)
          .map(_.split('\t')(1))
      }
    uvList.foreach { st =>
      val name = st.getPath.getName
      val keep = stageDirVersion(name).forall(n =>
        n > cur || referencedUv.contains(s"uvdata/$name") ||
          pinned.contains(s"uvdata/$name"))
      if (!keep) { fs.delete(st.getPath, true); dataDeleted += 1 }
    }
    // Metadata sweep below the floor: versions under the floor already
    // refuse to time-travel (their data may be gone), so their markers,
    // manifests, and sidecars are pure growth — at a streaming fold
    // cadence the commit log would otherwise accumulate forever. One
    // guard: the applied-batch ledger is CUMULATIVE state, and if the
    // newest committed ledger sits below the floor (every later commit
    // was ledgerless maintenance), deleting it would forget every
    // applied batch id — exactly-once replay would double-count. That
    // single version is retained whole (marker + sidecars) until a
    // later fold writes a newer ledger above the floor. Legacy
    // version-named sidecars are deleted here; tokenized ones fall to
    // the ghost sweep below once their marker is gone.
    val newestLedgerV =
      if (!fs.exists(new Path(dir, "ledger"))) None   // ledger-less table:
      else committed.sorted.reverse.find(w =>        // skip the O(versions)
        scala.util.Try(committedSidecar(s, dir, w, "ledger")).toOption
          .flatten.isDefined)                        // marker-read walk
    val ledgerKeep = newestLedgerV.filter(_ < floor)
    // same cumulative-metadata guard for the constraints sidecar: if the
    // newest committed constraint set sits below the floor (every later
    // commit was a plain write), sweeping it would silently UNCONSTRAIN
    // the table — that version is retained whole until a newer
    // add/dropConstraint commits above the floor
    val newestConstraintsV =
      if (!fs.exists(new Path(dir, "constraints"))) None
      else committed.sorted.reverse.find(w =>
        scala.util.Try(committedSidecar(s, dir, w, "constraints")).toOption
          .flatten.isDefined)
    val constraintsKeep = newestConstraintsV.filter(_ < floor)
    val swept = committed
      .filter(v => v < floor && !ledgerKeep.contains(v) &&
        !constraintsKeep.contains(v) && !tagged(v))
      .toSet
    swept.foreach { v =>
      Seq("manifest", "stats", "ledger", "dv", "uv", "constraints",
          "touch")
        .foreach(side => fs.delete(new Path(dir, s"$side/$v.txt"), false))
      // marker FIRST: a crash between the two deletes then leaves a
      // harmless orphaned winner file (invisible to committedVersions)
      // instead of a committed-but-unresolvable torn state
      fs.delete(new Path(dir, s"commits/$v"), false)
      fs.delete(winnerPath(dir, v), false)
    }
    val survivors = committed.filterNot(swept)
    // Ghost-sidecar sweep: a losing or crashed attempt's tokenized
    // manifest/stats/ledger files at versions current has passed are
    // inert (the marker binds each committed version to its winner's
    // token) — reclaim them so the metadata dirs stay bounded by the
    // commit count, not the attempt count. Conservative by design:
    // only `<v>_<token>.txt` files whose token is NOT the committed
    // winner's are touched (legacy version-named files and anything at
    // a version a live writer could still claim are left alone), and a
    // torn marker keeps its version's files in place.
    val tokenOf = survivors.map(cv => cv ->
      scala.util.Try(committedToken(s, dir, cv)).toOption.flatten).toMap
    Seq("manifest", "stats", "ledger", "dv", "uv", "constraints",
        "touch")
      .foreach { side =>
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
  * lazy-val init). This is what keeps [[Versioned.readStatsBloom]]'s
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

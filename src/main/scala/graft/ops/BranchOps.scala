package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Versioned

/** BRANCHES for the versioned store — the write-audit-publish pattern
  * (Iceberg branches / LakeFS, at this store's granularity): fork a
  * named branch off main's current version METADATA-ONLY, land risky
  * writes on the branch (main readers never see them), audit the
  * branch content, and atomically land the branch head on main through
  * the same OCC claim every writer uses — or drop the branch and
  * nothing ever happened.
  *
  * Layout: a branch is its own commit tree under
  * `root/branches/<name>/` (commits/, manifest/, stats/, dv/ — the
  * [[Versioned]] protocol verbatim, so claims, winner bindings, and
  * torn-state repair all work unchanged), while its DATA stages under
  * the ROOT's `data/` as `b_<name>_<bv>_<token>` dirs — manifest
  * entries stay root-relative, which is what makes publish a pure
  * metadata copy. [[Versioned.vacuum]] pins every live branch head's
  * referenced dirs (and all `b_<name>_*` stages of live branches,
  * in-flight ones included); dropping the branch releases them to the
  * next vacuum.
  *
  * Every branch commit — the fork, each upsert, the publish — is one
  * [[MergeOps.commit]]: the kernel stages, derives and carries the
  * sidecar lines, declares the touch set, publishes and rebases. This
  * object decides only what is a branch's own: the fork claim
  * (`fork.txt`), the stage naming vacuum keys on, the WAP audit (main's
  * persisted CHECK constraints validated on the branch's changed
  * partitions before anything lands — the gate lives in the engine,
  * not in caller discipline) and the messages a branch user reads. */
object BranchOps {

  private def bdir(root: String, name: String) = s"$root/branches/$name"

  private def fsOf(s: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def requireName(name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '-'),
      s"branch name '$name' must be [A-Za-z0-9.-]+ (no underscore — it " +
        "delimits the branch's staged-dir names)")

  /** The stage a commit at branch version `v` writes under the root. */
  private def stageName(name: String)(v: Long, tok: String): String =
    s"data/b_${name}_${v}_$tok"

  /** The branch's current version: its head. */
  private def headVersion(s: SparkSession, root: String,
                          name: String): Long =
    Versioned.currentVersion(s, bdir(root, name)).getOrElse(
      throw new IllegalStateException(s"no branch '$name' under $root"))

  /** Fork `name` off main's CURRENT version — metadata only: branch v1
    * is one kernel commit of main's manifest, stats, dv and uv lines
    * verbatim, declaring no touch set (zero data movement at any table
    * size). The fork version is recorded write-once (`fork.txt`, also
    * the claim that makes racing creates lose loudly). */
  def createBranch(s: SparkSession, root: String, name: String): Unit = {
    requireName(name)
    val v = Versioned.currentVersion(s, root).getOrElse(
      throw new IllegalStateException(
        s"no committed version under $root — nothing to branch from"))
    val fs = fsOf(s, root)
    val forkP = new org.apache.hadoop.fs.Path(bdir(root, name), "fork.txt")
    fs.mkdirs(forkP.getParent)
    val out =
      try fs.create(forkP, false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"branch '$name' already exists under $root (or its fork " +
              "record is claimed) — drop it first", e)
      }
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
    def lines(side: String) = Versioned.sidecarLines(s, root, v, side)
    MergeOps.commit(s, bdir(root, name), None, Nil,
      prestaged = Versioned.manifest(s, root, v), stats = MergeOps.CarryNone,
      freshLines = lines(Versioned.Stats), newDv = lines(Versioned.Dv),
      newUv = _ => lines(Versioned.Uv), declareTouch = false)
  }

  /** The main version `name` forked from. */
  def forkVersion(s: SparkSession, root: String, name: String): Long = {
    val fs = fsOf(s, root)
    val p = new org.apache.hadoop.fs.Path(bdir(root, name), "fork.txt")
    require(fs.exists(p), s"no branch '$name' under $root")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
    finally in.close()
  }

  /** Live branch names under the root. */
  def branches(s: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(s, root)
    val p = new org.apache.hadoop.fs.Path(root, "branches")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  /** Read the branch head — the branch's own manifest and dv refs,
    * data resolved against the ROOT (where both fork-inherited and
    * branch-staged dirs live). */
  def readBranch(s: SparkSession, root: String, name: String,
                 partCol: String): DataFrame = {
    val bd = bdir(root, name)
    val bv = Versioned.currentVersion(s, bd).getOrElse(
      throw new IllegalStateException(
        s"branch '$name' under $root has no committed version — a " +
          "crashed create; drop and re-create it"))
    val man = Versioned.manifest(s, bd, bv)
    Versioned.readEntriesLive(s, bd, bv, man, man, Some(partCol),
      dataDir = Some(root))
  }

  /** Upsert `batch` into the BRANCH: [[MergeOps.mergeUpsert]]'s merge on
    * the branch's own version chain (metadata under the branch, data
    * under the root) — the same restage, foreign-layout key probe and
    * touch declaration; main readers never see it. Main's persisted
    * constraints are deliberately NOT enforced here (the branch chain
    * has no `constraints` sidecar): a branch may hold dirty
    * intermediate state — the gate is [[publishBranch]]'s audit. */
  def branchUpsert(s: SparkSession, root: String, name: String,
                   batch: DataFrame, keyCol: String,
                   partCol: String): Unit =
    MergeOps.mergeUpsertImpl(s, bdir(root, name),
      Some(headVersion(s, root, name)), batch, keyCol, partCol,
      statsKeys = Nil, ledgerId = None, dictKeys = Nil, constraints = Nil,
      bloomKeys = Nil, dataDir = Some(root), stageName = stageName(name))

  /** Atomically land the branch's work on main: one kernel commit of
    * the branch head's entries for its CHANGE SET (diffed against the
    * FORK state, which branch v1 carries even after main's retention
    * sweeps it), derived from main's CURRENT version with the branch
    * head's stats, dv and uv lines for those partitions. A branch that
    * never diverged lands nothing. Two shapes:
    *
    *  - main still at the fork version → FAST-FORWARD: the publish
    *    commit is the branch head verbatim.
    *  - main ADVANCED, but every commit since the fork DECLARES a
    *    touched set ([[Versioned.Touch]]) disjoint from the change set
    *    → the kernel's REBASE ([[MergeOps.commit]] with `since` the
    *    fork, checked before the first attempt): main-current's entries
    *    and lines for the partitions the branch never changed, the
    *    branch head's for the ones it did — exact by the same
    *    partition-locality argument as the upsert rebase. A version a
    *    vacuum swept passes only if the branch's partitions read on
    *    main as they did at the fork (branch v1). Overlap or an
    *    undeclared commit refuses loudly: [[rebaseBranch]].
    *
    * AUDITS first: main's persisted CHECK constraints are validated on
    * the branch's changed partitions only (the feed pruning rule). The
    * publish commit DECLARES the change set as its touch set, so
    * disjoint upserts rebase across a publish like any other declared
    * commit. The branch is left in place (drop it when done). */
  def publishBranch(s: SparkSession, root: String, name: String): Unit = {
    val bd = bdir(root, name)
    val bv = headVersion(s, root, name)
    val forkV = forkVersion(s, root, name)
    // the branch's OWN change set, diffed against the FORK state —
    // branch v1 is the fork's manifest/sidecar copy, so this needs no
    // main metadata below the floor
    val (_, head, changed) = Versioned.changedParts(s, bd, Some(1L), bv)
    // a branch that never diverged has nothing to land: publishing an
    // identical-content version would be churn, not work
    if (changed.isEmpty) return
    // the WAP audit: main's table contract must hold on what lands —
    // validated on the CHANGED partitions only (the feed pruning rule)
    val mainCur = Versioned.currentVersion(s, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val cs = MergeOps.tableConstraints(s, root, mainCur)
    val changedEntries = head.filter(e => changed(e._1))
    if (cs.nonEmpty && changedEntries.nonEmpty)
      MergeOps.checkConstraints(
        Versioned.readEntriesLive(s, bd, bv, head, changedEntries,
          Versioned.partColOf(changedEntries), dataDir = Some(root)),
        cs.map { case (n, e) => (n, expr(e)) },
        what = s"publish of branch '$name' (audit)")
    def lines(side: String) = Versioned.sidecarLines(s, bd, bv, side)
      .filter(l => changed(Versioned.statsLinePart(l)))
    MergeOps.commit(s, root, Some(mainCur),
      Versioned.manifest(s, root, mainCur), prestaged = changedEntries, replaced = changed,
      stats = MergeOps.CarryUnchanged, freshLines = lines(Versioned.Stats),
      newDv = lines(Versioned.Dv), newUv = _ => lines(Versioned.Uv),
      rebase = true, since = Some(forkV), sinceState = Some((bd, 1L)),
      refusal = Some(cur => new IllegalArgumentException(
        s"main advanced past branch '$name''s fork ($forkV -> $cur) " +
          s"under $root with commits touching the branch's own " +
          "partitions (or not declaring their touch set) — rebaseBranch " +
          "replays its work onto a fresh fork from current (or " +
          "re-create and re-apply by hand)")))
  }

  /** Recover from a REFUSED publish without hand-work: re-fork from
    * main's CURRENT version and replay the branch's own committed
    * writes onto the new fork, leaving the old branch untouched for
    * forensics. Returns the new branch's name (`<name>.r<mainCur>`);
    * audit/publish/drop it like any branch.
    *
    * What "replay" means here: branches take writes only through
    * [[branchUpsert]] (whole-partition restages with per-key replace),
    * so the branch's committed operations compose to exactly its NET
    * ROW DIFF against the fork state — the rows whose image the branch
    * created or changed, which branch v1 (the fork copy) makes
    * computable without any main metadata below the floor. Replaying
    * that diff as one upsert onto the new fork gives the rebase
    * semantic: main's intervening changes survive wherever the branch
    * didn't write, and the branch's writes win on the keys it DID
    * write — the same last-writer-wins rule a re-fork-and-re-apply by
    * hand would produce. Content-level replay is exact because branch
    * writers cannot delete keys; a future branch-delete op would need
    * the diff to carry deletes too ([[MergeOps.changeFeed]]'s shape).
    * The old branch's head stays readable until dropped — the
    * forensics contract. Timing: the diff READS the fork-state rows,
    * and vacuum retention-protects only branch HEADS — rebase promptly
    * after a refusal; a fork state an aggressive vacuum already swept
    * surfaces as a loud missing-file read, never silent data. */
  def rebaseBranch(s: SparkSession, root: String, name: String,
                   keyCol: String, partCol: String): String = {
    val bd = bdir(root, name)
    val bv = headVersion(s, root, name)
    val (forkMan, headMan, changed) =
      Versioned.changedParts(s, bd, Some(1L), bv)
    require(changed.nonEmpty,
      s"branch '$name' under $root never diverged — nothing to rebase; " +
        "drop it and re-fork")
    val headRows = Versioned.readEntriesLive(s, bd, bv, headMan,
      headMan.filter(e => changed(e._1)), Some(partCol),
      dataDir = Some(root))
    val forkEntries = forkMan.toMap.toSeq.filter(e => changed(e._1))
    val cols = headRows.columns.toSeq
    val forkAligned =
      if (forkEntries.isEmpty) headRows.limit(0)
      else {
        val f = Versioned.readEntriesLive(s, bd, 1L, forkMan, forkEntries,
          Some(partCol), dataDir = Some(root))
        f.select(cols.map { c =>
          if (f.columns.contains(c)) col(c)
          else lit(null).cast(headRows.schema(c).dataType).as(c)
        }: _*)
      }
    // the net diff: head rows whose full image the fork state lacks
    val h = headRows.select(col(keyCol).as("__k"),
      struct(cols.map(col): _*).as("__r"))
    val f = forkAligned.select(col(keyCol).as("__fk"),
      struct(cols.map(col): _*).as("__fr"))
    val diff = h.join(f, h("__k") === f("__fk"), "left_outer")
      .where(!(col("__r") <=> col("__fr")))
      .select(col("__r.*"))
    val mainCur = Versioned.currentVersion(s, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val newName = s"$name.r$mainCur"
    createBranch(s, root, newName)
    branchUpsert(s, root, newName, diff, keyCol, partCol)
    newName
  }

  /** Delete the branch's metadata tree; its staged dirs become
    * unreferenced (unless a publish carried them into main) and the
    * next [[Versioned.vacuum]] reclaims them. */
  def dropBranch(s: SparkSession, root: String, name: String): Unit = {
    requireName(name)
    fsOf(s, root).delete(
      new org.apache.hadoop.fs.Path(bdir(root, name)), true)
  }
}

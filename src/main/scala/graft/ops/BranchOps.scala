package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables._
import graft.engine.Versioned

/** BRANCHES for the versioned store — the write-audit-publish pattern
  * (Iceberg branches / LakeFS, at this store's granularity): fork a
  * named branch off main's current version METADATA-ONLY, land risky
  * writes on the branch (main readers never see them), audit the
  * branch content, and atomically FAST-FORWARD main to the branch head
  * through the same OCC claim every writer uses — or drop the branch
  * and nothing ever happened.
  *
  * Layout: a branch is its own commit tree under
  * `root/branches/<name>/` (commits/, manifest/, stats/, dv/ — the
  * [[Versioned]] protocol verbatim, so claims, winner bindings, and
  * torn-state repair all work unchanged), while its DATA stages under
  * the ROOT's `data/` as `b_<name>_<bv>_<token>` dirs — manifest
  * entries stay root-relative, which is what makes publish a pure
  * metadata copy. The fork commit (branch v1) duplicates main's
  * manifest/stats/dv lines verbatim: zero data movement at any table
  * size. [[Versioned.vacuum]] pins every live branch head's referenced
  * dirs (and all `b_<name>_*` stages of live branches, in-flight ones
  * included); dropping the branch releases them to the next vacuum.
  *
  * Publish contract: main must still be at the fork version — branches
  * are for AUDITING a batch of work, not for long-lived divergence; if
  * main advanced, re-fork and re-apply (a publish-time rebase is the
  * upsert path's job, not the branch's). The publish also AUDITS
  * automatically: main's persisted CHECK constraints are validated on
  * the branch's changed partitions before the fast-forward — the WAP
  * gate lives in the engine, not in caller discipline. */
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

  /** Fork `name` off main's CURRENT version — metadata only. Branch v1
    * duplicates main's manifest, stats, and dv sidecars verbatim; the
    * fork version is recorded write-once (`fork.txt`, also the claim
    * that makes racing creates lose loudly). */
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
    val bd = bdir(root, name)
    val tok = Versioned.newToken()
    Versioned.copyPartitionSidecars(s, root, v, bd, 1L, tok)
    Versioned.publish(s, bd, 1L, tok, Versioned.manifest(s, root, v))
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
    Versioned.readEntriesLive(s, bd, bv, Versioned.manifest(s, bd, bv),
      Some(partCol), dataDir = Some(root))
  }

  /** Upsert `batch` into the BRANCH — [[MergeOps.mergeUpsert]]'s exact
    * restage semantics (stable key→partition precondition included),
    * committed on the branch's own version chain; main readers never
    * see it. Main's persisted constraints are deliberately NOT enforced
    * here: a branch may hold dirty intermediate state — the gate is
    * [[publishBranch]]'s audit. Stats lines for touched partitions
    * drop (the changelog rule); untouched lines carry. */
  def branchUpsert(s: SparkSession, root: String, name: String,
                   batch: DataFrame, keyCol: String,
                   partCol: String): Unit = {
    val bd = bdir(root, name)
    val bv = Versioned.currentVersion(s, bd).getOrElse(
      throw new IllegalStateException(s"no branch '$name' under $root"))
    val man = Versioned.manifest(s, bd, bv)
    val batchNames = batch.select(partCol).distinct().collect()
      .map(r => Versioned.partDirName(partCol, r.get(0))).toSet
    if (batchNames.isEmpty) return
    // the entries the batch's values name (partition identity: a value
    // 7 names `p=007`), each restaged under its own name
    val oldEntries = Versioned.entriesNamed(man, batchNames)
    val touchedNames = batchNames ++ oldEntries.map(_._1)
    val merged =
      if (oldEntries.isEmpty) batch
      else MergeOps.upserted(Versioned.readEntriesLive(s, bd, bv,
          oldEntries, Some(partCol), dataDir = Some(root),
          perScan = Versioned.withEntry), oldEntries, partCol, keyCol,
        batch, batch.select(col(keyCol)))
    val nbv = bv + 1
    val tok = Versioned.newToken()
    val stageRel = s"data/b_${name}_${nbv}_$tok"
    merged.sortWithinPartitions(col(partCol), col(keyCol))
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(s"$root/$stageRel")
    val staged = Versioned.listStagedPartDirs(s, root, stageRel, partCol)
    val stagedNames = staged.map(_._1).toSet
    Versioned.copyPartitionSidecars(s, bd, bv, bd, nbv, tok,
      keep = n => !touchedNames(n))
    Versioned.publish(s, bd, nbv, tok,
      man.filterNot(e =>
        touchedNames.contains(e._1) || stagedNames.contains(e._1)) ++ staged)
  }

  /** Atomically land the branch's work on main. Two shapes:
    *
    *  - main still at the fork version → FAST-FORWARD: the publish
    *    commit is the branch head verbatim.
    *  - main ADVANCED, but every intervening commit DECLARES a touched
    *    set ([[Versioned.Touch]]) disjoint from the branch's own
    *    CHANGE SET (diffed against the FORK state, which branch v1
    *    carries even after main's retention sweeps it) → REBASE: the
    *    publish takes main-current's entries/sidecar-lines for the
    *    partitions the branch never changed and the branch head's for
    *    the ones it did — exact by the same partition-locality argument
    *    as the upsert rebase (disjoint intervening commits cannot have
    *    changed what the branch's partitions contained at the fork).
    *    Overlap or an undeclared commit still refuses loudly: re-fork.
    *
    * AUDITS first: main's persisted CHECK constraints are validated on
    * the branch's changed partitions only (the feed pruning rule). The
    * publish commit DECLARES the changed set as its touch declaration,
    * so disjoint upserts rebase across a publish like any other
    * declared commit; it retries through fresh rebases (bounded) when
    * racing writers land mid-publish. The branch is left in place
    * (drop it when done). */
  def publishBranch(s: SparkSession, root: String, name: String): Unit = {
    val bd = bdir(root, name)
    val bv = Versioned.currentVersion(s, bd).getOrElse(
      throw new IllegalStateException(s"no branch '$name' under $root"))
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
    val mainCur0 = Versioned.currentVersion(s, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val cs = MergeOps.tableConstraints(s, root, mainCur0)
    if (cs.nonEmpty && changed.nonEmpty) {
      val changedEntries = head.filter(e => changed(e._1))
      if (changedEntries.nonEmpty) {
        val live = Versioned.readEntriesLive(s, bd, bv, changedEntries,
          Versioned.partColOf(changedEntries), dataDir = Some(root))
        MergeOps.checkConstraints(live,
          cs.map { case (n, e) => (n, expr(e)) },
          what = s"publish of branch '$name' (audit)")
      }
    }
    var attempts = 0
    while (true) {
      attempts += 1
      val mainCur = Versioned.currentVersion(s, root).getOrElse(
        throw new IllegalStateException(
          s"no committed version under $root"))
      if (mainCur != forkV) {
        val intervening = Versioned.committedVersions(s, root)
          .filter(w => w > forkV && w <= mainCur)
        val disjoint = intervening.forall { w =>
          scala.util.Try(Versioned.committedLines(s, root, w,
            Versioned.Touch)).toOption.flatten
            .exists(!_.exists(changed))
        }
        require(disjoint,
          s"main advanced past branch '$name''s fork ($forkV -> " +
            s"$mainCur) under $root with commits touching the branch's " +
            "own partitions (or not declaring their touch set) — " +
            "rebaseBranch replays its work onto a fresh fork from " +
            "current (or re-create and re-apply by hand)")
      }
      val nv = mainCur + 1
      val tok = Versioned.newToken()
      // rebase-merge of metadata: main-current for unchanged
      // partitions, branch head for changed ones (for a pure
      // fast-forward mainCur == forkV and this IS the branch head)
      Versioned.PartitionKeyed.foreach { side =>
        val lines = (Versioned.sidecarLines(s, root, mainCur, side)
          .filterNot(l => changed(Versioned.statsLinePart(l))) ++
          Versioned.sidecarLines(s, bd, bv, side)
            .filter(l => changed(Versioned.statsLinePart(l)))).sorted
        if (lines.nonEmpty)
          Versioned.writeSidecar(s, root, nv, tok, side, lines)
      }
      Versioned.writeSidecar(s, root, nv, tok, Versioned.Touch,
        changed.toSeq.sorted)
      val newMan = Versioned.manifest(s, root, mainCur)
        .filterNot(e => changed(e._1)) ++ head.filter(e => changed(e._1))
      try {
        Versioned.publish(s, root, nv, tok, newMan)
        return
      } catch {
        case e: graft.engine.ConcurrentCommitException =>
          if (attempts >= 5) throw e
          // a racer landed mid-publish: loop — the disjointness check
          // re-runs against the new intervening set
      }
    }
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
    val bv = Versioned.currentVersion(s, bd).getOrElse(
      throw new IllegalStateException(s"no branch '$name' under $root"))
    val (forkMan, headMan, changed) =
      Versioned.changedParts(s, bd, Some(1L), bv)
    require(changed.nonEmpty,
      s"branch '$name' under $root never diverged — nothing to rebase; " +
        "drop it and re-fork")
    val headRows = Versioned.readEntriesLive(s, bd, bv,
      headMan.filter(e => changed(e._1)), Some(partCol),
      dataDir = Some(root))
    val forkEntries = forkMan.toMap.toSeq.filter(e => changed(e._1))
    val cols = headRows.columns.toSeq
    val forkAligned =
      if (forkEntries.isEmpty) headRows.limit(0)
      else {
        val f = Versioned.readEntriesLive(s, bd, 1L, forkEntries,
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

package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables._
import graft.engine.Versioned

/** Batch MERGE/upsert into a partitioned parquet corpus — the write-side
  * operator every incremental pipeline needs on day one: fold a new crawl
  * batch into the standing corpus, replacing rows whose key already
  * exists and appending the rest, while rewriting ONLY the partitions the
  * batch touches.
  *
  * Both merges commit through [[graft.engine.Versioned]]'s
  * write-audit-publish protocol: the merged partitions are STAGED under a
  * new version dir, a manifest is written, and an empty commit marker
  * makes the version visible — a crash anywhere before the marker leaves
  * readers on the previous version in full (kill-tested in
  * AtomicCommitSpec). This also removes the round-7 localCheckpoint: the
  * writer never overwrites a directory it is reading, so there is no
  * read-your-own-write hazard to cut lineage around.
  *
  * Scale shape: the touched-partition values are a `distinct().collect()`
  * of the PARTITION column only (bounded by the partition count — the
  * same driver-side list Spark's own dynamic-partition-overwrite commit
  * builds; never row data). The corpus read is manifest-pruned to those
  * values, the anti-join keeps surviving old rows, and untouched
  * partitions keep their manifest entries pointing at older version dirs
  * — never opened, never rewritten. Cost per merge ∝ touched-partition
  * bytes + batch bytes, independent of corpus size. Idempotent by
  * construction: re-merging the same batch anti-joins away exactly the
  * rows it would re-insert. */
object MergeOps {

  /** Cap on the exact-key probe a MIXED-LAYOUT upsert sends against
    * foreign entries' dictionary/bloom sidecars: up to this many
    * distinct batch keys collect to the driver (one bounded job, run
    * only when the manifest holds foreign-layout entries); a larger
    * batch falls back to the key-RANGE tier alone. */
  private[graft] val MixedLayoutProbeCap = 10000

  /** Per-FILE cap on recorded deletion-vector row positions
    * ([[mergeDeleteMor]]): under it, the file's doomed rows are named
    * exactly and the read applies a positional filter; over it, the
    * file keeps the per-file key anti-join (a dense delete is headed
    * for compaction anyway, and an unbounded position list would make
    * the sidecar the thing it exists to avoid — data-sized). */
  private val DvPosCap = 4096

  /** DENSITY guard on the positional tier (round 16): positions are
    * recorded for a hit file only when its doomed rows are SPARSE —
    * at most max(DvPosFloor, DvPosDensity × file rows). A dense hit
    * (the hash-spread 10% delete in
    * [[graft.queries.StoreQueries.mergeZorderCompactQuery]]'s lifecycle) skips no file on read — every file is tainted — so
    * the positional filter buys nothing over the scope anti-join
    * while costing a large literal collection per file in every
    * read plan plus sidecar parse time (the round-15 regression:
    * that lifecycle's compact tripled). The absolute floor keeps
    * genuinely small hits positional even in small files (one GDPR
    * key in a 10-row file is still a sparse delete). */
  private val DvPosDensity = 0.05
  private val DvPosFloor = 64L

  /** Scope scan shared by the MOR delete and update writers
    * ([[mergeDeleteMor]], [[mergeUpdateMor]]): one bounded pass over
    * `bearing`'s base dirs finds every data file holding at least one
    * of `keys`' key values and, ONLY where the positional tier can pay
    * (hits ≤ [[DvPosCap]] and hits ≤ max([[DvPosFloor]],
    * [[DvPosDensity]] × file rows)), the exact doomed row positions.
    * TWO passes so the aggregation state is bounded by construction
    * (the round-15 single pass collect_list'd every file's full
    * position list into the executor buffer before slicing — an OOM
    * risk on a dense delete over a large file): pass 1 counts rows and
    * hits per file (two longs per group, map-side combined); pass 2
    * collects positions for the QUALIFYING files alone, reading only
    * those files, each group ≤ the cap by pass-1 qualification.
    * Returns one (file path, positions) per hit file — positions empty
    * when the file stays at the scope tier — or None when a foreign
    * layout's files predate keyCol (column evolution: the caller
    * publishes unscoped lines, the always-correct fallback); a version
    * dir of the current layout that predates keyCol reads it as null
    * ([[Versioned.scanEntries]]) and so holds no hit. */
  private def scanHitScopes(s: SparkSession, corpusDir: String,
                            man: Seq[(String, String)], partCol: String,
                            bearing: Seq[(String, String)],
                            keyCol: String, keys: DataFrame)
      : Option[Seq[(String, Seq[Long])]] = {
    if (bearing.isEmpty) return Some(Seq.empty)
    // the key and each row's file and position, selected per scan (a
    // foreign layout's scan without keyCol fails analysis here)
    def baseRead(listed: Seq[((String, String), (Path, Seq[FileStatus]))]) =
      Versioned.scanEntries(s, man, listed, Some(partCol), _.select(
        col(keyCol),
        col("_metadata.file_path").as("__mor_f"),
        col("_metadata.row_index").as("__mor_i")))
    // one driver listing per bearing entry; pass 2 reads a subset of the
    // same files
    val listed = bearing
      .zip(Versioned.listLeaves(s, bearing.map(e => s"$corpusDir/${e._2}")))
    val k = keys.select(col(keyCol)).distinct()
    try {
      val counts = baseRead(listed)
        .join(k.withColumn("__mor_hit", lit(1)), Seq(keyCol), "left")
        .groupBy(col("__mor_f"))
        .agg(count(lit(1)).as("__rows"),
             count(col("__mor_hit")).as("__hits"))
        .where(col("__hits") > 0)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val sparse = counts.filter { case (_, rows, hits) =>
        hits <= DvPosCap &&
          hits <= math.max(DvPosFloor, (DvPosDensity * rows).toLong)
      }.map(_._1).toSet
      // `_metadata.file_path` is the file's URI string
      val sparsePaths = sparse.map(p => new Path(new java.net.URI(p)))
      val posByFile: Map[String, Seq[Long]] =
        if (sparse.isEmpty) Map.empty
        else baseRead(listed.map { case (e, (root, files)) =>
            e -> (root, files.filter(f => sparsePaths(f.getPath))) })
          .join(k, Seq(keyCol), "left_semi")
          .groupBy(col("__mor_f"))
          .agg(sort_array(collect_list(col("__mor_i"))).as("__ps"))
          .collect()
          .map(r => (r.getString(0), r.getSeq[Long](1))).toMap
      Some(counts.map { case (p, _, _) =>
        (p, posByFile.getOrElse(p, Seq.empty)) })
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** The HOLDER entries of a MOR write ([[mergeDeleteMor]],
    * [[mergeUpdateMor]]) whose rows `keys` shadow, each with the files
    * it holds them in and their positions ([[scanHitScopes]]; a file
    * with no positions stays at the scope tier). Candidates: the
    * entries the `touched` names name ([[Versioned.entriesNamed]]) and
    * every FOREIGN-layout entry (value pruning cannot see into an older
    * spec's dirs). A hit file belongs to the entry whose dir holds it
    * ([[Versioned.entryOf]]), recorded under its verDir-qualified path
    * (`<entry relpath>/<leaf>`): a same-named file in another version
    * dir never takes its positions. When the scan cannot answer (a
    * foreign layout whose files predate keyCol), every candidate is a
    * holder with no files: unscoped lines, always correct. */
  private def morHolders(s: SparkSession, corpusDir: String,
                         man: Seq[(String, String)], partCol: String,
                         touched: Seq[String], keyCol: String,
                         keys: DataFrame)
      : Map[String, Seq[(String, Seq[Long])]] = {
    val bearing = Versioned.entriesNamed(man, touched) ++
      man.filterNot(_._1.startsWith(s"$partCol="))
    scanHitScopes(s, corpusDir, man, partCol, bearing, keyCol, keys) match {
      case None => bearing.map(_._1 -> Seq.empty[(String, Seq[Long])]).toMap
      case Some(hits) =>
        val holderOf = Versioned.entryOf(bearing)
        hits.flatMap { case (uri, ps) =>
          holderOf(Versioned.entryTag(uri)).map { e =>
            e._1 -> (s"${e._2}/${new Path(new java.net.URI(uri)).getName}",
              ps)
          }
        }
        .groupBy(_._1)
        .map { case (n, fs) => n -> fs.map(_._2).sortBy(_._1) }
    }
  }

  /** Write-side CHECK constraints (Delta's `ADD CONSTRAINT` at merge
    * time): ONE aggregate pass over the batch counts violations of
    * every named predicate, and any violation fails the write loudly —
    * per-constraint counts in the message — BEFORE a byte stages, so a
    * bad batch can never become a committed version some reader then
    * trusts. SQL CHECK semantics: a row where the predicate evaluates
    * NULL passes (violation = definitively FALSE), matching every SQL
    * engine's three-valued CHECK rule. Cost: one codegen'd conditional
    * aggregate over the batch only — never the corpus.
    *
    * PRECONDITION (per-call constraints): the check runs on the batch
    * PLAN, and the stage re-evaluates that plan — a non-deterministic
    * batch (rand(), current_timestamp, a re-read of mutable input) can
    * stage rows the check never saw. Per-call constraints are therefore
    * batch-scoped fast-fail sugar for deterministic batches; the
    * airtight table-level contract is [[addConstraint]], whose
    * persisted set is ALSO validated on the staged files' read-back
    * ([[validateStaged]]) — the rows that actually land. */
  def checkConstraints(batch: DataFrame,
                       constraints: Seq[(String, Column)],
                       what: String = "batch"): Unit = {
    if (constraints.isEmpty) return
    val aggs = constraints.map { case (n, c) =>
      sum(when(coalesce(c, lit(true)) === false, 1L).otherwise(0L)).as(n)
    }
    val r = batch.agg(aggs.head, aggs.tail: _*).head()
    val bad = constraints.zipWithIndex.flatMap { case ((n, _), i) =>
      val cnt = if (r.isNullAt(i)) 0L else r.getLong(i)
      if (cnt > 0) Some(s"'$n' ($cnt rows)") else None
    }
    require(bad.isEmpty,
      s"$what rejected — CHECK constraint violations: " +
        bad.mkString(", ") + "; nothing was committed")
  }

  /** The PERSISTED constraint set in force at version `v` — (name,
    * sql-expr) pairs from the newest committed `constraints` sidecar at
    * or below `v` ([[Versioned.Constraints]]). Empty for tables
    * that never ran [[addConstraint]] — the zero-cost fast path every
    * unconstrained write takes (one directory-existence probe). */
  def tableConstraints(s: SparkSession, corpusDir: String,
                       v: Long): Seq[(String, String)] =
    Versioned.cumulativeLines(s, corpusDir, v, Versioned.Constraints)
      .map { line =>
        val i = line.indexOf('\t')
        (line.substring(0, i), line.substring(i + 1))
      }

  /** Parse the persisted set into enforceable columns, first requiring
    * every referenced column to exist in the write's schema — a LOUD
    * schema/contract mismatch beats Spark's generic unresolved-column
    * error deep inside an aggregate (and beats the silent alternative:
    * a batch-authoritative restage DROPS columns the batch lacks, so a
    * write missing a constrained column would destroy the evidence the
    * constraint checks). */
  private def persistedConstraintCols(cs: Seq[(String, String)],
                                      writeCols: Seq[String])
      : Seq[(String, Column)] =
    cs.map { case (n, e) =>
      val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }.distinct
      // Spark resolves columns case-insensitively by default
      // (spark.sql.caseSensitive=false), so the existence check must
      // match that resolution: a constraint written as O_TOTALPRICE > 0
      // against a column named o_totalprice enforces fine and must not
      // be rejected here as "missing".
      val caseSensitive = org.apache.spark.sql.SparkSession.active
        .sessionState.conf.caseSensitiveAnalysis
      def norm(c: String): String =
        if (caseSensitive) c else c.toLowerCase(java.util.Locale.ROOT)
      val writeSet = writeCols.map(norm).toSet
      val missing = refs.filterNot(r => writeSet.contains(norm(r)))
      require(missing.isEmpty,
        s"persisted CHECK constraint '$n' ($e) references " +
          s"[${missing.mkString(", ")}] absent from the write's schema " +
          s"[${writeCols.mkString(", ")}] — a batch-authoritative merge " +
          "would drop the constrained column; evolve the constraint " +
          "(dropConstraint) or carry the column")
      (n, expr(e))
    }

  /** ADD CONSTRAINT (Delta's table-level CHECK, on this store's commit
    * log): validate the EXISTING corpus against the new predicate (a
    * constraint must be true of the data it starts guarding — the Delta
    * rule), then commit the grown constraint set as a manifest-carry
    * version. From that version on EVERY writer — plain upserts,
    * changelog applies, predicate updates, writers passed no
    * per-call constraints at all — loads and enforces the set
    * automatically: the contract lives with the table, not with
    * whichever caller remembered to pass it (the round-11 advice hole).
    * Publishes through the same OCC claim as every writer, so a racing
    * write either sees the constraint (it derived from the new version)
    * or makes this add lose and retry. */
  def addConstraint(s: SparkSession, corpusDir: String, name: String,
                    exprSql: String, partCol: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"constraint name '$name' must be [A-Za-z0-9._-]+")
    require(!exprSql.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "constraint expression must be a single line without tabs")
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(
      throw new IllegalStateException(
        s"no committed version under $corpusDir — create the corpus " +
          "before constraining it"))
    val existing = tableConstraints(s, corpusDir, v)
    require(!existing.exists(_._1 == name),
      s"constraint '$name' already exists on $corpusDir — drop it first " +
        "to redefine")
    checkConstraints(
      Versioned.readVersion(s, corpusDir, v, Some(partCol)),
      Seq((name, expr(exprSql))), what = s"ADD CONSTRAINT on existing data")
    commitMetadata(s, corpusDir, v, Versioned.Constraints,
      (existing :+ (name, exprSql)).map { case (n, e) => s"$n\t$e" })
  }

  /** SET TBLPROPERTIES: merge `props` into the table's persisted
    * property set ([[graft.engine.Versioned.tableProps]]) in one
    * manifest-carry commit — the [[addConstraint]] shape, OCC claim
    * included, so a racing writer either sees the new set (it derived
    * from the new version) or makes this set lose and retry. Keys and
    * values must be single-line, tab-free (the sidecar line format).
    * The store interprets `keyCol` (the merge key — the SQL INSERT
    * door and the plain-table stream read it); everything else is
    * caller-owned annotation. */
  def setTableProperties(s: SparkSession, corpusDir: String,
                         props: Map[String, String]): Unit = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
    props.foreach { case (k, vv) =>
      require(k.nonEmpty && !k.exists(c => c == '\t' || c == '\n' ||
          c == '\r') && !vv.exists(c => c == '\t' || c == '\n' ||
          c == '\r'),
        s"property '$k' must have a non-empty single-line tab-free " +
          "key and value")
    }
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(
      throw new IllegalStateException(
        s"no committed version under $corpusDir — create the corpus " +
          "before annotating it"))
    commitProps(s, corpusDir, v, Versioned.tableProps(s, corpusDir, v) ++ props)
  }

  /** UNSET TBLPROPERTIES: commit the shrunken property set (possibly
    * empty — an empty sidecar masks every older one). Unknown keys are
    * a loud error, matching Spark's UNSET semantics without IF EXISTS. */
  def unsetTableProperties(s: SparkSession, corpusDir: String,
                           keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(
      throw new IllegalStateException(
        s"no committed version under $corpusDir"))
    val existing = Versioned.tableProps(s, corpusDir, v)
    val missing = keys.filterNot(existing.contains)
    require(missing.isEmpty,
      s"no properties ${missing.mkString(", ")} on $corpusDir — live " +
        s"properties: ${existing.keys.toSeq.sorted.mkString(", ")}")
    commitProps(s, corpusDir, v, existing -- keys)
  }

  private def commitProps(s: SparkSession, corpusDir: String, v: Long,
                          props: Map[String, String]): Unit =
    commitMetadata(s, corpusDir, v, Versioned.Props,
      props.toSeq.sorted.map { case (k, vv) => s"$k\t$vv" })

  /** DROP CONSTRAINT: commit the shrunken set (possibly EMPTY — an
    * empty sidecar masks every older one, releasing the table). Same
    * manifest-carry commit shape as [[addConstraint]]. */
  def dropConstraint(s: SparkSession, corpusDir: String,
                     name: String): Unit = {
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(
      throw new IllegalStateException(
        s"no committed version under $corpusDir"))
    val existing = tableConstraints(s, corpusDir, v)
    require(existing.exists(_._1 == name),
      s"no constraint '$name' on $corpusDir — live constraints: " +
        existing.map(_._1).sorted.mkString(", "))
    commitMetadata(s, corpusDir, v, Versioned.Constraints,
      existing.filterNot(_._1 == name).map { case (n, e) => s"$n\t$e" })
  }

  /** Commit version v's manifest and partition lines unchanged with a
    * new `side` sidecar — the table-metadata DDL shape: undeclared
    * touch, OCC claim at v+1. */
  private def commitMetadata(s: SparkSession, corpusDir: String, v: Long,
                             side: String, lines: Seq[String]): Unit =
    commit(s, corpusDir, Some(v), Versioned.manifest(s, corpusDir, v),
      stats = CarryAll, declareTouch = false,
      extra = Versioned.writeSidecar(s, corpusDir, _, _, side, lines))

  /** Validate the STAGED files (read-back) against the table's
    * persisted constraint set before anything publishes — the airtight
    * half of enforcement: the rows checked here are the literal bytes
    * that would become the committed version (batch rows after any
    * non-deterministic expression resolved, survivors after alignment,
    * updated rows after their SET transforms — the round-11 advice
    * hole on plan-level checks). A violation reclaims the staged ghost
    * and fails loudly; nothing was committed. Cost: one codegen'd
    * conditional aggregate over the staged (touched-partition-bound)
    * bytes, only on constraint-bearing tables. */
  private def validateStaged(s: SparkSession, corpusDir: String,
                             stageRel: String,
                             cs: Seq[(String, Column)]): Unit = {
    if (cs.isEmpty) return
    try checkConstraints(Versioned.readParquetCached(s, Seq(s"$corpusDir/$stageRel")), cs,
      what = "staged write (read-back)")
    catch {
      case e: IllegalArgumentException =>
        val p = new org.apache.hadoop.fs.Path(s"$corpusDir/$stageRel")
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        throw e
    }
  }

  /** Which committed stats lines of the base a commit carries. The
    * pruning-soundness argument lives here: a carried line must still
    * bound every row its partition holds after the commit (stats are
    * never a correctness gate the other way — a missing line only
    * reads). "Changed" below is the commit's touch set
    * ([[commit]]). Every commit names its rule: there is no default. */
  private[ops] sealed trait StatsCarry
  /** Multiset-preserving rewrite or metadata-only commit (compaction,
    * DDL, ledger tick, MOR delete): every line stays a valid bound.
    * Sound only when no partition gains a row or changes a value. */
  private[ops] case object CarryAll extends StatsCarry
  /** Rows were only removed (delete, DV materialization, retention): a
    * restaged partition's old bounds and dictionaries stay valid
    * supersets, a changed partition that staged nothing left the
    * manifest and its lines go with it. */
  private[ops] case object CarrySuperset extends StatsCarry
  /** Rows of changed partitions may have widened (upsert, update,
    * changelog, MOR update, scd2 and rollup-fold restages): their lines
    * drop. */
  private[ops] case object CarryUnchanged extends StatsCarry
  /** Multiset-preserving full restage that recomputes some forms
    * (z-order, refresh): every line carries except those forms
    * ([[statsLineReplaced]]). */
  private[ops] case object CarryUnrecomputed extends StatsCarry
  /** New layout or new content (replace, repartition; a bootstrap has
    * no base lines). */
  private[ops] case object CarryNone extends StatsCarry

  /** The rows a commit stages: made [[stageable]] for `partCol`,
    * clustered one task per partition value when `cluster`, sorted
    * within partitions by `partCol` then `sortBy` when that is
    * non-empty, and written `partitionBy(partCol)` (whose planned write
    * already sorts an unordered child by `partCol`); `partCol` None
    * stages one unpartitioned whole-table entry. */
  private[ops] final case class Stage(rows: DataFrame,
                                      partCol: Option[String],
                                      sortBy: Seq[String] = Nil,
                                      cluster: Boolean = false)

  /** Write `st` under `rel` and list what landed as manifest entries —
    * the one place a staged dir becomes entries. */
  private def writeStage(s: SparkSession, dir: String, st: Stage,
                         rel: String): Seq[(String, String)] =
    st.partCol match {
      case None =>
        st.rows.write.mode("overwrite").parquet(s"$dir/$rel")
        Versioned.wholeTableEntryAt(rel)
      case Some(pc) =>
        val safe = stageable(st.rows, pc)
        val clustered = if (st.cluster) safe.repartition(col(pc)) else safe
        val sorted =
          if (st.sortBy.isEmpty) clustered
          else clustered.sortWithinPartitions((pc +: st.sortBy).map(col): _*)
        sorted.write.mode("overwrite").partitionBy(pc)
          .parquet(s"$dir/$rel")
        Versioned.listStagedPartDirs(s, dir, rel, pc)
    }

  /** Stage a merge-on-read sidecar dir (`dvdata/`, `uvdata/`) and return
    * the partition names that landed; an empty stage is removed. */
  private def writeMorStage(s: SparkSession, dir: String, rows: DataFrame,
                            partCol: String, rel: String): Seq[String] = {
    val names = writeStage(s, dir, Stage(rows, Some(partCol)), rel).map(_._1)
    if (names.isEmpty) dropStage(s, dir, rel)
    names
  }

  /** Remove a stage dir that landed no entry. */
  private def dropStage(s: SparkSession, dir: String, rel: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$rel")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** THE COMMIT KERNEL: every write verb's copy-on-write tail. Derives
    * version base+1 (the OCC rule: allocate from the snapshot the write
    * derives from, never from a re-listing of current — a racer
    * committing in between must make the claim FAIL, not shift it to
    * an uncontested number carrying a stale snapshot; the Wave18
    * threaded-race lost update) under attempt token `tok`, and:
    *
    *  1. stages `stage` under `data/<v>_<tok>`, validates the persisted
    *     `constraints` on the staged read-back ([[validateStaged]]) and
    *     lists the staged entries — a bootstrap (no `base`) that lands
    *     none publishes nothing;
    *  2. RESTAGED = `replaced` ∪ staged names: those entries leave the
    *     base manifest and the staged ones join it (publish replaces by
    *     name). CHANGED = restaged ∪ `alsoChanged` (partitions a MOR
    *     write changed in place) is the touch set; `emptyGuard` refuses
    *     a manifest left empty (an empty table cannot be read back);
    *  3. derives every sidecar from the base: stats by `stats`
    *     ([[StatsCarry]]) plus the staged entries' fresh lines for the
    *     requested keys ([[Versioned.freshStats]]) and `freshLines`;
    *     dv/uv lines of restaged partitions drop — the restage read
    *     them live, so it is their materialization point — the rest
    *     carry, plus `newDv` /
    *     `newUv(staged names)`; the ledger gains `ledgerId`; `extra`
    *     writes verb-owned sidecars;
    *  4. declares CHANGED as the touch set unless `declareTouch` is off
    *     (an undeclared commit touches everything — full rewrites, DDL,
    *     retention), then publishes.
    *
    * The touch declaration is what [[publishOrRebase]] trusts: it names
    * every partition whose live content the commit may have changed, so
    * a racing upsert whose own changed set is disjoint may re-publish
    * its staged dirs onto this commit. With `rebase` (upserts and a
    * branch publish) a written stage is pinned against vacuum from
    * before its first byte until the claim resolves, and a lost claim
    * rebases through [[publishOrRebase]], every attempt re-deriving
    * step 3 from its own base; `refusal` names the exception an
    * overlapping or undeclared intervening commit raises. `since`
    * (default `base`) is the version the write's content derives from
    * when that is older than `base`: a branch publish derives its
    * metadata from main's current version but its entries from the
    * fork, so every commit after `since` is checked before the first
    * attempt. `sinceState` is the (metadata dir, version) holding the
    * `since` state, default `dir` at `since`: a branch publish names its
    * v1, the fork copy, which outlives a sweep of main's fork version.
    *
    * Where the chain lives: `dir` holds the metadata (a branch's is
    * `branches/<name>`), `dataDir` (default `dir`) the data — the stage
    * is written and read back there, named by `stageName`, and its pin
    * lands in that root's `intents/`, where vacuum reads it.
    * `prestaged` entries already sit under the data root (a branch's
    * work, main's entries at a fork) and publish beside the stage's. */
  private[ops] def commit(s: SparkSession, dir: String,
                          base: Option[Long], man: Seq[(String, String)],
                          stage: Option[Stage] = None,
                          prestaged: Seq[(String, String)] = Nil,
                          replaced: Set[String] = Set.empty,
                          alsoChanged: Set[String] = Set.empty,
                          stats: StatsCarry,
                          statsKeys: Seq[String] = Nil,
                          dictKeys: Seq[String] = Nil,
                          bloomKeys: Seq[String] = Nil,
                          freshLines: Seq[String] = Nil,
                          constraints: Seq[(String, Column)] = Nil,
                          ledgerId: Option[String] = None,
                          newDv: Seq[String] = Nil,
                          newUv: Set[String] => Seq[String] = _ => Nil,
                          extra: (Long, String) => Unit = (_, _) => (),
                          emptyGuard: Option[String] = None,
                          declareTouch: Boolean = true,
                          rebase: Boolean = false,
                          refusal: Option[Long => Exception] = None,
                          since: Option[Long] = None,
                          sinceState: Option[(String, Long)] = None,
                          dataDir: Option[String] = None,
                          stageName: (Long, String) => String =
                            Versioned.newStageRel,
                          tok: String = Versioned.newToken()): Unit = {
    val data = dataDir.getOrElse(dir)
    val stageRel = stageName(base.fold(1L)(_ + 1), tok)
    // pin BEFORE the first staged byte: the moment a racing winner
    // commits our number, this dir sits unreferenced at a version
    // ≤ current — vacuum's reclaim shape — yet a rebase may still
    // publish it (the pin-before-stage order is what makes vacuum's
    // later pin read sound); the heartbeat keeps a multi-hour stage
    // from aging past vacuum's pinGraceMs
    val pinned = rebase && stage.isDefined
    if (pinned) Versioned.pinStage(s, data, tok, Seq(stageRel))
    val beat =
      if (pinned) Some(Versioned.pinHeartbeat(s, data, tok)) else None
    try {
      val written = stage.fold(Seq.empty[(String, String)]) { st =>
        val entries = writeStage(s, data, st, stageRel)
        validateStaged(s, data, stageRel, constraints)
        entries
      }
      val staged = prestaged ++ written
      // a bootstrap that stages no entry publishes nothing: an empty
      // first version has no entry to read a schema from
      if (base.isEmpty && staged.isEmpty) {
        dropStage(s, data, stageRel)
        return
      }
      val stagedNames = staged.map(_._1).toSet
      val restaged = replaced ++ stagedNames
      val changed = restaged ++ alsoChanged
      emptyGuard.foreach(msg =>
        require(man.exists(e => !restaged(e._1)) || staged.nonEmpty, msg))
      // computed once: the staged bytes are immutable, so every attempt
      // publishes the same fresh lines
      val fresh = freshLines ++ (stage match {
        case Some(Stage(rows, Some(pc), _, _))
            if statsKeys.nonEmpty || dictKeys.nonEmpty || bloomKeys.nonEmpty =>
          Versioned.freshStats(s, data, written, pc,
            Versioned.StagedRows(rows.schema), statsKeys, dictKeys, bloomKeys)
        case _ => Nil
      })
      // a stage that restages FOREIGN-layout entries moves their rows
      // into current-spec partitions, any staged one of which may then
      // hold rows its old line never bounded: no staged line carries
      val migrates = stage.flatMap(_.partCol).exists(pc =>
        replaced.exists(n => !n.startsWith(s"$pc=")))
      val rule: String => Boolean = stats match {
        case CarryAll => _ => true
        case CarrySuperset => l => {
          val n = Versioned.statsLinePart(l)
          !changed(n) || stagedNames(n)
        }
        case CarryUnchanged => l => !changed(Versioned.statsLinePart(l))
        case CarryUnrecomputed =>
          l => !statsLineReplaced(statsKeys, dictKeys, bloomKeys)(l)
        case CarryNone => _ => false
      }
      val carry: String => Boolean = l =>
        rule(l) && !(migrates && stagedNames(Versioned.statsLinePart(l)))
      def attempt(b: Option[Long]): Unit = {
        val t = if (b == base) tok else Versioned.newToken()
        val nv = b.fold(1L)(_ + 1)
        def kept(side: String) =
          b.fold(List.empty[String])(Versioned.sidecarLines(s, dir, _, side))
        def write(side: String, lines: Seq[String]): Unit =
          Versioned.writeSidecar(s, dir, nv, t, side, lines)
        val statsOut = (kept(Versioned.Stats).filter(carry) ++ fresh).sorted
        if (statsOut.nonEmpty) write(Versioned.Stats, statsOut)
        def mor(side: String, added: Seq[String]): Unit = {
          val k = kept(side).filterNot(l =>
            restaged(Versioned.statsLinePart(l)))
          val out = if (added.isEmpty) k else (k ++ added).sorted
          if (out.nonEmpty) write(side, out)
        }
        mor(Versioned.Dv, newDv)
        mor(Versioned.Uv, newUv(stagedNames))
        // exactly-once id: the ledger lands under the attempt's token
        // BEFORE publish, so id and data commit together
        ledgerId.foreach(id => write(Versioned.Ledger,
          b.fold(Set(id))(bb => Versioned.ledgerAdd(
            Versioned.appliedLedgerIds(s, dir, bb), id)).toSeq.sorted))
        extra(nv, t)
        if (declareTouch) write(Versioned.Touch, changed.toSeq.sorted)
        val baseMan =
          if (b == base) man else Versioned.manifest(s, dir, b.get)
        Versioned.publish(s, dir, nv, t,
          baseMan.filterNot(e => restaged(e._1)) ++ staged)
      }
      if (rebase) {
        Hooks.onBeforePublish()
        val from = since.getOrElse(base.get)
        publishOrRebase(s, dir, from, base.get,
          sinceState.getOrElse((dir, from)), changed, ledgerId, refusal,
          b => attempt(Some(b)))
      } else attempt(base)
    } finally beat.foreach { b =>
      b.close()
      Versioned.unpinStage(s, data, tok)
    }
  }

  /** The REPLACE rule an ANALYZE-style refresh shares with the z-order
    * compaction: a carried line is dropped only if this call recomputed
    * its exact FORM for its column — a range refresh must never cost
    * the table its dictionary or its bloom on the same column (the
    * no-silent-stripping rule; routing an unrecognized tagged form into
    * the range branch was exactly the round-13 bloom near-miss). */
  private def statsLineReplaced(statsKeys: Seq[String],
                                dictKeys: Seq[String],
                                bloomKeys: Seq[String])
      : String => Boolean = line => Versioned.statsLine(line) match {
    // an unnamed legacy bound line names no column a refresh recomputes
    case Versioned.RangeStats(_, c, _, _) =>
      c != Versioned.LegacyCol && statsKeys.contains(c)
    case Versioned.DictStats(_, c, _) => dictKeys.contains(c)
    case Versioned.BloomStats(_, c, _) => bloomKeys.contains(c)
    // per-file row counts regenerate on every stats job (a dropped line
    // is safe: COUNT falls back to footers for a file with no count)
    case _: Versioned.RowsStats => true
    case _: Versioned.OtherStats => false
  }

  /** Merge `batch` into the versioned parquet corpus at `corpusDir`:
    * rows with a `keyCol` already present replace the old row, others
    * append; only partitions present in `batch` are restaged. Creates
    * the corpus (version 1) on first call.
    *
    * PRECONDITION — stable key→partition mapping: a key's `partCol`
    * value must never change across batches. The replace rule is
    * partition-LOCAL by design (that is what makes a merge cost
    * O(touched partitions), the operator's whole point at 100 TB); a
    * batch that moves a key to a new partition value would upsert there
    * while the stale row survives untouched in the old partition —
    * a duplicate no partition-pruned merge can see without scanning the
    * full corpus. Derive `partCol` from immutable key attributes (hash
    * buckets, creation date) or route moves through an explicit
    * delete+insert that touches both partitions. */
  def mergeUpsert(s: SparkSession, corpusDir: String, batch: DataFrame,
                  keyCol: String, partCol: String,
                  statsKeys: Seq[String] = Nil,
                  ledgerId: Option[String] = None,
                  dictKeys: Seq[String] = Nil,
                  constraints: Seq[(String, Column)] = Nil,
                  bloomKeys: Seq[String] = Nil): Unit = {
    // OCC snapshot FIRST, input materialization second: persist() plans
    // its input eagerly, and a local-relation input can evaluate
    // DRIVER-SIDE during that planning (ConvertToLocalRelation) — so a
    // persist-before-snapshot order would let work that happens inside
    // the input's evaluation (the Wave27 gate, a slow upstream read)
    // shift this write's derivation to a version a racer committed
    // meanwhile. The snapshot the write derives from is pinned before
    // the input's first possible evaluation, exactly as un-cached code
    // ordered it.
    val v0 = Versioned.currentVersion(s, corpusDir)
    // an unconstrained bootstrap (no committed version) writes the batch
    // in a single pass — materializing it would pay a cache write for no
    // reuse; a constrained one must stage exactly the rows its check saw
    if (v0.isEmpty && constraints.isEmpty)
      mergeUpsertImpl(s, corpusDir, v0, batch, keyCol, partCol,
        statsKeys, ledgerId, dictKeys, constraints, bloomKeys)
    else withMaterialized(batch) { b =>
      mergeUpsertImpl(s, corpusDir, v0, b, keyCol, partCol,
        statsKeys, ledgerId, dictKeys, constraints, bloomKeys)
    }
  }

  /** Materialize a write verb's INPUT DataFrame once for the verb's
    * several passes over it (round-16 optimization, guide §2.4/§5).
    * Every verb probes its input repeatedly — touched-partition
    * distinct, foreign-layout key probes, the anti-join's key side, the
    * final union — and uncached, each pass re-evaluates the input
    * subtree from scratch: for pipeline_cdc_mirror / sql_merge the
    * input is itself a multi-join change feed, re-run 4-5× per commit
    * (ProfileOne: 80 jobs for one sql_merge lifecycle). Persisting for
    * exactly the verb's scope evaluates it once; unpersist runs after
    * the verb's last action (all staging actions complete inside the
    * verb), so nothing persists across queries or runs. This is also
    * Delta's merge-source materialization move, which it makes for
    * determinism: a source that reads differently between the probe
    * pass and the write pass (non-deterministic sampling, a table a
    * concurrent writer advances) could otherwise stage rows the probe
    * never saw. */
  private def withMaterialized[A](df: DataFrame)(f: DataFrame => A): A = {
    // an input the CALLER already persisted (a query composing verbs
    // over one cached feed) keeps its own lifecycle — re-persisting
    // would only log CacheManager warnings and double-manage the entry
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      return f(df)
    val m = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(m) finally m.unpersist(false)
  }

  /** [[mergeUpsert]]'s body on the chain whose metadata lives under
    * `corpusDir` and whose data lives under `dataDir` (default
    * `corpusDir`), staging under `stageName` — a branch upsert is this
    * merge on the branch chain ([[BranchOps.branchUpsert]]). */
  private[ops] def mergeUpsertImpl(s: SparkSession, corpusDir: String,
                  v0: Option[Long],
                  batch: DataFrame,
                  keyCol: String, partCol: String,
                  statsKeys: Seq[String],
                  ledgerId: Option[String],
                  dictKeys: Seq[String],
                  constraints: Seq[(String, Column)],
                  bloomKeys: Seq[String],
                  dataDir: Option[String] = None,
                  stageName: (Long, String) => String =
                    Versioned.newStageRel): Unit = {
    checkConstraints(batch, constraints)
    // write-time clustering: a task-local sort by (partition, key)
    // before the partitioned write — the dynamic-partition writer's
    // required ordering is then already satisfied (no second sort),
    // each partition's rows land key-ordered, and parquet row-group
    // min/max skipping becomes effective on key residuals INSIDE
    // the partitions manifest pruning keeps. Two-level skipping for
    // one local sort: at 100 TB the row-group tier is what keeps a
    // narrow key range from reading a whole partition.
    def staging(rows: DataFrame) =
      Some(Stage(rows, Some(partCol), Seq(keyCol)))
    v0 match {
      case None =>
        commit(s, corpusDir, None, Nil, staging(batch), stats = CarryNone,
          statsKeys = statsKeys, dictKeys = dictKeys, bloomKeys = bloomKeys,
          ledgerId = ledgerId, dataDir = dataDir, stageName = stageName)
      case Some(v) =>
        // a replayed identified write no-ops: its id is already in the
        // committed ledger, so the work (and the version) must not repeat
        if (ledgerId.exists(id =>
              Versioned.ledgerContains(
                Versioned.appliedLedgerIds(s, corpusDir, v), id)))
          return
        // PERSISTED constraints: loaded from the table's own metadata at
        // the snapshot — enforced on every writer automatically, plan-
        // checked here for a fast loud failure and read-back-checked on
        // the staged files below (the airtight half)
        val persisted = persistedConstraintCols(
          tableConstraints(s, corpusDir, v), batch.columns.toSeq)
        checkConstraints(batch, persisted)
        // Bounded driver-side list: distinct PARTITION VALUES of the batch
        // (#partitions, not #rows), named — the manifest-pruning predicate
        // on the corpus read below ([[Versioned.entriesNamed]]).
        val touchedNames = batch.select(partCol).distinct().collect()
          .map(r => Versioned.partDirName(partCol, r.get(0))).toSet
        if (touchedNames.isEmpty) return
        val man = Versioned.manifest(s, corpusDir, v)
        // METADATA-TIER PARTITION EVOLUTION (Iceberg's spec-evolution
        // shape): entries whose `col=` prefix differs from THIS write's
        // partCol were written under an earlier spec. Evolving is just
        // writing with a new partCol — no rewrite commit: new data
        // lands under the new layout, foreign-layout entries carry
        // byte-identical, and reads union the layouts (readEntries
        // derives each version-group's partition column from its own
        // dirs). The one correctness hazard is a batch key that already
        // LIVES under the old layout — new-spec value pruning cannot
        // see it, so a blind write would duplicate the key. Those
        // entries are found with the same three-tier skipping kernel
        // the readers use, probed on the KEY column (batch key range +
        // up to [[MixedLayoutProbeCap]] exact keys against dict/bloom
        // sidecars); every possibly-holding entry restages THROUGH the
        // merge — its survivors rewrite under the NEW spec, so upserts
        // migrate old partitions lazily, exactly the write that was
        // needed anyway. Cost honesty: with no key-column sidecars
        // recorded, every foreign entry is a candidate and the first
        // overlapping upsert migrates the whole old layout — record
        // statsKeys/bloomKeys on the key before evolving specs, and
        // the candidate set shrinks to true range/bloom overlaps.
        val foreign = man.filter(e => e._1.takeWhile(_ != '=') != partCol)
        val foreignCand: Seq[(String, String)] =
          if (foreign.isEmpty) Nil
          else {
            import org.apache.spark.sql.types.{ByteType, DoubleType,
              FloatType, IntegerType, LongType, ShortType}
            val kr = batch.schema(keyCol).dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                val r = batch.agg(min(col(keyCol)).cast("long"),
                                  max(col(keyCol)).cast("long")).head
                if (r.isNullAt(0)) Nil
                else Seq((keyCol, r.getLong(0), r.getLong(1)))
              case _ => Nil
            }
            // no value probe on a FLOAT/DOUBLE key (the
            // [[filterPruneHints]] type rule: -0.0 joins 0.0, but the
            // two render differently)
            val kv = batch.schema(keyCol).dataType match {
              case FloatType | DoubleType => Nil
              case _ =>
                val keyStrs = batch.select(col(keyCol).cast("string"))
                  .distinct().limit(MixedLayoutProbeCap + 1)
                  .collect().map(_.getString(0)).toSeq
                if (keyStrs.size > MixedLayoutProbeCap) Nil
                else Seq((keyCol, keyStrs))
            }
            if (kr.isEmpty && kv.isEmpty) foreign
            else prunedEntries(s, corpusDir, v, foreign, kr, kv)
          }
        // COLLISION expansion ([[restageClosure]]'s rule): a
        // migrated candidate survivor stages into the current-spec dir
        // of ITS partition value — if an untouched same-layout entry
        // names that partition, publish would replace it by staged name
        // and drop its rows, so every such entry must restage into the
        // merge. Same-layout survivors stage back under their own
        // entry's name ([[homed]]), batch rows under theirs.
        val migratedNames: Set[String] =
          if (foreignCand.isEmpty) Set.empty
          else migratedDirNames(s, dataDir.getOrElse(corpusDir),
            foreignCand, partCol)
        val oldEntries = Versioned.entriesNamed(man,
          touchedNames ++ migratedNames) ++ foreignCand
        val touchedAll = touchedNames ++ migratedNames ++
          oldEntries.map(_._1)
        // Survivors = old rows in touched partitions whose key the batch
        // does NOT replace; merged = survivors + batch. Brand-new
        // partitions have no old side at all.
        val merged =
          if (oldEntries.isEmpty) batch
          // LIVE read: deletion vectors on the touched partitions apply
          // here and their lines drop below — the restage is the
          // materialization point, and a batch re-inserting a
          // previously-DV'd key must win
          else upserted(Versioned.readEntriesLive(s, corpusDir, v, man,
              oldEntries, Some(partCol), dataDir,
              perScan = Versioned.withEntry),
            oldEntries, partCol, keyCol, batch, batch.select(col(keyCol)))
        // Restaged partitions' stats drop unless this write recomputes
        // them from the staged files; their DV lines drop (tombstones
        // materialized in the live read above); a lost claim rebases
        // when every intervening commit is disjoint ([[publishOrRebase]]).
        commit(s, corpusDir, Some(v), man, staging(merged),
          replaced = touchedAll, stats = CarryUnchanged,
          statsKeys = statsKeys, dictKeys = dictKeys, bloomKeys = bloomKeys,
          constraints = persisted, ledgerId = ledgerId, rebase = true,
          dataDir = dataDir, stageName = stageName)
    }
  }

  /** TEST-ONLY injection point (Delta's fault-injection idiom): runs on
    * the writer's thread after staging completes and before the first
    * publish attempt — the exact spot a deterministic interleaving test
    * parks a writer to race a vacuum or a competing commit against it.
    * Production never sets it; the default is a no-op. */
  private[graft] object Hooks {
    @volatile var onBeforePublish: () => Unit = () => ()
  }

  /** Optimistic REBASE after a lost version claim — the partition-
    * disjoint concurrent-writer path (Delta/Iceberg logical conflict
    * detection, at this store's partition granularity). A write that
    * derived from snapshot `v` and lost its claim normally re-derives
    * the WHOLE operation ([[graft.engine.Versioned.withCommitRetry]]);
    * but an UPSERT is partition-local by the stable key→partition
    * precondition — its staged output for its touched partitions is a
    * pure function of those partitions' content at `v` plus the batch —
    * so when EVERY intervening commit DECLARES a touched set
    * ([[Versioned.Touch]]) disjoint from this write's, those
    * partitions' live content at the new current equals their content
    * at `v`, and the already-staged immutable dirs can be re-published
    * onto current+1 with freshly re-derived METADATA only (manifest,
    * carried stats/dv, ledger union). At 100 TB this is what lets many
    * ingest feeds share one store: losers pay a handful of small-file
    * writes instead of re-staging multi-TB partitions, and the single-
    * winner marker stays the only serialization point. Undeclared
    * intervening commits (rollback, retention, constraint DDL) or ANY
    * overlap fall back to the loud re-derive signal — correctness never
    * rides on the declaration being present, only on it being true.
    * Delete/changelog writers do NOT rebase: their touched set is
    * discovered from the corpus (a disjoint intervening insert could
    * hold a key they should have removed), so they always re-derive.
    * The first attempt publishes onto `v`; the write's content derives
    * from `since` ≤ `v` (a branch publish: the fork), so the commits in
    * (`since`, `v`] pass the same check before it.
    *
    * A number in that range the commit log no longer lists (a version
    * [[graft.engine.Versioned.vacuum]] swept, or one a crashed writer
    * burned) declares nothing, so the range is disjoint only if this
    * write's partitions read the same at `cur` as in the `since` state
    * (`sinceState`: metadata dir and version): the same entries (dirs
    * are write-once, so a commit that touched one names a new dir) and
    * the same dv/uv lines. A `since` state that is itself swept proves
    * nothing, and the write refuses. */
  private def publishOrRebase(s: SparkSession, corpusDir: String,
                              since: Long, v: Long,
                              sinceState: (String, Long),
                              ourTouch: Set[String],
                              ledgerId: Option[String],
                              refusal: Option[Long => Exception],
                              attemptPublish: Long => Unit): Unit = {
    // this write's partitions at version `w` of the chain under `dir`:
    // their entries and dv/uv lines (None when `w` is gone)
    def ours(dir: String, w: Long) = scala.util.Try(
      (Versioned.manifest(s, dir, w).filter(e => ourTouch(e._1)).toSet,
       Seq(Versioned.Dv, Versioned.Uv).map(kind =>
         Versioned.sidecarLines(s, dir, w, kind)
           .filter(l => ourTouch(Versioned.statsLinePart(l))).toSet))
    ).toOption
    lazy val atSince = ours(sinceState._1, sinceState._2)
    def disjoint(cur: Long): Boolean = {
      val listed = Versioned.committedVersions(s, corpusDir)
        .filter(w => w > since && w <= cur)
      listed.forall { w =>
        scala.util.Try(Versioned.committedLines(s, corpusDir, w,
            Versioned.Touch)).toOption.flatten
          .exists(!_.exists(ourTouch))
      } && (listed.size == cur - since ||
            atSince.exists(st => ours(corpusDir, cur).contains(st)))
    }
    def refuse(cur: Long, cause: => Exception): Exception =
      refusal.fold(cause)(_(cur))
    if (since < v && !disjoint(v))
      throw refuse(v, new graft.engine.ConcurrentCommitException(
        s"a commit after version $since under $corpusDir touches this " +
          "write's partitions or declares no touch set — re-derive"))
    try attemptPublish(v)
    catch {
      case first: graft.engine.ConcurrentCommitException =>
        var attempts = 0
        while (true) {
          attempts += 1
          if (attempts > 5) throw first
          val cur = Versioned.currentVersion(s, corpusDir).getOrElse(
            throw first)
          if (cur <= v) throw first  // claim lost to a repair at our own
                                     // version — re-derive, never rebase
          if (!disjoint(cur)) throw refuse(cur, first)
          // an intervening commit may have applied our exactly-once id
          // (a racing replay of the same identified batch): no-op, the
          // work is committed
          if (ledgerId.exists(id =>
                Versioned.ledgerContains(
                  Versioned.appliedLedgerIds(s, corpusDir, cur), id)))
            return
          try { attemptPublish(cur); return }
          catch { case _: graft.engine.ConcurrentCommitException => () }
        }
    }
  }

  /** Current-spec partition dir names every row of `entries` would
    * stage under — the collision surface of a migration. Rows that
    * PREDATE the current partition column null-fill it on the aligned
    * restage (the scan_evolved union rule), so an absent column maps
    * to the default-partition dir name rather than failing the read. */
  private def migratedDirNames(s: SparkSession, corpusDir: String,
                               entries: Seq[(String, String)],
                               partCol: String): Set[String] = {
    val df = Versioned.readEntries(s, corpusDir, entries, Some(partCol))
    if (!df.columns.contains(partCol))
      Set(Versioned.partDirName(partCol, null))
    else df.select(partCol).distinct().collect()
      .map(r => Versioned.partDirName(partCol, r.get(0))).toSet
  }

  /** Make a corpus-derived frame SAFE to stage `partitionBy(partCol)`:
    * a mixed-layout live read can surface the current partition column
    * as VOID (a layout whose only value is the default partition
    * infers NullType) or drop it entirely (every
    * group predates the column) — both crash the writer. partitionBy
    * never persists the column's TYPE into the data files (it only
    * names dirs, and null names the default dir regardless), so a
    * naming-only string cast is exact. */
  private def stageable(df: DataFrame, partCol: String): DataFrame =
    if (!df.columns.contains(partCol))
      df.withColumn(partCol, lit(null).cast("string"))
    else if (df.schema(partCol).dataType ==
             org.apache.spark.sql.types.NullType)
      df.withColumn(partCol, col(partCol).cast("string"))
    else df

  /** Spell the partition column of a [[Versioned.withEntry]]-tagged
    * read of `entries` as its rows stage: a row of a `partCol=` entry
    * keeps that entry's own value (`p=007` stays `007`, though it reads
    * back as 7), any other row (a foreign-layout row migrating) its
    * value as the writer names it. A restage spelled so stages every
    * entry back under its own name. */
  private def homed(tagged: DataFrame, entries: Seq[(String, String)],
                    partCol: String): DataFrame = {
    val homes = typedLit(entries.collect {
      case (n, rel) if n.startsWith(s"$partCol=") =>
        Versioned.entryTag(new Path(s"$rel/f").toUri.getRawPath) ->
          Versioned.partOf(n).get._2.orNull
    }.toMap)
    val own =
      if (tagged.columns.contains(partCol)) col(partCol).cast("string")
      else lit(null).cast("string")
    tagged.withColumn(partCol,
        coalesce(homes(col(Versioned.EntryCol)), own))
      .drop(Versioned.EntryCol)
  }

  /** THE UPSERT MERGE ([[mergeUpsert]], the changelog, a branch upsert):
    * the rows of `old` (a tagged live read of `entries`) whose key
    * `replaced` does not carry, aligned to the authoritative `batch`
    * schema (columns old rows predate null-fill), plus `batch`. Both
    * sides spell the partition column as they stage ([[homed]]) before
    * the union, whose type coercion would otherwise re-spell one. */
  private[ops] def upserted(old: DataFrame,
                            entries: Seq[(String, String)],
                            partCol: String, keyCol: String,
                            batch: DataFrame, replaced: DataFrame)
      : DataFrame = {
    val o = homed(old, entries, partCol)
    val cols = batch.columns.toSeq
    o.select(cols.map { c =>
        if (o.columns.contains(c)) col(c)
        else lit(null).cast(batch.schema(c).dataType).as(c)
      }: _*)
      .join(replaced, Seq(keyCol), "left_anti")
      .selectExpr(cols: _*)
      .unionByName(batch.withColumn(partCol, col(partCol).cast("string")))
  }

  /** The RESTAGE CLOSURE of `targets`: publish replaces entries by
    * staged name, so every entry a restaged row may stage onto restages
    * too, or its rows silently drop with the replaced entry. A row
    * stages under the name its read value spells, which names its own
    * entry's partition ([[Versioned.entriesNamed]]: `p=007` restages as
    * `p=7`, onto a `p=7` entry); a FOREIGN-layout target's rows migrate
    * into the current-spec dirs of their values. Returns `targets`, then
    * every other entry those names name. */
  private def restageClosure(s: SparkSession, corpusDir: String,
                             man: Seq[(String, String)],
                             targets: Seq[(String, String)],
                             partCol: String): Seq[(String, String)] = {
    val foreign = targets.filterNot(_._1.startsWith(s"$partCol="))
    val names = targets.map(_._1).toSet
    val migrated =
      if (foreign.isEmpty) Set.empty[String]
      else migratedDirNames(s, corpusDir, foreign, partCol)
    targets ++ Versioned.entriesNamed(man, names ++ migrated)
      .filterNot(e => names(e._1))
  }

  /** The entries a copy-on-write restage of the rows `hits` touches
    * ([[mergeDelete]], the WHERE verbs, the changelog): the entry of
    * every hit row, read off its [[Versioned.withEntry]] tag (rule 1 —
    * one bounded #entries collect, the same in every layout), closed
    * over collisions ([[restageClosure]]), in manifest order. */
  private def hitEntries(s: SparkSession, corpusDir: String,
                         man: Seq[(String, String)], partCol: String,
                         hits: DataFrame): Seq[(String, String)] = {
    val entryAt = Versioned.entryOf(man)
    val hit = hits.select(Versioned.EntryCol).distinct().collect()
      .flatMap(r => entryAt(r.getString(0))).toSet
    if (hit.isEmpty) return Nil
    man.filter(restageClosure(s, corpusDir, man, man.filter(hit), partCol)
      .toSet)
  }

  /** Row-level DELETE (the GDPR / right-to-be-forgotten write every
    * lakehouse needs): remove every corpus row whose `keyCol` appears in
    * `keys`, by RESTAGING only the partitions that contain such a key —
    * copy-on-write deletes at merge cost, O(touched partitions) like
    * every write here, never a full-table rewrite. The touched set is
    * found with one semi-join of the committed corpus against the key
    * set (the same find-touched-files pass a Delta DELETE runs); a
    * partition whose every row dies drops out of the manifest entirely,
    * and deleting the last populated partition fails fast like
    * retention (an empty table cannot be read back — that is table
    * deletion, not a delete). Stats lines carry for SURVIVING
    * partitions only: a restaged partition's old bounds remain a VALID
    * superset after row removal (bounds can only narrow), so pruning
    * stays correct without recomputing — the next merge or sorted
    * compaction re-tightens them. Idempotent: a second identical delete
    * finds no touched partition and publishes nothing. Publishes at
    * snapshot+1 under the same OCC claim as every writer. */
  def mergeDelete(s: SparkSession, corpusDir: String, keys: DataFrame,
                  keyCol: String, partCol: String): Unit = {
    // snapshot before materialization — see mergeUpsert's ordering note
    val v0 = Versioned.currentVersion(s, corpusDir)
    if (v0.isEmpty) return  // nothing to delete from — and nothing to cache
    withMaterialized(keys) { k =>
      mergeDeleteImpl(s, corpusDir, v0, k, keyCol, partCol)
    }
  }

  private def mergeDeleteImpl(s: SparkSession, corpusDir: String,
                  v0: Option[Long], keys: DataFrame,
                  keyCol: String, partCol: String): Unit = {
    val v = v0.getOrElse(return)
    val man = Versioned.manifest(s, corpusDir, v)
    // LIVE reads throughout: a key already tombstoned by a MOR delete is
    // not present, so re-deleting it is the no-op idempotence promises,
    // and the restage below materializes the touched partitions' DVs.
    // The entries holding a doomed key, in every layout (foreign ones'
    // survivors migrate to the current spec), plus their collisions.
    val touched = hitEntries(s, corpusDir, man, partCol,
      Versioned.readEntriesLive(s, corpusDir, v, man, man, Some(partCol),
          perScan = Versioned.withEntry)
        .join(keys.select(keyCol).distinct(), Seq(keyCol), "left_semi"))
    if (touched.isEmpty) return
    val survivors = Versioned.readEntriesLive(s, corpusDir, v, man, touched,
        Some(partCol))
      .join(keys.select(keyCol).distinct(), Seq(keyCol), "left_anti")
    commit(s, corpusDir, Some(v), man,
      Some(Stage(survivors, Some(partCol), Seq(keyCol))),
      replaced = touched.map(_._1).toSet, stats = CarrySuperset,
      emptyGuard = Some(s"delete would remove every row of $corpusDir — " +
        "an empty table cannot be read back; delete the table instead"))
  }

  /** Pruning hints from a WHERE-verb predicate: Spark's own rules turn
    * the analyzed condition into data-source `Filter`s —
    * `ConstantFolding`, then `UnwrapCastInBinaryComparison` (a widening
    * cast like `CAST(i AS BIGINT) > 5L` becomes `i > 5`; a narrowing
    * one stays wrapped and translates to nothing), then the top-level
    * AND conjuncts through `DataSourceStrategy.translateFilter` — and
    * [[filterPruneHints]], the catalog's rule, turns those into hints.
    * Soundness: a row where the predicate is TRUE makes every conjunct
    * TRUE, so a partition an extracted conjunct's tier prunes holds no
    * hit row — and the verbs re-evaluate the REAL predicate on every
    * surviving partition, so hints only ever skip reads. */
  private[graft] def predPruneHints(src: DataFrame, pred: Column)
      : (Seq[(String, Long, Long)], Seq[(String, Seq[String])]) = {
    import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding,
      UnwrapCastInBinaryComparison}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter => LFilter, LocalRelation}
    import org.apache.spark.sql.execution.datasources.graftbridge.ClassicBridge
    val cond =
      try src.where(pred).queryExecution.analyzed match {
        case f: LFilter =>
          UnwrapCastInBinaryComparison(ConstantFolding(
            LFilter(f.condition, LocalRelation(f.child.output)))) match {
            case LFilter(c, _) => c
            case _ => return (Nil, Nil)
          }
        case _ => return (Nil, Nil)
      } catch {
        case _: org.apache.spark.sql.AnalysisException => return (Nil, Nil)
      }
    val tz = Option(src.sparkSession.sessionState.conf.sessionLocalTimeZone)
    val hints = ClassicBridge.translateConjuncts(cond)
      .map(filterPruneHints(_, tz))
    (hints.flatMap(_._1), hints.flatMap(_._2))
  }

  /** The WHERE verbs' find-touched probe, pre-pruned through the shared
    * skipping kernel: manifest entries every tier with an opinion
    * admits for [[predPruneHints]]' conjuncts, plus the live hit rows
    * of just those entries, tagged ([[Versioned.withEntry]]). Returns
    * (full manifest, None) when no conjunct
    * is extractable, nothing prunes, or the pruned subset cannot
    * evaluate the predicate (its files predate a referenced column —
    * the full-manifest union null-fills it, so fall back). An EMPTY
    * entry list means every partition is provably hit-free. At 100 TB
    * this is the difference between a predicate write that scans the
    * corpus and one that scans the candidate partitions the sidecars
    * admit. */
  private def prunedLiveForPredicate(s: SparkSession, corpusDir: String,
      v: Long, man: Seq[(String, String)], partCol: String,
      pred: Column, src: DataFrame)
      : (Seq[(String, String)], Option[DataFrame]) = {
    val (ranges, values) = predPruneHints(src, pred)
    if (ranges.isEmpty && values.isEmpty) return (man, None)
    val entries = prunedEntries(s, corpusDir, v, man, ranges, values)
    if (entries.length == man.length) (man, None)
    else if (entries.isEmpty) (Nil, None)
    else
      try (entries, Some(Versioned.readEntriesLive(s, corpusDir, v, man,
        entries, Some(partCol), perScan = Versioned.withEntry)
        .where(coalesce(pred, lit(false)))))
      catch {
        case _: org.apache.spark.sql.AnalysisException => (man, None)
      }
  }

  /** SQL DELETE WHERE — the PREDICATE form of [[mergeDelete]]: remove
    * every corpus row satisfying `pred`, restaging only the partitions
    * that hold one (found with one live filtered pass — the same
    * find-touched discipline as the key form, cost ∝ touched-partition
    * bytes). Three-valued logic is SQL's: a row where the predicate
    * evaluates NULL survives (DELETE removes TRUE rows only — the
    * coalesce makes that explicit). A fully-emptied partition leaves
    * the manifest; emptying the table fails fast; a no-match delete
    * publishes nothing (idempotent replay for stable predicates).
    * `sortCol` restores clustering in the restaged partitions. Stats
    * carry for every surviving partition (row removal keeps old bounds
    * and dictionaries valid supersets); touched partitions' deletion
    * vectors materialize in the restage. */
  def mergeDeleteWhere(s: SparkSession, corpusDir: String, pred: Column,
                       partCol: String,
                       sortCol: Option[String] = None): Unit = {
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(return)
    val man = Versioned.manifest(s, corpusDir, v)
    val corpus = Versioned.readEntriesLive(s, corpusDir, v, man, man,
        Some(partCol), perScan = Versioned.withEntry)
    val hit = coalesce(pred, lit(false))
    // find-touched probe pre-pruned through the skipping kernel
    // (round 17): entries the zone-map/dict/bloom/name tiers prune for
    // the predicate's extractable conjuncts provably hold no hit row,
    // so the probe reads only the candidates — predicate-write cost
    // ∝ candidate partitions, not corpus. The entries holding a hit
    // row restage, in every layout, plus their collisions.
    val (candEntries, prunedHits) = prunedLiveForPredicate(s, corpusDir,
      v, man, partCol, pred, corpus)
    if (candEntries.isEmpty) return
    val touched = hitEntries(s, corpusDir, man, partCol,
      prunedHits.getOrElse(corpus.where(hit)))
    if (touched.isEmpty) return
    val survivors = Versioned.readEntriesLive(s, corpusDir, v, man, touched,
        Some(partCol))
      .where(!hit)
    commit(s, corpusDir, Some(v), man,
      Some(Stage(survivors, Some(partCol), sortCol.toSeq)),
      replaced = touched.map(_._1).toSet, stats = CarrySuperset,
      emptyGuard = Some(s"DELETE WHERE would remove every row of " +
        s"$corpusDir — an empty table cannot be read back; delete the " +
        "table instead"))
  }

  /** The UPDATE prologue ([[mergeUpdateWhere]], [[mergeUpdateMor]]) at
    * the current version `v` with manifest `man`: the SET map, the
    * [[Versioned.withEntry]]-tagged live read, the hit predicate
    * (NULL-predicate rows untouched) and the hit probe pre-pruned
    * through the skipping kernel ([[prunedLiveForPredicate]]): the
    * candidate entries and, when pruning bit, the hit rows among them. */
  private final case class UpdateProbe(v: Long, man: Seq[(String, String)],
                                       setMap: Map[String, Column],
                                       tagged: DataFrame, hit: Column,
                                       cand: Seq[(String, String)],
                                       prunedHits: Option[DataFrame])

  /** Check the SET list, read the current version and probe it for hit
    * rows: None when there is no committed version or every entry is
    * provably hit-free. Neither the key nor the partition column may be
    * a SET target, and a SET column absent from the data is refused
    * loudly (the per-column select would silently drop it; the
    * schema-evolution route is a write that CARRIES the column). */
  private def updateProbe(s: SparkSession, corpusDir: String, pred: Column,
                          set: Seq[(String, Column)], keyCol: String,
                          partCol: String): Option[UpdateProbe] = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val setMap = set.toMap
    require(!setMap.contains(keyCol) && !setMap.contains(partCol),
      "UPDATE cannot SET the key or partition column — a row's identity " +
        "and location are fixed (stable key→partition); route moves " +
        "through an explicit delete+insert")
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(return None)
    val man = Versioned.manifest(s, corpusDir, v)
    val tagged = Versioned.readEntriesLive(s, corpusDir, v, man, man,
        Some(partCol), perScan = Versioned.withEntry)
    val corpus = tagged.drop(Versioned.EntryCol)
    setMap.keys.filterNot(c => corpus.columns.contains(c)).toSeq.sorted match {
      case Nil => ()
      case missing => throw new IllegalArgumentException(
        s"UPDATE under $corpusDir: SET column(s) " +
          s"${missing.mkString(", ")} do not exist in the data — " +
          "schema evolution routes through an upsert/changelog write " +
          "that carries the column")
    }
    val (cand, prunedHits) = prunedLiveForPredicate(s, corpusDir, v, man,
      partCol, pred, corpus)
    if (cand.isEmpty) None
    else Some(UpdateProbe(v, man, setMap, tagged, coalesce(pred, lit(false)),
      cand, prunedHits))
  }

  /** SQL UPDATE WHERE: apply the `set` column transforms to every
    * corpus row satisfying `pred`, restaging only the partitions that
    * hold one (the [[mergeDeleteWhere]] cost model). NULL-predicate
    * rows are untouched (three-valued logic); rows are rewritten
    * in place, so neither the key nor the partition column may be a
    * set target — an identity or location change is a delete+insert,
    * not an update (the stable key→partition rule). Stats: untouched
    * partitions carry; an update can WIDEN a restaged partition's
    * bounds or grow its dictionary, so their lines are dropped unless
    * this call requests fresh ones (the changelog rule). */
  def mergeUpdateWhere(s: SparkSession, corpusDir: String, pred: Column,
                       set: Seq[(String, Column)], keyCol: String,
                       partCol: String,
                       statsKeys: Seq[String] = Nil,
                       dictKeys: Seq[String] = Nil,
                       bloomKeys: Seq[String] = Nil): Unit = {
    val UpdateProbe(v, man, setMap, tagged, hit, _, prunedHits) =
      updateProbe(s, corpusDir, pred, set, keyCol, partCol).getOrElse(return)
    val corpus = tagged.drop(Versioned.EntryCol)
    // the hit entries, as in mergeDeleteWhere: every layout, plus
    // collisions — a foreign entry's updated rows and survivors migrate
    val touched = hitEntries(s, corpusDir, man, partCol,
      prunedHits.getOrElse(tagged.where(hit)))
    if (touched.isEmpty) return
    val old0 = Versioned.readEntriesLive(s, corpusDir, v, man, touched,
        Some(partCol))
    // align the restaged partitions to the CORPUS schema (the
    // changelog alignment rule): a touched partition whose files
    // predate a schema-evolved column must null-fill it here, or a
    // SET of that column would silently vanish from the per-column
    // select below
    val old = old0.select(corpus.schema.fields.toSeq.map { f =>
      if (old0.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val updated = old.select(old.columns.toSeq.map { c =>
      setMap.get(c) match {
        case Some(expr) => when(hit, expr).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    // persisted constraints: a SET transform can manufacture violations
    // in rows that were clean at ingest — the read-back over the staged
    // files is the only check that sees the transformed values
    commit(s, corpusDir, Some(v), man,
      Some(Stage(updated, Some(partCol), Seq(keyCol))),
      replaced = touched.map(_._1).toSet, stats = CarryUnchanged,
      statsKeys = statsKeys, dictKeys = dictKeys, bloomKeys = bloomKeys,
      constraints = persistedConstraintCols(
        tableConstraints(s, corpusDir, v), old.columns.toSeq))
  }

  /** MERGE-ON-READ UPDATE (round 12 — the update twin of
    * [[mergeDeleteMor]]): instead of restaging every touched partition
    * ([[mergeUpdateWhere]]'s copy-on-write), publish ONE small dir of
    * FULL replacement row images plus a `uv` sidecar line per touched
    * partition — manifest and data dirs carry verbatim, write cost
    * ∝ matched rows, never partition bytes. The read-side tax is the
    * latest-image-per-key substitution
    * ([[graft.engine.Versioned.readEntriesLive]]), applied BEFORE the
    * tombstone anti-join and paid until [[compactDeletes]] or any
    * restaging write materializes it. Repeated MOR updates STACK: the
    * image staged at the highest version wins per key, so the read
    * never needs the intermediate generations (though they remain until
    * materialization). Content semantics are IDENTICAL to
    * [[mergeUpdateWhere]] by contract — the declared query shares its
    * oracle. Same SET restrictions (key and partition are a row's
    * identity); NULL-predicate rows untouched; a no-match update
    * publishes nothing. Stats lines of touched partitions DROP (an
    * update can widen bounds — the one sidecar where MOR updates differ
    * from MOR deletes, whose bounds stay valid supersets); the persisted
    * constraint set is validated on the staged images (the rows that
    * land). */
  def mergeUpdateMor(s: SparkSession, corpusDir: String, pred: Column,
                     set: Seq[(String, Column)], keyCol: String,
                     partCol: String): Unit = {
    val UpdateProbe(v, man, setMap, tagged, hit, candEntries, prunedHits) =
      updateProbe(s, corpusDir, pred, set, keyCol, partCol).getOrElse(return)
    val corpus = tagged.drop(Versioned.EntryCol)
    // the image scan reads only the candidates; the per-column select
    // needs the full corpus schema, so a pruned subset that predates
    // any referenced column falls back to the full read (same result
    // either way — pruning only skips provably hit-free partitions).
    val hitSrc = prunedHits
      .filter(_.columns.toSet == tagged.columns.toSet)
      .getOrElse(tagged.where(hit))
    // each image stages where the read looks for it, `<uv dir>/<holder
    // name>` ([[homed]]): under its own same-layout entry's name, and
    // under the current-spec value's dir when a foreign entry holds it
    // (that entry migrates below, into that dir)
    val images = homed(hitSrc.select(tagged.columns.toSeq.map { c =>
      setMap.get(c) match {
        case Some(e) => e.as(c)
        case None => col(c)
      }
    }: _*), candEntries, partCol)
    val tok = Versioned.newToken()
    val uvRel = s"uvdata/${v + 1}_$tok"
    val touched = writeMorStage(s, corpusDir, images, partCol, uvRel)
    if (touched.isEmpty) return
    validateStaged(s, corpusDir, uvRel, persistedConstraintCols(
      tableConstraints(s, corpusDir, v), corpus.columns.toSeq))
    // FILE SCOPE (see mergeDeleteMor): the files holding an imaged key
    // ([[morHolders]]). A FOREIGN holder's image sits under a
    // current-spec dir no foreign entry is named by: those holders
    // migrate in this same commit (with their collisions), after which
    // the images substitute against the migrated base. A needless
    // migration is a content-preserving restage, never wrong.
    val holders = morHolders(s, corpusDir, man, partCol, touched, keyCol,
      images.select(col(keyCol)).distinct())
    val foreignHolders = holders.keySet.filterNot(_.startsWith(s"$partCol="))
    val migrate =
      if (foreignHolders.isEmpty) Nil
      else restageClosure(s, corpusDir, man,
        man.filter(e => foreignHolders.contains(e._1)), partCol)
    // pure migration: the update is NOT applied by the restage — the
    // images substitute on read exactly as they do for in-place
    // holders; old dv/uv refs on the migrated entries materialize in
    // the live read and their lines drop. An update can widen bounds:
    // stats of imaged and migrated partitions drop.
    commit(s, corpusDir, Some(v), man,
      // (a same-layout collision keeps its name: its images sit there)
      if (migrate.isEmpty) None
      else Some(Stage(homed(Versioned.readEntriesLive(s, corpusDir, v, man,
        migrate, Some(partCol), perScan = Versioned.withEntry), migrate,
        partCol), Some(partCol), Seq(keyCol))),
      replaced = migrate.map(_._1).toSet, alsoChanged = touched.toSet,
      stats = CarryUnchanged, tok = tok,
      // a partition whose base just migrated has new file names — its
      // scope (computed from the pre-migration base) is stale, so the
      // line falls back to the whole-partition form
      newUv = stagedNames => touched.map { p =>
        // an image dir no committed entry is named by would never be
        // read: refuse rather than lose the update
        require(stagedNames(p) ||
            man.exists(_._1 == p) && !migrate.exists(_._1 == p),
          s"UPDATE under $corpusDir: images staged under $p, which no " +
            "entry of the new version is named — migrate the table " +
            "first (repartitionTable)")
        Versioned.morLine(Versioned.Uv, p, uvRel, Some(keyCol),
          if (stagedNames(p)) Nil else holders.getOrElse(p, Nil))
      })
  }

  /** MERGE-ON-READ row-level DELETE (Delta/Iceberg deletion vectors, at
    * FILE granularity since round 14): instead of restaging every
    * touched partition ([[mergeDelete]]'s copy-on-write), publish ONE
    * small tombstone-key dir plus a `dv` sidecar line per holder
    * manifest entry — the manifest, data dirs, and zone-map stats all
    * carry VERBATIM (bounds stay valid supersets after row removal).
    * Each line names the data FILES that held a doomed key (see
    * [[graft.engine.Versioned.MorRef]]), so the read-side tax is
    * one anti-join over ONLY those files' rows
    * ([[graft.engine.Versioned.readEntriesLive]]) — every other file
    * of a touched partition streams verbatim, and one deleted key in a
    * hot 10 GB partition taxes one file, not the partition — paid
    * until [[compactDeletes]] or any restaging write materializes it.
    * At 100 TB this is the difference between a GDPR sweep that
    * rewrites a terabyte-scale partition set and one that writes
    * kilobytes: CoW when deletes are dense (reclaim space now, keep
    * reads clean), MOR when they are sparse and latency-critical.
    *
    * WRITE-COST honesty (round 15): the staged BYTES are ∝ matched
    * keys, but computing the file scopes reads the KEY COLUMN of every
    * touched partition plus every foreign-layout entry (a columnar
    * single-column scan — the same price Delta pays to compute a DV's
    * row positions), and the hit file PATHS (not rows) collect to the
    * driver. Scoping earns that scan back on every subsequent read
    * until materialization; a deployment where the write-side scan
    * dominates (huge partitions, delete-heavy churn) should prefer
    * [[mergeDelete]]'s CoW, which pays a comparable scan and reclaims
    * immediately.
    *
    * One live-corpus pass finds the keys actually present (all-miss
    * keys publish NOTHING — idempotent like CoW, since re-deleting a
    * tombstoned key reads as absent); the tombstone dir is partitioned
    * by `partCol`, so touched-partition detection is a directory
    * listing of what was just written, not a second scan. A MOR delete
    * MAY logically empty the table — the manifest still carries the
    * schema, so the committed read is an empty frame, not an error
    * (materializing that state is what fails fast). */
  def mergeDeleteMor(s: SparkSession, corpusDir: String, keys: DataFrame,
                     keyCol: String, partCol: String): Unit = {
    // NOT withMaterialized: measured — the declared queries' key sets
    // are cheap filters and the verb's passes each prune differently
    // (the scope scan reads only keyCol), so caching cost ≥ re-eval.
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(return)
    val man = Versioned.manifest(s, corpusDir, v)
    val corpus = Versioned.readEntriesLive(s, corpusDir, v, man, man,
        Some(partCol))
    val tok = Versioned.newToken()
    val dvRel = s"dvdata/${v + 1}_$tok"
    val touched = writeMorStage(s, corpusDir,
      stageable(corpus.join(keys.select(keyCol).distinct(), Seq(keyCol),
          "left_semi"), partCol)
        .select(col(keyCol), col(partCol)).distinct(), partCol, dvRel)
    if (touched.isEmpty) return
    // FILE SCOPE + HOLDER KEYING ([[morHolders]]): one more bounded pass
    // over the candidates' BASE files finds the entries — and the files
    // within them — holding a doomed key. The read side anti-joins only
    // those files' rows (or filters their doomed row POSITIONS where the
    // density guard says that pays), and lines and the touch set key by
    // the HOLDER's own name: a key under an older spec's layout or under
    // a dir a read re-spells (`p=007` reads back as 7) is shadowed in the
    // entry that holds it. Base-file scopes ignore earlier tombstones (a
    // superset is always correct); data dirs are immutable and a
    // restage drops the line, so names and positions stay valid.
    val holders = morHolders(s, corpusDir, man, partCol, touched, keyCol,
      keys)
    // Defensive floor: a live doomed key always has a base row, so a
    // non-empty tombstone write implies hits; should that ever break,
    // whole-partition lines rather than a lost delete.
    val held =
      if (holders.isEmpty)
        Versioned.entriesNamed(man, touched).map(_._1 -> Nil)
      else holders.toSeq.sortBy(_._1)
    // nothing restages: stats (row removal keeps bounds valid
    // supersets) and update-vector refs carry verbatim — the read order
    // (substitute, then anti-join) makes a tombstone shadow any earlier
    // image of the same key
    commit(s, corpusDir, Some(v), man, alsoChanged = held.map(_._1).toSet,
      stats = CarryAll, tok = tok,
      newDv = held.map { case (n, fs) =>
        Versioned.morLine(Versioned.Dv, n, dvRel, None, fs) })
  }

  /** Materialize every outstanding deletion vector (Delta's
    * REORG TABLE … APPLY (PURGE)): restage ONLY the DV-bearing
    * partitions through the live read (tombstones fold into the
    * rewrite), drop every dv line, and let a partition whose every row
    * was tombstoned leave the manifest. After this the read-side
    * anti-join tax is gone and [[graft.engine.Versioned.vacuum]] can
    * reclaim the tombstone dirs. Stats carry verbatim (row removal
    * keeps old bounds valid supersets; the next merge or sorted
    * compaction re-tightens them). `sortCol` restores key clustering
    * in the rewritten partitions, as [[compactPartitions]] does.
    * No-op when no DVs are outstanding. Fails fast rather than
    * materializing a logically empty table. */
  def compactDeletes(s: SparkSession, corpusDir: String, partCol: String,
                     sortCol: Option[String] = None): Unit = {
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(return)
    // generalized to BOTH merge-on-read sidecars (round 12): a
    // partition bearing deletion vectors OR update vectors restages
    // through the live read, which folds tombstones out and images in
    val refs = Versioned.MorKinds
      .flatMap(Versioned.morRefs(s, corpusDir, v, _).keySet).toSet
    if (refs.isEmpty) return
    val man = Versioned.manifest(s, corpusDir, v)
    // mixed layouts: a foreign-layout bearing entry's rows migrate to
    // the current spec in this restage — fold in collision entries
    val bearing = restageClosure(s, corpusDir, man,
      man.filter(e => refs.contains(e._1)), partCol)
    commit(s, corpusDir, Some(v), man,
      Some(Stage(Versioned.readEntriesLive(s, corpusDir, v, man, bearing,
        Some(partCol)), Some(partCol), sortCol.toSeq, cluster = true)),
      replaced = bearing.map(_._1).toSet, stats = CarrySuperset,
      emptyGuard = Some(s"materializing the deletion vectors of " +
        s"$corpusDir would leave no partition — a logically empty table " +
        "cannot be materialized; delete the table instead"))
  }

  /** Apply ONE changelog batch ATOMICALLY — the full MERGE INTO form:
    * upserts (op `i`/`u`) and deletes (op `d`) from a single CDC batch
    * land in ONE committed version, where separate mergeUpsert +
    * mergeDelete calls would expose a half-applied intermediate
    * version to every reader (and to time travel forever). `changes`
    * carries the full row schema plus `opCol`; delete rows need only
    * their key (other columns ignored). Touched partitions = the
    * upsert rows' own `partCol` values ∪ the partitions the deleted
    * keys live in (one semi-join, as [[mergeDelete]]); those restage
    * key-sorted as survivors (old rows minus ALL changed keys) plus
    * the upsert rows. Same cost model as every write here:
    * ∝ touched-partition bytes + batch bytes. Stats: carried for
    * untouched partitions; `statsKeys` recomputes fresh
    * bounds for the restaged ones (without a stats request, restaged
    * partitions' lines are DROPPED — upserts can widen bounds, so the
    * old lines are not a valid superset the way [[mergeDelete]]'s
    * are). Idempotent: re-applying replaces keys with the same values
    * and re-deletes misses. */
  def mergeApplyChangelog(s: SparkSession, corpusDir: String,
                          changes: DataFrame, keyCol: String,
                          partCol: String, opCol: String = "op",
                          statsKeys: Seq[String] = Nil,
                          ledgerId: Option[String] = None,
                          constraints: Seq[(String, Column)] = Nil): Unit = {
    // snapshot before materialization — see mergeUpsert's ordering note
    val v0 = Versioned.currentVersion(s, corpusDir)
    withMaterialized(changes) { c =>
      mergeApplyChangelogImpl(s, corpusDir, v0, c, keyCol, partCol, opCol,
        statsKeys, ledgerId, constraints)
    }
  }

  private def mergeApplyChangelogImpl(s: SparkSession, corpusDir: String,
                          v0: Option[Long],
                          changes: DataFrame, keyCol: String,
                          partCol: String, opCol: String,
                          statsKeys: Seq[String],
                          ledgerId: Option[String],
                          constraints: Seq[(String, Column)]): Unit = {
    // constraints gate the rows that will LAND (upserts); delete rows
    // carry only a key and are exempt, as in every SQL engine
    if (constraints.nonEmpty)
      checkConstraints(changes.where(col(opCol) =!= "d"), constraints)
    val v = v0.getOrElse(
      throw new IllegalStateException(
        s"no committed version under $corpusDir — create the corpus " +
          "with mergeUpsert before applying changelogs"))
    // a replayed identified apply no-ops (exactly-once, see syncMirror)
    if (ledgerId.exists(id =>
          Versioned.ledgerContains(
            Versioned.appliedLedgerIds(s, corpusDir, v), id)))
      return
    val upserts = changes.where(col(opCol) =!= "d").drop(opCol)
    // persisted constraints: plan-check the landing rows now (fast loud
    // failure), read-back-check the staged files below (airtight)
    val persisted = persistedConstraintCols(
      tableConstraints(s, corpusDir, v), upserts.columns.toSeq)
    checkConstraints(upserts, persisted)
    val man = Versioned.manifest(s, corpusDir, v)
    val changedKeys = changes.select(keyCol).distinct()
    // Touched: the entries the upsert rows' values name, plus every
    // entry holding a deleted key ([[hitEntries]]). On an evolved store
    // every changed key probes: an upserted key under a foreign layout
    // migrates (a same-layout one lives in a named entry, by the stable
    // key→partition rule).
    val upsertNames = upserts.select(partCol).distinct().collect()
      .map(r => Versioned.partDirName(partCol, r.get(0))).toSet
    val probe =
      if (man.forall(_._1.startsWith(s"$partCol="))) changes
        .where(col(opCol) === "d").select(keyCol).distinct()
      else changedKeys
    val hit = hitEntries(s, corpusDir, man, partCol,
      Versioned.readEntriesLive(s, corpusDir, v, man, man, Some(partCol),
          perScan = Versioned.withEntry)
        .join(probe, Seq(keyCol), "left_semi"))
      .map(_._1).toSet ++
      Versioned.entriesNamed(man, upsertNames).map(_._1)
    val oldEntries = man.filter(e => hit(e._1))
    val touchedNames = upsertNames ++ hit
    if (touchedNames.isEmpty) {
      // No rows to move. An UNidentified apply publishes nothing; an
      // identified one still must RECORD the id — a ledger tick: one
      // manifest-carry commit (stats/dv verbatim) whose only content is
      // the applied id, so an empty feed (source advanced by maintenance
      // only) still advances the mirror's high-water mark instead of
      // being re-diffed on every future sync.
      // The EMPTY touch declaration says content untouched — a racing
      // upsert can rebase straight across a ledger tick.
      if (ledgerId.nonEmpty)
        commit(s, corpusDir, Some(v), man, stats = CarryAll,
          ledgerId = ledgerId)
      return
    }
    // LIVE: touched partitions' DVs materialize in this restage
    val merged =
      if (oldEntries.isEmpty) upserts
      else upserted(Versioned.readEntriesLive(s, corpusDir, v, man, oldEntries,
          Some(partCol), perScan = Versioned.withEntry), oldEntries,
        partCol, keyCol, upserts, changedKeys)
    commit(s, corpusDir, Some(v), man,
      Some(Stage(merged, Some(partCol), Seq(keyCol))),
      replaced = touchedNames, stats = CarryUnchanged, statsKeys = statsKeys,
      constraints = persisted, ledgerId = ledgerId,
      emptyGuard = Some(s"changelog would remove every row of $corpusDir " +
        "— an empty table cannot be read back; delete the table instead"))
  }

  /** CHANGE FEED between two committed versions — the READ side of CDC
    * (Delta's `table_changes`, computed from the version metadata
    * rather than logged at write time): the NET content difference from
    * `fromV` to `toV`, one row per changed key with `change_type` ∈
    * `insert` | `update` | `delete` (insert and update rows carry the
    * `toV` image, delete rows the `fromV` image). Metadata does the
    * heavy lifting: a partition whose manifest entry AND deletion-
    * vector refs are identical across the two versions cannot differ
    * and is NEVER read, so the diff costs ∝ changed-partition bytes on
    * both sides plus one key-shuffled full-outer join — never corpus
    * bytes. At 100 TB a CDC batch that touched 1% of partitions diffs
    * 2×1% of the data.
    *
    * Because the feed is a CONTENT diff, a rewrite that moved bytes
    * without changing rows (compaction, sorted rewrite, DV
    * materialization, a rollback to identical content) contributes
    * NOTHING, and an upsert that rewrote a key with identical values is
    * invisible — the feed answers "what changed", not "what did writers
    * do", which is the question downstream sync needs ([[syncMirror]]
    * builds on exactly this). Schema evolution: both sides align to the
    * union of their columns (missing columns null-fill), so a key whose
    * only difference is a later-added column's value classifies as
    * update. `fromV` must be at or above the retention floor (its data
    * dirs must still exist); a diff spanning N versions is ONE call —
    * intermediate versions are never materialized. */
  def changeFeed(s: SparkSession, corpusDir: String, fromV: Long,
                 toV: Long, keyCol: String): DataFrame = {
    val (cols, diff) = keyDiff(s, corpusDir, fromV, toV, keyCol, identity)
    val img = when(col("__cf_new").isNull, col("__cf_old"))
      .otherwise(col("__cf_new"))
    diff.select(cols.map(c => img.getField(c).as(c)) :+
      col("change_type"): _*)
  }

  /** The key diff behind [[changeFeed]] and [[changelog]]: the changed
    * partitions of both versions ([[Versioned.changedParts]], read live
    * at the layout each side's manifest names, [[Versioned.partColOf]]),
    * aligned to the union of their columns, narrowed to `pick(columns)`,
    * and full-outer joined on the key as `__cf_k` with the old and new
    * images as structs `__cf_old` / `__cf_new` (null exactly when the
    * key is absent from that version). One row per changed key,
    * classified in `change_type`: `insert` (absent before), `delete`
    * (absent after) or `update` (present in both, images not null-safe
    * equal). Returns the picked columns and the diff. */
  private def keyDiff(s: SparkSession, corpusDir: String, fromV: Long,
                      toV: Long, keyCol: String,
                      pick: Seq[String] => Seq[String])
      : (Seq[String], DataFrame) = {
    require(fromV < toV,
      s"changeFeed needs fromV < toV, got $fromV -> $toV under $corpusDir")
    // tagged versions are exempt, as in readVersion/rollback: a mirror
    // whose high-water version is PINNED (data retained by vacuum) must
    // stay syncable below the floor — that retention-exempt pin is the
    // replication use case tags exist for (r11 advice)
    Versioned.retentionFloor(s, corpusDir).foreach(f => require(
      fromV >= f || Versioned.tags(s, corpusDir).values.exists(_ == fromV),
      s"version $fromV is below the retention floor $f under $corpusDir " +
        "— its data dirs may have been vacuumed (tagged versions are " +
        "exempt); sync mirrors or tag their high-water version before " +
        "vacuuming past it"))
    // The pruning heart: only the changed partitions are read
    val (manFrom, manTo, changed) =
      Versioned.changedParts(s, corpusDir, Some(fromV), toV)
    def side(v: Long, man: Seq[(String, String)]): DataFrame = {
      val es = man.filter(e => changed(e._1))
      val partCol = Versioned.partColOf(man)
      if (es.nonEmpty)
        Versioned.readEntriesLive(s, corpusDir, v, man, es, partCol)
      else {
        // no changed entries on this side (all-new or all-dropped
        // partitions live on the other) — an empty frame at this side's
        // schema, from its newest staged dir. A fully EMPTY manifest
        // cannot supply a schema: unreachable today (emptying a table
        // fails fast everywhere), guarded loudly for the day a
        // MOR-emptied table meets the feed (r11 verdict nit).
        require(man.nonEmpty,
          s"changeFeed: a side of the $fromV->$toV diff under $corpusDir " +
            "has an empty manifest — its schema cannot be recovered; an " +
            "emptied table cannot feed a diff")
        Versioned.emptyFrame(s, corpusDir, man, partCol)
      }
    }
    val o = side(fromV, manFrom)
    val n = side(toV, manTo)
    val cols = pick((o.columns ++ n.columns).distinct.toSeq)
    def image(df: DataFrame, other: DataFrame, as: String) =
      df.select(col(keyCol).as("__cf_k"), struct(cols.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(other.schema(c).dataType).as(c)
      }: _*).as(as))
    // full-outer on the key: a side's struct is null exactly when the
    // key is absent from that version; <=> (null-safe struct equality)
    // kills the unchanged survivors a restage rewrote verbatim
    val ct = when(col("__cf_old").isNull, lit("insert"))
      .when(col("__cf_new").isNull, lit("delete"))
      .when(!(col("__cf_old") <=> col("__cf_new")), lit("update"))
    (cols, image(o, n, "__cf_old").join(image(n, o, "__cf_new"),
        Seq("__cf_k"), "full_outer")
      .withColumn("change_type", ct)
      .where(col("change_type").isNotNull))
  }

  /** Incremental REPLICATION of one versioned store into another — the
    * composition CDC exists for (Delta's `table_changes` + MERGE INTO,
    * as one idempotent call): advance `dstDir` to `srcDir`'s CURRENT
    * content by applying ONE net [[changeFeed]] from the last synced
    * source version, recording that source version in the destination's
    * applied-id ledger (`src:<v>`) inside the SAME committed version as
    * the data. Exactly-once by the incremental-rollup argument: the id
    * commits with the marker or not at all, a replayed sync finds the
    * id and no-ops, and a crash between feed and publish leaves only
    * orphaned (distrusted) sidecars. The first call bootstraps the
    * mirror as a full snapshot of the source's current version; later
    * calls collapse N source commits into ONE feed — the mirror's
    * history is sync-granular, not source-commit-granular (at 100 TB
    * you ship the NET change, not the churn), and a source that only
    * ran maintenance (compaction, retention ticks with equal content)
    * yields an empty feed that still advances the high-water mark via a
    * ledger-tick commit. Source rollbacks are safe by construction:
    * rollback publishes a HIGHER version restoring old content, so the
    * next feed diffs into it like any other change. Returns the source
    * version the mirror now reflects. */
  def syncMirror(s: SparkSession, srcDir: String, dstDir: String,
                 keyCol: String, partCol: String): Long = {
    val srcV = Versioned.currentVersion(s, srcDir).getOrElse(
      throw new IllegalStateException(
        s"no committed version under source $srcDir — nothing to mirror"))
    Versioned.currentVersion(s, dstDir) match {
      case None =>
        mergeUpsert(s, dstDir,
          Versioned.readVersion(s, srcDir, srcV, Some(partCol)),
          keyCol, partCol, ledgerId = Some(s"src:$srcV"))
        srcV
      case Some(dv) =>
        val last = Versioned.appliedLedgerIds(s, dstDir, dv)
          .collect { case id if id.startsWith("src:") => id.drop(4).toLong }
        require(last.nonEmpty,
          s"$dstDir has no src:<version> ledger id — it is not a mirror " +
            "(bootstrap by calling syncMirror against an empty dstDir)")
        val from = last.max
        if (from >= srcV) return from  // up to date; nothing to commit
        val feed = changeFeed(s, srcDir, from, srcV, keyCol)
        val changes = feed.withColumn("op",
            when(col("change_type") === "delete", lit("d"))
              .when(col("change_type") === "insert", lit("i"))
              .otherwise(lit("u")))
          .drop("change_type")
        mergeApplyChangelog(s, dstDir, changes, keyCol, partCol,
          ledgerId = Some(s"src:$srcV"))
        srcV
    }
  }

  /** Type-aware equality/IN residual for the pruned reader: cast the
    * literal VALUES to the column's type instead of casting the COLUMN
    * to string, so the predicate reaches parquet as a pushable
    * `In(col, …)` DataFilter and row-group stats skip inside the
    * partitions the sidecars kept — a cast-wrapped column is not a
    * pushable parquet filter, and at 100 TB that is the difference
    * between reading one row group and one partition. Values that
    * cannot cast to the column's type (checked driver-side with TRY
    * semantics, so an ANSI session never throws) can match no row of
    * that type and are dropped; if none survive the residual is
    * `false`. String columns keep the plain isin. The SIDECAR probes
    * are untouched: dictionaries store string renderings and blooms
    * hash `xxhash64(cast(col AS string))` on both sides, so prune
    * decisions are bit-identical — only the residual's shape changes. */
  private def typedInResidual(df: DataFrame, c: String,
                              vals: Seq[String]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    import org.apache.spark.sql.types.StringType
    val dt = df.schema.fields.find(_.name.equalsIgnoreCase(c))
      .map(_.dataType).getOrElse(StringType)
    if (dt == StringType) col(c).isin(vals: _*)
    else {
      val castable = vals.filter { v =>
        Cast(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(v),
              StringType), dt, Some("UTC"), EvalMode.TRY)
          .eval(null) != null
      }
      if (castable.isEmpty) lit(false)
      else col(c).isin(castable.map(v => lit(v).cast(dt)): _*)
    }
  }

  /** The hash the bloom sidecar is keyed by, computed ON THE DRIVER for
    * the pruning probe: Spark's own `XxHash64` expression evaluated on
    * the string literal — bit-identical to the executor-side
    * `xxhash64(cast(col AS string))` the writer aggregated, because it
    * IS the same expression (default seed 42). */
  private[graft] def bloomProbeHash(v: String): Long =
    new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(v),
        org.apache.spark.sql.types.StringType))).eval(null)
      .asInstanceOf[Long]

  /** The ONE rule that turns a data-source `Filter` into pruning hints
    * for [[skipEntries]]: zone-map `ranges` (column, lo, hi) and
    * equality/IN `values` (column, string renderings) probed against
    * the dictionary, bloom and manifest-name tiers. The catalog feeds it
    * Spark's pushed filters ([[graft.sql.GraftScanBuilder]]); the WHERE
    * verbs feed it the filters [[predPruneHints]] translates. Empty
    * hints mean the filter cannot prune. The type rule is the whole
    * soundness argument, since a wrong hint prunes a partition that
    * holds a hit row:
    *  - ranges come from INTEGRAL literals only (the zone-map tier
    *    records integral bounds);
    *  - values are the literal rendered through Spark's own `Cast` to
    *    string in the session time zone — exactly how the sidecar
    *    writer rendered the column and how the manifest names render
    *    partition values (`String.valueOf` disagrees for timestamps) —
    *    except FLOAT/DOUBLE literals, which give no value hint: SQL
    *    holds `-0.0 = 0.0`, but the two render differently;
    *  - IN is all-or-nothing: probing a subset of the list would prune
    *    a partition that holds only an unrendered value;
    *  - a literal `Cast` cannot render gives no hint — no pruning,
    *    never a wrong answer. */
  private[graft] def filterPruneHints(f: org.apache.spark.sql.sources.Filter,
                                      timeZone: Option[String])
      : (Seq[(String, Long, Long)], Seq[(String, Seq[String])]) = {
    import org.apache.spark.sql.sources._
    def render(v: Any): Option[String] = v match {
      case null | _: java.lang.Float | _: java.lang.Double => None
      case s: String => Some(s)
      case other => scala.util.Try {
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
        Option(Cast(Literal(other), org.apache.spark.sql.types.StringType,
          timeZone).eval(null)).map(_.toString)
      }.toOption.flatten
    }
    def integral(v: Any): Option[Long] = v match {
      case n @ (_: java.lang.Byte | _: java.lang.Short |
                _: java.lang.Integer | _: java.lang.Long) =>
        Some(n.asInstanceOf[Number].longValue)
      case _ => None
    }
    def ranged(c: String, bounds: Option[(Long, Long)]) =
      (bounds.map { case (lo, hi) => (c, lo, hi) }.toSeq, Nil)
    f match {
      case EqualTo(c, v) =>
        (integral(v).map(n => (c, n, n)).toSeq,
         render(v).map(r => (c, Seq(r))).toSeq)
      case In(c, vs) if vs != null && vs.nonEmpty =>
        val rendered = vs.toSeq.flatMap(render)
        (Nil, if (rendered.length == vs.length) Seq((c, rendered)) else Nil)
      case GreaterThan(c, v) => ranged(c, integral(v)
        .filter(_ < Long.MaxValue).map(n => (n + 1, Long.MaxValue)))
      case GreaterThanOrEqual(c, v) =>
        ranged(c, integral(v).map((_, Long.MaxValue)))
      case LessThan(c, v) => ranged(c, integral(v)
        .filter(_ > Long.MinValue).map(n => (Long.MinValue, n - 1)))
      case LessThanOrEqual(c, v) =>
        ranged(c, integral(v).map((Long.MinValue, _)))
      case And(l, r) =>
        val (lr, lv) = filterPruneHints(l, timeZone)
        val (rr, rv) = filterPruneHints(r, timeZone)
        (lr ++ rr, lv ++ rv)
      case _ => (Nil, Nil)
    }
  }

  /** The shared three-tier PRUNING KERNEL: keep a manifest entry only
    * if every tier with an opinion admits it — range zone maps for the
    * `ranges` predicates, dictionary + bloom for each `values`
    * (equality/IN) predicate, plus the manifest NAME itself for values
    * on an entry's partition column — the zeroth tier every table
    * format gets for free: `col=value` dir names ARE the partition
    * index, no sidecar needed; a name admits a value through the
    * partition-identity rule ([[Versioned.entriesNamed]]: `p=007`
    * admits 7, the value a read surfaces). A partition with no line in
    * some tier is admitted by that tier (stats are an optimization,
    * never a correctness gate). Tiers short-circuit cheapest-first, so a
    * partition the name/range/dict tiers pruned never deserializes its
    * bloom bitset (the [[graft.engine.LazyBloom]] contract — decoded
    * driver heap is O(survivors × probed columns), not O(all
    * partitions)). A pure function of the zone maps: [[prunedEntries]]
    * loads them, and the catalog's name-tier-only calls pass
    * [[Versioned.NoZoneMaps]]. */
  private[graft] def skipEntries(man: Seq[(String, String)],
      ranges: Seq[(String, Long, Long)],
      values: Seq[(String, Seq[String])],
      zm: Versioned.ZoneMaps): Seq[(String, String)] = {
    val hashed = values.map { case (c, vals) =>
      (c, vals.map(bloomProbeHash)) }
    // the name tier is LAYOUT-AWARE (metadata-tier partition
    // evolution): an entry's own `col=` prefix says which spec wrote
    // it, so a value predicate on THAT column prunes by dir name while
    // entries of other layouts pass to the sidecar tiers — per-layout
    // pruning over a mixed manifest, Iceberg's spec-evolution read
    // shape
    val nameWanted = values.map { case (c, vals) => (c, Versioned
      .entriesNamed(man, vals.map(Versioned.partDirName(c, _))).toSet) }
    man.filter { case (n, rel) =>
      val layout = Versioned.partOf(n).map(_._1)
      // a value on the entry's OWN partition column is the name tier's
      // alone: the dict and bloom tiers hold the value Spark re-infers
      // from the dir name, a rendering the hint need not share
      def own(c: String) = layout.exists(_.equalsIgnoreCase(c))
      def nameOk = nameWanted.forall { case (c, named) =>
        !own(c) || named((n, rel)) }
      def rangeOk = zm.ranges.get(n).forall { cols =>
        ranges.forall { case (c, lo, hi) =>
          cols.get(c).forall { case (slo, shi) => shi >= lo && slo <= hi }
        }
      }
      def dictOk = zm.dicts.get(n).forall { cols =>
        values.forall { case (c, vals) =>
          own(c) || cols.get(c).forall(set => vals.exists(set.contains))
        }
      }
      def bloomOk = zm.blooms.get(n).forall { cols =>
        hashed.forall { case (c, hs) =>
          own(c) || cols.get(c).forall(bf => hs.exists(bf.mightContainLong))
        }
      }
      nameOk && rangeOk && dictOk && bloomOk
    }
  }

  /** The ONE tier-loading step in front of [[skipEntries]]: reads the
    * stats sidecar once when there is a hint ([[Versioned.zoneMaps]],
    * blooms of the probed columns only) and returns the entries of
    * `man` every tier admits. */
  private[graft] def prunedEntries(s: SparkSession, corpusDir: String,
      v: Long, man: Seq[(String, String)],
      ranges: Seq[(String, Long, Long)],
      values: Seq[(String, Seq[String])]): Seq[(String, String)] =
    skipEntries(man, ranges, values,
      if (ranges.isEmpty && values.isEmpty) Versioned.NoZoneMaps
      else Versioned.zoneMaps(s, corpusDir, v, Some(values.map(_._1).toSet)))

  /** The ONE pruned read of version `v`: the [[prunedEntries]]
    * survivors read live (deletion vectors applied), with the hints'
    * typed residual conjunction applied on top, so the result is
    * exactly the filtered table however much pruning bit. An
    * all-pruned read is an empty frame at the newest entry's schema
    * ([[Versioned.emptyFrame]]). Returns the kept entries beside the
    * frame. Shared by [[readCorpusSkipPruned]] and the SQL front door
    * ([[graft.sql.GraftCatalog]]), so DataFrame and SQL reads prune
    * through one path. */
  private[graft] def skipPrunedRead(s: SparkSession, corpusDir: String,
      v: Long, man: Seq[(String, String)], partCol: Option[String],
      ranges: Seq[(String, Long, Long)],
      values: Seq[(String, Seq[String])])
      : (Seq[(String, String)], DataFrame) = {
    val kept = prunedEntries(s, corpusDir, v, man, ranges, values)
    val base =
      if (kept.isEmpty) Versioned.emptyFrame(s, corpusDir, man, partCol)
      else Versioned.readEntriesLive(s, corpusDir, v, man, kept, partCol)
    val preds =
      ranges.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi } ++
        values.map { case (c, vals) => typedInResidual(base, c, vals) }
    (kept, if (preds.isEmpty) base else base.where(preds.reduce(_ && _)))
  }

  /** DATA SKIPPING over the current version — all three sidecar tiers
    * in ONE pruning pass: range zone maps for the `ranges` predicates,
    * and BOTH the dictionary and bloom tiers for each `values`
    * (equality/IN) predicate, plus the manifest names for values on the
    * partition column — a partition is kept only if EVERY tier that
    * has an opinion admits it (a recorded dictionary with none of the
    * wanted values prunes even when the bloom false-positives, and vice
    * versa; a partition with no line in some tier is admitted by that
    * tier — stats are never a correctness gate). The residual
    * conjunction runs on the survivors, so the result is exactly the
    * filtered corpus however much pruning bit. This is the entry point
    * a query planner would call: one manifest pass, driver-side
    * metadata probes only, then the minimal read. */
  def readCorpusSkipPruned(s: SparkSession, corpusDir: String,
                           partCol: String,
                           ranges: Seq[(String, Long, Long)] = Nil,
                           values: Seq[(String, Seq[String])] = Nil)
      : DataFrame = {
    require(ranges.nonEmpty || values.nonEmpty,
      "readCorpusSkipPruned needs at least one range or value predicate")
    val v = Versioned.currentVersion(s, corpusDir)
      .getOrElse(sys.error(s"no committed version under $corpusDir"))
    skipPrunedRead(s, corpusDir, v, Versioned.manifest(s, corpusDir, v),
      Some(partCol), ranges, values)._2
  }

  /** Read the current committed corpus state (see [[Versioned]]). */
  def readCorpus(s: SparkSession, corpusDir: String,
                 partCol: String): DataFrame =
    Versioned.readCurrent(s, corpusDir, Some(partCol))

  /** Post-merge maintenance: restage every partition whose data-file
    * count exceeds `maxFilesPerPart` — repeated merges leave one file per
    * shuffle task per merge in the touched partitions, and at 100 TB the
    * per-file open/footer cost on later scans dominates short queries
    * long before data volume does (same rationale as
    * [[graft.engine.Pipeline.compact]], composed with the commit
    * protocol). One Spark job rewrites ALL fragmented partitions:
    * `repartition(partCol)` clusters each partition value into a single
    * task, so the partitionBy writer emits exactly one file per value,
    * and the new version's manifest points untouched partitions at their
    * existing dirs. Multiset-preserving by construction (pure
    * read→repartition→write); publish is atomic as ever. `sortCol`
    * re-clusters each compacted partition by that column during the
    * rewrite (the OPTIMIZE-with-sort idiom): compaction is the natural
    * moment to restore key order that interleaved merges eroded, so
    * parquet row-group skipping stays tight without a separate pass. */
  def compactPartitions(s: SparkSession, corpusDir: String, partCol: String,
                        maxFilesPerPart: Int = 4,
                        sortCol: Option[String] = None): Unit = {
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(return)
    val man = Versioned.manifest(s, corpusDir, v)
    val frag0 = man.filter(e =>
      Versioned.dataFileCount(s, corpusDir, e._2) > maxFilesPerPart)
    if (frag0.isEmpty) return
    // mixed layouts: a foreign-layout fragmented entry migrates to the
    // current spec in this restage — fold in collision entries
    val frag = restageClosure(s, corpusDir, man, frag0, partCol)
    // LIVE read: compaction is the natural materialization point for any
    // deletion vectors on the fragmented partitions (Delta's OPTIMIZE
    // does the same) — their tombstones fold into the rewrite, and a
    // fragmented partition whose every live row was tombstoned restages
    // to nothing and leaves the manifest. Compaction preserves each
    // partition's multiset, so every zone-map line carries VERBATIM
    // (at 100 TB the whole point of compacting is to make the NEXT
    // scans cheaper; un-prunable next scans would defeat it).
    commit(s, corpusDir, Some(v), man,
      Some(Stage(Versioned.readEntriesLive(s, corpusDir, v, man, frag,
        Some(partCol)), Some(partCol), sortCol.toSeq, cluster = true)),
      replaced = frag.map(_._1).toSet, stats = CarryAll,
      emptyGuard = Some(s"compacting $corpusDir would leave no partition " +
        "(every live row was tombstoned) — a logically empty table cannot " +
        "be materialized; delete the table instead"))
  }

  /** OPTIMIZE ZORDER for the versioned store: restage every partition
    * with rows MORTON-ORDERED on two columns inside each partition
    * ([[graft.engine.Pipeline.mortonKey]] — global-bounds 16-bit ranks,
    * bit-interleaved), so parquet row-group min/max stats stay tight on
    * BOTH columns at once where a single-column sort keeps only its
    * leading column clustered. This completes the two-tier skipping
    * story the multi-column zone maps start: manifest pruning drops
    * whole partitions by per-partition bounds, and inside the surviving
    * partitions z-ordered row groups let EITHER column's residual
    * predicate skip at the row-group tier — at 100 TB the second tier
    * is what keeps a narrow two-column range from reading a whole
    * partition. One maintenance pass, three outcomes: layout restored,
    * outstanding deletion vectors materialized (live read, all dv lines
    * drop — it IS a full restage), and the requested stats forms
    * recomputed fresh from the staged files in the same commit (forms
    * not requested carry verbatim — multiset preservation keeps them
    * exact, the compaction rule). Content-invisible: the change feed
    * across a z-order compaction is empty. A fully-tombstoned partition
    * restages to nothing and leaves the manifest; emptying the table
    * fails fast as ever. */
  def compactZOrder(s: SparkSession, corpusDir: String, partCol: String,
                    zCols: (String, String),
                    statsKeys: Seq[String] = Nil,
                    dictKeys: Seq[String] = Nil,
                    bloomKeys: Seq[String] = Nil): Unit = {
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(return)
    val man = Versioned.manifest(s, corpusDir, v)
    val live = Versioned.readEntriesLive(s, corpusDir, v, man, man,
                                         Some(partCol))
    val (ca, cb) = zCols
    val mm = live.agg(min(col(ca)).cast("double"),
                      max(col(ca)).cast("double"),
                      min(col(cb)).cast("double"),
                      max(col(cb)).cast("double")).head()
    // all-null z-columns: nothing to cluster — keep the plain
    // partition-clustered rewrite (the sinkZOrder degenerate rule)
    val clustered = live.repartition(col(partCol))
    val sorted =
      if (mm.isNullAt(0) || mm.isNullAt(2)) clustered
      else clustered
        .withColumn("__z", graft.engine.Pipeline.mortonKey(col(ca), col(cb),
          mm.getDouble(0), mm.getDouble(1), mm.getDouble(2),
          mm.getDouble(3)))
        .sortWithinPartitions(col(partCol), col("__z"))
        .drop("__z")
    // a FULL restage: every partition is replaced and declared touched,
    // the live read materialized every tombstone and image
    commit(s, corpusDir, Some(v), man, Some(Stage(sorted, Some(partCol))),
      replaced = man.map(_._1).toSet, stats = CarryUnrecomputed,
      statsKeys = statsKeys, dictKeys = dictKeys, bloomKeys = bloomKeys,
      emptyGuard = Some(s"z-ordering $corpusDir would leave no partition " +
        "(every live row was tombstoned) — a logically empty table cannot " +
        "be materialized; delete the table instead"))
  }

  /** PARTITION EVOLUTION, first tier (Iceberg evolves the spec as
    * metadata; the honest first tier on a dir-partitioned store is an
    * ATOMIC FULL REWRITE through the same versioned protocol): restage
    * the whole live table clustered and partitioned by `newPartCol`,
    * publish at snapshot+1 under the ordinary OCC claim. Everything
    * composes the way a maintenance commit must:
    *
    *  - CONTENT-INVISIBLE: the committed rows are byte-for-byte the
    *    live rows (tombstones and update vectors materialize in the
    *    rewrite), so [[changeFeed]] across the repartition classifies
    *    ZERO changes — layout moves, the feed stays silent, mirrors
    *    stream nothing (the zorder rule). Mixed-layout diff reads work
    *    because [[graft.engine.Versioned.readEntries]] re-derives each
    *    stage dir's partition column from its own dir structure. A feed
    *    WINDOW crossing the move passes the OLD partCol (only the
    *    from-side can carry tombstones — the rewrite materialized them
    *    all); sync mirrors up to the repartition version before taking
    *    new MOR deletes on the new layout, so no window ever holds
    *    tombstones of two layouts.
    *  - TIME-TRAVELABLE: older versions keep their manifests verbatim —
    *    `readVersion(v_old, Some(oldPartCol))` reads the old layout
    *    until retention sweeps it.
    *  - CONSTRAINT-SAFE: the staged read-back validates main's
    *    persisted CHECK set before anything publishes.
    *  - SIDECAR RULES: old stats/dict/bloom lines are keyed by OLD
    *    partition dir names — all drop; fresh ones are recorded for the
    *    new layout when requested. No dv/uv lines survive (the rewrite
    *    materialized them); the applied-ids ledger and the constraint
    *    set need no copy (readers walk back to the newest committed
    *    sidecar).
    *  - CONCURRENCY: deliberately NO touch declaration — an undeclared
    *    commit "touches everything", so a racing upsert that staged
    *    under the OLD layout re-derives loudly instead of rebasing a
    *    stale-layout manifest onto the new one.
    *
    * Cost: one full read + shuffle + write — at 100 TB this is a
    * scheduled maintenance job, not a hot-path operation; what the
    * protocol buys is that it is atomic, crash-safe, and invisible to
    * every downstream contract. Callers own the partCol parameter they
    * pass readers afterwards, as everywhere in this API. */
  /** INSERT OVERWRITE (the atomic full-table REPLACE — the backfill
    * rewrite): stage `batch` as the COMPLETE next version. Every old
    * manifest entry leaves; no stats/dv/uv line carries — all
    * partitions are replaced, so carried zone bounds or tombstone refs
    * would describe content that no longer exists; persisted CHECK
    * constraints validate on the staged read-back BEFORE publish; the
    * commit takes the ordinary OCC claim with deliberately NO touch
    * declaration (an undeclared commit "touches everything", so a
    * concurrent writer re-derives loudly instead of rebasing onto
    * vanished partitions). Key uniqueness is enforced loudly up front —
    * the store's upsert invariant; a duplicate key would silently
    * half-apply every later update. An empty batch fails fast
    * (emptying is table deletion). Time travel keeps reading the
    * replaced versions until retention sweeps them. */
  def replaceTable(s: SparkSession, corpusDir: String, batch: DataFrame,
                   keyCol: String, partCol: String): Unit = {
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(
      throw new IllegalStateException(
        s"no committed version under $corpusDir — INSERT OVERWRITE " +
          "replaces an existing table; create it first"))
    val shape = batch.agg(count(lit(1)), count_distinct(col(keyCol)))
      .head()
    require(shape.getLong(0) > 0L,
      s"INSERT OVERWRITE with an empty batch would empty $corpusDir — " +
        "that is table deletion, not a replace")
    require(shape.getLong(0) == shape.getLong(1),
      s"INSERT OVERWRITE batch carries duplicate or null '$keyCol' " +
        s"keys (${shape.getLong(0)} rows, ${shape.getLong(1)} distinct " +
        "keys) — the store is key-unique")
    val man = Versioned.manifest(s, corpusDir, v)
    commit(s, corpusDir, Some(v), man,
      Some(Stage(batch, Some(partCol), Seq(keyCol))),
      replaced = man.map(_._1).toSet, stats = CarryNone,
      constraints = persistedConstraintCols(
        tableConstraints(s, corpusDir, v), batch.columns.toSeq),
      declareTouch = false)
  }

  def repartitionTable(s: SparkSession, corpusDir: String,
                       oldPartCol: String, newPartCol: String,
                       statsKeys: Seq[String] = Nil,
                       dictKeys: Seq[String] = Nil,
                       bloomKeys: Seq[String] = Nil): Unit = {
    require(oldPartCol != newPartCol,
      s"repartitionTable needs a NEW partition column, got '$oldPartCol' " +
        "twice — for a same-column re-clustering use compactSmallFiles " +
        "or compactZOrder")
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(return)
    val man = Versioned.manifest(s, corpusDir, v)
    val live = Versioned.readEntriesLive(s, corpusDir, v, man, man,
                                         Some(oldPartCol))
    require(live.columns.contains(newPartCol),
      s"new partition column '$newPartCol' is not a column of the " +
        s"table under $corpusDir: ${live.columns.mkString(", ")}")
    commit(s, corpusDir, Some(v), man,
      Some(Stage(live, Some(newPartCol), cluster = true)),
      replaced = man.map(_._1).toSet, stats = CarryNone,
      statsKeys = statsKeys, dictKeys = dictKeys, bloomKeys = bloomKeys,
      constraints = persistedConstraintCols(
        tableConstraints(s, corpusDir, v), live.columns.toSeq),
      emptyGuard = Some(s"repartitioning $corpusDir would leave no " +
        "partition (every live row was tombstoned) — a logically empty " +
        "table cannot be materialized; delete the table instead"),
      declareTouch = false)
  }
  /** Type-2 slowly-changing-dimension merge: fold a change batch into a
    * versioned history table — open rows whose attributes CHANGED are
    * closed (`valid_to` = version) and a new open row is appended;
    * unchanged keys are left untouched, which is what makes re-applying
    * the same batch a no-op (idempotence falls out of the attribute
    * comparison, not a transaction log). `merge_upsert` keeps only the
    * latest truth; SCD2 keeps every version — the as-of-join side input
    * ([[Relational.joinAsof]]) every point-in-time feature pipeline needs.
    *
    * The one-open-row-per-key invariant is ENFORCED at the door: a batch
    * carrying two rows for one key would append two open rows, so
    * duplicate keys fail fast (one dimension-sized aggregate — cheap next
    * to the diff join) rather than silently corrupting the history that
    * joinAsof consumers trust.
    *
    * Scale: histories are dimension-sized (≪ facts); the change detection
    * is one key-equi join of batch × OPEN rows (open set ≤ |dimension|),
    * and the null-safe `<=>` comparison keeps NULL attribute transitions
    * honest. The rewrite stages the whole history under the next version
    * and publishes atomically ([[Versioned]]) — at warehouse scale,
    * partition it by a key hash and restage only touched partitions
    * exactly as [[mergeUpsert]] does. */
  def mergeScd2(s: SparkSession, historyDir: String, changes: DataFrame,
                keyCol: String, attrCols: Seq[String],
                version: Long): Unit = {
    val outCols = (keyCol +: attrCols) ++ Seq("valid_from", "valid_to")
    requireOneRowPerKey(changes, keyCol, "mergeScd2")
    Versioned.currentVersion(s, historyDir) match {
      case None =>
        commit(s, historyDir, None, Nil, Some(Stage(
          opened(changes, version).selectExpr(outCols: _*), None)),
          stats = CarryNone, declareTouch = false)
      case Some(v) =>
        // pinned to v (not re-read): the version this rewrite derives
        // from must be the version its claim contends at
        val hist = Versioned.readVersion(s, historyDir, v, None)
        // Materialized once (the withMaterialized rule): uncached, the
        // change⋈open diff join re-ran FOUR times — the isEmpty probe,
        // the two open-row semi/anti legs, and the new-version union leg.
        val diff = scd2Diff(changes, hist, keyCol, attrCols, Nil)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (diff.isEmpty) return  // nothing changed: the no-op that
                                    // makes re-applying a batch idempotent
          commit(s, historyDir, Some(v), Versioned.manifest(s, historyDir, v),
            Some(Stage(scd2Next(hist, diff, keyCol, version, outCols), None)),
            stats = CarryUnchanged, declareTouch = false)
        } finally diff.unpersist(false)
    }
  }

  /** SCD2's door guard ([[mergeScd2]], [[mergeScd2Bucketed]]): the
    * one-open-row-per-key invariant fails fast on a batch carrying two
    * rows for one key (one dimension-sized aggregate). */
  private def requireOneRowPerKey(changes: DataFrame, keyCol: String,
                                  verb: String): Unit = {
    val dupKeys = changes.groupBy(keyCol).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).limit(5).collect()
    require(dupKeys.isEmpty,
      s"$verb: changes batch has duplicate $keyCol values " +
        s"(e.g. ${dupKeys.map(_.get(0)).mkString(", ")}) — one row per " +
        "key per batch, or the one-open-row invariant breaks")
  }

  /** `rows` as history rows opened at `version`. */
  private def opened(rows: DataFrame, version: Long): DataFrame =
    rows.withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))

  /** The SCD2 change diff: the batch rows (key, attributes, then
    * `carried`) whose key has no open row in `hist` or whose open row
    * differs on ANY attribute — null-safe `<=>`, so NULL transitions
    * stay honest. */
  private def scd2Diff(changes: DataFrame, hist: DataFrame, keyCol: String,
                       attrCols: Seq[String],
                       carried: Seq[String]): DataFrame =
    changes.alias("c")
      .join(hist.where(col("valid_to").isNull).alias("o"),
            col(s"c.$keyCol") === col(s"o.$keyCol"), "left")
      .where(col(s"o.$keyCol").isNull ||
             attrCols.map(a => !(col(s"c.$a") <=> col(s"o.$a")))
               .reduce(_ || _))
      .select((keyCol +: (attrCols ++ carried)).map(a =>
        col(s"c.$a").as(a)): _*)

  /** The SCD2 step: `hist` after `diff` ([[scd2Diff]]) lands at
    * `version` — the four-way union of closed rows, unchanged open
    * rows, changed open rows closed at `version`, and the diff opened
    * at `version`. */
  private def scd2Next(hist: DataFrame, diff: DataFrame, keyCol: String,
                       version: Long, outCols: Seq[String]): DataFrame = {
    val open = hist.where(col("valid_to").isNull)
    val diffKeys = diff.select(keyCol)
    hist.where(col("valid_to").isNotNull)                         // closed
      .unionByName(open.join(diffKeys, Seq(keyCol), "left_anti")) // unchanged
      .unionByName(open.join(diffKeys, Seq(keyCol), "left_semi")  // changed:
                     .withColumn("valid_to", lit(version)))       //   close
      .unionByName(opened(diff, version))                         // new: open
      .selectExpr(outCols: _*)
  }

  /** Read the current committed history state. */
  def readHistory(s: SparkSession, historyDir: String): DataFrame =
    Versioned.readCurrent(s, historyDir, None)

  /** Row-level changelog (CDC) between two committed versions of a
    * versioned corpus: one `insert` / `update` / `delete` row per key
    * whose state differs, with old and new values of `valueCol`.
    * Downstream consumers (cache invalidation, index maintenance, the
    * ANN-store folds) subscribe to THIS instead of re-diffing snapshots.
    *
    * A projection of [[changeFeed]]'s key diff onto `valueCol`: the
    * same changed-partition pruning (manifest entries AND MOR refs, so a
    * merge-on-read delete shows), the same live reads, and the same
    * classification — by key presence, with `update` meaning the
    * `valueCol` images are not null-safe equal. */
  def changelog(s: SparkSession, corpusDir: String, fromV: Long, toV: Long,
                keyCol: String, valueCol: String): DataFrame =
    keyDiff(s, corpusDir, fromV, toV, keyCol, _ => Seq(valueCol))._2
      .select(col("__cf_k").as(keyCol),
        col("__cf_old").getField(valueCol).as("old_value"),
        col("__cf_new").getField(valueCol).as("new_value"),
        col("change_type").as("change"))

  /** Retention enforcement as a MANIFEST-ONLY commit: partitions whose
    * encoded dir name fails `keep` are dropped from the next version's
    * manifest — no file is read, rewritten, or deleted, so expiring a
    * year of a 100 TB corpus costs one metadata write and is atomic,
    * auditable, and reversible (time travel still reaches the dropped
    * days until [[Versioned.vacuum]] reclaims their dirs — the
    * soft-delete / hard-delete split every retention policy wants).
    * No-op (no new version) when nothing expires.
    *
    * MIXED-LAYOUT caveat: the rule sees manifest NAMES, so on a table
    * carrying entries of an older partition spec a current-spec
    * predicate cannot reach rows living under foreign names (and a
    * rollback can resurrect such a manifest). Restore the layout first
    * ([[repartitionTable]]) when retention must be exhaustive — the
    * name rule stays the honest primitive either way. */
  def applyRetention(s: SparkSession, corpusDir: String,
                     keep: String => Boolean): Unit = {
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(return)
    val man = Versioned.manifest(s, corpusDir, v)
    val dropped = man.map(_._1).filterNot(keep).toSet
    if (dropped.isEmpty) return
    // Kept partitions' stats lines and MOR refs (tombstones AND update
    // images — the uv half is the deep-fuzz seed-304 catch: retention
    // after a MOR update silently reverted the updated rows) carry
    // verbatim; dropped partitions take theirs with them. An empty
    // manifest has no entry to recover a schema from, so expiring
    // EVERYTHING is table deletion, not retention: fail fast.
    commit(s, corpusDir, Some(v), man, replaced = dropped,
      stats = CarrySuperset, declareTouch = false,
      emptyGuard = Some(s"retention would drop every partition of " +
        s"$corpusDir — an empty table cannot be read back; delete the " +
        "table instead"))
  }

  /** ANALYZE TABLE for the versioned store: recompute the stats sidecar
    * (range bounds and/or dictionaries) for EVERY current partition in
    * one LIVE scan and publish it as a MANIFEST-CARRY commit — no data
    * file is rewritten, so re-arming pruning costs one read pass plus
    * one metadata write, never a 100 TB rewrite. Two situations call
    * for it: (a) stats-shedding writes (a stats-less upsert restage, an
    * inherited store that never recorded a sidecar) left partitions
    * unprunable; (b) deletes left carried SUPERSETS that still read
    * partitions whose matching rows are gone — the live scan (tombstones
    * applied) tightens bounds and sets to the exact current content.
    * DV refs carry verbatim (content-invariant commit); a partition
    * logically emptied by tombstones yields no line and simply always
    * reads. No-op when no stats were requested (fail fast instead). */
  def refreshStats(s: SparkSession, corpusDir: String, partCol: String,
                   statsKeys: Seq[String] = Nil,
                   dictKeys: Seq[String] = Nil,
                   bloomKeys: Seq[String] = Nil): Unit = {
    require(statsKeys.nonEmpty || dictKeys.nonEmpty || bloomKeys.nonEmpty,
      "refreshStats needs at least one of statsKeys/dictKeys/bloomKeys")
    val v = Versioned.currentVersion(s, corpusDir).getOrElse(return)
    val man = Versioned.manifest(s, corpusDir, v)
    val lines = Versioned.freshStats(s, corpusDir, man, partCol,
      Versioned.LiveRows(v, man), statsKeys, dictKeys, bloomKeys)
    // Refresh REPLACES only what it recomputed (the requested columns'
    // lines, in their form); everything else carries verbatim — an
    // ANALYZE of the dictionary must not cost the table its range
    // bounds (the same no-silent-stripping rule the upsert carry has).
    commit(s, corpusDir, Some(v), man, stats = CarryUnrecomputed,
      statsKeys = statsKeys, dictKeys = dictKeys, bloomKeys = bloomKeys,
      freshLines = lines, declareTouch = false)
  }

  /** Commit-log audit (Delta's DESCRIBE HISTORY): one row per committed
    * version with its partition count and row count — the table a data
    * team reads before a rollback and an auditor reads after one. Row
    * counts come from manifest-resolved version reads (each version's
    * own partition-pruned scan), versions from one bounded `commits/`
    * listing. */
  def history(s: SparkSession, corpusDir: String,
              partCol: String): DataFrame = {
    // Below-floor versions refuse to read (their data may be vacuumed)
    // and may be missing entirely after a metadata sweep — the audit
    // covers the retained window, exactly what the floor promises.
    val floor = Versioned.retentionFloor(s, corpusDir).getOrElse(Long.MinValue)
    val versions = Versioned.committedVersions(s, corpusDir)
      .filter(_ >= floor)
    require(versions.nonEmpty, s"no committed version under $corpusDir")
    versions.map { v =>
      val man = Versioned.manifest(s, corpusDir, v)
      Versioned.readVersion(s, corpusDir, v, Some(partCol))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(v).as("version"), lit(man.size.toLong).as("n_partitions"),
                col("n_rows"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  /** Key-hash bucket column for [[mergeScd2Bucketed]]: content-stable
    * (xxhash64 of the key), so a key's rows land in the same bucket in
    * every batch, session, and JVM — the property that makes
    * bucket-pruned restaging sound. */
  private def keyBucket(keyCol: String, buckets: Int): Column =
    pmod(xxhash64(col(keyCol)), lit(buckets))

  /** The warehouse-scale form of [[mergeScd2]] — the partitioned rewrite
    * the flat version's doc promises: the history is hash-bucketed on
    * the key into `buckets` partitions, change detection reads only the
    * buckets the batch's keys hash into (manifest-pruned, like
    * [[mergeUpsert]]), and only those buckets restage under the next
    * version — cost per merge ∝ touched-bucket bytes + batch bytes,
    * independent of history size. Same diff semantics, same fail-fast
    * key-uniqueness guard, same atomic publish; the bucket column is
    * internal bookkeeping and never reaches [[readBucketedHistory]]
    * output. A full-dimension batch touches every bucket (= the flat
    * rewrite); the win is the common case — small change batches. */
  def mergeScd2Bucketed(s: SparkSession, historyDir: String,
                        changes: DataFrame, keyCol: String,
                        attrCols: Seq[String], version: Long,
                        buckets: Int = 16): Unit = {
    val BCol = "kb"
    val outCols = (keyCol +: attrCols) ++ Seq("valid_from", "valid_to", BCol)
    requireOneRowPerKey(changes, keyCol, "mergeScd2Bucketed")
    val batch = changes.withColumn(BCol, keyBucket(keyCol, buckets))
    Versioned.currentVersion(s, historyDir) match {
      case None =>
        commit(s, historyDir, None, Nil, Some(Stage(
          opened(batch, version).selectExpr(outCols: _*), Some(BCol))),
          stats = CarryNone, declareTouch = false)
      case Some(v) =>
        // Bounded driver-side list: ≤ `buckets` values, the manifest-
        // pruning predicate for both the diff read and the restage.
        val names = batch.select(BCol).distinct().collect()
          .map(r => Versioned.partDirName(BCol, r.get(0))).toSet
        if (names.isEmpty) return
        val man = Versioned.manifest(s, historyDir, v)
        val entries = Versioned.entriesNamed(man, names)
        val slice =
          // brand-new buckets only: nothing to diff against
          if (entries.isEmpty) opened(batch, version).selectExpr(outCols: _*)
          else {
            val hist = Versioned.readEntries(s, historyDir, entries,
              Some(BCol), man)
            val diff = scd2Diff(batch, hist, keyCol, attrCols, Seq(BCol))
            if (diff.isEmpty) return
            scd2Next(hist, diff, keyCol, version, outCols)
          }
        // restaged buckets gained rows with a new valid_from and closed
        // valid_to: their lines drop, untouched buckets' carry
        commit(s, historyDir, Some(v), man, Some(Stage(slice, Some(BCol))),
          replaced = entries.map(_._1).toSet, stats = CarryUnchanged,
          declareTouch = false)
    }
  }

  /** Read the bucketed history WITHOUT the internal bucket column. */
  def readBucketedHistory(s: SparkSession, historyDir: String,
                          keyCol: String, attrCols: Seq[String]): DataFrame =
    Versioned.readCurrent(s, historyDir, Some("kb"))
      .selectExpr((keyCol +: attrCols) ++ Seq("valid_from", "valid_to"): _*)
}

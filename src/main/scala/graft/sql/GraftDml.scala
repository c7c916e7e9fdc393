package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
  DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable,
  UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.{ExecutedCommandExec,
  LeafRunnableCommand}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation,
  DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, when}

import org.apache.spark.sql.execution.datasources.graftbridge.ClassicBridge

import graft.ops.MergeOps

/** SQL `UPDATE` and `MERGE INTO` for the versioned store — the two
  * write verbs DataSourceV2 cannot hand a connector through a stable
  * capability interface the way it hands DELETE
  * (`SupportsDelete.deleteWhere`) and INSERT (`V1Write`). Spark's own
  * route for them is the row-level-operation rewrite
  * (`SupportsRowLevelOperations` → `ReplaceData`), which requires a
  * full V2 `BatchWrite` file-writer stack; this store's writes all
  * flow through its own staged-commit protocol instead
  * ([[graft.ops.MergeOps]]), so we take the other public road — the
  * one Delta Lake ships: intercept the analyzed `UpdateTable` /
  * `MergeIntoTable` plan and execute it as a command against the
  * store's merge API. Interception is a PLANNER STRATEGY rather than a
  * resolution rule so it can be installed into a LIVE session
  * (`spark.experimental.extraStrategies` is runtime-mutable;
  * analyzer rules are fixed at session build) — `GraftDml.install(s)`
  * is all a session needs, and [[graft.functions.GraftExtensions]]
  * injects the same strategy for `spark.sql.extensions` users.
  *
  * Semantics contract (all enforced LOUDLY, never silently narrowed):
  *  - UPDATE maps 1:1 onto [[graft.ops.MergeOps.mergeUpdateWhere]]
  *    (CoW restage of touched partitions; persisted constraints
  *    re-validated on the staged read-back; OCC claim; key/partition
  *    columns immutable).
  *  - MERGE maps onto [[graft.ops.MergeOps.mergeApplyChangelog]] — ONE
  *    crash-atomic commit carrying the matched updates, matched
  *    deletes, and not-matched inserts together. The ON condition must
  *    be key equality (`target.<keyCol> = <source expr>`): the store's
  *    whole layout contract is keyed rows with a stable key→partition
  *    route, so a non-key merge would not be a merge of THIS table's
  *    identity. WHEN NOT MATCHED BY SOURCE folds in as the
  *    target-anti-source branch of the same single commit (its cost —
  *    a pass over the whole target — is inherent to the semantics).
  *  - SQL-standard cardinality: two source rows matching one target
  *    row abort the whole statement (before anything stages).
  */
object GraftDml {
  /** Install the DML strategy into a live session (idempotent). */
  def install(s: SparkSession): Unit = {
    val exp = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.exists(_.isInstanceOf[GraftDmlStrategy]))
      exp.extraStrategies = new GraftDmlStrategy +: exp.extraStrategies
  }

  /** Resolved attribute refs → name refs, so an expression lifted from
    * the analyzed command re-resolves against the DataFrames the merge
    * API builds itself (different plan, different expr ids, same
    * column names). Callers that join two plans disambiguate FIRST via
    * `remap` (expr-id → fresh unique name); this handles the rest. */
  private[sql] def byName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  private[sql] def toColumn(e: Expression): Column =
    ClassicBridge.column(byName(e))

  private[sql] def noSubquery(e: Expression, what: String): Unit =
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new UnsupportedOperationException(
        s"$what: subqueries are not supported in graft DML — " +
          "materialize the subquery into the source relation")
}

/** Plans `UpdateTable`/`MergeIntoTable` over a [[GraftTable]] into
  * store-merge commands; every other plan falls through to Spark's
  * stock strategies untouched. */
class GraftDmlStrategy extends SparkStrategy {
  /** The target's [[GraftTable]], whether the planner hands us the
    * resolved relation or the pushed-down scan relation (the optimizer
    * runs V2ScanRelationPushDown on the command's read child before
    * planning). */
  private def graftTableOf(plan: LogicalPlan): Option[GraftTable] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        r.table.asInstanceOf[GraftTable]
      case r: DataSourceV2ScanRelation
          if r.relation.table.isInstanceOf[GraftTable] =>
        r.relation.table.asInstanceOf[GraftTable]
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UpdateTable =>
      graftTableOf(u.table).map { g =>
        ExecutedCommandExec(
          GraftUpdateCommand(g, u.assignments, u.condition)) :: Nil
      }.getOrElse(Nil)
    case m: MergeIntoTable =>
      graftTableOf(m.targetTable).map { g =>
        ExecutedCommandExec(GraftMergeCommand(g, m.targetTable,
          m.sourceTable, m.mergeCondition, m.matchedActions,
          m.notMatchedActions, m.notMatchedBySourceActions)) :: Nil
      }.getOrElse(Nil)
    case _ => Nil
  }
}

/** `UPDATE graft.t SET … WHERE …` →
  * [[graft.ops.MergeOps.mergeUpdateWhere]]. Alignment
  * (`ResolveRowLevelCommandAssignments`) expands the SET list to every
  * column with identity assignments for the untouched ones — those are
  * dropped here, so the merge API sees exactly the columns the user
  * SET (and its key/partition-immutability guard still bites on the
  * real ones). */
case class GraftUpdateCommand(table: GraftTable,
                              assignments: Seq[Assignment],
                              condition: Option[Expression])
    extends LeafRunnableCommand {
  override def run(s: SparkSession): Seq[Row] = {
    import GraftDml._
    // a row-level write without a key has no row identity to write to
    val (key, pc) = table.keyAndPart(Map.empty, "UPDATE")
    // declared-but-unmaterialized columns (ALTER TABLE ADD COLUMNS
    // with no carrying write yet) exist only in metadata: the CoW
    // update reads raw files, so touching one would either fail
    // resolution (WHERE) or silently no-op (SET) — decline loudly and
    // point at the materializing verbs instead.
    val unmat = ExtraCols.unmaterialized(s, table.storeDir,
      table.manifestEntries, table.partCol)
    if (unmat.nonEmpty) {
      val touched = (assignments.map(_.key) ++
        assignments.map(_.value) ++ condition.toSeq)
        .flatMap(_.collect { case a: AttributeReference => a.name })
        .filter(n => unmat.exists(_.equalsIgnoreCase(n)))
      if (touched.nonEmpty)
        throw new UnsupportedOperationException(
          s"UPDATE ${table.name}: column(s) ${touched.distinct
            .mkString(", ")} are declared but not materialized in any " +
            "file yet — materialize first with an INSERT or MERGE " +
            "that carries the column")
    }
    condition.foreach(noSubquery(_, s"UPDATE ${table.name}"))
    assignments.foreach(a => noSubquery(a.value, s"UPDATE ${table.name}"))
    val set = assignments.flatMap { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => throw new UnsupportedOperationException(
          s"UPDATE ${table.name}: only top-level columns can be SET " +
            s"(got ${other.sql})")
      }
      a.value match {
        case v: AttributeReference if v.name == name => None // identity
        case v => Some(name -> toColumn(v))
      }
    }
    if (set.isEmpty) return Nil // every assignment was col = col
    val pred = condition.map(toColumn).getOrElse(lit(true))
    MergeOps.mergeUpdateWhere(s, table.storeDir, pred, set, key, pc)
    Nil
  }
}

/** `MERGE INTO graft.t USING src ON t.key = … WHEN …` →
  * [[graft.ops.MergeOps.mergeApplyChangelog]] (one commit). The
  * replacement images are computed DISTRIBUTED — source ⋈ target on
  * the key (target side prunable by the join keys; never a full-table
  * collect), each WHEN clause folded into first-match-wins CASE
  * expressions; WHEN NOT MATCHED BY SOURCE rows come from the
  * complementary target-anti-source join (a full target pass —
  * inherent to that clause's semantics, and the reason it is a
  * separate opt-in clause in the SQL standard). Only then is the
  * union handed to the changelog apply, which restages exactly the
  * touched partitions. */
case class GraftMergeCommand(table: GraftTable, target: LogicalPlan,
                             source: LogicalPlan, mergeCond: Expression,
                             matched: Seq[MergeAction],
                             notMatched: Seq[MergeAction],
                             notMatchedBySource: Seq[MergeAction])
    extends LeafRunnableCommand {
  import GraftDml._

  override def run(s: SparkSession): Seq[Row] = {
    val ident = table.name
    val (key, pc) = table.keyAndPart(Map.empty, "MERGE INTO")
    noSubquery(mergeCond, s"MERGE INTO $ident ON")
    (matched ++ notMatched ++ notMatchedBySource).foreach { a =>
      a.condition.foreach(noSubquery(_, s"MERGE INTO $ident WHEN"))
      actionAssignments(a).foreach(as =>
        noSubquery(as.value, s"MERGE INTO $ident WHEN"))
    }

    val tgtAttrs = target.outputSet
    val srcAttrs = source.outputSet

    // ON must be target.<key> = <expr over source>: the store's row
    // identity. Anything else is declined loudly (see class doc).
    val srcKeyExpr: Expression = mergeCond match {
      case EqualTo(l, r) =>
        val (tSide, sSide) =
          if (l.references.subsetOf(tgtAttrs) &&
              r.references.subsetOf(srcAttrs)) (l, r)
          else if (r.references.subsetOf(tgtAttrs) &&
                   l.references.subsetOf(srcAttrs)) (r, l)
          else throw new UnsupportedOperationException(
            s"MERGE INTO $ident ON: one side must reference only the " +
              "target, the other only the source")
        tSide match {
          case a: AttributeReference if a.name == key => sSide
          case other => throw new UnsupportedOperationException(
            s"MERGE INTO $ident ON: the target side must be the " +
              s"table's merge key `$key` (got ${other.sql}) — the " +
              "store's rows are keyed, so only a key merge preserves " +
              "row identity")
        }
      case other => throw new UnsupportedOperationException(
        s"MERGE INTO $ident ON: only `$ident.$key = <source expr>` is " +
          s"supported (got ${other.sql})")
    }

    // Disambiguate the two sides BY EXPR-ID before going name-based:
    // source and target share column names in every real merge.
    val srcDf0 = ClassicBridge.ofRows(s, source)
    val tgtDf0 = ClassicBridge.ofRows(s, target)
    val sRen = source.output.map(a => a.exprId -> s"_s_${a.name}").toMap
    val tRen = target.output.map(a => a.exprId -> s"_t_${a.name}").toMap
    def remap(e: Expression): Expression = e.transform {
      case a: AttributeReference =>
        UnresolvedAttribute.quoted(
          sRen.get(a.exprId).orElse(tRen.get(a.exprId)).getOrElse(
            throw new IllegalStateException(
              s"MERGE INTO $ident: ${a.sql} belongs to neither side")))
    }
    def colOf(e: Expression): Column = ClassicBridge.column(remap(e))
    val srcDf = srcDf0.toDF(source.output.map(a => sRen(a.exprId)): _*)
      .withColumn("_s_mergekey", colOf(srcKeyExpr))
    val tgtDf = tgtDf0.toDF(target.output.map(a => tRen(a.exprId)): _*)

    // SQL-standard cardinality: a target row matched by two source
    // rows aborts the whole MERGE before anything stages.
    val dup = srcDf.groupBy(col("_s_mergekey")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).limit(1).count()
    if (dup > 0) throw new IllegalArgumentException(
      s"MERGE INTO $ident: multiple source rows share a merge key — " +
        "the SQL MERGE cardinality rule forbids updating one target " +
        "row twice; de-duplicate the source first")

    val tgtCols = target.output.map(_.name)
    val tgtTypes = target.output.map(a => a.name -> a.dataType).toMap
    def actCond(a: MergeAction): Column =
      a.condition.map(colOf).getOrElse(lit(true))

    // First-match-wins fold shared by the two UPDATE/DELETE clause
    // families (WHEN MATCHED and WHEN NOT MATCHED BY SOURCE): rows
    // where no clause applies are unchanged and emit nothing; UPDATE
    // rows carry the assigned image, DELETE rows the old image with
    // op 'd'.
    def updateDeleteOut(base: org.apache.spark.sql.DataFrame,
                        actions: Seq[MergeAction], clause: String) = {
      val idx = actions.zipWithIndex.foldRight(lit(-1): Column) {
        case ((a, i), rest) => when(actCond(a), lit(i)).otherwise(rest)
      }
      val withIdx = base.withColumn("_act", idx).where(col("_act") >= 0)
      withIdx.select(tgtCols.map { c =>
        actions.zipWithIndex.foldRight(col(s"_t_$c")) {
          case ((a, i), rest) => a match {
            case u: UpdateAction =>
              val set = u.assignments.collectFirst {
                case as if nameOf(as.key, ident) == c => colOf(as.value)
              }.getOrElse(col(s"_t_$c"))
              when(col("_act") === i, set).otherwise(rest)
            case _: DeleteAction =>
              when(col("_act") === i, col(s"_t_$c")).otherwise(rest)
            case other => throw new UnsupportedOperationException(
              s"MERGE INTO $ident: unsupported $clause action $other")
          }
        }.cast(tgtTypes(c)).as(c)
      } :+ actions.zipWithIndex.foldRight(lit("u"): Column) {
        case ((a, i), rest) => a match {
          case _: DeleteAction => when(col("_act") === i, lit("d"))
            .otherwise(rest)
          case _ => rest
        }
      }.as("_op"): _*)
    }

    // ---- matched rows: first applicable WHEN MATCHED clause wins ----
    val matchedOut = updateDeleteOut(
      srcDf.join(tgtDf, col("_s_mergekey") === col(s"_t_$key"), "inner"),
      matched, "WHEN MATCHED")

    // ---- not-matched source rows: first applicable INSERT wins ----
    val antiOut = if (notMatched.isEmpty) None else {
      val anti = srcDf.join(tgtDf,
        col("_s_mergekey") === col(s"_t_$key"), "left_anti")
      val insIdx = notMatched.zipWithIndex.foldRight(lit(-1): Column) {
        case ((a, i), rest) => when(actCond(a), lit(i)).otherwise(rest)
      }
      val withI = anti.withColumn("_act", insIdx).where(col("_act") >= 0)
      Some(withI.select(tgtCols.map { c =>
        notMatched.zipWithIndex.foldRight(lit(null): Column) {
          case ((a, i), rest) => a match {
            case ins: InsertAction =>
              val v = ins.assignments.collectFirst {
                case as if nameOf(as.key, ident) == c => colOf(as.value)
              }.getOrElse(lit(null))
              when(col("_act") === i, v).otherwise(rest)
            case other => throw new UnsupportedOperationException(
              s"MERGE INTO $ident: unsupported WHEN NOT MATCHED " +
                s"action $other")
          }
        }.cast(tgtTypes(c)).as(c)
      } :+ lit("u").as("_op"): _*))
    }

    // ---- target rows with NO source match: WHEN NOT MATCHED BY
    // SOURCE (UPDATE/DELETE over target columns only — the grammar
    // guarantees no source references reach these actions) ----
    val nbsOut = if (notMatchedBySource.isEmpty) None else
      Some(updateDeleteOut(
        tgtDf.join(srcDf.select(col("_s_mergekey")),
          col(s"_t_$key") === col("_s_mergekey"), "left_anti"),
        notMatchedBySource, "WHEN NOT MATCHED BY SOURCE"))

    val changelog = (Seq(matchedOut) ++ antiOut ++ nbsOut)
      .reduce(_ unionByName _)
    MergeOps.mergeApplyChangelog(s, table.storeDir, changelog, key, pc,
      opCol = "_op")
    Nil
  }

  private def actionAssignments(a: MergeAction): Seq[Assignment] =
    a match {
      case u: UpdateAction => u.assignments
      case i: InsertAction => i.assignments
      case _ => Nil
    }

  private def nameOf(key: Expression, ident: String): String = key match {
    case ar: AttributeReference => ar.name
    case other => throw new UnsupportedOperationException(
      s"MERGE INTO $ident: only top-level columns can be assigned " +
        s"(got ${other.sql})")
  }
}

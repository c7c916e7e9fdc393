package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path

import graft.engine.Versioned
import graft.ops.MergeOps

/** SQL MAINTENANCE PROCEDURES (round 16 — the Iceberg `CALL` shape on
  * Spark 4's `ProcedureCatalog`): the store's maintenance verbs,
  * runnable as `CALL graft.system.optimize('t', …)` with no Scala in
  * sight. Each procedure is a thin adapter over the EXISTING Scala
  * maintenance call — same staged-write/OCC/crash-atomic commit, same
  * loud contracts — and returns a one-row summary (table, resulting
  * version, plus verb-specific counters); the observability
  * procedures return their own rows. One [[GraftProcedure]] delivers
  * both through a `LocalScan`.
  *
  *  - `optimize(table, zorder_by?, sort_col?)` —
  *    [[graft.ops.MergeOps.compactZOrder]] when `zorder_by` names two
  *    comma-separated columns (fresh bounds recorded for them in the
  *    same commit), else [[graft.ops.MergeOps.compactPartitions]].
  *  - `compact_deletes(table, sort_col?)` — materialize every
  *    outstanding deletion/update vector
  *    ([[graft.ops.MergeOps.compactDeletes]], Delta's REORG … PURGE).
  *  - `vacuum(table, keep_versions?)` —
  *    [[graft.engine.Versioned.vacuum]]; the summary row carries the
  *    report (floor, dirs deleted, versions swept, ghosts reclaimed).
  *  - `refresh_stats(table, stats_keys, dict_keys?, bloom_keys?)` —
  *    [[graft.ops.MergeOps.refreshStats]] (ANALYZE: one live scan,
  *    manifest-carry commit).
  *  - `expire_partitions(table, names)` —
  *    [[graft.ops.MergeOps.applyRetention]] dropping the named
  *    partition dirs (comma-separated entry names).
  *  - `create_branch(table, name)` / `publish_branch(table, name)` /
  *    `drop_branch(table, name)` — the WAP verbs
  *    ([[graft.ops.BranchOps]]): fork = one metadata copy, publish =
  *    the audited atomic fast-forward (persisted constraints checked
  *    on the branch's changed partitions), drop = abandon. With the
  *    readable/INSERT-able `graft.branches.`t@name`` tables, the
  *    risky-backfill pattern runs entirely in SQL.
  *  - `detail(table)` — DESCRIBE DETAIL
  *    ([[graft.engine.Versioned.storeDetail]]): one metadata-only
  *    snapshot row of the store's operational state.
  *  - `history(table)` — the commit log as rows (version, committed_at
  *    by the store clock, entries): DESCRIBE HISTORY, the audit poll.
  */
private[sql] object GraftProcedures {

  def names: Seq[String] = Seq("optimize", "compact_deletes", "vacuum",
    "refresh_stats", "expire_partitions", "detail", "history",
    "create_branch", "publish_branch", "drop_branch")

  /** A procedure's body: the session, the store dir and the call's
    * arguments to the result schema and rows. */
  private[sql] type Body =
    (SparkSession, String, InternalRow) => (StructType, Seq[Row])

  /** A maintenance verb's body: runs the verb, then answers one row of
    * (table, resulting committed version) followed by the verb's own
    * counters. */
  private def summary(verb: (SparkSession, String, InternalRow) =>
      Seq[(String, DataType, Any)]): Body = (s, dir, args) => {
    val extra = verb(s, dir, args)
    val fields = Seq(("table", StringType: DataType, str(args, 0).get: Any),
      ("version", LongType: DataType,
       Versioned.currentVersion(s, dir).get: Any)) ++ extra
    (StructType(fields.map { case (n, t, _) =>
       StructField(n, t, nullable = false) }),
     Seq(Row(fields.map(_._3): _*)))
  }

  def load(name: String, root: String): Option[UnboundProcedure] = {
    val mk: Option[(Seq[ProcedureParameter], Body)] = name match {
      case "optimize" => Some((Seq(
          in("table", StringType),
          opt("zorder_by", StringType),
          opt("sort_col", StringType)),
        summary { (s, dir, args) =>
          val pc = partColOf(s, dir)
          str(args, 1) match {
            case Some(z) =>
              val cols = z.split(',').map(_.trim).filter(_.nonEmpty)
              require(cols.length == 2,
                s"zorder_by needs exactly two comma-separated columns, " +
                  s"got '$z'")
              MergeOps.compactZOrder(s, dir, pc, (cols(0), cols(1)),
                statsKeys = cols.toSeq)
            case None =>
              MergeOps.compactPartitions(s, dir, pc,
                sortCol = str(args, 2))
          }
          Nil
        }))
      case "compact_deletes" => Some((Seq(
          in("table", StringType),
          opt("sort_col", StringType)),
        summary { (s, dir, args) =>
          MergeOps.compactDeletes(s, dir, partColOf(s, dir),
            sortCol = str(args, 1))
          Nil
        }))
      case "vacuum" => Some((Seq(
          in("table", StringType),
          ProcedureParameter.in("keep_versions", IntegerType)
            .defaultValue("1").build()),
        summary { (s, dir, args) =>
          val r = Versioned.vacuum(s, dir, keepVersions = args.getInt(1))
          Seq(("floor", LongType, r.floor),
              ("data_dirs_deleted", IntegerType, r.dataDirsDeleted),
              ("versions_swept", IntegerType, r.versionsSwept),
              ("ghost_files_deleted", IntegerType, r.ghostFilesDeleted))
        }))
      case "refresh_stats" => Some((Seq(
          in("table", StringType),
          in("stats_keys", StringType),
          opt("dict_keys", StringType),
          opt("bloom_keys", StringType)),
        summary { (s, dir, args) =>
          def csv(o: Option[String]): Seq[String] =
            o.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
          MergeOps.refreshStats(s, dir, partColOf(s, dir),
            statsKeys = csv(str(args, 1)),
            dictKeys = csv(str(args, 2)),
            bloomKeys = csv(str(args, 3)))
          Nil
        }))
      case "create_branch" => Some((Seq(
          in("table", StringType),
          in("name", StringType)),
        summary { (s, dir, args) =>
          val n = str(args, 1).getOrElse(
            throw new IllegalArgumentException(
              "create_branch needs a branch name"))
          graft.ops.BranchOps.createBranch(s, dir, n)
          Seq(("branch", StringType, n),
              ("fork_version", LongType,
               graft.ops.BranchOps.forkVersion(s, dir, n)))
        }))
      case "publish_branch" => Some((Seq(
          in("table", StringType),
          in("name", StringType)),
        summary { (s, dir, args) =>
          val n = str(args, 1).getOrElse(
            throw new IllegalArgumentException(
              "publish_branch needs a branch name"))
          graft.ops.BranchOps.publishBranch(s, dir, n)
          Seq(("branch", StringType, n))
        }))
      case "drop_branch" => Some((Seq(
          in("table", StringType),
          in("name", StringType)),
        summary { (s, dir, args) =>
          val n = str(args, 1).getOrElse(
            throw new IllegalArgumentException(
              "drop_branch needs a branch name"))
          graft.ops.BranchOps.dropBranch(s, dir, n)
          Seq(("branch", StringType, n))
        }))
      case "expire_partitions" => Some((Seq(
          in("table", StringType),
          in("names", StringType)),
        summary { (s, dir, args) =>
          val drop = str(args, 1).toSeq.flatMap(_.split(','))
            .map(_.trim).filter(_.nonEmpty).toSet
          require(drop.nonEmpty, "expire_partitions needs entry names")
          MergeOps.applyRetention(s, dir, n => !drop(n))
          Nil
        }))
      case "detail" => Some((Seq(in("table", StringType)),
        (s, dir, _) => {
          val df = Versioned.storeDetail(s, dir)
          (df.schema, df.collect().toSeq)
        }))
      case "history" => Some((Seq(in("table", StringType)),
        (s, dir, _) =>
          (StructType(Seq(
             StructField("version", LongType, nullable = false),
             StructField("committed_at", TimestampType, nullable = false),
             StructField("entries", LongType, nullable = false))),
           Versioned.commitLog(s, dir).map { case (v, ms) =>
             Row(v, new java.sql.Timestamp(ms),
                 Versioned.manifest(s, dir, v).size.toLong)
           })))
      case _ => None
    }
    mk.map { case (params, body) =>
      new GraftProcedure(name, root, params, body) }
  }

  private def in(n: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(n, t).build()
  private def opt(n: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(n, t)
      .defaultValue(s"CAST(NULL AS ${t.sql})").build()

  private def str(args: InternalRow, i: Int): Option[String] =
    if (args.isNullAt(i)) None
    else Some(args.getUTF8String(i).toString)

  private def partColOf(s: SparkSession, dir: String): String = {
    val v = Versioned.currentVersion(s, dir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version under $dir — not a graft store"))
    TableDoor.requirePartCol(
      Versioned.partColOf(Versioned.manifest(s, dir, v)),
      "maintenance procedure on", new Path(dir).getName, dir,
      "maintenance procedures need the partition-dir layout")
  }
}

/** One procedure: binds trivially (the parameter list IS the
  * contract), checks the table is a graft store, runs its body and
  * returns the body's rows through a `LocalScan`. */
private[sql] class GraftProcedure(procName: String, root: String,
                                  params: Seq[ProcedureParameter],
                                  body: GraftProcedures.Body)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName
  override def description(): String = s"graft procedure $procName"
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = params.toArray
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    require(!input.isNullAt(0), s"$procName needs a table name")
    val dir = new Path(root, input.getUTF8String(0).toString).toString
    require(Versioned.currentVersion(spark, dir).isDefined,
      s"no committed version under $dir — not a graft store")
    val (schema, rows) = body(spark, dir, input)
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    val internal = rows.map(r => conv(r).asInstanceOf[InternalRow])
      .toArray
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = internal
      override def readSchema(): StructType = schema
      override def description(): String = s"graft.$procName result"
    }
    java.util.List.of(scan).iterator()
  }
}

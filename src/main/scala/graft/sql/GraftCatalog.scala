package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead,
  Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.hadoop.fs.Path

import graft.engine.{Footers, Versioned}
import graft.ops.MergeOps

/** The SQL FRONT DOOR for the versioned store: a DataSourceV2
  * `TableCatalog` that makes every store under a root directory a
  * SQL-addressable table — `SELECT … FROM graft.corpus WHERE doc_id = X`
  * prunes through the SAME three-tier skipping kernel
  * ([[graft.ops.MergeOps.skipEntries]]: manifest names → range zone
  * maps → dictionaries → blooms) as the Scala readers, so the 100 TB
  * read path is the DEFAULT path, not an API the caller must know.
  *
  * Register once per session:
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *                  classOf[graft.sql.GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.root", "/corpora")
  *   spark.sql("SELECT * FROM graft.docs WHERE doc_id = 42")
  *   spark.sql("SELECT * FROM graft.docs VERSION AS OF 3")  // time travel
  * }}}
  *
  * Architecture (the Delta/Iceberg connector shape, thinned): the
  * catalog resolves `graft.<name>` to the store at `<root>/<name>`;
  * the table's `ScanBuilder` takes Spark's pushed `Filter`s
  * (`SupportsPushDownFilters`) and pruned columns
  * (`SupportsPushDownRequiredColumns`); the shared extractor
  * ([[graft.ops.MergeOps.filterPruneHints]]) turns equality/IN filters
  * into dictionary+bloom probes (and manifest-name probes on the
  * partition column) and integral comparisons into range zone-map
  * probes, and the scan reads ONLY the surviving entries through the
  * same pruned reader as [[graft.ops.MergeOps.readCorpusSkipPruned]] —
  * live, so MOR deletes apply exactly as on the Scala path. The scan
  * hands Spark a `V1Scan` relation (the JDBC-connector migration idiom)
  * whose inner plan is a plain pruned parquet read: whole-stage
  * codegen, vectorization, and parquet row-group pushdown (via the
  * reader's typed residuals) all apply inside it.
  *
  * Contract kept everywhere: pruning is ADVISORY — every pushed filter
  * is also returned to Spark as a post-scan filter, so a sidecar false
  * positive or a missing stats line costs a read, never a wrong
  * answer. Writes stay with the MERGE API ([[graft.ops.MergeOps]]):
  * the store's commit protocol is write-audit-publish, which SQL
  * `INSERT` cannot express — DDL/DML methods fail loudly. */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _

  /** The root, read from the active session's conf on every call: a
    * later `spark.conf.set` of `spark.sql.catalog.<name>.root` takes
    * effect at once (the catalog instance outlives conf changes). */
  private def root: String =
    SparkSession.active.conf.getOption(s"spark.sql.catalog.$catalogName.root")
      .getOrElse(throw missingRoot(catalogName))

  private def missingRoot(name: String) = new IllegalArgumentException(
    s"catalog '$name' needs spark.sql.catalog.$name.root — the " +
      "directory whose versioned-store children become tables")

  /** `CALL graft.system.<proc>(…)` — the maintenance verbs
    * ([[GraftProcedures]]: optimize/zorder, compact_deletes, vacuum,
    * refresh_stats, expire_partitions), each a thin adapter over the
    * existing Scala call with a one-row summary result. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    if (!ident.namespace.sameElements(Array("system")))
      throw new RuntimeException(
        s"procedures live under $catalogName.system — got " +
          ident.namespace.mkString("."))
    GraftProcedures.load(ident.name, root).getOrElse(
      throw new RuntimeException(
        s"no procedure $catalogName.system.${ident.name} — available: " +
          GraftProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    if (options.get("root") == null) throw missingRoot(name)
  }

  override def name(): String = catalogName

  override def toString: String = s"GraftCatalog($catalogName)"

  private def dirOf(ident: Identifier): String =
    (ident.namespace :+ ident.name)
      .foldLeft(new Path(root))((p, n) => new Path(p, n)).toString

  /** The CDC door: `<catalog>.changes.<store>` is the store's change
    * FEED as a streaming table — schema = table schema + change_type,
    * `spark.readStream.table("graft.changes.corpus")` with the feed's
    * options (`keyCol`, else the persisted property; `startVersion` /
    * `startTag`, pacing, `pinRetention`) passed as reader options. The
    * namespace is virtual: it resolves against the same stores the root
    * lists. */
  private val ChangesNs = "changes"

  /** The virtual BRANCHES namespace (round 16 — the WAP surface in
    * SQL): `graft.branches.`t@name`` resolves to branch `name` of the
    * store `t` — readable (the branch head: fork-inherited entries +
    * branch-staged dirs, data under the ROOT) and INSERT-able
    * ([[graft.ops.BranchOps.branchUpsert]]: the branch's own version
    * chain, invisible to main readers, constraints deliberately NOT
    * enforced — the gate is publish's audit). Fork, publish (audited
    * atomic fast-forward), and drop are `CALL graft.system.*`
    * procedures, so the risky-backfill pattern — land, audit,
    * publish-or-abandon — runs with no Scala in sight. */
  private val BranchesNs = "branches"

  override def loadTable(ident: Identifier): Table = {
    val spark = SparkSession.active
    if (ident.namespace.sameElements(Array(BranchesNs))) {
      val parts = ident.name.split('@')
      if (parts.length != 2 || parts.exists(_.isEmpty))
        throw new NoSuchTableException(ident)
      val dir = new Path(root, parts(0)).toString
      if (Versioned.currentVersion(spark, dir).isEmpty)
        throw new NoSuchTableException(ident)
      if (!graft.ops.BranchOps.branches(spark, dir).contains(parts(1)))
        throw new NoSuchTableException(ident)
      return new GraftBranchTable(spark, dir, parts(1),
        (ident.namespace :+ ident.name).mkString("."))
    }
    if (ident.namespace.sameElements(Array(ChangesNs))) {
      val dir = new Path(root, ident.name).toString
      if (Versioned.currentVersion(spark, dir).isEmpty)
        throw new NoSuchTableException(ident)
      return new graft.streaming.ChangeFeedTable(
        graft.streaming.ChangeFeedSourceProvider.feedSchema(spark, dir),
        Map("dir" -> dir))
    }
    val dir = dirOf(ident)
    val v = Versioned.currentVersion(spark, dir).getOrElse {
      // created but never written: the pending descriptor reads as an
      // EMPTY table at the declared schema until the first write
      // commits version 1 (see createTable)
      PendingTables.read(spark, dir) match {
        case Some((schema, partCol, props)) =>
          return new GraftPendingTable(spark, dir,
            (ident.namespace :+ ident.name).mkString("."), schema,
            partCol, props)
        case None => throw new NoSuchTableException(ident)
      }
    }
    new GraftTable(spark, dir,
      (ident.namespace :+ ident.name).mkString("."), v)
  }

  /** SQL time travel: `VERSION AS OF n` loads the store at committed
    * version `n` — [[graft.engine.Versioned.readVersion]]'s semantics
    * (that version's manifest, its deletion vectors applied). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val spark = SparkSession.active
    val dir = dirOf(ident)
    val v = scala.util.Try(version.trim.toLong).getOrElse(
      throw new NoSuchTableException(ident))
    if (!Versioned.committedVersions(spark, dir).contains(v))
      throw new NoSuchTableException(ident)
    Versioned.requireAboveFloor(spark, dir, v)
    new GraftTable(spark, dir,
      (ident.namespace :+ ident.name).mkString(".") + s"@v$v", v)
  }

  /** SQL time travel by instant: `TIMESTAMP AS OF ts` resolves to the
    * newest version whose commit instant (the marker's store mtime —
    * [[graft.engine.Versioned.versionAsOf]]'s store-clock resolution,
    * the same mapping `readAsOf` uses) is at or before `ts`. Spark
    * hands the instant in MICROSECONDS. An instant that predates the
    * log fails as a missing table; a resolved version below the
    * retention floor fails loudly, exactly like the Scala path. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val spark = SparkSession.active
    val dir = dirOf(ident)
    val v = Versioned.versionAsOf(spark, dir,
        Math.floorDiv(timestamp, 1000L)).getOrElse(
      throw new NoSuchTableException(ident))
    Versioned.requireAboveFloor(spark, dir, v)
    new GraftTable(spark, dir,
      (ident.namespace :+ ident.name).mkString(".") + s"@v$v", v)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val spark = SparkSession.active
    // the virtual changes namespace mirrors the root's store listing
    val nsDir =
      if (namespace.sameElements(Array(ChangesNs))) new Path(root)
      else namespace.foldLeft(new Path(root))((p, n) => new Path(p, n))
    val fs = nsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(nsDir)) Array.empty
    else fs.listStatus(nsDir).collect {
      case st if st.isDirectory &&
          (fs.exists(new Path(st.getPath, "commits")) ||
            (!namespace.sameElements(Array(ChangesNs)) &&
              fs.exists(new Path(st.getPath, "pending/table.json")))) =>
        Identifier.of(namespace, st.getPath.getName)
    }
  }

  private def readOnly(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog does not express $what: table layout and identity " +
        "live with the MERGE API (graft.ops.MergeOps) — the store's " +
        "write-audit-publish commit protocol binds them to data commits")

  /** `CREATE TABLE graft.t (…) PARTITIONED BY (p)
    * TBLPROPERTIES('keyCol'='k')` and CTAS (round 16). The commit
    * protocol cannot represent an empty committed store (a manifest
    * needs entries), so creation persists a PENDING DESCRIPTOR
    * (`pending/table.json`: schema, partition column, properties) and
    * the table reads as EMPTY at the declared schema until the first
    * INSERT/CTAS write commits version 1 through the ordinary
    * mergeUpsert — from then on the descriptor is inert and every
    * loadTable resolves the committed store. CTAS is effectively
    * atomic: a failed write leaves no committed version, and Spark's
    * CTAS failure path drops the table (removing the descriptor).
    * Requires exactly ONE identity-transform partition column — the
    * store's layout is dir-partitioned by design. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : Table = {
    val spark = SparkSession.active
    if (ident.namespace.sameElements(Array(ChangesNs)))
      readOnly("CREATE TABLE in the changes namespace")
    val dir = dirOf(ident)
    if (Versioned.currentVersion(spark, dir).isDefined ||
        PendingTables.read(spark, dir).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace :+ ident.name).toSeq)
    val partCol = partitions.toSeq match {
      case Seq(t) =>
        val refs = t.references()
        require(t.name() == "identity" && refs.length == 1 &&
            refs.head.fieldNames.length == 1,
          s"graft tables are dir-partitioned by ONE column — got " +
            s"transform $t")
        refs.head.fieldNames.head
      case other => throw new UnsupportedOperationException(
        s"graft tables need exactly one PARTITIONED BY column (the " +
          s"dir layout), got ${other.size}")
    }
    require(schema.fieldNames.exists(_.equalsIgnoreCase(partCol)),
      s"partition column $partCol is not in the declared schema")
    // reserved engine properties (provider/location/owner/…) are
    // Spark bookkeeping, not table metadata — persist only user props
    val reserved = Set(TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION, "transient_lastDdlTime")
    val props = properties.asScala.toMap.filterNot { case (k, _) =>
      reserved.contains(k) || k.startsWith("option.") }
    PendingTables.write(spark, dir, schema, partCol, props)
    new GraftPendingTable(spark, dir,
      (ident.namespace :+ ident.name).mkString("."), schema, partCol,
      props)
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES`: the one ALTER the store
    * expresses — properties are committed table metadata
    * ([[graft.engine.Versioned.tableProps]], the constraints sidecar
    * rules), so the SQL door routes them to
    * [[graft.ops.MergeOps.setTableProperties]] under the ordinary OCC
    * claim. Schema/partition ALTERs stay with the merge API (column
    * evolution is a data-commit concern). */
  /** Catalog capabilities: constraint DDL routes to [[alterTable]]
    * only when the catalog declares it supports table constraints. */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT)

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val spark = SparkSession.active
    val dir = dirOf(ident)
    val sets = changes.collect {
      case c: TableChange.SetProperty => c.property -> c.value }
    val unsets = changes.collect {
      case c: TableChange.RemoveProperty => c.property }
    val adds = changes.collect { case c: TableChange.AddColumn => c }
    val conAdds = changes.collect {
      case c: TableChange.AddConstraint => c }
    val conDrops = changes.collect {
      case c: TableChange.DropConstraint => c }
    val colDrops = changes.collect {
      case c: TableChange.DeleteColumn => c }
    val others = changes.filterNot {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty |
           _: TableChange.AddColumn | _: TableChange.AddConstraint |
           _: TableChange.DropConstraint | _: TableChange.DeleteColumn => true
      case _ => false
    }
    if (others.nonEmpty)
      readOnly(s"ALTER TABLE ${others.map(_.getClass.getSimpleName)
        .mkString(", ")}")
    if (adds.nonEmpty) {
      // metadata-tier schema evolution: ALTER TABLE ADD COLUMNS
      // persists the declared columns as a table property; reads
      // null-fill until a write materializes them (the same union
      // semantics a schema-evolving merge already has). Old rows have
      // no value, so the column must be nullable, positionless, and
      // default-free — anything else cannot be answered from metadata
      // and declines loudly.
      val current = loadTable(ident).schema()
      val prior = ExtraCols.read(spark, dir)
      val declared = adds.map { a =>
        require(a.fieldNames.length == 1,
          s"ALTER TABLE ${ident.name} ADD COLUMNS: only top-level " +
            s"columns are supported (got ${a.fieldNames.mkString(".")})")
        require(a.isNullable,
          s"ALTER TABLE ${ident.name} ADD COLUMNS: ${a.fieldNames.head}" +
            " must be nullable — existing rows have no value for it")
        require(a.position == null,
          s"ALTER TABLE ${ident.name} ADD COLUMNS: column position " +
            "is not supported — declared columns append at the end")
        require(a.defaultValue == null,
          s"ALTER TABLE ${ident.name} ADD COLUMNS: DEFAULT values are " +
            "not supported — existing rows read the column as NULL")
        val name = a.fieldNames.head
        require(!current.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"ALTER TABLE ${ident.name} ADD COLUMNS: column `$name` " +
            "already exists")
        require(!ExtraCols.dropped(spark, dir)
            .exists(_.equalsIgnoreCase(name)),
          s"ALTER TABLE ${ident.name} ADD COLUMNS: `$name` was " +
            "DROPPED — old files may still carry values under that " +
            "name and would resurrect them; rewrite the table " +
            "(INSERT OVERWRITE) under a fresh name instead")
        org.apache.spark.sql.types.StructField(name, a.dataType,
          nullable = true)
      }
      ExtraCols.write(spark, dir,
        StructType(prior.fields.filterNot(f => declared.exists(
          _.name.equalsIgnoreCase(f.name))) ++ declared))
    }
    // ALTER TABLE DROP COLUMN (round 16 — the mask half of
    // metadata-tier schema evolution): one property commit hides the
    // column from the catalog schema; files keep the bytes until
    // ordinary restages age them out (writes are batch-authoritative,
    // so every touched partition sheds the column as it restages).
    // The row's identity (keyCol) and location (partCol) are not
    // droppable; a column a persisted CHECK references must outlive
    // the constraint; a declared-only column just leaves the declared
    // list.
    colDrops.foreach { c =>
      require(c.fieldNames.length == 1,
        s"ALTER TABLE ${ident.name} DROP COLUMN: only top-level " +
          s"columns (got ${c.fieldNames.mkString(".")})")
      val name = c.fieldNames.head
      val t = committed(ident, "DROP COLUMN")
      val exists = t.schema.fieldNames.exists(_.equalsIgnoreCase(name))
      if (!exists) {
        if (c.ifExists == java.lang.Boolean.TRUE) ()
        else throw new IllegalArgumentException(
          s"DROP COLUMN ${ident.name}.$name: no such column")
      } else {
        require(!t.partCol.exists(_.equalsIgnoreCase(name)),
          s"DROP COLUMN ${ident.name}.$name: the partition column is " +
            "a row's location — not droppable")
        require(!TableDoor.keyCol(spark, dir, Map.empty)
            .exists(_.equalsIgnoreCase(name)),
          s"DROP COLUMN ${ident.name}.$name: the merge key is a row's " +
            "identity — not droppable")
        val v = Versioned.currentVersion(spark, dir).get
        val referees = MergeOps.tableConstraints(spark, dir, v)
          .filter { case (_, e) =>
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseExpression(e).collect {
                case a: org.apache.spark.sql.catalyst.analysis
                    .UnresolvedAttribute => a.name
              }.exists(_.equalsIgnoreCase(name)) }
        require(referees.isEmpty,
          s"DROP COLUMN ${ident.name}.$name: persisted CHECK " +
            s"constraint(s) ${referees.map(_._1).mkString(", ")} " +
            "reference it — drop them first")
        val extra = ExtraCols.read(spark, dir)
        if (extra.fieldNames.exists(_.equalsIgnoreCase(name)))
          // declared-only column: just leaves the declared list
          ExtraCols.write(spark, dir, StructType(extra.fields
            .filterNot(_.name.equalsIgnoreCase(name))))
        else
          ExtraCols.writeDropped(spark, dir,
            (ExtraCols.dropped(spark, dir) :+ name).distinct)
      }
    }
    // ALTER TABLE ADD/DROP CONSTRAINT (round 16 — Spark 4's DSv2
    // constraint API over the store's persisted CHECK machinery):
    // CHECK maps onto MergeOps.addConstraint, which VALIDATES the
    // existing corpus before committing (so the declared status is
    // honestly VALID) and every later write re-checks; PRIMARY KEY /
    // UNIQUE / FOREIGN KEY decline loudly — the store enforces key
    // uniqueness by its own merge contract, and an informational
    // declaration it cannot enforce at write time would be a lie.
    conAdds.foreach { c =>
      c.constraint match {
        case chk: org.apache.spark.sql.connector.catalog
            .constraints.Check =>
          val pc = TableDoor.requirePartCol(
            committed(ident, "ADD CONSTRAINT").partCol, "ADD CONSTRAINT",
            ident.name, dir)
          MergeOps.addConstraint(spark, dir, chk.name,
            chk.predicateSql, pc)
        case other => readOnly(
          s"ALTER TABLE ADD CONSTRAINT ${other.getClass.getSimpleName}" +
            " — only CHECK constraints are enforceable at write time")
      }
    }
    conDrops.foreach { d =>
      val live = Versioned.currentVersion(spark, dir)
        .map(v => MergeOps.tableConstraints(spark, dir, v))
        .getOrElse(Nil)
      if (live.exists(_._1 == d.name))
        MergeOps.dropConstraint(spark, dir, d.name)
      else if (!d.ifExists)
        throw new IllegalArgumentException(
          s"no constraint '${d.name}' on ${ident.name} — live: " +
            live.map(_._1).sorted.mkString(", "))
      // IF EXISTS on a missing name: no-op, no commit
    }
    if (sets.nonEmpty)
      MergeOps.setTableProperties(spark, dir, sets.toMap)
    if (unsets.nonEmpty)
      MergeOps.unsetTableProperties(spark, dir, unsets)
    loadTable(ident)
  }

  /** The committed store `ident` names, or a loud decline of `verb`
    * (a pending table has nothing to alter yet). */
  private def committed(ident: Identifier, verb: String): GraftTable =
    loadTable(ident) match {
      case g: GraftTable => g
      case _ => throw new UnsupportedOperationException(
        s"$verb on ${ident.name}: not a committed store")
    }

  /** `DROP TABLE graft.t` → [[graft.engine.Versioned.dropTable]]: the
    * whole store (data, commit log, sidecars — or just the pending
    * descriptor of a never-written table). Refuses LOUDLY while tags
    * pin versions — delete the tags first; there is no SQL force. */
  override def dropTable(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    if (ident.namespace.sameElements(Array(ChangesNs)))
      readOnly("DROP TABLE in the changes namespace")
    val dir = dirOf(ident)
    if (Versioned.currentVersion(spark, dir).isEmpty &&
        PendingTables.read(spark, dir).isEmpty) return false
    Versioned.dropTable(spark, dir)
    true
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")
}

/** Declared-but-unmaterialized columns (round 16 — `ALTER TABLE ADD
  * COLUMNS`, the metadata-tier half of schema evolution): a reserved
  * table property carries a `StructType` JSON of columns the user
  * declared before any file holds them. `GraftTable.schema` appends
  * the ones no footer shows yet; the scan null-fills them; the first
  * write that carries the column materializes it into files (after
  * which the footer schema wins and the declared entry is inert).
  * Committed through `setTableProperties` — the same newest-walk-back
  * + atomic-claim rules as every other property. */
private[sql] object ExtraCols {
  val Key = "graft.schema.extra"

  def read(spark: SparkSession, dir: String): StructType =
    TableDoor.currentProps(spark, dir).get(Key)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType])
      .getOrElse(new StructType())

  def write(spark: SparkSession, dir: String, st: StructType): Unit =
    MergeOps.setTableProperties(spark, dir, Map(Key -> st.json))

  /** The DROPPED-column mask (`ALTER TABLE DROP COLUMN`, the other
    * half of metadata-tier schema evolution): names the catalog hides
    * from the schema. Files keep the bytes until ordinary restages age
    * them out (the Delta column-mask idea without physical ids), so a
    * dropped NAME can never be re-declared — old files would resurrect
    * stale values under it. */
  val DroppedKey = "graft.schema.dropped"

  def dropped(spark: SparkSession, dir: String): Seq[String] =
    TableDoor.currentProps(spark, dir).get(DroppedKey)
      .map(_.split('\u0001').toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

  def writeDropped(spark: SparkSession, dir: String,
                   names: Seq[String]): Unit =
    MergeOps.setTableProperties(spark, dir,
      Map(DroppedKey -> names.mkString("\u0001")))

  /** Declared columns no data file carries yet (one newest-entry
    * footer read, never a listing): the set that reads null-fill and
    * row-level writes must refuse to touch. */
  def unmaterialized(spark: SparkSession, dir: String,
                     man: Seq[(String, String)],
                     partCol: Option[String]): Seq[String] = {
    val declared = read(spark, dir).fieldNames
    if (declared.isEmpty) Nil
    else {
      val inFiles =
        Versioned.emptyFrame(spark, dir, man, partCol).schema.fieldNames
      declared.filterNot(n =>
        inFiles.exists(_.equalsIgnoreCase(n))).toSeq
    }
  }
}

/** Pending-table descriptors (round 16 — `CREATE TABLE` before the
  * first write): `pending/table.json` under the store dir carries the
  * declared schema, partition column, and user properties. Present
  * only between CREATE and the first committed version; loadTable
  * prefers commits, so the descriptor is inert once data lands. */
private[sql] object PendingTables {
  import org.apache.spark.sql.types.DataType

  private def path(dir: String) = new Path(dir, "pending/table.json")

  def write(spark: SparkSession, dir: String, schema: StructType,
            partCol: String, props: Map[String, String]): Unit = {
    val fs = path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    import org.json4s.JsonDSL._
    val payload = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("schema" -> schema.json) ~ ("partCol" -> partCol) ~
          ("props" -> props)))
    val out = fs.create(path(dir), false)
    try out.write(payload.getBytes("UTF-8"))
    finally out.close()
  }

  def read(spark: SparkSession, dir: String)
      : Option[(StructType, String, Map[String, String])] = {
    val fs = path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path(dir))) return None
    val in = fs.open(path(dir))
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    Some((DataType.fromJson((j \ "schema").extract[String])
            .asInstanceOf[StructType],
          (j \ "partCol").extract[String],
          (j \ "props").extract[Map[String, String]]))
  }
}

/** A created-but-never-written table: reads as EMPTY at the declared
  * schema; the first INSERT/CTAS write of at least one row runs the
  * ordinary [[graft.ops.MergeOps.mergeUpsert]] (creating version 1) and
  * then persists the declared properties, after which loadTable resolves
  * the committed store and this shim is never constructed again. */
private[sql] class GraftPendingTable(spark: SparkSession, dir: String,
                                     ident: String, declared: StructType,
                                     partCol: String,
                                     props: Map[String, String])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = ident
  override val schema: StructType = declared
  override def partitioning(): Array[Transform] =
    Array(Expressions.identity(partCol))
  override def properties(): java.util.Map[String, String] = props.asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
                         TableCapability.BATCH_WRITE,
                         TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new GraftV1Scan {
      override def readSchema(): StructType = declared
      override def description(): String =
        s"GraftPendingScan[$ident, empty]"
      override protected def rows(): RDD[Row] =
        spark.sparkContext.emptyRDD[Row]
    }
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val opts = TableDoor.options(info.options())
    new GraftWriteBuilder((data, replace) => {
      val key = TableDoor.requireKeyCol(spark, dir, opts,
        "the first write into", ident, Some(props))
      require(!replace, s"INSERT OVERWRITE into $ident is not supported")
      MergeOps.mergeUpsert(spark, dir, data, key, partCol)
      // a zero-row first write commits nothing: the table stays pending
      if (props.nonEmpty && Versioned.currentVersion(spark, dir).isDefined)
        MergeOps.setTableProperties(spark, dir, props)
    })
  }
}

/** V1 `Filter` → `Column` for the SQL DELETE door: the store's
  * predicate-delete contract ([[graft.ops.MergeOps.mergeDeleteWhere]])
  * takes a `Column`, and Spark's `SupportsDelete` hands the WHERE
  * clause as source filters. Untranslatable filters return None —
  * `canDeleteWhere` then declines the whole delete LOUDLY (Spark
  * raises its cannot-delete analysis error) rather than deleting a
  * superset or subset of the asked rows. */
private[sql] object FilterColumns {
  import org.apache.spark.sql.functions.lit
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** Test observable: the relative dirs the most recent [[GraftScan]]
  * actually read (post-pruning) — the SQL twin of the Wave33
  * never-reads-pruned-dirs input-files pin — and whether the most
  * recent scan answered an aggregate metadata-only (no row read). */
private[graft] object GraftScanObservable {
  @volatile var lastKeptDirs: Seq[String] = Nil
  @volatile var lastAggPushed: Option[String] = None
  /** Parquet footers the most recent aggregate answer actually read —
    * 0 when the manifest-recorded row counts (`rows` stats lines)
    * answered COUNT without touching a file. */
  @volatile var lastAggFooterReads: Int = 0
}

/** One versioned store as a V2 table, pinned at `version`.
  *
  * WRITE doors (round 16): `DELETE FROM … WHERE …` maps 1:1 onto the
  * store's predicate-delete contract
  * ([[graft.ops.MergeOps.mergeDeleteWhere]] — CoW restage of touched
  * partitions, constraints + OCC included) via `SupportsDelete`;
  * `INSERT INTO` maps onto [[graft.ops.MergeOps.mergeUpsert]] via the
  * `V1Write`/`InsertableRelation` fallback (the JDBC-connector write
  * idiom — the batch arrives as one DataFrame on the driver and the
  * store's own staged write distributes it). INSERT needs the table's
  * merge KEY: the writer option `keyCol`
  * (`df.writeTo(…).option("keyCol", …)`) or the persisted `keyCol`
  * table property (`ALTER TABLE … SET TBLPROPERTIES('keyCol'='…')`);
  * absent both, the insert fails loudly before staging a byte. Both
  * doors re-derive the CURRENT version inside the merge API, so a
  * write through a stale table handle rebases under the ordinary OCC
  * claim instead of silently overwriting. */
class GraftTable(spark: SparkSession, dir: String, ident: String,
                 version: Long)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog
      .SupportsPartitionManagement {

  private val man: Seq[(String, String)] =
    Versioned.manifest(spark, dir, version)

  /** The store directory, for the DML commands ([[GraftDmlStrategy]])
    * that route UPDATE/MERGE back through [[graft.ops.MergeOps]]. */
  private[sql] def storeDir: String = dir

  /** This snapshot's manifest, for the DML commands' declared-column
    * checks ([[ExtraCols.unmaterialized]]). */
  private[sql] def manifestEntries: Seq[(String, String)] = man

  /** The partition column ([[graft.engine.Versioned.partColOf]]). */
  private[sql] val partCol: Option[String] = Versioned.partColOf(man)

  override def name(): String = ident

  override def toString: String = s"GraftTable($ident)"

  /** Schema from ONE entry's footers (the newest-staged idiom) — never
    * a full file listing, however many partitions the table has —
    * plus any declared-but-unmaterialized columns ([[ExtraCols]]:
    * `ALTER TABLE ADD COLUMNS` before a write carries them; reads
    * null-fill, the next carrying write materializes). */
  override val schema: StructType = {
    val fromFiles = Versioned.emptyFrame(spark, dir, man, partCol).schema
    val declared = ExtraCols.read(spark, dir).fields.filterNot(f =>
      fromFiles.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    val masked = ExtraCols.dropped(spark, dir)
    StructType((fromFiles.fields ++ declared).filterNot(f =>
      masked.exists(_.equalsIgnoreCase(f.name))))
  }

  override def partitioning(): Array[Transform] =
    partCol.map(pc => Expressions.identity(pc)).toArray

  /** PARTITION MANAGEMENT (round 16 — `SHOW PARTITIONS` and
    * `ALTER TABLE DROP PARTITION`): the partition list IS the manifest
    * names — one metadata read, no listing, at any table size.
    * Creation is not a verb here (a partition exists exactly when a
    * write lands rows in it — the dynamic-partition model), and on a
    * MIXED-layout manifest (mid spec evolution) the single-column
    * partition schema cannot represent the foreign layout, so both
    * verbs decline loudly rather than under-report. DROP PARTITION
    * maps onto [[graft.ops.MergeOps.applyRetention]] — the same
    * audited, crash-atomic entry-drop commit `CALL
    * graft.system.expire_partitions` runs. */
  override def partitionSchema(): StructType = partCol match {
    case Some(pc) => StructType(Seq(schema(pc)))
    case None => new StructType()
  }

  /** Manifest entries of THIS table's declared layout; loud on mixed
    * layouts (a one-column answer would silently drop the foreign
    * ones). */
  private def layoutEntries(verb: String): Seq[(String, String)] = {
    val pc = TableDoor.requirePartCol(partCol, verb, ident, dir)
    val (mine, foreign) = man.partition(_._1.startsWith(s"$pc="))
    if (foreign.nonEmpty)
      throw new UnsupportedOperationException(
        s"$verb $ident: the manifest holds mixed partition layouts " +
          s"(mid spec evolution — e.g. ${foreign.head._1}); migrate " +
          "with upserts or OPTIMIZE first")
    mine
  }

  /** An entry name's value as this table reads it back: the un-escaped
    * dir value cast to the partition column's type, so the spec
    * `p = 7` of an int column finds `p=007`. */
  private def valueOf(name: String): Any = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    Versioned.partOf(name).flatMap(_._2).map(raw =>
      Cast(Literal(raw), partitionSchema().head.dataType,
        Option(spark.sessionState.conf.sessionLocalTimeZone)).eval(null))
      .orNull
  }

  /** This layout's entries whose value is `ident0`'s. */
  private def entriesAt(verb: String, ident0: InternalRow)
      : Seq[(String, String)] = layoutEntries(verb).filter(e =>
    valueOf(e._1) == ident0.get(0, partitionSchema().head.dataType))

  override def listPartitionIdentifiers(
      names: Array[String], ident0: InternalRow): Array[InternalRow] = {
    val entries =
      if (names.isEmpty) layoutEntries("SHOW PARTITIONS")
      else {
        require(names.length == 1 && names(0).equalsIgnoreCase(partCol.get),
          s"SHOW PARTITIONS $ident: unknown partition column(s) " +
            names.mkString(", "))
        entriesAt("SHOW PARTITIONS", ident0)
      }
    entries.map(e => InternalRow(valueOf(e._1))).toArray
  }

  override def partitionExists(ident0: InternalRow): Boolean =
    entriesAt("SHOW PARTITIONS", ident0).nonEmpty

  override def dropPartition(ident0: InternalRow): Boolean = {
    val names = entriesAt("DROP PARTITION", ident0).map(_._1).toSet
    if (names.isEmpty) false
    else { MergeOps.applyRetention(spark, dir, n => !names(n)); true }
  }

  override def createPartition(ident0: InternalRow,
      props: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"ADD PARTITION $ident: partitions exist exactly when a write " +
        "lands rows in them (the dynamic-partition model) — INSERT " +
        "the rows instead")

  override def replacePartitionMetadata(ident0: InternalRow,
      props: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$ident: partition metadata is the manifest itself — not " +
        "writable")

  override def loadPartitionMetadata(ident0: InternalRow)
      : java.util.Map[String, String] = java.util.Map.of()

  /** Persisted CHECK constraints, reported through Spark 4's DSv2
    * constraint API (surfaces in DESCRIBE): each one was validated
    * against the whole corpus when added ([[graft.ops.MergeOps
    * .addConstraint]]) and re-checks on every write, so ENFORCED +
    * VALID is the honest status. `rely=false`: the optimizer gains
    * nothing worth coupling to the sidecar here. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints
        .Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    MergeOps.tableConstraints(spark, dir, version).map { case (n, e) =>
      Constraint.check(n).predicateSql(e)
        .validationStatus(Constraint.ValidationStatus.VALID)
        .enforced(true).rely(false)
        .build(): org.apache.spark.sql.connector.catalog.constraints
          .Constraint
    }.toArray
  }

  /** Persisted TBLPROPERTIES (surfaces in `SHOW TBLPROPERTIES`). */
  override def properties(): java.util.Map[String, String] =
    Versioned.tableProps(spark, dir, version).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
                         TableCapability.MICRO_BATCH_READ,
                         TableCapability.BATCH_WRITE,
                         TableCapability.V1_BATCH_WRITE,
                         TableCapability.STREAMING_WRITE,
                         TableCapability.TRUNCATE)

  /** The merge key and partition column every write verb needs
    * ([[TableDoor.requireKeyCol]], [[TableDoor.requirePartCol]]). */
  private[sql] def keyAndPart(opts: Map[String, String],
                              verb: String): (String, String) =
    (TableDoor.requireKeyCol(spark, dir, opts, verb, ident),
     TableDoor.requirePartCol(partCol, verb, ident, dir))

  /** SQL DELETE: translatable WHERE + a partitioned store → the
    * predicate delete. Declining (`false`) surfaces Spark's loud
    * cannot-delete error — never a partial delete. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    partCol.isDefined && filters.forall(f =>
      FilterColumns.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pc = TableDoor.requirePartCol(partCol, "DELETE FROM", ident, dir)
    val cols = filters.toSeq.map(f => FilterColumns.toColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE FROM $ident: cannot translate filter $f")))
    // no filters = DELETE FROM t (empty the table): mergeDeleteWhere's
    // empty-table guard fails that loudly — emptying is table deletion
    val pred = cols.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    MergeOps.mergeDeleteWhere(spark, dir, pred, pc)
  }

  /** SQL INSERT INTO (append) and INSERT OVERWRITE (atomic full-table
    * replace) through the V1 write fallback: the batch lands in
    * [[graft.ops.MergeOps.mergeUpsert]] / `replaceTable` — persisted
    * constraints validated on the staged read-back, OCC claim taken —
    * so a SQL write is bit-identical to the Scala merge it
    * abbreviates. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val opts = TableDoor.options(info.options())
    new GraftWriteBuilder(
      (data, replace) => {
        val (key, pc) = keyAndPart(opts, "INSERT INTO")
        if (replace) MergeOps.replaceTable(spark, dir, data, key, pc)
        else MergeOps.mergeUpsert(spark, dir, data, key, pc)
      },
      /* `df.writeStream.toTable("graft.t")`: one store version per
       * micro-batch, exactly-once by the applied-batch ledger — see
       * [[GraftStreamingWrite]]. Append and update modes only (update =
       * upsert by the merge key, exactly this sink's semantics);
       * complete mode's per-trigger replace has no ledger slot, so it
       * declines loudly rather than replay a non-idempotent epoch. */
      replace => {
        if (replace) throw new UnsupportedOperationException(
          s"writeStream to $ident: complete mode (per-trigger " +
            "full-table replace) is not exactly-once under " +
            "epoch replay — use foreachBatch with " +
            "MergeOps.replaceTable, or update/append mode")
        val key = TableDoor.requireKeyCol(spark, dir, opts,
          "writeStream to", ident)
        val pc = TableDoor.requirePartCol(partCol, "writeStream to", ident,
          dir, "use foreachBatch with the merge API")
        new GraftStreamingWrite(spark, dir, ident,
          info.queryId(), info.schema(), key, pc)
      })
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(spark, dir, version, man, partCol, schema,
      openStream(TableDoor.options(options), _))

  /** `spark.readStream.table("graft.corpus")`: the plain-table stream —
    * a bootstrap snapshot then ROW IMAGES of every later insert/update
    * at the table schema (Delta's readStream-on-a-table shape).
    * Deletes fail loudly unless `ignoreDeletes`; the CDC stream with
    * change_type rows is the catalog's `changes` namespace. Reader
    * options are the feed's ([[graft.streaming.ChangeFeedStream.open]]),
    * with `startVersion` defaulting to 0 = bootstrap; the merge key
    * follows [[TableDoor.keyCol]]. Batch pushdown state (pruned columns, pushed
    * filters) never reaches this path: streaming scans are built
    * without the pushdown rules, so the stream emits the full table
    * schema — exactly the relation's analysis output. */
  private def openStream(opts: Map[String, String],
                         checkpoint: String): MicroBatchStream = {
    // declared-but-unmaterialized columns (ExtraCols) would make the
    // staged row images narrower than the relation schema — decline
    // loudly; one write carrying the column clears this
    val declaredOnly = ExtraCols.unmaterialized(spark, dir, man, partCol)
    require(declaredOnly.isEmpty,
      s"streaming graft table at $dir: declared column(s) " +
        s"${declaredOnly.mkString(", ")} are not materialized in any " +
        "file yet (ALTER TABLE ADD COLUMNS without a carrying write) — " +
        "row-image batches would be narrower than the table schema; " +
        "run one write that carries the column first")
    // default 0 = BOOTSTRAP: "the table, as a stream" means the full
    // snapshot first, then the changes — Delta's readStream semantics
    graft.streaming.ChangeFeedStream.open(spark, opts, dir, ident,
      checkpoint, schema, rowImage = true, defaultStart = Some(0L))
  }
}

/** Routes Spark's pushed filters into prune specs through the shared
  * rule, [[graft.ops.MergeOps.filterPruneHints]]: equality/IN on any
  * column → the dictionary/bloom `values` probes (and the manifest-name
  * tier when the column IS the partition key); integral comparisons →
  * the range zone maps. Every filter except a consumed partition filter
  * (see `exactPartitionFilter`) is returned to Spark for post-scan
  * evaluation — pruning is advisory, correctness never rides on a
  * sidecar. */
class GraftScanBuilder(spark: SparkSession, dir: String, version: Long,
                       man: Seq[(String, String)],
                       partCol: Option[String], fullSchema: StructType,
                       stream: String => MicroBatchStream)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var ranges: Seq[(String, Long, Long)] = Nil
  private var values: Seq[(String, Seq[String])] = Nil

  /** The hints one pushed filter contributes, by the shared rule. */
  private def hints(f: Filter)
      : (Seq[(String, Long, Long)], Seq[(String, Seq[String])]) =
    MergeOps.filterPruneHints(f,
      Option(spark.sessionState.conf.sessionLocalTimeZone))

  /** A partition-column equality/IN is CONSUMED (not returned for
    * post-scan re-evaluation) exactly when the manifest is SINGLE-
    * layout on that column and every entry the name tier admits spells
    * a wanted value verbatim (its partition-identity rule may be wider
    * than this table's read: a string column reads `007` and `7`
    * apart): each such dir name then IS the column's value for every
    * row inside, so the name-tier prune applies the filter completely —
    * classic Hive partition pruning, and the prerequisite for pushing
    * aggregates below a partition filter (Spark only pushes an
    * aggregate when no filter remains to re-evaluate). Every other
    * filter stays advisory: a sidecar is never a correctness gate. */
  private def exactPartitionFilter(f: Filter): Boolean = {
    def singleLayoutOn(c: String): Boolean =
      singleLayout && partCol.exists(_.equalsIgnoreCase(c))
    def exactNames(c: String): Boolean = hints(f)._2 match {
      // the name tier really applies it: the filter's value hint exists
      // (see MergeOps.filterPruneHints) and admits verbatim names only
      case Nil => false
      case vs => singleLayoutOn(c) &&
        MergeOps.skipEntries(man, Nil, vs, Versioned.NoZoneMaps).forall(e =>
          Versioned.partOf(e._1).flatMap(_._2)
            .exists(v => vs.forall(_._2.contains(v))))
    }
    f match {
      case EqualTo(c, _) => exactNames(c)
      case In(c, _) => exactNames(c)
      // Spark plants IsNotNull beside every partition equality: a
      // `col=value` dir name IS a non-null witness for every row
      // inside, except the default-partition dir — consuming this
      // filter drops that one dir from the scan (scanMan below)
      case IsNotNull(c) => singleLayoutOn(c)
      case _ => false
    }
  }

  private var consumedNotNull: Set[String] = Set.empty

  /** Every manifest entry is a `partCol=` entry (no spec evolution). */
  private lazy val singleLayout: Boolean = partCol.exists(pc =>
    man.forall(e => Versioned.partOf(e._1).exists(_._1.equalsIgnoreCase(pc))))

  /** The manifest the scan actually reads: consuming `IsNotNull(pc)`
    * removes the default-partition dir (the only place null partition
    * values live under a single-layout manifest). */
  private def scanMan: Seq[(String, String)] =
    if (consumedNotNull.isEmpty) man
    else man.filterNot { case (n, _) =>
      Versioned.partOf(n).exists { case (c, v) =>
        v.isEmpty && consumedNotNull.exists(c.equalsIgnoreCase) }
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val perFilter = filters.map(f => f -> hints(f))
    accepted = perFilter.collect {
      case (f, (r, v)) if r.nonEmpty || v.nonEmpty => f }
    ranges = perFilter.toSeq.flatMap(_._2._1)
    values = perFilter.toSeq.flatMap(_._2._2)
    consumedNotNull = filters.collect {
      case f @ IsNotNull(_) if exactPartitionFilter(f) => partCol.get
    }.toSet
    // consumed partition filters are fully applied by the name tier;
    // every other filter re-evaluates post-scan (pruning is advisory)
    residual = filters.filterNot(exactPartitionFilter)
    residual
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- aggregate pushdown: COUNT(*) / MIN / MAX answered from
  // METADATA (parquet footers + manifest names), never a row read ----

  private var aggCache
      : Option[(String, Option[(StructType, Seq[Row])])] = None
  private var aggAnswer: Option[(StructType, Seq[Row])] = None

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerFor(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    val ans = answerFor(agg)
    ans.foreach { a => aggAnswer = Some(a); required = a._1 }
    ans.isDefined
  }

  /** Stable cache key: Spark's `Aggregation` does not define equality,
    * so caching on the instance would recompute the one-footer-per-file
    * answer when `supportCompletePushDown` and `pushAggregation`
    * receive distinct instances of the same aggregate — the rendered
    * expressions are the semantic identity. */
  private def aggKey(agg: Aggregation): String =
    agg.aggregateExpressions.map(_.describe).mkString(";") + "|" +
      agg.groupByExpressions.map(_.describe).mkString(";")

  private def answerFor(agg: Aggregation)
      : Option[(StructType, Seq[Row])] = {
    val key = aggKey(agg)
    aggCache match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = scala.util.Try(computeAnswer(agg)).toOption.flatten
        aggCache = Some((key, r))
        r
    }
  }

  /** Answer the aggregation from metadata alone, or None (normal scan
    * proceeds — declining is always safe). Exactness argument, piece
    * by piece: parquet footer ROW COUNTS are exact for the files
    * present, and with no outstanding deletion/update vectors the
    * files ARE the content (CoW writers rewrite files, so no sidecar
    * staleness can touch this path — unlike the zone-map sidecars,
    * whose carried bounds are prune-safe supersets but NOT answer-safe
    * after a CoW delete). Footer INT32/INT64 column statistics are
    * likewise exact per file (no truncation for integral physical
    * types; a file missing the column is a schema-evolution null-fill,
    * contributing nothing to MIN/MAX; a file with rows but no
    * statistics declines the whole pushdown). Partition-column MIN/MAX
    * reads the manifest NAMES (single-layout only). The kept-entry set
    * honors the consumed partition filters through the same name tier
    * the row scan would use. Cost: one footer read per surviving file,
    * driver-side, zero tasks — the manifest-recorded-counts tier
    * (Iceberg's) is the upgrade path if footer RPCs ever dominate. */
  private def computeAnswer(agg: Aggregation)
      : Option[(StructType, Seq[Row])] = {
    import org.apache.spark.sql.types._
    GraftScanObservable.lastAggFooterReads = 0
    if (residual.nonEmpty) return None  // a filter would re-evaluate
    val funcs = agg.aggregateExpressions.toSeq
    if (funcs.isEmpty) return None
    def nameOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 =>
        fullSchema.fields.map(_.name)
          .find(_.equalsIgnoreCase(nr.fieldNames.head))
      case _ => None
    }
    // GROUP BY is answerable in exactly one shape: BY THE PARTITION
    // COLUMN on a single-layout manifest — each surviving entry IS one
    // group ("rows per language", the other constant maintainer poll)
    val groupCol: Option[String] = agg.groupByExpressions.toSeq match {
      case Nil => None
      case Seq(e) =>
        val c = nameOf(e)
        if (c.exists(n => partCol.exists(_.equalsIgnoreCase(n)))) c
        else return None
      case _ => return None
    }
    import org.apache.spark.sql.connector.expressions.aggregate.{
      CountStar, Max, Min}
    sealed trait Spec
    case object Cnt extends Spec
    case class Mn(c: String) extends Spec
    case class Mx(c: String) extends Spec
    val specs0 = funcs.map {
      case _: CountStar => Some(Cnt): Option[Spec]
      case m: Min => nameOf(m.column()).map(Mn(_): Spec)
      case m: Max => nameOf(m.column()).map(Mx(_): Spec)
      case _ => None: Option[Spec]
    }
    if (specs0.exists(_.isEmpty)) return None
    val specs = specs0.flatten
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // footer statistics are EXACT (never truncated) for integral
    // physical types — which includes DATE (INT32 days) and TIMESTAMP
    // (INT64 micros/millis): "latest event ts" is the other constant
    // maintainer poll, so it answers metadata-only too (round 16)
    val isPart = (c: String) => partCol.exists(_.equalsIgnoreCase(c))
    val minMaxCols = specs.collect { case Mn(c) => c case Mx(c) => c }
    if (!minMaxCols.forall(c => Footers.boundable(fullSchema(c).dataType)))
      return None
    // MOR vectors outstanding: footer BOUNDS could name a tombstoned
    // or re-imaged row — MIN/MAX decline. COUNT(*) survives (round
    // 16): update vectors substitute exactly one image per live base
    // row (count preserved — the key-unique upsert invariant), and a
    // FULLY position-mapped deletion vector names its doomed base rows
    // exactly, so count = footer rows − |distinct positions|; any
    // scope-only or whole-partition dv line declines (doomed count
    // unknown without a key read).
    val dvRefs = Versioned.morRefs(spark, dir, version, Versioned.Dv)
    val uvRefs = Versioned.morRefs(spark, dir, version, Versioned.Uv)
    if ((dvRefs.nonEmpty || uvRefs.nonEmpty) && minMaxCols.nonEmpty)
      return None
    // partition-column min/max from names needs the single layout, as
    // does grouping by it
    if ((minMaxCols.exists(c => isPart(c)) || groupCol.isDefined) &&
        !singleLayout)
      return None
    val kept = MergeOps.skipEntries(scanMan, ranges, values,
      Versioned.NoZoneMaps)
    // exact doomed-row count per kept entry, from the dv sidecars
    // alone: every line fully position-mapped, positions unioned per
    // file across stacked generations (MorRef.qualified: bare legacy
    // names take the holder entry's relpath so generations merge exactly)
    if (!kept.forall { case (name, _) =>
          dvRefs.getOrElse(name, Nil).forall(r =>
            r.scope.isDefined && r.pos.keySet == r.scope.get) })
      return None
    val doomedByEntry: Map[String, Long] = kept.map { case (name, rel) =>
      name -> dvRefs.getOrElse(name, Nil)
        .flatMap(_.qualified(rel).pos.toSeq)
        .groupBy(_._1)
        .map { case (_, ps) => ps.flatMap(_._2).distinct.size.toLong }
        .sum
    }.toMap
    val conf = spark.sparkContext.hadoopConfiguration
    // one footer per surviving data file, read once, shared by every
    // requested function ([[Footers]]: the one exactness rule)
    val footerCols = minMaxCols.filterNot(isPart).distinct
      .map(c => c -> fullSchema(c).dataType)
    def footersOf(entries: Seq[(String, String)]) =
      entries.flatMap { case (_, rel) =>
        Versioned.dataFiles(spark, dir, rel).map { st =>
          GraftScanObservable.lastAggFooterReads += 1
          Footers.read(conf, st, footerCols)
        }
      }
    // the Iceberg manifest-recorded-counts tier (round 16): COUNT
    // prices from ONE dir listing per entry when the stats sidecar
    // recorded a row count for EVERY file actually present
    // ([[Versioned.recordedRows]]) — the footer-per-file RPCs become
    // the fallback, not the path
    lazy val statsRows =
      Versioned.zoneMaps(spark, dir, version, Some(Set.empty)).rows
    // canonical long = the integral value, epoch DAYS (date) or MICROS
    // (timestamp) — the unit Footers normalizes chunk statistics to
    def cast(c: String, v: Long): Any = fullSchema(c).dataType match {
      case LongType => v
      case IntegerType => v.toInt
      case ShortType => v.toShort
      case ByteType => v.toByte
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v))
      case TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(v)
      case TimestampNTZType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToLocalDateTime(v)
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    // a declined footer throws: the whole pushdown declines
    def dataColBound(footers: Seq[Footers.Footer], c: String,
                     wantMin: Boolean): Option[Any] =
      Footers.merge(footers.map(_.bounds(c))) match {
        case Footers.Exact(lo, hi) => Some(cast(c, if (wantMin) lo else hi))
        case Footers.NoBound => None
        case Footers.Decline =>
          throw new IllegalStateException(s"footers cannot bound $c")
      }
    def dirValueRaw(n: String): Option[String] =
      Versioned.partOf(n).flatMap(_._2)
    def partColBound(entries: Seq[(String, String)], c: String,
                     wantMin: Boolean): Option[Any] = {
      // non-integral parse throws -> decline
      val vals = entries.map(_._1).flatMap(dirValueRaw).map(_.toLong)
      // an all-null (default-partition-only) result is a NULL bound —
      // bound of no values is null either way
      vals.reduceOption((a: Long, b: Long) =>
          if (wantMin) math.min(a, b) else math.max(a, b))
        .map(cast(c, _))
    }
    def groupValue(n: String): Any = fullSchema(groupCol.get).dataType match {
      case StringType => dirValueRaw(n).orNull
      case dt if integral(dt) =>
        dirValueRaw(n).map(r => cast(groupCol.get, r.toLong)).orNull
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    // one (groupValue?, entries) bucket per answer row: the whole kept
    // set unfiltered, or one per surviving entry when grouped (single
    // layout: an entry IS its partition value's whole extent)
    val buckets: Seq[(Option[Any], Seq[(String, String)])] =
      groupCol match {
        case None => Seq((None, kept))
        case Some(_) => kept.map(e => (Some(groupValue(e._1)), Seq(e)))
      }
    def cellsFor(entries: Seq[(String, String)])
        : Seq[(StructField, Any)] = {
      lazy val footers = footersOf(entries)
      def bound(c: String, wantMin: Boolean): Option[Any] =
        if (isPart(c)) partColBound(entries, c, wantMin)
        else dataColBound(footers, c, wantMin)
      specs.map {
        case Cnt =>
          val base = Versioned.recordedRows(spark, dir, entries, statsRows)
            .getOrElse(footers.map(_.rows).sum)
          val n = base -
            entries.map(e => doomedByEntry.getOrElse(e._1, 0L)).sum
          (StructField("count(*)", LongType, nullable = false), n)
        case Mn(c) =>
          (StructField(s"min($c)", fullSchema(c).dataType),
           bound(c, wantMin = true).orNull)
        case Mx(c) =>
          (StructField(s"max($c)", fullSchema(c).dataType),
           bound(c, wantMin = false).orNull)
      }
    }
    val answered = buckets.map { case (gv, entries) =>
      (gv, cellsFor(entries))
    }
    val aggFields = answered.headOption.map(_._2.map(_._1))
      .getOrElse(cellsFor(Nil).map(_._1))
    val schema = StructType(
      groupCol.map(c => StructField(c, fullSchema(c).dataType)).toSeq ++
        aggFields)
    val rows = answered.map { case (gv, cells) =>
      Row((gv.toSeq ++ cells.map(_._2)): _*)
    }
    Some((schema, rows))
  }

  override def build(): Scan = aggAnswer match {
    case Some((schema, row)) =>
      new GraftAggAnswerScan(spark, dir, version, schema, row)
    case None =>
      new GraftScan(spark, dir, version, scanMan, partCol, required,
                    ranges, values, stream)
  }

}

/** A completely-pushed aggregate's answer: one precomputed row, no
  * file scan anywhere in the plan — the row was derived from parquet
  * footers and manifest names on the driver. */
class GraftAggAnswerScan(spark: SparkSession, dir: String, version: Long,
                         answerSchema: StructType, answer: Seq[Row])
    extends GraftV1Scan {

  override def readSchema(): StructType = answerSchema

  override def description(): String =
    s"GraftAggAnswerScan[$dir@v$version, metadata-only]"

  override protected def rows(): RDD[Row] = {
    GraftScanObservable.lastAggPushed = Some(description())
    spark.sparkContext.parallelize(answer, 1)
  }
}

/** The pruned read, delivered through `V1Scan` (the JDBC-connector
  * migration idiom): the inner relation is a plain parquet DataFrame
  * over ONLY the kept manifest entries — Catalyst plans it with
  * vectorized scans, whole-stage codegen, and (via the typed
  * residuals) parquet row-group pushdown, so the SQL path's physics
  * match the Scala readers'. */
class GraftScan(spark: SparkSession, dir: String, version: Long,
                man: Seq[(String, String)], partCol: Option[String],
                required: StructType,
                ranges: Seq[(String, Long, Long)],
                values: Seq[(String, Seq[String])],
                stream: String => MicroBatchStream)
    extends GraftV1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** REAL size statistics instead of `spark.sql.defaultSizeInBytes`
    * (effectively infinite): the on-disk bytes of the entries the NAME
    * tier keeps (one `getContentSummary` per surviving dir, no sidecar
    * loads at planning time) — an overestimate of the sidecar-pruned
    * read, the safe direction (too-big costs a shuffle; too-small
    * OOMs a broadcast). Where it lands today: the ANALYZED relation's
    * stats (`DataSourceV2RelationBase.computeStats` builds an unpushed
    * scan and reads this), i.e. caching and any pre-optimization
    * consumer. Static JOIN selection does NOT see it: the pushed-down
    * plan wraps V1 scans in Spark's `V1ScanWrapper`, which drops the
    * statistics interface (the JDBC V2 catalog shares this
    * limitation) — so the static broadcast lever for a graft dim
    * table is the `/*+ BROADCAST */` hint, and AQE converts
    * shuffle-to-broadcast at runtime from measured sizes. The moment
    * Spark's wrapper delegates statistics, the pruning-aware estimate
    * below becomes the static join-planning input with no change
    * here. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val fsys = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    lazy val nameKept = MergeOps.skipEntries(man, ranges, values,
      Versioned.NoZoneMaps)
    val bytes = scala.util.Try {
      nameKept.map(_._2).distinct
        .map(rel => fsys.getContentSummary(new Path(s"$dir/$rel"))
          .getLength).sum
    }.toOption
    // row-count ESTIMATE from the manifest-recorded per-file counts
    // (round 16): exact when every kept entry's listed files carry a
    // recorded count and no MOR vector is outstanding; a standing dv
    // makes it a slight OVERcount — the safe direction for join
    // planning (too-big costs a shuffle, too-small OOMs a broadcast) —
    // so only the dv case keeps the estimate, absent lines drop it
    val rows = scala.util.Try(Versioned.recordedRows(spark, dir, nameKept,
      Versioned.zoneMaps(spark, dir, version, Some(Set.empty)).rows))
      .toOption.flatten
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        bytes.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
    }
  }

  override def description(): String =
    s"GraftScan[$dir@v$version, ranges=${ranges.size}, " +
      s"values=${values.size}]"

  /** `spark.readStream.table("graft.corpus")`: the owning table's
    * plain-table stream ([[GraftTable]]'s `openStream`). */
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = stream(checkpointLocation)

  // what a formatted plan's scan node prints: the store and version
  override protected def relationName: String =
    s"GraftRelation($dir@v$version)"

  override protected def rows(): RDD[Row] = {
    // the shared pruned reader: sidecars load only for the probed
    // tiers and columns, partition-key values also prune on the
    // manifest names, and the typed residuals run INSIDE the inner
    // plan so parquet row-group stats skip within survivors; Spark
    // re-applies the original filters post-scan
    val (kept, filtered) = MergeOps.skipPrunedRead(spark, dir, version,
      man, partCol, ranges, values)
    GraftScanObservable.lastKeptDirs = kept.map(_._1)
    // declared-but-unmaterialized columns (ALTER TABLE ADD COLUMNS,
    // see ExtraCols) null-fill here: no kept file carries them yet
    val withDeclared = required.fields.toSeq.foldLeft(filtered) {
      (df, f) =>
        if (df.columns.exists(_.equalsIgnoreCase(f.name))) df
        else df.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType))
    }
    // cast-align to the DECLARED read schema: over a mixed-layout
    // manifest a partition column is dir-derived in one version
    // group and file-stored in another, and the union's coerced type
    // can disagree with the table schema (inference types `p=2` as
    // int, the files store string) — the no-op casts fold away when
    // types already match
    withDeclared.select(required.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*).rdd
  }
}

/** One BRANCH head as a V2 table (see [[GraftCatalog.BranchesNs]]):
  * reads deliver [[graft.ops.BranchOps.readBranch]] (branch manifest +
  * dv refs, data resolved against the root — fork-inherited and
  * branch-staged dirs both); INSERT maps onto
  * [[graft.ops.BranchOps.branchUpsert]] with the merge key resolved
  * against the ROOT table ([[TableDoor.keyCol]]). This is the AUDIT
  * surface — no sidecar pruning (a branch head is read whole before
  * publish), no OVERWRITE (a branch replace has no WAP meaning). */
class GraftBranchTable(spark: SparkSession, dir: String, branch: String,
                       ident: String)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import graft.ops.BranchOps

  private val bdir = s"$dir/branches/$branch"
  private val bv = Versioned.currentVersion(spark, bdir).getOrElse(
    throw new IllegalStateException(
      s"branch '$branch' under $dir has no committed version — a " +
        "crashed create; drop and re-create it"))
  private val pc: String = TableDoor.requirePartCol(
    Versioned.partColOf(Versioned.manifest(spark, bdir, bv)), "branch",
    ident, dir, "use the branch API")

  override def name(): String = ident
  override val schema: StructType =
    BranchOps.readBranch(spark, dir, branch, pc).schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
                         TableCapability.BATCH_WRITE,
                         TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder
        with SupportsPushDownRequiredColumns {
    private var required: StructType = schema
    override def pruneColumns(req: StructType): Unit =
      if (req.nonEmpty) required = req
    override def build(): Scan = new GraftV1Scan {
      override def readSchema(): StructType = required
      override def description(): String =
        s"GraftBranchScan[$dir@$branch]"
      override protected def rows(): RDD[Row] =
        BranchOps.readBranch(spark, dir, branch, pc)
          .select(required.fieldNames.toSeq.map(col): _*).rdd
    }
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val opts = TableDoor.options(info.options())
    new GraftWriteBuilder((data, replace) => {
      require(!replace,
        s"INSERT OVERWRITE on $ident: a branch replace has " +
          "no write-audit-publish meaning — drop and " +
          "re-create the branch instead")
      BranchOps.branchUpsert(spark, dir, branch, data,
        TableDoor.requireKeyCol(spark, dir, opts, "INSERT INTO", ident), pc)
    })
  }
}

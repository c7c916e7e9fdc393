package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead,
  Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.hadoop.fs.Path

import graft.engine.Versioned
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
  private var root: String = _

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
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.root — the " +
          "directory whose versioned-store children become tables"))
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (ident.namespace :+ ident.name)
      .foldLeft(new Path(root))((p, n) => new Path(p, n)).toString

  /** The CDC door: `<catalog>.changes.<store>` is the store's change
    * FEED as a streaming table — schema = table schema + change_type,
    * `spark.readStream.table("graft.changes.corpus")` with the feed's
    * options (`keyCol` required; `startVersion`/`startTag`, pacing,
    * `pinRetention`) passed as reader options. The namespace is
    * virtual: it resolves against the same stores the root lists. */
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
      val v = Versioned.currentVersion(spark, dir).getOrElse(
        throw new NoSuchTableException(ident))
      val pc = Versioned.manifest(spark, dir, v)
        .map(_._1).find(_.contains('=')).map(_.takeWhile(_ != '='))
      val base = Versioned.readCurrent(spark, dir, pc).schema
      require(!base.fieldNames.contains("change_type"),
        s"the table under $dir already has a change_type column — the " +
          "feed cannot add its classification column")
      val feedSchema = base.add("change_type",
        org.apache.spark.sql.types.StringType, nullable = false)
      // the persisted keyCol table property seeds the feed's required
      // reader option (scan-time .option("keyCol", …) still overrides)
      return new graft.streaming.ChangeFeedTable(feedSchema,
        Map("dir" -> dir) ++ pc.map("partcol" -> _) ++
          Versioned.tableProps(spark, dir, v)
            .collectFirst { case (k, kv)
                if k.equalsIgnoreCase("keyCol") => "keycol" -> kv })
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

  /** [[graft.engine.Versioned.readVersion]]'s loud below-floor guard,
    * shared by both time-travel doors: a version below the retention
    * floor may have had its data vacuumed, and reading a partial
    * snapshot silently is the one thing time travel must never do —
    * tagged versions are exempt (their dirs survive the sweep). */
  private def requireAboveFloor(spark: SparkSession, dir: String,
                                v: Long): Unit =
    Versioned.retentionFloor(spark, dir).foreach(f => require(
      v >= f || Versioned.tags(spark, dir).values.exists(_ == v),
      s"version $v is below the retention floor $f under $dir — " +
        "its data dirs may have been vacuumed; raise keepVersions " +
        "before vacuuming (or tag the version) if you need deeper " +
        "time travel"))

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
    requireAboveFloor(spark, dir, v)
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
    requireAboveFloor(spark, dir, v)
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
    val others = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint] ||
        c.isInstanceOf[TableChange.DeleteColumn])
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
      val t = loadTable(ident) match {
        case g: GraftTable => g
        case _ => throw new UnsupportedOperationException(
          s"DROP COLUMN on ${ident.name}: not a committed store")
      }
      val exists = t.schema.fieldNames.exists(_.equalsIgnoreCase(name))
      if (!exists) {
        if (c.ifExists == java.lang.Boolean.TRUE) ()
        else throw new IllegalArgumentException(
          s"DROP COLUMN ${ident.name}.$name: no such column")
      } else {
        require(!t.partCol.exists(_.equalsIgnoreCase(name)),
          s"DROP COLUMN ${ident.name}.$name: the partition column is " +
            "a row's location — not droppable")
        val keyProp = Versioned.currentVersion(spark, dir)
          .flatMap(v => Versioned.tableProps(spark, dir, v)
            .collectFirst { case (k, kv)
                if k.equalsIgnoreCase("keyCol") => kv })
        require(!keyProp.exists(_.equalsIgnoreCase(name)),
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
          val pc = loadTable(ident) match {
            case g: GraftTable => g.partCol.getOrElse(
              throw new UnsupportedOperationException(
                s"ADD CONSTRAINT on ${ident.name}: the store is " +
                  "unpartitioned — use the merge API"))
            case _ => throw new UnsupportedOperationException(
              s"ADD CONSTRAINT on ${ident.name}: not a committed store")
          }
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
    Versioned.currentVersion(spark, dir)
      .flatMap(v => Versioned.tableProps(spark, dir, v)
        .collectFirst { case (k, j) if k == Key => j })
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
    Versioned.currentVersion(spark, dir)
      .flatMap(v => Versioned.tableProps(spark, dir, v)
        .collectFirst { case (k, j) if k == DroppedKey => j })
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
  * schema; the first INSERT/CTAS write runs the ordinary
  * [[graft.ops.MergeOps.mergeUpsert]] (creating version 1) and then
  * persists the declared properties, after which loadTable resolves
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
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
                         TableCapability.BATCH_WRITE,
                         TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan with V1Scan {
      override def readSchema(): StructType = declared
      override def description(): String =
        s"GraftPendingScan[$ident, empty]"
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = declared
          override def buildScan(): RDD[Row] =
            spark.sparkContext.emptyRDD[Row]
        }.asInstanceOf[T]
    }
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val opts = info.options().asScala.toMap.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                val key = opts.get("keycol")
                  .orElse(props.collectFirst { case (k, v)
                      if k.equalsIgnoreCase("keyCol") => v })
                  .getOrElse(throw new IllegalArgumentException(
                    s"the first write into $ident needs the merge " +
                      "key: declare TBLPROPERTIES('keyCol'='…') at " +
                      "CREATE TABLE or pass .option(\"keyCol\", …)"))
                require(!overwrite,
                  s"INSERT OVERWRITE into $ident is not supported")
                MergeOps.mergeUpsert(spark, dir, data, key, partCol)
                if (props.nonEmpty)
                  MergeOps.setTableProperties(spark, dir, props)
              }
            }
        }
    }
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

  /** The partition column, recovered from the manifest's own
    * `col=value` entry names (absent for whole-table stores). On a
    * MIXED-layout manifest (mid metadata-tier spec evolution) any
    * `col=` entry will do: the readers only use Some-ness to choose
    * the per-version-group `basePath` read, which re-derives each
    * group's own dir column — so scan the whole manifest for one
    * rather than trusting the first entry's sort luck (a whole-table
    * entry sorting first must not blind the read to dir columns). */
  private[sql] val partCol: Option[String] =
    man.map(_._1).find(_.contains('='))
      .map(_.takeWhile(_ != '='))

  override def name(): String = ident

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
    val pc = partCol.getOrElse(throw new UnsupportedOperationException(
      s"$verb $ident: the store is unpartitioned"))
    val (mine, foreign) = man.partition(_._1.startsWith(s"$pc="))
    if (foreign.nonEmpty)
      throw new UnsupportedOperationException(
        s"$verb $ident: the manifest holds mixed partition layouts " +
          s"(mid spec evolution — e.g. ${foreign.head._1}); migrate " +
          "with upserts or OPTIMIZE first")
    mine
  }

  private def identOf(name: String): InternalRow = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val f = partitionSchema().head
    val raw = name.substring(name.indexOf('=') + 1)
    val value =
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else {
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
        Cast(Literal(ExternalCatalogUtils.unescapePathName(raw)),
          f.dataType,
          Option(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
      }
    InternalRow(value)
  }

  private def nameOfIdent(row: InternalRow): String = {
    val f = partitionSchema().head
    val scala0 = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(f.dataType)(row.get(0, f.dataType))
    Versioned.partDirName(partCol.get, scala0)
  }

  override def listPartitionIdentifiers(
      names: Array[String], ident0: InternalRow): Array[InternalRow] = {
    val entries = layoutEntries("SHOW PARTITIONS")
    val pc = partCol.get
    val wanted: Option[String] =
      if (names.isEmpty) None
      else {
        require(names.length == 1 && names(0).equalsIgnoreCase(pc),
          s"SHOW PARTITIONS $ident: unknown partition column(s) " +
            names.mkString(", "))
        Some(nameOfIdent(ident0))
      }
    entries.map(_._1)
      .filter(n => wanted.forall(_ == n))
      .map(identOf).toArray
  }

  override def partitionExists(ident0: InternalRow): Boolean =
    layoutEntries("SHOW PARTITIONS").exists(_._1 == nameOfIdent(ident0))

  override def dropPartition(ident0: InternalRow): Boolean = {
    val name = nameOfIdent(ident0)
    if (!layoutEntries("DROP PARTITION").exists(_._1 == name)) false
    else { MergeOps.applyRetention(spark, dir, n => n != name); true }
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
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    Versioned.tableProps(spark, dir, version).foreach { case (k, v) =>
      m.put(k, v) }
    m
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
                         TableCapability.MICRO_BATCH_READ,
                         TableCapability.BATCH_WRITE,
                         TableCapability.V1_BATCH_WRITE,
                         TableCapability.STREAMING_WRITE,
                         TableCapability.TRUNCATE)

  /** The merge key every write verb needs: the writer option wins,
    * else the persisted `keyCol` table property at the CURRENT
    * version (a stale handle must not resurrect a renamed key);
    * absent both, fail loudly before staging a byte. */
  private def resolvedKeyCol(opts: Map[String, String],
                             verb: String): String =
    opts.get("keycol").orElse(
      Versioned.tableProps(spark, dir,
          Versioned.currentVersion(spark, dir).getOrElse(version))
        .collectFirst { case (k, v)
            if k.equalsIgnoreCase("keyCol") => v })
      .getOrElse(throw new IllegalArgumentException(
        s"$verb $ident needs the table's merge key: " +
          "persist it once with ALTER TABLE … SET " +
          "TBLPROPERTIES('keyCol'='…') or pass " +
          ".option(\"keyCol\", …) on the writer"))

  /** SQL DELETE: translatable WHERE + a partitioned store → the
    * predicate delete. Declining (`false`) surfaces Spark's loud
    * cannot-delete error — never a partial delete. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    partCol.isDefined && filters.forall(f =>
      FilterColumns.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pc = partCol.getOrElse(throw new UnsupportedOperationException(
      s"DELETE FROM $ident: the store under $dir is unpartitioned — " +
        "predicate deletes need the partition-dir layout; use the " +
        "merge API"))
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
    val opts = info.options().asScala.toMap.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate
        with org.apache.spark.sql.internal.connector
          .SupportsStreamingUpdateAsAppend {
      private var replaceAll = false
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        replaceAll = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                val key = resolvedKeyCol(opts, "INSERT INTO")
                val pc = partCol.getOrElse(
                  throw new UnsupportedOperationException(
                    s"INSERT INTO $ident: the store under $dir is " +
                      "unpartitioned — use the merge API"))
                if (replaceAll || overwrite)
                  MergeOps.replaceTable(spark, dir, data, key, pc)
                else
                  MergeOps.mergeUpsert(spark, dir, data, key, pc)
              }
            }

          /** `df.writeStream.toTable("graft.t")`: one store version per
            * micro-batch, exactly-once by the applied-batch ledger —
            * see [[GraftStreamingWrite]]. Append and update modes only
            * (update = upsert by the merge key, exactly this sink's
            * semantics); complete mode's per-trigger replace has no
            * ledger slot, so it declines loudly rather than replay a
            * non-idempotent epoch. */
          override def toStreaming: org.apache.spark.sql.connector
              .write.streaming.StreamingWrite = {
            if (replaceAll) throw new UnsupportedOperationException(
              s"writeStream to $ident: complete mode (per-trigger " +
                "full-table replace) is not exactly-once under " +
                "epoch replay — use foreachBatch with " +
                "MergeOps.replaceTable, or update/append mode")
            val key = resolvedKeyCol(opts, "writeStream to")
            val pc = partCol.getOrElse(
              throw new UnsupportedOperationException(
                s"writeStream to $ident: the store under $dir is " +
                  "unpartitioned — use foreachBatch with the merge API"))
            new GraftStreamingWrite(spark, dir, ident,
              info.queryId(), info.schema(), key, pc)
          }
        }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(spark, dir, version, man, partCol, schema,
      options.asScala.toMap.map { case (k, v) =>
        k.toLowerCase(java.util.Locale.ROOT) -> v })
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
                       options: Map[String, String] = Map.empty)
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
    * layout on that column: every entry's `col=value` dir name then IS
    * the column's value for every row inside, so the name-tier prune
    * applies the filter completely — classic Hive partition pruning,
    * and the prerequisite for pushing aggregates below a partition
    * filter (Spark only pushes an aggregate when no filter remains to
    * re-evaluate). On a MIXED-layout manifest (mid spec-evolution)
    * entries of other layouts pass the name tier unfiltered, so the
    * filter stays advisory there. Everything else always stays
    * advisory: a sidecar is never a correctness gate. */
  private def exactPartitionFilter(f: Filter): Boolean = {
    def singleLayoutOn(c: String): Boolean =
      partCol.exists(pc => pc.equalsIgnoreCase(c) &&
        man.forall(_._1.toLowerCase(java.util.Locale.ROOT)
          .startsWith(pc.toLowerCase(java.util.Locale.ROOT) + "=")))
    f match {
      // consumed only when the name tier really applies it: the
      // filter's value hint exists (see MergeOps.filterPruneHints)
      case EqualTo(c, _) => singleLayoutOn(c) && hints(f)._2.nonEmpty
      case In(c, _) => singleLayoutOn(c) && hints(f)._2.nonEmpty
      // Spark plants IsNotNull beside every partition equality: a
      // `col=value` dir name IS a non-null witness for every row
      // inside, except the default-partition dir — consuming this
      // filter drops that one dir from the scan (scanMan below)
      case IsNotNull(c) => singleLayoutOn(c)
      case _ => false
    }
  }

  private var consumedNotNull: Set[String] = Set.empty

  /** The manifest the scan actually reads: consuming `IsNotNull(pc)`
    * removes the default-partition dir (the only place null partition
    * values live under a single-layout manifest). */
  private def scanMan: Seq[(String, String)] =
    if (consumedNotNull.isEmpty) man
    else man.filterNot { case (n, _) =>
      consumedNotNull.exists(c =>
        n.equalsIgnoreCase(Versioned.partDirName(c, null)))
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
    // (INT64 micros/millis, the unit checked per chunk in
    // dataColBound): "latest event ts" is the other constant
    // maintainer poll, so it answers metadata-only too (round 16)
    def boundable(dt: DataType): Boolean = dt match {
      case DateType | TimestampType | TimestampNTZType => true
      case other => integral(other)
    }
    val isPart = (c: String) => partCol.exists(_.equalsIgnoreCase(c))
    val minMaxCols = specs.collect { case Mn(c) => c case Mx(c) => c }
    if (!minMaxCols.forall(c => boundable(fullSchema(c).dataType)))
      return None
    // MOR vectors outstanding: footer BOUNDS could name a tombstoned
    // or re-imaged row — MIN/MAX decline. COUNT(*) survives (round
    // 16): update vectors substitute exactly one image per live base
    // row (count preserved — the key-unique upsert invariant), and a
    // FULLY position-mapped deletion vector names its doomed base rows
    // exactly, so count = footer rows − |distinct positions|; any
    // scope-only or whole-partition dv line declines (doomed count
    // unknown without a key read).
    val dvRefs = Versioned.readDvRefsScoped(spark, dir, version)
    val uvRefs = Versioned.readUvRefsScoped(spark, dir, version)
    if ((dvRefs.nonEmpty || uvRefs.nonEmpty) && minMaxCols.nonEmpty)
      return None
    def singleLayout: Boolean =
      man.forall(_._1.toLowerCase(java.util.Locale.ROOT)
        .startsWith(partCol.get.toLowerCase(java.util.Locale.ROOT) + "="))
    // partition-column min/max from names needs the single layout, as
    // does grouping by it
    if ((minMaxCols.exists(c => isPart(c)) || groupCol.isDefined) &&
        !singleLayout)
      return None
    val kept = MergeOps.skipEntries(scanMan, ranges, values,
      Map.empty, Map.empty, Map.empty)
    // exact doomed-row count per kept entry, from the dv sidecars
    // alone: every line fully position-mapped, positions unioned per
    // file across stacked generations (bare legacy names qualified by
    // the holder entry's relpath so generations merge exactly)
    if (!kept.forall { case (name, _) =>
          dvRefs.getOrElse(name, Nil).forall(r =>
            r._2.isDefined && r._3.keySet == r._2.get) })
      return None
    val doomedByEntry: Map[String, Long] = kept.map { case (name, rel) =>
      name -> dvRefs.getOrElse(name, Nil)
        .flatMap(_._3.toSeq)
        .map { case (f, ps) =>
          (if (f.contains('/')) f else s"$rel/$f") -> ps }
        .groupBy(_._1)
        .map { case (_, ps) => ps.flatMap(_._2).distinct.size.toLong }
        .sum
    }.toMap
    val conf = spark.sparkContext.hadoopConfiguration
    // one footer per surviving data file, read once, shared by every
    // requested function
    def footersOf(entries: Seq[(String, String)]) =
      entries.flatMap { case (_, rel) =>
        Versioned.dataFiles(spark, dir, rel).map { st =>
          GraftScanObservable.lastAggFooterReads += 1
          org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            conf, st,
            org.apache.parquet.format.converter.ParquetMetadataConverter
              .NO_FILTER)
        }
      }
    // the Iceberg manifest-recorded-counts tier (round 16): COUNT
    // prices from ONE dir listing per entry when the stats sidecar
    // recorded a row count for EVERY file actually present
    // ([[Versioned.recordedRows]]) — the footer-per-file RPCs become
    // the fallback, not the path
    lazy val statsRows = Versioned.readStatsRows(spark, dir, version)
    def cast(c: String, v: Long): Any = fullSchema(c).dataType match {
      case LongType => v
      case IntegerType => v.toInt
      case ShortType => v.toShort
      case ByteType => v.toByte
      // canonical long = epoch DAYS (date) / MICROS (timestamp) — the
      // unit dataColBound normalized the chunk statistics to
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v))
      case TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(v)
      case TimestampNTZType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToLocalDateTime(v)
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    def dataColBound(footers: Seq[
          org.apache.parquet.hadoop.metadata.ParquetMetadata],
        c: String, wantMin: Boolean): Option[Any] = {
      var acc: Option[Long] = None
      for (f <- footers; b <- f.getBlocks.asScala) {
        if (b.getRowCount > 0L) {
          val chunk = b.getColumns.asScala
            .find(_.getPath.toDotString == c)
          chunk match {
            case None => ()  // pre-evolution file: null-filled, no bound
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || st.isEmpty)
                throw new IllegalStateException("no stats")  // decline
              else if (st.hasNonNullValue) {
                val raw = (if (wantMin) st.genericGetMin()
                           else st.genericGetMax())
                  .asInstanceOf[Number].longValue
                // normalize to the canonical long `cast` expects; any
                // physical shape stats cannot answer EXACTLY (INT96
                // timestamps, NANOS truncation, a mismatched UTC
                // adjustment) throws → the whole pushdown declines
                import org.apache.parquet.schema.{
                  LogicalTypeAnnotation, PrimitiveType}
                val prim = cc.getPrimitiveType
                val v = fullSchema(c).dataType match {
                  case DateType =>
                    if (prim.getPrimitiveTypeName !=
                        PrimitiveType.PrimitiveTypeName.INT32)
                      throw new IllegalStateException("date not INT32")
                    raw
                  case TimestampType | TimestampNTZType =>
                    prim.getLogicalTypeAnnotation match {
                      case t: LogicalTypeAnnotation
                          .TimestampLogicalTypeAnnotation =>
                        val wantUtc =
                          fullSchema(c).dataType == TimestampType
                        if (t.isAdjustedToUTC != wantUtc)
                          throw new IllegalStateException(
                            "timestamp adjustment mismatch")
                        t.getUnit match {
                          case LogicalTypeAnnotation.TimeUnit.MICROS =>
                            raw
                          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                            Math.multiplyExact(raw, 1000L)
                          case _ => throw new IllegalStateException(
                            "nanos stats are not micro-exact")
                        }
                      case _ => throw new IllegalStateException(
                        "not an annotated INT64 timestamp")
                    }
                  case _ => raw
                }
                acc = Some(acc.fold(v)(a =>
                  if (wantMin) math.min(a, v) else math.max(a, v)))
              }
          }
        }
      }
      acc.map(cast(c, _))
    }
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def dirValueRaw(n: String): Option[String] = {
      val raw = ExternalCatalogUtils.unescapePathName(
        n.drop(n.indexOf('=') + 1))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
      else Some(raw)
    }
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
            .getOrElse(footers
            .map(_.getBlocks.asScala.map(_.getRowCount).sum).sum)
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
                    ranges, values, fullSchema, options)
  }

}

/** A completely-pushed aggregate's answer: one precomputed row, no
  * file scan anywhere in the plan — the row was derived from parquet
  * footers and manifest names on the driver. */
class GraftAggAnswerScan(spark: SparkSession, dir: String, version: Long,
                         answerSchema: StructType, answer: Seq[Row])
    extends Scan with V1Scan {

  override def readSchema(): StructType = answerSchema

  override def description(): String =
    s"GraftAggAnswerScan[$dir@v$version, metadata-only]"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = answerSchema
      override def buildScan(): RDD[Row] = {
        GraftScanObservable.lastAggPushed = Some(description())
        spark.sparkContext.parallelize(answer, 1)
      }
    }.asInstanceOf[T]
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
                fullSchema: StructType = new StructType(),
                options: Map[String, String] = Map.empty)
    extends Scan with V1Scan
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
      Map.empty, Map.empty, Map.empty)
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
      Versioned.readStatsRows(spark, dir, version))).toOption.flatten
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

  /** `spark.readStream.table("graft.corpus")`: the plain-table stream —
    * a bootstrap snapshot then ROW IMAGES of every later insert/update
    * at the table schema (Delta's readStream-on-a-table shape).
    * Deletes fail loudly unless `ignoreDeletes`; the CDC stream with
    * change_type rows is the catalog's `changes` namespace. Reader
    * options: `keyCol` (required — the store does not record its merge
    * key), optional `partCol` (unpartitioned stores), `startVersion`
    * (default 0 = bootstrap), `maxVersionsPerTrigger` /
    * `maxBytesPerTrigger` pacing, `pinRetention` (tag the unread floor
    * against vacuum), `ignoreDeletes`. Batch pushdown state (pruned
    * columns, pushed filters) never reaches this path: streaming scans
    * are built without the pushdown rules, so the stream emits the
    * full table schema — exactly the relation's analysis output. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val keyCol = options.get("keycol")
      .orElse(Versioned.tableProps(spark, dir, version)
        .collectFirst { case (k, v)
            if k.equalsIgnoreCase("keyCol") => v })
      .getOrElse(throw new IllegalArgumentException(
        "streaming a graft table needs .option(\"keyCol\", ...) or a " +
          "persisted keyCol table property (ALTER TABLE … SET " +
          "TBLPROPERTIES('keyCol'='…'))"))
    val pc = partCol.orElse(options.get("partcol")).getOrElse(
      throw new IllegalArgumentException(
        "streaming a graft table needs a partition column: the store " +
          "is unpartitioned, pass .option(\"partCol\", ...)"))
    val maxV = options.get("maxversionspertrigger").map(_.trim.toLong)
    val maxB = options.get("maxbytespertrigger").map(_.trim.toLong)
    // default 0 = BOOTSTRAP: "the table, as a stream" means the full
    // snapshot first, then the changes — Delta's readStream semantics
    val startV = options.get("startversion").map(_.trim.toLong)
      .orElse(Some(0L))
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
    new graft.streaming.ChangeFeedStream(spark, dir, keyCol, pc,
      graft.streaming.ChangeFeedStream.resolveBase(
        spark, checkpointLocation, dir, startV),
      maxV, maxB, checkpointLocation, fullSchema,
      rowImage = true,
      ignoreDeletes =
        options.get("ignoredeletes").exists(_.trim.toBoolean),
      pinRetention =
        options.get("pinretention").exists(_.trim.toBoolean))
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftRelation(context).asInstanceOf[T]

  private class GraftRelation(context: SQLContext)
      extends BaseRelation with TableScan {
    override def sqlContext: SQLContext = context
    override def schema: StructType = required

    override def buildScan(): RDD[Row] = {
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
}

/** Declared queries for the SQL front door. */
/** One BRANCH head as a V2 table (see [[GraftCatalog.BranchesNs]]):
  * reads deliver [[graft.ops.BranchOps.readBranch]] (branch manifest +
  * dv refs, data resolved against the root — fork-inherited and
  * branch-staged dirs both); INSERT maps onto
  * [[graft.ops.BranchOps.branchUpsert]] with the merge key from the
  * ROOT table's persisted `keyCol` property. This is the AUDIT
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
  private val pc: String = Versioned.manifest(spark, bdir, bv)
    .map(_._1).find(_.contains('=')).map(_.takeWhile(_ != '='))
    .getOrElse(throw new UnsupportedOperationException(
      s"branch '$branch' under $dir is unpartitioned — use the " +
        "branch API"))

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
    override def build(): Scan = new Scan with V1Scan {
      override def readSchema(): StructType = required
      override def description(): String =
        s"GraftBranchScan[$dir@$branch]"
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = required
          override def buildScan(): RDD[Row] =
            BranchOps.readBranch(spark, dir, branch, pc)
              .select(required.fieldNames.toSeq.map(col): _*).rdd
        }.asInstanceOf[T]
    }
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                require(!overwrite,
                  s"INSERT OVERWRITE on $ident: a branch replace has " +
                    "no write-audit-publish meaning — drop and " +
                    "re-create the branch instead")
                val key = Versioned.tableProps(spark, dir,
                    Versioned.currentVersion(spark, dir).get)
                  .collectFirst { case (k, v)
                      if k.equalsIgnoreCase("keyCol") => v }
                  .getOrElse(throw new IllegalArgumentException(
                    s"INSERT INTO $ident needs the ROOT table's merge " +
                      "key: ALTER TABLE … SET TBLPROPERTIES" +
                      "('keyCol'='…') on the main table first"))
                BranchOps.branchUpsert(spark, dir, branch, data, key, pc)
              }
            }
        }
    }
}

object GraftSqlQueries {
  import graft.engine.Tables.documents
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{concat, lit, substring}

  /** Declared sql_store_read query: the bloom point lookup of
    * scan_bloom_pruned, issued through PLAIN SQL — no Scala reader API
    * anywhere on the query path. The store lands under the session
    * tmpdir (the catalog root), the catalog is registered by conf, and
    * `SELECT … WHERE doc_id IN (…)` prunes through the same three-tier
    * kernel: the REQUIRE pins that the doc_id blooms admit fewer
    * groups than the manifest holds, so the SQL path provably had
    * pruning to exploit; the oracle is the plain IN-filter, so
    * equality proves the front door is invisible in the data. */
  def sqlStoreReadQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlstore_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp",
                         bloomKeys = Seq("doc_id"))
    val probes = Seq("2", "23", "41")
    val blooms = Versioned.readStatsBloom(s, dir, 1L, Some(Set("doc_id")))
    val kept = Versioned.manifest(s, dir, 1L).count { case (n, _) =>
      blooms.get(n).forall(cols => cols.get("doc_id").forall(bf =>
        probes.exists(v => bf.mightContainLong(MergeOps.bloomProbeHash(v)))))
    }
    require(kept < Versioned.manifest(s, dir, 1L).size,
      s"the doc_id blooms must prune at least one source group, kept $kept")
    s.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl
         |WHERE doc_id IN (2, 23, 41)
         |ORDER BY doc_id""".stripMargin)
  }

  /** Declared sql_timetravel query: time travel through PLAIN SQL —
    * `TIMESTAMP AS OF` resolved by the store clock (the commit
    * marker's mtime) and pinned equal to `VERSION AS OF 1` by REQUIRE,
    * with the current read REQUIRE-d to have moved past both. The
    * result is version 1's content, so the oracle is the plain
    * pre-update filter — equality proves the instant resolution reads
    * exactly the committed snapshot, not a mix. */
  def sqlTimeTravelQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqltt_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    val t1 = fs.getFileStatus(new Path(dir, "commits/1"))
      .getModificationTime
    Thread.sleep(30)  // distinct store-clock instants across commits
    MergeOps.mergeUpsert(s, dir,                                    // v2
      docs.where(col("doc_id") >= 300).unionByName(
        docs.where(col("doc_id") < 50)
          .withColumn("n_chars", col("n_chars") + 1000)),
      "doc_id", "src_grp")
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    def snap(suffix: String) = s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl $suffix""".stripMargin)
    val asOf = snap(s"TIMESTAMP AS OF timestamp_millis(${t1}L)")
    val pinned = snap("VERSION AS OF 1")
    require(asOf.exceptAll(pinned).isEmpty &&
              pinned.exceptAll(asOf).isEmpty,
      "TIMESTAMP AS OF v1's instant must read exactly VERSION AS OF 1")
    require(snap("").count() > asOf.count(),
      "the current read must see the post-v1 inserts")
    asOf.orderBy("doc_id")
  }

  /** Declared sql_store_agg query: the "how big is the corpus" poll a
    * maintainer runs constantly at 100 TB — COUNT(*)/MIN/MAX answered
    * from parquet footers and manifest names alone
    * ([[GraftScanBuilder.pushAggregation]]): the REQUIREs pin that the
    * metadata path (not a scan) produced the row — zero data files in
    * the plan — and the oracle proves the numbers are exactly the
    * table's. */
  def sqlStoreAggQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlagg_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    GraftScanObservable.lastAggPushed = None
    val res = s.sql(
      s"""SELECT count(*) AS cnt, min(doc_id) AS mn, max(doc_id) AS mx
         |FROM graft.$tbl""".stripMargin)
    val row = res.collect()  // materialize so the observable is set
    require(GraftScanObservable.lastAggPushed.isDefined,
      "the aggregate must be answered from metadata, not a scan")
    require(res.inputFiles.isEmpty,
      s"no data file may appear in the pushed-aggregate plan: " +
        s"${res.inputFiles.toSeq}")
    require(row.length == 1, "one answer row")
    res
  }

  /** Declared sql_delete query: the GDPR sweep through the SQL front
    * door — `DELETE FROM graft.t WHERE …` routed via
    * `SupportsDelete.deleteWhere` into the store's predicate delete
    * ([[graft.ops.MergeOps.mergeDeleteWhere]]: CoW restage of touched
    * partitions only, constraints + OCC + crash-atomic publish). The
    * REQUIREs pin that the delete committed a NEW version and that a
    * predicate SQL cannot hand to the store fails loudly with content
    * unchanged. The oracle is the complement filter over the source,
    * so equality proves the SQL door deletes exactly the asked rows. */
  def sqlDeleteQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqldel_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"DELETE FROM graft.$tbl " +
      "WHERE n_chars < 500 OR source = 'src3'")                     // v2
    require(Versioned.currentVersion(s, dir).contains(2L),
      "the SQL DELETE must commit exactly one new version")
    val after = s.sql(s"SELECT count(*) FROM graft.$tbl")
      .head().getLong(0)
    // an untranslatable predicate must decline LOUDLY, not delete a
    // superset/subset — and leave the content untouched
    val failed =
      try { s.sql(s"DELETE FROM graft.$tbl WHERE length(source) > 5")
            false }
      catch { case _: Exception => true }
    require(failed, "a predicate the store cannot translate must fail")
    require(s.sql(s"SELECT count(*) FROM graft.$tbl")
        .head().getLong(0) == after,
      "a failed DELETE must leave the table byte-identical")
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }

  /** Declared sql_insert query: append through the SQL front door —
    * the merge key persisted ONCE as a table property (`ALTER TABLE …
    * SET TBLPROPERTIES('keyCol'='doc_id')`), then `INSERT INTO …
    * SELECT` routed through the V1 write fallback into
    * [[graft.ops.MergeOps.mergeUpsert]] (persisted constraints
    * validated on the staged read-back, touched partitions declared,
    * OCC claim taken). The inserted batch carries both NEW keys and
    * UPDATES of existing ones, so the oracle is the replayed-union
    * (upsert) semantics; a REQUIRE pins that a constraint-violating
    * INSERT fails loudly BEFORE anything publishes. */
  def sqlInsertQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlins_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    MergeOps.addConstraint(s, dir, "nchars_nonneg",
                           "n_chars >= 0", "src_grp")               // v2
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='doc_id')")                       // v3
    docs.createOrReplaceTempView(s"${tbl}_src")
    // new keys AND updates of existing ones in one batch — INSERT is
    // the store's upsert, replayed-union semantics
    s.sql(
      s"""INSERT INTO graft.$tbl
         |SELECT doc_id, source, n_chars, src_grp FROM ${tbl}_src
         |WHERE doc_id >= 300
         |UNION ALL
         |SELECT doc_id, source, n_chars + 1000, src_grp
         |FROM ${tbl}_src WHERE doc_id < 50""".stripMargin)         // v4
    require(Versioned.currentVersion(s, dir).contains(4L),
      "the SQL INSERT must commit exactly one new version")
    // a constraint-violating INSERT fails loudly BEFORE publish
    val failed =
      try { s.sql(s"INSERT INTO graft.$tbl VALUES " +
              "(999999, 'srcX', -1, 0)")
            false }
      catch { case _: Exception => true }
    require(failed, "a constraint-violating INSERT must fail")
    require(Versioned.currentVersion(s, dir).contains(4L),
      "the failed INSERT must publish NOTHING")
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }

  /** Declared sql_maintenance query: the OPERATE-A-STORE loop with no
    * Scala in sight — SQL DELETE leaves MOR tombstones outstanding,
    * `CALL graft.system.optimize(…, zorder_by)` materializes them in a
    * z-ordered restage with fresh two-column bounds
    * ([[GraftProcedures]]), and the read-back range query prunes
    * through the recomputed zone maps (REQUIRE-pinned: dv refs gone,
    * fewer dirs read than the manifest holds). The oracle is the plain
    * conjunctive filter over the delete's complement, so equality
    * proves the whole SQL-driven lifecycle is invisible in the data. */
  def sqlMaintenanceQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlmaint_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"DELETE FROM graft.$tbl WHERE n_chars >= 300")            // v2
    val row = s.sql(s"CALL graft.system.optimize('$tbl', " +
      "zorder_by => 'doc_id,n_chars')").collect().head             // v3
    require(row.getAs[Long]("version") == 3L,
      "optimize must commit exactly one version")
    require(Versioned.readDvRefs(s, dir, 3L).isEmpty,
      "the z-order restage must materialize every deletion vector")
    GraftScanObservable.lastKeptDirs = Nil
    val res = s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl
         |WHERE doc_id <= 4 AND n_chars BETWEEN 50 AND 1500
         |ORDER BY doc_id""".stripMargin)
    res.collect()  // materialize so the observable reflects this scan
    require(GraftScanObservable.lastKeptDirs.size <
        Versioned.manifest(s, dir, 3L).size,
      "the refreshed zone maps must prune at least one partition")
    res
  }

  /** Declared sql_ctas query: the table LIFECYCLE with no Scala in
    * sight — `CREATE TABLE … PARTITIONED BY … TBLPROPERTIES
    * ('keyCol'='…') AS SELECT` materializes the store (version 1 =
    * the CTAS write, version 2 = the declared properties), a later
    * plain `INSERT INTO` upserts through the persisted key, and the
    * read-back equals the replayed-union semantics. REQUIREs pin the
    * commit shape and that the table lists in SHOW TABLES. */
  def sqlCtasQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlctas_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
      .createOrReplaceTempView(s"${tbl}_src")
    s.sql(
      s"""CREATE TABLE graft.$tbl PARTITIONED BY (src_grp)
         |TBLPROPERTIES('keyCol'='doc_id')
         |AS SELECT * FROM ${tbl}_src WHERE doc_id < 300""".stripMargin)
    require(Versioned.currentVersion(s, dir).contains(2L),
      "CTAS commits the write (v1) and the declared properties (v2)")
    require(s.sql("SHOW TABLES IN graft").collect()
        .exists(_.getString(1) == tbl),
      "the created table must list")
    s.sql(
      s"""INSERT INTO graft.$tbl
         |SELECT doc_id, source, n_chars, src_grp FROM ${tbl}_src
         |WHERE doc_id >= 300
         |UNION ALL
         |SELECT doc_id, source, n_chars + 1000, src_grp
         |FROM ${tbl}_src WHERE doc_id < 50""".stripMargin)         // v3
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }

  /** Declared sql_overwrite query: `INSERT OVERWRITE` — the atomic
    * full-table REPLACE ([[graft.ops.MergeOps.replaceTable]]): the
    * whole standing content leaves in one committed version and the
    * batch becomes the table (the backfill-rewrite shape), constraints
    * and OCC included; REQUIREs pin the single-version commit and that
    * time travel still reads the replaced snapshot. The oracle is the
    * replacement SELECT itself — equality proves the replace is total
    * and exact. */
  def sqlOverwriteQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlovw_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='doc_id')")                       // v2
    docs.createOrReplaceTempView(s"${tbl}_src")
    s.sql(
      s"""INSERT OVERWRITE graft.$tbl
         |SELECT doc_id, source, n_chars * 2, src_grp
         |FROM ${tbl}_src WHERE n_chars < 400""".stripMargin)       // v3
    require(Versioned.currentVersion(s, dir).contains(3L),
      "the replace must land as ONE atomic version")
    require(s.sql(s"SELECT count(*) FROM graft.$tbl VERSION AS OF 1")
        .head().getLong(0) ==
        docs.where(col("doc_id") < 300).count(),
      "time travel must still read the replaced snapshot")
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }

  /** Declared stream_table_read query: the PLAIN TABLE as a stream —
    * `spark.readStream.table("graft.t")` bootstraps the snapshot then
    * streams ROW IMAGES of later upserts at the table schema (no
    * change_type column; the CDC shape lives behind the `changes`
    * namespace). The sink accumulates bootstrap + images, so the
    * oracle is the three-way UNION ALL of what each phase emitted —
    * equality proves the stream delivered exactly one image per
    * change and nothing else. */
  def streamTableReadQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlstream_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val out = new java.io.File(rootDir, s"${tbl}_out").getAbsolutePath
    val ck = new java.io.File(rootDir, s"${tbl}_ck").getAbsolutePath
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(dir, out, ck).foreach { dd =>
      val pp = new Path(dd)
      if (fs.exists(pp)) fs.delete(pp, true)
    }
    val docs = documents(s, d)
      .select(col("doc_id"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    val q = s.readStream
      .option("keyCol", "doc_id")
      .table(s"graft.$tbl")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("parquet").option("path", out)
      .start()
    try {
      q.processAllAvailable()   // bootstrap: the v1 snapshot
      MergeOps.mergeUpsert(s, dir,                                  // v2
        docs.where(col("doc_id") >= 300).unionByName(
          docs.where(col("doc_id") < 50)
            .withColumn("n_chars", col("n_chars") + 1000)),
        "doc_id", "src_grp")
      q.processAllAvailable()   // one image per insert/update
    } finally q.stop()
    val res = s.read.parquet(out)
    require(!res.columns.contains("change_type"),
      "a row-image stream must carry the TABLE schema, not the feed's")
    res.select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id", "n_chars")
  }

  /** Declared stream_table_write query: continuous ingestion INTO the
    * versioned store through the catalog —
    * `df.writeStream.toTable("graft.t")` ([[GraftStreamingWrite]]).
    * Each micro-batch stages parquet on the executors and commits as
    * ONE store version through `mergeUpsert` under a
    * `stream:<queryId>:<epochId>` ledger id (exactly-once under epoch
    * replay). The lifecycle drives two file-source triggers —
    * inserts, then updates of existing keys — and REQUIREs pin that
    * each trigger committed its own version and that the updates
    * REPLACED rows (upsert, not append). The oracle replays the
    * final image over `documents`, so equality proves the sink
    * applied exactly the streamed changes. */
  def streamTableWriteQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlsink_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val src = new java.io.File(rootDir, s"${tbl}_src").getAbsolutePath
    val ck = new java.io.File(rootDir, s"${tbl}_ck").getAbsolutePath
    val fs = new Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(dir, src, ck).foreach { dd =>
      val pp = new Path(dd)
      if (fs.exists(pp)) fs.delete(pp, true)
    }
    val docs = documents(s, d)
      .select(col("doc_id"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='doc_id')")                       // v2
    docs.where(col("doc_id") >= 300)
      .write.mode("overwrite").parquet(src)
    val q = s.readStream.schema(docs.schema).parquet(src)
      .writeStream.option("checkpointLocation", ck)
      .toTable(s"graft.$tbl")
    try {
      q.processAllAvailable()   // epoch: the >= 300 inserts
      val vIns = Versioned.currentVersion(s, dir).get
      require(vIns > 2L, "the insert trigger must commit a version")
      docs.where(col("doc_id") < 50)
        .withColumn("n_chars", col("n_chars") + lit(1000))
        .write.mode("append").parquet(src)
      q.processAllAvailable()   // epoch: upserts of existing keys
      require(Versioned.currentVersion(s, dir).get > vIns,
        "the update trigger must commit its OWN version")
      val Seq(cntLow, sumIns, sumFin) = Seq(
        s"SELECT count(*) FROM graft.$tbl WHERE doc_id < 50",
        s"SELECT sum(n_chars) FROM graft.$tbl VERSION AS OF $vIns " +
          "WHERE doc_id < 50",
        s"SELECT sum(n_chars) FROM graft.$tbl WHERE doc_id < 50")
        .map(sql => s.sql(sql).head.getLong(0))
      require(sumFin == sumIns + cntLow * 1000L,
        "the update trigger must have REPLACED (not appended) each " +
          "low key's row, and time travel must predate it")
    } finally q.stop()
    s.sql(s"SELECT doc_id, n_chars FROM graft.$tbl ORDER BY doc_id")
  }

  /** Declared sql_update query: row-level UPDATE through the SQL front
    * door — `UPDATE graft.t SET … WHERE …` intercepted by
    * [[GraftDmlStrategy]] (a runtime-installable planner strategy, the
    * public Delta idiom) and executed as
    * [[graft.ops.MergeOps.mergeUpdateWhere]]: CoW restage of ONLY the
    * touched partitions, persisted constraints re-checked on the staged
    * read-back, OCC claim, crash-atomic publish. REQUIREs pin the
    * single-commit shape and that the two illegal forms — SET on the
    * key column (row identity) and a subquery predicate — fail loudly
    * with nothing published. The oracle replays the SET arithmetic as
    * a CASE over the source table, so equality proves the SQL door
    * updates exactly the asked rows and columns. */
  def sqlUpdateQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlupd_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='doc_id')")                       // v2
    GraftDml.install(s)
    s.sql(
      s"""UPDATE graft.$tbl
         |SET n_chars = n_chars +
         |      CASE WHEN source = 'src1' THEN 10 ELSE 1 END
         |WHERE doc_id % 7 = 0 AND n_chars < 800""".stripMargin)    // v3
    require(Versioned.currentVersion(s, dir).contains(3L),
      "the SQL UPDATE must commit exactly one new version")
    // row identity is immutable: SET on the merge key fails loudly
    val keyFailed =
      try { s.sql(s"UPDATE graft.$tbl SET doc_id = doc_id + 1"); false }
      catch { case _: Exception => true }
    require(keyFailed, "UPDATE SET <keyCol> must fail loudly")
    // subquery predicates decline loudly (see GraftDml contract)
    val subqFailed =
      try { s.sql(s"UPDATE graft.$tbl SET n_chars = 0 WHERE doc_id IN " +
              s"(SELECT doc_id FROM graft.$tbl WHERE n_chars > 100)")
            false }
      catch { case _: Exception => true }
    require(subqFailed, "a subquery UPDATE must fail loudly")
    require(Versioned.currentVersion(s, dir).contains(3L),
      "failed UPDATEs must publish NOTHING")
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }

  /** Declared sql_merge query: `MERGE INTO … USING … ON t.key = s.key`
    * through the SQL front door — [[GraftDmlStrategy]] folds the WHEN
    * clauses into first-match-wins CASE images DISTRIBUTED (source ⋈
    * target on the key), then commits updates + deletes + inserts as
    * ONE [[graft.ops.MergeOps.mergeApplyChangelog]] version. REQUIREs
    * pin the single-commit shape, the SQL-standard cardinality abort
    * (two source rows on one key publish nothing), and the loud
    * decline for a non-key ON. The statement exercises all THREE
    * clause families — matched update/delete, not-matched insert, and
    * NOT MATCHED BY SOURCE update (the target-anti-source branch of
    * the same commit) — and the oracle replays the four bands. */
  def sqlMergeQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlmrg_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='doc_id')")                       // v2
    GraftDml.install(s)
    docs.where(col("doc_id") < 60 || col("doc_id") >= 300)
      .withColumn("del", col("doc_id") >= 40 && col("doc_id") < 60)
      .createOrReplaceTempView(s"${tbl}_src")
    s.sql(
      s"""MERGE INTO graft.$tbl t USING ${tbl}_src s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 500
         |WHEN NOT MATCHED THEN INSERT (doc_id, source, n_chars,
         |  src_grp) VALUES (s.doc_id, s.source, s.n_chars, s.src_grp)
         |WHEN NOT MATCHED BY SOURCE AND t.doc_id >= 280
         |  THEN UPDATE SET n_chars = 0""".stripMargin)            // v3
    require(Versioned.currentVersion(s, dir).contains(3L),
      "the whole MERGE must commit exactly ONE new version")
    // SQL-standard cardinality: duplicate source keys abort pre-stage
    docs.where(col("doc_id") === 70)
      .unionByName(docs.where(col("doc_id") === 70))
      .withColumn("del", lit(false))
      .createOrReplaceTempView(s"${tbl}_dup")
    val dupFailed =
      try { s.sql(s"""MERGE INTO graft.$tbl t USING ${tbl}_dup s
                     |ON t.doc_id = s.doc_id
                     |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
                     |""".stripMargin); false }
      catch { case _: Exception => true }
    require(dupFailed, "duplicate source merge keys must abort")
    // a non-key ON is not a merge of this table's row identity
    val onFailed =
      try { s.sql(s"""MERGE INTO graft.$tbl t USING ${tbl}_src s
                     |ON t.n_chars = s.n_chars
                     |WHEN MATCHED THEN UPDATE SET source = s.source
                     |""".stripMargin); false }
      catch { case _: Exception => true }
    require(onFailed, "a non-key ON condition must decline loudly")
    require(Versioned.currentVersion(s, dir).contains(3L),
      "failed MERGEs must publish NOTHING")
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }

  /** Declared sql_evolve query: SCHEMA EVOLUTION through the SQL front
    * door — `ALTER TABLE … ADD COLUMNS (lang STRING)` persists the
    * declared column as table metadata ([[ExtraCols]]; one property
    * commit, zero data movement at ANY table size — the Delta/Iceberg
    * metadata-tier add), reads null-fill it immediately, and the first
    * INSERT that carries it materializes it through the ordinary
    * upsert evolution (survivors null-fill). REQUIREs pin the commit
    * shape, the all-NULL declared read, the duplicate-ADD decline, and
    * that an UPDATE touching the unmaterialized column declines loudly
    * instead of silently no-opping. The oracle replays the band: lang
    * = 'en' where the carrying INSERT wrote it, NULL elsewhere. */
  def sqlEvolveQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlevo_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='doc_id')")                       // v2
    GraftDml.install(s)
    s.sql(s"ALTER TABLE graft.$tbl ADD COLUMNS (lang STRING)")      // v3
    require(Versioned.currentVersion(s, dir).contains(3L),
      "ADD COLUMNS must be ONE metadata commit, zero data movement")
    require(s.table(s"graft.$tbl").schema.fieldNames.contains("lang"),
      "the declared column must surface in the table schema")
    require(s.sql(s"SELECT count(*) FROM graft.$tbl " +
        "WHERE lang IS NOT NULL").head.getLong(0) == 0L,
      "before any carrying write the declared column reads all-NULL")
    // declaring an existing column declines loudly
    val dupFailed =
      try { s.sql(s"ALTER TABLE graft.$tbl ADD COLUMNS (lang STRING)")
            false }
      catch { case _: Exception => true }
    require(dupFailed, "re-declaring an existing column must fail")
    // UPDATE on the unmaterialized column declines loudly (a silent
    // no-op here would be a wrong answer)
    val updFailed =
      try { s.sql(s"UPDATE graft.$tbl SET lang = 'xx' WHERE doc_id = 1")
            false }
      catch { case _: Exception => true }
    require(updFailed,
      "UPDATE on an unmaterialized declared column must decline")
    // the carrying INSERT materializes: re-upsert one band with lang
    docs.createOrReplaceTempView(s"${tbl}_src")
    s.sql(
      s"""INSERT INTO graft.$tbl
         |SELECT doc_id, source, n_chars, src_grp, 'en'
         |FROM ${tbl}_src WHERE doc_id < 100""".stripMargin)       // v4
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars,
         |       lang
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }

  /** Declared sql_constraint query: CHECK constraints as SQL DDL
    * (round 16 — Spark 4's DSv2 constraint API over the store's
    * persisted CHECK machinery, `merge_constrained`'s front door):
    * `ALTER TABLE … ADD CONSTRAINT c CHECK (…)` validates the WHOLE
    * existing corpus before committing (an already-violated predicate
    * declines with nothing published), every later write re-checks
    * (the violating INSERT fails loudly pre-publish), and `DROP
    * CONSTRAINT` lifts the gate — pinned by landing the formerly
    * violating band afterwards, so the oracle proves the drop takes
    * effect in DATA, not just metadata. PRIMARY KEY declarations
    * decline loudly (the store's merge contract enforces key
    * uniqueness; declaring what write-time checks cannot enforce
    * would be a lie). */
  def sqlConstraintQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlcon_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") >= 10),
                         "doc_id", "src_grp")                       // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='doc_id')")                       // v2
    s.sql(s"ALTER TABLE graft.$tbl " +
      "ADD CONSTRAINT nonneg CHECK (n_chars >= 0)")                 // v3
    require(Versioned.currentVersion(s, dir).contains(3L),
      "ADD CONSTRAINT must be one commit (validation + sidecar)")
    // a predicate the EXISTING corpus violates declines, nothing lands
    val poisonFailed =
      try { s.sql(s"ALTER TABLE graft.$tbl " +
              "ADD CONSTRAINT impossible CHECK (n_chars < 0)"); false }
      catch { case _: Exception => true }
    require(poisonFailed,
      "ADD CONSTRAINT violated by existing data must decline")
    // a write violating the live constraint fails loudly pre-publish
    docs.createOrReplaceTempView(s"${tbl}_src")
    val insFailed =
      try { s.sql(
              s"""INSERT INTO graft.$tbl
                 |SELECT doc_id, source, -1 - doc_id, src_grp
                 |FROM ${tbl}_src WHERE doc_id < 10""".stripMargin)
            false }
      catch { case _: Exception => true }
    require(insFailed, "a violating INSERT must fail loudly")
    require(Versioned.currentVersion(s, dir).contains(3L),
      "failed DDL/DML must publish NOTHING")
    // declarations the store cannot enforce at write time decline
    val pkFailed =
      try { s.sql(s"ALTER TABLE graft.$tbl " +
              "ADD CONSTRAINT pk PRIMARY KEY (doc_id)"); false }
      catch { case _: Exception => true }
    require(pkFailed, "PRIMARY KEY declarations must decline loudly")
    s.sql(s"ALTER TABLE graft.$tbl DROP CONSTRAINT nonneg")         // v4
    // the gate is lifted IN DATA: the formerly violating band lands
    s.sql(
      s"""INSERT INTO graft.$tbl
         |SELECT doc_id, source, -1 - doc_id, src_grp
         |FROM ${tbl}_src WHERE doc_id < 10""".stripMargin)       // v5
    require(Versioned.currentVersion(s, dir).contains(5L),
      "post-drop the same INSERT must land in one version")
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }

  /** Declared sql_drop_column query: `ALTER TABLE … DROP COLUMN` — the
    * MASK half of metadata-tier schema evolution: one property commit
    * hides the column from the catalog schema (zero data movement at
    * any size); files keep the bytes until ordinary batch-authoritative
    * restages shed them, so a dropped NAME can never be re-declared
    * (old files would resurrect stale values under it — REQUIRE-pinned
    * decline). Identity and location are not droppable (keyCol /
    * partCol declines pinned), and a post-drop INSERT aligns to the
    * narrowed schema through the ordinary upsert. The oracle is the
    * full replayed content WITHOUT the column, proving the mask is
    * invisible in the surviving data. */
  def sqlDropColumnQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqldropc_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (substring(col("source"), 4, 10).cast("long") / 5)
                .cast("long").as("src_grp"))
    MergeOps.mergeUpsert(s, dir,
      docs.where(col("doc_id") < 300)
        .withColumn("note", concat(lit("n"), col("doc_id"))),
      "doc_id", "src_grp")                                          // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='doc_id')")                       // v2
    require(s.table(s"graft.$tbl").columns.contains("note"))
    s.sql(s"ALTER TABLE graft.$tbl DROP COLUMN note")               // v3
    require(Versioned.currentVersion(s, dir).contains(3L),
      "DROP COLUMN must be ONE metadata commit, zero data movement")
    require(!s.table(s"graft.$tbl").columns.contains("note"),
      "the dropped column must vanish from the schema")
    // identity/location are not droppable; unknown names are loud;
    // a dropped name cannot be re-declared
    def fails(sql: String): Boolean =
      try { s.sql(sql); false } catch { case _: Exception => true }
    require(fails(s"ALTER TABLE graft.$tbl DROP COLUMN doc_id"),
      "dropping the merge key must decline")
    require(fails(s"ALTER TABLE graft.$tbl DROP COLUMN src_grp"),
      "dropping the partition column must decline")
    require(fails(s"ALTER TABLE graft.$tbl DROP COLUMN ghost"),
      "dropping an unknown column must decline")
    require(fails(s"ALTER TABLE graft.$tbl ADD COLUMNS (note STRING)"),
      "re-declaring a dropped name must decline (stale resurrection)")
    require(Versioned.currentVersion(s, dir).contains(3L),
      "declined ALTERs must publish NOTHING")
    // post-drop INSERT aligns to the narrowed schema
    docs.createOrReplaceTempView(s"${tbl}_src")
    s.sql(
      s"""INSERT INTO graft.$tbl
         |SELECT doc_id, source, n_chars, src_grp
         |FROM ${tbl}_src WHERE doc_id >= 300""".stripMargin)     // v4
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }

  /** Declared sql_show_partitions query: PARTITION MANAGEMENT through
    * SQL — `SHOW PARTITIONS` answers from the MANIFEST NAMES (one
    * metadata read, no listing, at any table size;
    * [[GraftTable.listPartitionIdentifiers]]) and `ALTER TABLE … DROP
    * PARTITION` maps onto the same audited entry-drop commit as `CALL
    * graft.system.expire_partitions`. The flow drops one partition and
    * returns the post-drop SHOW output, so the oracle (the distinct
    * partition renderings minus the dropped band) proves both verbs
    * with one equality; REQUIREs pin the spec-filtered SHOW form, the
    * one-commit drop, and the loud ADD PARTITION decline. */
  def sqlShowPartitionsQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlparts_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (col("doc_id") % 4).as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    val before = s.sql(s"SHOW PARTITIONS graft.$tbl").collect()
      .map(_.getString(0)).sorted
    require(before.sameElements(
        Seq("src_grp=0", "src_grp=1", "src_grp=2", "src_grp=3")),
      s"SHOW PARTITIONS must render the manifest names, got " +
        before.mkString(", "))
    // spec-filtered form
    val one = s.sql(
      s"SHOW PARTITIONS graft.$tbl PARTITION (src_grp = 2)").collect()
    require(one.length == 1 && one(0).getString(0) == "src_grp=2",
      "the PARTITION spec must filter to exactly the named entry")
    s.sql(s"ALTER TABLE graft.$tbl DROP PARTITION (src_grp = 3)")   // v2
    require(Versioned.currentVersion(s, dir).contains(2L),
      "DROP PARTITION must be ONE audited entry-drop commit")
    require(s.sql(s"SELECT count(*) FROM graft.$tbl " +
        "WHERE doc_id % 4 = 3").head.getLong(0) == 0L,
      "the dropped partition's rows must be gone from reads")
    val addFailed =
      try { s.sql(s"ALTER TABLE graft.$tbl " +
              "ADD PARTITION (src_grp = 9)"); false }
      catch { case _: Exception => true }
    require(addFailed, "ADD PARTITION must decline loudly — " +
      "partitions exist exactly when a write lands rows")
    s.sql(s"SHOW PARTITIONS graft.$tbl").orderBy("partition")
  }

  /** Declared sql_branch_wap query: the WRITE-AUDIT-PUBLISH pattern
    * with no Scala in sight — `CALL graft.system.create_branch` forks
    * (one metadata copy), `INSERT INTO graft.branches.`t@audit``
    * lands the backfill on the branch's own version chain (REQUIRE:
    * main is byte-unchanged while the branch shows the delta),
    * `CALL graft.system.publish_branch` fast-forwards main atomically
    * AFTER the audit — a second branch holding constraint-violating
    * rows is REQUIRE-pinned to FAIL its publish with main untouched,
    * then abandoned with `drop_branch`. The oracle replays the
    * published union, so equality proves the only thing that ever
    * reached main is the audited branch content. */
  def sqlBranchWapQuery(s: SparkSession, d: String): DataFrame = {
    val key = d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")
    val tbl = s"graft_sqlwap_$key"
    val rootDir = new java.io.File(sys.props("java.io.tmpdir"))
      .getAbsolutePath
    val dir = new java.io.File(rootDir, tbl).getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (col("doc_id") % 4).as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", rootDir)
    s.sql(s"ALTER TABLE graft.$tbl " +
      "SET TBLPROPERTIES('keyCol'='doc_id')")                       // v2
    s.sql(s"ALTER TABLE graft.$tbl " +
      "ADD CONSTRAINT nonneg CHECK (n_chars >= 0)")                 // v3
    docs.createOrReplaceTempView(s"${tbl}_src")
    s.sql(s"CALL graft.system.create_branch('$tbl', 'audit')")
    // the backfill lands on the BRANCH: new band + a replayed update
    s.sql(
      s"""INSERT INTO graft.branches.`$tbl@audit`
         |SELECT doc_id, source, n_chars, doc_id % 4 FROM ${tbl}_src
         |WHERE doc_id >= 300
         |UNION ALL
         |SELECT doc_id, source, n_chars + 1000, doc_id % 4
         |FROM ${tbl}_src WHERE doc_id < 50""".stripMargin)
    require(Versioned.currentVersion(s, dir).contains(3L),
      "a branch write must be INVISIBLE to main — no main commit")
    require(s.sql(s"SELECT count(*) FROM graft.$tbl").head.getLong(0) <
        s.sql(s"SELECT count(*) FROM graft.branches.`$tbl@audit`")
          .head.getLong(0),
      "the branch read must show the landed backfill")
    // a RISKY branch: rows main's persisted constraint forbids land
    // fine on the branch (the gate is publish), but its publish FAILS
    s.sql(s"CALL graft.system.create_branch('$tbl', 'risky')")
    s.sql(
      s"""INSERT INTO graft.branches.`$tbl@risky`
         |SELECT doc_id, source, -1 - doc_id, doc_id % 4
         |FROM ${tbl}_src WHERE doc_id < 10""".stripMargin)
    val auditFailed =
      try { s.sql(s"CALL graft.system.publish_branch('$tbl', 'risky')")
              .collect(); false }
      catch { case _: Exception => true }
    require(auditFailed,
      "publishing a constraint-violating branch must FAIL its audit")
    require(Versioned.currentVersion(s, dir).contains(3L),
      "a failed publish must leave main untouched")
    s.sql(s"CALL graft.system.drop_branch('$tbl', 'risky')")
    // the audited branch publishes: ONE atomic fast-forward
    s.sql(s"CALL graft.system.publish_branch('$tbl', 'audit')")     // v4
    require(Versioned.currentVersion(s, dir).contains(4L),
      "publish must be exactly one main commit")
    s.sql(
      s"""SELECT doc_id, CAST(source AS STRING) AS source, n_chars
         |FROM graft.$tbl ORDER BY doc_id""".stripMargin)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, substring}
import org.apache.hadoop.fs.Path

import graft.engine.{Artifacts, Versioned}
import graft.engine.Tables.documents
import graft.ops.MergeOps
import graft.sql.{GraftCatalog, GraftDml, GraftScanObservable}

/** Declared queries for the SQL front door: each lands a fresh scratch
  * store under the scratch root, points the `graft` catalog there and
  * drives one lifecycle through plain SQL. */
object SqlQueries {

  /** Fresh scratch store of table `graft_<name>_<key>`: (table, dir). */
  private def scratchTable(s: SparkSession, name: String,
                           d: String): (String, String) = {
    val dir = Artifacts.scratchDir(s, name, d)
    (new java.io.File(dir).getName, dir)
  }

  /** Register the `graft` catalog rooted at the scratch store `dir`'s
    * parent, so `graft.<table>` resolves to it. */
  private def useGraftCatalog(s: SparkSession, dir: String): Unit = {
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
               new java.io.File(dir).getParent)
  }

  /** `documents`' `cols` plus `src_grp` (the source number DIV 5), the
    * partition column of the SQL stores. */
  private def srcGrouped(s: SparkSession, d: String,
                         cols: String*): DataFrame =
    documents(s, d).select(cols.map(col) :+
      (substring(col("source"), 4, 10).cast("long") / 5)
        .cast("long").as("src_grp"): _*)

  /** Declared sql_store_read query: the bloom point lookup of
    * scan_bloom_pruned, issued through PLAIN SQL — no Scala reader API
    * anywhere on the query path. The store lands under the scratch
    * root (the catalog root), the catalog is registered by conf, and
    * `SELECT … WHERE doc_id IN (…)` prunes through the same three-tier
    * kernel: the REQUIRE pins that the doc_id blooms admit fewer
    * groups than the manifest holds, so the SQL path provably had
    * pruning to exploit; the oracle is the plain IN-filter, so
    * equality proves the front door is invisible in the data. */
  def sqlStoreReadQuery(s: SparkSession, d: String): DataFrame = {
    val (tbl, dir) = scratchTable(s, "sqlstore", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp",
                         bloomKeys = Seq("doc_id"))
    val probes = Seq("2", "23", "41")
    val blooms = Versioned.zoneMaps(s, dir, 1L, Some(Set("doc_id"))).blooms
    val kept = Versioned.manifest(s, dir, 1L).count { case (n, _) =>
      blooms.get(n).forall(cols => cols.get("doc_id").forall(bf =>
        probes.exists(v => bf.mightContainLong(MergeOps.bloomProbeHash(v)))))
    }
    require(kept < Versioned.manifest(s, dir, 1L).size,
      s"the doc_id blooms must prune at least one source group, kept $kept")
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqltt", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    val commit1 = new Path(dir, "commits/1")
    val t1 = commit1.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(commit1).getModificationTime
    Thread.sleep(30)  // distinct store-clock instants across commits
    MergeOps.mergeUpsert(s, dir,                                    // v2
      docs.where(col("doc_id") >= 300).unionByName(
        docs.where(col("doc_id") < 50)
          .withColumn("n_chars", col("n_chars") + 1000)),
      "doc_id", "src_grp")
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlagg", d)
    val docs = srcGrouped(s, d, "doc_id", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqldel", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlins", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    MergeOps.addConstraint(s, dir, "nchars_nonneg",
                           "n_chars >= 0", "src_grp")               // v2
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlmaint", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    useGraftCatalog(s, dir)
    s.sql(s"DELETE FROM graft.$tbl WHERE n_chars >= 300")            // v2
    val row = s.sql(s"CALL graft.system.optimize('$tbl', " +
      "zorder_by => 'doc_id,n_chars')").collect().head             // v3
    require(row.getAs[Long]("version") == 3L,
      "optimize must commit exactly one version")
    require(Versioned.morRefs(s, dir, 3L, Versioned.Dv).isEmpty,
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
    val (tbl, dir) = scratchTable(s, "sqlctas", d)
    useGraftCatalog(s, dir)
    srcGrouped(s, d, "doc_id", "source", "n_chars")
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
    val (tbl, dir) = scratchTable(s, "sqlovw", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlstream", d)
    val out = Artifacts.scratchDir(s, "sqlstream", d, "_out")
    val ck = Artifacts.scratchDir(s, "sqlstream", d, "_ck")
    val docs = srcGrouped(s, d, "doc_id", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlsink", d)
    val src = Artifacts.scratchDir(s, "sqlsink", d, "_src")
    val ck = Artifacts.scratchDir(s, "sqlsink", d, "_ck")
    val docs = srcGrouped(s, d, "doc_id", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlupd", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlmrg", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlevo", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlcon", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") >= 10),
                         "doc_id", "src_grp")                       // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqldropc", d)
    val docs = srcGrouped(s, d, "doc_id", "source", "n_chars")
    MergeOps.mergeUpsert(s, dir,
      docs.where(col("doc_id") < 300)
        .withColumn("note", concat(lit("n"), col("doc_id"))),
      "doc_id", "src_grp")                                          // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlparts", d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (col("doc_id") % 4).as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs, "doc_id", "src_grp")          // v1
    useGraftCatalog(s, dir)
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
    val (tbl, dir) = scratchTable(s, "sqlwap", d)
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
              (col("doc_id") % 4).as("src_grp"))
    MergeOps.mergeUpsert(s, dir, docs.where(col("doc_id") < 300),
                         "doc_id", "src_grp")                       // v1
    useGraftCatalog(s, dir)
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

package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Durable-catalog tests (round 7): the bucketed-table ETL must be paid
  * once per DATASET, not once per process. A fresh process starts with
  * (a) a new session, so an empty session-scoped memo, and (b) an empty
  * in-memory catalog, while the external tables' parquet data survives
  * on disk — simulated here by `spark.newSession()` and dropping the
  * catalog entries (external tables: DROP leaves the files). The re-run
  * must re-register metadata only: same files (mtimes untouched),
  * shuffle-free join immediately. */
class CatalogRestartSpec extends SparkTestBase {

  private def partFileMtimes(table: String): Map[String, Long] = {
    val wh = spark.sessionState.conf.warehousePath
      .stripPrefix("file:")
    val dir = new java.io.File(wh, table)
    assert(dir.isDirectory, s"expected external table data at $dir")
    dir.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("a fresh catalog re-registers bucketed tables without re-running the ETL") {
    // First build (or reuse from an earlier suite in this JVM).
    val (li, ord) = Relational.ensureBucketedTables(spark, sf)
    val before = (partFileMtimes(li), partFileMtimes(ord))
    assert(before._1.nonEmpty && before._2.nonEmpty)

    // Simulate process restart: a new session, an empty catalog.
    val fresh = spark.newSession()
    spark.sql(s"DROP TABLE `$li`")
    spark.sql(s"DROP TABLE `$ord`")
    assert(!spark.catalog.tableExists(li))

    val (li2, ord2) = Relational.ensureBucketedTables(fresh, sf)
    assert((li2, ord2) == (li, ord))
    // Metadata-only: the data files were reused byte-for-byte.
    assert(partFileMtimes(li) == before._1,
      "lineitem bucket files were rewritten on restart")
    assert(partFileMtimes(ord) == before._2,
      "orders bucket files were rewritten on restart")

    // And the re-registered bucket spec is join-ready: no shuffle.
    val df = Relational.joinBucketed(fresh, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"re-registered bucketed join must not shuffle:\n$plan")
  }

  test("a torn write (no _SUCCESS) is rebuilt, not trusted") {
    val (li, _) = Relational.ensureBucketedTables(spark, sf)
    val wh = spark.sessionState.conf.warehousePath.stripPrefix("file:")
    val success = new java.io.File(new java.io.File(wh, li), "_SUCCESS")
    assert(success.exists)
    // Restart with the completion marker missing: must re-run the ETL.
    val fresh = spark.newSession()
    spark.sql(s"DROP TABLE `$li`")
    assert(success.delete())
    val (li2, _) = Relational.ensureBucketedTables(fresh, sf)
    assert(li2 == li)
    assert(success.exists, "rebuild must leave a fresh _SUCCESS marker")
    // Still correct after the rebuild.
    val out = Relational.joinBucketed(fresh, sf).limit(5).collect()
    assert(out.nonEmpty)
  }

  test("a torn standing export is rebuilt by a new session") {
    val loc = Relational.ensureOrcExport(spark, sf)
    val wh = spark.sessionState.conf.warehousePath.stripPrefix("file:")
    val success = new java.io.File(
      new java.io.File(wh, new org.apache.hadoop.fs.Path(loc).getName),
      "_SUCCESS")
    assert(success.delete())
    // a new session must re-probe the marker, not trust a memo of the dir
    assert(Relational.ensureOrcExport(spark.newSession(), sf) == loc)
    assert(success.exists, "the torn ORC export must be rebuilt")
    assert(Relational.scanOrc(spark.newSession(), sf).count() ==
      spark.read.parquet(s"$sf/supplier.parquet").count())
  }
}

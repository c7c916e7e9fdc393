package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (schemas: FIXTURES.md).
  *
  * Schemas are inferred from parquet footers — the reference framework is
  * dynamically typed (SURVEY.md §1.3), so the Spark-native equivalent is
  * DataFrame-first with runtime schemas. No `/root/reference` citations are
  * possible: the reference tree is empty (SURVEY.md §0).
  *
  * 100 TB note: at scale these would be partitioned tables (by date for the
  * facts, by nothing for the dims) registered in a catalog; `read.parquet`
  * on a directory plus partition pruning keeps the same call shape.
  */
object Tables {
  /** Read through the store-read kernel ([[Versioned.readParquetCached]]):
    * the test tables are read-only for the process's life, so the
    * memoized schema skips the footer-inference Spark job every
    * schemaless `read.parquet` costs (one per table read, hundreds across
    * a bench run), and the kernel's own file index leaves no listing in
    * Spark's shared `FileStatusCache`. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Versioned.readParquetCached(spark, Seq(s"$sfDir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across testdata
    * drops: parquet TIMESTAMP(NANOS) — which Spark 4 refuses to read as a
    * timestamp, so it is read as nanos-since-epoch long and truncated to µs
    * with integer division (exact; a double round-trip would lose ns bits
    * at 2024-era epochs; DuckDB truncates ns→µs identically, SURVEY §1.2) —
    * and plain TIMESTAMP(MICROS, isAdjustedToUTC=false), which already
    * arrives as TIMESTAMP_NTZ. Dispatch on the footer type so either drop
    * loads; every downstream op sees one canonical `ts: TIMESTAMP_NTZ`. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val t = table(s, d, "events")
    t.schema("ts").dataType match {
      case LongType =>       // legacy TIMESTAMP(NANOS) footer, read as long
        t.withColumn("ts",
          expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))
      case TimestampType =>  // µs footer inferred TZ-adjusted: strip to naive
        t.withColumn("ts", expr("CAST(ts AS TIMESTAMP_NTZ)"))
      case _ => t            // already TIMESTAMP_NTZ
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

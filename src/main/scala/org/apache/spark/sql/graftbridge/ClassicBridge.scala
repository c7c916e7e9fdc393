package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy,
  HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The `private[sql]`/`protected[sql]` seams the engine needs,
  * re-exported from a subpackage of `org.apache.spark.sql` (the
  * standard connector idiom — Delta, Iceberg, and XSQL all ship exactly
  * this bridge): building a `DataFrame` from an analyzed `LogicalPlan`
  * (the MERGE source arrives as a plan, not a table name), wrapping a
  * resolved Catalyst `Expression` into a public `Column`, Spark's own
  * predicate → data-source `Filter` translation, and a parquet scan
  * over a caller-built file index. Nothing else from the internal
  * surface leaks through here. */
object ClassicBridge extends PredicateHelper {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The top-level AND conjuncts of a resolved condition that Spark's
    * `DataSourceStrategy.translateFilter` turns into data-source
    * `Filter`s — the same translation a scan's pushed filters go
    * through; untranslatable conjuncts are dropped. Used by the
    * WHERE-verb pruning-hint extractor. */
  def translateConjuncts(cond: Expression): Seq[Filter] =
    splitConjunctivePredicates(cond).flatMap(
      DataSourceStrategy.translateFilter(_,
        supportNestedPredicatePushdown = false))

  /** The relation `read.parquet` resolves to, over a file index the
    * caller built: no path check, no listing, no shared file-status
    * cache. `schema` (a prior read's full schema, partition columns
    * included; the one the index was built with) skips the
    * footer-inference job; without it the data schema is inferred from
    * the index's files, and a read with none fails as `read.parquet`
    * does (UNABLE_TO_INFER_SCHEMA). */
  def parquet(s: SparkSession, index: PartitioningAwareFileIndex,
              schema: Option[StructType],
              options: Map[String, String]): DataFrame = {
    val format = new ParquetFileFormat
    val parts = index.partitionSchema
    val resolver = SQLConf.get.resolver
    val data = schema
      .map(st => StructType(st.filterNot(f =>
        parts.exists(p => resolver(p.name, f.name)))))
      .orElse(format.inferSchema(s, options, index.allFiles()))
      .getOrElse(throw QueryCompilationErrors
        .dataSchemaNotSpecifiedError(format.toString))
    ofRows(s, LogicalRelation(HadoopFsRelation(index, parts,
      data.asNullable, None, format, options)(s)))
  }
}

package org.apache.spark.sql.execution.datasources.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy,
  HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex,
  PartitioningUtils, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The `private[sql]`/`private[datasources]` seams the engine needs,
  * re-exported from a Spark subpackage (the standard connector idiom —
  * Delta, Iceberg, and XSQL all ship exactly this bridge): building a
  * `DataFrame` from an analyzed `LogicalPlan` (the MERGE source arrives
  * as a plan, not a table name), wrapping a resolved Catalyst
  * `Expression` into a public `Column`, Spark's own predicate →
  * data-source `Filter` translation and partition-value parsing, and a
  * parquet scan over a caller-built file index. Nothing else from the
  * internal surface leaks through here. */
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

  /** The partition spec `read.parquet` infers over `leafDirs` (`col=value`
    * chains below `basePaths`): each column typed once from ALL its
    * values under the session's settings, each value cast from its raw
    * string. */
  def partitionSpec(leafDirs: Seq[Path], basePaths: Set[Path])
      : PartitionSpec = {
    val conf = SQLConf.get
    PartitioningUtils.parsePartitions(leafDirs,
      conf.partitionColumnTypeInferenceEnabled, basePaths, None,
      conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths)
  }

  /** The data schema `read.parquet` infers from `files` (the first
    * footer by path); with none it fails as `read.parquet` does. */
  def parquetSchema(s: SparkSession, files: Seq[FileStatus]): StructType =
    new ParquetFileFormat().inferSchema(s, Map.empty, files).getOrElse(
      throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))

  /** The relation `read.parquet` resolves to, over a file index the
    * caller built and the file schema `data`: no path check, no
    * listing, no shared file-status cache, no footer read. */
  def parquet(s: SparkSession, index: PartitioningAwareFileIndex,
              data: StructType): DataFrame = {
    val parts = index.partitionSchema
    val resolver = SQLConf.get.resolver
    ofRows(s, LogicalRelation(HadoopFsRelation(index, parts,
      StructType(data.filterNot(f => parts.exists(p => resolver(p.name,
        f.name)))).asNullable, None, new ParquetFileFormat, Map.empty)(s)))
  }
}

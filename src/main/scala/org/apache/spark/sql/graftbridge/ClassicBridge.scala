package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** The `private[sql]`/`protected[sql]` seams the engine needs,
  * re-exported from a subpackage of `org.apache.spark.sql` (the
  * standard connector idiom — Delta, Iceberg, and XSQL all ship exactly
  * this bridge): building a `DataFrame` from an analyzed `LogicalPlan`
  * (the MERGE source arrives as a plan, not a table name), wrapping a
  * resolved Catalyst `Expression` into a public `Column`, and Spark's
  * own predicate → data-source `Filter` translation. Nothing else from
  * the internal surface leaks through here. */
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
}

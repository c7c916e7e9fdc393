package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.{Scan, V1Scan}
import org.apache.spark.sql.connector.write.{SupportsTruncate, V1Write,
  Write, WriteBuilder}
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.internal.connector
  .SupportsStreamingUpdateAsAppend
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation,
  TableScan}
import org.apache.spark.sql.types.StructType

import graft.engine.Versioned

/** The rules every graft catalog table (committed, pending, branch,
  * change feed) resolves the same way, each stated once. */
private[graft] object TableDoor {

  /** Reader/writer options with lower-cased keys: the one
    * case-insensitive options map of the SQL door. */
  def options(m: java.util.Map[String, String]): Map[String, String] =
    m.asScala.iterator.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap

  /** The store's persisted table properties at its CURRENT version (a
    * stale table handle must not resurrect a renamed key); empty when
    * nothing is committed. */
  def currentProps(spark: SparkSession,
                           dir: String): Map[String, String] =
    Versioned.currentVersion(spark, dir)
      .map(Versioned.tableProps(spark, dir, _)).getOrElse(Map.empty)

  /** The merge key: the `keyCol` reader/writer option wins, else the
    * `keyCol` property of `props` — the store's persisted properties at
    * its current version unless the caller holds the declared ones (a
    * pending table's descriptor). */
  def keyCol(spark: SparkSession, dir: String, opts: Map[String, String],
             props: Option[Map[String, String]] = None): Option[String] =
    opts.get("keycol").orElse(
      props.getOrElse(currentProps(spark, dir)).collectFirst {
        case (k, v) if k.equalsIgnoreCase("keyCol") => v })

  /** [[keyCol]], failing loudly (before staging a byte) when neither the
    * option nor a property names one. */
  def requireKeyCol(spark: SparkSession, dir: String,
                    opts: Map[String, String], verb: String, ident: String,
                    props: Option[Map[String, String]] = None): String =
    keyCol(spark, dir, opts, props).getOrElse(
      throw new IllegalArgumentException(
        s"$verb $ident needs the table's merge key: declare it once as " +
          "TBLPROPERTIES('keyCol'='…') (at CREATE TABLE, or with ALTER " +
          "TABLE … SET TBLPROPERTIES) or pass .option(\"keyCol\", …)"))

  /** The partition column, or a loud decline naming the verb and what
    * to do instead: every row-level SQL verb needs the partition-dir
    * layout. */
  def requirePartCol(partCol: Option[String], verb: String, ident: String,
                     dir: String, instead: String = "use the merge API")
      : String =
    partCol.getOrElse(throw new UnsupportedOperationException(
      s"$verb $ident: the store under $dir is unpartitioned — $instead"))
}

/** The one V1 read adapter (the JDBC-connector migration idiom): a
  * `V1Scan` whose relation serves [[rows]] at `readSchema()`. Every
  * graft scan delivers through it — the pending table's empty read, the
  * metadata-only aggregate answer, the pruned read and the branch
  * head. */
private[sql] abstract class GraftV1Scan extends Scan with V1Scan {

  /** The scan's rows, computed when Spark runs the relation. */
  protected def rows(): RDD[Row]

  /** What a formatted plan's scan node prints for the relation. */
  protected def relationName: String = description()

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = readSchema()
      override def buildScan(): RDD[Row] = rows()
      override def toString: String = relationName
    }.asInstanceOf[T]
}

/** The one V1 insert adapter: a graft table write arrives through
  * Spark's V1 write fallback as one DataFrame on the driver, and the
  * store's own staged write distributes it. `insert(data, replace)`
  * runs the table's verb; `replace` is set by INSERT OVERWRITE (Spark
  * truncates, then appends). `stream` builds the streaming sink of a
  * table that declares `STREAMING_WRITE`, given the same flag. */
private[sql] class GraftWriteBuilder(
    insert: (DataFrame, Boolean) => Unit,
    stream: Boolean => StreamingWrite = _ =>
      throw new UnsupportedOperationException(
        "this graft table does not accept streaming writes"))
    extends WriteBuilder with SupportsTruncate
    with SupportsStreamingUpdateAsAppend {

  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit =
          GraftWriteBuilder.this.insert(data, replace || overwrite)
      }
    override def toStreaming: StreamingWrite = stream(replace)
  }
}

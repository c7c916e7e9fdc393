package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.types._

/** THE footer-exactness rule: what one parquet file's footer says, with
  * no guess, of the file's rows and of a column's range. Row counts are
  * always exact. A column's range is a CANONICAL LONG — the integral
  * value itself, epoch days for DATE, epoch micros for TIMESTAMP /
  * TIMESTAMP_NTZ — and integral chunk statistics are never truncated,
  * so a footer answers exactly whenever the physical shape maps onto
  * that long: a plain or signed-int-annotated INT32/INT64 for an
  * integral column, INT32 for a date, an INT64 timestamp in MICROS or
  * MILLIS whose UTC adjustment matches the Spark type. Anything else
  * (unsigned, decimal, INT96, NANOS, a chunk without statistics, an
  * all-null claim the null count does not back) DECLINES: the caller
  * reads the data instead. Shared by the zone-map producer
  * ([[Versioned.freshStats]]) and the SQL door's metadata-only
  * COUNT/MIN/MAX ([[graft.sql.GraftScanBuilder]]). */
object Footers {

  /** What a file's footer says of one column's range. */
  sealed trait Bound
  /** Every non-null value lies in [lo, hi] (canonical longs). */
  final case class Exact(lo: Long, hi: Long) extends Bound
  /** The file holds no non-null value of the column: every value is
    * null, or the file predates the column (a schema-evolution
    * null-fill). */
  case object NoBound extends Bound
  /** The footer cannot answer exactly. */
  case object Decline extends Bound

  /** One file's rows and the bound of each requested column. */
  final case class Footer(rows: Long, bounds: Map[String, Bound])

  /** Whether a footer may bound a column of this Spark type. */
  def boundable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Read `file`'s footer once: its rows and the bound of each of
    * `cols` (name, Spark type). */
  def read(conf: Configuration, file: FileStatus,
           cols: Seq[(String, DataType)]): Footer = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val blocks =
      try rd.getFooter.getBlocks.asScala.toSeq finally rd.close()
    Footer(blocks.map(_.getRowCount).sum, cols.map { case (c, dt) =>
      c -> merge(blocks.map(chunkBound(_, c, dt))) }.toMap)
  }

  /** The bound of several chunks or files: any decline declines. */
  def merge(bs: Iterable[Bound]): Bound =
    bs.foldLeft(NoBound: Bound) {
      case (Decline, _) | (_, Decline) => Decline
      case (NoBound, b) => b
      case (a, NoBound) => a
      case (Exact(l1, h1), Exact(l2, h2)) =>
        Exact(math.min(l1, l2), math.max(h1, h2))
    }

  private def chunkBound(b: BlockMetaData, c: String,
                         dt: DataType): Bound =
    if (b.getRowCount == 0L) NoBound
    else b.getColumns.asScala.find(_.getPath.toDotString == c) match {
      case None => NoBound
      case Some(cc) =>
        val st: Statistics[_] = cc.getStatistics
        if (st == null || st.isEmpty) Decline
        else if (!st.hasNonNullValue)
          if (st.isNumNullsSet && st.getNumNulls == b.getRowCount) NoBound
          else Decline
        else (canonical(cc.getPrimitiveType, dt),
              st.genericGetMin, st.genericGetMax) match {
          case (Some(f), lo: Number, hi: Number) =>
            try Exact(f(lo.longValue), f(hi.longValue))
            catch { case _: ArithmeticException => Decline }
          case _ => Decline
        }
    }

  /** The map from a chunk's physical statistic to the canonical long of
    * Spark type `dt`, when the two agree exactly. */
  private def canonical(pt: PrimitiveType, dt: DataType)
      : Option[Long => Long] = {
    val physical = pt.getPrimitiveTypeName
    (dt, pt.getLogicalTypeAnnotation) match {
      case (ByteType | ShortType | IntegerType | LongType, a)
          if physical == INT32 || physical == INT64 => a match {
        case null => Some(identity)
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
            if i.isSigned => Some(identity)
        case _ => None
      }
      case (DateType, _) if physical == INT32 => Some(identity)
      case (TimestampType | TimestampNTZType,
            t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
          if physical == INT64 &&
            t.isAdjustedToUTC == (dt == TimestampType) => t.getUnit match {
        case LogicalTypeAnnotation.TimeUnit.MICROS => Some(identity)
        case LogicalTypeAnnotation.TimeUnit.MILLIS =>
          Some(Math.multiplyExact(_, 1000L))
        case _ => None
      }
      case _ => None
    }
  }
}

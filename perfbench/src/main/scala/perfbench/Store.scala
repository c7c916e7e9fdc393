package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.MergeOps

/** The versioned orders store both store workloads use: partitioned by
  * order month (fixed per key, so `mergeUpsert`'s stable key→partition
  * precondition holds), zone maps on o_orderkey/o_custkey and a bloom
  * tier on o_custkey. */
object Store {
  val Key = "o_orderkey"
  val Part = "o_month"
  val StatsKeys = Seq("o_orderkey", "o_custkey")
  val BloomKeys = Seq("o_custkey")
  /** Every tenth key is held back from the initial build and arrives
    * later as an insert. */
  def heldBack(key: Long): Boolean = key % 10 == 7

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType),
    StructField("o_month", IntegerType)))

  /** All orders of a generated table in the store's row shape. */
  def source(spark: SparkSession, sfDir: String): DataFrame =
    graft.engine.Tables.orders(spark, sfDir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderpriority"),
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("int").as("o_month"))

  /** Per-row checksum column; [[rowHash]] computes the same driver-side. */
  val hashCol: Column = pmod(xxhash64(col(Key), col("o_custkey"),
    round(col("o_totalprice") * 100).cast("long")), lit(1L << 32))

  def rowHash(key: Long, cust: Long, cents: Long): Long =
    Math.floorMod(XXH64.hashLong(cents, XXH64.hashLong(cust,
      XXH64.hashLong(key, 42L))), 1L << 32)

  /** Checksum of one `MergeOps.history` row (version, n_rows). */
  def historyHash(version: Long, rows: Long): Long =
    Math.floorMod(XXH64.hashLong(rows, XXH64.hashLong(version, 42L)), 1L << 32)

  def upsert(spark: SparkSession, dir: String, batch: DataFrame): Unit =
    MergeOps.mergeUpsert(spark, dir, batch, Key, Part,
      statsKeys = StatsKeys, bloomKeys = BloomKeys)

  /** Build a store from the non-held-back source rows (of the months
    * `fromMonth` on) and record its merge key so SQL MERGE INTO can
    * target it through the catalog. */
  def build(spark: SparkSession, sfDir: String, root: String,
            table: String, fromMonth: Int = 0): Unit = {
    upsert(spark, s"$root/$table", source(spark, sfDir)
      .where(col(Key) % 10 =!= 7 && col(Part) >= fromMonth))
    spark.sql(s"ALTER TABLE graft.$table SET TBLPROPERTIES('keyCol'='$Key')")
  }

  /** (count, checksum) per month of the store's current rows. */
  def monthAggs(spark: SparkSession, dir: String): Map[Int, (Long, Long)] =
    MergeOps.readCorpus(spark, dir, Part)
      .groupBy(col(Part)).agg(count(lit(1)), sum(hashCol))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
}

/** Driver-side key→row model of the store, kept dense by order key. */
final class StoreModel private[perfbench] (
    val cust: Array[Long], val month: Array[Int], val status: Array[String],
    val prio: Array[String], val cents: Array[Long], val live: Array[Boolean],
    val inserted: Array[Boolean]) {
  val months: Array[Int] = month.distinct.sorted
  private val monthIdx = months.zipWithIndex.toMap
  /** Keys of each month, ascending (order keys rise with the date). */
  val monthKeys: Array[Array[Long]] = {
    val b = Array.fill(months.length)(mutable.ArrayBuilder.make[Long])
    month.indices.foreach(k => b(monthIdx(month(k))) += k.toLong)
    b.map(_.result())
  }
  val aggCount: Array[Long] = new Array[Long](months.length)
  val aggSum: Array[Long] = new Array[Long](months.length)
  month.indices.foreach(k => if (live(k)) add(k, 1))

  def size: Int = cust.length
  private def hash(k: Int) = Store.rowHash(k, cust(k), cents(k))
  private def add(k: Int, sign: Int): Unit = {
    val i = monthIdx(month(k))
    aggCount(i) += sign
    aggSum(i) += sign * hash(k)
  }

  def setLive(k: Long, newCents: Long): Unit = {
    val i = k.toInt
    if (live(i)) add(i, -1)
    cents(i) = newCents; live(i) = true; inserted(i) = true
    add(i, 1)
  }
  def kill(k: Long): Boolean = {
    val i = k.toInt
    if (!live(i)) false
    else { add(i, -1); live(i) = false; true }
  }

  def row(k: Long): Row = {
    val i = k.toInt
    Row(k, cust(i), status(i), cents(i) / 100.0, prio(i), month(i))
  }

  /** (count, checksum) of the live rows whose key satisfies `p`. */
  def expect(p: Int => Boolean): (Long, Long) = {
    var n = 0L; var h = 0L; var k = 0
    while (k < cust.length) {
      if (live(k) && p(k)) { n += 1; h += hash(k) }
      k += 1
    }
    (n, h)
  }
  def liveRows: Long = aggCount.sum

  /** Per-month aggregates, by month value. */
  def snapshot(): Map[Int, (Long, Long)] =
    months.indices.map(i => months(i) -> (aggCount(i), aggSum(i))).toMap

  /** Months where the store and the model disagree, as messages. */
  def diff(store: Map[Int, (Long, Long)]): Seq[String] = {
    val want = snapshot().filter(_._2._1 > 0)
    (want.keySet ++ store.keySet).toSeq.sorted.flatMap { m =>
      val (w, g) = (want.get(m), store.get(m))
      if (w == g) None else Some(s"month $m: model $w, store $g")
    }
  }
}

object StoreModel {
  /** The model of a freshly built store over `sfDir`'s orders. */
  def load(spark: SparkSession, sfDir: String): StoreModel = {
    val rows = Store.source(spark, sfDir)
      .select(col(Store.Key), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"), col("o_orderpriority"),
        col(Store.Part))
      .collect()
    val n = rows.length
    val (cust, month, cents) = (new Array[Long](n), new Array[Int](n),
      new Array[Long](n))
    val (status, prio) = (new Array[String](n), new Array[String](n))
    rows.foreach { r =>
      val k = r.getLong(0).toInt
      require(k >= 0 && k < n, s"order keys must be dense, got $k")
      cust(k) = r.getLong(1); status(k) = r.getString(2)
      cents(k) = r.getLong(3); prio(k) = r.getString(4); month(k) = r.getInt(5)
    }
    val live = Array.tabulate(n)(k => !Store.heldBack(k))
    new StoreModel(cust, month, status, prio, cents, live, live.clone())
  }
}

package perfbench

import scala.collection.mutable

/** A write into the store. Generating an op applies it to the model, so
  * the model always describes the store after the ops generated so far. */
sealed trait IngestOp { def kind: String; def changedRows: Long }
final case class Upsert(month: Int, updates: Seq[Long], inserts: Seq[Long],
                        viaSql: Boolean) extends IngestOp {
  def kind: String = if (viaSql) "sql_merge" else "upsert"
  def keys: Seq[Long] = updates ++ inserts
  def changedRows: Long = keys.size.toLong
}
final case class DeleteKeys(keys: Seq[Long], deleted: Int) extends IngestOp {
  def kind = "delete"; def changedRows: Long = deleted.toLong
}
final case class DeleteRange(lo: Long, hi: Long, deleted: Int) extends IngestOp {
  def kind = "delete_where"; def changedRows: Long = deleted.toLong
}
case object Compact extends IngestOp {
  def kind = "compact"; def changedRows = 0L
}

/** Seeded commits: upserts and SQL MERGE INTO batches into Zipf-skewed
  * months (recent months favoured), upserts mixing small and large
  * batches of updated and held-back (inserted) keys; key deletes,
  * key-range deletes and compaction. */
final class IngestGen(model: StoreModel, seed: Long) {
  import IngestGen._
  private val rng = new java.util.SplittableRandom(seed)
  /** Monthly CDF, most recent month first, P(rank r) ∝ 1/r^1.1. */
  private val cdf: Array[Double] = {
    val w = model.months.indices.map(r => math.pow(r + 1.0, -1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipfMonth(): Int = {
    val u = rng.nextDouble()
    val r = cdf.indexWhere(_ >= u) match { case -1 => cdf.length - 1; case i => i }
    model.months.length - 1 - r
  }
  private def liveKeys(mi: Int, n: Int): Seq[Long] = {
    val ks = model.monthKeys(mi)
    val picked = mutable.LinkedHashSet.empty[Long]
    var tries = 0
    while (picked.size < n && tries < n * 20) {
      val k = ks(rng.nextInt(ks.length))
      if (model.live(k.toInt)) picked += k
      tries += 1
    }
    picked.toSeq
  }
  private def pending(mi: Int, n: Int): Seq[Long] =
    model.monthKeys(mi).iterator
      .filter(k => !model.inserted(k.toInt)).take(n).toSeq

  /** The next op of one kind. */
  def make(kind: String): IngestOp = kind match {
    case "compact" => Compact
    case "upsert" | "sql_merge" =>
      val mi = zipfMonth()
      val (nu, ni) =
        if (kind == "sql_merge") (20, 5)
        else if (rng.nextDouble() < 0.7) (8, 2) else (300, 30)
      val ups = liveKeys(mi, nu)
      val ins = pending(mi, ni)
      ups.foreach(k => model.setLive(k, model.cents(k.toInt) + 1 +
        rng.nextInt(5000)))
      ins.foreach(k => model.setLive(k, model.cents(k.toInt)))
      Upsert(model.months(mi), ups, ins, kind == "sql_merge")
    case "delete" =>
      val ks = liveKeys(zipfMonth(), 5)
      DeleteKeys(ks, ks.count(model.kill))
    case "delete_where" =>
      val ks = model.monthKeys(zipfMonth())
      val lo = ks(rng.nextInt(ks.length))
      val hi = lo + RangeWidth - 1
      val n = (lo to math.min(hi, model.size - 1L)).count(model.kill)
      DeleteRange(lo, hi, n)
  }
}

object IngestGen {
  val RangeWidth = 25
}

/** A read of the store. */
sealed trait ReadOp { def kind: String }
final case class KeyRange(lo: Long, hi: Long) extends ReadOp { def kind = "key_range" }
final case class CustLookup(cust: Long) extends ReadOp { def kind = "cust_lookup" }
final case class MonthRange(months: Seq[Int]) extends ReadOp { def kind = "month_range" }
final case class SqlRange(lo: Long, hi: Long) extends ReadOp { def kind = "sql_select" }
final case class TimeTravel(version: Long, month: Int) extends ReadOp {
  def kind = "time_travel"
}
case object History extends ReadOp { def kind = "history" }

/** Seeded reads over a store whose committed versions are `versions`:
  * zone-map key ranges, bloom-tier customer lookups, month ranges, SQL
  * SELECT … WHERE, VERSION AS OF reads and commit history. */
final class QueryGen(model: StoreModel, versions: () => Seq[Long],
                     seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private def key(): Long = rng.nextLong(model.size.toLong)
  /** The next read of one kind. */
  def make(kind: String): ReadOp = kind match {
    case "key_range" => val lo = key(); KeyRange(lo, lo + rng.nextInt(2000))
    case "cust_lookup" => CustLookup(model.cust(key().toInt))
    case "month_range" =>
      val i = rng.nextInt(model.months.length - 2)
      MonthRange(model.months.slice(i, i + 1 + rng.nextInt(3)).toSeq)
    case "sql_select" => val lo = key(); SqlRange(lo, lo + rng.nextInt(2000))
    case "time_travel" =>
      val vs = versions()
      TimeTravel(vs(rng.nextInt(vs.size)),
        model.months(rng.nextInt(model.months.length)))
    case "history" => History
  }
}

/** Fixed-composition decks: every deck holds each kind as often as
  * `deck` lists it, in seeded order, between `head` and `tail` in fixed
  * order. Runs of whole decks do the same work whatever the seed; only
  * the order and the op arguments vary. */
final class Decks(deck: Seq[String], seed: Long, head: Seq[String] = Nil,
                  tail: Seq[String] = Nil) {
  private val rng = new scala.util.Random(seed)
  private var cur = Iterator.empty[String]
  def next(): String = {
    if (!cur.hasNext) cur = (head ++ rng.shuffle(deck) ++ tail).iterator
    cur.next()
  }
  /** True when the last deck handed out is finished. */
  def atBoundary: Boolean = !cur.hasNext
}


package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Versioned
import graft.ops.MergeOps
import graft.sql.{GraftCatalog, GraftDml}

/** What one executed op left to check after the timer stopped. */
final case class Done(kind: String, cls: String, check: () => Option[String],
                      rows: () => Long = () => 0L, changedRows: Long = 0L)

/** Durations of the set-up steps, for the report. */
object SetupLog {
  val steps = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps += name -> (System.nanoTime() - t0) / 1e9
  }
}

trait Workload {
  /** Warm-up and store build; billed to setup_s. */
  def setup(): Unit
  /** Run the next op inside the timed region. */
  def next(tr: Tracer): Done
  /** Checks made after the timed phase; one message per failure. */
  def finalChecks(): (Int, Seq[String])
  /** Extra per-op probes in the traced run (outside the op's span). */
  def probe(tr: Tracer): Unit = ()
  /** True between decks: a run only stops at a deck boundary, so every
    * run does the same mix of work. */
  def atBoundary: Boolean
  /** Store path, for the on-disk metrics. */
  def storeDir: Option[String] = None
  /** Counts the traced run's probes took: name → values, one per op. */
  val probed: scala.collection.mutable.Map[String, Seq[Double]] =
    scala.collection.mutable.LinkedHashMap.empty
  protected def probed(name: String, v: Double): Unit =
    probed(name) = probed.getOrElse(name, Vector.empty) :+ v
}

/** Forces a DataFrame completely — every row and column reaches the
  * `noop` sink — while observing its row count and a checksum over the
  * given columns in the same pass. */
object Force {
  def apply(df: DataFrame, hash: org.apache.spark.sql.Column)
      : (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(hash), lit(0L)).as("h")), obs)
  }
  def columns(df: DataFrame, cols: Seq[String]): (DataFrame, Observation) =
    apply(df, pmod(xxhash64(cols.map(df.col): _*), lit(1L << 32)))
  def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  /** (rows, checksum) observed by the forcing pass. */
  def result(obs: Observation): (Long, Long) = {
    val m = obs.get
    (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }
}

/** The ten headline queries of `graft.Bench` on the generated sf0.1
  * tables, in seeded order. Expected row counts and checksums are fixed
  * for the generator version [[DataGen.Version]]; columns that hold
  * floating-point sums are left out of the checksum. */
final class Analytics(spark: SparkSession, dir: String, seed: Long)
    extends Workload {
  import Analytics._
  private val fns = graft.SparkEntry.queries
  private val gen = new Decks(Names, seed)
  override def atBoundary: Boolean = gen.atBoundary

  private def exec(q: String, d: String, tr: Tracer)
      : (Observation, () => Option[String]) = {
    val df = tr.span("ops", s"build:$q")(fns(q)(spark, d))
    val (forced, obs) = Force.columns(df,
      df.columns.toSeq.filterNot(Inexact.getOrElse(q, Set.empty[String])))
    tr.span("ops", s"action:$q")(Force.run(forced))
    (obs, () => {
      val got = Force.result(obs)
      if (Expected.get(q).contains(got)) None
      else Some(s"$q: (rows, checksum) $got, expected ${Expected.get(q)}")
    })
  }

  /** One execution of every query on the measured tables. (A further
    * pass on sf0.01 first would add 10–15 s to every run.) */
  def setup(): Unit = {
    val off = new Tracer(spark, false)
    SetupLog("warm sf0.1")(Names.foreach(exec(_, dir, off)))
  }

  def next(tr: Tracer): Done = {
    val q = gen.next()
    val (obs, check) = exec(q, dir, tr)
    Done(q, "query", check, () => Force.result(obs)._1)
  }

  def finalChecks(): (Int, Seq[String]) = (0, Nil)
}

object Analytics {
  val Names: Seq[String] = Seq("agg_pricing_summary", "topk_global",
    "win_rownum_topk", "agg_count_distinct", "stream_tumbling",
    "text_wordcount", "sim_cosine_topk", "join_inner", "dedup_minhash",
    "text_tfidf")
  val Inexact: Map[String, Set[String]] = Map(
    "agg_pricing_summary" -> Set("sum_qty_r", "sum_base_r", "sum_disc_r",
      "sum_charge_r", "avg_qty_r", "avg_price_r", "avg_disc_r"),
    "topk_global" -> Set("revenue_r"),
    "stream_tumbling" -> Set("sum_value_r"),
    "sim_cosine_topk" -> Set("cos_r"),
    "text_tfidf" -> Set("tfidf_r"))
  /** (rows, checksum) on the generated sf0.1 tables. */
  val Expected: Map[String, (Long, Long)] = Map(
    "agg_pricing_summary" -> (6L, 15553388919L),
    "topk_global" -> (10L, 24348207300L),
    "win_rownum_topk" -> (44945L, 96728148203797L),
    "agg_count_distinct" -> (1L, 3282094863L),
    "stream_tumbling" -> (3481L, 7313464948730L),
    "text_wordcount" -> (20L, 51096457119L),
    "sim_cosine_topk" -> (10L, 17519432295L),
    "join_inner" -> (150000L, 321756418217266L),
    "dedup_minhash" -> (500L, 1079448097637L),
    "text_tfidf" -> (50L, 113721286388L))
}

/** The store lifecycle on one versioned orders store built from the
  * sf0.1 orders ([[Store]]): decks of commits ([[IngestGen]]) and reads
  * ([[QueryGen]]) in seeded order. A driver-side [[StoreModel]] follows
  * every commit; reads, time travel and history are checked against it
  * and against its per-version snapshots. */
final class StoreMix(spark: SparkSession, dir: String, root: String,
                     seed: Long) extends Workload {
  import StoreMix._
  val table = "bench_orders"
  val store = s"$root/$table"
  override def storeDir: Option[String] = Some(store)
  private var model: StoreModel = _
  private var ingest: IngestGen = _
  private var reads: QueryGen = _
  private val deck = new Decks(Deck, seed, DeckHead, DeckTail)
  override def atBoundary: Boolean = deck.atBoundary
  /** Model snapshot (per-month aggregates) at each committed version. */
  private val versions = scala.collection.mutable.LinkedHashMap.empty[Long,
    Map[Int, (Long, Long)]]

  def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    GraftDml.install(spark)
    SetupLog("warm")(warm())
    SetupLog("build store")(Store.build(spark, dir, root, table))
    model = SetupLog("load model")(StoreModel.load(spark, dir))
    Versioned.committedVersions(spark, store)   // the build and the ALTER
      .foreach(v => versions(v) = model.snapshot())
    ingest = new IngestGen(model, seed)
    reads = new QueryGen(model, () => versions.keys.toSeq, seed)
  }

  def next(tr: Tracer): Done = {
    val kind = deck.next()
    if (IngestKinds.contains(kind)) {
      val op = ingest.make(kind)
      write(op, model, table, tr)
      Versioned.currentVersion(spark, store)
        .foreach(v => versions(v) = model.snapshot())
      Done(op.kind, "commit", () => None, changedRows = op.changedRows)
    } else {
      val r = reads.make(kind)
      val (obs, check) = read(r, store, table, model, versions.toMap, tr)
      Done(r.kind, "read", check, () => Force.result(obs)._1)
    }
  }

  /** The final store per month, and two sampled reads, against the model. */
  def finalChecks(): (Int, Seq[String]) = {
    val rng = new java.util.SplittableRandom(seed ^ 0xc0ffee)
    val sampled = (1 to 2).flatMap { _ =>
      val lo = rng.nextLong(model.size.toLong)
      val r = KeyRange(lo, lo + rng.nextInt(2000))
      read(r, store, table, model, Map.empty, new Tracer(spark, false))._2()
    }
    (3, model.diff(Store.monthAggs(spark, store)) ++ sampled)
  }

  /** Execute one write against table `tbl`. */
  private def write(op: IngestOp, m: StoreModel, tbl: String, tr: Tracer): Unit = {
    val d = s"$root/$tbl"
    op match {
      case u: Upsert if !u.viaSql =>
        val batch = spark.createDataFrame(
          java.util.Arrays.asList(u.keys.map(m.row): _*), Store.schema)
        tr.span("mergeops", "upsert")(Store.upsert(spark, d, batch))
      case u: Upsert =>
        spark.createDataFrame(java.util.Arrays.asList(u.keys.map(m.row): _*),
          Store.schema).createOrReplaceTempView("bench_src")
        tr.span("sql", "statement:merge")(spark.sql(
          s"""MERGE INTO graft.$tbl t USING bench_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
             |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey,
             |  o_orderstatus, o_totalprice, o_orderpriority, o_month)
             |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus,
             |  s.o_totalprice, s.o_orderpriority, s.o_month)""".stripMargin))
      case DeleteKeys(keys, _) =>
        import spark.implicits._
        val kdf = keys.toDF(Store.Key)
        tr.span("mergeops", "delete")(
          MergeOps.mergeDelete(spark, d, kdf, Store.Key, Store.Part))
      case DeleteRange(lo, hi, _) =>
        tr.span("mergeops", "delete_where")(MergeOps.mergeDeleteWhere(
          spark, d, col(Store.Key).between(lo, hi), Store.Part))
      case Compact =>
        tr.span("mergeops", "compact")(
          MergeOps.compactPartitions(spark, d, Store.Part, maxFilesPerPart = 4))
    }
  }

  /** Run every write verb and read shape on a throwaway store of the
    * latest six months (the ones commits favour), then drop it: the timed
    * phase starts with compiled code and never sees warm-up commits. A
    * small store keeps warm-up cheap; SQL MERGE alone costs several
    * seconds per call on the full one. */
  private def warm(): Unit = {
    val tbl = "warm_small"
    val m = StoreModel.load(spark, dir)
    Store.build(spark, dir, root, tbl, fromMonth = m.months(m.months.length - 6))
    val g = new IngestGen(m, seed ^ 0x5eed)
    val off = new Tracer(spark, false)
    Seq("upsert", "delete", "delete_where", "sql_merge", "compact")
      .foreach(k => write(g.make(k), m, tbl, off))
    val q = new QueryGen(m, () => Seq(1L), seed ^ 0x5eed)
    Seq("key_range", "cust_lookup", "month_range", "sql_select", "time_travel")
      .foreach(k => read(q.make(k), s"$root/$tbl", tbl, m, Map.empty, off))
    Fs.deleteTree(java.nio.file.Paths.get(s"$root/$tbl"))
  }

  /** Execute one read against table `tbl` (store dir `d`), forcing the
    * whole result; the returned check compares it with model `m` (or,
    * for time travel and history, with the per-version snapshots). */
  private def read(r: ReadOp, d: String, tbl: String, m: StoreModel,
                     snaps: Map[Long, Map[Int, (Long, Long)]], tr: Tracer)
      : (Observation, () => Option[String]) = {
    def skip(ranges: Seq[(String, Long, Long)],
             values: Seq[(String, Seq[String])]) =
      tr.span("mergeops", "skip_read_build")(MergeOps.readCorpusSkipPruned(
        spark, d, Store.Part, ranges, values))
    def sql(q: String) = tr.span("sql", "statement:select")(spark.sql(q))
    def inRange(lo: Long, hi: Long) = () => m.expect(k => k >= lo && k <= hi)
    val (df, want): (DataFrame, () => (Long, Long)) = r match {
      case KeyRange(lo, hi) => (skip(Seq((Store.Key, lo, hi)), Nil), inRange(lo, hi))
      case CustLookup(c) =>
        (skip(Nil, Seq(("o_custkey", Seq(c.toString)))),
          () => m.expect(m.cust(_) == c))
      case MonthRange(ms) =>
        (skip(Nil, Seq((Store.Part, ms.map(_.toString)))),
          () => m.expect(k => ms.contains(m.month(k))))
      case SqlRange(lo, hi) =>
        (sql(s"SELECT * FROM graft.$tbl WHERE o_orderkey BETWEEN $lo AND $hi"),
          inRange(lo, hi))
      case TimeTravel(v, mo) =>
        (sql(s"SELECT * FROM graft.$tbl VERSION AS OF $v WHERE o_month = $mo"),
          () => snaps(v).getOrElse(mo, (0L, 0L)))
      case History =>
        (tr.span("mergeops", "history")(
          MergeOps.history(spark, d, Store.Part)),
          () => snaps.toSeq.map { case (v, s) =>
            Store.historyHash(v, s.values.map(_._1).sum) }
            .foldLeft((0L, 0L)) { case ((n, h), x) => (n + 1, h + x) })
    }
    val (forced, obs) = r match {
      case History => Force.columns(df, Seq("version", "n_rows"))
      case _ => Force(df, Store.hashCol)
    }
    val layer = r match {
      case SqlRange(_, _) | TimeTravel(_, _) => "sql"
      case History => "mergeops"
      case _ => "ops"
    }
    tr.span(layer, s"action:${r.kind}")(Force.run(forced))
    (obs, () => {
      val got = Force.result(obs)
      val w = want()
      if (got == w) None else Some(s"$r: store $got, model $w")
    })
  }

  private var lastManifest = Set.empty[String]
  /** Times the metadata calls every commit and read makes, on the store
    * head after each op, and counts what the head holds. */
  override def probe(tr: Tracer): Unit = {
    val v = tr.span("versioned", "current_version")(
      Versioned.currentVersion(spark, store)).get
    val man = tr.span("versioned", "manifest")(Versioned.manifest(spark, store, v))
    tr.span("versioned", "read_stats")(Versioned.readStatsMulti(spark, store, v))
    probed("versioned.manifest_entries", man.size)
    probed("versioned.committed_versions",
      Versioned.committedVersions(spark, store).size)
    val dirs = man.map(_._2).toSet
    if (lastManifest.nonEmpty && dirs != lastManifest)
      probed("mergeops.files_added_per_commit", (dirs -- lastManifest).toSeq
        .map(d => Versioned.dataFileCount(spark, store, d)).sum)
    lastManifest = dirs
  }
}

object StoreMix {
  val IngestKinds = Set("upsert", "delete", "delete_where", "sql_merge",
    "compact")
  /** One deck of 20: eight commits (half of them upserts, one of each
    * other verb) and twelve reads across every read shape; history opens
    * it and compaction closes it. */
  val Deck: Seq[String] = Seq.fill(4)("upsert") ++ Seq("delete",
    "delete_where", "sql_merge") ++ Seq.fill(4)("key_range") ++
    Seq("cust_lookup", "cust_lookup", "month_range", "sql_select",
      "sql_select", "time_travel", "time_travel")
  /** History and compaction cost what the commits before them left
    * (one count job per retained version; fragmented partitions), so
    * they take fixed places: every run then pays the same for them. */
  val DeckHead: Seq[String] = Seq("history")
  val DeckTail: Seq[String] = Seq("compact")
}

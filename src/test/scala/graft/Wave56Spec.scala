package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-17 wave: WHERE-verb probe pruning — the predicate forms'
  * find-touched probe (and the MOR update's image scan) route through
  * the shared three-tier skipping kernel (manifest names → zone maps →
  * dictionaries → blooms) BEFORE touching data, so a selective
  * predicate write scans candidate partitions, not the corpus. Hints
  * are extracted conservatively from the predicate's AND conjuncts;
  * anything not extractable leaves the probe exactly as before. */
class Wave56Spec extends SparkTestBase {

  /** Sum of task input records across every job `body` runs. */
  private def recordsRead(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(1000) }
    finally spark.sparkContext.removeSparkListener(l)
    acc.get()
  }

  test("predPruneHints: simple AND conjuncts extract; derived exprs, " +
       "ORs and rendering-unsafe literals decline") {
    val probe = spark.range(1).select(col("id").as("k"),
      col("id").cast("double").as("v"), col("id").cast("string").as("s"),
      col("id").cast("int").as("i"))
    val (r1, v1) = MergeOps.predPruneHints(probe,
      col("k") >= 950 && col("v") > 1.5)
    assert(r1 == Seq(("k", 950L, Long.MaxValue)),
      s"integral conjunct must extract, double must not: $r1")
    assert(v1.isEmpty)
    val (r2, v2) = MergeOps.predPruneHints(probe,
      col("s") === "x" && col("k") === 7)
    assert(v2.contains(("s", Seq("x"))) && v2.contains(("k", Seq("7"))))
    assert(r2.contains(("k", 7L, 7L)))
    // a disjunction admits everything — no conjunct is provable
    val (r3, v3) = MergeOps.predPruneHints(probe,
      col("k") >= 5 || col("s") === "x")
    assert(r3.isEmpty && v3.isEmpty)
    // a double comparison against a long column compares in DOUBLE
    // (the attribute side is cast non-integrally): no hint may leak
    val (r4, v4) = MergeOps.predPruneHints(probe, col("k") > lit(5.0))
    assert(r4.isEmpty && v4.isEmpty)
    // reversed operand order flips the bound
    val (r5, _) = MergeOps.predPruneHints(probe, lit(10) > col("k"))
    assert(r5 == Seq(("k", Long.MinValue, 9L)))
    // IN is all-or-nothing
    val (_, v6) = MergeOps.predPruneHints(probe, col("s").isin("a", "b"))
    assert(v6 == Seq(("s", Seq("a", "b"))))
    // a NARROWING cast wraps (non-ANSI): CAST(k AS INT) > 5 holds for
    // k = -4294967286, so no bound on k itself may be extracted
    for (p <- Seq(col("k").cast("int") > 5, col("k").cast("int") === 10,
                  col("k").cast("int").isin(10, 11))) {
      val (r, v) = MergeOps.predPruneHints(probe, p)
      assert(r.isEmpty && v.isEmpty, s"narrowing cast must not hint: $p")
    }
    // a WIDENING cast unwraps to a bound on the column itself
    val (r7, _) = MergeOps.predPruneHints(probe,
      col("i").cast("long") > lit(5L))
    assert(r7 == Seq(("i", 6L, Long.MaxValue)))
    // FLOAT/DOUBLE literals never give a value hint (-0.0 = 0.0)
    val (r8, v8) = MergeOps.predPruneHints(probe, col("v") === 0.0)
    assert(r8.isEmpty && v8.isEmpty)
  }

  test("DELETE WHERE through a narrowing cast deletes the row the " +
       "zone maps alone would have pruned") {
    import spark.implicits._
    val dir = freshDir("graft_prune_narrow")
    // -4294967286 casts to INT 10 (wraps), so it satisfies the
    // predicate although its partition's k bounds lie far below 5
    MergeOps.mergeUpsert(spark, dir,
      Seq((1L, 0L), (2L, 0L), (-4294967286L, 1L)).toDF("k", "b"), "k", "b",
      statsKeys = Seq("k"))
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.ansi.enabled")
    conf.set("spark.sql.ansi.enabled", "false")
    try MergeOps.mergeDeleteWhere(spark, dir, col("k").cast("int") > 5, "b")
    finally saved.fold(conf.unset("spark.sql.ansi.enabled"))(
      conf.set("spark.sql.ansi.enabled", _))
    val left = MergeOps.readCorpus(spark, dir, "b").select("k").collect()
      .map(_.getLong(0)).toSet
    assert(left == Set(1L, 2L), s"the wrapped hit row must be deleted: $left")
  }

  test("signed zero: WHERE v = 0.0 finds a -0.0 row through the SQL " +
       "front door and through DELETE WHERE, dict and bloom tiers on v") {
    import spark.implicits._
    // the session caches the catalog with the root its first user set:
    // every suite uses the JVM temp dir
    val root = new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath
    val dir = new java.io.File(root, "graft_w56_zero").getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // partition b holds only -0.0, whose dict/bloom rendering is "-0.0"
    val rows = Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, -0.0, "b"))
      .toDF("k", "v", "p")
    MergeOps.mergeUpsert(spark, dir, rows, "k", "p",
      dictKeys = Seq("v"), bloomKeys = Seq("v"))
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    val got = spark.sql("SELECT k FROM graft.graft_w56_zero WHERE v = 0.0")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L), s"-0.0 = 0.0 must hold through the catalog: $got")
    MergeOps.mergeDeleteWhere(spark, dir, col("v") === 0.0, "p")
    val left = MergeOps.readCorpus(spark, dir, "p").select("k").collect()
      .map(_.getLong(0)).toSet
    assert(left == Set(1L, 2L), s"the -0.0 row must be deleted: $left")
  }

  test("signed zero: a mixed-layout upsert of key 0.0 replaces the " +
       "stored -0.0 key, as a same-layout upsert does") {
    import spark.implicits._
    val dir = freshDir("graft_prune_zero_key")
    MergeOps.mergeUpsert(spark, dir,
      Seq((-0.0, "a", "x"), (1.0, "b", "y")).toDF("k", "p", "q"), "k", "p",
      dictKeys = Seq("k"))                                          // v1
    // the layout moves to q, so the p= entries are foreign and only the
    // key probe finds the one holding -0.0, which joins the batch's 0.0
    MergeOps.mergeUpsert(spark, dir,
      Seq((0.0, "a", "x")).toDF("k", "p", "q"), "k", "q")           // v2
    val keys = MergeOps.readCorpus(spark, dir, "q").select("k").collect()
      .map(_.getDouble(0)).sorted.toSeq
    assert(keys == Seq(0.0, 1.0), s"key 0.0 must replace -0.0: $keys")
  }

  test("DELETE WHERE: the probe scans only zone-map-admitted " +
       "partitions and the committed result is unchanged") {
    import spark.implicits._
    val dir = freshDir("graft_prunedel")
    // block layout: partition b holds keys [100b, 100b+99], so k >= 950
    // is provably confined to b=9 by the per-partition k bounds
    val data = (0L until 1000L).toDF("k")
      .withColumn("b", (col("k") / 100).cast("long"))
      .withColumn("v", col("k") * 2)
    MergeOps.mergeUpsert(spark, dir, data, "k", "b",
      statsKeys = Seq("k"))                                         // v1
    val read = recordsRead {
      MergeOps.mergeDeleteWhere(spark, dir, col("k") >= 950, "b",
        sortCol = Some("k"))                                        // v2
    }
    // pruned: probe (≤100 rows) + survivor restage (≤100) ≪ the
    // 1000-row corpus the unpruned probe scanned every time
    assert(read < 600,
      s"probe must scan only admitted partitions, read $read records")
    val left = MergeOps.readCorpus(spark, dir, "b")
    assert(left.count() == 950)
    assert(left.agg(max("k")).head.getLong(0) == 949L)
    // untouched partitions' entries carry verbatim
    val m1 = Versioned.manifest(spark, dir, 1L).toMap[String, String]
    val m2 = Versioned.manifest(spark, dir, 2L).toMap[String, String]
    assert((0 to 8).forall(b => m2(s"b=$b") == m1(s"b=$b")))
    // an all-pruned predicate publishes nothing (idempotent replay)
    MergeOps.mergeDeleteWhere(spark, dir, col("k") >= 950, "b")
    assert(Versioned.currentVersion(spark, dir).contains(2L),
      "a no-match DELETE WHERE replay must publish nothing")
  }

  test("UPDATE WHERE and MOR UPDATE: pruned probes, identical content") {
    import spark.implicits._
    val dir = freshDir("graft_pruneupd")
    val data = (0L until 1000L).toDF("k")
      .withColumn("b", (col("k") / 100).cast("long"))
      .withColumn("v", (col("k") * 2).cast("double"))
    MergeOps.mergeUpsert(spark, dir, data, "k", "b",
      statsKeys = Seq("k"))                                         // v1
    val read = recordsRead {
      MergeOps.mergeUpdateWhere(spark, dir, col("k") < 50,
        Seq("v" -> (col("v") + 1000.0)), "k", "b")                  // v2
    }
    assert(read < 600,
      s"UPDATE WHERE probe must scan only admitted partitions: $read")
    val got = MergeOps.readCorpus(spark, dir, "b")
      .where(col("k") < 50).agg(min("v"), max("v")).head
    assert(got.getDouble(0) == 1000.0 && got.getDouble(1) == 1098.0)
    assert(MergeOps.readCorpus(spark, dir, "b")
      .where(col("k") >= 50).agg(max("v")).head.getDouble(0) == 1998.0)
    // MOR update (uv sidecar, no restage): same pruning discipline;
    // the v2 restage dropped b=0's stats line, so the probe now admits
    // b=0 (no line → always read) plus nothing else for k < 20
    val read2 = recordsRead {
      MergeOps.mergeUpdateMor(spark, dir, col("k") < 20,
        Seq("v" -> lit(-1.0)), "k", "b")                            // v3
    }
    assert(read2 < 600,
      s"MOR UPDATE image scan must read only admitted partitions: $read2")
    val after = MergeOps.readCorpus(spark, dir, "b")
    assert(after.where(col("v") === -1.0).count() == 20)
    assert(after.count() == 1000)
  }
}

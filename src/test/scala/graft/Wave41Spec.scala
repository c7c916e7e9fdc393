package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.engine.Versioned
import graft.ops.MergeOps
import graft.sql.GraftCatalog

/** Round-15 wave 2: streaming through the SQL catalog — the plain
  * table as a row-image stream (`readStream.table("graft.t")`), the
  * CDC stream behind the virtual `changes` namespace, and the
  * `pinRetention` vacuum pin that keeps a paced backlog readable. */
class Wave41Spec extends SparkTestBase {

  private def register(): Unit = {
    spark.conf.set("spark.sql.catalog.gtest",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.root",
      new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath)
  }

  test("readStream.table streams the plain table as ROW IMAGES: " +
       "bootstrap snapshot then later upsert images at the table " +
       "schema, deletes fail loudly, ignoreDeletes drops them") {
    import spark.implicits._
    val dir = freshDir("graft_rs_tbl")
    val tbl = new java.io.File(dir).getName
    val out = freshDir("graft_rs_out")
    val ck = freshDir("graft_rs_ck")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    register()
    def start() = spark.readStream
      .option("keyCol", "k")
      .table(s"gtest.`$tbl`")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("parquet").option("path", out)
      .start()
    val q = start()
    try {
      q.processAllAvailable()
      val boot = spark.read.parquet(out)
      assert(boot.columns.toSet == Set("k", "v", "p"),
        s"a row-image stream carries the TABLE schema: ${boot.columns.toSeq}")
      assert(boot.count() == 4, "bootstrap = the full snapshot")
      // upserts while the query is live: their ROW IMAGES stream
      MergeOps.mergeUpsert(spark, dir,
        Seq((1L, -1.0, "O"), (5L, 50.0, "O")).toDF("k", "v", "p"),
        "k", "p")                                                    // v2
      q.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows.size == 6, s"4 bootstrap + 2 images: $rows")
      assert(rows.contains((5L, 50.0)) && rows.contains((1L, -1.0)),
        s"the insert and the update image must both stream: $rows")
    } finally q.stop()
    // a DELETE cannot be represented as a row image: loud failure
    MergeOps.mergeDelete(spark, dir,
      Seq(2L).toDF("k"), "k", "p")                                   // v3
    val q2 = start()
    val err = try {
      intercept[Throwable] { q2.processAllAvailable() }
    } finally q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("cannot represent deletions")),
      s"a delete must fail the row-image stream loudly: ${messages(err)}")
    // ignoreDeletes: the replayed batch flows, the delete row dropped
    val q3 = spark.readStream
      .option("keyCol", "k").option("ignoreDeletes", "true")
      .table(s"gtest.`$tbl`")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("parquet").option("path", out)
      .start()
    try q3.processAllAvailable() finally q3.stop()
    val finalKs = spark.read.parquet(out).select("k").collect()
      .map(_.getLong(0)).toSeq
    assert(finalKs.size == 6,
      s"the dropped delete must add no rows: $finalKs")
  }

  test("the virtual `changes` namespace streams the CDC feed through " +
       "the catalog: change_type rows, reader options honored") {
    import spark.implicits._
    val dir = freshDir("graft_rs_cdc")
    val tbl = new java.io.File(dir).getName
    val out = freshDir("graft_rs_cdc_out")
    val ck = freshDir("graft_rs_cdc_ck")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    register()
    val q = spark.readStream
      .option("keyCol", "k").option("startVersion", "0")
      .table(s"gtest.changes.`$tbl`")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("parquet").option("path", out)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 4,
        "bootstrap = 4 insert rows")
      MergeOps.mergeUpsert(spark, dir,
        Seq((1L, -1.0, "O")).toDF("k", "v", "p"), "k", "p")          // v2
      MergeOps.mergeDelete(spark, dir, Seq(2L).toDF("k"), "k", "p")  // v3
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.count(_._2 == "insert") == 4 &&
             got.contains((1L, "update")) && got.contains((2L, "delete")),
      s"the CDC stream must carry typed changes: ${got.toSeq}")
  }

  test("pinRetention keeps a paced backlog readable through an " +
       "aggressive vacuum: the stream's tag pins its unread floor and " +
       "advances with each commit") {
    import spark.implicits._
    val dir = freshDir("graft_rs_pin")
    val out = freshDir("graft_rs_pin_out")
    val ck = freshDir("graft_rs_pin_ck")
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")            // v1
    (7 to 10).foreach { i =>                                     // v2..v5
      MergeOps.mergeUpsert(spark, dir,
        Seq((i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
          .toDF("k", "v", "p"), "k", "p")
    }
    def runOnce(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.ChangeFeedSourceProvider")
        .option("dir", dir).option("keyCol", "k")
        .option("startVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .option("pinRetention", "true")
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out)
        .trigger(Trigger.Once()).start()
      try q.awaitTermination(120000) finally q.stop()
    }
    runOnce()  // bootstrap: offset 0 -> 1, commit tags v1
    assert(spark.read.parquet(out).count() == 6)
    val tag1 = Versioned.tags(spark, dir).filter(_._1.startsWith("__feed_"))
    assert(tag1.values.toSeq == Seq(1L),
      s"the stream must pin its committed offset: $tag1")
    // the aggressive sweep: keepVersions=1 floors at v5 and sweeps
    // v2..v4 — but v1, the stream's unread floor, is tagged and stays
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(Versioned.retentionFloor(spark, dir).contains(5L))
    // without the pin this is Wave28's loud floor failure; with it the
    // next trigger drains 1 -> 5 as one net slice (the swept versions
    // collapse into their survivor's diff)
    runOnce()
    val ks = spark.read.parquet(out).select("k").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(ks == (1L to 10L).toSeq,
      s"the post-vacuum batch must deliver the net backlog: $ks")
    val tag2 = Versioned.tags(spark, dir).filter(_._1.startsWith("__feed_"))
    assert(tag2.values.toSeq == Seq(5L),
      s"each commit must advance the pin (releasing older versions): $tag2")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.engine.Versioned
import graft.ops.MergeOps
import graft.sql.GraftCatalog

/** The SQL table door states each decision once: the plain-table stream
  * parses its options with the change feed's parser (same checks, same
  * messages), the catalog reads its root from the session conf on every
  * call, and `MergeOps.changelog` is a projection of `changeFeed`'s key
  * diff (MOR deletes show, a null value is not an insert). */
class Wave57Spec extends SparkTestBase {
  import spark.implicits._

  private val tmpRoot =
    new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath

  private def register(root: String): Unit = {
    spark.conf.set("spark.sql.catalog.gdoor", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdoor.root", root)
  }

  /** Every message along `t`'s cause chain. */
  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil
    else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** The failure of a stream over `table` with `opts`, run to the end. */
  private def streamFailure(table: String,
                            opts: Map[String, String]): Seq[String] = {
    val err = intercept[Throwable] {
      val q = spark.readStream.options(opts).table(table)
        .writeStream.format("noop")
        .option("checkpointLocation", freshDir("graft_door_ck"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    messages(err)
  }

  test("readStream.table checks its options as the changes door does: " +
       "maxVersionsPerTrigger 0 fails with the feed's message") {
    val dir = freshDir("graft_door_opts")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, corpus(6), "k", "p")
    register(tmpRoot)
    val bad = Map("keyCol" -> "k", "maxVersionsPerTrigger" -> "0")
    val msg = "maxVersionsPerTrigger must be >= 1, got 0"
    val plain = streamFailure(s"gdoor.`$tbl`", bad)
    assert(plain.exists(_.contains(msg)),
      s"the plain-table stream must reject the option: $plain")
    val cdc = streamFailure(s"gdoor.changes.`$tbl`", bad)
    assert(cdc.exists(_.contains(msg)),
      s"the changes door rejects it with the same message: $cdc")
  }

  test("readStream.table honours startTag as the changes door does: " +
       "the stream starts at the tagged version, not a bootstrap") {
    val dir = freshDir("graft_door_tag")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    Versioned.tagVersion(spark, dir, "seen", 1L)
    MergeOps.mergeUpsert(spark, dir,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    register(tmpRoot)
    val q = spark.readStream.option("keyCol", "k").option("startTag", "seen")
      .table(s"gdoor.`$tbl`")
      .writeStream.format("memory").queryName("graft_door_tag")
      .option("checkpointLocation", freshDir("graft_door_tag_ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("graft_door_tag").select("k").as[Long].collect()
    assert(got.toSeq == Seq(5L),
      s"only the change after the tagged version streams: ${got.toSeq}")
  }

  test("readStream.table streams a whole-table store's bootstrap with " +
       "no partCol option: the layout comes from the manifest") {
    val dir = freshDir("graft_door_flat")
    val tbl = new java.io.File(dir).getName
    MergeOps.mergeScd2(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "attr"), "k", Seq("attr"), 1L)
    MergeOps.setTableProperties(spark, dir, Map("keyCol" -> "k"))
    assert(Versioned.partColOf(Versioned.manifest(spark, dir, 2L)).isEmpty,
      "precondition: an unpartitioned store")
    register(tmpRoot)
    val q = spark.readStream.table(s"gdoor.`$tbl`")
      .writeStream.format("memory").queryName("graft_door_flat")
      .option("checkpointLocation", freshDir("graft_door_flat_ck"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("graft_door_flat")
      .select("k", "attr").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b")),
      s"the bootstrap must stream every row: $got")
  }

  test("the catalog reads its root per call: a later root change " +
       "resolves tables that exist only under the new root") {
    val rootA = freshDir("graft_door_rootA")
    val rootB = freshDir("graft_door_rootB")
    MergeOps.mergeUpsert(spark, s"$rootA/ta", corpus(4), "k", "p")
    MergeOps.mergeUpsert(spark, s"$rootB/tb", corpus(6), "k", "p")
    try {
      register(rootA)
      assert(spark.sql("SELECT count(*) FROM gdoor.ta").head.getLong(0) == 4)
      register(rootB)
      assert(spark.sql("SELECT count(*) FROM gdoor.tb").head.getLong(0) == 6,
        "a table only under the new root must resolve")
    } finally register(tmpRoot)
  }

  test("changelog sees a merge-on-read delete the manifest does not " +
       "show, exactly as changeFeed does") {
    val dir = freshDir("graft_door_cl_mor")
    MergeOps.mergeUpsert(spark, dir, corpus(4), "k", "p")            // v1
    MergeOps.mergeDeleteMor(spark, dir, Seq(2L, 3L).toDF("k"),
      "k", "p")                                                      // v2
    assert(Versioned.manifest(spark, dir, 1L) ==
             Versioned.manifest(spark, dir, 2L),
      "precondition: a MOR delete leaves the manifest unchanged")
    val log = MergeOps.changelog(spark, dir, 1L, 2L, "k", "v")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("change"),
        r.getAs[Any]("old_value"), r.getAs[Any]("new_value")))
      .sortBy(_._1).toSeq
    assert(log == Seq((2L, "delete", 20.0, null), (3L, "delete", 30.0, null)),
      s"changelog rows: $log")
    val feed = MergeOps.changeFeed(spark, dir, 1L, 2L, "k")
      .select("k", "change_type").as[(Long, String)].collect()
      .sortBy(_._1).toSeq
    assert(feed == Seq((2L, "delete"), (3L, "delete")), s"feed rows: $feed")
  }

  test("changelog classifies by key presence and null-safe value " +
       "inequality: a null value is neither an insert nor unchanged " +
       "when it changes") {
    val dir = freshDir("graft_door_cl_null")
    val schema = "k BIGINT, v DOUBLE, p STRING"
    MergeOps.mergeUpsert(spark, dir,
      spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(1L, null, "A"),
          org.apache.spark.sql.Row(2L, 2.0, "A"),
          org.apache.spark.sql.Row(3L, null, "A")),
        org.apache.spark.sql.types.StructType.fromDDL(schema)),
      "k", "p")                                                      // v1
    // restage partition A: key 1 rewritten verbatim with its null value,
    // key 2 updated, key 3 goes from null to a value
    MergeOps.mergeUpsert(spark, dir,
      Seq((2L, 2.5, "A"), (3L, 3.0, "A")).toDF("k", "v", "p"),
      "k", "p")                                                      // v2
    val log = MergeOps.changelog(spark, dir, 1L, 2L, "k", "v")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("change"),
        r.getAs[Any]("old_value"), r.getAs[Any]("new_value")))
      .sortBy(_._1).toSeq
    assert(log == Seq((2L, "update", 2.0, 2.5), (3L, "update", null, 3.0)),
      s"changelog rows: $log")
  }
}

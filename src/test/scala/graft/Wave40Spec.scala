package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.engine.Versioned
import graft.ops.MergeOps
import graft.sql.{GraftCatalog, GraftScanObservable}
import graft.streaming.{ChangeFeedSourceProvider, ChangeFeedStream, FeedOffset}

/** Round-15 wave 1: the staged-replay schema pin (a crash-replayed
  * feed batch must never re-wrap old-width UnsafeRow bytes under a
  * widened pin), SQL over a spec-evolved mixed-layout store, and
  * TIMESTAMP AS OF / literal-rendering composition checks. */
class Wave40Spec extends SparkTestBase {

  private def createStream(meta: String,
                           opts: Map[String, String]): ChangeFeedStream = {
    val provider = new ChangeFeedSourceProvider()
    val cis = new CaseInsensitiveStringMap(opts.asJava)
    provider.getTable(provider.inferSchema(cis), Array.empty,
        new java.util.HashMap[String, String](opts.asJava))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(cis).build()
      .toMicroBatchStream(meta).asInstanceOf[ChangeFeedStream]
  }

  /** Drain one planned range through the V2 reader factory as maps of
    * fieldName -> value (schema passed explicitly, since the point of
    * these tests is replaying the SAME range under DIFFERENT pins). */
  private def drain(st: ChangeFeedStream, from: Long, to: Long,
                    schema: org.apache.spark.sql.types.StructType)
      : Seq[Map[String, Any]] = {
    val parts = st.planInputPartitions(FeedOffset(from), FeedOffset(to))
    val rf = st.createReaderFactory()
    parts.toSeq.flatMap { p =>
      val r = rf.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      try while (r.next()) {
        val row = r.get()
        buf += schema.fields.zipWithIndex.map { case (f, i) =>
          f.name -> (if (row.isNullAt(i)) null
                     else row.get(i, f.dataType) match {
                       case u: org.apache.spark.unsafe.types.UTF8String =>
                         u.toString
                       case other => other
                     })
        }.toMap
      } finally r.close()
      buf.toSeq
    }
  }

  test("a staged feed batch replayed under a WIDENED pin restages " +
       "instead of re-wrapping old-width UnsafeRow bytes: the crash + " +
       "evolve + restart workflow yields aligned, null-filled rows — " +
       "and a same-pin replay reuses the staged bytes verbatim") {
    import spark.implicits._
    val src = freshDir("graft_stage_src")
    val ck = freshDir("graft_stage_ck")
    MergeOps.mergeUpsert(spark, src, corpus(4), "k", "p")            // v1
    MergeOps.mergeUpsert(spark, src,
      Seq((5L, 50.0, "O")).toDF("k", "v", "p"), "k", "p")            // v2
    val opts = Map("dir" -> src, "keycol" -> "k",
                   "startversion" -> "1")
    val narrowSchema = new ChangeFeedSourceProvider()
      .inferSchema(new CaseInsensitiveStringMap(opts.asJava))
    val stA = createStream(ck, opts)
    // the "logged but uncommitted" batch: planned (and so STAGED), but
    // commit() never runs before the crash
    val first = drain(stA, 1L, 2L, narrowSchema)
    assert(first.map(m => (m("k"), m("change_type"))) ==
             Seq((5L, "insert")),
      s"precondition: the staged batch is v1->v2's one insert: $first")
    // same-pin replay must REUSE the staged bytes (no recompute): the
    // part files' mtimes are untouched by a second plan of the range
    val stageDir = new java.io.File(ck, "graft-feed-stage/1_2")
    def partMtimes() = stageDir.listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified).toMap
    val before = partMtimes()
    assert(before.nonEmpty, "the planned batch must be staged on disk")
    Thread.sleep(20)
    drain(createStream(ck, opts), 1L, 2L, narrowSchema)
    assert(partMtimes() == before,
      "a same-pin replay must serve the staged bytes verbatim")
    // the source WIDENS after the crash, before the restart
    MergeOps.mergeUpsert(spark, src,
      Seq((6L, 60.0, "E", "fresh")).toDF("k", "v", "p", "w"),
      "k", "p")                                                      // v3
    val wideSchema = new ChangeFeedSourceProvider()
      .inferSchema(new CaseInsensitiveStringMap(opts.asJava))
    assert(wideSchema.fieldNames.contains("w") &&
             wideSchema.length == narrowSchema.length + 1,
      s"precondition: the re-pinned schema widened: $wideSchema")
    // restart = a new stream on the SAME checkpoint, replaying the
    // logged range: the stale 4-field staged bytes must NOT be
    // re-wrapped at 5 fields (misread null bitset/offsets) — the dir
    // restages through batchFrame, which null-fills the new column
    val stB = createStream(ck, opts)
    val replayed = drain(stB, 1L, 2L, wideSchema)
    assert(replayed.size == 1, s"one replayed change row: $replayed")
    val row = replayed.head
    assert(row("k") == 5L && row("v") == 50.0 && row("p") == "O" &&
             row("w") == null && row("change_type") == "insert",
      s"the replayed batch must align to the widened pin: $row")
  }

  test("SQL over a spec-EVOLVED store composes: the mixed-layout " +
       "mid-state reads whole through the catalog, and a zone-map " +
       "probe prunes within BOTH layouts") {
    import spark.implicits._
    val dir = freshDir("graft_sql_evo")
    val tbl = new java.io.File(dir).getName
    // v1: partitioned by g (k-range groups, so doc-id zone maps bite)
    val rows = (1 to 120).map(i =>
      (i.toLong, i * 1.0, (i / 40).toString, s"L${i % 3}"))
      .toDF("k", "v", "g", "lang")
    MergeOps.mergeUpsert(spark, dir, rows.where(col("k") < 100),
                         "k", "g", statsKeys = Seq("k"))             // v1
    // v2: the spec EVOLVES to lang; the appended range is disjoint, so
    // the old layout carries metadata-only — the manifest now MIXES
    // g= and lang= entries
    MergeOps.mergeUpsert(spark, dir, rows.where(col("k") >= 100),
                         "k", "lang", statsKeys = Seq("k"))          // v2
    val man = Versioned.manifest(spark, dir, 2L)
    assert(man.exists(_._1.startsWith("g=")) &&
             man.exists(_._1.startsWith("lang=")),
      s"precondition: a mixed-layout manifest: ${man.map(_._1)}")
    spark.conf.set("spark.sql.catalog.gtest",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.root",
      new java.io.File(sys.props("java.io.tmpdir")).getAbsolutePath)
    // the whole-table read: every row of both layouts, both partition
    // columns present (dir-derived in one group, file-stored in the
    // other), at the declared schema
    val all = spark.sql(
      s"SELECT k, v, g, lang FROM gtest.`$tbl` ORDER BY k")
      .collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.get(2).toString, r.getString(3)))
    assert(all.length == 120)
    assert(all.take(3).toSeq ==
      Seq((1L, 1.0, "0", "L1"), (2L, 2.0, "0", "L2"), (3L, 3.0, "0", "L0")))
    assert(all.last == (120L, 120.0, "3", "L0"))
    // a zone-map probe that lives in the OLD layout prunes the new one
    // (and the old layout's non-holding groups)
    GraftScanObservable.lastKeptDirs = Nil
    val inOld = spark.sql(
      s"SELECT k FROM gtest.`$tbl` WHERE k = 55").collect()
    assert(inOld.map(_.getLong(0)).toSeq == Seq(55L))
    assert(GraftScanObservable.lastKeptDirs == Seq("g=1"),
      s"k=55 lives in g=1 only: ${GraftScanObservable.lastKeptDirs}")
    // and one that lives in the NEW layout prunes every old entry
    GraftScanObservable.lastKeptDirs = Nil
    val inNew = spark.sql(
      s"SELECT k, lang FROM gtest.`$tbl` WHERE k = 110").collect()
    assert(inNew.map(r => (r.getLong(0), r.getString(1))).toSeq ==
             Seq((110L, "L2")))
    assert(GraftScanObservable.lastKeptDirs.forall(_.startsWith("lang=")) &&
             GraftScanObservable.lastKeptDirs.size < man.size,
      s"k=110 lives under the new layout only: " +
        s"${GraftScanObservable.lastKeptDirs}")
    // partition-key equality on the NEW layout's column prunes by NAME
    // while old-layout entries pass to their own tiers (zone maps)
    GraftScanObservable.lastKeptDirs = Nil
    val byLang = spark.sql(
      s"SELECT count(*) AS n FROM gtest.`$tbl` WHERE lang = 'L1'")
      .collect().head.getLong(0)
    assert(byLang == (1 to 120).count(_ % 3 == 1))
    val keptNew = GraftScanObservable.lastKeptDirs
      .filter(_.startsWith("lang="))
    assert(keptNew == Seq("lang=L1"),
      s"name-tier pruning must bite within the new layout: $keptNew")
  }
}

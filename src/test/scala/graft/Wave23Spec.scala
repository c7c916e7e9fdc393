package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-11 wave: predicate DML — SQL DELETE WHERE and UPDATE WHERE on
  * the versioned store. Touched partitions are found with one live
  * filtered pass; three-valued logic is SQL's (NULL predicates leave
  * rows alone); UPDATE may not SET the key or partition column. */
class Wave23Spec extends SparkTestBase {

  private def rows(dir: String): Map[Long, Double] =
    MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("DELETE WHERE: only hit partitions restage, NULL-predicate rows " +
       "survive, and a fully-emptied partition leaves the manifest") {
    import spark.implicits._
    val dir = freshDir("graft_delwhere")
    // y=E holds big values, y=O small, one NULL value in each
    val data = Seq(
      (1L, Some(100.0), "E"), (2L, Some(900.0), "E"),
      (3L, None, "E"),
      (4L, Some(10.0), "O"), (5L, Some(20.0), "O"),
      (6L, None, "O"))
      .toDF("k", "v", "p")
      .select(col("k"), col("v").cast("double").as("v"), col("p"))
    MergeOps.mergeUpsert(spark, dir, data, "k", "p")                // v1
    val manBefore = Versioned.manifest(spark, dir, 1L).toMap[String, String]
    MergeOps.mergeDeleteWhere(spark, dir, col("v") > 50.0, "p",
      sortCol = Some("k"))                                          // v2
    val got = MergeOps.readCorpus(spark, dir, "p").collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(3L, 4L, 5L, 6L),
      s"NULL-predicate rows must survive a DELETE WHERE: $got")
    // partition O had no hit → its manifest entry carries verbatim
    assert(Versioned.manifest(spark, dir, 2L).toMap[String, String].apply("p=O") ==
      manBefore("p=O"), "an unhit partition must not restage")
    // delete everything left in O (no NULLs matched: use isNull too)
    MergeOps.mergeDeleteWhere(spark, dir,
      col("p") === "O" && (col("v") <= 50.0 || col("v").isNull), "p") // v3
    assert(Versioned.manifest(spark, dir, 3L).map(_._1) == Seq("p=E"),
      "a fully-emptied partition must leave the manifest")
    // emptying the table fails fast
    val e = intercept[IllegalArgumentException] {
      MergeOps.mergeDeleteWhere(spark, dir, lit(true), "p")
    }
    assert(e.getMessage.contains("empty table"))
  }

  test("UPDATE WHERE: exactly the matching rows change by exactly the " +
       "SET, NULL predicates leave rows alone, key/partition SETs are " +
       "refused, and stats follow the changelog rule") {
    import spark.implicits._
    val dir = freshDir("graft_updwhere")
    val data = Seq((1L, Some(10.0), "E"), (2L, Some(20.0), "E"),
                   (3L, None, "O"), (4L, Some(40.0), "O"))
      .toDF("k", "v", "p")
      .select(col("k"), col("v").cast("double").as("v"), col("p"))
    MergeOps.mergeUpsert(spark, dir, data, "k", "p",
      statsKeys = Seq("k"))                                         // v1
    MergeOps.mergeUpdateWhere(spark, dir, col("v") >= 20.0,
      Seq("v" -> (col("v") * 2)), "k", "p")                         // v2
    val got = MergeOps.readCorpus(spark, dir, "p")
      .where(col("v").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 10.0, 2L -> 40.0, 4L -> 80.0),
      s"got $got")
    // NULL v row untouched (still present, still null)
    val nulls = MergeOps.readCorpus(spark, dir, "p")
      .where(col("v").isNull).collect().map(_.getLong(0)).toSet
    assert(nulls == Set(3L), "a NULL-predicate row must be untouched")
    // stats: both partitions restaged (each had a hit) → lines dropped
    // without a fresh request (updates can widen bounds)
    assert(Versioned.readStatsMulti(spark, dir, 2L).isEmpty)
    // identity/location SETs are refused loudly
    val e1 = intercept[IllegalArgumentException] {
      MergeOps.mergeUpdateWhere(spark, dir, lit(true),
        Seq("k" -> (col("k") + 100)), "k", "p")
    }
    assert(e1.getMessage.contains("identity"))
    val e2 = intercept[IllegalArgumentException] {
      MergeOps.mergeUpdateWhere(spark, dir, lit(true),
        Seq("p" -> lit("X")), "k", "p")
    }
    assert(e2.getMessage.contains("identity"))
    // a no-match update publishes nothing
    MergeOps.mergeUpdateWhere(spark, dir, col("v") > 1e9,
      Seq("v" -> (col("v") * 2)), "k", "p")
    assert(Versioned.currentVersion(spark, dir).contains(2L))
  }

  test("CHECK constraints gate the changelog's landing rows only: " +
       "delete rows are exempt, a dirty upsert rejects the whole batch " +
       "before anything stages") {
    import spark.implicits._
    val dir = freshDir("graft_cdcconstr")
    val data = (1 to 6).map(i =>
      (i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
      .toDF("k", "v", "p")
    val checks = Seq("v_positive" -> (col("v") > 0))
    MergeOps.mergeUpsert(spark, dir, data, "k", "p",
      constraints = checks)                                         // v1
    // delete rows carry junk values — exempt from the gate
    MergeOps.mergeApplyChangelog(spark, dir,
      Seq((2L, -99.0, "E", "d"), (7L, 70.0, "O", "i"))
        .toDF("k", "v", "p", "op"), "k", "p",
      constraints = checks)                                         // v2
    val got = MergeOps.readCorpus(spark, dir, "p").collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 4L, 5L, 6L, 7L), s"got $got")
    // a dirty UPSERT row rejects the whole batch, version unmoved
    val e = intercept[IllegalArgumentException] {
      MergeOps.mergeApplyChangelog(spark, dir,
        Seq((8L, -1.0, "E", "i"), (9L, 90.0, "O", "i"))
          .toDF("k", "v", "p", "op"), "k", "p",
        constraints = checks)
    }
    assert(e.getMessage.contains("v_positive") &&
      e.getMessage.contains("1 rows"))
    assert(Versioned.currentVersion(spark, dir).contains(2L) &&
      !MergeOps.readCorpus(spark, dir, "p").collect()
        .map(_.getLong(0)).toSet.contains(9L),
      "a rejected changelog must land NOTHING, not even its clean rows")
  }

  test("predicate DML composes with MOR tombstones and crosses the " +
       "change feed correctly") {
    import spark.implicits._
    val dir = freshDir("graft_dmlmor")
    val data = (1 to 10).map(i =>
      (i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
      .toDF("k", "v", "p")
    MergeOps.mergeUpsert(spark, dir, data, "k", "p")                // v1
    MergeOps.mergeDeleteMor(spark, dir, Seq(2L).toDF("k"), "k", "p") // v2
    // tombstoned key 2 is absent, so v>15 hits 4,6,8,10 in E and
    // 3(30),5,7,9 in O; the restage materializes E and O's tombstones
    MergeOps.mergeDeleteWhere(spark, dir, col("v") > 35.0, "p")     // v3
    assert(rows(dir).keySet == Set(1L, 3L),
      s"got ${rows(dir)}")
    assert(Versioned.morRefs(spark, dir, 3L, Versioned.Dv).isEmpty,
      "the predicate delete's restage must materialize the tombstones")
    // the feed across the DML: deletes for every removed live key, and
    // NO row for the already-tombstoned key 2
    val feed = MergeOps.changeFeed(spark, dir, 2L, 3L, "k")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(feed == Map(4L -> "delete", 5L -> "delete", 6L -> "delete",
      7L -> "delete", 8L -> "delete", 9L -> "delete", 10L -> "delete"),
      s"feed: $feed")
    // UPDATE across the feed: post-image updates
    MergeOps.mergeUpdateWhere(spark, dir, col("k") === 1L,
      Seq("v" -> (col("v") + 1)), "k", "p")                         // v4
    val f2 = MergeOps.changeFeed(spark, dir, 3L, 4L, "k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(3)))
    assert(f2.toSeq == Seq((1L, 11.0, "update")), s"feed: ${f2.toSeq}")
  }
}

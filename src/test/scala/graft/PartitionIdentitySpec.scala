package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Versioned
import graft.ops.MergeOps

/** Partition identity: every verb finds the manifest entries it touches
  * by the dir a row's file sits in, or by a partition value any read
  * surfaces for a dir name — never by re-spelling a value. Two stores
  * make spelling and value disagree: `p=007`, which every read surfaces
  * as the int 7, and a `g=a b` entry, whose file paths Spark URL-encodes
  * (`g=a%20b`). Every case compares the store after the write with the
  * store before it, filtered by the write's own predicate. */
class PartitionIdentitySpec extends SparkTestBase {
  import spark.implicits._

  /** 10 rows (k, v = 10k, p = "007") in the one entry `p=007`. */
  private def store007(name: String): String = {
    val dir = freshDir(name)
    MergeOps.mergeUpsert(spark, dir,
      (1L to 10L).map(k => (k, k * 10L, "007")).toDF("k", "v", "p"),
      "k", "p")
    assert(Versioned.manifest(spark, dir, 1L).map(_._1) == Seq("p=007"))
    dir
  }

  /** An evolved store: keys 1-5 in the foreign entry `g=a b` (their
    * files carry k, v and p), keys 6-10 in the current layout's `p=x`.
    * Zone maps on `k` keep the second upsert from migrating `g=a b`. */
  private def evolved(name: String): String = {
    val dir = freshDir(name)
    def rows(ks: Seq[Long]) =
      ks.map(k => (k, k * 10L, "x", "a b")).toDF("k", "v", "p", "g")
    MergeOps.mergeUpsert(spark, dir, rows(1L to 5L), "k", "g",
      statsKeys = Seq("k"))
    MergeOps.mergeUpsert(spark, dir, rows(6L to 10L), "k", "p",
      statsKeys = Seq("k"))
    val man = Versioned.manifest(spark, dir, 2L).map(_._1).toSet
    assert(man == Set("g=a b", "p=x"), s"fixture manifest $man")
    dir
  }

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.select(col("k"), col("v")).as[(Long, Long)].collect().toSet

  private def live(dir: String): DataFrame =
    MergeOps.readCorpus(spark, dir, "p")

  /** `write` leaves exactly the rows `expected` selects from the store
    * as it read before the write. */
  private def check(dir: String)(expected: DataFrame => DataFrame)
                   (write: => Unit): Unit = {
    val want = rows(expected(live(dir)))
    write
    assert(rows(live(dir)) == want)
  }

  private def deleted(k: Long): DataFrame => DataFrame =
    _.where(col("k") =!= k)

  private def updated(k: Long): DataFrame => DataFrame =
    _.withColumn("v", when(col("k") === k, lit(-1L)).otherwise(col("v")))

  private val minusOne: Seq[(String, Column)] = Seq("v" -> lit(-1L))

  test("p=007: a copy-on-write delete restages the entry holding the key") {
    val dir = store007("graft_pi_delete")
    check(dir)(deleted(1L)) {
      MergeOps.mergeDelete(spark, dir, Seq(1L).toDF("k"), "k", "p")
    }
  }

  test("p=007: a delete-where restages the entry holding the row") {
    val dir = store007("graft_pi_delete_where")
    check(dir)(deleted(2L)) {
      MergeOps.mergeDeleteWhere(spark, dir, col("k") === 2L, "p")
    }
  }

  test("p=007: an update-where restages the entry holding the row") {
    val dir = store007("graft_pi_update_where")
    check(dir)(updated(3L)) {
      MergeOps.mergeUpdateWhere(spark, dir, col("k") === 3L, minusOne,
        "k", "p")
    }
    // the restaged entry reads back as before: one partition, value 7
    assert(live(dir).select("p").distinct().as[Int].collect().toSeq ==
      Seq(7))
  }

  test("p=007: a changelog delete restages the entry holding the key") {
    val dir = store007("graft_pi_changelog")
    check(dir)(deleted(4L)) {
      MergeOps.mergeApplyChangelog(spark, dir,
        Seq((4L, 0L, "7", "d")).toDF("k", "v", "p", "op"), "k", "p")
    }
  }

  test("p=007: a merge-on-read delete keys its line by the holder") {
    val dir = store007("graft_pi_delete_mor")
    check(dir)(deleted(5L)) {
      MergeOps.mergeDeleteMor(spark, dir, Seq(5L).toDF("k"), "k", "p")
    }
    assert(Versioned.sidecarLines(spark, dir, 2L, Versioned.Dv)
      .map(Versioned.statsLinePart) == Seq("p=007"))
  }

  test("p=007: a merge-on-read update stages its image under the holder") {
    val dir = store007("graft_pi_update_mor")
    check(dir)(updated(6L)) {
      MergeOps.mergeUpdateMor(spark, dir, col("k") === 6L, minusOne,
        "k", "p")
    }
    assert(Versioned.sidecarLines(spark, dir, 2L, Versioned.Uv)
      .map(Versioned.statsLinePart) == Seq("p=007"))
  }

  test("p=007: upserting a row read back from the store replaces it") {
    val dir = store007("graft_pi_upsert")
    check(dir)(updated(7L)) {
      MergeOps.mergeUpsert(spark, dir,
        live(dir).where(col("k") === 7L).withColumn("v", lit(-1L)),
        "k", "p")
    }
    assert(live(dir).count() == 10L)
  }

  test("p=007: a pruned read by the value every row reads back as " +
       "finds every row") {
    val dir = store007("graft_pi_pruned")
    val pruned = MergeOps.readCorpusSkipPruned(spark, dir, "p",
      values = Seq("p" -> Seq("7")))
    assert(rows(pruned) == rows(live(dir).where(col("p") === 7)))
    assert(pruned.count() == 10L)
  }

  test("evolved store, foreign g=a b: a delete reaches the rows it holds") {
    val dir = evolved("graft_pi_evolved_delete")
    check(dir)(deleted(1L)) {
      MergeOps.mergeDelete(spark, dir, Seq(1L).toDF("k"), "k", "p")
    }
  }

  test("evolved store, foreign g=a b: a merge-on-read update reaches " +
       "the rows it holds") {
    val dir = evolved("graft_pi_evolved_update_mor")
    check(dir)(updated(2L)) {
      MergeOps.mergeUpdateMor(spark, dir, col("k") === 2L, minusOne,
        "k", "p")
    }
  }

  test("same-layout g=a b: a merge-on-read delete records its file " +
       "scope and the read applies it") {
    val dir = freshDir("graft_pi_scope")
    MergeOps.mergeUpsert(spark, dir,
      (1L to 10L).map(k => (k, k * 10L, "a b")).toDF("k", "v", "g")
        .repartition(1), "k", "g")
    def liveG = MergeOps.readCorpus(spark, dir, "g")
    val want = rows(liveG.where(col("k") =!= 3L))
    MergeOps.mergeDeleteMor(spark, dir, Seq(3L).toDF("k"), "k", "g")
    val ref = Versioned.morRefs(spark, dir, 2L, Versioned.Dv)("g=a b")
    assert(ref.size == 1 && ref.head.scope.exists(_.size == 1),
      s"dv ref without a file scope: $ref")
    assert(ref.head.pos.values.flatten.toSeq == Seq(2L))
    assert(rows(liveG) == want)
  }
}

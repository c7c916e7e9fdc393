package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-15 wave 4: POSITION-LEVEL deletion vectors — dv lines carry
  * each hit file's doomed `row_index` positions, the read side applies
  * a codegen'd positional filter (no join, no shuffle, no tombstone
  * read) to those files, and every coarser tier (file scope, whole
  * partition) remains the graceful fallback. */
class Wave43Spec extends SparkTestBase {

  private def seed(dir: String, n: Int, files: Int): Unit = {
    import spark.implicits._
    val df = (1 to n).map(i =>
        (i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
      .toDF("k", "v", "p")
      .repartition(files, col("k"))
    MergeOps.mergeUpsert(spark, dir, df, "k", "p")
  }

  private def liveKeys(dir: String): Set[Long] =
    MergeOps.readCorpus(spark, dir, "p").select("k").collect()
      .map(_.getLong(0)).toSet

  private def livePlan(dir: String): String =
    MergeOps.readCorpus(spark, dir, "p")
      .queryExecution.executedPlan.toString

  private def dvSidecar(dir: String, v: Long): org.apache.hadoop.fs.Path =
    Versioned.committedSidecar(spark, dir, v, "dv").getOrElse(
      fail(s"no committed dv sidecar at version $v under $dir"))

  private def rewriteDv(dir: String, v: Long,
                        edit: Seq[String] => Seq[String]): Unit = {
    val p = dvSidecar(dir, v)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    fs.delete(p, false)
    val out = fs.create(p, false)
    try out.write(edit(lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  test("a MOR delete records row POSITIONS per hit file and the live " +
       "read applies them as a positional FILTER — correct content " +
       "and not one join in the executed plan") {
    val dir = freshDir("graft_pdv")
    seed(dir, 24, 3)                                                 // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(4L, 9L, 16L).toDF("k"), "k", "p")                          // v2
    // every dv line carries the positional field, and every scoped
    // file is position-mapped (tiny delete, far under the cap)
    val refs = Versioned.morRefs(spark, dir, 2L, Versioned.Dv)
    assert(refs.nonEmpty)
    refs.values.flatten.foreach { case Versioned.MorRef(_, _, _, scope, pos) =>
      assert(scope.isDefined && pos.keySet == scope.get,
        s"every scoped file must be position-mapped: $scope vs " +
          s"${pos.keySet}")
      assert(pos.values.forall(ps => ps.nonEmpty && ps == ps.sorted),
        s"positions are non-empty sorted row indexes: $pos")
    }
    assert(liveKeys(dir) ===
             (1 to 24).map(_.toLong).toSet -- Set(4L, 9L, 16L))
    val plan = livePlan(dir)
    assert(!plan.contains("Join"),
      s"the positional tier must need NO join:\n$plan")
  }

  test("stacked MOR deletes UNION their positions per file, still " +
       "join-free; a scope-only generation demotes its files to the " +
       "anti-join while position-mapped files stay filtered") {
    val dir = freshDir("graft_pdv_stack")
    seed(dir, 24, 3)                                                 // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(4L).toDF("k"), "k", "p") // v2
    MergeOps.mergeDeleteMor(spark, dir, Seq(6L).toDF("k"), "k", "p") // v3
    assert(liveKeys(dir) === (1 to 24).map(_.toLong).toSet -- Set(4L, 6L))
    assert(!livePlan(dir).contains("Join"),
      "stacked positional generations must stay join-free")
    // strip v3's positional field (a round-14 writer's line shape):
    // its files demote to the anti-join, content must not change
    rewriteDv(dir, 3L, lines => lines.map { l =>
      val fs = l.split('\t'); fs.take(3).mkString("\t")
    })
    assert(liveKeys(dir) === (1 to 24).map(_.toLong).toSet -- Set(4L, 6L),
      "a demoted file's anti-join must deliver the same content")
    assert(livePlan(dir).contains("Join"),
      "a scope-only generation takes the per-file anti-join")
  }

  test("an over-cap position list never ships: the writer caps per " +
       "FILE and over-cap files keep the file-scope anti-join (forced " +
       "here by rewriting positions away), while the whole-partition " +
       "legacy line still composes") {
    val dir = freshDir("graft_pdv_cap")
    seed(dir, 30, 2)                                                 // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir,
      (2 to 7).map(_.toLong).toDF("k"), "k", "p")  // both partitions, v2
    // mixed tiers in ONE sidecar: keep positions on one line, strip
    // the positional field on another — content must be identical
    // through the tiers (the whole-partition legacy form is pinned in
    // Wave39; the zip covers it when a third line exists)
    val sidecarLines = {
      val p = dvSidecar(dir, 2L)
      val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fsys.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().length
      finally in.close()
    }
    assert(sidecarLines >= 2, "the delete must touch both partitions")
    rewriteDv(dir, 2L, lines => lines.zipWithIndex.map { case (l, i) =>
      val fs = l.split('\t')
      if (i % 3 == 1) fs.take(3).mkString("\t")       // file scope only
      else if (i % 3 == 2) fs.take(2).mkString("\t")  // whole partition
      else l                                          // positional
    })
    assert(liveKeys(dir) ===
             (1 to 30).map(_.toLong).toSet -- (2 to 7).map(_.toLong),
      "every granularity tier must agree on the content")
  }

  test("MOR updates take the positional tier too: the substitution " +
       "drops imaged base rows by row position — no join — and a " +
       "stacked update keeps the highest generation's image") {
    val dir = freshDir("graft_pdv_uv")
    seed(dir, 24, 3)                                                 // v1
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 4L,
      Seq("v" -> lit(-1.0)), "k", "p")                               // v2
    val refs = Versioned.morRefs(spark, dir, 2L, Versioned.Uv)
    refs.values.flatten.foreach { case Versioned.MorRef(_, _, _, scope, pos) =>
      assert(scope.isDefined && pos.keySet == scope.get,
        s"every scoped uv file must be position-mapped: $scope vs " +
          s"${pos.keySet}")
    }
    val vals = MergeOps.readCorpus(spark, dir, "p")
      .select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals(4L) == -1.0 && vals(5L) == 50.0,
      s"the image must substitute exactly its key: $vals")
    assert(vals.size == 24, "substitution must not duplicate or drop")
    assert(!livePlan(dir).contains("Join"),
      "a fully position-mapped substitution needs no join")
    // stacked generation: the higher version's image wins, still
    // join-free (both generations position-mapped)
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 4L,
      Seq("v" -> lit(-2.0)), "k", "p")                               // v3
    val vals2 = MergeOps.readCorpus(spark, dir, "p")
      .select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals2(4L) == -2.0 && vals2.size == 24)
    assert(!livePlan(dir).contains("Join"),
      "stacked position-mapped updates stay join-free")
  }
}

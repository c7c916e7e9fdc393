package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-16 wave 1: the positional tier's DENSITY GUARD and parse
  * robustness. A dense delete (every file hit, many rows per file)
  * skips no file on read, so recording positions buys nothing and
  * taxes every read plan with large literal collections — the
  * round-15 merge_zorder_compact regression. The writer now records
  * positions only for SPARSE hits; dense files publish scope-only
  * lines (the round-14 anti-join tier). Corrupt or foreign-written
  * position fields demote to the scope tier instead of killing the
  * read. */
class Wave44Spec extends SparkTestBase {

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

  private def dvSidecar(dir: String, v: Long): org.apache.hadoop.fs.Path =
    Versioned.committedSidecar(spark, dir, v, "dv").getOrElse(
      fail(s"no committed dv sidecar at version $v under $dir"))

  private def readDvRaw(dir: String, v: Long): List[String] = {
    val p = dvSidecar(dir, v)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def rewriteDv(dir: String, v: Long,
                        edit: Seq[String] => Seq[String]): Unit = {
    val p = dvSidecar(dir, v)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = readDvRaw(dir, v)
    fs.delete(p, false)
    val out = fs.create(p, false)
    try out.write(edit(lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  test("a DENSE spread delete publishes SCOPE-ONLY dv lines — no " +
       "positional field — and the read stays correct through the " +
       "anti-join tier (the round-15 merge_zorder_compact regression: " +
       "positions for a delete that skips no file tax every read " +
       "for zero benefit)") {
    val dir = freshDir("graft_dv_dense")
    seed(dir, 4000, 2)                                               // v1
    import spark.implicits._
    // ~10% of keys, hash-spread: every file holds far more doomed rows
    // than max(DvPosFloor, DvPosDensity × file rows) ≈ max(64, 100)
    val doomed = (1 to 4000).filter(_ % 10 == 0).map(_.toLong)
    MergeOps.mergeDeleteMor(spark, dir, doomed.toDF("k"), "k", "p")  // v2
    val lines = readDvRaw(dir, 2L)
    assert(lines.nonEmpty)
    lines.foreach { l =>
      val fs = l.split('\t')
      assert(fs.length == 3,
        s"a dense delete must publish scope-only lines (3 fields), " +
          s"got ${fs.length}: $l")
    }
    assert(liveKeys(dir) ===
      (1 to 4000).map(_.toLong).toSet -- doomed.toSet)
  }

  test("a SPARSE delete on the same table still records positions — " +
       "the guard is per-file density, not a blanket off-switch") {
    val dir = freshDir("graft_dv_sparse")
    seed(dir, 4000, 2)                                               // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(17L, 1017L, 3017L).toDF("k"), "k", "p")                    // v2
    val refs = Versioned.morRefs(spark, dir, 2L, Versioned.Dv)
    assert(refs.nonEmpty)
    refs.values.flatten.foreach { case Versioned.MorRef(_, _, _, scope, pos) =>
      assert(scope.isDefined && pos.keySet == scope.get,
        s"a sparse delete position-maps every scoped file: $scope vs " +
          s"${pos.keySet}")
    }
    // recorded names are verDir-QUALIFIED: a same-named file in another
    // version dir can never take these positions
    refs.values.flatten.foreach { case Versioned.MorRef(_, _, _, scope, _) =>
      assert(scope.get.forall(_.contains("/")),
        s"scope names must be verDir-qualified, got ${scope.get}")
    }
    assert(liveKeys(dir) ===
      (1 to 4000).map(_.toLong).toSet -- Set(17L, 1017L, 3017L))
  }

  test("a MALFORMED positional field (foreign writer, corruption) " +
       "demotes to the scope anti-join instead of killing the read, " +
       "and an OUT-OF-SCOPE position entry is dropped rather than " +
       "routing a file into two read splits") {
    val dir = freshDir("graft_dv_malformed")
    seed(dir, 24, 3)                                                 // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(4L, 9L, 16L).toDF("k"), "k", "p")                          // v2
    val expected = (1 to 24).map(_.toLong).toSet -- Set(4L, 9L, 16L)
    assert(liveKeys(dir) === expected)
    // corrupt every positional entry three ways: no colon, non-numeric
    // positions, empty positions — each must demote, never throw
    for (garbage <- Seq("nocolonhere", "f:notanumber", "f:")) {
      rewriteDv(dir, 2L, lines => lines.map { l =>
        val fs = l.split('\t')
        if (fs.length >= 4) (fs.take(3) :+ garbage).mkString("\t") else l
      })
      assert(liveKeys(dir) === expected,
        s"a '$garbage' positional field must fall back to the scope " +
          "anti-join with identical content")
    }
    // out-of-scope entry: positions for a file the scope does not name
    // must be DROPPED (keeping them would put the file in both the
    // clean and the positional splits — duplicate rows)
    rewriteDv(dir, 2L, lines => lines.map { l =>
      val fs = l.split('\t')
      if (fs.length >= 3)
        (fs.take(3) :+ "not-in-scope.parquet:0.1.2").mkString("\t")
      else l
    })
    assert(liveKeys(dir) === expected,
      "an out-of-scope positional entry must be dropped at parse time")
  }

  test("positions serialize COMPACT (delta-varint base64, the round-16 " +
       "format generation) and the legacy dot-decimal form still " +
       "reads: same parsed positions, same content through both " +
       "encodings") {
    val dir = freshDir("graft_dv_enc")
    seed(dir, 24, 3)                                                 // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(4L, 9L, 16L).toDF("k"), "k", "p")                          // v2
    val expected = (1 to 24).map(_.toLong).toSet -- Set(4L, 9L, 16L)
    assert(liveKeys(dir) === expected)
    readDvRaw(dir, 2L).foreach { l =>
      val fs = l.split('\t')
      assert(fs.length == 4 && fs(3).split(',').forall(e =>
        e.substring(e.lastIndexOf(':') + 1).startsWith("~")),
        s"round-16 writers serialize positions compact: $l")
    }
    val compact = Versioned.morRefs(spark, dir, 2L, Versioned.Dv)
    // rewrite every position field to the LEGACY dot-decimal form
    rewriteDv(dir, 2L, lines => lines.map { l =>
      val fs = l.split('\t')
      val legacy = fs(3).split(',').map { e =>
        val i = e.lastIndexOf(':')
        val ps = Versioned.decodePositions(e.substring(i + 1))
        s"${e.substring(0, i)}:${ps.mkString(".")}"
      }.mkString(",")
      (fs.take(3) :+ legacy).mkString("\t")
    })
    assert(Versioned.morRefs(spark, dir, 2L, Versioned.Dv) === compact,
      "both encodings must parse to identical positions")
    assert(liveKeys(dir) === expected,
      "content must be identical through both encodings")
    // varint round-trip at the unit level, including multi-byte gaps
    val ps = Seq(0L, 1L, 127L, 128L, 300L, 5000L, 123456789L)
    assert(Versioned.decodePositions(Versioned.encodePositions(ps)) ===
      ps)
  }

  test("a dense MOR UPDATE publishes scope-only uv lines too, and the " +
       "substitution stays correct through the anti-join tier") {
    val dir = freshDir("graft_uv_dense")
    seed(dir, 4000, 2)                                               // v1
    MergeOps.mergeUpdateMor(spark, dir, col("k") % 10 === 0,
      Seq("v" -> lit(-1.0)), "k", "p")                               // v2
    val uvLines = {
      val p = Versioned.committedSidecar(spark, dir, 2L, "uv").getOrElse(
        fail("no committed uv sidecar at v2"))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    uvLines.foreach { l =>
      val fs = l.split('\t')
      assert(fs.length == 4,
        s"a dense update must publish scope-only uv lines (4 fields), " +
          s"got ${fs.length}: $l")
    }
    val vals = MergeOps.readCorpus(spark, dir, "p")
      .select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals.size == 4000, "substitution must not duplicate or drop")
    assert(vals(10L) == -1.0 && vals(11L) == 110.0,
      s"images substitute exactly the predicate's keys")
  }
}

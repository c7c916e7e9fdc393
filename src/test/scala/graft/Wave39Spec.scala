package graft

import org.apache.spark.sql.functions._
import graft.engine.Versioned
import graft.ops.MergeOps

/** Round-14 wave: FILE-GRANULARITY deletion vectors — `dv` sidecar
  * lines carry the data files that held a doomed key, the read side
  * anti-joins only those files' rows, and lines key by the HOLDER
  * manifest entry (so metadata-tier partition evolution cannot orphan
  * a tombstone). */
class Wave39Spec extends SparkTestBase {

  /** Multi-file-per-partition corpus: keys 1..n split E/O, repartitioned
    * so each partition dir lands several data files. */
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

  test("a MOR delete writes FILE-SCOPED dv lines: the scope is exactly " +
       "the base files holding a doomed key, and the live read equals " +
       "the delete semantics") {
    val dir = freshDir("graft_fdv")
    seed(dir, 12, 3)                                                 // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir,
      Seq(4L, 8L).toDF("k"), "k", "p")                               // v2
    assert(liveKeys(dir) === (1 to 12).map(_.toLong).toSet -- Set(4L, 8L))
    // the committed lines carry a third field naming EXACTLY the base
    // files that contain key 4 or 8, each verDir-QUALIFIED (round 16 —
    // computed independently here from the file metadata column)
    val man = Versioned.manifest(spark, dir, 1L).toMap
    val expected = spark.read
      .option("basePath", s"$dir/${man.head._2.split("/").take(2).mkString("/")}")
      .parquet(man.values.map(r => s"$dir/$r").toSeq: _*)
      .select(col("k"), col("_metadata.file_path").as("f"))
      .where(col("k").isin(4L, 8L))
      .select("f").distinct().collect()
      .map { r =>
        val f = r.getString(0)
        f.substring(f.indexOf(dir) + dir.length + 1)
      }
      .toSet
    val scoped = Versioned.morRefs(spark, dir, 2L, Versioned.Dv)
    assert(scoped.nonEmpty, "the delete must commit dv refs")
    val allScoped = scoped.values.flatten.flatMap(_.scope).flatten.toSet
    assert(allScoped === expected,
      s"dv file scopes $allScoped must equal the verDir-qualified " +
        s"relative paths of the files holding the doomed keys $expected")
    assert(allScoped.forall(_.contains("/")),
      "round-16 scopes are verDir-qualified — a bare leaf name could " +
        "collide across version dirs")
    scoped.values.flatten.foreach { case Versioned.MorRef(_, _, _, scope, _) =>
      assert(scope.isDefined, "every round-14 dv line must carry a scope")
    }
    // lines key by the holder manifest entry name
    val lineKeys = scoped.keySet
    assert(lineKeys.forall(man.contains),
      s"dv lines must key by manifest entry names; got $lineKeys")
  }

  test("an untouched file in a touched partition SKIPS the anti-join: " +
       "a handcrafted scope that omits the doomed key's real file " +
       "leaves that file's rows untouched — proof the split is real, " +
       "not cosmetic") {
    val dir = freshDir("graft_fdv_skip")
    seed(dir, 12, 3)                                                 // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(6L).toDF("k"), "k", "p") // v2
    assert(!liveKeys(dir).contains(6L))
    // rewrite the committed scope to name a DIFFERENT (clean) file of
    // the same partition: key 6's real file is now "clean", so the
    // anti-join must not touch it and the tombstoned key re-surfaces
    val man = Versioned.manifest(spark, dir, 1L).toMap
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    rewriteDv(dir, 2L, lines => lines.map { l =>
      val Versioned.MorRef(part, rel, _, scope, _) =
        Versioned.morRef(Versioned.Dv, l)
      // scope names are verDir-qualified (round 16) — compare by leaf
      val scopeLeaves = scope.get.map(s =>
        s.substring(s.lastIndexOf('/') + 1))
      val others = fsys.listStatus(
          new org.apache.hadoop.fs.Path(s"$dir/${man(part)}")).toSeq
        .map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith(".") &&
                     !scopeLeaves.contains(n))
      assert(others.nonEmpty,
        "the partition must have at least one clean file to swap in")
      s"$part\t$rel\t${others.head}"
    })
    assert(liveKeys(dir).contains(6L),
      "a file outside every dv scope must stream verbatim — its rows " +
        "never see the anti-join")
  }

  test("a LEGACY 2-field dv line still anti-joins the whole partition " +
       "(backward compatibility with pre-round-14 sidecars)") {
    val dir = freshDir("graft_fdv_legacy")
    seed(dir, 12, 3)                                                 // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(6L).toDF("k"), "k", "p") // v2
    // strip the scope field: the old format, unknown files
    rewriteDv(dir, 2L, lines => lines.map { l =>
      val Versioned.MorRef(part, rel, _, _, _) =
        Versioned.morRef(Versioned.Dv, l)
      s"$part\t$rel"
    })
    assert(!liveKeys(dir).contains(6L),
      "an unscoped line must fall back to the whole-partition anti-join")
    assert(liveKeys(dir).size === 11)
  }

  test("a partition carrying UPDATE VECTORS falls back to the whole-" +
       "frame anti-join (substituted rows have no base-file identity), " +
       "and the delete still lands") {
    val dir = freshDir("graft_fdv_uv")
    seed(dir, 12, 3)                                                 // v1
    import spark.implicits._
    // MOR-update key 6, then MOR-delete it: the read substitutes the
    // image first, so only the unscoped path can kill the live row
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 6L,
      Seq("v" -> lit(666.0)), "k", "p")                              // v2
    MergeOps.mergeDeleteMor(spark, dir, Seq(6L).toDF("k"), "k", "p") // v3
    assert(!liveKeys(dir).contains(6L),
      "a tombstone must shadow a uv image of the same key")
    assert(liveKeys(dir).size === 11)
    // and the untouched keys are intact with the update applied rule:
    // key 6 gone, everything else at its seeded value
    val vals = MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals === (1 to 12).filter(_ != 6)
      .map(i => i.toLong -> i * 10.0).toMap)
  }

  test("metadata-tier partition evolution: a MOR delete of a key living " +
       "under the OLD layout attaches its ref to the holder entry and " +
       "applies — the partDirName keying could never match a foreign-" +
       "layout entry") {
    import spark.implicits._
    val dir = freshDir("graft_fdv_evo")
    val docs = (1 to 100).map(i =>
        (i.toLong, i * 1.0, s"g${i % 3}", s"l${i % 2}"))
      .toDF("k", "v", "g", "l")
    MergeOps.mergeUpsert(spark, dir, docs.where(col("k") < 60),
                         "k", "g", statsKeys = Seq("k"))             // v1: g-spec
    MergeOps.mergeUpsert(spark, dir, docs.where(col("k") >= 60),
                         "k", "l", statsKeys = Seq("k"))             // v2: l-spec
    val man2 = Versioned.manifest(spark, dir, 2L)
    assert(man2.exists(_._1.startsWith("g=")) &&
           man2.exists(_._1.startsWith("l=")),
      "the table must hold BOTH layouts before the delete")
    // key 7 lives under the old g-spec layout; delete under the new spec
    MergeOps.mergeDeleteMor(spark, dir, Seq(7L).toDF("k"), "k", "l") // v3
    val live = MergeOps.readCorpus(spark, dir, "l").select("k").collect()
      .map(_.getLong(0)).toSet
    assert(!live.contains(7L),
      "the old-layout key must be tombstoned — its ref keys by the " +
        "holder entry, not the new spec's partition name")
    assert(live.size === 99)
    // and the ref is attached to a g-layout entry name
    val refs = Versioned.morRefs(spark, dir, 3L, Versioned.Dv)
    assert(refs.keySet.exists(_.startsWith("g=")),
      s"the dv line must key by the old-layout holder entry; got " +
        s"${refs.keySet}")
  }

  private def uvSidecar(dir: String, v: Long): org.apache.hadoop.fs.Path =
    Versioned.committedSidecar(spark, dir, v, "uv").getOrElse(
      fail(s"no committed uv sidecar at version $v under $dir"))

  private def rewriteUv(dir: String, v: Long,
                        edit: Seq[String] => Seq[String]): Unit = {
    val p = uvSidecar(dir, v)
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

  test("a MOR update writes FILE-SCOPED uv lines: the scope is exactly " +
       "the base files holding an imaged key, the substitution applies, " +
       "and a handcrafted scope that omits the key's real file leaves " +
       "the stale base row beside the image — proof the uv split is " +
       "real too") {
    val dir = freshDir("graft_fuv")
    seed(dir, 12, 3)                                                 // v1
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 6L,
      Seq("v" -> lit(666.0)), "k", "p")                              // v2
    val vals = MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals(6L) === 666.0 && vals.size === 12)
    // the committed line carries a fourth field naming exactly the
    // base files that contain key 6, verDir-qualified (round 16)
    val man = Versioned.manifest(spark, dir, 1L).toMap
    val expected = spark.read
      .option("basePath",
        s"$dir/${man.head._2.split("/").take(2).mkString("/")}")
      .parquet(man.values.map(r => s"$dir/$r").toSeq: _*)
      .select(col("k"), col("_metadata.file_path").as("f"))
      .where(col("k") === 6L)
      .select("f").distinct().collect()
      .map { r =>
        val f = r.getString(0)
        f.substring(f.indexOf(dir) + dir.length + 1)
      }
      .toSet
    val scoped = Versioned.morRefs(spark, dir, 2L, Versioned.Uv)
    val allScoped = scoped.values.flatten.flatMap(_.scope).flatten.toSet
    assert(allScoped === expected,
      s"uv file scopes $allScoped must equal the verDir-qualified " +
        s"relative paths of the files holding the imaged key $expected")
    // now point the scope at a clean file: key 6's real file streams
    // verbatim, so the STALE row survives beside the image (two rows)
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    rewriteUv(dir, 2L, lines => lines.map { l =>
      val Versioned.MorRef(part, rel, Some(kc), scope, _) =
        Versioned.morRef(Versioned.Uv, l)
      val scopeLeaves = scope.get.map(s =>
        s.substring(s.lastIndexOf('/') + 1))
      val others = fsys.listStatus(
          new org.apache.hadoop.fs.Path(s"$dir/${man(part)}")).toSeq
        .map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith(".") &&
                     !scopeLeaves.contains(n))
      assert(others.nonEmpty)
      s"$part\t$rel\t$kc\t${others.head}"
    })
    val dup = MergeOps.readCorpus(spark, dir, "p")
      .where(col("k") === 6L).collect().map(_.getDouble(1)).sorted
    assert(dup.toSeq === Seq(60.0, 666.0),
      "a file outside every uv scope must stream verbatim — its stale " +
        "row never sees the substitution anti-join")
  }

  test("a LEGACY 3-field uv line still anti-joins the whole partition, " +
       "and a MOR update of an OLD-layout key on an evolved table " +
       "MIGRATES the holder entry in the same commit instead of " +
       "leaving the stale row beside the image") {
    val dir = freshDir("graft_fuv_legacy")
    seed(dir, 12, 3)                                                 // v1
    MergeOps.mergeUpdateMor(spark, dir, col("k") === 6L,
      Seq("v" -> lit(666.0)), "k", "p")                              // v2
    rewriteUv(dir, 2L, lines => lines.map { l =>
      val Versioned.MorRef(part, rel, Some(kc), _, _) =
        Versioned.morRef(Versioned.Uv, l)
      s"$part\t$rel\t$kc"
    })
    val vals = MergeOps.readCorpus(spark, dir, "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals(6L) === 666.0 && vals.size === 12,
      "an unscoped uv line must fall back to the whole-partition " +
        "substitution")
    // evolution guard
    import spark.implicits._
    val evo = freshDir("graft_fuv_evo")
    val docs = (1 to 100).map(i =>
        (i.toLong, i * 1.0, s"g${i % 3}", s"l${i % 2}"))
      .toDF("k", "v", "g", "l")
    MergeOps.mergeUpsert(spark, evo, docs.where(col("k") < 60),
                         "k", "g", statsKeys = Seq("k"))             // v1
    MergeOps.mergeUpsert(spark, evo, docs.where(col("k") >= 60),
                         "k", "l", statsKeys = Seq("k"))             // v2
    MergeOps.mergeUpdateMor(spark, evo, col("k") === 7L,
      Seq("v" -> lit(-1.0)), "k", "l")
    val got = MergeOps.readCorpus(spark, evo, "l").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = (1 to 100).map(i =>
      i.toLong -> (if (i == 7) -1.0 else i * 1.0)).toMap
    assert(got === want,
      "the old-layout key must update exactly once — holder migrated, " +
        "image substituted, no stale twin")
    // the holder's g-entry migrated out of the manifest in the same
    // commit: the update's version holds no foreign-layout ghost of it
    val man3 = Versioned.manifest(spark, evo, 3L)
    assert(man3.map(_._1).distinct.size == man3.size,
      "migration must not leave duplicate entry names")
  }

  test("vacuum keeps a SCOPED dv line's tombstone dir (the ref parse " +
       "reads the dir field, not everything after the first tab)") {
    val dir = freshDir("graft_fdv_vac")
    seed(dir, 12, 3)                                                 // v1
    import spark.implicits._
    MergeOps.mergeDeleteMor(spark, dir, Seq(4L).toDF("k"), "k", "p") // v2
    // retention floor at current: everything unreferenced goes
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(liveKeys(dir) === (1 to 12).map(_.toLong).toSet - 4L,
      "the tombstone dir a scoped line references must survive vacuum")
  }
}

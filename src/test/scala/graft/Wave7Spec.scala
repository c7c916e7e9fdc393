package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Wave-7 tests (round 6): ANN-candidate forms of the pairwise similarity
  * operators, with the exact brute-force operators as their oracles. */
class Wave7Spec extends SparkTestBase {

  test("sim_cosine_topk_ann recovers the exact global top-10") {
    val exact = SimOps.simCosineTopk(spark, sf).collect().toSeq
    val ann = SimOps.simCosineTopkAnn(spark, sf).collect().toSeq
    assert(ann == exact,
      s"ANN top-10 diverged:\nexact=$exact\nann=$ann")
  }

  test("sim_cosine_topk_ann never emits a duplicate pair") {
    val out = SimOps.simCosineTopkAnn(spark, sf)
      .select("id_a", "id_b").collect().toSeq
    assert(out.distinct.size == out.size)
  }

  test("sim_knn_label_ann agrees with the exact kNN vote on >=95% of vectors") {
    val exact = SimOps.simKnnLabel(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ann = SimOps.simKnnLabelAnn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every vector gets a vote (multi-probe candidates are never empty here)
    assert(ann.keySet == exact.keySet)
    val agree = exact.count { case (id, l) => ann(id) == l }
    val frac = agree.toDouble / exact.size
    assert(frac >= 0.95, s"vote agreement $frac < 0.95")
  }

  test("dedup_clusters_ann recovers planted near-dup cliques exactly") {
    // Plant cliques of 3 (source + two perturbed copies at cos >= ~0.97):
    // the ANN edge generator may drop some intra-clique edges, but any
    // spanning subset must yield the same components as the exact CC.
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val off = 1000000L
    val rnd = new scala.util.Random(29)
    val copies = src.flatMap { case (i, v) => Seq(
      (i + off, v.map(x => x + 0.02 * rnd.nextGaussian())),
      (i + 2 * off, v.map(x => x + 0.02 * rnd.nextGaussian())))
    }
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    val v = (src ++ copies).toSeq.toDF("vec_id", "vd")
      .withColumn("nrm", sqrt(expr("graft_dot(vd, vd)")))
      .select("vec_id", "vd", "nrm")
    val out = SimOps.dedupClustersAnnOn(spark, v, tau = 0.9,
        n = 3L * src.length).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Expected: each clique {i, i+off, i+2off} labeled with rep = i.
    src.foreach { case (i, _) =>
      for (m <- Seq(i, i + off, i + 2 * off))
        assert(out.get(m).contains(i),
          s"node $m: expected rep $i, got ${out.get(m)}")
    }
    assert(out.size == 3 * src.length,
      "no nodes beyond the planted cliques may appear")
  }

  test("dedup_clusters_ann edge generation has no all-pairs join") {
    val v = SimOps.normed(spark, sf)
    val edges = SimOps.dedupEmbeddingAnnOn(v, tau = 0.40, tables = 4,
      targetBucket = 64, n = 500L)
    val plan = edges.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"ANN cluster edges must be bucketed, not all-pairs:\n$plan")
  }

  test("dedup_ngram_jaccard equals the brute-force blocked all-pairs") {
    graft.functions.VectorExprs.register(spark)
    val sh = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), col("source"),
        array_sort(expr(
          """transform(array_distinct(
            |    transform(slice(toks, 1, greatest(size(toks) - 2, 0)),
            |      (x, i) -> concat_ws(' ', x, toks[i + 1], toks[i + 2]))),
            |  x -> xxhash64(x))""".stripMargin)).as("sh"))
    val a = sh.select(col("lang"), col("source"), col("doc_id").as("doc_a"),
                      col("sh").as("sha"))
    val b = sh.select(col("lang").as("lang_b"), col("source").as("source_b"),
                      col("doc_id").as("doc_b"), col("sh").as("shb"))
    val brute = a.join(b, col("lang") === col("lang_b") &&
                          col("source") === col("source_b") &&
                          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              round(expr("graft_jaccard(sha, shb)"), 4).as("jaccard_r"))
      .where(col("jaccard_r") >= 0.5)
      .orderBy("doc_a", "doc_b")
    assert(SimOps.dedupNgramJaccard(spark, sf).collect().toSeq ==
           brute.collect().toSeq)
  }

  test("dedup_ngram_jaccard plan has no block cartesian") {
    val df = SimOps.dedupNgramJaccard(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix-filter join must stay equi-join:\n$plan")
  }

  test("knn vote heap is immune to duplicated candidate rows") {
    // feed the exact pair stream twice: duplicates must not change votes
    graft.functions.KnnVote.register(spark)
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.functions.VectorExprs.register(spark)
    val n = v.withColumn("vd", transform(col("embedding"), _.cast("double")))
      .withColumn("nrm", sqrt(expr("graft_dot(vd, vd)")))
      .select("vec_id", "label", "vd", "nrm")
    val a = n.select(col("vec_id").as("qid"), col("vd").as("va"),
                     col("nrm").as("na"))
    val b = n.select(col("vec_id").as("nid"), col("label").as("nlabel"),
                     col("vd").as("vb"), col("nrm").as("nb"))
    val directed = a.join(b, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("nlabel"),
              round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 4)
                .as("cos_r"))
      .where(col("qid") < 20)
    val once = directed.groupBy("qid")
      .agg(expr("graft_knn_vote(cos_r, nid, nlabel)").as("v"))
      .select(col("qid"), col("v.pred_label"), col("v.votes"))
      .collect().sortBy(_.getLong(0)).toSeq
    val twice = directed.unionAll(directed).groupBy("qid")
      .agg(expr("graft_knn_vote(cos_r, nid, nlabel)").as("v"))
      .select(col("qid"), col("v.pred_label"), col("v.votes"))
      .collect().sortBy(_.getLong(0)).toSeq
    assert(once == twice, "duplicated rows changed the kNN vote")
  }

  test("no-oracle vector queries keep their (rows, checksum) at sf0.001") {
    // The recall and determinism tests tolerate a changed neighbour set;
    // this pins exactly which neighbours (and cosines) come out.
    import spark.implicits._
    val want = Map(
      "sim_ann_bucket" -> (500L, 1074248380600L),
      "sim_ann_ivf" -> (500L, 1075121285876L),
      "sim_ann_pq" -> (500L, 1046530204119L),
      "sim_knn_label_ann" -> (500L, 1079428247308L),
      "sim_cosine_topk_ann" -> (10L, 17884926504L),
      "sim_incremental_ann" -> (61L, 123004778857L),
      "dedup_embedding_ann" -> (7L, 13290001342L),
      "dedup_clusters_ann" -> (111L, 235454374345L))
    val got = want.keys.map { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      q -> df.agg(count(lit(1)), coalesce(sum(pmod(
          xxhash64(df.columns.toSeq.map(df.col): _*), lit(1L << 32))), lit(0L)))
        .as[(Long, Long)].head()
    }.toMap
    assert(got == want)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Edge-condition tests: empty inputs, no-match filters, the custom
  * generator, and plan-shape assertions at the bench scale factor. */
class EdgeSpec extends SparkTestBase {

  test("graft_ngrams generator emits positioned n-grams, empty when short") {
    graft.functions.NgramGenerator.register(spark)
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x")).toDF("id", "text")
      .select(col("id"), expr("graft_ngrams(split(text, ' '), 3)"))
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(rows.toSeq == Seq((1L, 0, "a b c"), (1L, 1, "b c d")))
  }

  test("operators on empty input yield empty (not errors)") {
    val empty = graft.engine.Tables.lineitem(spark, sf).where(lit(false))
    assert(empty.groupBy("l_returnflag").count().count() == 0)
    assert(empty.orderBy("l_orderkey").limit(5).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber")
    assert(empty.withColumn("rn", row_number().over(w)).count() == 0)
  }

  test("no-match near-dup thresholds return empty deterministically") {
    val none = SimOps.dedupEmbedding(spark, sf).where(col("cos_r") >= 1.5)
    assert(none.count() == 0)
  }

  test("ANN machinery survives tiny inputs (1 vector, empty)") {
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    def mk(rows: Seq[(Long, Array[Double])]) = {
      val df = rows.toDF("vec_id", "vd")
      df.withColumn("nrm", sqrt(expr("graft_dot(vd, vd)")))
        .select("vec_id", "vd", "nrm")
    }
    val one = mk(Seq((1L, Array.fill(64)(0.5))))
    // a single vector has no pairs: empty result, no crash (bitsFor clamps)
    assert(SimOps.dedupEmbeddingAnnOn(one, 0.9, 2, 32, 1L).count() == 0)
    val empty = mk(Seq.empty)
    assert(SimOps.dedupEmbeddingAnnOn(empty, 0.9, 2, 32, 0L).count() == 0)
  }

  test("data_split covers every doc exactly once") {
    val out = TextOps.dataSplit(spark, sf)
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.count() == n)
    assert(out.select("doc_id").distinct().count() == n)
  }

  test("aggregations on a single row behave") {
    val one = graft.engine.Tables.orders(spark, sf).limit(1)
    val r = one.agg(round(avg("o_totalprice"), 4).as("a"),
                    count(lit(1)).as("c")).collect()(0)
    assert(r.getLong(1) == 1L)
  }

  test("pricing summary plan uses partial aggregation (two HashAggregates)") {
    val plan = Relational.aggPricingSummary(spark, sf)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "expect partial + final aggregate")
  }

  test("shuffle budget: hot queries stay within their expected Exchange count") {
    // Regression guard: an accidental repartition/non-broadcast join shows
    // up as an extra shuffle. Budgets = current (optimal) plan counts + 0.
    val budgets = Map(
      "agg_pricing_summary" -> 2, // groupBy + orderBy
      "join_broadcast" -> 2,      // groupBy + orderBy (dims broadcast)
      "topk_global" -> 1,         // groupBy (TakeOrdered needs no sort x-change)
      "text_wordcount" -> 1,
      "stream_tumbling" -> 2,
      "dedup_exact" -> 2,
      "agg_multikey_having" -> 2, // customer+nation broadcast
      // round-2 additions
      "sub_scalar" -> 3,          // decorrelated agg + broadcast join + sort
      "sub_in" -> 1,              // semi/anti both broadcast; final sort
      "join_salted" -> 2,         // build broadcast; agg + sort only
      "text_tfidf" -> 3,          // tf agg + df agg (broadcast back) + sort
      "win_range_frame" -> 2,     // window partition + sort
      "data_split" -> 1,          // narrow map + sort
      "agg_regression" -> 2,      // partial-agg shuffle + sort
      "dedup_embedding_ann" -> 3, // sig bucket join + post-filter distinct
      // round-7 additions
      "win_sessionize" -> 2,      // ONE user_id shuffle feeds both Window
                                  // nodes (lag + running sum share the
                                  // sort); + determinism orderBy
      "agg_argmax" -> 2,          // partial-agg shuffle + sort
      "agg_kll_quantiles" -> 1,   // map-side partial sketches, single
                                  // SinglePartition merge, no sort
      "scan_orc" -> 1,            // ORC scan + determinism orderBy
      "win_funnel" -> 2,          // ONE user_id shuffle feeds Window AND
                                  // the groupBy (partitioning reused);
                                  // + determinism orderBy
      "win_retention" -> 3,       // user-fold agg + cell agg + sort; the
                                  // collect_set form keeps count_distinct's
                                  // two-phase expansion out of the plan
      "ts_gapfill" -> 4,          // daily agg + span agg + fill window
                                  // (grid join reuses user partitioning)
                                  // + sort
      // round-7 hygiene/stat additions
      "text_pii_scrub" -> 1,      // pure narrow map + determinism sort
      "text_url_domains" -> 2,    // domain agg + sort (blocklist broadcast)
      "sample_rebalance" -> 3,    // class histogram agg (broadcast build)
                                  // + min agg + sort; NO per-class window
      "text_vocab_topp" -> 3,     // vocab agg + per-lang window + sort
      "agg_bitmap_distinct" -> 2, // bitmap partial/final agg + sort
      "agg_ttest" -> 2,           // one conditional-moment agg + sort
      "agg_chisq" -> 3,           // cells agg + two margin aggs (broadcast
                                  // builds); final fold is SinglePartition
      "fn_fuzzy_match" -> 2,      // argmin agg + sort (dim self-compare
                                  // broadcasts)
      "join_point_in_range" -> 2, // band agg + sort (bands broadcast)
      // late round-7 additions
      "scan_partitioned" -> 1,    // pruned scan + determinism sort
      "scan_evolved" -> 1,        // merged-footer scan + determinism sort
      "text_quality_pctl" -> 3,   // per-class quantile agg (broadcast
                                  // build) + filter + sort
      "win_transitions" -> 4,     // ONE user lead-window shuffle + pair
                                  // agg + cur-row window + sort
      "join_star_schema" -> 2,    // all five dims broadcast: agg + sort
      // vector queries (bucket join + exact rerank + argmax/vote/top-k)
      "sim_ann_bucket" -> 2,
      "sim_ann_ivf" -> 6,
      "sim_ann_pq" -> 6,
      "sim_knn_label_ann" -> 2,
      "sim_cosine_topk_ann" -> 1,
      "sim_incremental_ann" -> 2,
      "dedup_clusters_ann" -> 1,
      "sim_cosine_topk" -> 0,     // id-pair BNLJ, broadcast vector attach
      "sim_knn_label" -> 2
    )
    budgets.foreach { case (name, budget) =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val n = "Exchange hashpartitioning".r.findAllIn(plan).size +
        "Exchange rangepartitioning".r.findAllIn(plan).size
      assert(n <= budget, s"$name shuffles $n times, budget $budget:\n$plan")
    }
  }

  test("tfidf and sentiment plans broadcast their small sides") {
    Seq(TextOps.textTfidf _, TextOps.textSentiment _).foreach { f =>
      val plan = f(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("Broadcast"), "small side should broadcast")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Round-7 wave (cont.): the iterative graph operator. */
class Wave12Spec extends SparkTestBase {

  private def replayPagerank(): Map[Long, Double] = {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val cs = li.map { case (ok, sk) => (orders(ok), sk + 1000000000L) }.distinct
    val edges = (cs ++ cs.map(_.swap)).toSeq
    val deg = edges.groupBy(_._1).map { case (n, g) => n -> g.size }
    var ranks: Map[Long, Double] = deg.map { case (n, _) => n -> 1.0 }.toMap
    for (_ <- 1 to 10)
      ranks = edges.groupBy(_._2).map { case (dst, in) =>
        dst -> (0.15 + 0.85 * in.map(e => ranks(e._1) / deg(e._1)).sum)
      }
    ranks
  }

  test("graph_pagerank matches the in-memory power iteration") {
    val want = replayPagerank()
    val got = GraphOps.graphPagerank(spark, sf).collect()
      .map { r =>
        val id = if (r.getBoolean(1)) r.getLong(0) + 1000000000L else r.getLong(0)
        id -> r.getDouble(2)
      }.toMap
    assert(got.keySet == want.keySet, "node sets differ")
    got.foreach { case (n, v) =>
      assert(math.abs(v - want(n)) < 2e-6, s"node $n: $v != ${want(n)}")
    }
  }

  test("graph_triangles matches the in-memory projection replay") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val cs = li.map { case (ok, sk) => (orders(ok), sk) }.distinct
    val byCust = cs.groupBy(_._1)
      .map { case (c, g) => c -> g.map(_._2).toSeq }
    val w = byCust.values.toSeq
      .flatMap(ss => for (a <- ss; b <- ss if a != b) yield (a, b))
      .groupBy(identity).map { case (p, g) => p -> g.size }
    val topk = w.groupBy(_._1._1).flatMap { case (_, nb) =>
      nb.toSeq.map { case ((a, b), c) => (a, b, c) }
        .sortBy { case (_, b, c) => (-c, b) }.take(3)
    }
    val e = topk.map { case (a, b, _) =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val tri = for {
      (a, b) <- e.toSeq; (b2, c) <- e.toSeq
      if b2 == b && e.contains((a, c))
    } yield (a, b, c)
    val want = tri.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).map { case (n, g) => n -> g.size.toLong }
    val got = GraphOps.graphTriangles(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"triangle counts differ: got ${got.size} nodes, " +
      s"want ${want.size}")
    assert(want.nonEmpty, "degenerate fixture: no triangles at all")
  }

  test("graph_triangles prunes the top-k rank inside WindowGroupLimit") {
    val plan = GraphOps.graphTriangles(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rn <= 3 should push into WindowGroupLimit before the full sort")
  }

  test("ts_resample matches the weekly OHLC replay") {
    val daily = graft.engine.Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .select("user_id", "ts", "value").collect()
      .map(r => ((r.getLong(0),
                  r.getAs[java.time.LocalDateTime](1).toLocalDate),
                 r.getDouble(2)))
      .groupBy(_._1).map { case (k, g) =>
        k -> BigDecimal(g.map(_._2).sum).setScale(2,
          BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val want = daily.toSeq.groupBy { case ((u, day), _) =>
      (u, day.`with`(java.time.DayOfWeek.MONDAY))
    }.map { case ((u, wk), cells) =>
      val series = cells.map { case ((_, day), v) => (day, v) }.sortBy(_._1)
      val vals = series.map(_._2)
      (u, wk) -> ((series.size.toLong, series.head._2, series.last._2,
                   vals.min, vals.max,
                   vals.map(v => BigDecimal(v).setScale(2,
                     BigDecimal.RoundingMode.HALF_UP)).sum.toDouble))
    }
    val got = EventOps.tsResample(spark, sf).collect().map { r =>
      (r.getLong(0), r.getAs[java.time.LocalDateTime](1).toLocalDate) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7)))
    }.toMap
    assert(got.keySet == want.keySet, "week cells differ")
    want.foreach { case (k, w) =>
      assert(got(k) == w, s"$k: ${got(k)} != $w")
    }
    assert(want.exists(_._2._1 > 1L), "no multi-day week in fixture")
  }

  test("dq_audit counts match an in-memory replay of every rule") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet").collect()
    val ords = spark.read.parquet(s"$sf/orders.parquet").collect()
    val ev = graft.engine.Tables.events(spark, sf)
      .select("user_id", "value").collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect()
    val custKeys = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val ordKeys = ords.map(_.getAs[Long]("o_orderkey")).toSet
    val texts = docs.map(r => Option(r.getString(0)))
    val want = Map(
      "lineitem_bad_discount" -> li.count { r =>
        val x = r.getAs[Double]("l_discount"); x < 0 || x > 1 },
      "lineitem_nonpos_qty" -> li.count(_.getAs[Double]("l_quantity") <= 0),
      "lineitem_null_shipdate" -> li.count(_.isNullAt(
        li.head.fieldIndex("l_shipdate"))),
      "events_null_user" -> 0,
      "events_negative_value" -> ev.count(_.getDouble(1) < 0),
      "documents_empty_text" -> texts.count(t => t.isEmpty || t.get.isEmpty),
      "documents_dup_text" -> (texts.length - texts.distinct.length),
      "lineitem_orphan_order" -> li.count(r =>
        !ordKeys.contains(r.getAs[Long]("l_orderkey"))),
      "orders_orphan_customer" -> ords.count(r =>
        !custKeys.contains(r.getAs[Long]("o_custkey")))
    ).map { case (k, v) => k -> v.toLong }
    val got = AuditOps.dqAudit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"audit rows differ:\n got $got\nwant $want")
    assert(got.size == 9, "audit must emit exactly one row per rule")
  }

  test("join_asof_sorted is row-identical to join_asof, with no join node") {
    val a = Relational.joinAsof(spark, sf).collect().toSeq
    val b = Relational.joinAsofSorted(spark, sf).collect().toSeq
    assert(a == b, "the sorted as-of twin must reproduce join_asof exactly")
    val plan = Relational.joinAsofSorted(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      "sorted as-of must not contain any join operator")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "one user_id exchange feeds both the window sort and the filter")
  }

  test("win_streak matches a gaps-and-islands replay") {
    val days = graft.engine.Tables.events(spark, sf)
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0),
                 r.getAs[java.time.LocalDateTime](1).toLocalDate))
      .distinct
    val want = days.groupBy(_._1).map { case (u, ds) =>
      val sorted = ds.map(_._2).distinct.sorted
      val runs = sorted.foldLeft(List.empty[(java.time.LocalDate, Long)]) {
        case ((start, len) :: tail, day)
          if start.plusDays(len) == day => (start, len + 1) :: tail
        case (acc, day) => (day, 1L) :: acc
      }
      val best = runs.maxBy { case (st, len) => (len, st.toEpochDay) }
      u -> ((best._2, best._1))
    }
    val got = EventOps.winStreak(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1),
        r.getAs[java.time.LocalDateTime](2).toLocalDate))
    }.toMap
    assert(got == want, "streaks differ from replay")
    assert(want.values.exists(_._1 > 1L), "no multi-day streak in fixture")
  }

  test("scan_text roundtrips every document character-exactly") {
    val got = Relational.scanText(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect()
      .map(r => (r.getString(0), r.getString(0).length.toLong))
      .toSeq.sortBy(_._1)
    assert(got == want, "text export roundtrip lost or altered lines")
  }

  test("win_rolling_distinct_exact matches a calendar-window replay " +
       "and its sketch twin tracks it") {
    val cells = graft.engine.Tables.events(spark, sf)
      .select("user_id", "ts").collect()
      .map(r => (r.getAs[java.time.LocalDateTime](1).toLocalDate,
                 r.getLong(0))).toSeq
    val byDay = cells.groupBy(_._1).map { case (d, g) =>
      d -> g.map(_._2).toSet }
    val want = byDay.keys.map { d =>
      d -> (0 to 6).flatMap(k => byDay.getOrElse(d.minusDays(k), Set.empty))
        .toSet.size.toLong
    }.toMap
    val exact = SketchOps.winRollingDistinctExact(spark, sf).collect()
      .map(r => r.getAs[java.time.LocalDateTime](0).toLocalDate ->
        r.getLong(1)).toMap
    assert(exact == want, "exact rolling distinct differs from replay")
    val est = SketchOps.winRollingDistinct(spark, sf).collect()
      .map(r => r.getAs[java.time.LocalDateTime](0).toLocalDate ->
        r.getLong(2)).toMap
    est.foreach { case (d, e) =>
      assert(math.abs(e - exact(d)) <= math.max(2.0, 0.05 * exact(d)),
        s"$d: sketch $e vs exact ${exact(d)}")
    }
  }

  test("join_overlap_self matches a per-customer pair replay") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_shipdate").collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1)))
    val lastShip = li.toSeq.groupBy(_._1).map { case (k, g) =>
      k -> g.map(_._2).max(Ordering.by((d: java.time.LocalDateTime) =>
        d.toEpochSecond(java.time.ZoneOffset.UTC)))
    }
    val ords = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderdate").collect()
      .map(r => (r.getLong(0), r.getLong(1),
                 r.getAs[java.time.LocalDateTime](2)))
      .filter(o => lastShip.contains(o._1))
    val want = ords.toSeq.groupBy(_._2).values.flatMap { g =>
      for {
        (oa, _, da) <- g; (ob, _, db) <- g
        if oa < ob &&
          !da.isAfter(lastShip(ob)) && !db.isAfter(lastShip(oa))
      } yield (g.head._2, oa, ob)
    }.toSet
    val got = EventOps.joinOverlapSelf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"pair sets differ: got ${got.size} want ${want.size}")
    assert(want.nonEmpty, "fixture has no concurrent orders")
  }

  test("join_interval_overlap broadcasts the busy side, no nested loop") {
    val plan = EventOps.joinIntervalOverlap(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the 24-row busy side must broadcast")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      "bucket equality must keep the overlap join out of BNLJ")
  }

  test("win_rolling_distinct tracks the exact rolling distinct within 5%") {
    val cells = graft.engine.Tables.events(spark, sf)
      .select("user_id", "ts").collect()
      .map(r => (r.getAs[java.time.LocalDateTime](1).toLocalDate,
                 r.getLong(0))).toSeq
    val byDay = cells.groupBy(_._1).map { case (d, g) =>
      d -> g.map(_._2).toSet
    }
    val days = byDay.keys.toSeq.sorted
    val exact = days.zipWithIndex.map { case (d, i) =>
      d -> days.slice(math.max(0, i - 6), i + 1)
        .flatMap(byDay).toSet.size
    }.toMap
    val got = SketchOps.winRollingDistinct(spark, sf).collect()
      .map(r => r.getAs[java.time.LocalDateTime](0).toLocalDate ->
        r.getLong(2).toDouble).toMap
    assert(got.keySet == exact.keySet, "day sets differ")
    exact.foreach { case (d, ex) =>
      assert(math.abs(got(d) - ex) <= math.max(2.0, 0.05 * ex),
        s"$d: est ${got(d)} vs exact $ex")
    }
  }

  test("join_interval_overlap matches a direct interval-intersection replay") {
    val evs = graft.engine.Tables.events(spark, sf)
      .select("user_id", "event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1),
                 r.getAs[java.time.LocalDateTime](2)))
    // sessions: 30-min gap islands per user, replayed independently
    val sessions = evs.toSeq.groupBy(_._1).toSeq.flatMap { case (u, g) =>
      val sorted = g.map(t => (t._3, t._2)).sortBy(identity)
      var sid = 0L
      var prev: Option[java.time.LocalDateTime] = None
      sorted.map { case (ts, _) =>
        if (prev.forall(p => !ts.isBefore(p.plusMinutes(30)))) sid += 1
        prev = Some(ts)
        (u, sid, ts)
      }
    }.toSeq.groupBy(t => (t._1, t._2)).map { case ((u, sid), rows) =>
      (u, sid, rows.map(_._3).min, rows.map(_._3).max)
    }
    val busy = evs.groupBy(_._3.truncatedTo(java.time.temporal.ChronoUnit.HOURS))
      .map { case (h, g) => (h, g.size.toLong) }.toSeq
      .sortBy { case (h, c) => (-c, h) }.take(24).toMap
    // DIRECT overlap: closed session interval vs half-open hour window
    val want = (for {
      (u, sid, st, en) <- sessions
      (h, cnt) <- busy
      if !h.plusHours(1).minusNanos(1).isBefore(st) && !h.isAfter(en)
    } yield (u, sid, h) -> cnt).toMap
    val got = EventOps.joinIntervalOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
                 r.getAs[java.time.LocalDateTime](3)) -> r.getLong(4)).toMap
    assert(got == want, s"overlap sets differ: got ${got.size} want ${want.size}")
    assert(want.nonEmpty, "fixture produced no busy-hour overlaps")
  }

  test("sim_label_centroids matches an in-memory centroid replay") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val cents = rows.groupBy(_._1).map { case (l, g) =>
      val dim = g.head._2.length
      l -> Array.tabulate(dim) { i =>
        val s = g.map(x => BigDecimal(x._2(i).toDouble).setScale(9,
          BigDecimal.RoundingMode.HALF_UP)).sum
        s.toDouble / g.size.toDouble
      }
    }
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val want = (for {
      (la, va) <- cents; (lb, vb) <- cents if la <= lb
    } yield (la, lb) -> math.floor(dot(va, vb)
      / math.sqrt(dot(va, va) * dot(vb, vb)) * 1e6 + 0.5) / 1e6).toMap
    val got = SimOps.simLabelCentroids(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == want.keySet, "label pair sets differ")
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-9, s"$k: $v != ${want(k)}")
    }
    got.filter { case ((a, b), _) => a == b }.values.foreach(v =>
      assert(math.abs(v - 1.0) < 1e-6, "self-cosine must be 1"))
  }

  test("agg_corr agrees with Spark's built-in corr/covar aggregates") {
    val builtin = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
           covar_samp(col("l_quantity"), col("l_extendedprice")).as("cs"),
           covar_pop(col("l_quantity"), col("l_extendedprice")).as("cp"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    Relational.aggCorr(spark, sf).collect().foreach { r =>
      val (c, cs, cp) = builtin(r.getString(0))
      assert(math.abs(r.getDouble(1) - c) < 1e-5, s"corr ${r.getDouble(1)} vs $c")
      assert(math.abs(r.getDouble(2) - cs) < 1e-3 * math.abs(cs) + 1e-3,
        s"covar_samp ${r.getDouble(2)} vs $cs")
      assert(math.abs(r.getDouble(3) - cp) < 1e-3 * math.abs(cp) + 1e-3,
        s"covar_pop ${r.getDouble(3)} vs $cp")
    }
  }

  test("pagerank early-exits on a converged graph; AQE conf restored") {
    import spark.implicits._
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    // 2-regular cycle: uniform ranks are the EXACT fixed point, so the
    // first checkpoint's L1 delta is 0 and the loop must stop there —
    // while on the real trade graph 10 iterations never reach ε and the
    // declared query stays step-for-step identical (the replay test).
    val n = 10
    val fwd = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "src")
    val (ranks, steps) = GraphOps.pagerankIterate(spark, edgesDeg, maxIter = 10)
    assert(steps == 2, s"uniform fixed point must exit at the first " +
      s"checkpoint (2 steps), ran $steps")
    val rs = ranks.collect().map(_.getDouble(1))
    assert(rs.length == n && rs.forall(r => math.abs(r - 1.0) < 1e-12),
      s"regular-graph ranks must stay exactly uniform: ${rs.toSeq}")
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqeBefore,
      "pagerankIterate must restore the AQE setting")
  }

  test("graph_pagerank conserves total rank at |V| and floors at 0.15") {
    val rows = GraphOps.graphPagerank(spark, sf).collect()
    val total = rows.map(_.getDouble(2)).sum
    // undirected graph has no dangling nodes: sum stays |V| each step
    assert(math.abs(total - rows.length) < 1e-3,
      s"total rank $total drifted from |V|=${rows.length}")
    assert(rows.forall(_.getDouble(2) >= 0.15 - 1e-9), "rank below the floor")
    // suppliers are the high-degree side of the bipartite graph — the top
    // rank must be a supplier at every SF
    assert(rows.head.getBoolean(1), "top-ranked node should be a supplier")
  }

  test("agg_skew_kurt agrees with Spark's built-in moment aggregates") {
    val got = Relational.aggSkewKurt(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
                                   r.getDouble(3))).toMap
    val builtin = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(skewness("l_quantity"), kurtosis("l_quantity"),
           skewness("l_extendedprice"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
                                   r.getDouble(3))).toMap
    assert(got.keySet == builtin.keySet)
    got.foreach { case (k, (sq, kq, sp)) =>
      val (bsq, bkq, bsp) = builtin(k)
      assert(math.abs(sq - bsq) < 1e-3, s"$k skew_qty $sq vs builtin $bsq")
      assert(math.abs(kq - bkq) < 1e-3, s"$k kurt_qty $kq vs builtin $bkq")
      assert(math.abs(sp - bsp) < 1e-3, s"$k skew_price $sp vs builtin $bsp")
    }
  }

  test("pagerank step shuffles only ranks + the dst agg (edges stay put)") {
    // built on a throwaway session: the memoized substrate is that
    // session's alone, so unpersisting it leaves no other caller an
    // uncached plan
    val edgesDeg = GraphOps.pagerankSubstrate(spark.newSession(), sf)
    try {
      edgesDeg.count() // materialize the cache so its partitioning is live
      val ranks = edgesDeg.select(col("src").as("node"), lit(1.0).as("rank"))
        .distinct().localCheckpoint()
      val exec = GraphOps.pagerankStep(edgesDeg, ranks)
        .queryExecution.executedPlan
      // the string rendering inlines the cached InMemoryRelation's BUILD
      // plan (with its one-time exchanges); collect() stops at the
      // InMemoryTableScan leaf and sees only the live per-iteration ops
      val n = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      assert(n <= 2, s"a pagerank step shuffles $n times:\n$exec")
      val plan = exec.toString
      assert(plan.contains("InMemoryTableScan"),
        "the static side should come from cache with live partitioning")
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        "contributions should partially aggregate map-side")
    } finally edgesDeg.unpersist(false)
  }
}

package graft

/** Time a NAMED subset of [[SparkEntry.queries]] under the same session
  * config as [[Bench]] — the iteration loop for performance work on one
  * query (the full bench is 180+ queries / ~3 min). Each named query is
  * warmed once on the warm-up slice, then timed on the measured dir.
  * Usage: `runMain graft.BenchOne merge_zorder_compact [more names…]`. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass one or more query names")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.tools.DevSession.bench(sfDir)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.01")
    val picked = args.toSeq.map { n =>
      n -> SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query: $n"))
    }
    picked.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    val timed = picked.map { case (n, fn) =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      n -> (System.nanoTime() - t0) / 1e9
    }
    println(timed.map { case (n, s) => f""""$n":$s%.3f""" }
      .mkString("{", ",", "}"))
    System.out.flush()
    spark.stop()
  }
}

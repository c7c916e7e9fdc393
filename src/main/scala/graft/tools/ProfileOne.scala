package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (optimization guide §1.1, the empirical loop without a UI):
  * run ONE declared query under the bench session config with a
  * SparkListener attached, and print every Spark job it launched —
  * wall-clock, stage count, task count, shuffle bytes, and the job's
  * callsite/description — so the time inside a multi-commit lifecycle
  * query can be attributed to its phases (store build vs mutation vs
  * read-back vs oracle count). The UI is disabled in this sandbox; this
  * is the stage/"where does the time go" view the guide starts from.
  *
  * Usage: `runMain graft.tools.ProfileOne <query> [warm]` — with `warm`,
  * the query first runs once on the warm-up slice (JIT parity with
  * BenchOne); the profiled run is always on $SPARK_GRAFT_SF_DIR.
  */
object ProfileOne {
  private case class JobRec(id: Int, var desc: String = "",
    var started: Long = 0L, var ended: Long = 0L, var stages: Int = 0,
    var tasks: Int = 0, var shufRead: Long = 0L, var shufWrite: Long = 0L)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass a query name")
    val name = args(0)
    val warm = args.contains("warm")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevSession.bench(sfDir)
    val fn = SparkEntryRef.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))
    if (warm) {
      val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
        "/root/testdata/sf0.01")
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
      // ... and once on the measured dir: a fresh JVM's first sf0.1 run
      // bills JIT/codec/committer warm-up to whatever job hits it first
      // (observed 8 s on a job the warm bench runs in 0.5 s); the
      // profiled pass below then sees steady state, like the bench.
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val r = JobRec(e.jobId)
          r.started = e.time
          r.desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("")
          r.stages = e.stageIds.size
          e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
          jobs(e.jobId) = r
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(e.jobId).foreach(_.ended = e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          for (jid <- stageToJob.get(e.stageInfo.stageId);
               r <- jobs.get(jid)) {
            r.tasks += e.stageInfo.numTasks
            r.shufRead += e.stageInfo.taskMetrics.shuffleReadMetrics
              .totalBytesRead
            r.shufWrite += e.stageInfo.taskMetrics.shuffleWriteMetrics
              .bytesWritten
            if (r.desc.isEmpty) r.desc = e.stageInfo.name.take(110)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // drain the async listener bus: poll until every recorded job has
    // its JobEnd (bounded — the bus's waitUntilEmpty is private[spark]);
    // a fixed sleep truncated late events and printed negative durations
    val deadline = System.nanoTime() + 5_000_000_000L
    while (jobs.synchronized(jobs.values.exists(_.ended == 0L)) &&
           System.nanoTime() < deadline)
      Thread.sleep(50)
    println(f"== $name%s: wall $wall%.3f s, ${jobs.size}%d jobs ==")
    val billed = jobs.values.filter(_.ended != 0L)
      .map(r => (r.ended - r.started) / 1e3).sum
    jobs.values.foreach { r =>
      if (r.ended == 0L)
        println(f"job ${r.id}%3d   (no JobEnd within drain timeout — " +
          "unbilled)")
      else {
        val dur = (r.ended - r.started) / 1e3
        println(f"job ${r.id}%3d ${dur}%7.3f s  stages=${r.stages}%2d " +
          f"tasks=${r.tasks}%4d shufR=${r.shufRead / 1024}%8dK " +
          f"shufW=${r.shufWrite / 1024}%8dK  ${r.desc.take(110)}%s")
      }
    }
    println(f"sum-of-jobs $billed%.3f s (gaps = driver-side work: " +
      "planning, FS listing, commits)")
    System.out.flush()
    spark.stop()
  }
}

/** Indirection so this tool compiles in the tools package without a
  * circular import surprise. */
private object SparkEntryRef {
  def queries = graft.SparkEntry.queries
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.engine.Versioned

/** Turns phases into the printed tables and the final JSON line. */
final class Report(a: Main.Args, cores: Int, data: Path, setupS: Double,
                   genS: Double) {
  private def say(s: String): Unit = println(s)

  private def header(): Unit = {
    say(s"# perfbench ${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0}")
    say(s"# closed loop, 1 client, local[$cores]; inputs: generated sf0.1 " +
      s"under $data, generation ${fmt(genS)} s (not in setup_s)")
    say("# set-up steps: " + SetupLog.steps.map { case (k, v) =>
      f"$k $v%.1f s" }.mkString(", "))
  }

  private def fmt(x: Double): String = f"$x%.4f"
  private def row(name: String, v: Option[Double], unit: String,
                  n: String): Unit =
    say(f"  $name%-34s ${v.map(fmt).getOrElse("n/a")}%14s $unit%-6s  $n")

  /** (metric → (value, unit)) for the JSON line. */
  private def json(correct: Boolean, attempted: Int, failed: Int,
                   ms: Seq[(String, Double, String)]): String = {
    val body = ms.map { case (k, v, u) =>
      s""""$k": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}"""
  }

  private def outcome(samples: Seq[Sample], checks: (Int, Seq[String]))
      : (Boolean, Int, Int) = {
    val fails = samples.flatMap(_.failure) ++ checks._2
    fails.take(20).foreach(f => say(s"  FAIL $f"))
    val attempted = samples.size + checks._1
    (fails.isEmpty, attempted, fails.size)
  }

  private def latency(p: Phase, cls: Option[String], label: String): Unit = {
    val xs = p.samples.filter(s => cls.forall(_ == s.cls)).map(_.secs)
    row(s"${label}_p50_s", Stats.percentile(xs, 0.5), "s", s"n=${xs.size}")
    row(s"${label}_p90_s", Stats.percentile(xs, 0.9), "s",
      s"n=${xs.size}" + (if (Stats.supports(xs.size, 0.9)) "" else
        " (p90 needs >= 100)"))
  }

  def endToEnd(p: Phase, checks: (Int, Seq[String]),
               store: Option[String]): Unit = {
    header()
    val (correct, attempted, failed) = outcome(p.samples, checks)
    val n = p.samples.size
    val busy = p.samples.map(_.secs).sum
    val opsPerS = n / busy
    say("## end-to-end (tracing off)")
    row("setup_s", Some(setupS), "s", "n=1")
    row("ops_per_s", Some(opsPerS), "1/s", f"n=$n, ${busy}%.2f s timed")
    latency(p, None, "op")
    row("fail_ratio", Some(failed.toDouble / attempted), "ratio",
      s"n=$attempted")
    latency(p, Some("commit"), "commit")
    latency(p, Some("read"), "read")
    row("heap_retained_mb", Some(p.heapRetainedMb), "MB",
      "n=1 (after full GC, end of timed phase)")
    row("heap_peak_mb", Some(p.heapPeakMb), "MB", "n=1 (10 ms sampling)")
    row("store_bytes_per_live_byte", store.map(bytesPerLive), "ratio", "n=1")
    row("jvm.jit_compile_s", Some(p.jvm.jitMs / 1e3), "s", "timed phase")
    say("## per op kind (median s)")
    p.samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      say(f"  $k%-22s n=${xs.size}%4d median ${Stats.median(xs.map(_.secs))}%.4f s")
    }
    say(s"  correct=$correct")
    // Wall-time throughput and latency spread 15-30% between runs on a
    // shared 4-core box (whole-run slowdowns: host load, JIT still
    // compiling), wider than any usable bound, so they are reported above
    // and only the steady metrics are gated.
    say(json(correct, attempted, failed, Seq(
      ("setup_s", setupS, "s"), ("heap_retained_mb", p.heapRetainedMb, "MB"))))
  }

  /** Bytes of the data files the store's current manifest references. */
  private def liveBytes(store: String): Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    val v = Versioned.currentVersion(spark, store).get
    Versioned.manifest(spark, store, v)
      .map(e => Fs.bytes(Paths.get(s"$store/${e._2}"))).sum
  }
  private def bytesPerLive(store: String): Double =
    Fs.bytes(Paths.get(store)).toDouble / liveBytes(store)

  def perLayer(plain: Phase, p: Phase, tr: Tracer, w: Workload,
               checks: (Int, Seq[String]), outDir: Path): Unit = {
    header()
    val (correct, attempted, failed) =
      outcome(plain.samples ++ p.samples, checks)
    val ops = p.samples
    val n = ops.size.toDouble
    val perOp = ops.map { s =>
      val js = tr.jobsIn(s.startMs, s.endMs)
      val union = Stats.unionLength(js.map(j => (j.startMs, j.endMs)),
        s.startMs, s.endMs)
      (s, js, union)
    }
    val spanMs = perOp.map(x => (x._1.endMs - x._1.startMs).toDouble).sum
    val unionMs = perOp.map(_._3.toDouble).sum
    val jobs = perOp.flatMap(_._2)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // tracing overhead: each untraced op against the traced mean of its kind
    val tracedMean = p.samples.groupBy(_.kind).map { case (k, xs) =>
      k -> mean(xs.map(_.secs)) }
    val overhead = mean(plain.samples.flatMap(s =>
      tracedMean.get(s.kind).map(_ - s.secs)))
    // every op's span splits exactly into job-union time and driver gap
    val unaccounted = perOp.count { case (s, _, u) =>
      u < 0 || u > s.endMs - s.startMs }

    val universal = Seq(
      ("spark.jobs_per_op", jobs.size / n, "count"),
      ("spark.unlabelled_job_share",
        if (jobs.isEmpty) 0.0 else jobs.count(!_.labelled).toDouble / jobs.size,
        "ratio"),
      ("spark.tasks_per_op", jobs.map(_.tasks.toDouble).sum / n, "count"),
      ("spark.job_s_per_op", unionMs / 1e3 / n, "s"),
      ("spark.shuffle_bytes_per_op", jobs.map(_.shuffleBytes.toDouble).sum / n,
        "bytes"),
      ("spark.input_records_per_op",
        jobs.map(_.inputRecords.toDouble).sum / n, "count"),
      ("driver.gap_share", 1 - unionMs / spanMs, "ratio"),
      ("fs.bytes_read_per_op", ops.map(_.fsRead.toDouble).sum / n, "bytes"),
      ("fs.bytes_written_per_op", ops.map(_.fsWritten.toDouble).sum / n,
        "bytes"),
      ("jvm.gc_s_per_op", p.jvm.gcMs / 1e3 / n, "s"),
      ("jvm.jit_compile_s", p.jvm.jitMs / 1e3, "s"),
      ("trace.overhead_s_per_op", overhead, "s"))

    say(s"## per-layer (traced run, ${ops.size} ops; untraced stretch " +
      s"${plain.samples.size} ops)")
    universal.foreach { case (k, v, u) => row(k, Some(v), u, s"n=${ops.size}") }
    say(s"  ops whose span the job union + driver gap do not account for: " +
      s"$unaccounted of ${ops.size}; listener drain timeouts: ${tr.drainTimeouts}")

    // layer spans recorded around the benchmark's calls into the engine
    say("## layer spans (mean seconds per call)")
    // `build:q` and `action:q` spans also roll up into `build` / `action`
    val spans = tr.spans.toSeq.filter(_.op >= 0)
    val byName = spans.groupBy(s => s"${s.layer}.${s.name.replace(':', '_')}_s") ++
      spans.filter(_.name.contains(':'))
        .groupBy(s => s"${s.layer}.${s.name.takeWhile(_ != ':')}_s")
    byName.toSeq.sortBy(_._1).foreach { case (k, ss) =>
      row(s"$k", Some(mean(ss.map(_.nanos / 1e9))), "s", s"n=${ss.size}")
    }
    w.probed.foreach { case (k, xs) =>
      row(k, Some(mean(xs)), "count",
        s"n=${xs.size}, first ${xs.head.toLong}, last ${xs.last.toLong}")
    }
    // store-layer counts
    w.storeDir.foreach { store =>
      val spark = org.apache.spark.sql.SparkSession.active
      val v = Versioned.currentVersion(spark, store).get
      val man = Versioned.manifest(spark, store, v)
      val files = man.map(e => Versioned.dataFileCount(spark, store, e._2))
      row("store.files_per_partition", Some(files.sum.toDouble / files.size),
        "count", s"n=${files.size} partitions")
      row("store.bytes", Some(Fs.bytes(Paths.get(store)).toDouble), "bytes",
        "n=1")
      val commits = ops.filter(_.cls == "commit")
      val changed = commits.map(_.changedRows).sum
      if (changed > 0) {
        val liveRows = Store.monthAggs(spark, store).values.map(_._1).sum
        val bytesPerRow = liveBytes(store).toDouble / liveRows
        row("mergeops.write_amp", Some(commits.map(_.fsWritten.toDouble).sum /
          (changed * bytesPerRow)), "ratio", s"n=${commits.size} commits")
      }
      val reads = perOp.filter(_._1.cls == "read")
      val rowsOut = reads.map(_._1.rows).sum
      if (reads.nonEmpty && rowsOut > 0)
        row("mergeops.records_read_per_row_returned",
          Some(reads.flatMap(_._2).map(_.inputRecords.toDouble).sum / rowsOut),
          "ratio", s"n=${reads.size} reads")
    }
    // per-op-kind split of span into jobs and driver gap
    say("## per op kind: mean span, job union, driver gap")
    perOp.groupBy(_._1.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val sp = mean(xs.map(x => (x._1.endMs - x._1.startMs) / 1e3))
      val un = mean(xs.map(_._3 / 1e3))
      say(f"  $k%-22s n=${xs.size}%4d span ${sp}%.4f s  jobs ${un}%.4f s  " +
        f"gap ${sp - un}%.4f s  jobs/op ${mean(xs.map(_._2.size.toDouble))}%.1f")
    }
    writeTrace(outDir, tr, perOp.map(x => (x._1, x._3)))
    say(s"  correct=$correct")
    say(json(correct, attempted, failed, universal))
  }

  /** Spans, jobs and op records as JSON lines under `outDir`. */
  private def writeTrace(outDir: Path, tr: Tracer,
                         ops: Seq[(Sample, Long)]): Unit = {
    Files.createDirectories(outDir)
    val f = outDir.resolve(s"trace-${a.workload}-${a.seed}.jsonl")
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "; case c => c.toString } + "\""
    val out = mutable.ArrayBuffer.empty[String]
    ops.foreach { case (s, u) => out += s"""{"type": "op", "op": ${s.i}, """ +
      s""""kind": ${q(s.kind)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
      s""""secs": ${s.secs}, "job_union_ms": $u, "rows": ${s.rows}}""" }
    tr.spans.foreach(s => out += s"""{"type": "span", "op": ${s.op}, """ +
      s""""layer": ${q(s.layer)}, "name": ${q(s.name)}, "start_ms": """ +
      s"""${s.startMs}, "end_ms": ${s.endMs}, "secs": ${s.nanos / 1e9}}""")
    tr.jobs.values.foreach(j => out += s"""{"type": "job", "id": ${j.id}, """ +
      s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "labelled": """ +
      s"""${j.labelled}, "label": ${q(j.label)}, "tasks": ${j.tasks}, """ +
      s""""shuffle_bytes": ${j.shuffleBytes}, "input_records": """ +
      s"""${j.inputRecords}}""")
    Files.write(f, (out.mkString("\n") + "\n").getBytes("UTF-8"))
    say(s"  trace written to $f")
  }
}

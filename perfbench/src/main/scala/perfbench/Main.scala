package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed op. Times are seconds; `startMs`/`endMs` are wall-clock
  * bounds on the listener's clock. */
final case class Sample(i: Int, kind: String, cls: String, secs: Double,
    startMs: Long, endMs: Long, failure: Option[String], rows: Long,
    changedRows: Long, fsRead: Long, fsWritten: Long)

/** A closed-loop timed phase: one client, next op after the previous one
  * completed and was checked. */
final case class Phase(samples: Seq[Sample], jvm: Counters, heapPeakMb: Double,
                       heapRetainedMb: Double)

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>`
  * where `root` is the repository checkout. Prints a human-readable
  * report, then one JSON result object as the last stdout line. */
object Main {
  val Workloads = Seq("analytics_mix", "store_mix")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, root: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = get("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    val t = get("--trace")
    require(t == "0" || t == "1", "--trace is 0 or 1")
    Args(w, get("--seed").toLong, get("--seconds").toInt, t == "1",
      Paths.get(get("--root")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val bench = a.root.resolve("perfbench")
    val work = bench.resolve(".work").resolve("run")
    // the run directory is the benchmark's alone: wiped before and after
    Fs.deleteTree(work)
    Files.createDirectories(work.resolve("tmp"))
    Files.createDirectories(work.resolve("catalog"))
    val data = bench.resolve(".cache").resolve(s"data-v${DataGen.Version}")
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val g0 = System.nanoTime()
      val big = data.resolve("sf0.1")
      DataGen.ensure(spark, big, 0.1)
      val genS = (System.nanoTime() - g0) / 1e9
      spark.conf.set("spark.sql.shuffle.partitions",
        graft.engine.Scale.shufflePartitions(big.toString, cores).toString)
      val root = work.resolve("catalog").toString
      val w: Workload = a.workload match {
        case "analytics_mix" =>
          new Analytics(spark, big.toString, a.seed)
        case "store_mix" =>
          new StoreMix(spark, big.toString, root, a.seed)
      }
      w.setup()
      val setupS = (System.nanoTime() - t0) / 1e9 - genS
      val report = new Report(a, cores, data, setupS, genS)
      if (!a.trace) {
        val p = phase(spark, w, new Tracer(spark, false), a.seconds)
        report.endToEnd(p, w.finalChecks(), w.storeDir)
      } else {
        // an untraced stretch first (whole decks too, so every op kind
        // has an untraced twin), to price the tracing itself
        val plain = phase(spark, w, new Tracer(spark, false), a.seconds / 2.0)
        val tr = new Tracer(spark, true)
        tr.attach()
        val traced = try phase(spark, w, tr, a.seconds) finally tr.detach()
        report.perLayer(plain, traced, tr, w, w.finalChecks(),
          bench.resolve("out"))
      }
    } finally {
      spark.stop()
      Fs.deleteTree(work)
    }
    System.out.flush()
  }

  /** Run ops for `seconds`, then on to the end of the current deck. */
  def phase(spark: SparkSession, w: Workload, tr: Tracer,
            seconds: Double): Phase = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    System.gc()
    val heap = new HeapSampler
    heap.start()
    val c0 = Counters.now()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || !w.atBoundary) {
      val i = samples.size
      tr.op = i
      val f0 = if (tr.enabled) Counters.now() else c0
      val ms0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val res = try Right(w.next(tr)) catch { case e: Exception => Left(e) }
      val secs = (System.nanoTime() - n0) / 1e9
      val ms1 = System.currentTimeMillis()
      tr.drain()
      tr.op = -1
      val f1 = if (tr.enabled) Counters.now() else c0
      samples += (res match {
        case Right(d) =>
          val failure = try d.check() catch {
            case e: Exception => Some(s"${d.kind}: check failed: $e") }
          Sample(i, d.kind, d.cls, secs, ms0, ms1, failure,
            scala.util.Try(d.rows()).getOrElse(0L), d.changedRows,
            f1.fsRead - f0.fsRead, f1.fsWritten - f0.fsWritten)
        case Left(e) =>
          Sample(i, "error", "error", secs, ms0, ms1,
            Some(s"op $i threw ${e.toString.take(300)}"), 0L, 0L, 0L, 0L)
      })
      if (tr.enabled && res.isRight) { tr.op = i; w.probe(tr); tr.op = -1 }
    }
    val jvm = Counters.now() - c0
    heap.finish()
    Phase(samples.toSeq, jvm, heap.peakMb, HeapSampler.retainedMb())
  }
}

package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One timed interval of the benchmark's own calls into a layer.
  * `op` is the index of the op it belongs to (-1 outside any op);
  * times are wall-clock milliseconds (the listener's clock) plus a
  * nanosecond duration. */
final case class Span(op: Int, layer: String, name: String,
                      startMs: Long, endMs: Long, nanos: Long)

/** A Spark job as the listener saw it. */
final class JobRec(val id: Int, val startMs: Long, val labelled: Boolean,
                   val label: String) {
  var endMs: Long = 0L
  var tasks: Int = 0
  var shuffleBytes: Long = 0L
  var inputRecords: Long = 0L
}

/** Records spans around the benchmark's calls into the engine and, when
  * enabled, every Spark job. Disabled, `span` only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  var drainTimeouts = 0
  var op: Int = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally spans += Span(op, layer, name, ms, System.currentTimeMillis(),
        System.nanoTime() - t0)
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, e.time, desc.isDefined,
        desc.getOrElse(site))
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized {
        for (jid <- stageToJob.get(e.stageInfo.stageId); j <- jobs.get(jid)) {
          val m = e.stageInfo.taskMetrics
          j.tasks += e.stageInfo.numTasks
          if (m != null) {
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
  }

  def attach(): Unit = if (enabled) spark.sparkContext.addSparkListener(listener)
  def detach(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)

  /** Let the listener catch up before an op's span closes: empty the
    * bus queue, then poll (bounded) until every job it recorded ended. */
  def drain(): Unit = if (enabled) {
    if (!org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext, 5000))
      drainTimeouts += 1
    val deadline = System.nanoTime() + 5000000000L
    while (jobs.synchronized(jobs.values.exists(_.endMs == 0L)) &&
           System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Jobs submitted inside `[fromMs, toMs]`. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] = jobs.synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }
}

/** Process-wide counters read before and after a timed region. */
final case class Counters(fsRead: Long, fsWritten: Long, gcMs: Long,
                          jitMs: Long) {
  def -(o: Counters): Counters = Counters(fsRead - o.fsRead,
    fsWritten - o.fsWritten, gcMs - o.gcMs, jitMs - o.jitMs)
}

object Counters {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  /** Bytes moved through Hadoop's local filesystem (the local FS keeps
    * byte counts only, not operation counts), GC and JIT time. */
  def now(): Counters = {
    val fs = Option(FileSystem.getGlobalStorageStatistics.get("file"))
    def stat(k: String) = fs.flatMap(s => Option(s.getLong(k)))
      .map(_.longValue).getOrElse(0L)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    Counters(stat("bytesRead"), stat("bytesWritten"), gc, jit)
  }
}

/** Samples used heap in the background; `peakMb` is the highest value
  * seen since `start`. */
final class HeapSampler extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile private var peak = 0L
  @volatile private var running = true
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  override def run(): Unit = while (running) {
    val used = mem.getHeapMemoryUsage.getUsed
    if (used > peak) peak = used
    Thread.sleep(10)
  }
  def peakMb: Double = peak / 1048576.0
  def finish(): Unit = { running = false; join() }
}

object HeapSampler {
  /** Heap still in use after full collections: what the engine and its
    * session keep once the workload ran. Unlike the sampled peak, it does
    * not depend on when the collector happened to run. */
  def retainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    // Spark's context cleaner frees broadcast and shuffle state only after
    // a collection found it unreachable: collect, give it time, repeat
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}

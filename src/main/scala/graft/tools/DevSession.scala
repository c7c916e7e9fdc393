package graft.tools

import org.apache.spark.sql.SparkSession

/** The local session the dev mains share: UTC (the oracle's wall-clock
  * semantics), no UI, WARN logging. [[graft.Bench]] and [[graft.Verify]]
  * keep their own builders: their output format is fixed. */
object DevSession {
  def apply(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[graft.Bench]]'s session config: `$SPARK_GRAFT_CPUS` cores (default
    * 4) and shuffle partitions sized from `sfDir`'s input bytes. */
  def bench(sfDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    apply(cpus, graft.engine.Scale.shufflePartitions(sfDir, cpus))
  }
}

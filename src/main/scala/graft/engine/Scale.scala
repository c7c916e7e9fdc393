package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities (SCALING.md): the three data-layout techniques that
  * decide whether 100 TB plans shuffle — bucketing for co-located joins,
  * salting for skewed keys, partition layout for pruning. Each has a
  * plan-level proof in ScaleSpec (no Exchange / PartitionFilters). */
object Scale {

  /** Scale-ADAPTIVE shuffle-partition count (guide §2.2/§9; round-17
    * fix for the round-16 scaling verdict): derive from INPUT SIZE at
    * a 64 MB-per-partition target, never from the core count. Pinning
    * `spark.sql.shuffle.partitions = cpus` made every tiny local
    * shuffle pay one task per core — 32 cores ran MORE tiny tasks than
    * 8 and measured slower, so the CPU-scaling contract was
    * undemonstrable. With the partition count a function of data:
    * local sf dirs land on the floor (8 — identical shuffle layout at
    * every bench core count, so per-probe ratios reflect parallelism,
    * not partition-count noise), and a 100 TB input derives
    * bytes/64 MB capped at 4× the cores. AQE coalescing still rides on
    * top. Production override: `SPARK_GRAFT_SHUFFLE_PARTITIONS`. The
    * input is sized through Hadoop's `FileSystem`, so any URI the
    * readers accept (`file:`, `hdfs:`, object stores) measures the same
    * way; an unreadable dir counts 0 bytes and lands on the floor. */
  def shufflePartitions(sfDir: String, cpus: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse {
      val bytes = scala.util.Try {
        val p = new org.apache.hadoop.fs.Path(sfDir)
        p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          .getContentSummary(p).getLength
      }.getOrElse(0L)
      val target = (bytes + (64L << 20) - 1) / (64L << 20)
      math.max(8L, math.min(4L * cpus, target)).toInt
    }

  /** Write a DataFrame as a bucketed+sorted table. Joins between two
    * tables bucketed on the same key with the same bucket count are
    * shuffle-free (SortMergeJoin reads co-located buckets directly) — the
    * standard layout for repeated fact-fact joins at scale. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Skew-resilient equi join: replicate the build side `salt` times and
    * scatter the probe side across the replicas, so one hot key spreads
    * over `salt` reducers instead of one. Result is row-identical to the
    * plain join (inner, single equi key). AQE's skew-join handles most
    * cases at runtime; explicit salting is for keys AQE cannot split
    * (a single monster group). */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 salt: Int): DataFrame = {
    // Salt from the probe row's own columns (not monotonically_increasing_id):
    // restart-stable — a retried task re-derives identical salts, so
    // speculative execution / stage retry cannot double- or mis-route rows.
    val p = probe.withColumn("__salt",
      pmod(xxhash64(probe.columns.map(col).toIndexedSeq: _*), lit(salt))
        .cast("int"))
    val b = build.withColumnRenamed(key, "__bkey")
      .withColumn("__salt", explode(array((0 until salt).map(lit): _*)))
    p.join(b, col(key) === col("__bkey") && p("__salt") === b("__salt"))
      .drop("__salt").drop("__bkey")
  }

  /** Write partitioned parquet (directory layout = partition column), the
    * layout that turns a predicate into partition pruning at read time. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
}

package graft

import org.apache.spark.sql.functions._
import graft.engine.Scale

/** Plan-level proofs for the scale utilities (SCALING.md): bucketed joins
  * don't shuffle, salted joins match plain joins, partitioned writes prune. */
class ScaleSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = spark.read.parquet(s"$sf/orders.parquet")
      val c = spark.read.parquet(s"$sf/customer.parquet")
        .withColumnRenamed("c_custkey", "o_custkey")
      Scale.writeBucketed(o, "graft_orders_b", "o_custkey", 4)
      Scale.writeBucketed(c, "graft_customer_b", "o_custkey", 4)
      val joined = spark.table("graft_orders_b")
        .join(spark.table("graft_customer_b"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == o.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_customer_b")
    }
  }

  test("salted join returns exactly the plain join's rows under skew") {
    import spark.implicits._
    // skewed probe: one hot key with 5k rows, 50 cold keys
    val probe = ((1 to 5000).map(i => (1L, s"hot$i")) ++
      (1 to 50).map(i => (i.toLong + 1, s"cold$i"))).toDF("k", "v")
    val build = (1 to 60).map(i => (i.toLong, s"dim$i")).toDF("k", "d")
    val plain = probe.join(build, "k")
      .select("k", "v", "d").collect().map(_.toSeq.toString).sorted.toSeq
    val salted = Scale.saltedJoin(probe, build, "k", 8)
      .select(col("k"), col("v"), col("d"))
      .collect().map(_.toSeq.toString).sorted.toSeq
    assert(salted == plain)
  }

  test("shuffle partitions size a file: URI input through Hadoop FS") {
    assume(sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").isEmpty)
    // a 1 GiB SPARSE file (no real disk) = 16 × 64 MB, under 4 × 4 cpus
    val dir = java.nio.file.Files.createTempDirectory("graft_scale")
    val f = new java.io.RandomAccessFile(dir.resolve("big.bin").toFile, "rw")
    try f.setLength(1L << 30) finally f.close()
    try {
      assert(Scale.shufflePartitions(dir.toUri.toString, cpus = 4) == 16)
      assert(Scale.shufflePartitions(sf, cpus = 4) == 8, "local sf floor")
    } finally {
      dir.resolve("big.bin").toFile.delete(); dir.toFile.delete()
    }
  }

  test("partitioned write enables partition pruning at read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    Scale.writePartitioned(li, s"$dir/li", "l_returnflag")
    val pruned = spark.read.parquet(s"$dir/li")
      .where(col("l_returnflag") === "A")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
           plan.replaceAll("\\s", "").contains("l_returnflag"),
      s"expect partition pruning:\n$plan")
    assert(pruned.count() == li.where("l_returnflag = 'A'").count())
  }
}

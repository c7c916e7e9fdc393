package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.GraftCatalog

class StoreCheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory("perfbench-spec")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", dir.resolve("tmp").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Fs.deleteTree(dir)
  }

  test("the store model check accepts the built store and rejects a corrupted one") {
    val data = dir.resolve("sf0.001")
    DataGen.ensure(spark, data, 0.001)
    val root = dir.resolve("catalog").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    Store.build(spark, data.toString, root, "t")
    val store = s"$root/t"
    val model = StoreModel.load(spark, data.toString)
    assert(model.diff(Store.monthAggs(spark, store)).isEmpty)

    // a write the model did not see: one price changed behind its back
    val victim = Store.source(spark, data.toString)
      .where(col(Store.Key) === 3).withColumn("o_totalprice",
        col("o_totalprice") + 1)
    Store.upsert(spark, store, victim)
    val diff = model.diff(Store.monthAggs(spark, store))
    assert(diff.size == 1, diff)

    // the model catches up with the same write and agrees again
    model.setLive(3, model.cents(3) + 100)
    assert(model.diff(Store.monthAggs(spark, store)).isEmpty)
  }

  test("a deleted row the model still holds is a mismatch") {
    val data = dir.resolve("sf0.001")
    DataGen.ensure(spark, data, 0.001)
    val root = dir.resolve("catalog2").toString
    spark.conf.set("spark.sql.catalog.graft.root", root)
    Store.build(spark, data.toString, root, "t")
    val store = s"$root/t"
    val model = StoreModel.load(spark, data.toString)
    import spark.implicits._
    graft.ops.MergeOps.mergeDelete(spark, store, Seq(5L).toDF(Store.Key),
      Store.Key, Store.Part)
    assert(model.diff(Store.monthAggs(spark, store)).nonEmpty)
    assert(model.kill(5))
    assert(model.diff(Store.monthAggs(spark, store)).isEmpty)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session mirroring the harness config (SURVEY §5):
  * small shuffle partition count, UTC, no UI. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh, not-yet-existing temp dir path for a store. */
  def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.delete(); d.getAbsolutePath
  }

  /** `n` rows of (k, v = k × 10, p = "E"/"O" by parity of k). */
  def corpus(n: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, i * 10.0, if (i % 2 == 0) "E" else "O"))
      .toDF("k", "v", "p")
  }
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}

package graft.tools

import graft.SparkEntry

/** Dev tool: print the formatted physical plan for one or more declared
  * queries. Usage: runMain graft.tools.Explain <sfDir> <query> [query...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = DevSession(cpus = 4, shufflePartitions = 4)
    args.tail.foreach { q =>
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

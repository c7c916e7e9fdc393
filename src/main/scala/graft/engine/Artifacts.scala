package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one owner of the on-disk state the engine derives from a dataset
  * dir (SCALING.md, "Standing artifacts and scratch stores"): how a dir
  * becomes a path key, where a declared query's scratch store lives, how
  * a torn build-once artifact is detected and redone, and how long an
  * in-memory memo of any of them lives. */
object Artifacts {

  /** Path key of dataset dir `d`: every run of non-alphanumerics becomes
    * one `_`, leading `_`s dropped (`/data/sf0.1` → `data_sf0_1`). */
  private[graft] def key(d: String): String =
    d.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+", "")

  /** `<java.io.tmpdir>/graft_<name>_<key(d)><suffix>`, deleted first if
    * it exists: a declared query's output must be a function of its input
    * dir, never of a prior run's leftovers. `suffix` names a sibling of
    * one store (`_out`, `_ck`). */
  def scratchDir(s: SparkSession, name: String, d: String,
                 suffix: String = ""): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
                               s"graft_${name}_${key(d)}$suffix")
      .getAbsolutePath
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }

  /** `<warehouse>/graft_<name>_<key(d)>`, built once per warehouse and
    * durable across processes. The artifact is complete iff its
    * `_SUCCESS` marker exists and `current` accepts it; otherwise the dir
    * is deleted, `write` rebuilds it and the marker is written last, so a
    * crash mid-build never reads as a finished artifact. */
  def standing(s: SparkSession, name: String, d: String,
               current: String => Boolean = _ => true)
              (write: String => Unit): String = {
    val loc = new Path(s.sessionState.conf.warehousePath,
                       s"graft_${name}_${key(d)}")
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new Path(loc, "_SUCCESS")
    if (!(fs.exists(marker) && current(loc.toString))) {
      if (fs.exists(loc)) fs.delete(loc, true)
      write(loc.toString)
      fs.create(marker, true).close()
    }
    loc.toString
  }

  private val memos = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Any]
  private object lock

  /** `build`, once per (session, name, dataset dir). A new session misses
    * and re-probes, which is what a restart or a refreshed dataset needs;
    * entries of stopped sessions are dropped at the next miss. */
  def memo[T](s: SparkSession, name: String, d: String)(build: => T): T =
    memos.getOrElse((s, name, d), lock.synchronized {
      memos.getOrElse((s, name, d), {
        memos.keys.filter(_._1.sparkContext.isStopped)
          .foreach(memos.remove)
        val v = build
        memos.put((s, name, d), v)
        v
      })
    }).asInstanceOf[T]
}

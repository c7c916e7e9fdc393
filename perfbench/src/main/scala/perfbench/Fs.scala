package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the benchmark's own directories. */
object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }

  /** Bytes of every regular file under `p`. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val all = Files.walk(p)
      try all.iterator.asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally all.close()
    }
}

package perfbench

import java.nio.file.{Files => JFiles, Path}

import scala.jdk.CollectionConverters._

/** Local-directory helpers for the benchmark's own working tree. */
object Files {

  def delete(p: Path): Unit =
    if (JFiles.exists(p)) {
      val all = JFiles.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(JFiles.delete)
      finally all.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val all = JFiles.walk(src)
    try all.iterator().asScala.foreach { s =>
      val d = dst.resolve(src.relativize(s).toString)
      if (JFiles.isDirectory(s)) JFiles.createDirectories(d)
      else JFiles.copy(s, d)
    } finally all.close()
  }

  /** Every regular file under `p` with its size, keyed by path. */
  def sizes(p: Path): Map[String, Long] =
    if (!JFiles.exists(p)) Map.empty
    else {
      val all = JFiles.walk(p)
      try all.iterator().asScala.filter(JFiles.isRegularFile(_))
        .map(f => f.toString -> JFiles.size(f)).toMap
      finally all.close()
    }

  /** The one parquet part file Spark wrote under a single-partition output. */
  def partFile(dir: Path): Path = {
    val parts = JFiles.list(dir)
    try parts.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq match {
      case Seq(one) => one
      case other => sys.error(s"expected one part file in $dir, found ${other.size}")
    } finally parts.close()
  }
}

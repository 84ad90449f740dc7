package perfbench

import java.io.File

object Files {
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  def bytesUnder(f: File): Long = walk(f).filter(_.isFile).map(_.length).sum

  /** Parquet data files under `f` (Spark's part files). */
  def partFiles(f: File): Int = walk(f).count(g => g.getName.startsWith("part-"))

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

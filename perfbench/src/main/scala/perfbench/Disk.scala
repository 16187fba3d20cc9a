package perfbench

import java.io.File

/** Local-disk figures of the run's private root. */
object Disk {
  private def files(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f) else Nil
    walk(new File(path))
  }

  /** Data files: Spark's `.crc` twins and `_SUCCESS` markers excluded. */
  def dataFiles(path: String): Seq[File] =
    files(path).filterNot(f => f.getName.endsWith(".crc") || f.getName == "_SUCCESS")

  def bytes(path: String): Long = dataFiles(path).map(_.length).sum

  def paths(path: String): Set[String] = dataFiles(path).map(_.getPath).toSet

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }
}

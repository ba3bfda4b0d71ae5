package graftbench

import java.nio.file.{Files => JFiles, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Local-directory helpers for fresh input copies and artifact sizes. */
object Dirs {
  /** Copy a directory tree. A copy is a path the JVM has never read, so
    * no plan-keyed memo inside graft can answer for it.
    */
  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val walk = JFiles.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(target)
      else JFiles.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Bytes of the parquet data files under a directory (sidecars,
    * checksums and markers excluded).
    */
  def dataBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) return 0L
    val walk = JFiles.walk(root)
    try walk.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      JFiles.isRegularFile(p) && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_") &&
        !p.toString.contains("/_")
    }.map(JFiles.size(_: Path)).sum
    finally walk.close()
  }
}

package graft.util

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Local-filesystem tree helpers shared by every commit protocol. */
private[graft] object FileTree {
  /** Delete `p` and everything under it, children before parents; a
    * missing `p` is a no-op. */
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally s.close()
  }
}

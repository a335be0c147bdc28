package graft.store

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** When each superseded data file left its manifest — the clock a
  * log's `vacuum(graceMs)` ages such files by. A file's mtime is its
  * CREATION time, so by mtime a compaction's just-retired generation
  * looks as old as its data, and a short grace deletes files a reader
  * listed moments ago. File mtimes are never touched (the Subscribe file
  * source tracks files by path and mtime).
  *
  * One `name<TAB>epochMillis` line per retired file, rewritten by atomic
  * rename just BEFORE the manifest commit that drops the files: a crash
  * in between leaves entries for files the manifest still lists, which
  * vacuum never considers and a later real retirement overwrites. Files
  * without an entry — crash orphans that were never listed, or files
  * retired before the log existed — age by mtime.
  */
private[graft] object RetiredFiles {
  def read(log: Path): Map[String, Long] =
    if (!Files.exists(log)) Map.empty
    else Files.readAllLines(log).asScala.iterator.map(_.split('\t'))
      .collect { case Array(n, t) => n -> t.toLong }.toMap

  private def write(log: Path, at: Map[String, Long]): Unit = {
    val tmp = log.resolveSibling(s"${log.getFileName}.tmp")
    Files.writeString(tmp, at.toSeq.sorted.map { case (n, t) => s"$n\t$t\n" }.mkString)
    Files.move(tmp, log, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Record `names` as retired now — call right before the commit that
    * drops them from the manifest. */
  def retire(log: Path, names: Seq[String]): Unit =
    if (names.nonEmpty) {
      val now = System.currentTimeMillis()
      write(log, read(log) ++ names.map(_ -> now))
    }

  /** Drop the entries of deleted files. */
  def forget(log: Path, names: Seq[String]): Unit =
    if (names.nonEmpty) write(log, read(log) -- names)

  /** When `file` (recorded as `name`) stopped being readable: its
    * retirement if recorded, else its mtime. */
  def since(at: Map[String, Long], name: String, file: Path): Long =
    at.getOrElse(name, Files.getLastModifiedTime(file).toMillis)
}

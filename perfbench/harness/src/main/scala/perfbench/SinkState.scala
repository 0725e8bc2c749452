package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The persisted-layout state graft keeps between processes.
  *
  * `QShared.sink(dir, name)` places every layout of a data dir at
  * `<root>/<name>_<hex(dir.hashCode)>`, guarded by a sibling `.lock` file,
  * and later processes reuse what they find. A benchmark run that does not
  * declare this state measures a cold pass with or without the layout
  * builds depending on what an earlier process left behind, so the run
  * removes its own data dir's entries before the cold pass and leaves the
  * entries of every other dir alone. */
object SinkState {

  /** (root directory, entry-name suffix) the program uses for `dataDir`. */
  def of(dataDir: String): (File, String) = {
    val probe = new File(graft.queries.QShared.sink(dataDir, "probe"))
    (probe.getParentFile, probe.getName.stripPrefix("probe"))
  }

  /** Entries under `root` that belong to the dir with this suffix. */
  def owned(root: File, suffix: String): Seq[File] =
    Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.getName.endsWith(suffix) || f.getName.endsWith(suffix + ".lock"))
      .sortBy(_.getName)

  /** Everything under `root` that does not belong to the suffix, as
    * (name, mtime, bytes) of every file beneath it: the fingerprint a run
    * must leave unchanged. */
  def others(root: File, suffix: String): Seq[(String, Long, Long)] = {
    val mine = owned(root, suffix).toSet
    Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filterNot(mine).sortBy(_.getName).flatMap { top =>
        val stream = Files.walk(top.toPath)
        try stream.iterator().asScala.toSeq.map { p: Path =>
          val f = p.toFile
          (root.toPath.relativize(p).toString, f.lastModified(), if (f.isFile) f.length() else 0L)
        } finally stream.close()
      }
  }

  /** Remove this dir's entries; returns the names removed. */
  def clear(root: File, suffix: String): Seq[String] =
    owned(root, suffix).map { f =>
      delete(f)
      f.getName
    }

  private def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    Files.deleteIfExists(f.toPath)
  }
}

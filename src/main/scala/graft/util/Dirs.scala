package graft.util

import java.nio.file.{Files, LinkOption, NoSuchFileException, Path}
import scala.jdk.CollectionConverters._

/** The one directory walker: the table store's version, log and
  * data-file listings, its vacuum and force-refresh deletes, and the
  * query scratch dirs all go through these two functions. A directory
  * that is missing, or removed concurrently (a vacuum racing a merge),
  * lists as empty and deletes as a no-op.
  */
object Dirs {

  /** Immediate children of `dir`; empty when it does not exist. */
  def list(dir: Path): Vector[Path] =
    try {
      val stream = Files.list(dir)
      try stream.iterator().asScala.toVector finally stream.close()
    } catch { case _: NoSuchFileException => Vector.empty }

  /** Delete `p` and everything under it. Symlinks are removed, never
    * followed.
    */
  def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) list(p).foreach(rmTree)
    Files.deleteIfExists(p)
  }
}

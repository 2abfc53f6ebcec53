package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.util.Using

/** Local scratch directories for the streaming/sink queries, the probes
  * and the specs. */
object Dirs {

  /** Deletes `p` and everything under it; nothing when `p` is absent.
    * The walk stream is closed: it holds open directory handles. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Using.resource(Files.walk(p)) { s =>
      s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }

  /** An empty directory at `path`, whatever was there before. */
  def fresh(path: String): Path = {
    val p = Paths.get(path)
    deleteTree(p)
    Files.createDirectories(p)
  }
}

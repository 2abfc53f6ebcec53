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

  /** The emptied scratch root of query `tag` over the testdata directory
    * `sfDir`: `/tmp/graft-stream/<tag>-<sfDir>` for the streaming and ANN
    * queries, `/tmp/graft-sink/...` for the sink queries, with every
    * character of `sfDir` outside `[0-9a-zA-Z.]` replaced by `_`. */
  def stream(tag: String, sfDir: String): Path =
    query("/tmp/graft-stream", tag, sfDir)

  def sink(tag: String, sfDir: String): Path =
    query("/tmp/graft-sink", tag, sfDir)

  private def query(base: String, tag: String, sfDir: String): Path =
    fresh(s"$base/$tag-${sfDir.replaceAll("[^0-9a-zA-Z.]", "_")}")
}

package graft.exec

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

/** The one owner of registry entries' scratch directories: chunk
  * replays, streaming state, sinks, written layouts and indexes.
  *
  * A key's directory is `<root>/<key>`, created on first use and the same
  * for the rest of the JVM. The root is one temp directory per JVM,
  * deleted (best effort) when the JVM exits. Paths are per JVM because a
  * fixed path races any concurrent process running the same entry (an
  * overwrite deletes part-files under the other run's reader), and
  * per-invocation paths pile up copies of the input across runs. An
  * entry re-run in the same JVM overwrites its files, or starts from
  * [[fresh]] where it appends. */
object WorkDirs {
  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft_work")
    sys.addShutdownHook(try delete(r) catch { case NonFatal(_) => })
    r
  }
  private val dirs = new ConcurrentHashMap[String, String]()

  /** `<root>/<key>`, created once per JVM. */
  def apply(key: String): String =
    dirs.computeIfAbsent(key, k => Files.createDirectories(root.resolve(k)).toString)

  /** [[apply]], emptied first: for output a run appends to. */
  def fresh(key: String): String = {
    val dir = Paths.get(apply(key))
    delete(dir)
    Files.createDirectories(dir).toString
  }

  /** Deletes `path` and everything under it, if it exists. */
  def delete(path: Path): Unit = if (Files.exists(path)) {
    val walk = Files.walk(path)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))
    finally walk.close()
  }
}

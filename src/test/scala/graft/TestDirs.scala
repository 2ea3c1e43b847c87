package graft

import java.nio.file.{Files, Path}

import graft.exec.WorkDirs

/** The one owner of the specs' temp directories: each is a fresh
  * directory under [[WorkDirs]]' per-JVM root, so the root's shutdown
  * hook deletes it with everything the entries wrote, and a suite run
  * leaves nothing in `java.io.tmpdir`. */
object TestDirs {
  /** A new empty directory whose name starts with `prefix`. */
  def apply(prefix: String): Path = Files.createTempDirectory(WorkDirs.root, prefix)
}

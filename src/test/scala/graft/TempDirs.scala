package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Scratch directories for specs: made in the JVM temp dir, removed
  * (recursively) once the body is done, whether it passed or threw. */
object TempDirs {

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  /** Run `body` on a fresh temp directory, then delete it. A spec that
    * starts a streaming query over it must stop the query inside `body`. */
  def withTempDir[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("graft-spec")
    try body(dir) finally deleteRecursively(dir)
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** ARCHITECTURE.md's rule for `graft.tools`: it keeps only mains that a
  * script under `tools/`, README.md or a spec runs. A script or README.md
  * runs a main by naming it; a spec runs it only by calling `Name.main(`
  * (a spec that only uses a helper on the object does not run the main).
  * A main nothing runs is a probe whose finding belongs in PLANS.md, not
  * in `src/main`. */
class ToolMainsSpec extends AnyFunSuite {
  private val root = Paths.get("").toAbsolutePath
  private val toolsSrc = root.resolve("src/main/scala/graft/tools")

  private def files(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }
  private def read(p: Path) = new String(Files.readAllBytes(p), UTF_8)

  /** Every top-level `object Name` whose body holds a `def main(`. */
  private def toolMains: Seq[String] = files(toolsSrc).flatMap { f =>
    val src = read(f)
    val objs = "(?m)^object (\\w+)".r.findAllMatchIn(src).toList
    objs.zip(objs.drop(1).map(_.start) :+ src.length).collect {
      case (m, end) if src.substring(m.start, end).contains("def main(") => m.group(1)
    }
  }.sorted

  test("every graft.tools main is run by a tools/ script, README.md or a spec") {
    assert(Files.isDirectory(toolsSrc), s"run from the repo root (cwd $root)")
    val self = root.resolve("src/test/scala/graft/ToolMainsSpec.scala")
    val scripts = (files(root.resolve("tools")) :+ root.resolve("README.md")).map(read)
    val specs = files(root.resolve("src/test")).filter(_ != self).map(read)
    val mains = toolMains
    assert(mains.nonEmpty)
    val unrun = mains.filterNot(n =>
      scripts.exists(s"\\b$n\\b".r.findFirstIn(_).isDefined) ||
        specs.exists(s"\\b$n\\.main\\(".r.findFirstIn(_).isDefined))
    assert(unrun.isEmpty, s"tool mains nothing runs: ${unrun.mkString(", ")}")
  }
}

package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable tool needs a caller: a spec, a step of the gate script,
  * or a documented run command. A main that nothing names is a one-off
  * probe that copies operator internals and goes stale at the next edit;
  * its numbers belong in the ledgers, its code in git history. */
class ToolReferenceSpec extends AnyFunSuite {
  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def scalaFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** names of the objects in `src` whose body defines `main` */
  private def mains(src: String): Seq[String] = {
    val objs = "\\bobject\\s+(\\w+)".r.findAllMatchIn(src).toList
    objs.zip(objs.drop(1).map(_.start) :+ src.length).collect {
      case (m, end) if src.substring(m.start, end).contains("def main(") =>
        m.group(1)
    }
  }

  test("every tool main is named by a spec, the gate script or the run docs") {
    val tools = scalaFiles("src/main/scala/graft/tools").flatMap(p => mains(read(p)))
    assert(tools.contains("PlanDump"), s"main detection found only $tools")
    val callers =
      (scalaFiles("src/test").filterNot(_.endsWith("ToolReferenceSpec.scala")) ++
        Seq("tools/run_gates.sh", "README.md", ".claude/skills/verify/SKILL.md")
          .map(Paths.get(_)).filter(Files.exists(_))).map(read).mkString("\n")
    val orphans = tools.filterNot(t => s"\\b$t\\b".r.findFirstIn(callers).isDefined)
    assert(orphans.isEmpty,
      s"tool mains with no caller (add a spec, a run_gates.sh step or a " +
        s"documented run command, or delete them): ${orphans.sorted.mkString(", ")}")
  }
}

package graft.functions

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Which kernels exist, and how each is built from its SQL arguments, is
  * written once: the [[Kernels]] table. A second registration site, or a
  * Column entry point resolving a name the table lacks, is a copy that
  * drifts (GraftExtensions once missed ten kernels that way). */
class KernelTableSpec extends AnyFunSuite {
  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def scalaFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private val main = scalaFiles("src/main").map(p => p -> read(p))

  test("temp functions are registered in one file") {
    val sites = main.collect { case (p, s) if s.contains("createOrReplaceTempFunction") => p }
    assert(sites.map(_.getFileName.toString) == Seq("Kernels.scala"), sites)
  }

  test("no graft.functions file but Kernels resolves a kernel by name") {
    val callers = main.collect {
      case (p, s) if p.toString.contains("graft/functions/") &&
          !p.endsWith("Kernels.scala") && s.contains("call_function(\"") => p
    }
    assert(callers.isEmpty, callers)
  }

  test("every name passed to Kernels.call is a table key") {
    val called = main.flatMap { case (_, s) =>
      "Kernels\\.call\\(\\s*\"(\\w+)\"".r.findAllMatchIn(s).map(_.group(1))
    }.toSet
    assert(called.size >= 30, s"scan found only $called")
    val unknown = called -- Kernels.all.keySet
    assert(unknown.isEmpty, s"Kernels.call names outside the table: $unknown")
  }
}

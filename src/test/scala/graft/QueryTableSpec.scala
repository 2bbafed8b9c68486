package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract is one table of `SparkEntry.Query` records; the maps
  * every caller reads are derived from it. These checks need no session. */
class QueryTableSpec extends AnyFunSuite {

  test("query names are unique, so the derived maps drop none") {
    val names = SparkEntry.table.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  test("every query has an oracle: queries and oracleSql share 220 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 220)
  }

  test("the wire = false queries are the frames perfbench lists as unproducible") {
    val src = new String(Files.readAllBytes(
      Paths.get("perfbench/src/main/scala/perfbench/Workloads.scala")), "UTF-8")
    val start = src.indexOf("val unproducible")
    assert(start >= 0, "Workloads.unproducible not found")
    val listed = "\"(\\w+)\"".r.findAllMatchIn(src.substring(start, src.indexOf(".map(", start)))
      .map(_.group(1)).toSet
    assert(listed.size == 5, listed)
    assert(SparkEntry.table.filterNot(_.wire).map(_.name).toSet == listed)
  }

  test("select returns the named entries, all of them, or rejects an unknown name") {
    assert(SparkEntry.select(Seq("q01_scan_project", "d01_dedup_exact")).map(_._1) ==
      Seq("q01_scan_project", "d01_dedup_exact"))
    assert(SparkEntry.select(Nil).map(_._1).toSet == SparkEntry.queries.keySet)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q01_scan_project", "q20_typo")))
    assert(e.getMessage.contains("q20_typo"))
    assert(e.getMessage.contains("valid names: ") && e.getMessage.contains("q01_scan_project"))
  }
}

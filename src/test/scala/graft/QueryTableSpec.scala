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

  /** Every `Query(` record in SparkEntry.scala whose builder runs `s.sql(`:
    * name → its triple-quoted strings after stripMargin, in source order. */
  private def twoTextRecords: Map[String, Seq[String]] = {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val starts = "(?m)^    Query(\\.sql)?\\(\"([a-z0-9_]+)\"".r.findAllMatchIn(src).toSeq
    assert(starts.size == 220, s"found ${starts.size} query records")
    val texts = "(?s)\"\"\"(.*?)\"\"\"".r
    starts.zipWithIndex.collect {
      case (m, i) if m.group(1) == null =>
        val tableEnd = src.indexOf("\n  )\n", m.start)
        val end = if (i + 1 < starts.size) starts(i + 1).start else tableEnd
        m.group(2) -> src.substring(m.start, end)
    }.collect {
      case (name, block) if block.contains("s.sql(") =>
        name -> texts.findAllMatchIn(block).map(_.group(1).stripMargin).toSeq
    }.toMap
  }

  test("a SQL-built Query keeps two texts only where they differ, for the known seven") {
    val records = twoTextRecords
    val odd = records.filter(_._2.size != 2).keys
    assert(odd.isEmpty, s"expected an oracle and a builder text: ${odd.mkString(", ")}")
    val same = records.filter(r => r._2(0) == r._2(1)).keys.toSeq.sorted
    assert(same.isEmpty,
      s"${same.size} records run their oracle text; use Query.sql: ${same.mkString(", ")}")
    assert(records.keySet == Set("q38_lateral", "q40_pivot", "q42_window_ignore_nulls",
      "q63_tpch_q12_priority", "q66_tpch_q4_late", "q67_tpch_q6_forecast",
      "q68_tpch_q17_smallqty"))
  }

  test("every Query.sql record's oracle is the text its builder runs") {
    val sqlBuilt = SparkEntry.table.flatMap(q => q.build match {
      case SparkEntry.SqlBuild(text) => Some(q -> text)
      case _                         => None
    })
    assert(sqlBuilt.size == 37)
    sqlBuilt.foreach { case (q, text) => assert(q.oracle == text, q.name) }
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

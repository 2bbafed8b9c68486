package graft.substrait

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each Substrait message's layout — field numbers, wire types, defaults —
  * is written once, in the message table of [[Wire]], and only
  * [[WireCodec]] frames bytes. A hand-written reader or writer elsewhere
  * (a field loop, a `(field, wireType)` match, a raw varint read) is a
  * second copy of the layout that drifts from the first. */
class WireTableSpec extends AnyFunSuite {
  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private val main: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.map(p => p -> read(p))
    finally s.close()
  }

  private val framing = Seq(
    "field loop" -> """\.fields\s*\{""",
    "sub-message read" -> """\.lenDelim\(\)""",
    "raw varint read" -> """\.varint\(\)""",
    "raw bytes read" -> """\.rawBytes\(\)""",
    "writer or reader built by hand" -> """new [WR]\(""",
    "(field, wire type) match" -> """case\s*\(\s*\d+\s*,\s*[0-5]\s*\)""")

  test("protobuf framing appears only in WireCodec") {
    assert(main.exists(_._1.endsWith("WireCodec.scala")) && main.size > 50, "scan found no sources")
    val hits = for {
      (p, s) <- main if !p.endsWith("WireCodec.scala")
      (what, re) <- framing if re.r.findFirstIn(s).isDefined
    } yield s"$p: $what"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the scan sees the framing WireCodec itself does") {
    val codec = main.collectFirst { case (p, s) if p.endsWith("WireCodec.scala") => s }.get
    val seen = framing.collect { case (what, re) if re.r.findFirstIn(codec).isDefined => what }
    assert(seen.toSet == Set("sub-message read", "raw varint read", "raw bytes read",
      "writer or reader built by hand"), seen)
  }
}

package graft.tools

import java.security.MessageDigest

import graft.{Session, SparkEntry}
import graft.substrait.Serializer

/** Print one `<query> <sha-256 of its wire bytes>` line per driver query:
  * `runMain graft.tools.WireDigest <sfDir> [query...]`; no query names lists
  * all of them, in table order. The bytes are `Serializer.toBytes` of the
  * query's frame before its wire hop; a query that does not produce prints
  * its error instead. The scratch paths of stateful queries carry this
  * JVM's pid and the names of the files they wrote; these
  * are masked in place, so the listings of two builds compare with `diff`
  * (as long as the two pids have equally many digits).
  */
object WireDigest {
  /** A written file's version and commit id (`/v2-1a2b3c4d`), task part
    * number and UUID. */
  private val Masks = Seq("/v[0-9]+-[0-9a-f]{8}".r, "part-[0-9]{5}".r,
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: WireDigest <sfDir> [query...]")
    val names = args.tail.toSet
    val spark = Session.local(Session.envCpus(4))
    val pid = ProcessHandle.current().pid().toString
    SparkEntry.table.filter(q => names.isEmpty || names(q.name)).foreach { q =>
      val digest = try {
        val bytes = Masks.foldLeft(
            new String(Serializer.toBytes(q.build(spark, args(0))), "ISO-8859-1")
              .replace(s"-p$pid", "-p" + "X" * pid.length)) { (s, re) =>
          re.replaceAllIn(s, m => "X" * m.matched.length)
        }.getBytes("ISO-8859-1")
        MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
      } catch { case e: Exception => s"error ${e.getClass.getSimpleName}: ${e.getMessage}" }
      println(s"${q.name} $digest")
    }
    spark.stop()
  }
}

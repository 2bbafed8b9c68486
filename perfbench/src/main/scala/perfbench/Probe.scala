package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Every `SparkEntry.queries` query, twice in one JVM: build, fingerprint, and (where the
  * frame is producible) the translation round trip. Writes the second pass's
  * timings to `probe.tsv` and the fingerprints to `fingerprints.tsv`, noting
  * any query whose fingerprint differed between the passes. With `verified`,
  * the directory `graft.Verify` wrote its results to, each fingerprint is
  * also compared with that of the stored result. Used to size the workloads
  * and to record the expected fingerprints. */
object Probe {
  def run(spark: SparkSession, dir: String, out: Path,
          expected: Map[String, Fingerprint.Value], verified: Option[String]): Unit = {
    Tables.register(spark, dir)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val seen = scala.collection.mutable.Map.empty[String, Fingerprint.Value]
    val rows = scala.collection.mutable.ArrayBuffer(
      "query\tbuild_ms\texec_ms\troundtrip_ms\tconsume_ms\tplan_bytes\troundtrip_ok\tstable\texpected\tverified")
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
    }
    for (pass <- 1 to 2; n <- names) {
      try {
        val (df, buildMs) = time(SparkEntry.queries(n)(spark, dir))
        val (v, execMs) = time(Fingerprint.read(Fingerprint.frame(df)))
        val rt =
          if (Workloads.unproducible.contains(n)) "\t\t\texcluded"
          else {
            val tr = new Tracer(spark.sparkContext, enabled = true)
            tr.beginOp(0)
            val op = new RoundTripOp(n, spark, df)
            val (check, ms) = time(op.run(tr))
            val consume = tr.spans.filter(_.name == "substrait.consume").map(_.ms).sum
            f"$ms%.1f\t$consume%.1f\t${tr.planBytes.sum}\t${check()}"
          }
        if (pass == 1) seen(n) = v
        else rows += f"$n\t$buildMs%.1f\t$execMs%.1f\t$rt\t${seen.get(n).contains(v)}\t" +
          expected.get(n).fold("none")(e => (e == v).toString) + "\t" +
          verified.fold("none")(d => (Fingerprint.read(Fingerprint.frame(
            spark.read.parquet(s"$d/$n"))) == v).toString)
      } catch {
        case e @ (NonFatal(_) | _: StackOverflowError) =>
          System.err.println(s"probe: $n failed in pass $pass: $e")
          if (pass == 2) rows += s"$n\tERROR\t${e.toString.take(200).replace('\t', ' ')}"
      }
      System.err.println(s"probe: pass $pass $n")
    }
    Files.createDirectories(out)
    Files.write(out.resolve("probe.tsv"), rows.asJava, UTF_8)
    Files.write(out.resolve("fingerprints.tsv"),
      seen.toSeq.sortBy(_._1).map { case (n, v) => s"$n\t$v" }.asJava, UTF_8)
  }
}

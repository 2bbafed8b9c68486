package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark client: one client thread issuing ops in a closed loop.
  *
  * A run sets up `SetUps` times (the first from JVM start, the others in a
  * fresh session of the same context), runs one untimed warm-up pass, then
  * measures ceil(--seconds / the workload's nominal pass time) whole passes
  * over the workload's ops, each in a seeded order. With `--trace 1` every
  * second pass is traced;
  * the untraced passes between them give the tracing overhead. The result
  * line goes to `--result`; the launch state, per-query table and spans go
  * to `--out`. See perfbench/README.md for the metric definitions. */
object Main {
  val SetUps = 3

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
    def data: String = apply("data")
    def out: Path = Paths.get(apply("out"))
    def cores: Int = apply("cores").toInt
  }

  final case class Sample(op: String, ms: Double, ok: Boolean, traced: Boolean)

  /** Progress to the JVM log, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val s = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench +$s%.1fs] $msg")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val loadStart = Jvm.loadAvg
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .config("spark.local.dir", a("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session ready")
    try {
      val expected = Expected.read(Paths.get(a("expected")))
      a.kv.getOrElse("mode", "run") match {
        case "probe" => Probe.run(spark, a.data, a.out, expected, a.kv.get("verified"))
        case _ => run(spark, a, expected, loadStart)
      }
    } finally spark.stop()
  }

  private def run(spark0: SparkSession, a: Args, expected: Map[String, Fingerprint.Value],
                  loadStart: Double): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workloads.all(expected).getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}"))
    val sc = spark0.sparkContext

    // ---- set-up, several times; setup_s is the median
    val setups = mutable.ArrayBuffer.empty[Double]
    var ops: Seq[Op] = Nil
    for (i <- 0 until SetUps) {
      val t0 = System.nanoTime()
      val session = if (i == 0) spark0 else spark0.newSession()
      // graft registers its kernels in the active session
      SparkSession.setActiveSession(session)
      ops = workload.prepare(session, a.data, a.seed)
      setups += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                 else (System.nanoTime() - t0) / 1e9)
      log(f"set-up ${i + 1}: ${setups.last}%.2f s")
    }

    val tracer = new Tracer(sc, enabled = false)
    val stats = new SparkStats
    if (a.trace) sc.addSparkListener(stats)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val failures = mutable.ArrayBuffer.empty[String]
    var opId = 0
    def pass(order: Seq[Op], traced: Boolean, record: Boolean): Unit = {
      tracer.enabled = traced
      order.foreach { op =>
        opId += 1
        tracer.beginOp(opId)
        sc.setJobGroup(s"op-$opId", op.name)
        val t0 = System.nanoTime()
        val check = try Right(tracer.span("op")(op.run(tracer)))
          catch { case e @ (NonFatal(_) | _: StackOverflowError) => Left(e) }
        val ms = (System.nanoTime() - t0) / 1e6
        val ok = check match {
          case Right(c) =>
            try c() catch { case e @ (NonFatal(_) | _: StackOverflowError) => false }
          case Left(_) => false
        }
        if (!ok) {
          val why = check.left.toOption.fold("wrong result")(e => s"${e.getClass.getName}: ${e.getMessage}")
          failures += s"${op.name}: ${why.take(300)}"
          System.err.println(s"perfbench: op ${op.name} failed: ${why.take(300)}")
        }
        if (traced && check.isRight) {
          tracer.beginShadow()
          try op.shadow(tracer) catch { case NonFatal(e) =>
            System.err.println(s"perfbench: shadow of ${op.name} failed: $e") }
        }
        if (record) samples += Sample(op.name, ms, ok, traced)
        else log(f"warm-up ${op.name}: $ms%.0f ms")
      }
      sc.clearJobGroup()
      tracer.enabled = false
    }

    // ---- warm-up: one untimed pass, so JIT and codegen caches are filled
    val rnd = new Random(a.seed)
    val warm0 = System.nanoTime()
    pass(rnd.shuffle(ops), traced = false, record = false)
    val warmupS = (System.nanoTime() - warm0) / 1e9
    failures.clear()

    // ---- measured window: a fixed number of whole passes
    val pre = Jvm.counters()
    val w0 = System.nanoTime()
    val passes = math.max(if (a.trace) 2 else 1, math.ceil(a.seconds / workload.passSeconds).toInt)
    for (p <- 0 until passes)
      pass(rnd.shuffle(ops), traced = a.trace && p % 2 == 1, record = true)
    val windowS = (System.nanoTime() - w0) / 1e9
    log(f"window: $passes passes, ${samples.size} ops, $windowS%.1f s")
    val post = Jvm.counters()
    val liveHeapMb = Jvm.liveHeapMb()
    val loadEnd = Jvm.loadAvg

    val attempted = samples.size
    val failed = samples.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val ms = samples.map(_.ms).toSeq
        Seq(
          ("setup_s", Stats.median(setups.toSeq), "s"),
          ("ops_per_s", samples.count(_.ok) / windowS, "1/s"),
          ("op_ms_p50", Stats.median(ms), "ms"),
          ("op_ms_p90", Stats.percentile(ms, 0.9), "ms"),
          ("cpu_ms_per_op", (post("cpu_ms") - pre("cpu_ms")) / attempted, "ms"),
          ("live_heap_mb", liveHeapMb, "MB"),
        )
      } else {
        org.apache.spark.perfbench.Bus.drain(sc)
        Layers.metrics(tracer, stats.bySpan(tracer.spans), samples.toSeq, pre, post, a.cores)
      }

    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
    ))
    Files.write(Paths.get(a("result")), (result + "\n").getBytes(UTF_8))

    // ---- the artifact: launch state, per-query table, spans
    val perQuery = samples.groupBy(_.op).toSeq.sortBy(_._1).map { case (q, ss) =>
      q -> Json.obj(Seq("ms" -> Json.arr(ss.map(s => Json.num(s.ms)).toSeq),
        "traced" -> Json.arr(ss.map(_.traced.toString).toSeq),
        "failed" -> ss.count(!_.ok).toString))
    }
    val tag = s"${a.workload}-trace${if (a.trace) 1 else 0}-seed${a.seed}"
    Files.createDirectories(a.out)
    Files.write(a.out.resolve(s"$tag.json"), (Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> a.trace.toString,
      "source" -> Json.str(a("source")),
      "cores" -> a.cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "loadavg_1m" -> Json.obj(Seq("start" -> Json.num(loadStart), "end" -> Json.num(loadEnd))),
      "jvm" -> Json.obj(Seq("window_start" -> Json.obj(pre.toSeq.sorted.map(kv => kv._1 -> Json.num(kv._2))),
        "window_end" -> Json.obj(post.toSeq.sorted.map(kv => kv._1 -> Json.num(kv._2))))),
      "setups_s" -> Json.arr(setups.toSeq.map(Json.num)),
      "warmup_s" -> Json.num(warmupS),
      "window_s" -> Json.num(windowS),
      "passes" -> passes.toString,
      "ops_per_pass" -> ops.size.toString,
      "excluded" -> Json.obj(
        if (a.workload == "plan_roundtrip") Workloads.unproducible.toSeq.sorted.map(kv => kv._1 -> Json.str(kv._2))
        else Nil),
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "result" -> result,
      "queries" -> Json.obj(perQuery),
    )) + "\n").getBytes(UTF_8))
    if (a.trace)
      Files.write(a.out.resolve(s"$tag.spans.jsonl"), tracer.spans.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
          "parent" -> s.parent.toString, "op" -> s.op.toString,
          "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
          "shadow" -> s.shadow.toString))
      }.asJava, UTF_8)
  }
}

/** JVM-wide counters read before and after the measured window. */
object Jvm {
  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def counters(): Map[String, Double] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "cpu_ms" -> os.getProcessCpuTime / 1e6,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "gc_ms" -> gcs.map(_.getCollectionTime).sum.toDouble,
      "gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "heap_used_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0,
    )
  }

  /** Heap in use after full collections. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))
}

/** The expected fingerprints: one `name <TAB> rows <TAB> hash_sum` line per
  * query. */
object Expected {
  def read(p: Path): Map[String, Fingerprint.Value] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> Fingerprint.Value(f(1).toLong, f(2))).toMap
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

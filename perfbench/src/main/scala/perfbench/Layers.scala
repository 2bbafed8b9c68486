package perfbench

/** The per-layer metrics of a traced run. Every value is a mean per traced
  * op unless its name says otherwise: a layer's time is the self time of its
  * spans (duration minus the part its child spans cover), and Spark counts
  * are those of the jobs submitted inside the layer's spans. */
object Layers {

  def metrics(tr: Tracer, counts: Map[Int, SparkCounts], samples: Seq[Main.Sample],
              pre: Map[String, Double], post: Map[String, Double],
              cores: Int): Seq[(String, Double, String)] = {
    val spans = tr.spans.toSeq
    val traced = samples.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
    def self(s: Span): Double = s.ms - kids(s).map(_.ms).sum
    def named(name: String): Seq[Span] = spans.filter(_.name == name)
    def ms(name: String): Double = named(name).map(self).sum
    def spark(name: String)(f: SparkCounts => Long): Double =
      named(name).flatMap(s => counts.get(s.id)).map(f).sum.toDouble
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

    val execWallMs = named("exec").map(_.ms).sum
    val execCpuMs = spark("exec")(_.taskCpuNs) / 1e6
    val opSpans = named("op")
    val inOps = spans.filterNot(_.shadow).flatMap(s => counts.get(s.id))
    val untracedMs = mean(samples.filterNot(_.traced).map(_.ms))
    val overheadMs = mean(traced.map(_.ms)) - untracedMs
    val window = (k: String) => (post(k) - pre(k)) / math.max(1, samples.size)

    Seq(
      ("substrait.consumer.ms", ms("substrait.consume") / n, "ms"),
      ("substrait.consumer.ms_per_kb",
        ms("substrait.consume") / math.max(1e-9, tr.planBytes.sum / 1024.0), "ms/KB"),
      ("substrait.consumer.jobs", spark("substrait.consume")(_.jobs) / n, "count"),
      ("substrait.producer.ms", ms("substrait.produce") / n, "ms"),
      ("substrait.wire.encode_ms", ms("substrait.encode") / n, "ms"),
      ("substrait.wire.decode_ms", ms("substrait.decode") / n, "ms"),
      ("substrait.wire.plan_bytes", mean(tr.planBytes.map(_.toDouble).toSeq), "B"),
      ("substrait.validator.ms", ms("substrait.validator") / n, "ms"),
      ("catalyst.optimize_ms", ms("catalyst.optimize") / n, "ms"),
      ("catalyst.plan_ms", ms("catalyst.plan") / n, "ms"),
      ("entry.build_ms", ms("entry.build") / n, "ms"),
      ("entry.build_jobs", spark("entry.build")(_.jobs) / n, "count"),
      ("bench.fingerprint_ms", ms("bench.fingerprint") / n, "ms"),
      ("bench.self_ms", ms("op") / n, "ms"),
      ("exec.wall_ms", execWallMs / n, "ms"),
      ("exec.task_cpu_ms", execCpuMs / n, "ms"),
      ("exec.task_gc_ms", spark("exec")(_.taskGcMs) / n, "ms"),
      ("exec.jobs", spark("exec")(_.jobs) / n, "count"),
      ("exec.stages", spark("exec")(_.stages) / n, "count"),
      ("exec.tasks", spark("exec")(_.tasks) / n, "count"),
      ("exec.cpu_util", if (execWallMs > 0) execCpuMs / (execWallMs * cores) else 0.0, "ratio"),
      ("exec.input_bytes", spark("exec")(_.inputBytes) / n, "B"),
      ("exec.shuffle_read_bytes", spark("exec")(_.shuffleReadBytes) / n, "B"),
      ("exec.shuffle_write_bytes", spark("exec")(_.shuffleWriteBytes) / n, "B"),
      ("exec.spill_bytes", spark("exec")(_.spillBytes) / n, "B"),
      ("exec.peak_exec_mem_bytes",
        named("exec").flatMap(s => counts.get(s.id)).map(_.peakExecMemBytes.toDouble)
          .maxOption.getOrElse(0.0), "B"),
      // graft's writes run while the frame is built, so this one counts
      // every span of the op, not only `exec`
      ("exec.output_bytes", inOps.map(_.outputBytes).sum / n, "B"),
      ("jvm.codegen_compiles", window("codegen_compiles"), "count"),
      ("jvm.jit_ms", window("jit_ms"), "ms"),
      ("jvm.gc_ms", window("gc_ms"), "ms"),
      ("trace.overhead_ms", overheadMs, "ms"),
      ("trace.overhead_share", overheadMs / untracedMs, "ratio"),
      ("trace.coverage_min",
        opSpans.map(o => kids(o).map(_.ms).sum / o.ms).minOption.getOrElse(Double.NaN), "ratio"),
      ("fail_ratio", samples.count(!_.ok).toDouble / math.max(1, samples.size), "ratio"),
    )
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. `parent` is -1 for a root span; `shadow` marks a
  * call the benchmark makes outside the op (it is not part of the op's wall
  * time). Times are JVM nanoTime, plus the epoch ms of the start so Spark job
  * events can be placed on the same clock. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val startNs: Long, val startMs: Long, val shadow: Boolean) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the calls into each layer, kept in memory for the whole run.
  * A disabled tracer runs the bodies and records nothing. */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var op = -1
  private var shadow = false

  /** Wire sizes of the plans encoded while tracing, one per op or shadow. */
  val planBytes = mutable.ArrayBuffer.empty[Long]
  def notePlanBytes(n: Long): Unit = if (enabled) planBytes += n

  def beginOp(opId: Int): Unit = { op = opId; shadow = false }
  def beginShadow(): Unit = shadow = true

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
        System.nanoTime(), System.currentTimeMillis(), shadow)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  /** Spark local property carrying the innermost open span's id; every job
    * the client thread submits inherits it. */
  val SpanKey = "perfbench.span"
}

/** Task metrics summed over the jobs of one span. */
final class SparkCounts {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskGcMs, inputBytes, shuffleReadBytes, shuffleWriteBytes,
      spillBytes, outputBytes = 0L
  var peakExecMemBytes = 0L // the largest single task's peak, not a sum
}

/** Records Spark jobs, stages and tasks, attributing each job to the span
  * that submitted it: by the span id the job carries as a local property,
  * or, for jobs submitted from threads that carry none, by the innermost
  * span whose interval contains the job's start time. */
final class SparkStats extends SparkListener {
  private case class Job(span: Option[Int], timeMs: Long)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageCounts = mutable.Map.empty[Int, SparkCounts]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt)
    jobs(e.jobId) = Job(span, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageCounts.getOrElseUpdate(e.stageInfo.stageId, new SparkCounts).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageCounts.getOrElseUpdate(e.stageId, new SparkCounts)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.taskGcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  /** Counts per span id. Call after the listener bus is drained. */
  def bySpan(spans: collection.Seq[Span]): Map[Int, SparkCounts] = synchronized {
    def byTime(ms: Long): Option[Int] = {
      val open = spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      if (open.isEmpty) None else Some(open.maxBy(_.startNs).id)
    }
    val jobSpan = jobs.flatMap { case (id, j) => j.span.orElse(byTime(j.timeMs)).map(id -> _) }
    val out = mutable.Map.empty[Int, SparkCounts]
    jobSpan.values.foreach(s => out.getOrElseUpdate(s, new SparkCounts).jobs += 1)
    stageCounts.foreach { case (stage, c) =>
      stageJob.get(stage).flatMap(jobSpan.get).foreach { s =>
        val t = out.getOrElseUpdate(s, new SparkCounts)
        t.stages += c.stages; t.tasks += c.tasks
        t.taskCpuNs += c.taskCpuNs; t.taskGcMs += c.taskGcMs
        t.inputBytes += c.inputBytes; t.shuffleReadBytes += c.shuffleReadBytes
        t.shuffleWriteBytes += c.shuffleWriteBytes; t.spillBytes += c.spillBytes
        t.outputBytes += c.outputBytes
        t.peakExecMemBytes = math.max(t.peakExecMemBytes, c.peakExecMemBytes)
      }
    }
    out.toMap
  }
}

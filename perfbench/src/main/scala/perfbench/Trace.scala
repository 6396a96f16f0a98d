package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: wall interval (ns for durations, ms for matching task
  * times), the enclosing span and the pipeline run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Spans are opened from the benchmark's own code
 * around each call into the library, on the driver thread only. While a
 * span is open its name rides the Spark job-local property [[Trace.Prop]],
 * so [[SparkCounters]] can attribute every job, stage and task to it.
 * Disabled, `span` is a plain call.
 */
final class Trace(sc: SparkContext) {
  var enabled = false
  var run = 0
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size + stack.size
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack ::= (id -> name)
      sc.setLocalProperty(Trace.Prop, name)
      val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try body
      finally {
        val s1 = System.nanoTime(); val m1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Trace.Prop, stack.headOption.map(_._2).orNull)
        spans += Span(id, name, parent, run, s0, s1, m0, m1)
      }
    }

  /** Span duration minus the part its direct children cover (children run
    * one after another on the driver thread, so they never overlap). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

object Trace {
  val Prop = "perfbench.span"
}

/** Spark runtime counters of one span (or of a whole run). */
final class SparkAcc {
  var jobs, tasks, taskFailures = 0L
  var shuffleWrite, shuffleRead, input, output, spill = 0L
  var runMs, cpuNs, gcMs, schedMs, peakExecMem = 0L

  def +=(o: SparkAcc): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskFailures += o.taskFailures
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    input += o.input; output += o.output; spill += o.spill
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  def metrics: Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs.toDouble, "count"),
    ("spark.tasks", tasks.toDouble, "count"),
    ("spark.shuffle_write_mb", shuffleWrite / 1e6, "MB"),
    ("spark.shuffle_read_mb", shuffleRead / 1e6, "MB"),
    ("spark.input_mb", input / 1e6, "MB"),
    ("spark.output_mb", output / 1e6, "MB"),
    ("spark.executor_run_s", runMs / 1e3, "s"),
    ("spark.executor_cpu_s", cpuNs / 1e9, "s"),
    ("spark.gc_s", gcMs / 1e3, "s"),
    ("spark.sched_delay_s", schedMs / 1e3, "s"),
    ("spark.task_failures", taskFailures.toDouble, "count"),
    ("spark.spill_mb", spill / 1e6, "MB"),
    ("spark.peak_exec_mem_mb", peakExecMem / 1e6, "MB"))
}

/**
 * The benchmark's own listener: task metrics summed per span (through the
 * job-local property the span sets), plus every task's wall interval for
 * the driver-gap computation. Read only after draining the listener bus.
 */
final class SparkCounters extends SparkListener {
  private val stageSpan = scala.collection.mutable.HashMap.empty[Int, String]
  private val bySpan = scala.collection.mutable.HashMap.empty[String, SparkAcc]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  private def acc(span: String) = bySpan.getOrElseUpdate(span, new SparkAcc)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val span = Option(j.properties).map(_.getProperty(Trace.Prop)).orNull
    if (span != null) {
      acc(span).jobs += 1
      j.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val info = t.taskInfo
    if (info != null) intervals += (info.launchTime -> info.finishTime)
    stageSpan.get(t.stageId).foreach { span =>
      val a = acc(span)
      a.tasks += 1
      if (info != null && !info.successful) a.taskFailures += 1
      val m = t.taskMetrics
      if (m != null) {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
        if (info != null)
          a.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
             else 0L))
      }
    }
  }

  /** Counters per span name, and the task intervals, since the last reset. */
  def snapshot(): (Map[String, SparkAcc], Seq[(Long, Long)]) = synchronized {
    (bySpan.toMap, intervals.toSeq)
  }

  def reset(): Unit = synchronized {
    bySpan.clear(); intervals.clear(); stageSpan.clear()
  }
}

object SparkCounters {
  /** Wall seconds of [startMs, endMs] during which no task was running. */
  def idleSeconds(startMs: Long, endMs: Long, tasks: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var cursor = startMs
    tasks.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    (endMs - startMs - covered) / 1e3
  }
}

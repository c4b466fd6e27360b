package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call from the benchmark into a layer. Times are
  * nanoseconds on the JVM's monotonic clock. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    start: Long, var end: Long = -1L)

/** Engine counters of the jobs that ran while one span was innermost. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var inputRecords = 0L; var inputBytes = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
  var spillBytes = 0L; var outputBytes = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "input_records" -> inputRecords, "input_bytes" -> inputBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "sched_delay_ms" -> schedDelayMs)
}

/** A Spark job as the listener saw it: the span that was innermost on the
  * submitting thread, and the job description the program set (the
  * profiler tags each of its passes with one). */
final case class JobRec(id: Int, span: Int, desc: String, start: Long,
    var end: Long = -1L)

/** Records spans around the benchmark's calls into the program, and a
  * SparkListener that attributes engine counters to the innermost span.
  * The span id rides in a Spark local property; threads the program
  * starts inside a span inherit it, so their jobs count for that span.
  * All state stays in memory until [[Json]] writes it out.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.SpanKey

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  /** Operation id given to the spans opened next. */
  var op = 0
  /** Listener clock (ms since epoch) minus the monotonic clock (ns), so
    * job times line up with span times. */
  private val wallOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val counters = mutable.HashMap.empty[Int, Counters]

  def span[T](name: String)(body: => T): T = {
    val parent = if (stack.isEmpty) -1 else stack.top.id
    val s = Span(spans.size, parent, name, op, System.nanoTime())
    spans += s
    stack.push(s)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  private def nanos(epochMs: Long): Long = epochMs * 1000000L - wallOffsetNs

  private def countersOf(span: Int): Counters = synchronized {
    counters.getOrElseUpdate(span, new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val desc = props.flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, span, desc, nanos(e.time))
    e.stageIds.foreach(s => stageSpan(s) = span)
    countersOf(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = nanos(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      countersOf(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = countersOf(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      c.inputRecords += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      if (info != null) // the Spark UI's definition of scheduler delay
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime
           else 0L))
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

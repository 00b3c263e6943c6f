package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Counters the listener accumulates, either for the whole run or for one
  * span. Bytes are raw; the reporter converts to MB.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    recordsRead += o.recordsRead
  }

  def copy(): Counters = { val c = new Counters; c.add(this); c }

  def minus(o: Counters): Counters = {
    val c = copy()
    c.jobs -= o.jobs; c.stages -= o.stages; c.tasks -= o.tasks
    c.taskCpuNs -= o.taskCpuNs; c.shuffleWriteBytes -= o.shuffleWriteBytes
    c.shuffleReadBytes -= o.shuffleReadBytes; c.spillBytes -= o.spillBytes
    c.recordsRead -= o.recordsRead
    c
  }
}

/** Counts jobs, stages, tasks, task CPU, shuffle, spill and input records.
  * Totals are always kept. When tracing, every job is attributed to the span
  * that was open on the submitting thread: the tracer publishes the open
  * span's id as a job-local property, which Spark copies into the job-start
  * event, and stage and task events follow their job.
  */
final class BenchListener extends SparkListener {
  val total = new Counters
  private val bySpan = mutable.HashMap.empty[Long, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Long]

  def snapshot(): Counters = synchronized(total.copy())

  def forSpan(id: Long): Counters =
    synchronized(bySpan.get(id).map(_.copy()).getOrElse(new Counters))

  private def span(stageId: Int): Option[Counters] =
    stageSpan.get(stageId).map(id => bySpan.getOrElseUpdate(id, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong)
    id.foreach { s =>
      bySpan.getOrElseUpdate(s, new Counters).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    span(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    def add(c: Counters): Unit = {
      c.tasks += 1
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
    add(total)
    span(e.stageId).foreach(add)
  }
}

/** One closed span. Times are nanoseconds since the tracer's origin. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long,
    endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced pass. Spans nest on the calling
  * thread; `span` publishes the open span's id to Spark as a local property
  * so the listener attributes jobs to it. Nothing is written until the run
  * ends ([[json]]).
  */
final class Tracer(spark: org.apache.spark.sql.SparkSession,
    listener: BenchListener, val runId: String) {
  private val origin = System.nanoTime()
  private var nextId = 1L
  private var stack = List(0L)
  val closed = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    val sc = spark.sparkContext
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey,
        if (stack.head == 0L) null else stack.head.toString)
      closed += Span(id, name, parent, t0 - origin, t1 - origin, null)
    }
  }

  /** Closed spans with their listener counters attached. Call after the
    * listener bus has drained.
    */
  def finished: Seq[Span] = closed.map(s => s.copy(counters = listener.forSpan(s.id))).toSeq

  /** Seconds of span `s` not covered by its direct children. */
  def selfSeconds(s: Span, all: Seq[Span]): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  def json(spans: Seq[Span]): String = spans.map { s =>
    val c = s.counters
    s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},""" +
      s""""stages":${c.stages},"tasks":${c.tasks},"task_cpu_ns":${c.taskCpuNs},""" +
      s""""shuffle_write_bytes":${c.shuffleWriteBytes},""" +
      s""""shuffle_read_bytes":${c.shuffleReadBytes},"spill_bytes":${c.spillBytes}}"""
  }.mkString("\n")
}

object Tracer {
  val SpanKey = "graftbench.span"
}

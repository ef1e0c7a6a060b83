package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Execution counters of the Spark jobs run under one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskWaitMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes = 0L
  var peakExecMem = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
}

/** One traced interval. Layers: pass, sources, operators, graph,
  * similarity, streaming, sink, dq, build, action, batch, job. A job
  * span is created by the listener; its parent is the span whose id was
  * the `graftbench.span` local property when the job was submitted. */
final class Span(val id: Long, val parent: Long, val pass: Int,
                 val layer: String, val name: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  val c = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the whole run and written once at the end.
  * With `detailed` off only pass spans (and the jobs under them) are
  * recorded: the untraced baseline of the tracing-overhead estimate. */
final class Tracer(sc: SparkContext) {
  import Tracer.Prop

  var detailed = false
  var pass = -1
  private var nextId = 1L
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private var current = 0L
  private val wallBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()

  private def open(parent: Long, layer: String, name: String, startNs: Long,
                   passNo: Int): Span =
    synchronized {
      val s = new Span(nextId, parent, passNo, layer, name, startNs)
      nextId += 1
      all += s
      byId.put(s.id, s)
      s
    }

  def spans: Seq[Span] = synchronized(all.toList)
  def get(id: Long): Span = byId.get(id)

  /** Run `body` inside a span of `layer`. Non-pass spans are recorded
    * only when `detailed` is on; otherwise `body` runs untouched. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!detailed && layer != "pass") return body
    val s = open(current, layer, name, System.nanoTime(), pass)
    val saved = current
    current = s.id
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      current = saved
      sc.setLocalProperty(Prop, if (saved == 0L) null else saved.toString)
    }
  }

  private def nsOfWall(ms: Long): Long = nanoBase + (ms - wallBaseMs) * 1000000L

  val listener: SparkListener = new SparkListener {
    private val jobSpan = new ConcurrentHashMap[Int, Span]()
    private val stageSpan = new ConcurrentHashMap[Int, Span]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      val passNo = Option(get(parent)).map(_.pass).getOrElse(-1)
      val s = open(parent, "job", s"job-${e.jobId}", nsOfWall(e.time), passNo)
      s.c.jobs = 1
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach(_.endNs = nsOfWall(e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.c.stages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s == null || m == null) return
      val c = s.c
      c.synchronized {
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        val info = e.taskInfo
        val schedDelay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        c.taskWaitMs += schedDelay + m.shuffleReadMetrics.fetchWaitTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleRecords += m.shuffleReadMetrics.recordsRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }
}

object Tracer {
  val Prop = "graftbench.span"

  /** Seconds of `s` not covered by any of `children` (interval union). */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.filter(_.endNs > 0)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (s.endNs - s.startNs) - covered) / 1e9
  }
}

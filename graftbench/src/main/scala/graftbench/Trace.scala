package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One closed span: a named region of harness code that calls into the
  * program, with the Spark work it caused attributed to it. */
final case class SpanRecord(id: Int, name: String, parent: Option[Int], op: Int,
    startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunS = 0.0
  var taskCpuS = 0.0
  var gcS = 0.0
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskRunS += o.taskRunS; taskCpuS += o.taskCpuS; gcS += o.gcS
    inputBytes += o.inputBytes; inputRows += o.inputRows; outputBytes += o.outputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Spans over harness calls, measured from outside the program.
  *
  * The open span's id rides the SparkContext local property
  * [[Trace.property]]; Spark copies local properties into every job
  * the thread submits (and into the broadcast and subquery threads of
  * a SQL execution), so the listener can attribute each job, stage
  * and task to the span that caused it without touching program code.
  * Work is booked to the innermost open span; [[selfTimes]] gives each
  * span's wall time net of its children.
  */
final class Trace(sc: SparkContext) {
  private val records = mutable.ArrayBuffer.empty[SpanRecord]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  private var opId = 0
  private val work = new ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        workOf(s).synchronized { workOf(s).jobs += 1 }
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        workOf(s).synchronized { workOf(s).stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val w = workOf(s)
        w.synchronized {
          w.tasks += 1
          if (e.reason != Success) w.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            w.taskRunS += m.executorRunTime / 1e3
            w.taskCpuS += m.executorCpuTime / 1e9
            w.gcS += m.jvmGCTime / 1e3
            w.inputBytes += m.inputMetrics.bytesRead
            w.inputRows += m.inputMetrics.recordsRead
            w.outputBytes += m.outputMetrics.bytesWritten
            w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(p => Option(p.getProperty(Trace.property))).map(_.toInt)

  private def workOf(span: Int): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  /** Start a new operation: spans opened from now on carry its id. */
  def newOp(): Int = { opId += 1; opId }
  def currentOp: Int = opId

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1)
    val prev = sc.getLocalProperty(Trace.property)
    stack = (id, name, System.nanoTime()) :: stack
    sc.setLocalProperty(Trace.property, id.toString)
    try body
    finally {
      val end = System.nanoTime()
      val (_, _, start) = stack.head
      stack = stack.tail
      sc.setLocalProperty(Trace.property, prev)
      records += SpanRecord(id, name, parent, opId, start, end)
    }
  }

  def spans: Seq[SpanRecord] = records.toSeq

  /** The Spark work booked to each span id (call after the listener
    * bus has drained). */
  def workBySpan: Map[Int, SparkWork] = {
    import scala.jdk.CollectionConverters._
    work.asScala.toMap
  }
}

object Trace {
  val property = "graftbench.span"

  /** Wall time of each span minus the wall time of its direct
    * children, by span id. Children are assumed to nest in time
    * within their parent (they are opened inside its body). */
  def selfTimes(spans: Seq[SpanRecord]): Map[Int, Double] = {
    val childWall = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
      .map { case (p, cs) => p -> cs.map(_.wallS).sum }
    spans.map(s => s.id -> (s.wallS - childWall.getOrElse(s.id, 0.0))).toMap
  }

  /** Span records as JSON lines: name, start, end, parent, op id. */
  def toJsonLines(spans: Seq[SpanRecord], self: Map[Int, Double]): Iterator[String] =
    spans.sortBy(_.startNs).iterator.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent.getOrElse("null")},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""wall_s":${s.wallS},"self_s":${self(s.id)}}"""
    }
}

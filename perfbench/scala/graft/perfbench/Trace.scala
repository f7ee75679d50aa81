package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import scala.collection.mutable

/** Spans around the benchmark's calls into each layer, plus the Spark jobs,
  * stages and query executions those calls caused.
  *
  * A span is opened on the benchmark's thread; while it is open its id is the
  * SparkContext local property [[SpanProp]], so every job submitted from that
  * thread carries it. Micro-batch jobs run on the stream's own thread, which
  * does not see later property changes; they are recognised by Spark's
  * streaming query-id property and charged to the stream span whose interval
  * holds the job's submission time (the listener bus may deliver the event
  * after that span has closed).
  * Everything stays in memory until [[json]] is called at the end.
  */
final class Trace(sc: SparkContext) {
  import Trace._

  final case class Span(id: Int, parent: Int, request: Int, name: String, startNs: Long, var endNs: Long)
  final class Work {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var outBytes = 0L; var outRecords = 0L
    var shuffleWrite = 0L; var spill = 0L; var planMs = 0L; var files = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextRequest = 0
  private val streamSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, java.util.concurrent.atomic.AtomicLong)]()
  private val work = new java.util.concurrent.ConcurrentHashMap[Int, Work]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  private val started = new java.util.concurrent.atomic.AtomicLong()
  private val ended = new java.util.concurrent.atomic.AtomicLong()

  private def w(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  /** A new request id: spans opened at the top level start a request. */
  def request(): Int = { nextRequest += 1; nextRequest }

  def apply[T](name: String, req: Int = 0)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1),
      if (req != 0) req else parent.map(_.request).getOrElse(0), name, System.nanoTime(), 0L)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Run `body` as a span that also owns the jobs of the stream thread. */
  def stream[T](name: String, req: Int = 0)(body: => T): T =
    apply(name, req) {
      val end = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
      streamSpans.add((stack.head.id, System.currentTimeMillis(), end))
      try body finally end.set(System.currentTimeMillis())
    }

  private def streamSpanAt(ms: Long): Int = {
    var hit = -1
    streamSpans.forEach(s => if (s._2 <= ms && ms <= s._3.get) hit = s._1)
    hit
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      val props = Option(e.properties)
      val span =
        if (props.exists(_.getProperty("sql.streaming.queryId") != null)) streamSpanAt(e.time)
        else props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan.put(_, span))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.putIfAbsent(id.toLong, span))
      w(span).synchronized { w(span).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val x = w(stageSpan.getOrDefault(info.stageId, -1))
      val m = info.taskMetrics
      x.synchronized {
        x.tasks += info.numTasks
        if (m != null) {
          x.cpuNs += m.executorCpuTime; x.gcMs += m.jvmGCTime
          x.inBytes += m.inputMetrics.bytesRead
          x.outBytes += m.outputMetrics.bytesWritten; x.outRecords += m.outputMetrics.recordsWritten
          x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    // planning time and files read of each SQL execution, charged to the
    // span its jobs ran under (the end event carries its QueryExecution)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val qe = Option(end.getClass.getMethod("qe").invoke(end)).map(_.asInstanceOf[QueryExecution])
        qe.foreach { q =>
          val x = w(execSpan.getOrDefault(end.executionId, -1))
          val plan = Seq("analysis", "optimization", "planning")
            .flatMap(q.tracker.phases.get).map(_.durationMs).sum
          val files = PlanFiles.count(q)
          x.synchronized { x.planMs += plan; x.files += files }
        }
      case _ => ()
    }
  }

  /** Wait until the listener bus has delivered every job-end we caused. */
  def drain(): Unit = {
    var waited = 0
    while (ended.get() < started.get() && waited < 100) { Thread.sleep(50); waited += 1 }
    Thread.sleep(200)
  }

  def json(): String = {
    drain()
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.map { s =>
      val x = Option(work.get(s.id)).getOrElse(new Work)
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${x.jobs},"tasks":${x.tasks},""" +
        s""""cpu_ns":${x.cpuNs},"gc_ms":${x.gcMs},"in_bytes":${x.inBytes},"out_bytes":${x.outBytes},""" +
        s""""out_records":${x.outRecords},"shuffle_write":${x.shuffleWrite},"spill":${x.spill},""" +
        s""""plan_ms":${x.planMs},"files":${x.files}}"""
    }.mkString(",")
    val lost = Option(work.get(-1)).map(_.jobs).getOrElse(0L)
    sb ++= s"""],"unattributed_jobs":$lost}"""
    sb.toString
  }
}

object Trace {
  val SpanProp = "perfbench.span"
}

/** Files read by an executed plan's file scans, AQE stages included. */
object PlanFiles extends AdaptiveSparkPlanHelper {
  def count(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

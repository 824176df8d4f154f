package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: run, pass, operation or layer call. Jobs and
  * stages attach to the innermost span through the `SpanKey` local
  * property, which is set before every call into the engine. */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val pass: Int) {
  val start: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var end: Long = -1L
  @volatile var endMs: Long = -1L
  def close(): Unit = { end = System.nanoTime(); endMs = System.currentTimeMillis() }
  def secs: Double = (end - start) / 1e9
}

/** What Spark did on behalf of one span, filled from listener events. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Collects spans and Spark listener events in memory. Events of jobs
  * started outside a span (untraced passes) are ignored. */
final class Probe extends SparkListener with QueryExecutionListener {
  val SpanKey = "perfbench.span"
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  val events = new AtomicLong(0)
  val unpersists = new AtomicLong(0)
  val cacheScans = new AtomicLong(0)

  def open(parent: Long, kind: String, name: String, pass: Int): Span =
      synchronized {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, pass)
    spans += s
    s
  }

  def of(span: Long): Counters = counters.computeIfAbsent(span, _ => new Counters)

  private def spanOf(p: Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
      .filter(_.nonEmpty).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val span = spanOf(e.properties)
    if (span > 0) {
      e.stageIds.foreach(stageSpan.put(_, span))
      jobStart.put(e.jobId, (span, e.time))
      val c = of(span); c.synchronized { c.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
      val c = of(span); c.synchronized { c.jobSpans += ((t0, e.time)) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val c = of(span); c.synchronized { c.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { span =>
      val c = of(span)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
    events.incrementAndGet()
    if (Probe.traced) unpersists.incrementAndGet()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = {
    events.incrementAndGet()
    if (Probe.traced) cacheScans.addAndGet(Probe.count(qe.executedPlan)(
      _.getClass.getSimpleName == "InMemoryTableScanExec"))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = events.incrementAndGet()

  /** Listener events arrive asynchronously; wait until none has been
    * delivered for a while before the counters are read. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 10e9.toLong
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = events.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }
}

object Probe {
  /** True while a traced pass runs; the execution listener reads it
    * because its events carry no span property. */
  @volatile var traced = false

  /** Every physical node of a plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => out += s; walk(s.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  def count(plan: SparkPlan)(f: SparkPlan => Boolean): Long =
    nodes(plan).count(f).toLong

  /** Expression nodes of a plan matching `f`. */
  def exprCount(plan: SparkPlan)(
      f: org.apache.spark.sql.catalyst.expressions.Expression => Boolean): Long =
    nodes(plan).map(_.expressions.map(_.collect { case e if f(e) => e }.size).sum)
      .sum.toLong

  def isExchange(p: SparkPlan): Boolean =
    p.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]

  /** Expressions implemented by the engine's own codegen kernels. */
  def isNative(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.getClass.getName.startsWith("graft.functions.")

  def isLambda(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.LambdaFunction]

  /** Union length of [start, end] intervals, in the intervals' unit. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftperfbench.Bridge

/** Spark engine counters charged to one span. */
final class ExecCounters {
  val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, inputBytes = new AtomicLong
  val peakExecMem = new AtomicLong
  /** Wall time with at least one job of the span running (job event
    * clock, ms resolution).
    */
  val busyNs = new AtomicLong
  val analysisNs, optimizationNs, planningNs, exchanges = new AtomicLong
  def add(o: ExecCounters): Unit = {
    Seq(jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks,
      runMs -> o.runMs, cpuNs -> o.cpuNs, gcMs -> o.gcMs,
      shuffleRead -> o.shuffleRead, shuffleWrite -> o.shuffleWrite,
      spill -> o.spill, inputBytes -> o.inputBytes, busyNs -> o.busyNs,
      analysisNs -> o.analysisNs, optimizationNs -> o.optimizationNs,
      planningNs -> o.planningNs, exchanges -> o.exchanges)
      .foreach { case (a, b) => a.addAndGet(b.get) }
    peakExecMem.accumulateAndGet(o.peakExecMem.get, math.max)
  }
}

/** One finished span: name, parent, wall interval and the Spark work
  * charged to it.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, exec: ExecCounters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory run → op → layer-call spans for the traced run.
  *
  * A Spark job is charged to the span that was open on the submitting
  * thread (a local property carries the span id); jobs of a streaming
  * micro-batch run on the stream thread and are charged through the
  * `streaming.sql.batchId` job property to the op that handed the batch
  * off. Planning phase times and Exchange counts come from the SQL
  * execution-end event of each query whose jobs ran in the span. When disabled the hooks are
  * not installed and every call is a plain pass-through.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val SpanProp = "graft.perfbench.span"
  private val ids = new AtomicLong(0)
  private val open = new ConcurrentHashMap[Long, ExecCounters]()
  private val finished = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** streaming batch id → span id of the op that handed it off. */
  private val batchSpans = new ConcurrentHashMap[Long, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val runningJobs = new ConcurrentHashMap[Long, AtomicLong]()
  private val busySince = new ConcurrentHashMap[Long, Long]()

  private def counters(span: Long): Option[ExecCounters] =
    Option(open.get(span))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
        .orElse(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .flatMap(b => Option(batchSpans.get(b.toLong))))
      span.foreach { s =>
        counters(s).foreach { c =>
          c.jobs.incrementAndGet()
          c.stages.addAndGet(e.stageIds.size)
          e.stageIds.foreach(stageSpan.put(_, s))
          jobSpan.put(e.jobId, s)
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .foreach(x => execSpan.put(x.toLong, s))
          val n = runningJobs.computeIfAbsent(s, _ => new AtomicLong)
          if (n.getAndIncrement() == 0) busySince.put(s, e.time)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        val n = runningJobs.get(s)
        if (n != null && n.decrementAndGet() == 0)
          counters(s).foreach(_.busyNs.addAndGet(
            (e.time - busySince.getOrDefault(s, e.time)) * 1000000L))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if Bridge.queryExecution(end) != null =>
        Option(execSpan.remove(end.executionId)).flatMap(counters)
          .foreach(chargePlan(_, Bridge.queryExecution(end)))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).flatMap(counters).foreach { c =>
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.runMs.addAndGet(m.executorRunTime)
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          c.peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
        }
      }
  }

  private def chargePlan(c: ExecCounters, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ns(p: String) = phases.get(p)
      .map(t => (t.endTimeMs - t.startTimeMs) * 1000000L).getOrElse(0L)
    c.analysisNs.addAndGet(ns("analysis"))
    c.optimizationNs.addAndGet(ns("optimization"))
    c.planningNs.addAndGet(ns("planning"))
    c.exchanges.addAndGet(exchanges(qe))
  }

  /** Charge a query the benchmark drained as an RDD (which runs outside
    * any SQL execution, so no execution event reports it) to the
    * thread's open span.
    */
  def recordPlan(qe: QueryExecution): Unit =
    if (enabled) current.get.headOption.flatMap(counters).foreach(chargePlan(_, qe))

  /** Exchange operators of the executed plan, inside adaptive plans'
    * final stages and subqueries too.
    */
  private def exchanges(qe: QueryExecution): Int = {
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: QueryStageExec => count(s.plan)
      case _ =>
        (if (p.isInstanceOf[Exchange]) 1 else 0) +
          p.children.map(count).sum + p.subqueries.map(count).sum
    }
    count(qe.executedPlan)
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  @volatile private var heapPeak = 0L
  /** Highest heap occupancy seen at a span boundary, in bytes. */
  def peakHeapBytes: Long = heapPeak

  @volatile private var recording = false

  /** Record `body` as top-level span `name` with all the spans it opens.
    * Spans outside such a call are not recorded, so untraced ops of a
    * traced run measure the tracing overhead.
    */
  def record[A](name: String)(body: => A): A = {
    if (!enabled) return body
    recording = true
    try span(name)(body) finally recording = false
  }

  /** Run `body` inside span `name`, a child of the thread's open span. */
  def span[A](name: String)(body: => A): A = {
    if (!enabled || !recording) return body
    val id = ids.incrementAndGet()
    val parent = current.get.headOption.getOrElse(0L)
    val c = new ExecCounters
    open.put(id, c)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    current.set(id :: current.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      current.set(current.get.tail)
      sc.setLocalProperty(SpanProp, prevProp)
      finished.synchronized { finished += Span(id, parent, name, t0, t1, c) }
      heapPeak = math.max(heapPeak, java.lang.management.ManagementFactory
        .getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
  }

  /** The id of the thread's innermost open span (0 outside any span). */
  def currentSpan: Long = current.get.headOption.getOrElse(0L)

  /** Charge the jobs of streaming micro-batch `batchId` to `span`. */
  def bindBatch(batchId: Long, span: Long): Unit =
    if (enabled) batchSpans.put(batchId, span)

  /** Listener events are delivered asynchronously: wait for the bus to
    * drain before reading counters.
    */
  def flush(): Unit =
    if (enabled) Bridge.drain(spark.sparkContext)

  def spans: Seq[Span] = finished.synchronized(finished.toList)

  /** Spans named `name`, and their combined Spark counters (children
    * included: a child span's jobs are charged to the child only, so its
    * counters are added in).
    */
  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def subtree(root: Span): ExecCounters = {
    val all = spans
    val kids = all.groupBy(_.parent)
    val total = new ExecCounters
    def walk(s: Span): Unit = { total.add(s.exec); kids.getOrElse(s.id, Nil).foreach(walk) }
    walk(root)
    total
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval: a call into a layer, or a request/pass/drain that
  * groups such calls. Spans of one request share `req`.
  */
final class Span(val id: Int, val name: String, val parent: Int, val req: Long,
                 val t0: Long) {
  val t0Epoch: Long = System.currentTimeMillis()
  @volatile var t1: Long = -1L
  @volatile var t1Epoch: Long = -1L
  def wallMs: Double = (t1 - t0) / 1e6
}

/** Engine-side totals gathered for one job group (one span). */
final class EngineAcc {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs = 0.0
  var shuffleWrite, shuffleRead, spill, bytesRead, bytesWritten, recordsRead = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var firstExecStartMs = Long.MaxValue
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One streaming micro-batch progress record. */
final case class BatchRec(runId: String, durations: Map[String, Long])

/** In-memory span recorder plus the benchmark's own Spark and streaming
  * listeners. Spans are recorded only while `enabled`; micro-batch progress
  * records are always kept because the untraced run reports micro-batch
  * latency from them.
  */
final class Trace(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  @volatile private var enabled = false
  private val paused = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val ids = new AtomicInteger(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  val engine = new ConcurrentHashMap[Int, EngineAcc]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  private val execGroup = new ConcurrentHashMap[Long, Int]()
  private val stageGroup = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private val runSpan = new ConcurrentHashMap[String, Int]()
  @volatile private var drainSpan = -1

  private def groupOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).map(groupSpan).getOrElse(-1)

  private def groupSpan(g: String): Int =
    if (g.startsWith("pb-")) g.drop(3).toInt
    else Option(runSpan.get(g)).map(_.intValue).getOrElse(-1)

  private def acc(id: Int): EngineAcc = engine.computeIfAbsent(id, _ => new EngineAcc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      if (g >= 0) {
        e.stageIds.foreach(s => stageGroup.put(s, g))
        jobStart.put(e.jobId, (g, e.time))
        val a = acc(g)
        a.synchronized { a.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
        val a = acc(g)
        a.synchronized { a.jobIntervals += ((t0, e.time)) }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val a = acc(g)
        a.synchronized { a.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val m = e.taskMetrics
        if (m != null) {
          val a = acc(g)
          a.synchronized {
            a.tasks += 1
            a.runMs += m.executorRunTime
            a.cpuMs += m.executorCpuTime / 1e6
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.spill += m.diskBytesSpilled
            a.bytesRead += m.inputMetrics.bytesRead
            a.recordsRead += m.inputMetrics.recordsRead
            a.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        s.jobGroupId.map(groupSpan).filter(_ >= 0).foreach { g =>
          execGroup.put(s.executionId, g)
          val a = acc(g)
          a.synchronized { a.firstExecStartMs = math.min(a.firstExecStartMs, s.time) }
        }
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        Option(execGroup.remove(x.executionId)).foreach { g =>
          // `qe` is package-private to Spark SQL; read it reflectively
          val qe = x.getClass.getMethod("qe").invoke(x)
            .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
          if (qe != null) {
            val ph = qe.tracker.phases
            def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
            val a = acc(g)
            a.synchronized {
              a.analysisMs += ms("analysis")
              a.optimizationMs += ms("optimization")
              a.planningMs += ms("planning")
            }
          }
        }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (drainSpan >= 0) runSpan.put(e.runId.toString, drainSpan)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        batches.add(BatchRec(p.runId.toString,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private val watched = mutable.ArrayBuffer.empty[SparkSession]

  /** A session for streaming drains (`Streaming.streamSession`) whose
    * micro-batch progress records this trace receives.
    */
  lazy val streamSession: SparkSession = {
    val s = graft.streaming.Streaming.streamSession(spark)
    s.streams.addListener(streamListener)
    watched += s
    s
  }

  def start(): Unit = { sc.addSparkListener(listener); enabled = true }
  def stop(): Unit = { enabled = false; sc.removeSparkListener(listener) }
  /** Whether spans opened on this thread are recorded. */
  def active: Boolean = enabled && !paused.get
  /** Run `f` with tracing paused on this thread. */
  def untraced[T](f: => T): T = {
    val p = paused.get
    paused.set(true)
    try f finally paused.set(p)
  }

  /** Time `f` as a span named `name`. While tracing, the span's Spark jobs
    * run in their own job group so the listeners can attribute engine work.
    */
  def span[T](name: String, req: Long = -1L)(f: => T): T = {
    if (!active) return f
    val parentStack = stack.get
    val parent = parentStack.headOption
    val s = new Span(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(-1),
      if (req >= 0) req else parent.map(_.req).getOrElse(-1L),
      System.nanoTime())
    spans.add(s)
    stack.set(s :: parentStack)
    sc.setJobGroup("pb-" + s.id, name)
    try f
    finally {
      s.t1 = System.nanoTime()
      s.t1Epoch = System.currentTimeMillis()
      stack.set(parentStack)
      parent match {
        case Some(p) => sc.setJobGroup("pb-" + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** As [[span]], for a call that runs a streaming query: the query's
    * micro-batch jobs run in the stream's own job group, which is mapped
    * back to this span when the query starts.
    */
  def drain[T](name: String)(f: => T): T =
    span(name) {
      val prev = drainSpan
      drainSpan = stack.get.headOption.map(_.id).getOrElse(-1)
      try f finally drainSpan = prev
    }

  /** Block until the listener bus has delivered every posted event. */
  def settle(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def drainBatchesOf(spanId: Int): Seq[BatchRec] = {
    val runs = runSpan.asScala.collect { case (r, s) if s == spanId => r }.toSet
    batches.asScala.filter(b => runs(b.runId)).toSeq
  }

  def close(): Unit = {
    watched.foreach(_.streams.removeListener(streamListener))
    if (enabled) stop()
  }
}

object Trace {

  /** Self time of each span: its wall time minus the part of its interval
    * its children cover (overlapping children count once).
    */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.t0.max(s.t0), c.t1.min(s.t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = a.max(end)
        if (b > from) covered += b - from
        end = end.max(b)
      }
      s.id -> (s.t1 - s.t0 - covered) / 1e6
    }.toMap
  }

  /** Largest |children wall + self - wall| over all spans, in ms. Zero when
    * every child lies inside its parent and no two children overlap.
    */
  def residualMs(all: Seq[Span]): Double = {
    val self = selfMs(all)
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val childWall = kids.getOrElse(s.id, Nil).map(_.wallMs).sum
      math.abs(childWall + self(s.id) - s.wallMs)
    }.foldLeft(0.0)(_ max _)
  }

  /** Wall time of [t0, t1] (ms, epoch) not covered by any interval. */
  def uncoveredMs(t0: Long, t1: Long, iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var end = t0
    iv.map { case (a, b) => (a.max(t0), b.min(t1)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        val from = a.max(end)
        if (b > from) covered += b - from
        end = end.max(b)
      }
    ((t1 - t0) - covered).toDouble.max(0.0)
  }
}

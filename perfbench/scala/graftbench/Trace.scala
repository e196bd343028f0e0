package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBenchShims, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One call into a graft module. Times are `System.nanoTime`. */
final case class Span(id: Int, layer: String, name: String, parent: Int,
    request: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listeners attributed to one span. Mutated on the listener
  * thread; read by the client thread only after a bus drain. */
final class SpanCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var planMs = 0L
  var codegenFallbacks = 0L
  /** (start, end) wall-clock millis of every job the span launched. */
  val jobMs = ArrayBuffer[(Long, Long)]()
  /** The longest stage: (duration ms, max task ms, median task ms). */
  var slowest: (Long, Long, Long) = (-1L, 0L, 0L)
}

object Trace {
  val SpanProp = "graftbench.span"
  val TagPrefix = "graftbench-span-"

  /** Self time: the span's interval minus the union of its children's
    * intervals clipped to it (children may overlap each other). */
  def selfNs(span: Span, children: Seq[Span]): Long =
    (span.endNs - span.startNs) - covered(span.startNs, span.endNs,
      children.map(c => (c.startNs, c.endNs)))

  /** Length of the union of `intervals` clipped to [lo, hi] (any unit). */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spans around every call the benchmark makes into a graft module.
  *
  * Disabled (the end-to-end runs), `span` is a plain call. Enabled, each
  * span sets a Spark local property and a job tag for the duration of
  * the call, so the [[SparkListener]] registered by [[attach]] charges
  * jobs, stages, tasks and planning time to the innermost open span;
  * the listener bus is drained before the span closes, so nothing it
  * caused is counted late or elsewhere.
  * Single client thread by design: the span stack is not shared. */
final class Tracer(val enabled: Boolean) {
  import Trace._

  private val done = ArrayBuffer[Span]()
  private var stack: List[(Int, Long)] = Nil // (id, start)
  private var nextId = 0
  private var request = -1L
  private var sc: SparkContext = _
  val counters = new ConcurrentHashMap[Int, SpanCounters]()
  /** Innermost open span, read by the codegen-fallback appender. */
  @volatile private var current: Int = -1

  def spans: Seq[Span] = done.toSeq
  def counter(id: Int): SpanCounters =
    counters.computeIfAbsent(id, _ => new SpanCounters)

  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(new Listener)
    CodegenFallbacks.install(this)
  }

  /** Span id the current thread works for: a task thread carries it as
    * a local property, the client thread has the stack. */
  def spanOfThread: Int = Option(TaskContext.get())
    .flatMap(tc => Option(tc.getLocalProperty(SpanProp)))
    .map(_.toInt).getOrElse(current)

  def withRequest[A](id: Long)(f: => A): A = {
    val prev = request
    request = id
    try f finally request = prev
  }

  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      enter(id)
      stack = (id, System.nanoTime()) :: stack
      try f
      finally {
        GraftBenchShims.drain(sc)
        val start = stack.head._2
        stack = stack.tail
        done += Span(id, layer, name, parent, request, start, System.nanoTime())
        leave(id, stack.headOption.map(_._1))
      }
    }

  private def enter(id: Int): Unit = {
    stack.headOption.foreach(p => sc.removeJobTag(TagPrefix + p._1))
    sc.setLocalProperty(SpanProp, id.toString)
    sc.addJobTag(TagPrefix + id)
    current = id
  }

  private def leave(id: Int, parent: Option[Int]): Unit = {
    sc.removeJobTag(TagPrefix + id)
    parent match {
      case Some(p) =>
        sc.setLocalProperty(SpanProp, p.toString)
        sc.addJobTag(TagPrefix + p)
        current = p
      case None =>
        sc.setLocalProperty(SpanProp, null)
        current = -1
    }
  }

  // ---- listener-side attribution ----

  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).foreach { id =>
          jobSpan.put(e.jobId, id)
          jobStart.put(e.jobId, e.time)
          e.stageIds.foreach(s => stageSpan.put(s, id))
          counter(id).synchronized { counter(id).jobs += 1 }
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { id =>
        val c = counter(id)
        c.synchronized { c.jobMs += ((jobStart.get(e.jobId), e.time)) }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageSpan.containsKey(e.stageId) && e.taskMetrics != null) {
        val ms = stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]())
        ms.synchronized { ms += e.taskMetrics.executorRunTime }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageSpan.get(si.stageId)).foreach { id =>
        val c = counter(id)
        val tm = si.taskMetrics
        val taskMs = Option(stageTasks.remove(si.stageId))
          .map(_.sorted.toSeq).getOrElse(Nil)
        val dur = (for (s <- si.submissionTime; f <- si.completionTime)
          yield f - s).getOrElse(0L)
        c.synchronized {
          c.stages += 1
          c.tasks += si.numTasks
          if (tm != null) {
            c.runMs += tm.executorRunTime
            c.cpuNs += tm.executorCpuTime
            c.gcMs += tm.jvmGCTime
            c.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
            c.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
          }
          if (dur > c.slowest._1 && taskMs.nonEmpty)
            c.slowest = (dur, taskMs.last, taskMs(taskMs.size / 2))
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobTags.find(_.startsWith(TagPrefix))
          .foreach(t => execSpan.put(s.executionId, t.stripPrefix(TagPrefix).toInt))
      // planning time (analysis + optimization + physical planning) of
      // the action, read from the plan the end event carries: the
      // QueryExecutionListener callback has no execution id to match on
      case e: SparkListenerSQLExecutionEnd =>
        for (id <- Option(execSpan.remove(e.executionId));
             qe <- GraftBenchShims.queryExecution(e)) {
          val c = counter(id)
          c.synchronized { c.planMs += qe.tracker.phases.values.map(_.durationMs).sum }
        }
      case _ =>
    }
  }
}

/** Counts Spark's codegen fallbacks — a whole stage dropped to the
  * iterator model, or an expression evaluated by the interpreter after
  * its generated Java failed to compile — per span, from the log events
  * Spark emits for them (it exposes no counter). */
object CodegenFallbacks {
  val Patterns = Seq("Whole-stage codegen disabled for plan",
    "falling back to interpreter mode")

  def isFallback(message: String): Boolean =
    message != null && Patterns.exists(message.contains)

  private var installed = false

  def install(tracer: Tracer): Unit = if (!installed) {
    installed = true
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("graftbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (isFallback(e.getMessage.getFormattedMessage)) {
          val id = tracer.spanOfThread
          if (id >= 0) {
            val c = tracer.counter(id)
            c.synchronized { c.codegenFallbacks += 1 }
          }
        }
    }
    appender.start()
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }
}

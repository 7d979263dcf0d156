package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.BenchBridge
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A span around one call into a layer (or around a whole operation, for
  * spans named `op.*`). `op` is the id of the operation span it belongs to. */
final class Span(val id: Long, val name: String, val parent: Long, val op: Long,
                 val startNs: Long) {
  @volatile var endNs: Long = 0L
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = (endNs - startNs) / 1e6
}

/** The benchmark wraps every operation in `op` and every call into a
  * program layer in `span`. Untraced runs use [[Untraced]], which adds
  * nothing but the call itself. */
trait Tracer {
  def op[T](kind: String)(body: => T): T
  def span[T](name: String)(body: => T): T
}

object Untraced extends Tracer {
  def op[T](kind: String)(body: => T): T = body
  def span[T](name: String)(body: => T): T = body
}

/** Records spans in memory and tags every Spark job started inside a span
  * with the span's job group, so listener task metrics and query-planning
  * phases can be attributed to it afterwards. Job groups are thread-local,
  * so concurrent clients keep their own attribution. */
final class SpanTracer(spark: SparkSession) extends Tracer {
  private val nextId = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  val taskTap = new TaskTap
  val t0Ns: Long = System.nanoTime()

  spark.sparkContext.addSparkListener(taskTap)

  def op[T](kind: String)(body: => T): T = open("op." + kind, isOp = true)(body)
  def span[T](name: String)(body: => T): T = open(name, isOp = false)(body)

  private def open[T](name: String, isOp: Boolean)(body: => T): T = {
    val parents = stack.get
    val id = nextId.incrementAndGet()
    val opId = if (isOp || parents.isEmpty) id else parents.head.op
    val s = new Span(id, name, parents.headOption.fold(0L)(_.id), opId, System.nanoTime())
    val sc = spark.sparkContext
    stack.set(s :: parents)
    sc.setJobGroup(SpanTracer.group(id), name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      done.add(s)
      stack.set(parents)
      parents.headOption match {
        case Some(p) => sc.setJobGroup(SpanTracer.group(p.id), p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Stop listening and return the spans, with every listener event
    * delivered. */
  def finish(): Seq[Span] = {
    BenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(taskTap)
    done.asScala.toSeq.sortBy(_.id)
  }
}

object SpanTracer {
  private val prefix = "graftbench-span-"
  def group(id: Long): String = prefix + id
  def spanOf(group: String): Option[Long] =
    if (group != null && group.startsWith(prefix)) Some(group.stripPrefix(prefix).toLong) else None
}

/** Spark task metrics summed per span. */
final class TaskAgg {
  var jobs, tasks = 0L
  var runMs, cpuNs, gcMs, queueMs = 0L
  var shuffleBytes, spillBytes = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L
  var planMs = 0.0

  def +=(o: TaskAgg): this.type = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; queueMs += o.queueMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outRecords += o.outRecords; planMs += o.planMs
    this
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "executor_run_ms" -> runMs,
    "executor_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "scheduler_delay_ms" -> queueMs, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inBytes, "input_records" -> inRecords,
    "output_bytes" -> outBytes, "output_records" -> outRecords, "plan_ms" -> planMs)
}

/** Spark listener that sums public task metrics per span (job group).
  * Events arrive on the single listener-bus thread; the methods are
  * synchronized only so the final read is safe. */
final class TaskTap extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Long, TaskAgg]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobSubmitted = mutable.HashMap.empty[Int, Long]
  private val jobFirstLaunch = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val execSpan = mutable.HashMap.empty[Long, Long]

  private def agg(span: Long) = bySpan.getOrElseUpdate(span, new TaskAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    SpanTracer.spanOf(group).foreach { span =>
      agg(span).jobs += 1
      jobSpan(e.jobId) = span
      jobSubmitted(e.jobId) = e.time
      e.stageIds.foreach { s => stageSpan(s) = span; stageJob(s) = e.jobId }
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val t = e.taskInfo.launchTime
      if (jobFirstLaunch.get(job).forall(_ > t)) jobFirstLaunch(job) = t
    }
  }

  // Time from job submission to its first task launch: DAG scheduling plus
  // waiting for a free core behind other jobs (the other client's, say).
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (span <- jobSpan.get(e.jobId); sub <- jobSubmitted.get(e.jobId);
         first <- jobFirstLaunch.get(e.jobId))
      agg(span).queueMs += math.max(0L, first - sub)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId)) {
      val a = agg(span)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  // Planning time reaches a span through its SQL execution: the start
  // event names the job group, the end event carries the QueryExecution
  // whose tracker timed analysis, optimization and physical planning.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
        s.jobGroupId.flatMap(g => SpanTracer.spanOf(g)).foreach(span => execSpan(s.executionId) = span)
      }
    case end: SparkListenerSQLExecutionEnd => synchronized {
        for (span <- execSpan.get(end.executionId); qe <- BenchBridge.queryExecution(end))
          agg(span).planMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    case _ =>
  }

  def snapshot: Map[Long, TaskAgg] = synchronized(bySpan.toMap)
}

/** The traced phase's spans joined with their Spark metrics. */
final class TraceReport(val spans: Seq[Span], val aggs: Map[Long, TaskAgg], t0Ns: Long) {
  val ops: Seq[Span] = spans.filter(_.name.startsWith("op."))
  private val children = spans.groupBy(_.parent)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def medianMs(name: String): Double = {
    val d = named(name).map(_.durMs)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }
  def selfMs(s: Span): Double =
    s.durMs - children.getOrElse(s.id, Nil).map(_.durMs).sum

  /** Spark metrics of one span, or of an operation and all its spans. */
  def agg(s: Span): TaskAgg = aggs.getOrElse(s.id, new TaskAgg)
  def opAgg(op: Span): TaskAgg = {
    val total = new TaskAgg
    spans.filter(_.op == op.id).foreach(s => total += agg(s))
    total
  }
  def sumAgg(ss: Seq[Span]): TaskAgg = {
    val total = new TaskAgg
    ss.foreach(s => total += agg(s))
    total
  }

  /** Self time per layer, averaged over operations. */
  def selfPerOpMs(layer: String): Double =
    if (ops.isEmpty) 0.0
    else spans.filter(_.layer == layer).map(selfMs).sum / ops.size

  def write(path: String, extra: Map[String, Any]): Unit = {
    val rows = spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6,
        "self_ms" -> selfMs(s), "spark" -> agg(s).toMap)
    }
    val out = new java.io.File(path)
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(Json.render(Map("summary" -> extra, "spans" -> rows)))
    finally w.close()
  }
}

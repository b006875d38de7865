package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around each call into a layer, plus
  * the Spark work attributed to them.
  *
  * A span is (id, parent, trace, name, start, end); the trace id is the
  * measured cycle the span belongs to. Spans are always recorded: the
  * end-to-end timings are read from them. With tracing on, every job
  * started inside a span carries the span id as a local property, and
  * a [[JobLog]] listener records jobs, stages and query-planning phases
  * for the analysis in `pb/trace.py`. Everything stays in memory until
  * [[toJson]] at exit. Times are epoch microseconds.
  */
final class Tracer {
  import Tracer._

  final case class Span(id: Int, parent: Int, trace: Int, name: String, startUs: Long,
                        var endUs: Long = -1L, var traced: Boolean = false,
                        attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap())

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var spark: SparkSession = _
  private var log: JobLog = _
  private val logs = mutable.ArrayBuffer[JobLog]()
  private var tracing = false
  var trace: Int = -1

  /** Bind to a (new) session; tracing stays off until [[setTracing]]. */
  def attach(s: SparkSession): Unit = { setTracing(false); spark = s }

  /** Turn the listener and job tagging on or off. Drains the bus first,
    * so no event of the work done so far is lost or misattributed. */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    PerfbenchBus.drain(spark.sparkContext)
    if (on) {
      log = new JobLog
      logs += log
      spark.sparkContext.addSparkListener(log)
      spark.listenerManager.register(log)
    } else {
      spark.sparkContext.removeSparkListener(log)
      spark.listenerManager.unregister(log)
    }
    tracing = on
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), trace, name, nowUs(),
      traced = tracing)
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    if (tracing) sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endUs = nowUs()
      stack = stack.tail
      if (tracing) sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Attach a count to the innermost open span. */
  def count(key: String, v: Double): Unit =
    stack.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)

  def toJson: String = {
    if (spark != null && tracing) PerfbenchBus.drain(spark.sparkContext)
    val sp = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"traced":${s.traced},"attrs":$attrs}"""
    }.mkString("[", ",\n", "]")
    val all = logs.toSeq
    val jobs = all.flatMap(_.jobs.asScala).mkString("[", ",\n", "]")
    val stages = all.flatMap(_.stages.asScala).mkString("[", ",\n", "]")
    val plans = all.flatMap(_.plans.asScala).mkString("[", ",\n", "]")
    s"""{"spans":$sp,"jobs":$jobs,"stages":$stages,"plans":$plans}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowUs(): Long = anchorMs * 1000L + (System.nanoTime() - anchorNs) / 1000L

  /** Spark's own job, stage and planning records, each tagged with the
    * span that was open when the work started. */
  final class JobLog extends SparkListener with QueryExecutionListener {
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val failedTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    private def spanOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey))).getOrElse("-1")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      jobStart.put(e.jobId, (e.time, span))
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, span))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, span) =>
        val ok = e.jobResult == JobSucceeded
        jobs.add(s"""{"job":${e.jobId},"span":$span,"start_us":${t0 * 1000L},"end_us":${e.time * 1000L},"ok":$ok}""")
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) failedTasks.merge(e.stageId, 1, Integer.sum)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val span = Option(stageSpan.get(i.stageId)).getOrElse("-1")
      val failed = Option(failedTasks.remove(i.stageId)).map(_.intValue).getOrElse(0)
      val (run, cpu, gc, in, shr, shw, spill, out) =
        if (m == null) (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
        else (m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten)
      stages.add(s"""{"stage":${i.stageId},"attempt":${i.attemptNumber()},"span":$span,""" +
        s""""tasks":${i.numTasks},"failed_tasks":$failed,"run_ms":$run,"cpu_ms":$cpu,"gc_ms":$gc,""" +
        s""""scan_bytes":$in,"shuffle_read_bytes":$shr,"shuffle_write_bytes":$shw,""" +
        s""""spill_bytes":$spill,"output_bytes":$out}""")
    }

    private def plan(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        val ms = ph.values.map(_.durationMs).sum
        plans.add(s"""{"start_us":${start * 1000L},"plan_ms":$ms}""")
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
  }
}

/** Minimal JSON writing: the harness only emits numbers, strings and
  * flat objects. */
object Json {
  def str(s: String): String = s.map {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

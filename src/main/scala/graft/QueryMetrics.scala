package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query execution counters: the engine's one `SparkListener`.
  *
  * Counts jobs, stages and tasks, splits wall into in-job time
  * (scheduling + task run) and the gaps between jobs (driver-side
  * planning and AQE re-optimization), and sums shuffle read/write,
  * scan input and spill bytes from each completed stage. Stage count is
  * the sequential-barrier count that dominates small-input walls;
  * shuffle bytes are the lever that dominates cluster-scale walls.
  *
  * Usage is one window per query run, one query at a time:
  * [[reset]] before the action, [[snapshot]] after it. Listener events
  * are delivered asynchronously, so both DRAIN the listener bus first —
  * without the drain, late stage events of one run land in the next
  * run's window (a shuffle query followed by a scan-only one would
  * report shuffle bytes for the scan).
  */
final class QueryMetrics private (spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicInteger(0)
  private val stages = new AtomicInteger(0)
  private val tasks = new AtomicLong(0L)
  private val inJobNs = new AtomicLong(0L)
  private val gapNs = new AtomicLong(0L)
  private val lastEndNs = new AtomicLong(0L) // 0 = no job ended in this window
  private val shuffleRead = new AtomicLong(0L)
  private val shuffleWrite = new AtomicLong(0L)
  private val input = new AtomicLong(0L)
  private val spill = new AtomicLong(0L)
  private val starts = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val now = System.nanoTime()
    jobs.incrementAndGet()
    starts.put(j.jobId, now)
    val le = lastEndNs.get()
    if (le > 0L) gapNs.addAndGet(now - le)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val now = System.nanoTime()
    val s = starts.remove(j.jobId)
    if (s != null) inJobNs.addAndGet(now - s.longValue())
    lastEndNs.set(now)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(s.stageInfo.numTasks)
    val m = s.stageInfo.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      input.addAndGet(m.inputMetrics.bytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Waits until every posted event reached the listeners.
    * `waitUntilEmpty` is private[spark] (bounded: it times out after
    * 10 s), hence the reflective call; a fixed sleep stands in if the
    * internals move. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(300) }
  }

  /** Opens a window: drains the bus, then zeroes every counter. */
  def reset(): Unit = {
    drain()
    jobs.set(0)
    stages.set(0)
    Seq(tasks, inJobNs, gapNs, lastEndNs, shuffleRead, shuffleWrite, input, spill)
      .foreach(_.set(0L))
    starts.clear()
  }

  /** Closes a window: drains the bus, then reads the counters. */
  def snapshot(): QueryMetrics.Snapshot = {
    drain()
    QueryMetrics.Snapshot(jobs.get, stages.get, tasks.get,
      inJobNs.get / 1000000L, gapNs.get / 1000000L,
      shuffleRead.get, shuffleWrite.get, input.get, spill.get)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object QueryMetrics {

  final case class Snapshot(jobs: Int, stages: Int, tasks: Long,
                            inJobMs: Long, gapMs: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            inputBytes: Long, spillBytes: Long) {
    /** The fields as JSON members (no braces), to sit beside other
      * per-query members. */
    def jsonFields: String =
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""in_job_ms":$inJobMs,"gap_ms":$gapMs,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""input_bytes":$inputBytes,"spill_bytes":$spillBytes"""
  }

  /** Registers a fresh listener on the session's context. */
  def install(spark: SparkSession): QueryMetrics = {
    val m = new QueryMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}

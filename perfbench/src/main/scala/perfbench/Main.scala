package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload: set-up runs once, then cycles are the measured unit of
  * work. */
trait Workload {
  /** Everything before the first timed cycle: inputs prepared, JIT and
    * codegen warmed (analytics also checks its results here). */
  def setup(spark: SparkSession, t: Tracer, rec: Recorder): Unit
  /** One measured cycle; returns false when the workload's inputs are
    * used up. */
  def cycle(spark: SparkSession, t: Tracer, c: Int, rec: Recorder): Boolean
  /** Untimed counts after a traced cycle. */
  def probe(spark: SparkSession, c: Int, rec: Recorder): Unit = ()
  /** Leading cycles that run and are checked like the others but only
    * warm the engine: the runner leaves them out of the timings. */
  def warmCycles: Int = 0
}

/** Operation log: each op is (cycle, kind, name, ms, error). */
final class Recorder {
  private val ops = mutable.ArrayBuffer[String]()
  val facts = mutable.ArrayBuffer[String]()

  def op[T](t: Tracer, cycle: Int, kind: String, name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Right(t.span(name)(body)) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).takeWhile(_ != '\n').take(300))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = r.left.toOption.map(Json.str).getOrElse("null")
    ops += s"""{"cycle":$cycle,"kind":${Json.str(kind)},"name":${Json.str(name)},"ms":$ms,"error":$err}"""
    r.toOption
  }

  /** A named fact for the checker (sizes, counts), as raw JSON. */
  def fact(cycle: Int, name: String, json: String): Unit =
    facts += s"""{"cycle":$cycle,"name":${Json.str(name)},"value":$json}"""

  def opsJson: String = ops.mkString("[", ",\n", "]")
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload W --data DIR --out DIR --cycles C " +
      "--trace 0|1 --cpus N")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => usage(s"bad argument ${a.mkString(" ")}")
    }.toMap
    def get(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    def int(k: String) = get(k).toIntOption.getOrElse(usage(s"--$k needs an integer"))
    val name = get("workload")
    val data = get("data")
    val out = get("out")
    // a fixed number of measured cycles per run (after the workload's
    // warm-up cycles): the same work every run, so runs compare; in a
    // traced run they alternate untraced/traced
    val cycles = int("cycles")
    val traceMode = int("trace") == 1
    val cpus = int("cpus")
    if (cpus < 1 || cycles < 1) usage("--cpus and --cycles must be >= 1")
    Files.createDirectories(Paths.get(out))

    val workload: Workload = name match {
      case "analytics_sf001" => new Analytics(data, out, opts.getOrElse("queries", ""))
      case "hfc_monthly_refresh" => new HfcRefresh(data, out)
      case "web_corpus_build" => new WebCorpus(data, out)
      case other => usage(s"unknown workload $other")
    }

    // set-up runs from process start to the first timed cycle: JVM and
    // Spark start-up, the workload's set-up and its warm cycles
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t = new Tracer
    val spark = graft.GraftSession.local(cpus.toString, "perfbench")
    t.attach(spark)
    t.setTracing(traceMode)
    t.trace = -1
    val rec = new Recorder
    t.span("setup")(workload.setup(spark, t, rec))
    t.setTracing(false)

    val cycleMs = mutable.ArrayBuffer[(Int, Double, Boolean, Boolean)]()
    val warmCycles = workload.warmCycles
    var c = 0
    var more = true
    var setupS = Double.NaN
    while (more && c < warmCycles + cycles) {
      val warmup = c < warmCycles
      if (c == warmCycles) setupS = (System.currentTimeMillis() - processStartMs) / 1000.0
      val traced = traceMode && !warmup && (c - warmCycles) % 2 == 1
      t.setTracing(traced)
      t.trace = c
      val t0 = System.nanoTime()
      more = t.span("cycle")(workload.cycle(spark, t, c, rec))
      cycleMs += ((c, (System.nanoTime() - t0) / 1e6, traced, warmup))
      if (traced) workload.probe(spark, c, rec)
      c += 1
    }
    t.setTracing(false)

    val cyclesJson = cycleMs.map { case (i, ms, tr, w) =>
      s"""{"cycle":$i,"ms":$ms,"traced":$tr,"warmup":$w}""" }.mkString("[", ",", "]")
    val result =
      s"""{"workload":${Json.str(name)},"cpus":$cpus,"setup_s":$setupS,""" +
        s""""cycles":$cyclesJson,"ops":${rec.opsJson},"facts":${rec.facts.mkString("[", ",\n", "]")},""" +
        s""""peak_rss_mb":${peakRssMb()}}"""
    Files.write(Paths.get(out, "result.json"), result.getBytes(UTF_8))
    if (traceMode) Files.write(Paths.get(out, "trace.json"), t.toJson.getBytes(UTF_8))
    spark.stop()
  }

  /** VmHWM of this JVM (Linux), in MB; -1 when unavailable. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: java.io.IOException => -1.0 }
}

package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import scala.jdk.CollectionConverters._

/** [[QueryMetrics]] windows and the per-query counters [[Bench]]
  * records with them. */
class QueryMetricsSpec extends SparkTestBase {
  import spark.implicits._

  private def noop(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("consecutive windows: a scan-only query after a shuffle query counts only its own work") {
    // a slow listener ahead of QueryMetrics on the same bus queue holds
    // every event back, so each action returns before its own events are
    // counted: only the drain keeps them in their window
    val slow = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Thread.sleep(200)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(slow)
    val m = QueryMetrics.install(spark)
    try {
      m.reset()
      noop(spark.range(0, 200000, 1, 4).groupBy(($"id" % 97).as("k")).count())
      val shuffled = m.snapshot()
      m.reset()
      noop(spark.range(0, 1000, 1, 2).filter($"id" % 3 === 0))
      val scan = m.snapshot()
      assert(shuffled.shuffleWriteBytes > 0L && shuffled.shuffleReadBytes > 0L, shuffled)
      assert(shuffled.jobs >= 1 && shuffled.stages >= 2, shuffled)
      assert(scan.shuffleReadBytes == 0L && scan.shuffleWriteBytes == 0L, scan)
      assert(scan.jobs == 1 && scan.stages == 1 && scan.tasks == 2L, scan)
      m.reset()
      noop(Tables(spark, sf0001).documents.select("doc_id", "text"))
      val parquet = m.snapshot()
      assert(parquet.inputBytes > 0L && parquet.shuffleWriteBytes == 0L, parquet)
      Seq(shuffled, scan, parquet).foreach { s =>
        assert(s.inJobMs >= 0L && s.gapMs >= 0L && s.spillBytes >= 0L, s)
      }
      // an empty window reads zero everywhere
      m.reset()
      assert(m.snapshot() == QueryMetrics.Snapshot(0, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    } finally {
      m.close()
      spark.sparkContext.removeSparkListener(slow)
    }
  }

  /** Runs `graft.Bench` in a fresh JVM (Bench stops its session, and
    * reads its settings from the environment) in a scratch working
    * directory; returns its exit code. */
  private def runBench(work: java.nio.file.Path, env: (String, String)*): Int = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*).directory(work.toFile)
      .redirectOutput(work.resolve("out.txt").toFile)
      .redirectError(work.resolve("err.txt").toFile)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.environment().put("SPARK_GRAFT_PASSES", "1")
    val p = pb.start()
    if (!p.waitFor(10, TimeUnit.MINUTES)) { p.destroyForcibly(); fail("Bench timed out") }
    p.exitValue()
  }

  private def lines(f: java.nio.file.Path): Seq[String] =
    Files.readAllLines(f, UTF_8).asScala.toSeq.filter(_.nonEmpty)

  private def withDir(body: java.nio.file.Path => Unit): Unit = {
    val work = Files.createTempDirectory("graft-bench")
    try body(work) finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  test("Bench restricted by SPARK_GRAFT_ONLY writes the counters of every selected query") {
    withDir { work =>
      val exit = runBench(work, "SPARK_GRAFT_SF_DIR" -> sf0001,
        "SPARK_GRAFT_ONLY" -> "q01,qd16")
      assert(exit == 0, lines(work.resolve("err.txt")).takeRight(20).mkString("\n"))
      val full = new ObjectMapper().readTree(Files.readString(work.resolve("bench_timings.json")))
      assert(full.get("errors").size == 0, full.get("errors"))
      val stats = full.get("stats")
      assert(stats.fieldNames.asScala.toSet == Set("q01_pricing_summary", "qd16_cluster_canonical"))
      val fields = Seq("min", "med", "max", "n", "jobs", "stages", "tasks", "in_job_ms",
        "gap_ms", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "spill_bytes")
      stats.fields.asScala.foreach { e =>
        val q = e.getValue
        fields.foreach(k => assert(q.has(k), s"${e.getKey} lacks $k: $q"))
        assert(q.get("jobs").asInt >= 1 && q.get("stages").asInt >= 1, s"${e.getKey}: $q")
        assert(q.get("input_bytes").asLong > 0L, s"${e.getKey} scans parquet: $q")
      }
      // qd16 is a near-dup funnel: it shuffles
      assert(stats.get("qd16_cluster_canonical").get("shuffle_write_bytes").asLong > 0L)
    }
  }

  test("Bench's compact line: last on both streams, valid JSON for any sf path, cpus as resolved") {
    withDir { work =>
      // a path needing JSON escaping (quote, backslash, tab) — the data
      // read fails on it and the per-query error text repeats it — and
      // a SPARK_GRAFT_CPUS that is not a number
      val sf = work.resolve("sf \"q\" back\\slash\ttab").toString
      val exit = runBench(work, "SPARK_GRAFT_SF_DIR" -> sf,
        "SPARK_GRAFT_ONLY" -> "q01", "SPARK_GRAFT_CPUS" -> "*")
      val (out, err) = (lines(work.resolve("out.txt")), lines(work.resolve("err.txt")))
      assert(exit == 0, err.takeRight(20).mkString("\n"))
      assert(err.last == out.last, "the compact line is the last line on both streams")
      val json = new ObjectMapper()
      val compact = json.readTree(out.last)
      assert(compact.get("sf").asText == sf)
      assert(compact.get("cpus").isInt &&
        compact.get("cpus").asInt == Runtime.getRuntime.availableProcessors, compact)
      assert(compact.get("n").asInt == 1 && compact.get("n_errors").asInt == 1, compact)
      val full = json.readTree(Files.readString(work.resolve("bench_timings.json")))
      assert(full.get("sf").asText == sf)
      assert(full.get("errors").get("q01_pricing_summary").asText.contains("back\\slash\ttab"))
    }
  }

  test("SPARK_GRAFT_CPUS resolves to a core count or fails by name") {
    assert(GraftSession.cores("*") == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cores(" 8 ") == 8)
    Seq("eight", "0", "-2", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](GraftSession.cores(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
    }
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `analytics_sf001`: a fixed sample of `SparkEntry.queries` over the
  * generated sf0.01 tables. A cycle runs the sample once, each query
  * fully evaluated through a noop sink, with the cache cleared between
  * queries as the engine's own Bench does. */
final class Analytics(data: String, out: String, queryList: String) extends Workload {
  private val sample: Seq[String] = queryList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  require(sample.nonEmpty, "analytics_sf001 needs --queries q1,q2,...")
  private lazy val all = graft.SparkEntry.queries
  private def fn(q: String): (SparkSession, String) => DataFrame =
    all.getOrElse(q, throw new IllegalArgumentException(s"unknown query $q"))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Set-up is the checked pass: each query writes its result once for
    * the runner's oracle compare. It also warms JIT and codegen, so the
    * timed cycles that follow measure the warm engine. */
  def setup(spark: SparkSession, t: Tracer, rec: Recorder): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    sample.foreach { q =>
      val err = try {
        fn(q)(spark, data).write.mode("overwrite").parquet(s"$out/check/$q"); "null"
      } catch { case e: Exception => Json.str(e.getClass.getSimpleName + ": " + e.getMessage) }
      spark.catalog.clearCache()
      rec.fact(-1, s"check.$q", s"""{"error":$err,"oracle":${oracles.get(q).map(Json.str).getOrElse("null")}}""")
    }
  }

  def cycle(spark: SparkSession, t: Tracer, c: Int, rec: Recorder): Boolean = {
    sample.foreach { q =>
      rec.op(t, c, "query", s"queries.$q") {
        val df = t.span("queries.build")(fn(q)(spark, data))
        t.span("spark.execute")(noop(df))
      }
      spark.catalog.clearCache()
    }
    true
  }
}

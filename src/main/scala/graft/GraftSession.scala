package graft

import org.apache.spark.sql.SparkSession

/** Shared session tuning for every entry point (Verify / Bench / tests).
  *
  * Scale rationale: shuffle partitions sized to local cores here, to
  * `max(2×cores, input/128MB)` on a real cluster; AQE enabled so skewed
  * shuffles re-plan at runtime (SURVEY §7.4 — mega-repo skew is the
  * reference's known pathology); nanosAsLong lets the vectorized parquet
  * reader ingest TIMESTAMP(NANOS) columns (normalized in [[Tables]]).
  */
object GraftSession {
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")

  /** The task-thread count a `cpus` setting resolves to: a positive
    * integer, or `*` for every core of the host (Spark's `local[*]`). */
  def cores(cpus: String): Int = cpus.trim match {
    case "*" => Runtime.getRuntime.availableProcessors
    case n => n.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer or '*', got '$cpus'"))
  }

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
            appName: String = "graft"): SparkSession = {
    val n = cores(cpus)
    val spark = configure(
      SparkSession.builder().master(s"local[$n]").appName(appName)
        .withExtensions(new GraftExtensions), n.toString)
      .getOrCreate()
    GraftExtensions.register(spark) // getOrCreate may reuse a pre-extension session
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

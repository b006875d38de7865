package perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.hfc.{HfcMetrics, IncrementalRefresh, Normalize, PartitionedMergeWriter}

/** `hfc_monthly_refresh`: the reference's monthly job.
  *
  * Set-up normalizes the generated bronze into the silver tables
  * (`Normalize.*`) and lays out the partitioned `repository` store
  * (`PartitionedMergeWriter.initTable`). Each cycle is one month: the
  * month's batch goes through `IncrementalRefresh.refreshPartitioned`
  * (published when it returns), then the eight `HfcMetrics` reads run
  * on the just-published store, each collected. Results
  * go to the runner, which compares them with the generator's truth.
  * The first month warms the refresh and read paths and is not timed. */
final class HfcRefresh(data: String, out: String) extends Workload {
  override def warmCycles: Int = 1
  private val nPartitions = 8
  private val root = s"$out/hfc"
  private def store = s"$root/repository"
  private def silver(name: String) = s"$root/silver/$name"

  private lazy val batches: IndexedSeq[(String, String)] = {
    val src = scala.io.Source.fromFile(s"$data/batches.tsv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(file, limit) = l.split("\t"); (s"$data/$file", limit)
    }.toIndexedSeq finally src.close()
  }
  private lazy val m3Repo = {
    val src = scala.io.Source.fromFile(s"$data/m3_repo.txt", "UTF-8")
    try src.mkString.trim finally src.close()
  }

  def setup(spark: SparkSession, t: Tracer, rec: Recorder): Unit = {
    def bronze(n: String) = spark.read.parquet(s"$data/bronze/$n.parquet")
    def land(name: String, df: DataFrame) = df.write.mode("overwrite").parquet(silver(name))
    t.span("hfc.normalize") {
      land("repository", Normalize.repositories(bronze("models"), bronze("datasets"), bronze("spaces")))
      land("repo_file", Normalize.repoFiles(bronze("repo_siblings")))
      val commits = bronze("commits")
      land("commits", commits)
      land("modified_file", Normalize.modifiedFiles(bronze("deltas"),
        spark.read.parquet(silver("repo_file"))))
      land("files_in_commit", Normalize.filesInCommit(spark.read.parquet(silver("modified_file"))))
      land("discussion", Normalize.repairMergeCommits(bronze("discussions"), commits))
      land("discussion_event", Normalize.discussionEvents(bronze("discussion_events")))
      land("dataset", bronze("datasets").select(
        concat(lit("datasets/"), col("name")).as("dataset_id"), col("paperswithcode_id")))
    }
    t.span("hfc.init")(PartitionedMergeWriter.initTable(
      spark.read.parquet(silver("repository")), store, "id", nPartitions))
  }

  def cycle(spark: SparkSession, t: Tracer, c: Int, rec: Recorder): Boolean = {
    if (c >= batches.size) return false
    val (file, limit) = batches(c)
    val batch = spark.read.parquet(file)
    val touched = rec.op(t, c, "refresh", "hfc.refresh") {
      val (stale, fresh) = IncrementalRefresh.refreshPartitioned(spark, store, batch,
        Seq("id"), "id", nPartitions, "last_modified", to_timestamp(lit(limit)), Seq("likes"))
      t.count("partitions_touched", (stale ++ fresh).distinct.size)
      t.count("partitions_total", nPartitions)
      (stale, fresh)
    }
    // untimed: what the refresh left on disk
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(store)).filter(_.getPath.getName.startsWith("part_id="))
      .map(d => d.getPath.getName.stripPrefix("part_id=").toInt ->
        fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet")))
      .toMap
    val written = touched.map { case (stale, fresh) =>
      (stale ++ fresh).map(p => files.get(p).map(_.map(_.getLen).sum).getOrElse(0L)).sum
    }.getOrElse(0L)
    rec.fact(c, "refresh", s"""{"store_files":${files.values.map(_.length).sum},""" +
      s""""bytes_written":$written,"batch_bytes":${fs.getFileStatus(new Path(file)).getLen}}""")

    val repo = spark.read.parquet(store)
    val t2 = (n: String) => spark.read.parquet(silver(n))
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "m1" -> (() => HfcMetrics.topOrgsByModels(repo)),
      "m2" -> (() => HfcMetrics.filesPerRepoHistogram(t2("repo_file"))),
      "m3" -> (() => HfcMetrics.fileModificationHeatmap(t2("modified_file"),
        t2("files_in_commit"), t2("commits"), m3Repo)),
      "m4" -> (() => HfcMetrics.paperswithcodeSplit(t2("dataset"))),
      "m5" -> (() => HfcMetrics.discussionShareByType(repo, t2("discussion"))),
      "m6" -> (() => HfcMetrics.discussionsPerRepoHistogram(t2("discussion"))),
      "m7" -> (() => HfcMetrics.avgCommentsPerDiscussion(t2("discussion_event"))),
      "m8" -> (() => HfcMetrics.nonOwnerDiscussionShare(repo, t2("discussion"))))
    reads.foreach { case (m, df) =>
      rec.op(t, c, "read", s"hfc.$m")(df().collect()).foreach { rows =>
        rec.fact(c, m, rows.map(_.json).mkString("[", ",", "]"))
      }
    }
    true
  }
}

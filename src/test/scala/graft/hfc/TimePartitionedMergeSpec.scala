package graft.hfc

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the event-month layout of the partition-pruned MERGE
  * ([[PartitionedMergeWriter.byMonth]]): an incremental batch
  * rewrites only the months it touches — other months byte-identical —
  * brand-new months materialize on first touch, and event-time NULLs
  * are rejected loudly (they have no partition to merge into). A torn
  * month swap is found from the listing and repaired. */
class TimePartitionedMergeSpec extends SparkTestBase {
  import spark.implicits._

  private val P = PartitionedMergeWriter.MonthCol
  private val layout = PartitionedMergeWriter.byMonth("ts")

  private def upsert(path: String, updates: DataFrame): Seq[String] =
    PartitionedMergeWriter.foldPartitioned(spark, path, updates, layout)(
      MergeWriter.upsert(_, _, Seq("event_id", P)))

  private def baseTable: DataFrame =
    Seq(
      (1L, "2024-01-05 10:00:00", "a1"), (2L, "2024-01-20 11:00:00", "a2"),
      (3L, "2024-02-03 09:00:00", "b1"), (4L, "2024-02-28 23:00:00", "b2"),
      (5L, "2024-03-15 07:00:00", "c1"))
      .toDF("event_id", "tss", "payload")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")

  private def fileState(dir: String): Map[String, (Long, Long)] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap

  test("merge rewrites touched months only; new months materialize; others byte-identical") {
    val dir = Files.createTempDirectory("graft-tmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, layout)
      val before = fileState(path)

      val updates = Seq(
        (3L, "2024-02-03 09:00:00", "b1-updated"),  // existing key, same event time
        (6L, "2024-02-14 12:00:00", "b3"),          // new key, existing month
        (7L, "2024-04-01 08:00:00", "d1"))          // new key, BRAND NEW month
        .toDF("event_id", "tss", "payload")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")

      val affected = upsert(path, updates)
      assert(affected == Seq("2024-02", "2024-04"))

      val rows = spark.read.parquet(path)
        .select("event_id", "payload").as[(Long, String)].collect().toMap
      assert(rows == Map(1L -> "a1", 2L -> "a2", 3L -> "b1-updated",
                         4L -> "b2", 5L -> "c1", 6L -> "b3", 7L -> "d1"))

      // time-pruned scan really prunes at the source
      val pruned = spark.read.parquet(path).filter(col(P) === "2024-01")
      val scan = pruned.queryExecution.executedPlan.toString
      assert(pruned.count() == 2 && scan.contains("PartitionFilters"))

      // untouched months' files: same paths, sizes, mtimes
      val after = fileState(path)
      val untouched = Seq("2024-01", "2024-03").map(m => s"$path/$P=$m")
      assert(before.filter(f => untouched.exists(f._1.startsWith)) ==
             after.filter(f => untouched.exists(f._1.startsWith)))
      assert(new File(s"$path/$P=2024-04").exists())

      // idempotent: replaying the same batch converges
      upsert(path, updates)
      assert(spark.read.parquet(path)
        .select("event_id", "payload").as[(Long, String)].collect().toMap == rows)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
  }

  test("targeted column update touches only named columns, ignores unknown keys") {
    val dir = Files.createTempDirectory("graft-tmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(
        baseTable.withColumn("likes", lit(0)), path, layout)
      // NARROW counters frame — no payload column at all: the rewritten
      // months must keep the table's other columns intact
      val updates = Seq(
        (3L, "2024-02-03 09:00:00"),   // existing key
        (99L, "2024-02-10 00:00:00"))  // unknown key: dropped (K4)
        .toDF("event_id", "tss")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
        .withColumn("likes", lit(41))
      val affected = PartitionedMergeWriter.foldPartitioned(spark, path, updates, layout)(
        MergeWriter.updateColumns(_, _, Seq("event_id", P), cols = Seq("likes")))
      assert(affected == Seq("2024-02"))
      val rows = spark.read.parquet(path)
        .select("event_id", "payload", "likes").as[(Long, String, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows(3L) == (("b1", 41)))   // likes updated, payload untouched
      assert(!rows.contains(99L) && rows.size == 5)
      assert(rows(1L) == (("a1", 0)))    // other months untouched
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
  }

  test("NULL event times are rejected, not silently dropped into a default partition") {
    val dir = Files.createTempDirectory("graft-tmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, layout)
      val nullTs = Seq((9L, "x")).toDF("event_id", "payload")
        .withColumn("ts", lit(null).cast("timestamp"))
      val e = intercept[IllegalArgumentException] {
        upsert(path, nullTs)
      }
      assert(e.getMessage.contains("NULL"))
      // ...and the initial load enforces the same contract in-pass
      // (raise_error in the write projection) — otherwise null rows
      // land in the Hive default partition no merge ever reads
      val e2 = intercept[Exception] {
        PartitionedMergeWriter.initTable(nullTs, s"$dir/t2", layout)
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e2).exists(_.contains("NULL")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
  }

  test("recover discovers and repairs a torn month swap from the listing") {
    val dir = Files.createTempDirectory("graft-tmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, layout)
      val whole = spark.read.parquet(path)
        .select("event_id", "payload").as[(Long, String)].collect().toSet

      // torn state for 2024-02: staging complete under the canonical
      // name, target renamed aside, publish never ran
      val target = s"$path/$P=2024-02"
      val staging = AtomicSwap.stagingFor(target)
      Files.move(Paths.get(target), Paths.get(staging))
      Files.createFile(Paths.get(staging, "_SUCCESS"))
      Files.createDirectory(Paths.get(target))
      Files.move(Paths.get(target), Paths.get(target + ".old"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)

      StoreProtocol.recoverPartitions(spark, path)
      assert(spark.read.parquet(path)
        .select("event_id", "payload").as[(Long, String)].collect().toSet == whole)
      assert(!new File(target + ".old").exists() && !new File(staging).exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
  }
}

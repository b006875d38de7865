package graft.hfc

import graft.SparkTestBase
import graft.hfc.PartitionedMergeWriter.{PartCol, byKey}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, to_timestamp}

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the two load-bearing properties of the partition-pruned MERGE:
  * (1) it computes exactly what the full-table consolidation computes,
  * and (2) partitions that contain no update keys are NOT rewritten —
  * their files stay byte-identical (same paths, sizes, mtimes,
  * contents). At 63 M-row repo_file scale that is the difference
  * between a merge proportional to the update and one proportional to
  * the table. Also pinned: the one-fold monthly refresh equals the
  * non-partitioned refresh in at most three Spark jobs and whatever the
  * shuffle partition count, a torn partition swap is repaired and a
  * refresh torn mid-publish converges on its re-run, and a batch typed
  * wider than the store or carrying a NULL watermark is rejected
  * before any write. */
class PartitionedMergeSpec extends SparkTestBase {
  import spark.implicits._

  private val N = 8

  private def baseTable: DataFrame =
    (0 until 200).map(i => (s"repo$i", i, s"v$i")).toDF("id", "likes", "payload")

  private def fileState(dir: String): Map[String, (Long, Long, String)] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map { p =>
        val bytes = Files.readAllBytes(p)
        val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        (p.toString, (Files.size(p), Files.getLastModifiedTime(p).toMillis,
          md.map("%02x".format(_)).mkString))
      }.toMap

  /** K2 upsert rewriting only the partitions the update keys hash to. */
  private def upsert(path: String, updates: DataFrame): Seq[Int] =
    PartitionedMergeWriter.foldPartitioned(spark, path, updates, byKey("id", N))(
      MergeWriter.upsert(_, _, Seq("id", PartCol)))

  private val limit = to_timestamp(lit("2024-02-01"))

  /** A monthly batch with every case the benchmark's generator plants. */
  private def refreshBatch: DataFrame = Seq(
      ("repo3", 333, "NEWPAYLOAD", "2024-01-05"),  // stale (< limit) → likes only
      ("repo9", 999, "fresh-pay", "2024-03-10"),   // fresh → full upsert
      ("repo900", 9, "brand-new", "2024-03-11"),   // fresh new key → inserted
      ("repo12", 120, "stale-pay", "2024-01-06"),  // stale here...
      ("ghost1", 7, "ghost", "2024-01-07"),        // stale key absent from the store
      ("repo20", 1, "dup-a", "2024-01-08"),        // stale in-batch duplicates: last wins
      ("repo20", 2, "dup-b", "2024-01-09"),
      ("repo31", 310, "dup-c", "2024-03-01"),      // fresh in-batch duplicates: last wins
      ("repo31", 311, "dup-d", "2024-03-02"),
      ("repo12", 121, "fresh-12", "2024-03-12"),   // ...and fresh in a later row
    ).toDF("id", "likes", "payload", "lm")
    .withColumn("last_modified", to_timestamp(col("lm"))).drop("lm")

  private def refresh(path: String): (Seq[Int], Seq[Int]) =
    IncrementalRefresh.refreshPartitioned(spark, path, refreshBatch, Seq("id"), "id", N,
      "last_modified", limit, Seq("likes"))

  test("upsertPartitioned == full-table upsert, and untouched partitions are byte-identical") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, "id", N)

      val updates = Seq(
        ("repo3", 999, "v3b"),     // existing key, new values
        ("repo3", 1000, "v3c"),    // same key again — last wins
        ("repo777", 1, "new"),     // brand new key
      ).toDF("id", "likes", "payload")

      // the naive full-table full-outer consolidation
      val expected = MergeWriter.upsert(spark.read.parquet(path),
          updates.withColumn(PartCol, PartitionedMergeWriter.partitionOf(col("id"), N)),
          Seq("id", PartCol))
        .select("id", "likes", "payload").as[(String, Int, String)].collect().toSet

      val before = fileState(path)
      val affected = upsert(path, updates)
      val after = fileState(path)

      // semantics: identical to the naive full-outer consolidation
      val actual = spark.read.parquet(path)
        .select("id", "likes", "payload").as[(String, Int, String)].collect().toSet
      assert(actual == expected)
      assert(actual.contains(("repo3", 1000, "v3c")))
      assert(actual.contains(("repo777", 1, "new")))

      // pruning: only the partitions holding repo3/repo777 changed
      assert(affected.nonEmpty && affected.size <= 2)
      val untouchedDirs = (0 until N).filterNot(affected.contains)
        .map(p => s"$path/$PartCol=$p")
      val beforeUntouched = before.filter { case (f, _) => untouchedDirs.exists(f.startsWith) }
      val afterUntouched = after.filter { case (f, _) => untouchedDirs.exists(f.startsWith) }
      assert(beforeUntouched.nonEmpty, "fixture should populate several partitions")
      assert(beforeUntouched == afterUntouched,
        "untouched partition files must not be rewritten, moved, or re-timestamped")
      // and the affected ones really did change
      assert(before.keySet.filter(f => affected.exists(p =>
        f.startsWith(s"$path/$PartCol=$p"))) !=
        after.keySet.filter(f => affected.exists(p =>
          f.startsWith(s"$path/$PartCol=$p"))))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("upsertPartitioned is idempotent (re-running the same batch converges)") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, "id", N)
      val updates = Seq(("repo5", 42, "x")).toDF("id", "likes", "payload")
      upsert(path, updates)
      val once = spark.read.parquet(path).as[(String, Int, String, Int)].collect().toSet
      upsert(path, updates)
      val twice = spark.read.parquet(path).as[(String, Int, String, Int)].collect().toSet
      assert(once == twice)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("updateColumnsPartitioned touches only counter columns and affected partitions") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, "id", N)
      val before = fileState(path)
      val updates = Seq(
        ("repo7", 777, "IGNORED"),   // existing key: likes updated, payload NOT in cols
        ("repoX", 1, "IGNORED"),     // unknown key: ignored entirely (K4 semantics)
      ).toDF("id", "likes", "payload")
      val affected = PartitionedMergeWriter.foldPartitioned(spark, path, updates, byKey("id", N))(
        MergeWriter.updateColumns(_, _, Seq("id", PartCol), cols = Seq("likes")))
      val after = fileState(path)

      val rows = spark.read.parquet(path)
        .select("id", "likes", "payload").as[(String, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows("repo7") == ((777, "v7")))        // likes changed, payload kept
      assert(!rows.contains("repoX"))               // non-matching row dropped
      assert(rows.size == 200)
      val untouched = (0 until N).filterNot(affected.contains)
        .map(p => s"$path/$PartCol=$p")
      assert(before.filter(f => untouched.exists(f._1.startsWith)) ==
             after.filter(f => untouched.exists(f._1.startsWith)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("refreshPartitioned: stale keys get counters only, fresh keys full upsert") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, "id", N)
      val (stale, fresh) = refresh(path)

      val rows = spark.read.parquet(path)
        .select("id", "likes", "payload").as[(String, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows("repo3") == ((333, "v3")))            // counters refreshed, payload kept
      assert(rows("repo9") == ((999, "fresh-pay")))     // full upsert
      assert(rows("repo900") == ((9, "brand-new")))     // inserted
      assert(rows("repo5") == ((5, "v5")))              // untouched key intact

      // one fold == the non-partitioned refresh over the whole table
      val whole = IncrementalRefresh.refresh(baseTable, refreshBatch, Seq("id"),
          "last_modified", limit, Seq("likes"))
        .as[(String, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows == whole)
      assert(rows("repo12") == ((121, "fresh-12")) && rows("repo20") == ((2, "v20")) &&
        rows("repo31") == ((311, "dup-d")) && !rows.contains("ghost1"))

      // the returned ids are each side's key partitions
      def partsOf(side: DataFrame) = side
        .select(PartitionedMergeWriter.partitionOf(col("id"), N)).distinct()
        .as[Int].collect().sorted.toSeq
      val (staleRows, freshRows) = MergeWriter.stalenessSplit(refreshBatch, "last_modified", limit)
      assert(stale == partsOf(staleRows) && fresh == partsOf(freshRows))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("refreshPartitioned runs at most three Spark jobs") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, "id", N)
      val m = graft.QueryMetrics.install(spark)
      val run = try {
        m.reset()
        refresh(path)
        m.snapshot()
      } finally m.close()
      // the touched-partition collect, then the write's key shuffle and
      // its write stage
      assert(run.jobs <= 3, run)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("a refreshed store does not depend on the shuffle partition count") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = conf.map(k => k -> spark.conf.getOption(k))
    try {
      val stores = Seq(1, 7).map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        val path = s"$dir/t$n"
        PartitionedMergeWriter.initTable(baseTable, path, "id", N)
        refresh(path)
        spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
      }
      assert(stores.head == stores(1))
      assert(stores.head.exists(_.startsWith("[repo9,999,fresh-pay,")))
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("a NULL watermark is rejected by name before any write") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, "id", N)
      val before = fileState(path)
      val batch = refreshBatch.union(Seq(("repo4", 4, "no-watermark")).toDF("id", "likes", "payload")
        .withColumn("last_modified", lit(null).cast("timestamp")))
      val e = intercept[Exception](IncrementalRefresh.refreshPartitioned(
        spark, path, batch, Seq("id"), "id", N, "last_modified", limit, Seq("likes")))
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("last_modified contains NULLs")), messages(e))
      assert(fileState(path) == before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("a batch typed wider than the store is rejected by name, files untouched") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, "id", N)
      val before = fileState(path)
      val e = intercept[IllegalArgumentException](IncrementalRefresh.refreshPartitioned(
        spark, path, refreshBatch.withColumn("likes", col("likes").cast("long")),
        Seq("id"), "id", N, "last_modified", limit, Seq("likes")))
      assert(e.getMessage.contains("column 'likes' is stored as int but the batch has bigint"))
      assert(fileState(path) == before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("recover repairs a crash between the rename-aside and the publish") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    try {
      val path = s"$dir/t"
      PartitionedMergeWriter.initTable(baseTable, path, "id", N)
      val whole = spark.read.parquet(path)
        .as[(String, Int, String, Int)].collect().toSet

      // simulate the torn state for partition 0: target renamed aside,
      // staging complete under the canonical name, publish never ran
      val target = s"$path/$PartCol=0"
      val staging = AtomicSwap.stagingFor(target)
      Files.move(Paths.get(target), Paths.get(staging))
      Files.createFile(Paths.get(staging, "_SUCCESS"))
      Files.createDirectory(Paths.get(target))
      Files.move(Paths.get(target), Paths.get(target + ".old"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)

      StoreProtocol.recoverPartitions(spark, path)
      val recovered = spark.read.parquet(path)
        .as[(String, Int, String, Int)].collect().toSet
      assert(recovered == whole, "roll-forward must restore every row")
      assert(!new File(target + ".old").exists())
      assert(!new File(staging).exists())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }

  /** Leave `part` of the table at `path` as a crash between the
    * rename-aside and the publish does: the live dir renamed to `.old`,
    * the complete new copy (`staged`'s files) under the canonical
    * staging name. */
  private def tearSwap(path: String, part: String, staged: String): Unit = {
    val target = s"$path/$part"
    val staging = AtomicSwap.stagingFor(target)
    FileUtils.copyDirectory(new File(staged), new File(staging))
    FileUtils.touch(new File(staging, "_SUCCESS"))
    Files.move(Paths.get(target), Paths.get(target + ".old"))
  }

  test("a refresh torn mid-publish converges when the same batch re-runs") {
    val dir = Files.createTempDirectory("graft-pmerge").toString
    try {
      // the fault-free refresh at ref is the reference, and its
      // partitions stand in for the staged ones
      val (path, ref) = (s"$dir/t", s"$dir/t.ref")
      Seq(path, ref).foreach(PartitionedMergeWriter.initTable(baseTable, _, "id", N))
      val (stale, fresh) = refresh(ref)
      val touched = (stale ++ fresh).distinct.sorted
      assert(touched.size >= 3, s"fixture should touch three partitions, got $touched")
      // staging written; the first partition published, the second
      // renamed aside but not published, the rest still staged
      val staged = touched.map(p => s"$PartCol=$p" -> s"$ref/$PartCol=$p")
      FileUtils.deleteDirectory(new File(s"$path/${staged.head._1}"))
      FileUtils.copyDirectory(new File(staged.head._2), new File(s"$path/${staged.head._1}"))
      tearSwap(path, staged(1)._1, staged(1)._2)
      staged.drop(2).foreach { case (part, from) =>
        FileUtils.copyDirectory(new File(from), new File(s"$path/.staging/$part")) }
      Files.createFile(Paths.get(s"$path/.staging/_SUCCESS"))

      refresh(path)
      assert(spark.read.parquet(path).collect().toSet == spark.read.parquet(ref).collect().toSet)
      assert(new File(path).list().forall(n => !n.endsWith(".old") && !n.endsWith(".staging")),
        "remnants left")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
    }
  }
}

package graft.hfc

import graft.SparkTestBase
import graft.sources.GitHistorySource
import graft.sources.GitHistorySource.RepoRef
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths}

/** E1 end-to-end: the reference's whole populate loop
  * (databaseImport.py:577-661 — listings → staleness split → repository
  * upsert → subtype → tags → files → git commit walk → discussions) run
  * as ONE pipeline over scripted REAL git repos and API-shaped bronze
  * fixtures, merged through the partitioned writer, then every M1-M8
  * metric asserted exactly. The pieces are each spec'd in isolation
  * elsewhere; this pins that they compose in the reference's order with
  * the reference's semantics (stale rows take the cheap K4 path, fresh
  * rows the full K2 path; INSERT IGNORE keeps the first writer; deltas
  * resolve their repo_file FK by current filename, misses stay NULL;
  * absent merge commits are repaired to NULL).
  */
class HfcPipelineE2ESpec extends SparkTestBase {
  import spark.implicits._

  // ---- scripted git repos (the post-clone state the reference walks) ----
  private def run(dir: File, env: Seq[(String, String)], cmd: String*): Unit = {
    val pb = scala.sys.process.Process(
      Seq("git", "-c", "user.name=tester", "-c", "user.email=t@local",
          "-c", "commit.gpgsign=false") ++ cmd,
      dir, env: _*)
    assert(pb.! == 0, s"git ${cmd.mkString(" ")} failed")
  }
  private def write(dir: File, name: String, text: String): Unit =
    Files.write(Paths.get(dir.toString, name), text.getBytes)
  private def dated(n: Int) = Seq(
    "GIT_AUTHOR_DATE" -> s"17000000${n}0 +0000",
    "GIT_COMMITTER_DATE" -> s"17000000${n}5 +0000")

  /** m1: ADD README.md; ADD weights.txt + MODIFY README.md */
  private def scriptRepoM1(): File = {
    val dir = Files.createTempDirectory("graft-e2e-m1").toFile
    run(dir, Nil, "init", "-q", "-b", "main")
    write(dir, "README.md", "hello\nworld\n")
    run(dir, Nil, "add", "README.md"); run(dir, dated(1), "commit", "-q", "-m", "c1")
    write(dir, "README.md", "hello\nthere\nworld\n"); write(dir, "weights.txt", "w1\n")
    run(dir, Nil, "add", "-A"); run(dir, dated(2), "commit", "-q", "-m", "c2")
    dir
  }

  /** m2: ADD config.json */
  private def scriptRepoM2(): File = {
    val dir = Files.createTempDirectory("graft-e2e-m2").toFile
    run(dir, Nil, "init", "-q", "-b", "main")
    write(dir, "config.json", "{}\n")
    run(dir, Nil, "add", "config.json"); run(dir, dated(3), "commit", "-q", "-m", "c1")
    dir
  }

  private def listing(rows: (String, String, String, String, Boolean, String, String, Boolean, Int)*): DataFrame =
    rows.toDF("name", "author", "sha", "lm", "private", "card_data", "gated", "disabled", "likes")
      .withColumn("last_modified", col("lm").cast("timestamp")).drop("lm")

  test("full populate loop: extract -> normalize -> partitioned merge -> M1-M8") {
    val m1Dir = scriptRepoM1(); val m2Dir = scriptRepoM2()
    val wh = Files.createTempDirectory("graft-e2e-wh").toString
    try {
      // ---- bronze listings (api.list_* shapes, :598) ----
      val models = listing(
        ("orgA/m1", "orgA", "sha-m1-new", "2024-03-01", false, "card 😀 one", "True", false, 10),
        ("orgB/m2", "orgB", "sha-m2", "2024-02-20", false, "card two", null, false, 3),
        ("orgA/m3", "orgA", "sha-m3-new", "2023-06-05", false, "old", "manual", false, 9))
      val datasets = listing(("orgA/d1", "orgA", "sha-d1", "2024-01-15", false, "dcard", null, false, 1))
      val spaces = listing(("orgB/s1", "orgB", "sha-s1", "2024-02-01", true, "scard", "auto", false, 0))

      // ---- F1 staleness split on the watermark (:607-619) ----
      val watermark = lit("2024-01-01").cast("timestamp")
      val (staleModels, freshModels) = MergeWriter.stalenessSplit(models, "last_modified", watermark)
      assert(staleModels.select("name").as[String].collect().toSeq == Seq("orgA/m3"))
      assert(freshModels.count() == 2)

      // ---- existing repository table: m1 at an older revision, m3 stale ----
      val existingRepos = Normalize.repositories(
        listing(("orgA/m1", "orgA", "sha-m1-old", "2024-01-10", false, "card one", "True", false, 1),
                ("orgA/m3", "orgA", "sha-m3-old", "2023-06-05", false, "old", "manual", false, 2)),
        listing(), listing())
      val repoTable = s"$wh/repository"
      PartitionedMergeWriter.initTable(existingRepos, repoTable, "id", nPartitions = 4)

      val layout = PartitionedMergeWriter.byKey("id", nPartitions = 4)
      val keys = Seq("id", PartitionedMergeWriter.PartCol)
      // ---- stale path: K4 targeted likes update (:609-618) ----
      PartitionedMergeWriter.foldPartitioned(spark, repoTable,
        Normalize.repositories(staleModels, listing(), listing()).select("id", "likes"), layout)(
        MergeWriter.updateColumns(_, _, keys, cols = Seq("likes")))
      // ---- fresh path: K2 upsert of the fully normalized rows (:643) ----
      PartitionedMergeWriter.foldPartitioned(spark, repoTable,
        Normalize.repositories(freshModels, datasets, spaces), layout)(
        MergeWriter.upsert(_, _, keys))

      val repository = spark.read.parquet(repoTable).drop(PartitionedMergeWriter.PartCol)
      val byId = repository.collect().map(r => r.getAs[String]("id") -> r).toMap
      assert(byId.size == 5)
      assert(byId("models/orgA/m1").getAs[String]("sha") == "sha-m1-new")   // fresh overwrote
      assert(byId("models/orgA/m1").getAs[String]("card_data") == "card  one") // P6 emoji strip
      assert(byId("models/orgA/m3").getAs[String]("sha") == "sha-m3-old")   // stale kept sha...
      assert(byId("models/orgA/m3").getAs[Int]("likes") == 9)               // ...but likes updated
      assert(byId("models/orgB/m2").getAs[Int]("likes") == 3)               // fresh insert
      assert(byId("datasets/orgA/d1") != null && byId("spaces/orgB/s1") != null)
      assert(byId("spaces/orgB/s1").getAs[String]("gated") == null)         // P10 auto -> NULL

      // ---- model subtype (:652-654, J3 supertype join key) ----
      val modelSub = freshModels.union(staleModels)
        .select(Transforms.repoId(lit("model"), col("name")).as("model_id"),
                (col("likes") * 100).as("downloads"))
      val modelTable = MergeWriter.upsert(
        modelSub.limit(0), modelSub, Seq("model_id"))
      assert(modelTable.count() == 3)

      // ---- tags: K3 INSERT IGNORE keeps the first writer (:656) ----
      val (vocab, tagEdges) = Normalize.tagTables(
        Seq(("models/orgA/m1", Seq("nlp", "bert")), ("models/orgB/m2", Seq("nlp")))
          .toDF("repo_id", "tags"))
      val existingVocab = Seq("nlp").toDF("name")
      val mergedVocab = MergeWriter.insertIfAbsent(existingVocab, vocab, Seq("name"))
      assert(mergedVocab.as[String].collect().toSet == Set("nlp", "bert"))
      assert(tagEdges.count() == 3)

      // ---- files (:657): siblings explode + P1 keys + P5 LFS flatten ----
      val bronzeSiblings = Seq(
        ("models/orgA/m1", Seq(("README.md", 10L, "b1", None),
                               ("weights.txt", 5L, "b2", Some((99L, "lfs1", 134L))))),
        ("models/orgB/m2", Seq(("config.json", 2L, "b3", None))))
        .toDF("repo_id", "sib")
        .select(col("repo_id"), expr(
          "transform(sib, s -> named_struct(" +
            "'rfilename', s._1, 'size', s._2, 'blob_id', s._3, " +
            "'lfs', named_struct('size', s._4._1, 'sha256', s._4._2, 'pointer_size', s._4._3)))"
        ).as("siblings"))
      val repoFile = Normalize.repoFiles(bronzeSiblings)
      assert(repoFile.count() == 3)
      assert(repoFile.filter(col("rfilename") === "weights.txt")
        .select("lfs_sha").as[String].head() == "lfs1")

      // ---- commits (:659): the real git walk, content pass on ----
      val repos = Seq(
        RepoRef("models/orgA/m1", "orgA/m1", m1Dir.toString),
        RepoRef("models/orgB/m2", "orgB/m2", m2Dir.toString)).toDS()
      // F3 governance probe before walking, like the reference's max_num_commits
      assert(GitHistorySource.commitCount(m1Dir.toString) == 2)
      val commits = GitHistorySource.commitsTable(spark, repos)
      assert(commits.count() == 3)
      val deltasRaw = GitHistorySource.deltas(repos, withContent = true).toDF()
      val modifiedFile = Normalize.modifiedFiles(deltasRaw, repoFile)
      val filesInCommit = Normalize.filesInCommit(modifiedFile)
      assert(modifiedFile.count() == 4) // m1: c1 README, c2 README+weights; m2: config
      // J1: FK resolves by (repo_id, current filename); P2 surrogate key shape
      val readmeRows = modifiedFile.filter(col("filename") === "README.md")
      assert(readmeRows.count() == 2)
      val wantFk = repoFile.filter(col("rfilename") === "README.md")
        .select("id").as[String].head()
      assert(readmeRows.select("repo_file_id").as[String].collect().forall(_ == wantFk))
      // content pass landed: nloc is the post-image census, diff has hunks
      val c2Readme = modifiedFile.filter(col("filename") === "README.md" &&
        col("added_lines") === 1 && col("deleted_lines") === 0)
      assert(c2Readme.select("nloc").as[Int].head() == 3)
      assert(c2Readme.select("diff").as[String].head().contains("+there"))
      assert(filesInCommit.count() == 4)
      val parents = Normalize.commitParents(
        GitHistorySource.commits(repos).toDF())
      assert(parents.count() == 1) // m1's c2 -> c1; roots and m2's single commit have none

      // ---- discussions (:660): event dispatch + F6 merge-commit repair ----
      val c1Sha = GitHistorySource.commits(repos).filter(_.repo_id == "models/orgA/m1")
        .collect().minBy(_.author_epoch).sha
      val discussions = Seq(
        (1, "models/orgA/m1", "alice", c1Sha),        // real merge commit: kept
        (2, "models/orgA/m1", "orgA", "deadbeef"),    // unknown commit: repaired to NULL
        (3, "models/orgB/m2", "orgB", null.asInstanceOf[String]),
        (4, "datasets/orgA/d1", "carol", null.asInstanceOf[String]))
        .toDF("num", "repo_id", "author", "merge_commit_oid")
      val repaired = Normalize.repairMergeCommits(discussions, commits)
      val oidByNum = repaired.select("num", "merge_commit_oid")
        .as[(Int, Option[String])].collect().toMap
      assert(oidByNum(1).contains(c1Sha) && oidByNum(2).isEmpty)

      val eventsRaw = Seq(
        ("e1", 1, "models/orgA/m1", "comment", "bob", "looks good"),
        ("e2", 1, "models/orgA/m1", "comment", "alice", "thanks"),
        ("e3", 2, "models/orgA/m1", "comment", "orgA", "self note"),
        ("e4", 1, "models/orgB/m2", "status-change", "orgB", null))
        .toDF("id", "discussion_num", "repo_id", "event_type", "author", "content")
        .withColumn("created_at", lit("2024-03-02").cast("timestamp"))
        .withColumn("edited", lit(false)).withColumn("hidden", lit(false))
        .withColumn("new_status", when(col("event_type") === "status-change", lit("closed")))
        .withColumn("summary", lit(null).cast("string"))
        .withColumn("sha", lit(null).cast("string"))
        .withColumn("old_title", lit(null).cast("string"))
        .withColumn("new_title", lit(null).cast("string"))
        .withColumn("full_data", lit("{}"))
      val discussionEvent = Normalize.discussionEvents(eventsRaw)
      // P11: non-comment events carry no comment columns
      assert(discussionEvent.filter(col("event_type") === "status-change")
        .select("content", "new_status").as[(Option[String], String)].head() == ((None, "closed")))

      // ---- E3: all eight reference metrics, exact (:metrics.html) ----
      val m1Top = HfcMetrics.topOrgsByModels(repository).as[(String, Long)].collect().toSeq
      assert(m1Top == Seq(("orgA", 2L), ("orgB", 1L)))

      val m2Hist = HfcMetrics.filesPerRepoHistogram(repoFile)
        .as[(String, Long)].collect().toMap
      assert(m2Hist == Map("<2" -> 1L, "[2,6)" -> 1L))

      val m3Heat = HfcMetrics.fileModificationHeatmap(
        modifiedFile, filesInCommit, commits, "models/orgA/m1")
      val m3ByFile = m3Heat.groupBy("filename").agg(sum("n_modifications").as("n"))
        .as[(String, Long)].collect().toMap
      assert(m3ByFile == Map("README.md" -> 2L, "weights.txt" -> 1L))

      val m4 = HfcMetrics.paperswithcodeSplit(
        Seq(("datasets/orgA/d1", null.asInstanceOf[String])).toDF("dataset_id", "paperswithcode_id"))
        .as[(Boolean, Long)].collect().toSeq
      assert(m4 == Seq((false, 1L)))

      val m5 = HfcMetrics.discussionShareByType(repository, repaired)
        .select("type", "n_repos", "n_with_discussions")
        .as[(String, Long, Long)].collect().toSeq
      assert(m5 == Seq(("dataset", 1L, 1L), ("model", 3L, 2L), ("space", 1L, 0L)))

      val m6 = HfcMetrics.discussionsPerRepoHistogram(repaired)
        .as[(String, Long)].collect().toMap
      assert(m6 == Map("<2" -> 2L, "[2,6)" -> 1L)) // m1 has 2, m2 and d1 have 1

      val m7 = HfcMetrics.avgCommentsPerDiscussion(discussionEvent)
        .as[(String, Long)].collect().toMap
      assert(m7 == Map("[1.5,2.5)" -> 1L)) // m1: (2+1)/2 = 1.5 avg comments

      val m8 = HfcMetrics.nonOwnerDiscussionShare(repository, repaired)
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(m8 == Map(
        "models/orgA/m1" -> ((2L, 0.5)),   // alice yes, orgA no
        "models/orgB/m2" -> ((1L, 0.0)),
        "datasets/orgA/d1" -> ((1L, 1.0))))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(m1Dir)
      org.apache.commons.io.FileUtils.deleteDirectory(m2Dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new File(wh))
    }
  }
}

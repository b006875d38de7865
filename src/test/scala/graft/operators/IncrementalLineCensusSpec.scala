package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

import java.nio.file.Files

class IncrementalLineCensusSpec extends SparkTestBase {
  import spark.implicits._

  private val LT = 2  // 2-token lines for compact fixtures
  private val DF = 3  // boilerplate at >= 3 distinct docs

  test("batch scrubbing equals the global recomputation restricted to the batch") {
    val store = Files.createTempDirectory("graft-ilc").toString + "/census"
    // batch 1: line "a b" in 2 docs — below threshold, everything kept
    val b1 = Seq((1L, "a b x y"), (2L, "a b p q")).toDF("doc_id", "text")
    IncrementalLineCensus.initStore(b1.filter(lit(false)), store, LT) // empty seed
    val d1 = IncrementalLineCensus.scrubBatch(b1, store, LT, DF)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(d1.map(d => (d._1, d._2, d._3)).toSeq == Seq((1L, 2L, 2L), (2L, 2L, 2L)))

    // batch 2: "a b" reappears in 2 more docs (store 2 + batch 2 = 4 ≥ 3
    // → scrubbed NOW), and "m n" appears in 3 batch docs (within-batch
    // crossing, no store help needed)
    val b2 = Seq((3L, "a b r s"), (4L, "a b m n"), (5L, "m n u v"), (6L, "m n w z"))
      .toDF("doc_id", "text")
    val d2 = IncrementalLineCensus.scrubBatch(b2, store, LT, DF)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq

    // the pinned equivalence: batch-2 decisions == global dedup over the
    // corpus-so-far, restricted to batch-2 docs
    val global = QualityRules.globalLineDedup(b1.unionByName(b2), LT, DF)
      .filter($"doc_id" >= 3L)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(d2 == global)
    // and concretely: "a b" + "m n" scrubbed everywhere in batch 2
    assert(d2.map(d => (d._1, d._3)).toSeq ==
      Seq((3L, 1L), (4L, 0L), (5L, 1L), (6L, 1L)))

    // store accumulated both batches' counts
    val census = spark.read.parquet(store)
      .as[(String, Long)].collect().toMap
    def h(s: String) = b1.sparkSession.range(1)
      .select(md5(lit(s))).as[String].head()
    assert(census(h("a b")) == 4L)
    assert(census(h("m n")) == 3L)
  }

  test("forward-only contract: earlier batches are not retro-scrubbed, later ones are") {
    val store = Files.createTempDirectory("graft-ilc2").toString + "/census"
    val b1 = Seq((1L, "k k q q")).toDF("doc_id", "text")
    IncrementalLineCensus.initStore(b1.filter(lit(false)), store, LT)
    val d1 = IncrementalLineCensus.scrubBatch(b1, store, LT, DF)
      .as[(Long, Long, Long, String)].head()
    assert(d1._3 == 2L) // "k k" df=1: kept at its processing time
    // two more batches push "k k" to df=3
    IncrementalLineCensus.scrubBatch(Seq((2L, "k k s s")).toDF("doc_id", "text"), store, LT, DF)
    val d3 = IncrementalLineCensus.scrubBatch(Seq((3L, "k k t t")).toDF("doc_id", "text"), store, LT, DF)
      .as[(Long, Long, Long, String)].head()
    assert(d3._3 == 1L) // doc 3 sees df=3: "k k" scrubbed from it
    // doc 1's shipped decision is immutable — that is the documented
    // forward-only semantics (retro-scrubbing would mean re-emitting
    // history, which is a recompute, not an increment)
  }

  test("lineScrubStream: micro-batches scrub against the growing census; replay is bit-identical") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = Files.createTempDirectory("graft-ilc-stream").toString
    val store = s"$base/census"; val decisions = s"$base/decisions"
    IncrementalLineCensus.initStore(
      Seq((0L, "f f g g"), (90L, "f f h h")).toDF("doc_id", "text"), store, LT)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.lineScrubStream(
      mem.toDF.toDF("doc_id", "text"), store, decisions, LT, DF).start()
    try {
      // "f f" store-df 2 + this doc = 3 → scrubbed from the new doc
      mem.addData((1L, "f f n n"))
      q.processAllAvailable()
      val d1 = spark.read.parquet(decisions)
        .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
      assert(d1(1L) == 1L)
    } finally q.stop()

    // crash-replay: restart WITHOUT the checkpoint so batch 0 re-delivers
    // against a store that already counted it — the in-store marker
    // switches the replay to store-only frequency and decisions match
    val before = spark.read.parquet(decisions)
      .select("doc_id", "n_lines", "n_kept", "clean_md5").collect().toSet
    val storeBefore = spark.read.parquet(store)
      .as[(String, Long)].collect().toMap
    val mem2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.EventStreams.lineScrubStream(
      mem2.toDF.toDF("doc_id", "text"), store, decisions, LT, DF).start()
    try {
      mem2.addData((1L, "f f n n"))
      q2.processAllAvailable()
      val after = spark.read.parquet(decisions)
        .select("doc_id", "n_lines", "n_kept", "clean_md5").collect().toSet
      assert(after == before, "replayed decisions must be bit-identical")
      val storeAfter = spark.read.parquet(store).as[(String, Long)].collect().toMap
      assert(storeAfter == storeBefore, "replay must not double-count the census")
    } finally q2.stop()
  }

  test("decisions are computed before the store update (replay-safe ordering)") {
    val store = Files.createTempDirectory("graft-ilc3").toString + "/census"
    IncrementalLineCensus.initStore(
      Seq((0L, "z z y y")).toDF("doc_id", "text"), store, LT)
    // batch with the same line twice across 2 docs: eff = 1 + 2 = 3 ≥ 3
    val b = Seq((1L, "z z a a"), (2L, "z z b b")).toDF("doc_id", "text")
    val d = IncrementalLineCensus.scrubBatch(b, store, LT, DF)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(d.map(_._3).toSeq == Seq(1L, 1L)) // scrubbed at eff 3, not store-after
    // 4 distinct lines: "z z" (df 3), "y y", "a a", "b b" (df 1 each)
    assert(IncrementalLineCensus.storeStats(spark, store) == ((4L, 3L)))
  }

  test("StoreProtocol.batchCommitted recovers a torn swap BEFORE consulting the marker") {
    // regression (r11, found by CorpusSoakSpec): a crash between
    // commitDir's two renames leaves markers only in the staged dir;
    // an unrecovered existence check declared the committed batch
    // un-counted and the replay merged its counts a second time
    import org.apache.spark.sql.functions.lit
    val store = java.nio.file.Files.createTempDirectory("graft-ilc").toString + "/census"
    val LT = 2; val DF = 2
    val b = Seq((1L, "k k v v")).toDF("doc_id", "text")
    IncrementalLineCensus.initStore(b.filter(lit(false)), store, LT)
    IncrementalLineCensus.scrubBatch(b, store, LT, DF, batchMarker = Some(7L))
    val committed = IncrementalLineCensus.storeStats(spark, store)
    // reconstruct the crashed-between-renames state: staging = the
    // committed store, old = the (empty) pre-batch store, target gone
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val empty = java.nio.file.Files.createTempDirectory("graft-ilc-old").toString + "/old"
    IncrementalLineCensus.initStore(b.filter(lit(false)), empty, LT)
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(store), new java.io.File(graft.hfc.AtomicSwap.stagingFor(store)))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(empty), new java.io.File(store + ".old"))
    assert(graft.hfc.StoreProtocol.batchCommitted(spark, store, 7L),
      "committed batch must be visible through the torn swap")
    assert(IncrementalLineCensus.storeStats(spark, store) == committed,
      "recovery must roll the committed counts forward")
  }
}

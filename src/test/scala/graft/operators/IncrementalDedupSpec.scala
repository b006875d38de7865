package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("graft-incdedup").resolve("store").toString

  private val t0 = "the quick brown fox jumps over the lazy dog today again"
  private val t1 = "completely different words about spark query engines here now"

  test("batch dups resolve against the store without rescanning old text") {
    val store = tmpStore()
    IncrementalDedup.initStore(
      Seq((0L, t0), (1L, t1)).toDF("doc_id", "text"), store)
    // batch 2: 10 = exact dup of stored 0; 11 = unique; 12 = exact dup of 11 (in-batch)
    val batch = Seq((10L, t0), (11L, "fresh unseen sentence with its own novel vocabulary words"),
                    (12L, "fresh unseen sentence with its own novel vocabulary words"))
      .toDF("doc_id", "text")
    val out = IncrementalDedup.dedupBatch(batch, store, threshold = 0.9)
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(10L)._1.contains(0L) && out(10L)._2.contains(1.0))
    assert(out(11L)._1.isEmpty)
    assert(out(12L)._1.contains(11L)) // in-batch dup, smaller id wins
    // store grew by the unique doc only (11), not the dups
    val ids = spark.read.parquet(store).select("id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 11L))
  }

  test("a later batch matches docs appended by an earlier batch") {
    val store = tmpStore()
    IncrementalDedup.initStore(Seq((0L, t0)).toDF("doc_id", "text"), store)
    val b2 = Seq((10L, t1)).toDF("doc_id", "text")
    assert(IncrementalDedup.dedupBatch(b2, store, 0.9)
      .filter($"dup_of".isNotNull).count() == 0)
    val b3 = Seq((20L, t1)).toDF("doc_id", "text")
    val out = IncrementalDedup.dedupBatch(b3, store, 0.9)
      .as[(Long, Option[Long], Option[Double])].collect().head
    assert(out._2.contains(10L)) // matched the batch-2 doc via the store
  }

  test("appendUnique=false leaves the store untouched") {
    val store = tmpStore()
    IncrementalDedup.initStore(Seq((0L, t0)).toDF("doc_id", "text"), store)
    IncrementalDedup.dedupBatch(
      Seq((10L, t1)).toDF("doc_id", "text"), store, 0.9, appendUnique = false)
    assert(spark.read.parquet(store).count() == 1)
  }

  test("crash-replay of an already-appended batch yields identical, self-dup-free decisions") {
    val store = tmpStore()
    IncrementalDedup.initStore(Seq((0L, t0), (1L, t1)).toDF("doc_id", "text"), store)
    val batch = Seq((10L, t0),
                    (11L, "fresh unseen sentence with its own novel vocabulary words"),
                    (12L, "fresh unseen sentence with its own novel vocabulary words"))
      .toDF("doc_id", "text")
    def decide() = IncrementalDedup.dedupBatch(batch, store, threshold = 0.9)
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val first = decide()           // append ran: store now holds 11's signature
    val replay = decide()          // crash-after-append re-run, decisions re-requested
    assert(replay == first)        // identical decisions, not 11 -> dup_of 11 @ 1.0
    assert(replay(11L)._1.isEmpty) // the appended unique doc is NOT its own dup
    // store only duplicated 11's signature (the unprotected window); compaction reclaims
    graft.hfc.StoreProtocol.compact(spark, store)
    val ids = spark.read.parquet(store).select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 1L, 11L))
  }

  test("near (not exact) dup above threshold is found across batches") {
    // single-pair banding recall at 4x4 is ~j^4 per band — use a long doc
    // (one edit => high jaccard) and 8x2 banding so the collision is
    // near-certain; both sides of the store must use the same banding
    val long0 = (0 until 40).map(i => s"tok$i").mkString(" ")
    val near = long0.replace("tok20", "tokX")
    val store = tmpStore()
    IncrementalDedup.initStore(Seq((0L, long0)).toDF("doc_id", "text"), store,
      numHashes = 16, bands = 8)
    val out = IncrementalDedup.dedupBatch(
        Seq((10L, near)).toDF("doc_id", "text"), store, threshold = 0.3,
        numHashes = 16, bands = 8)
      .as[(Long, Option[Long], Option[Double])].collect().head
    assert(out._2.contains(0L) && out._3.exists(j => j >= 0.3 && j < 1.0))
  }
}

package graft.streaming

import graft.SparkTestBase
import graft.hfc.{Scd2, Scd2Store, StoreProtocol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class Scd2StreamSpec extends SparkTestBase {
  import spark.implicits._

  private def updatesDf(rows: Seq[(Long, String, Long, Long)]): DataFrame =
    rows.toDF("k", "attr", "ts", "tie")

  private def emptyHistory: DataFrame =
    Seq.empty[(Long, String, Long, Long)].toDF("k", "attr", "valid_from", "valid_to")
      .select($"k", $"attr", $"valid_from",
        when(lit(false), $"valid_to").as("valid_to"))

  private val allUpdates = Seq(
    (1L, "LOW", 100L, 1L), (1L, "LOW", 150L, 2L), (1L, "HIGH", 200L, 3L),
    (2L, "MED", 120L, 4L),
    (3L, "LOW", 90L, 5L), (3L, "MED", 160L, 6L), (3L, "MED", 210L, 7L), (3L, "LOW", 260L, 8L))

  private def sortedHistory(df: DataFrame) =
    df.select($"k", $"attr", $"valid_from", $"valid_to")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq.sorted

  test("in-order batch folds equal the all-at-once build") {
    val store = java.nio.file.Files.createTempDirectory("scd2s").toString + "/store"
    Scd2Store.init(emptyHistory, store)
    val (b1, b2) = allUpdates.partition(_._3 < 160L) // split on ts: in-order per key
    Scd2Store.applyBatch(updatesDf(b1), store, 0L, "k", "attr", "ts", "tie")
    Scd2Store.applyBatch(updatesDf(b2), store, 1L, "k", "attr", "ts", "tie")
    val once = Scd2.applyChanges(emptyHistory, updatesDf(allUpdates),
      "k", "attr", "ts", "tie")
    assert(sortedHistory(Scd2Store.history(spark, store)) == sortedHistory(once))
    // the chain collapsed the no-change rows: 1.LOW@150 and 3.MED@210
    assert(Scd2Store.history(spark, store).count() == 6L)
  }

  test("a crash-replayed batch is a no-op (marker inside the swap)") {
    val store = java.nio.file.Files.createTempDirectory("scd2s").toString + "/store"
    Scd2Store.init(emptyHistory, store)
    val b = updatesDf(allUpdates.take(3))
    Scd2Store.applyBatch(b, store, 7L, "k", "attr", "ts", "tie")
    val after1 = sortedHistory(Scd2Store.history(spark, store))
    assert(StoreProtocol.batchCommitted(spark, store, 7L))
    Scd2Store.applyBatch(b, store, 7L, "k", "attr", "ts", "tie") // replay
    assert(sortedHistory(Scd2Store.history(spark, store)) == after1)
  }

  test("markers survive later commits: replaying batch 0 AFTER batch 1 is still a no-op") {
    // regression (r10): each store swap used to carry only its own
    // applied marker, so batch 1's commit erased batch 0's — a
    // checkpoint-loss replay of batch 0 then re-folded OLD updates
    // into the newer chain
    val store = java.nio.file.Files.createTempDirectory("scd2s").toString + "/store"
    Scd2Store.init(emptyHistory, store)
    val (b1, b2) = allUpdates.partition(_._3 < 160L)
    Scd2Store.applyBatch(updatesDf(b1), store, 0L, "k", "attr", "ts", "tie")
    Scd2Store.applyBatch(updatesDf(b2), store, 1L, "k", "attr", "ts", "tie")
    assert(StoreProtocol.batchCommitted(spark, store, 0L),
      "batch 0's marker must survive batch 1's store swap")
    val after = sortedHistory(Scd2Store.history(spark, store))
    Scd2Store.applyBatch(updatesDf(b1), store, 0L, "k", "attr", "ts", "tie") // late replay
    assert(sortedHistory(Scd2Store.history(spark, store)) == after,
      "a late replay of an old batch must not re-fold into the newer chain")
  }

  test("scd2Stream: micro-batched stream lands the batch-equal history") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("scd2s").toString + "/store"
    Scd2Store.init(emptyHistory, store)
    val mem = MemoryStream[(Long, String, Long, Long)]
    val q = EventStreams.scd2Stream(mem.toDF.toDF("k", "attr", "ts", "tie"),
      store, "k", "attr", "ts", "tie").start()
    try {
      val (b1, b2) = allUpdates.partition(_._3 < 160L)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val once = Scd2.applyChanges(emptyHistory, updatesDf(allUpdates),
      "k", "attr", "ts", "tie")
    assert(sortedHistory(Scd2Store.history(spark, store)) == sortedHistory(once))
    // current rows: exactly one open version per key
    val open = Scd2Store.history(spark, store).filter($"valid_to".isNull)
      .select($"k", $"attr").as[(Long, String)].collect().toMap
    assert(open == Map(1L -> "HIGH", 2L -> "MED", 3L -> "LOW"))
  }
}

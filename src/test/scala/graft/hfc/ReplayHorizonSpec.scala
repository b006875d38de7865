package graft.hfc

import graft.SparkTestBase
import graft.operators.IncrementalLineCensus

import java.io.File
import java.nio.file.{Files, Paths}

/** Pins the beyond-horizon behavior of the bounded applied-marker
  * retention (StoreProtocol.MaxAppliedMarkers): a batch OLDER than every
  * retained marker, with no marker of its own, may or may not have
  * been applied — both marker-inside-the-swap stores must ABORT
  * loudly rather than silently re-apply (double-counted line
  * frequencies / re-folded version chains). */
class ReplayHorizonSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def tmp(): String =
    Files.createTempDirectory("graft-horizon").toString

  private def rm(root: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new File(root))

  private def touchMarker(dir: String, id: Long): Unit =
    Files.createFile(Paths.get(dir, s"_applied_batch_$id"))

  test("guard: empty store accepts any id; retained range accepts; older rejects") {
    val root = tmp(); val d = s"$root/store"
    Files.createDirectories(Paths.get(d))
    StoreProtocol.assertWithinReplayHorizon(fs, d, 0L)   // no markers: fine
    Seq(5L, 6L, 9L).foreach(touchMarker(d, _))
    StoreProtocol.assertWithinReplayHorizon(fs, d, 5L)   // == oldest: fine
    StoreProtocol.assertWithinReplayHorizon(fs, d, 7L)   // gap inside range: fine
    StoreProtocol.assertWithinReplayHorizon(fs, d, 42L)  // future: fine
    val e = intercept[IllegalStateException] {
      StoreProtocol.assertWithinReplayHorizon(fs, d, 4L)
    }
    assert(e.getMessage.contains("beyond the replay-protection horizon"))
    assert(e.getMessage.contains("oldest retained applied marker is 5"))
    rm(root)
  }

  private def emptyHistory =
    Seq.empty[(Long, String, Long, Long)].toDF("k", "attr", "valid_from", "valid_to")
      .select($"k", $"attr", $"valid_from",
        when(lit(false), $"valid_to").as("valid_to"))

  test("Scd2Store: beyond-horizon batch aborts instead of re-folding") {
    val root = tmp(); val store = s"$root/scd2"
    Scd2Store.init(emptyHistory, store)
    def batch(ts: Long, v: String) = Seq((1L, v, ts, 0L)).toDF("k", "attr", "ts", "tie")
    Scd2Store.applyBatch(batch(100L, "a"), store, 5L, "k", "attr", "ts", "tie")
    Scd2Store.applyBatch(batch(200L, "b"), store, 6L, "k", "attr", "ts", "tie")
    val before = Scd2Store.history(spark, store).collect().toSet
    // marked replay of a retained batch: no-op, no error
    Scd2Store.applyBatch(batch(100L, "a"), store, 5L, "k", "attr", "ts", "tie")
    assert(Scd2Store.history(spark, store).collect().toSet == before)
    // batch 3 predates every retained marker and has none of its own
    val e = intercept[IllegalStateException] {
      Scd2Store.applyBatch(batch(50L, "z"), store, 3L, "k", "attr", "ts", "tie")
    }
    assert(e.getMessage.contains("beyond the replay-protection horizon"))
    assert(Scd2Store.history(spark, store).collect().toSet == before,
      "a rejected beyond-horizon batch must not touch the store")
    rm(root)
  }

  test("line census: beyond-horizon batch aborts instead of double-counting") {
    val root = tmp(); val store = s"$root/census"
    val seed = Seq.empty[(Long, String)].toDF("doc_id", "text")
    IncrementalLineCensus.initStore(seed, store, lineTokens = 1)
    val b = Seq((1L, "hello world")).toDF("doc_id", "text")
    IncrementalLineCensus.scrubBatch(b, store, lineTokens = 1, maxDocFreq = 1,
      batchMarker = Some(5L))
    IncrementalLineCensus.scrubBatch(
      Seq((2L, "more text")).toDF("doc_id", "text"), store,
      lineTokens = 1, maxDocFreq = 1, batchMarker = Some(6L))
    val statsBefore = IncrementalLineCensus.storeStats(spark, store)
    val e = intercept[IllegalStateException] {
      IncrementalLineCensus.scrubBatch(b, store, lineTokens = 1, maxDocFreq = 1,
        batchMarker = Some(2L))
    }
    assert(e.getMessage.contains("beyond the replay-protection horizon"))
    assert(IncrementalLineCensus.storeStats(spark, store) == statsBefore)
    // known replay of a retained batch stays allowed (store untouched)
    val replayed = IncrementalLineCensus.scrubBatch(b, store,
      lineTokens = 1, maxDocFreq = 1,
      updateStore = false, batchAlreadyCounted = true, batchMarker = Some(5L))
    assert(replayed.count() == 1L)
    rm(root)
  }

  test("trimming at MaxAppliedMarkers creates the horizon, and it is enforced") {
    val root = tmp(); val store = s"$root/scd2big"
    Scd2Store.init(emptyHistory, store)
    // simulate a long-lived stream: markers 0..bound+3 already present
    // (what bounded retention would have accumulated, pre-trim)
    val bound = StoreProtocol.MaxAppliedMarkers
    (0L until (bound + 4L)).foreach(touchMarker(store, _))
    // one real apply trims retention to the newest `bound` ids
    Scd2Store.applyBatch(
      Seq((1L, "a", 100L, 0L)).toDF("k", "attr", "ts", "tie"),
      store, bound + 4L, "k", "attr", "ts", "tie")
    val retained = StoreProtocol.listAppliedMarkers(fs, store)
    assert(retained.length == bound)
    assert(retained.min == 5L, s"oldest retained should be 5, got ${retained.min}")
    // batch 4 fell off the horizon: replaying it must abort
    val e = intercept[IllegalStateException] {
      Scd2Store.applyBatch(
        Seq((1L, "z", 50L, 0L)).toDF("k", "attr", "ts", "tie"),
        store, 4L, "k", "attr", "ts", "tie")
    }
    assert(e.getMessage.contains("beyond the replay-protection horizon"))
    rm(root)
  }
}

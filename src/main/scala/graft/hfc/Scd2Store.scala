package graft.hfc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent, incrementally-maintained SCD2 history — [[Scd2]] fed
  * batch by batch: each arriving update batch folds into the stored
  * version chains via [[Scd2.applyChanges]]. Crash/replay: a rewrite
  * store of [[StoreProtocol]] — re-closing an already-closed version
  * would corrupt the chain, the exact hazard upsert-shaped stores
  * don't have, so the batch marker commits inside the swap.
  *
  * In-order contract: within a key, a batch's updates must not predate
  * the standing current version's `valid_from` (the streaming-ingest
  * ordering that watermarked upstream stages provide). Under it, the
  * batch-by-batch fold equals [[Scd2.applyChanges]] over all updates
  * at once (spec-pinned) — the dimension history is a pure function of
  * the update stream, however it was micro-batched.
  */
object Scd2Store {

  /** seed the store (pass an empty frame with the history schema to
    * start fresh) */
  def init(history: DataFrame, storePath: String): Unit =
    history.write.mode("overwrite").parquet(storePath)

  def history(spark: SparkSession, storePath: String): DataFrame =
    StoreProtocol.read(spark, storePath)

  /** Fold one update batch into the stored history. A batch whose
    * marker is already present is a no-op (crash replay). */
  def applyBatch(updates: DataFrame, storePath: String, batchId: Long,
                 keyCol: String, attrCol: String,
                 tsCol: String, tieCol: String): Unit = {
    val spark = updates.sparkSession
    if (StoreProtocol.batchCommitted(spark, storePath, batchId)) return
    // not marked applied — but only provably unapplied INSIDE the
    // bounded-marker horizon; beyond it, refuse rather than re-fold
    StoreProtocol.assertWithinReplayHorizon(StoreProtocol.fs(spark), storePath, batchId)
    val next = Scd2.applyChanges(history(spark, storePath), updates,
        keyCol, attrCol, tsCol, tieCol)
      // the fold reads the directory it is about to replace — break
      // the read-from-overwrite-target cycle before staging
      .localCheckpoint(true)
    StoreProtocol.commitRewrite(spark, storePath, next, Some(batchId))
  }
}

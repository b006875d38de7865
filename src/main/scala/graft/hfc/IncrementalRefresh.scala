package graft.hfc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The reference's monthly incremental-refresh contract (SURVEY.md
  * §1.5.8, databaseImport.py:607-619,858-868) as one set-oriented job:
  *
  *  - repos with `last_modified < limitDate` (stale): ONLY the counter
  *    columns (likes/downloads) are refreshed — K4 fast path;
  *  - repos at/after the watermark (fresh): full upsert — K2 path;
  *  - everything else in `existing` is untouched.
  *
  * One pass over the batch, one merge: K4 over the stale rows, then K2
  * over the fresh rows, in the order the reference replays them; both
  * are key-shuffle joins that bucket/broadcast at scale. Idempotent:
  * re-running the same batch converges (IncrementalRefreshSpec).
  */
object IncrementalRefresh {

  def refresh(existing: DataFrame, batch: DataFrame, keys: Seq[String],
              tsCol: String, limitDate: Column,
              counterCols: Seq[String]): DataFrame = {
    val (stale, fresh) = MergeWriter.stalenessSplit(batch, tsCol, limitDate)
    val afterCounters = MergeWriter.updateColumns(existing, stale, keys, counterCols)
    MergeWriter.upsert(afterCounters, fresh, keys)
  }

  /** The same contract against a [[PartitionedMergeWriter.byKey]]
    * table: one fold of [[refresh]] over the partitions the batch's
    * keys hash to — a monthly refresh over a 63 M-row table costs
    * O(batch), not O(table), with one recover, one collect, one
    * staging write and one swap. Returns the partition ids of the
    * stale rows and of the fresh rows (stale, fresh). */
  def refreshPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                         batch: DataFrame, keys: Seq[String], partitionKey: String,
                         nPartitions: Int, tsCol: String, limitDate: Column,
                         counterCols: Seq[String]): (Seq[Int], Seq[Int]) = {
    val layout = PartitionedMergeWriter.byKey(partitionKey, nPartitions)
    val sides = PartitionedMergeWriter.fold(spark, path, batch, layout, col(tsCol) < limitDate) {
      (existing, u) => refresh(existing, u, keys :+ layout.column, tsCol, limitDate, counterCols)
    }
    (sides.collect { case (p, true) => p }, sides.collect { case (p, false) => p })
  }
}

package graft.hfc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's monthly incremental-refresh contract (SURVEY.md
  * §1.5.8, databaseImport.py:607-619,858-868) as one set-oriented job:
  *
  *  - repos with `last_modified < limitDate` (stale): ONLY the counter
  *    columns (likes/downloads) are refreshed — K4 fast path;
  *  - repos at/after the watermark (fresh): full upsert — K2 path;
  *  - everything else in `existing` is untouched.
  *
  * It computes what K4 over the stale rows followed by K2 over the
  * fresh rows computes ([[MergeWriter.updateColumns]], then
  * [[MergeWriter.upsert]], each last-wins within the batch;
  * IncrementalRefreshSpec pins the equivalence), but as ONE keyed
  * aggregation and no join: the existing rows and the batch rows,
  * tagged with their side, are unioned and grouped by key, and per key
  * `max_by` picks the last fresh row, the last stale row and the
  * existing row. A key's output is its fresh row if it has one, else
  * its existing row with the counters of its last stale row, else
  * nothing (a stale row for an unknown key is dropped, as K4 drops
  * it). Cost: the batch and the existing slice are each scanned once
  * and shuffled once, on the key; the plan has one exchange where K4
  * then K2 had two dedup windows and two key joins over the batch read
  * once per side. Batch order is `monotonically_increasing_id()`, as
  * in [[MergeWriter.dedupeBatch]]'s fallback.
  *
  * `existing` must be keyed, at most one row per non-NULL key, as
  * every merge here leaves a store: the same aggregation counts each
  * key's existing rows and fails the refresh by name on a repeat
  * rather than keep one of them arbitrarily. A batch row whose `tsCol`
  * is NULL is neither stale nor fresh and fails the refresh by name
  * instead of vanishing from both paths. Idempotent: re-running the
  * same batch converges (IncrementalRefreshSpec).
  */
object IncrementalRefresh {

  private val Existing = 0
  private val Stale = 1
  private val Fresh = 2

  /** Stale or Fresh; a NULL `tsCol` (or `limitDate`) fails by name. */
  private def sideOf(tsCol: String, limitDate: Column): Column =
    when(col(tsCol) < limitDate, Stale).when(col(tsCol) >= limitDate, Fresh)
      .otherwise(raise_error(lit(s"$tsCol contains NULLs — a batch row with no $tsCol " +
        "is neither stale nor fresh and would silently vanish from the refresh")))

  def refresh(existing: DataFrame, batch: DataFrame, keys: Seq[String],
              tsCol: String, limitDate: Column,
              counterCols: Seq[String]): DataFrame = {
    val valueCols = existing.columns.filterNot(keys.contains).toSeq
    val repeated = raise_error(lit(s"existing has more than one row with the same " +
      s"(${keys.mkString(", ")}) — refresh needs one row per key and would merge them"))
    // an existing row with a NULL key matches no batch row (join
    // semantics), so it keeps a group of its own
    val alone = when(keys.map(col(_).isNull).reduce(_ || _), monotonically_increasing_id())
    def tagged(df: DataFrame, side: Column, seq: Column, alone: Column) =
      df.select(keys.map(col) ++ Seq(struct(valueCols.map(col): _*).as("__row"),
        side.as("__side"), seq.as("__seq"), alone.as("__alone")): _*)
    def last(s: Int) = max_by(col("__row"), when(col("__side") === s, col("__seq")))
    tagged(existing, lit(Existing), lit(0L), alone)
      .unionByName(tagged(batch, sideOf(tsCol, limitDate), monotonically_increasing_id(),
        lit(null).cast("long")))
      .groupBy((keys :+ "__alone").map(col): _*)
      .agg(last(Fresh).as("__f"), last(Stale).as("__s"), last(Existing).as("__e"),
        count(when(col("__side") === Existing, 1)).as("__n"))
      .filter(when(col("__n") > 1, repeated).otherwise(col("__f").isNotNull || col("__e").isNotNull))
      .select(keys.map(col) ++ valueCols.map { c =>
        val fresh = when(col("__f").isNotNull, col("__f")(c))
        val counted = if (counterCols.contains(c)) fresh.when(col("__s").isNotNull, col("__s")(c))
                      else fresh
        counted.otherwise(col("__e")(c)).as(c)
      }: _*)
  }

  /** The same contract against a [[PartitionedMergeWriter.byKey]]
    * table: one fold of [[refresh]] over the partitions the batch's
    * keys hash to — a monthly refresh over a 63 M-row table costs
    * O(batch), not O(table), with one recover, one collect, one
    * staging write and one swap. Three Spark jobs: the collect of the
    * touched partitions, and the write's shuffle and write stages. A
    * NULL `tsCol` is rejected by that collect, before anything is
    * written. Returns the partition ids of the stale rows and of the
    * fresh rows (stale, fresh). */
  def refreshPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                         batch: DataFrame, keys: Seq[String], partitionKey: String,
                         nPartitions: Int, tsCol: String, limitDate: Column,
                         counterCols: Seq[String]): (Seq[Int], Seq[Int]) = {
    val layout = PartitionedMergeWriter.byKey(partitionKey, nPartitions)
    val sides = PartitionedMergeWriter.fold(spark, path, batch, layout, sideOf(tsCol, limitDate)) {
      (existing, u) => refresh(existing, u, keys :+ layout.column, tsCol, limitDate, counterCols)
    }
    (sides.collect { case (p, Stale) => p }, sides.collect { case (p, Fresh) => p })
  }
}

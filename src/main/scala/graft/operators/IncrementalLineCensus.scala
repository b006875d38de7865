package graft.operators

import graft.hfc.StoreProtocol
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus-global line boilerplate removal — the
  * continuously-fed form of [[QualityRules.globalLineDedup]]: scrub
  * each arriving batch against a PERSISTENT line-frequency store
  * without ever rescanning historical text (the same
  * state-is-tiny-next-to-the-text discipline as [[IncrementalDedup]]).
  *
  * Contract (forward-only, the production batch-curation semantics):
  * a batch's effective line frequency = standing store count + the
  * batch's own distinct-doc count, so
  *  - a line already boilerplate in the store scrubs from every new
  *    doc immediately;
  *  - a line that CROSSES the threshold inside this batch scrubs from
  *    this batch's docs (within-batch detection needs no store);
  *  - docs from EARLIER batches are not retro-scrubbed — their
  *    decisions shipped when they were processed. For any batch, the
  *    decisions equal [[QualityRules.globalLineDedup]] run over the
  *    whole corpus-so-far restricted to that batch's docs
  *    (spec-pinned), because the effective frequency IS the global
  *    frequency at processing time.
  *
  * Exactness requires the append-only corpus contract: a doc id
  * appears in exactly one batch (same contract as IncrementalDedup),
  * so per-batch distinct-doc counts add without double-counting.
  *
  * Store: (lh, line_df) parquet — two narrow columns, merged per batch
  * with one full-outer count-add. Crash/replay: a rewrite store of
  * [[graft.hfc.StoreProtocol]] (a replayed COUNT add would change
  * decisions, so the batch marker commits inside the swap).
  */
object IncrementalLineCensus {

  /** seed the store from an initial corpus (may be empty) */
  def initStore(docs: DataFrame, storePath: String, lineTokens: Int = 10,
                idCol: String = "doc_id", textCol: String = "text"): Unit =
    QualityRules.linesOf(docs, lineTokens, idCol, textCol)
      .select(col("lh"), col(idCol))
      .distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("line_df"))
      .write.mode("overwrite").parquet(storePath)

  /** scrub decisions for `newDocs` against store + batch, with the
    * same output shape as [[QualityRules.globalLineDedup]]
    * (id, n_lines, n_kept, clean_md5); when `updateStore`, the merged
    * census is atomically published before returning.
    *
    * `batchAlreadyCounted = true` is the REPLAY mode (the streaming
    * wrapper's crashed-after-store-commit path): the store already
    * contains this batch's counts, so the effective frequency is the
    * store count alone — adding the batch again would double-count and
    * make replayed decisions MORE aggressive than the originals. */
  def scrubBatch(newDocs: DataFrame, storePath: String,
                 lineTokens: Int = 10, maxDocFreq: Int = 3,
                 updateStore: Boolean = true,
                 batchAlreadyCounted: Boolean = false,
                 batchMarker: Option[Long] = None,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(!(updateStore && batchAlreadyCounted),
      "a replayed batch must not grow the store again")
    val spark = newDocs.sparkSession
    val store = StoreProtocol.read(spark, storePath)
    // a batch about to be counted (not a known replay) must be inside
    // the bounded-marker horizon — beyond it, applied-or-not is
    // unknowable and counting again would double-count (fail loudly)
    if (!batchAlreadyCounted)
      batchMarker.foreach(StoreProtocol.assertWithinReplayHorizon(StoreProtocol.fs(spark), storePath, _))

    val lines = QualityRules.linesOf(newDocs, lineTokens, idCol, textCol)
    val batchDf = lines.select(col("lh"), col(idCol)).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("b_df"))
    // effective frequency at processing time = store + this batch
    // (store alone on replay — the store already holds the batch)
    val batchContribution =
      if (batchAlreadyCounted) lit(0L) else col("b_df")
    val eff = batchDf.join(store.withColumnRenamed("line_df", "s_df"), Seq("lh"), "left")
      .select(col("lh"), (batchContribution + coalesce(col("s_df"), lit(0L))).as("line_df"),
        col("b_df"))
    // decide BEFORE the store is touched (decisions must not see
    // themselves applied twice on a replay)
    val aggs = QualityRules.lineDedupAggs(maxDocFreq)
    val decisions = lines
      .join(eff.select(col("lh"), col("line_df")), "lh")
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true)

    if (updateStore) {
      val merged = store.withColumnRenamed("line_df", "s_df")
        .join(eff.select(col("lh"), col("b_df")), Seq("lh"), "full_outer")
        .select(col("lh"),
          (coalesce(col("s_df"), lit(0L)) + coalesce(col("b_df"), lit(0L))).as("line_df"))
      StoreProtocol.commitRewrite(spark, storePath, merged, batchMarker)
    }
    decisions
  }

  /** current census size — monitoring hook */
  def storeStats(spark: SparkSession, storePath: String): (Long, Long) = {
    val s = StoreProtocol.read(spark, storePath)
    val row = s.agg(count(lit(1)), coalesce(max(col("line_df")), lit(0L))).head()
    (row.getLong(0), row.getLong(1))
  }
}

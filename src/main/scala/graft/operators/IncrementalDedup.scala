package graft.operators

import graft.functions.TextFunctions.{letBound, minhashBands, minhashSignature, shingleHashes}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Incremental near-dup detection: dedup a NEW batch of documents
  * against the signatures of everything ingested before it — without
  * ever rescanning historical text. This is the shape a continuously
  * fed corpus needs at 100 TB: the persistent state is the signature
  * store (hashes + LSH bands, tiny next to the text), each batch costs
  * one signature projection over the batch plus a band join of
  * batch-bands against store-bands, and the store grows by the batch's
  * unique docs only.
  *
  * Store layout = [[Dedup.signatureTable]]'s schema
  * (id, hashes, bands) as parquet; [[initStore]] seeds it,
  * [[dedupBatch]] consumes + (optionally) appends. Band join cost is
  * proportional to bucket collisions, not store size; the store-side
  * scan reads only (id, bands) until verification needs `hashes` —
  * parquet column pruning keeps the probe narrow. Crash/replay:
  * an append store of [[graft.hfc.StoreProtocol]].
  */
object IncrementalDedup {

  private def signatures(docs: DataFrame, numHashes: Int, bands: Int,
                         idCol: String, textCol: String): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) % bands ($bands) != 0")
    val rows = numHashes / bands
    docs.select(col(idCol).as("id"),
      shingleHashes(col(textCol)).as("hashes"),
      letBound(minhashSignature(col(textCol), numHashes)) { sig =>
        minhashBands(sig, bands, rows)
      }.as("bands"))
  }

  /** Seed the signature store from an initial corpus. */
  def initStore(docs: DataFrame, storePath: String,
                numHashes: Int = 16, bands: Int = 4,
                idCol: String = "doc_id", textCol: String = "text"): Unit =
    signatures(docs, numHashes, bands, idCol, textCol)
      .write.mode("overwrite").parquet(storePath)

  /** Dedup decisions for a new batch against the store AND the batch
    * itself: (id, dup_of, jaccard) per batch doc — `dup_of` is the
    * best match (highest Jaccard ≥ threshold, ties to the smallest id)
    * among store docs and batch docs with a smaller id; null = unique.
    * Chains within one batch resolve pairwise (B→A, C→B), exactly like
    * running the batches through the funnel one doc at a time;
    * [[ConnectedComponents.dedupDecisions]] collapses chains when a
    * global keeper per cluster is wanted instead.
    *
    * When `appendUnique`, the unique docs' signatures are appended to
    * the store before returning (the returned decisions are computed
    * first and are unaffected). */
  def dedupBatch(newDocs: DataFrame, storePath: String, threshold: Double,
                 numHashes: Int = 16, bands: Int = 4,
                 idCol: String = "doc_id", textCol: String = "text",
                 appendUnique: Boolean = true): DataFrame = {
    val batchSigs = signatures(newDocs, numHashes, bands, idCol, textCol)
      .localCheckpoint(true) // referenced by banding, verify, and append
    val store = graft.hfc.StoreProtocol.read(newDocs.sparkSession, storePath, batchSigs.schema)

    def banded(sigTable: DataFrame) = sigTable
      .select(col("id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))

    val probe = banded(batchSigs)
      .select(col("id").as("new_id"), col("band_idx"), col("band_hash"))
    // candidate targets: every OTHER store doc, plus smaller-id docs of
    // this batch. The old_id =!= new_id guard makes crash-replay safe:
    // re-running a batch whose append already landed would otherwise
    // match every doc to its own stored signature at jaccard 1.0
    val targets = banded(store)
      .select(col("id").as("old_id"), col("band_idx"), col("band_hash"),
              lit(true).as("from_store"))
      .union(banded(batchSigs)
        .select(col("id").as("old_id"), col("band_idx"), col("band_hash"),
                lit(false).as("from_store")))
    val cands = probe.join(targets, Seq("band_idx", "band_hash"))
      .filter((col("from_store") && col("old_id") =!= col("new_id")) ||
              (!col("from_store") && col("old_id") < col("new_id")))
      .select(col("new_id"), col("old_id"))
      .distinct()

    val allHashes = store.select(col("id"), col("hashes"))
      .union(batchSigs.select(col("id"), col("hashes")))
    val common = size(array_intersect(col("n_hashes"), col("o_hashes"))).cast("double")
    val scored = cands
      .join(batchSigs.select(col("id").as("new_id"), col("hashes").as("n_hashes")), "new_id")
      .join(allHashes.select(col("id").as("old_id"), col("hashes").as("o_hashes")), "old_id")
      .select(col("new_id"), col("old_id"),
        round(common / (size(col("n_hashes")) + size(col("o_hashes")) - common), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_id"))
      .orderBy(col("jaccard").desc, col("old_id").asc)
    val best = scored
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("new_id").as("id"), col("old_id").as("dup_of"), col("jaccard"))

    val decisions = batchSigs.select(col("id"))
      .join(best, Seq("id"), "left")
      .select(col("id").as(idCol), col("dup_of"), col("jaccard"))
      .localCheckpoint(true) // pin BEFORE the store grows underneath it

    if (appendUnique) graft.hfc.StoreProtocol.appendUnique(batchSigs, decisions, idCol, storePath)
    decisions
  }
}

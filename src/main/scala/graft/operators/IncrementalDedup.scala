package graft.operators

import graft.functions.TextFunctions.{letBound, minhashBands, minhashSignature, shingleHashes}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** Incremental near-dup detection: dedup a NEW batch of documents
  * against the signatures of everything ingested before it — without
  * ever rescanning historical text. This is the shape a continuously
  * fed corpus needs at 100 TB: the persistent state is the signature
  * store (hashes + LSH bands, tiny next to the text), and the store
  * grows by each batch's unique docs only.
  *
  * Store layout = [[Dedup.signatureTable]]'s schema
  * (id, hashes, bands) as parquet; [[initStore]] seeds it,
  * [[dedupBatch]] consumes + (optionally) appends. Cost per batch: one
  * signature projection over the batch, collected to the driver, and
  * ONE streamed scan of the store (all three columns), each stored
  * row exploding its bands against the broadcast batch probe and
  * verifying its collisions in place with its own `hashes`. The store
  * is never shuffled: the scan grows with the store, while verify
  * work and the one exchange (a per-task best match per batch doc)
  * grow with bucket collisions and the batch. Contract: a batch must
  * fit on the driver (it is broadcast). Crash/replay: an append store
  * of [[graft.hfc.StoreProtocol]].
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
    * The batch's signatures and the decisions are pinned on the
    * driver (local relations), so the batch must fit there. When
    * `appendUnique`, the unique docs' signatures are appended to the
    * store before returning (the returned decisions are computed
    * first and are unaffected). */
  def dedupBatch(newDocs: DataFrame, storePath: String, threshold: Double,
                 numHashes: Int = 16, bands: Int = 4,
                 idCol: String = "doc_id", textCol: String = "text",
                 appendUnique: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val sigs = signatures(newDocs, numHashes, bands, idCol, textCol)
    val store = graft.hfc.StoreProtocol.read(spark, storePath, sigs.schema)
    // referenced by the probe, the batch-side targets and the append
    val batchRows = sigs.collect()
    val batchSigs = spark.createDataFrame(batchRows.toSeq.asJava, sigs.schema)

    def banded(sigTable: DataFrame) = sigTable
      .select(col("id"), col("hashes"), col("bands"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash")))

    val probe = banded(batchSigs)
      .select(col("id").as("new_id"), col("hashes").as("n_hashes"),
              col("bands").as("n_bands"), col("band_idx"), col("band_hash"))
    // candidate targets: every OTHER store doc, plus smaller-id docs of
    // this batch. The old_id =!= new_id guard makes crash-replay safe:
    // re-running a batch whose append already landed would otherwise
    // match every doc to its own stored signature at jaccard 1.0
    def targets(sigTable: DataFrame, fromStore: Boolean) = banded(sigTable)
      .select(col("id").as("old_id"), col("hashes").as("o_hashes"),
              col("bands").as("o_bands"), col("band_idx"), col("band_hash"),
              lit(fromStore).as("from_store"))
    val common = size(array_intersect(col("n_hashes"), col("o_hashes"))).cast("double")
    val best = targets(store, fromStore = true).union(targets(batchSigs, fromStore = false))
      .join(broadcast(probe), Seq("band_idx", "band_hash"))
      .filter((col("from_store") && col("old_id") =!= col("new_id")) ||
              (!col("from_store") && col("old_id") < col("new_id")))
      // verify each pair once: at the lowest band where the two agree
      .filter(array_position(zip_with(col("n_bands"), col("o_bands"), _ === _), true) ===
              col("band_idx") + 1)
      .select(col("new_id"), col("old_id"),
        round(common / (size(col("n_hashes")) + size(col("o_hashes")) - common), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // highest jaccard, ties to the smallest old_id
      .groupBy(col("new_id"))
      .agg(min(struct(negate(col("jaccard")), col("old_id"))).as("best"))
      .collect()
      .map(r => r.get(0) -> r.getStruct(1)).toMap

    // pinned BEFORE the store grows underneath it
    val idField = sigs.schema("id")
    val decisions = spark.createDataFrame(
      batchRows.toSeq.map { r =>
        best.get(r.get(0)).fold(Row(r.get(0), null, null))(b =>
          Row(r.get(0), b.get(1), -b.getDouble(0)))
      }.asJava,
      StructType(Seq(idField.copy(name = idCol),
        StructField("dup_of", idField.dataType), StructField("jaccard", DoubleType))))

    // the decisions are a small local relation, so the planner broadcasts
    // them; one partition, or the local batch would write a file per core
    if (appendUnique)
      graft.hfc.StoreProtocol.appendUnique(batchSigs.coalesce(1), decisions, idCol, storePath)
    decisions
  }
}

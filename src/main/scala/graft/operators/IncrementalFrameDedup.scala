package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Incremental FRAME-VOTE video dedup — [[IncrementalHashDedup]] at
  * the frame grain: dedup a new batch of clips against everything
  * ingested before without re-decoding historical media. The
  * persistent state is an (id, frame_idx, hash) table — one 8-byte
  * hash per SAMPLED frame (≤ nFrames rows/clip, ~20 B/frame), and each
  * batch costs one banded store+self pair join
  * ([[Multimodal.hammingPairs]] carrying the frame index, the funnel
  * [[IncrementalHashDedup]] runs per hash: the store side stays
  * exact-banded — the side that grows forever never fans out, even in
  * the MIH probe regime) plus the distinct-frame vote of
  * [[Multimodal.frameVoteNearDup]].
  *
  * Decision semantics (the qm12 oracle replays them from scratch):
  * batch clip b may match store clips or SMALLER-id batch mates; votes
  * count DISTINCT b-frames within `maxHamming` of SOME frame of the
  * candidate; b is a dup when votes ≥ voteFrac × b's hashed frames;
  * best = most votes, ties to the smallest candidate id. Store clips
  * are never re-decided.
  *
  * Crash/replay: an append store of [[graft.hfc.StoreProtocol]],
  * keyed (id, frame). The WHOLE batch's ids are anti-joined out of
  * the store side (stronger than IncrementalHashDedup's self-pair
  * filter — the asymmetric vote threshold needs it, see
  * [[dedupBatch]]), so a replayed batch whose append already landed
  * re-decides against exactly the original store. */
object IncrementalFrameDedup {

  /** Seed the store from (id, frame_idx, hash) rows. */
  def initStore(frameHashes: DataFrame, storePath: String,
                idCol: String = "clip_id", frameCol: String = "frame_idx",
                hashCol: String = "fhash"): Unit =
    frameHashes.select(col(idCol).as("id"), col(frameCol).cast("int").as("frame"),
        col(hashCol).cast("long").as("hash"))
      .write.mode("overwrite").parquet(storePath)

  /** Vote decisions for a batch of per-frame hashes against the store
    * AND the batch itself: one row per distinct batch clip —
    * (idCol, n_frames, dup_of, votes); `dup_of` null = unique. When
    * `appendUnique`, the frames of unique clips append to the store
    * after decisions are pinned. `probeTolerance` = 0 is the narrow
    * pigeonhole regime, 1 the MIH regime (batch side probes each band
    * with its exact key + every single-bit flip; store side unchanged).
    *
    * Replay guard: the ENTIRE batch's ids are anti-joined out of the
    * store side, not just self-pairs. The vote relation is ASYMMETRIC
    * (the threshold is relative to the PROBE's frame count), so
    * [[IncrementalHashDedup]]'s symmetric argument — any batch mate
    * within range got flagged itself and therefore never appended —
    * does not carry over: clip A can clear the threshold against mate
    * B's frames while B did not against A's, and B's frames land in
    * the store. A replayed batch must re-see exactly the original
    * store + smaller-mate relation, so every batch id is masked. */
  def dedupBatch(newFrames: DataFrame, storePath: String,
                 bands: Int = 8, bandBits: Int = 8, maxHamming: Int = 6,
                 voteFrac: Double = 0.5,
                 idCol: String = "clip_id", frameCol: String = "frame_idx",
                 hashCol: String = "fhash",
                 appendUnique: Boolean = true,
                 probeTolerance: Int = 0): DataFrame = {
    require(voteFrac > 0 && voteFrac <= 1, s"voteFrac must be in (0, 1], got $voteFrac")
    val batch = newFrames
      .select(col(idCol).as("id"), col(frameCol).cast("int").as("frame"),
        col(hashCol).cast("long").as("hash"))
      .localCheckpoint(true) // probe side, target side, census, and append
    val batchIds = batch.select(col("id")).distinct()
    val store = graft.hfc.StoreProtocol.read(newFrames.sparkSession, storePath, batch.schema)
      .join(broadcast(batchIds), Seq("id"), "left_anti") // the replay guard

    // ONE probe-side explosion against the unioned targets (store ∪
    // batch); store and batch targets are disjoint after the guard, so
    // batch-side pairs are exactly those whose target is a batch id
    val pairs = Multimodal.hammingPairs(batch, store.unionByName(batch),
        "id", "hash", bands, bandBits, maxHamming, probeTolerance, Some("frame"))
      .join(broadcast(batchIds.select(col("id").as("target_id"),
        lit(true).as("from_batch"))), Seq("target_id"), "left")
      .filter(col("from_batch").isNull || col("target_id") < col("probe_id"))

    val nf = batch.groupBy(col("id")).agg(count(lit(1)).as("n_frames"))
    val best = Multimodal.voteBest(pairs,
        nf.select(col("id").as("probe_id"), col("n_frames")), voteFrac)
      .select(col("probe_id").as("id"), col("dup_of"), col("votes"))

    val decisions = nf
      .join(best, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_frames"), col("dup_of"), col("votes"))
      .localCheckpoint(true) // pin BEFORE the store grows underneath it

    if (appendUnique) graft.hfc.StoreProtocol.appendUnique(batch, decisions, idCol, storePath)
    decisions
  }
}

package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Incremental near-dup detection over INTEGER perceptual hashes — the
  * image/audio twin of [[IncrementalDedup]]: dedup a new batch of
  * media against everything ingested before it without ever re-decoding
  * or re-hashing historical payloads. The persistent state is an
  * (id, hash) table — EIGHT BYTES of state per historical item, the
  * smallest store in the library — and each batch costs one banded
  * self+store join plus a popcount verify.
  *
  * Hash space is hamming, not Jaccard, so banding uses the pigeonhole
  * split of [[Multimodal.hashNearDup]]: `bands` contiguous
  * `bandBits`-bit keys, and while `bands > maxHamming` every true pair
  * shares at least one exact band — recall 1.0, never all-pairs. The
  * hash column is caller-supplied ([[Multimodal.withPerceptualHash]]
  * for real images, [[Multimodal.textDhash56]]/[[Multimodal.textAudioFp32]]
  * for the oracle-twin stubs) so one store design serves every
  * integer-fingerprinted modality.
  *
  * Crash/replay: an append store of [[graft.hfc.StoreProtocol]];
  * decisions carry the old-vs-new guard so a replayed batch whose
  * append already landed never matches an item to its own stored
  * hash. */
object IncrementalHashDedup {

  /** Seed the store from (id, hash) rows. */
  def initStore(hashes: DataFrame, storePath: String,
                idCol: String = "doc_id", hashCol: String = "phash"): Unit =
    hashes.select(col(idCol).as("id"), col(hashCol).cast("long").as("hash"))
      .write.mode("overwrite").parquet(storePath)

  /** Dedup decisions for a new batch of (id, hash) rows against the
    * store AND the batch itself: (id, dup_of, hamming) per batch item —
    * `dup_of` is the best match (smallest hamming ≤ maxHamming, ties to
    * the smallest id) among store items and batch items with a smaller
    * id; null = unique. When `appendUnique`, unique hashes append to
    * the store after decisions are pinned.
    *
    * `probeTolerance` = 0 is the narrow pigeonhole regime
    * (`bands > maxHamming`); 1 switches to multi-index hashing
    * ([[Multimodal.hashNearDupMih]]'s scheme): the BATCH side probes
    * each band with its exact key plus every single-bit flip, the
    * store/batch target side stays exact-banded, and recall 1.0 holds
    * while `bands × (tolerance+1) > maxHamming` — wide bands (e.g.
    * 4 × 16-bit over the real 64-bit dHash, hamming ≤ 7) whose bucket
    * count doesn't saturate at large store sizes. Only the batch side
    * expands (XOR symmetry makes one-sided expansion complete), so the
    * STORE scan cost is unchanged — the side that grows forever is
    * never the side that fans out. */
  def dedupBatch(newHashes: DataFrame, storePath: String,
                 bands: Int = 4, bandBits: Int = 14, maxHamming: Int = 3,
                 idCol: String = "doc_id", hashCol: String = "phash",
                 appendUnique: Boolean = true,
                 probeTolerance: Int = 0,
                 maxExactStoreRows: Long = DefaultMaxExactStoreRows): DataFrame = {
    require(probeTolerance >= 0 && probeTolerance <= 1,
      s"probeTolerance must be 0 (narrow bands) or 1 (MIH), got $probeTolerance")
    require(bands * (probeTolerance + 1) > maxHamming,
      s"pigeonhole recall needs bands x (tolerance+1) > maxHamming " +
      s"(got $bands x ${probeTolerance + 1} <= $maxHamming)")
    require(bands * bandBits <= 64, "bands x bandBits must fit the 64-bit hash")
    val batch = newHashes
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("hash"))
      .localCheckpoint(true) // referenced by banding, verify, and append
    val store = graft.hfc.StoreProtocol.read(newHashes.sparkSession, storePath, batch.schema)
    // r13 verdict #5 — the birthday bound, AUTOMATED: in the EXACT
    // regime (maxHamming = 0) a hash collision is a silently wrong
    // drop, and for the ≤64-bit keys this store holds (key60 md5-60,
    // xxhash64) expected colliding pairs grow as n²/2^(bits+1) —
    // ~1.1e-3 at the 5e7 default cap for 60-bit keys. Past the cap,
    // fail loudly with the escape hatches instead of degrading
    // silently. Near-dup regimes (maxHamming > 0) tolerate collisions
    // by design (the verify is a distance check, not identity) and are
    // exempt. The count is a columnless parquet scan — cheap next to
    // the banded join that reads the same store rows right after.
    if (maxHamming == 0) {
      val storeRows = store.count()
      require(storeRows <= maxExactStoreRows,
        s"exact-regime store at $storePath holds $storeRows keys, past " +
          s"the $maxExactStoreRows collision-safety cap (birthday bound " +
          "n^2/2^61 for 60-bit keys): shard the store (e.g. by host for " +
          "url stores) or switch to the full-digest string-keyed store " +
          "(initStringStore/exactDedupBatchString); raise " +
          "maxExactStoreRows only for keys with >60 real bits")
    }

    val mask = (1L << bandBits) - 1
    def bandKey(b: Int) = shiftright(col("hash"), b * bandBits).bitwiseAND(lit(mask))
    def banded(t: DataFrame) = t.select(col("id"), col("hash"),
      posexplode(array((0 until bands).map(bandKey): _*))
        .as(Seq("band", "bkey")))

    val probeSide =
      if (probeTolerance == 0) banded(batch)
      else batch.select(col("id"), col("hash"),
        posexplode(array((0 until bands).flatMap(b =>
          bandKey(b) +: (0 until bandBits).map(j =>
            bandKey(b).bitwiseXOR(lit(1L << j)))): _*))
          .as(Seq("slot", "bkey")))
        .select(col("id"), col("hash"),
          (col("slot") / (bandBits + 1)).cast("int").as("band"), col("bkey"))
    val probe = probeSide
      .select(col("id").as("new_id"), col("hash").as("n_hash"),
        col("band"), col("bkey"))
    val targets = banded(store)
      .select(col("id").as("old_id"), col("hash").as("o_hash"),
        col("band"), col("bkey"), lit(true).as("from_store"))
      .union(banded(batch)
        .select(col("id").as("old_id"), col("hash").as("o_hash"),
          col("band"), col("bkey"), lit(false).as("from_store")))
    val cands = probe.join(targets, Seq("band", "bkey"))
      // old_id =!= new_id on the store side: crash-replay guard — a
      // re-run batch whose append landed must not self-match at 0
      .filter((col("from_store") && col("old_id") =!= col("new_id")) ||
              (!col("from_store") && col("old_id") < col("new_id")))
      .select(col("new_id"), col("old_id"), col("n_hash"), col("o_hash"))
      .distinct()

    val scored = cands
      .withColumn("hamming",
        bit_count(col("n_hash").bitwiseXOR(col("o_hash"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_id"))
      .orderBy(col("hamming").asc, col("old_id").asc)
    val best = scored
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("new_id").as("id"), col("old_id").as("dup_of"), col("hamming"))

    val decisions = batch.select(col("id"))
      .join(best, Seq("id"), "left")
      .select(col("id").as(idCol), col("dup_of"), col("hamming"))
      .localCheckpoint(true) // pin BEFORE the store grows underneath it

    if (appendUnique) graft.hfc.StoreProtocol.appendUnique(batch, decisions, idCol, storePath)
    decisions
  }

  /** default exact-regime store cap: 5e7 keys ≈ 1.1e-3 expected
    * colliding pairs for 60-bit keys — negligible; the next decade of
    * growth is not */
  val DefaultMaxExactStoreRows: Long = 50000000L

  /** Seed a FULL-DIGEST string-keyed exact store — the birthday-bound
    * escape hatch ([[graft.operators.WebText.key128]] keys: 128 bits,
    * collision-free at any realistic scale). */
  def initStringStore(keys: DataFrame, storePath: String,
                      idCol: String = "doc_id", keyCol: String = "key"): Unit =
    keys.select(col(idCol).as("id"), col(keyCol).cast("string").as("key"))
      .write.mode("overwrite").parquet(storePath)

  /** Exact-dup decisions against a string-keyed store — the
    * [[dedupBatch]] exact regime without the 64-bit ceiling: one plain
    * equi-join on the key (no banding; exactness IS the band),
    * same best-match rule (store matches and smaller batch ids, ties
    * to the smallest id), same crash-replay guard, same
    * decisions-pinned-before-append discipline. Cost delta vs the
    * long-keyed store is the key width (32-char md5 vs 8 bytes) on the
    * store scan and shuffle — measured in NOTES_r14 at 16M rows. */
  def exactDedupBatchString(newKeys: DataFrame, storePath: String,
                            idCol: String = "doc_id", keyCol: String = "key",
                            appendUnique: Boolean = true): DataFrame = {
    val batch = newKeys
      .select(col(idCol).as("id"), col(keyCol).cast("string").as("key"))
      .localCheckpoint(true)
    val store = graft.hfc.StoreProtocol.read(newKeys.sparkSession, storePath, batch.schema)
    val targets = store
      .select(col("id").as("old_id"), col("key"), lit(true).as("from_store"))
      .union(batch.select(col("id").as("old_id"), col("key"),
        lit(false).as("from_store")))
    val best = batch.select(col("id").as("new_id"), col("key"))
      .join(targets, Seq("key"))
      .filter((col("from_store") && col("old_id") =!= col("new_id")) ||
              (!col("from_store") && col("old_id") < col("new_id")))
      .groupBy(col("new_id")).agg(min(col("old_id")).as("dup_of"))
    val decisions = batch.select(col("id"))
      .join(best.select(col("new_id").as("id"), col("dup_of")), Seq("id"), "left")
      .select(col("id").as(idCol), col("dup_of"))
      .localCheckpoint(true)
    if (appendUnique) graft.hfc.StoreProtocol.appendUnique(batch, decisions, idCol, storePath)
    decisions
  }
}

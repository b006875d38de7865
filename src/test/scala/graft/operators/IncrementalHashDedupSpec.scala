package graft.operators

import graft.SparkTestBase

/** The incremental hamming-space dedup store: batch-vs-store and
  * within-batch decisions, append growth, replay self-match guard,
  * and the real-image path end to end (the crash/replay protocol is
  * checked for every store in graft.hfc.StoreProtocolSpec). */
class IncrementalHashDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("graft-ihd").toString + "/store"

  private def decisions(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (Option(r.get(1)).map(_.asInstanceOf[Long]),
       Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap

  test("batch dedups against store AND itself; uniques append; next batch sees them") {
    val store = tmpStore()
    IncrementalHashDedup.initStore(
      Seq((1L, 0x00L), (2L, 0xFF00FF00L)).toDF("doc_id", "phash"), store)
    val d1 = decisions(IncrementalHashDedup.dedupBatch(
      Seq((10L, 0x01L), (11L, 0x01L), (12L, 0xF0F0F0F0F0L)).toDF("doc_id", "phash"),
      store))
    assert(d1(10L) == ((Some(1L), Some(1L))), s"10 dups to store id 1: ${d1(10L)}")
    // 11 matches batch-mate 10 at hamming 0 — beats the store's 1
    assert(d1(11L) == ((Some(10L), Some(0L))), s"11 chains to batch-mate: ${d1(11L)}")
    assert(d1(12L) == ((None, None)), "12 is unique")
    assert(spark.read.parquet(store).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 12L), "only the unique hash appends")
    val d2 = decisions(IncrementalHashDedup.dedupBatch(
      Seq((20L, 0xF0F0F0F0F0L)).toDF("doc_id", "phash"), store))
    assert(d2(20L) == ((Some(12L), Some(0L))), "wave-2 dups to wave-1's append")
  }

  test("replayed batch whose append landed does not self-match") {
    val store = tmpStore()
    IncrementalHashDedup.initStore(
      Seq((1L, 0x00L)).toDF("doc_id", "phash"), store)
    val batch = Seq((10L, 0xF0F0L)).toDF("doc_id", "phash")
    val first = decisions(IncrementalHashDedup.dedupBatch(batch, store))
    assert(first(10L) == ((None, None)))
    assert(!graft.hfc.StoreProtocol.batchApplied(spark, store, 0L))
    graft.hfc.StoreProtocol.markApplied(spark, 0L, store)
    assert(graft.hfc.StoreProtocol.batchApplied(spark, store, 0L))
    // crash replay: append already landed; the old=!=new guard must
    // keep 10 from matching its own stored hash at hamming 0
    val replay = decisions(IncrementalHashDedup.dedupBatch(batch, store,
      appendUnique = false))
    assert(replay == first, s"replay decisions must be identical: $replay")
  }

  test("on a store that cannot match, dedupBatch flags exactly the ids hashNearDup/hashNearDupMih flag") {
    import org.apache.spark.sql.functions.col
    val hashes = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), Multimodal.textDhash56(col("text")).as("phash"))
    // the store's one row sets every bit above the 56-bit hash, so it
    // sits farther than any radius used here from every document
    val sentinel = -1L
    val nearest = hashes.select("phash").as[Long].collect()
      .map(h => java.lang.Long.bitCount(h ^ sentinel)).min
    assert(nearest > 7, s"sentinel within reach of a document: hamming $nearest")
    val store = tmpStore()
    IncrementalHashDedup.initStore(Seq((-1L, sentinel)).toDF("doc_id", "phash"), store)
    def flagged(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.filter(col("dup_of").isNotNull).select("doc_id").as[Long].collect().toSet
    val narrow = flagged(Multimodal.hashNearDup(hashes, "doc_id", "phash", 4, 14, 3))
    assert(narrow.nonEmpty, "degenerate fixture: no pairs within hamming 3")
    assert(flagged(IncrementalHashDedup.dedupBatch(hashes, store,
      bands = 4, bandBits = 14, maxHamming = 3, appendUnique = false)) === narrow)
    val mih = flagged(Multimodal.hashNearDupMih(hashes, "doc_id", "phash", 4, 14, 7))
    assert(mih.size > narrow.size, "hamming 7 must reach beyond hamming 3 on this fixture")
    assert(flagged(IncrementalHashDedup.dedupBatch(hashes, store,
      bands = 4, bandBits = 14, maxHamming = 7, appendUnique = false,
      probeTolerance = 1)) === mih)
  }

  test("pigeonhole guard rejects bands <= maxHamming") {
    val store = tmpStore()
    IncrementalHashDedup.initStore(Seq((1L, 0L)).toDF("doc_id", "phash"), store)
    intercept[IllegalArgumentException] {
      IncrementalHashDedup.dedupBatch(Seq((2L, 1L)).toDF("doc_id", "phash"),
        store, bands = 3, bandBits = 14, maxHamming = 3)
    }
  }

  test("MIH probe mode reaches beyond the narrow regime (hamming 5 at 4 wide bands)") {
    // flips spread round-robin over all 4 x 14-bit bands — the
    // pigeonhole's worst case; the narrow regime at 4 bands caps at
    // maxHamming 3 (its guard rejects 7), MIH t=1 covers <= 7
    def flips(n: Int): Long =
      (0 until n).map(k => 1L << ((k % 4) * 14 + (k / 4))).foldLeft(0L)(_ | _)
    val base = 0x00A5C3F00F3C5A1BL & ((1L << 56) - 1)
    val store = tmpStore()
    IncrementalHashDedup.initStore(Seq((1L, base)).toDF("doc_id", "phash"), store)
    intercept[IllegalArgumentException] { // narrow guard still binds at t=0
      IncrementalHashDedup.dedupBatch(
        Seq((2L, base ^ flips(5))).toDF("doc_id", "phash"), store,
        bands = 4, bandBits = 14, maxHamming = 7)
    }
    val d = decisions(IncrementalHashDedup.dedupBatch(
      Seq((2L, base ^ flips(5)),          // hamming 5 from the stored base
          (3L, ~base & ((1L << 56) - 1)), // hamming 56: beyond any reach
          (4L, (base ^ flips(5)) ^ flips(1))) // hamming 4 of base, 1 of batch-mate 2
        .toDF("doc_id", "phash"), store,
      bands = 4, bandBits = 14, maxHamming = 7, probeTolerance = 1))
    assert(d(2L) == ((Some(1L), Some(5L))), s"store match at hamming 5: ${d(2L)}")
    assert(d(3L) == ((None, None)), s"distant hash stays unique: ${d(3L)}")
    // id 4 = (base^flips(5))^flips(1): flips(1) (bit 0) is already set
    // in flips(5), so the xor CLEARS it — hamming 4 from the stored
    // base, hamming 1 from batch-mate 2. Best = smallest hamming, so
    // the batch-mate wins over the store match.
    assert(d(4L) == ((Some(2L), Some(1L))), s"best = smallest hamming then id: ${d(4L)}")
  }

  test("real images: a rescaled copy arriving later dups to the stored original") {
    def png(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
      import java.awt.image.BufferedImage
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = math.max(0, math.min(255, f(x, y)))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val store = tmpStore()
    val seed = Multimodal.withPerceptualHash(
      Seq((1L, png(96, 96)((x, y) => x + y))).toDF("doc_id", "media"), "media")
      .select($"doc_id", $"phash64".as("phash"))
    IncrementalHashDedup.initStore(seed, store)
    val batch = Multimodal.withPerceptualHash(
      Seq((10L, png(48, 48)((x, y) => 2 * (x + y))),            // rescale of stored
          (11L, png(96, 96)((x, y) => 255 - (x + y))))          // unrelated
        .toDF("doc_id", "media"), "media")
      .select($"doc_id", $"phash64".as("phash"))
    val d = decisions(IncrementalHashDedup.dedupBatch(batch, store,
      bands = 8, bandBits = 8, maxHamming = 6))
    assert(d(10L)._1.contains(1L), s"rescaled copy must dup to the original: $d")
    assert(d(11L)._1.isEmpty, "unrelated image stays unique")
  }
  test("exact regime enforces the birthday-bound store cap (r13 verdict #5)") {
    val store = tmpStore()
    IncrementalHashDedup.initStore(
      (1L to 10L).map(i => (i, i * 7919L)).toDF("doc_id", "phash"), store)
    // near-dup regimes are exempt at any store size
    IncrementalHashDedup.dedupBatch(
      Seq((100L, 1L)).toDF("doc_id", "phash"), store,
      appendUnique = false, maxExactStoreRows = 5L)
    // exact regime past the cap fails loudly and names the hatches
    val e = intercept[IllegalArgumentException] {
      IncrementalHashDedup.dedupBatch(
        Seq((100L, 1L)).toDF("doc_id", "phash"), store,
        bands = 1, bandBits = 32, maxHamming = 0,
        appendUnique = false, maxExactStoreRows = 5L)
    }
    assert(e.getMessage.contains("birthday bound"))
    assert(e.getMessage.contains("exactDedupBatchString"))
    // at-or-under the cap passes
    IncrementalHashDedup.dedupBatch(
      Seq((100L, 1L)).toDF("doc_id", "phash"), store,
      bands = 1, bandBits = 32, maxHamming = 0,
      appendUnique = false, maxExactStoreRows = 10L)
  }

  test("string-keyed exact store decisions == long-keyed exact regime (key60/key128)") {
    import org.apache.spark.sql.functions.col
    val wt = graft.operators.WebText
    // duplicate texts across store and batch, plus batch-internal dups
    val storeTexts = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
    val batchTexts = Seq((10L, "beta"), (11L, "delta"), (12L, "delta"), (13L, "epsilon"))
    val longStore = tmpStore()
    IncrementalHashDedup.initStore(
      storeTexts.toDF("doc_id", "t").select(col("doc_id"),
        wt.key60(col("t")).as("phash")), longStore)
    val longDec = IncrementalHashDedup.dedupBatch(
        batchTexts.toDF("doc_id", "t").select(col("doc_id"),
          wt.key60(col("t")).as("phash")), longStore,
        bands = 1, bandBits = 32, maxHamming = 0, appendUnique = true)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val strStore = tmpStore()
    IncrementalHashDedup.initStringStore(
      storeTexts.toDF("doc_id", "t").select(col("doc_id"),
        wt.key128(col("t")).as("key")), strStore)
    val strDec = IncrementalHashDedup.exactDedupBatchString(
        batchTexts.toDF("doc_id", "t").select(col("doc_id"),
          wt.key128(col("t")).as("key")), strStore)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(strDec == longDec)
    assert(strDec(10L).contains(2L))  // store dup
    assert(strDec(11L).isEmpty)       // unique (first of the pair)
    assert(strDec(12L).contains(11L)) // batch-mate dup
    assert(strDec(13L).isEmpty)
    // appendUnique grew both stores identically (ids 11, 13)
    assert(spark.read.parquet(strStore).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 11L, 13L))
    assert(spark.read.parquet(longStore).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 11L, 13L))
    // wave 2 sees wave 1's appends; replayed append does not self-match
    val w2 = IncrementalHashDedup.exactDedupBatchString(
        Seq((20L, "delta"), (11L, "delta")).toDF("doc_id", "t")
          .select(col("doc_id"), wt.key128(col("t")).as("key")),
        strStore, appendUnique = false)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(w2(20L).contains(11L))
    assert(w2(11L).isEmpty, "replay guard: 11 must not match its own stored key")
  }

  test("planted store workload: every planted copy is found in the MIH, narrow and exact regimes") {
    import org.apache.spark.sql.functions._
    // store hash = xxhash64(id); the batch's even ids copy store row
    // id % storeN with up to maxHamming seeded bit flips, odd ids are
    // fresh draws (hamming ~32 from everything stored)
    val storeN = 3000L
    val store = tmpStore()
    IncrementalHashDedup.initStore(
      spark.range(storeN).select($"id", xxhash64($"id").as("hash")),
      store, idCol = "id", hashCol = "hash")
    def batch(maxHamming: Int) = {
      val base = xxhash64($"id" % storeN)
      val flipped = (0 until maxHamming).map { j =>
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64(id, $j), 64) AS INT))")
      }.foldLeft(base)(_ bitwiseXOR _)
      spark.range(storeN, storeN + 300).select($"id",
        when($"id" % 2 === 0, flipped).otherwise(xxhash64($"id", lit("fresh"))).as("hash"))
    }
    def found(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.filter($"dup_of".isNotNull).select("id").as[Long].collect().toSet
    val planted = (storeN until storeN + 300).filter(_ % 2 == 0).toSet
    for ((bands, bandBits, maxHamming, tol) <- Seq((4, 16, 7, 1), (8, 8, 6, 0), (1, 32, 0, 0))) {
      val d = IncrementalHashDedup.dedupBatch(batch(maxHamming), store,
        bands = bands, bandBits = bandBits, maxHamming = maxHamming,
        idCol = "id", hashCol = "hash", appendUnique = false, probeTolerance = tol)
      assert(found(d) === planted, s"${bands}x${bandBits}b t$tol at hamming $maxHamming")
    }
    // the string-keyed exact store on the same plant: md5 of the id
    val strStore = tmpStore()
    IncrementalHashDedup.initStringStore(
      spark.range(storeN).select($"id", md5($"id".cast("string")).as("key")),
      strStore, idCol = "id", keyCol = "key")
    val strBatch = spark.range(storeN, storeN + 300).select($"id",
      when($"id" % 2 === 0, md5(($"id" % storeN).cast("string")))
        .otherwise(md5(concat($"id".cast("string"), lit("-fresh")))).as("key"))
    assert(found(IncrementalHashDedup.exactDedupBatchString(strBatch, strStore,
      idCol = "id", keyCol = "key", appendUnique = false)) === planted)
  }
}

package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Multi-index-hashing near-dup ([[Multimodal.hashNearDupMih]]):
  * recall-1.0 equivalence with brute force, agreement with the
  * narrow-band funnel where both apply, and the real-codec reach the
  * wide bands exist for. */
class MihSpec extends SparkTestBase {
  import spark.implicits._

  /** Brute-force reference: smallest-id best match per doc over ALL
    * pairs within maxHamming — computed driver-side from collected
    * hashes (test-scale only). */
  private def bruteForce(hs: Seq[(Long, Long)], maxHamming: Int): Map[Long, (Long, Long)] = {
    val sorted = hs.sortBy(_._1)
    val out = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for {
      i <- sorted.indices
      j <- 0 until i
      d = java.lang.Long.bitCount(sorted(i)._2 ^ sorted(j)._2)
      if d <= maxHamming && !out.contains(sorted(i)._1)
    } out(sorted(i)._1) = (sorted(j)._1, d.toLong)
    out.toMap
  }

  test("MIH equals brute force on the documents stub hashes at hamming <= 7") {
    val hashes = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", Multimodal.textDhash56($"text").as("phash"))
    val got = Multimodal.hashNearDupMih(hashes, "doc_id", "phash",
        bands = 4, bandBits = 14, maxHamming = 7)
      .filter($"is_dup")
      .select($"doc_id", $"dup_of", $"hamming")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = bruteForce(
      hashes.as[(Long, Long)].collect().toSeq, maxHamming = 7)
    assert(got === want, "MIH must find EXACTLY the brute-force pairs (recall 1.0, verified)")
    assert(want.nonEmpty, "degenerate fixture: no pairs within hamming 7")
  }

  test("adversarial bit-flip reach: every hamming 0..7 found, 8 not") {
    // flips spread round-robin over all 4 bands — the pigeonhole's
    // worst case (at d=7 the best band still carries one flip; at d=8
    // every band has two, so no band is within t=1 AND the verify
    // would reject anyway)
    val base = 0x00A5C3F00F3C5A1BL & ((1L << 56) - 1)
    def flips(n: Int): Long =
      (0 until n).map(k => 1L << ((k % 4) * 14 + (k / 4))).foldLeft(0L)(_ | _)
    (0 to 8).foreach { d =>
      val pair = Seq((1L, base), (2L, base ^ flips(d))).toDF("doc_id", "phash")
      val dup = Multimodal.hashNearDupMih(pair, "doc_id", "phash", 4, 14, 7)
        .filter($"doc_id" === 2L).select($"is_dup").as[Boolean].head()
      assert(dup === (d <= 7), s"distance $d: expected is_dup=${d <= 7}")
    }
  }

  test("t=0 regime (maxHamming < bands) matches hashNearDup exactly") {
    val hashes = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", Multimodal.textDhash56($"text").as("phash"))
    val narrow = Multimodal.hashNearDup(hashes, "doc_id", "phash", 4, 14, 3)
      .collect().map(_.toSeq).toSet
    val mih = Multimodal.hashNearDupMih(hashes, "doc_id", "phash", 4, 14, 3)
      .collect().map(_.toSeq).toSet
    assert(mih === narrow)
  }

  test("real codec: rescaled + re-encoded copy dups under 4x16-bit MIH at hamming 7") {
    val img = SyntheticImages.basePng(7L)
    val variant = SyntheticImages.variant(7L)
    val hashes = Seq(
      (1L, Multimodal.dhash64(img)),
      (2L, Multimodal.dhash64(variant)),
      (3L, Multimodal.dhash64(SyntheticImages.basePng(99L))))
      .toDF("doc_id", "phash64")
    val out = Multimodal.hashNearDupMih(hashes, "doc_id", "phash64",
        bands = 4, bandBits = 16, maxHamming = 7)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out(2L), "rescaled copy must flag")
    assert(!out(1L) && !out(3L), "originals must stay unique")
  }

  test("guards: t >= 2 and oversized bands rejected loudly") {
    val df = Seq((1L, 1L)).toDF("doc_id", "phash")
    intercept[IllegalArgumentException](
      Multimodal.hashNearDupMih(df, "doc_id", "phash", 4, 14, 8)) // t would be 2
    intercept[IllegalArgumentException](
      Multimodal.hashNearDupMih(df, "doc_id", "phash", 5, 14, 7)) // 70 bits
  }
}

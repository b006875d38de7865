package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[IncrementalFrameDedup]] — the frame-grain incremental store: vote
  * decisions against store + batch mates, append-unique, the replay
  * self-match guard and the MIH probe regime (the crash/replay
  * protocol is checked for every store in graft.hfc.StoreProtocolSpec).
  * Hashes are hand-built so every ballot is arranged exactly
  * (hamming-0 matches under an 8×8 split unless stated). */
class IncrementalFrameDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val h = (v: Long) => v << 8 // distinct band keys across values

  private def freshStore(): String = {
    val dir = java.nio.file.Files.createTempDirectory("ifd-spec").toString + "/store"
    IncrementalFrameDedup.initStore(Seq(
      (10L, 0, h(1)), (10L, 1, h(2)), (10L, 2, h(3)), (10L, 3, h(4)),
      (20L, 0, h(50)), (20L, 1, h(51)), (20L, 2, h(52)), (20L, 3, h(53))
    ).toDF("clip_id", "frame_idx", "fhash"), dir)
    dir
  }

  private val batch = Seq(
    (31L, 0, h(1)), (31L, 1, h(2)), (31L, 2, h(90)), (31L, 3, h(91)), // 2/4 vs store 10 → dup
    (33L, 0, h(1)), (33L, 1, h(70)), (33L, 2, h(71)), (33L, 3, h(72)), // 1/4 → unique
    (35L, 0, h(1)), (35L, 1, h(70)), (35L, 2, h(95)), (35L, 3, h(96))  // 2/4 vs batch mate 33 beats 1/4 vs store 10
  ).toDF("clip_id", "frame_idx", "fhash")

  private def decide(store: String, appendUnique: Boolean = true) =
    IncrementalFrameDedup.dedupBatch(batch, store, bands = 8, bandBits = 8,
        maxHamming = 0, voteFrac = 0.5, appendUnique = appendUnique)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap

  test("store + batch-mate votes, most-votes-then-smallest-id, append-unique") {
    val store = freshStore()
    val got = decide(store)
    assert(got(31L) == ((4L, Some(10L), Some(2L))), s"31 dups store clip 10: ${got(31L)}")
    assert(got(33L) == ((4L, None, None)), s"33 under threshold stays unique: ${got(33L)}")
    // 35 matches batch mate 33 on 2 distinct frames but store 10 on 1 —
    // most votes wins over the smaller store id
    assert(got(35L) == ((4L, Some(33L), Some(2L))), s"35 votes onto batch mate 33: ${got(35L)}")
    // append-unique: only 33's frames landed (8 store + 4 unique)
    assert(spark.read.parquet(store).count() == 12L)
    val storedIds = spark.read.parquet(store).select($"id").distinct()
      .as[Long].collect().toSet
    assert(storedIds == Set(10L, 20L, 33L))
  }

  test("replay after a landed append: the self-match guard keeps decisions identical") {
    val store = freshStore()
    val first = decide(store) // 33's frames appended
    val replay = decide(store, appendUnique = false)
    assert(replay == first,
      s"replayed batch diverged (33 must not vote onto its own stored frames): $replay vs $first")
  }

  test("asymmetric replay: a clip must not vote onto a larger-id batch mate's appended frames") {
    // A (id 1, 4 frames, 2 shared with B) clears the 0.5 threshold
    // against B; B (id 2, 8 frames, the same 2 shared) does NOT clear
    // it against A — the asymmetric shape where a self-pair-only store
    // guard fails: both clips are unique on first contact (the batch
    // filter only lets B vote on A) and both append; a replayed batch
    // must not flag A against B's now-stored frames. The guard
    // anti-joins the WHOLE batch out of the store side.
    val dir = java.nio.file.Files.createTempDirectory("ifd-asym").toString + "/store"
    IncrementalFrameDedup.initStore(
      Seq.empty[(Long, Int, Long)].toDF("clip_id", "frame_idx", "fhash"), dir)
    val b = Seq(
      (1L, 0, h(1)), (1L, 1, h(2)), (1L, 2, h(30)), (1L, 3, h(31)),
      (2L, 0, h(1)), (2L, 1, h(2)), (2L, 2, h(40)), (2L, 3, h(41)),
      (2L, 4, h(42)), (2L, 5, h(43)), (2L, 6, h(44)), (2L, 7, h(45))
    ).toDF("clip_id", "frame_idx", "fhash")
    def run(append: Boolean) = IncrementalFrameDedup.dedupBatch(b, dir,
        bands = 8, bandBits = 8, maxHamming = 0, voteFrac = 0.5,
        appendUnique = append)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    val first = run(append = true)
    assert(first == Map(1L -> None, 2L -> None), s"both unique on first contact: $first")
    assert(spark.read.parquet(dir).count() == 12L, "both clips' frames appended")
    val replay = run(append = false)
    assert(replay == first, s"replay diverged on the asymmetric shape: $replay vs $first")
  }

  test("MIH probe regime reaches configs the narrow pigeonhole cannot express") {
    val dir = java.nio.file.Files.createTempDirectory("ifd-mih").toString + "/store"
    val base = 0x123456789abcdL
    IncrementalFrameDedup.initStore(
      Seq((10L, 0, base), (10L, 1, base + (7L << 50))).toDF("clip_id", "frame_idx", "fhash"), dir)
    // 5 flips spread over 4 bands of 16 bits (bands 0,1,2,3 get 2,1,1,1)
    val flipped = base ^ ((1L << 0) | (1L << 1) | (1L << 16) | (1L << 32) | (1L << 48))
    val b = Seq((40L, 0, flipped), (40L, 1, flipped ^ (1L << 40))).toDF("clip_id", "frame_idx", "fhash")
    // narrow regime with 4 bands cannot guarantee hamming 7 — loud reject
    intercept[IllegalArgumentException](
      IncrementalFrameDedup.dedupBatch(b, dir, bands = 4, bandBits = 16,
        maxHamming = 7, probeTolerance = 0, appendUnique = false).count())
    val got = IncrementalFrameDedup.dedupBatch(b, dir, bands = 4, bandBits = 16,
        maxHamming = 7, voteFrac = 0.5, probeTolerance = 1, appendUnique = false)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(got(40L).contains(10L), s"MIH must find the 5/6-flip frames: $got")
  }

}

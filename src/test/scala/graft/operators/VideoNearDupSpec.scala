package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Frame-vote video near-dup ([[Multimodal.frameVoteNearDup]] /
  * [[Multimodal.videoNearDup]]): the clip-level decision over per-frame
  * perceptual hashes. Real-codec fixtures come from
  * [[SyntheticVideo.y4mClip]] (seeded temporally-drifting cosine
  * fields — the corpus the fleet-scale measurement plants); the vote
  * algebra is additionally pinned on hand-built hash tables where every
  * ballot is arranged exactly. */
class VideoNearDupSpec extends SparkTestBase {
  import spark.implicits._

  test("videoNearDup end to end: re-encoded/rescaled/truncated copies dup, distinct stays, corrupt cannot-judge") {
    val clips = Seq(
      (1L, SyntheticVideo.y4mClip(1)),                       // base A
      (2L, SyntheticVideo.y4mClip(1, quantize = true)),      // re-encoded A
      (3L, SyntheticVideo.y4mClip(1, w = 80, h = 56)),       // rescaled A
      (4L, SyntheticVideo.y4mClip(1, nFrames = 12)),         // truncated A
      (5L, SyntheticVideo.y4mClip(7)),                       // distinct base B
      (6L, "definitely not a video".getBytes)                // corrupt
    ).toDF("clip_id", "video")
    val got = Multimodal.videoNearDup(clips, "video", "clip_id",
        nFrames = 8, bands = 8, bandBits = 8, maxHamming = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(4))))
      .toMap
    assert(got(1L) == ((8L, None, false)), s"base stays unique: ${got(1L)}")
    assert(got(2L)._2.contains(1L) && got(2L)._3, s"re-encoded copy dups to base: ${got(2L)}")
    assert(got(3L)._2.contains(1L) && got(3L)._3, s"rescaled copy dups to base: ${got(3L)}")
    assert(got(4L)._2.contains(1L) && got(4L)._3, s"truncated copy dups to base: ${got(4L)}")
    assert(got(4L)._1 == 8L, "truncated clip still samples 8 of its 12 frames")
    assert(got(5L) == ((8L, None, false)), s"distinct clip stays unique: ${got(5L)}")
    assert(got(6L) == ((0L, None, false)), s"corrupt clip = cannot-judge sentinel: ${got(6L)}")
  }

  test("vote algebra: exact 0.5 boundary flags, below does not, votes count DISTINCT probe frames") {
    // hand-built frame hashes — hamming 0 matches only
    val h = (v: Long) => v << 8 // keep band keys distinct across values
    val frames = Seq(
      (1L, 0, h(10)), (1L, 1, h(11)), (1L, 2, h(12)), (1L, 3, h(13)), // target clip
      (2L, 0, h(10)), (2L, 1, h(11)), (2L, 2, h(90)), (2L, 3, h(91)), // 2/4 = 0.5 → flag
      (3L, 0, h(10)), (3L, 1, h(80)), (3L, 2, h(81)), (3L, 3, h(82)), // 1/4 < 0.5 → unique
      (4L, 0, h(10)), (4L, 1, h(10)), (4L, 2, h(10)), (4L, 3, h(10))  // static probe: 4 distinct frames
    ).toDF("clip_id", "frame_idx", "fhash")
    val got = Multimodal.frameVoteNearDup(frames, "clip_id", "frame_idx", "fhash",
        bands = 8, bandBits = 8, maxHamming = 0)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(got(2L) == ((Some(1L), Some(2L))), s"half-match flags at the boundary: ${got(2L)}")
    assert(got(3L) == ((None, None)), s"1/4 stays unique: ${got(3L)}")
    // all four of clip 4's frames match clip 1's single h(10) frame:
    // distinct PROBE frames each vote once (a multi-match of one probe
    // frame against many target frames would still count once)
    assert(got(4L) == ((Some(1L), Some(4L))), s"static probe votes 4/4: ${got(4L)}")
  }

  test("MIH regime (t=1, wide bands) decides identically to the narrow regime at the same radius") {
    val clips = Seq(
      (1L, SyntheticVideo.y4mClip(3)),
      (2L, SyntheticVideo.y4mClip(3, quantize = true)),
      (3L, SyntheticVideo.y4mClip(3, nFrames = 12)),
      (4L, SyntheticVideo.y4mClip(9))
    ).toDF("clip_id", "video")
    val frames = Multimodal.videoFrames(clips, "video", "clip_id", n = 8)
    val hashed = Multimodal.withPerceptualHash(frames, "frame", "fhash")
      .select($"media_id".as("clip_id"), $"frame_idx", $"fhash")
    val narrow = Multimodal.frameVoteNearDup(hashed, "clip_id", "frame_idx",
        "fhash", bands = 8, bandBits = 8, maxHamming = 6)
      .orderBy($"clip_id").collect().toSeq
    val mih = Multimodal.frameVoteNearDup(hashed, "clip_id", "frame_idx",
        "fhash", bands = 4, bandBits = 16, maxHamming = 6, probeTolerance = 1)
      .orderBy($"clip_id").collect().toSeq
    assert(narrow == mih, s"narrow=$narrow mih=$mih")
  }

  test("withFrameHashes: the stream-input array shape, scan-local, empty = cannot-judge") {
    val clips = Seq(
      (1L, SyntheticVideo.y4mClip(5)),
      (2L, SyntheticVideo.y4mClip(5, quantize = true)),
      (3L, "junk video".getBytes)
    ).toDF("clip_id", "video")
    val got = Multimodal.withFrameHashes(clips, "video", "clip_id", n = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L).size == 8 && got(2L).size == 8)
    assert(got(3L).isEmpty, "corrupt clip yields the empty-array sentinel")
    // the re-encoded copy's frames sit within a couple of bits framewise
    got(1L).zip(got(2L)).foreach { case (a, b) =>
      assert(java.lang.Long.bitCount(a ^ b) <= 3, s"frame drifted: $a vs $b")
    }
  }

  test("hammingPairs guards reject impossible pigeonhole splits") {
    val df = Seq((1L, 0, 1L)).toDF("clip_id", "frame_idx", "fhash")
    intercept[IllegalArgumentException](
      Multimodal.hammingPairs(df, df, "clip_id", "fhash",
        bands = 4, bandBits = 8, maxHamming = 6, frameCol = Some("frame_idx")).count())
    intercept[IllegalArgumentException](
      Multimodal.hammingPairs(df, df, "clip_id", "fhash",
        bands = 9, bandBits = 8, maxHamming = 6, frameCol = Some("frame_idx")).count())
  }
}

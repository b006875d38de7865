package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.commons.io.FileUtils

import java.io.File
import java.nio.file.Files

/** Randomized fault-injection soak of the composed streaming corpus
  * pipeline (round-11 verdict #6): N=20 generated waves through
  * [[EventStreams.corpusPipelineStream]], with
  *  - a TORN STORE SWAP mid-commit (census store left in the
  *    crashed-between-rename-aside-and-publish state its AtomicSwap
  *    protocol can actually produce), and
  *  - a CHECKPOINT LOSS at a ScalaCheck-chosen batch boundary
  *    (restart from a fresh checkpoint re-delivering every wave from
  *    batch 0, the worst-case re-delivery window — MemoryStream ids
  *    re-align, matching the production contract that batch ids
  *    identify content),
  * asserting the final per-doc decisions and both stores are equal to
  * the fault-free run. The two-wave spec of round 10 found the
  * marker-loss bug; generalizing it found the third marker-class bug:
  * batchCounted consulted the marker WITHOUT recovering the swap
  * first, so a torn swap made a committed batch look un-counted and
  * the replay double-merged its counts (fixed in
  * the census applied-check, now StoreProtocol.batchCommitted; this
  * spec pins it). */
class CorpusSoakSpec extends SparkTestBase {
  import spark.implicits._

  private val NWaves = 20
  private val Threshold = 0.9
  private val MinTokens = 5
  private val LineTokens = 2
  private val MaxDocFreq = 2

  /** Deterministic wave generator: each wave mixes a unique doc, an
    * exact dup of an earlier unique, a gate-fail, and (on some waves)
    * a doc carrying the shared hot line that crosses maxDocFreq. */
  private def mkWaves(seed: Long): IndexedSeq[Seq[(Long, String)]] = {
    val rnd = new scala.util.Random(seed)
    val uniques = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    (0 until NWaves).map { w =>
      val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      val uid = 1000L + w
      val utext = (0 until 8).map(t => s"w${w}t${t}x${rnd.nextInt(1000)}").mkString(" ")
      uniques += ((uid, utext))
      docs += ((uid, utext))
      if (w > 0 && rnd.nextBoolean()) {
        val (src, stext) = uniques(rnd.nextInt(uniques.size - 1))
        docs += ((2000L + w, stext)) // exact dup of an earlier unique
        require(src >= 0)
      }
      if (rnd.nextInt(3) == 0) docs += ((3000L + w, "hi")) // gate-fail
      if (w % 4 == 2) // hot line shared across waves -> census scrub
        docs += ((4000L + w, s"hot line\nw${w} fresh tail content here extra"))
      docs.toSeq
    }
  }

  private final case class FinalState(decisions: Map[Long, (Boolean, Option[Long], Boolean)],
                                      dedupIds: Set[Long],
                                      census: Map[String, Long])

  /** Drive the waves through a (possibly faulted) run. Faults happen
    * at STOPPED boundaries — the only place a process crash manifests
    * to a restarted job. */
  private def runScenario(waves: IndexedSeq[Seq[(Long, String)]], base: String,
                          tornSwapAfter: Option[Int], lossAfter: Option[Int]): FinalState = {
    implicit val sqlCtx = spark.sqlContext
    val dedupStore = s"$base/dedup"; val censusStore = s"$base/census"
    val out = s"$base/decisions"
    graft.operators.IncrementalDedup.initStore(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), dedupStore)
    graft.operators.IncrementalLineCensus.initStore(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), censusStore, LineTokens)

    var ckptGen = 0
    def startQuery(): (MemoryStream[(Long, String)],
                       org.apache.spark.sql.streaming.StreamingQuery) = {
      val mem = MemoryStream[(Long, String)]
      val q = EventStreams.corpusPipelineStream(
        mem.toDF.toDF("doc_id", "text"), dedupStore, censusStore, out,
        threshold = Threshold, minTokens = MinTokens,
        lineTokens = LineTokens, maxDocFreq = MaxDocFreq)
        .option("checkpointLocation", s"$base/ckpt$ckptGen")
        .start()
      ckptGen += 1
      (mem, q)
    }

    var (mem, q) = startQuery()
    var censusSnapshot: Option[String] = None
    try {
      for (w <- 0 until NWaves) {
        if (tornSwapAfter.contains(w)) {
          // snapshot the pre-wave store so the torn state is exactly
          // what a crash between commitDir's two renames leaves
          val snap = s"$base/census_snap"
          FileUtils.copyDirectory(new File(censusStore), new File(snap))
          censusSnapshot = Some(snap)
        }
        mem.addData(waves(w): _*)
        q.processAllAvailable()
        val fault = tornSwapAfter.contains(w) || lossAfter.contains(w)
        if (fault) {
          q.stop()
          if (tornSwapAfter.contains(w)) {
            // reconstruct the crashed-mid-commit state: staging = the
            // just-committed store (complete, _SUCCESS + markers), old
            // = the pre-wave store, target absent
            FileUtils.moveDirectory(new File(censusStore),
              new File(graft.hfc.AtomicSwap.stagingFor(censusStore)))
            FileUtils.moveDirectory(new File(censusSnapshot.get),
              new File(censusStore + ".old"))
            censusSnapshot = None
          }
          // checkpoint loss (or post-crash restart): fresh checkpoint,
          // worst-case re-delivery of every wave so far — batch ids
          // re-align with identical content
          val restarted = startQuery()
          mem = restarted._1; q = restarted._2
          for (r <- 0 to w) {
            mem.addData(waves(r): _*)
            q.processAllAvailable()
          }
        }
      }
    } finally if (q.isActive) q.stop()

    val dec = spark.read.parquet(out)
      .select($"doc_id", $"gate_passed", $"dup_of", $"kept")
      .collect()
      .map(r => (r.getLong(0),
        (r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3))))
    val byDoc = dec.groupBy(_._1).map { case (id, rows) =>
      val distinct = rows.map(_._2).distinct
      assert(distinct.size == 1,
        s"doc $id has ${distinct.size} distinct decision tuples across batches: $distinct")
      id -> distinct.head
    }
    FinalState(byDoc,
      spark.read.parquet(dedupStore).select("id").as[Long].collect().toSet,
      spark.read.parquet(censusStore).as[(String, Long)].collect().toMap)
  }

  test("20-wave soak: torn swap + checkpoint loss converge to the fault-free state") {
    // ScalaCheck-chosen fault boundaries, fixed seed for reproducibility
    val gen = org.scalacheck.Gen.choose(2, NWaves - 3)
    val seed = org.scalacheck.rng.Seed(42L)
    val crashAt = gen.apply(org.scalacheck.Gen.Parameters.default, seed).get
    val lossAt = gen.apply(org.scalacheck.Gen.Parameters.default, seed.next).get
      match { case l if l == crashAt => l + 1; case l => l }
    info(s"fault plan: torn swap after batch $crashAt, checkpoint loss after batch $lossAt")

    val waves = mkWaves(seed = 0xC0FFEE)
    val root = Files.createTempDirectory("graft-soak").toString
    val reference = runScenario(waves, s"$root/ref", None, None)
    val faulted = runScenario(waves, s"$root/fault",
      tornSwapAfter = Some(crashAt), lossAfter = Some(lossAt))

    assert(faulted.decisions == reference.decisions,
      "per-doc decisions must match the fault-free run")
    assert(faulted.dedupIds == reference.dedupIds,
      "dedup store must not gain or lose signatures under faults")
    assert(faulted.census == reference.census,
      "line census must not double-count under faults")
    // sanity: the scenario actually exercised the machinery
    assert(reference.decisions.exists(_._2._2.isDefined), "no dup decisions generated")
    assert(reference.decisions.exists(d => !d._2._1), "no gate-fails generated")
    assert(reference.census.values.exists(_ >= MaxDocFreq), "hot line never crossed the threshold")
    FileUtils.deleteDirectory(new File(root))
  }

  // ---- the multimodal composition (round-12: image leg + hamming store) ----

  /** Pairwise-distant synthetic 64-bit perceptual hash for wave w. */
  private def waveHash(w: Int): Long = 0x9E3779B97F4A7C15L * (w + 17)

  /** Pairwise-distant 56-bit frame hashes for wave w (4 sampled frames;
    * masked positive so band math matches the stub-hash width). */
  private def waveFrameHashes(w: Int): Seq[Long] =
    (0 until 4).map(i => (0xC2B2AE3D27D4EB4FL * (w * 4 + i + 31)) & ((1L << 56) - 1))

  /** Waves of (doc_id, text, phash, fhashes): per wave a fresh unique
    * (text+hash+frames), and injected text-only dups (same text, fresh
    * media), image-only dups (fresh text/frames, 1-2 bit phash flip of
    * an earlier unique), VIDEO-only dups (fresh text/phash, an earlier
    * unique's frame hashes with 1-bit flips on two frames — votes 4/4
    * at hamming ≤ 3), both-modality dups, media-absent docs (null
    * phash + empty fhashes: neither store can judge), gate-fails, and
    * census hot lines. */
  private def mkMultimodalWaves(seed: Long)
      : IndexedSeq[Seq[(Long, String, Option[Long], Seq[Long])]] = {
    val rnd = new scala.util.Random(seed)
    val uniques = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Seq[Long])]()
    (0 until NWaves).map { w =>
      val docs = scala.collection.mutable.ArrayBuffer[(Long, String, Option[Long], Seq[Long])]()
      val uid = 1000L + w
      val utext = (0 until 8).map(t => s"w${w}t${t}x${rnd.nextInt(1000)}").mkString(" ")
      val uhash = waveHash(w)
      val uframes = waveFrameHashes(w)
      uniques += ((uid, utext, uhash, uframes))
      docs += ((uid, utext, Some(uhash), uframes))
      if (w > 0 && rnd.nextBoolean()) {           // text-only dup (media cannot judge)
        val (_, stext, _, _) = uniques(rnd.nextInt(uniques.size - 1))
        docs += ((2000L + w, stext, Some(waveHash(w) ^ 0xAAAA000000000000L), Seq.empty))
      }
      if (w > 0 && rnd.nextInt(3) != 0) {         // image-only dup (hamming 1-2)
        val (_, _, shash, _) = uniques(rnd.nextInt(uniques.size - 1))
        val flip = if (rnd.nextBoolean()) 1L << rnd.nextInt(64)
                   else (1L << rnd.nextInt(32)) | (1L << (32 + rnd.nextInt(32)))
        docs += ((5000L + w, (0 until 8).map(t => s"i${w}f${t}y${rnd.nextInt(1000)}").mkString(" "),
          Some(shash ^ flip), waveFrameHashes(w + 200)))
      }
      if (w > 1 && rnd.nextInt(3) == 0) {         // VIDEO-only dup (frame votes 4/4)
        val (_, _, _, sframes) = uniques(rnd.nextInt(uniques.size - 1))
        val vframes = sframes.zipWithIndex.map { case (f, i) =>
          if (i % 2 == 0) f ^ (1L << rnd.nextInt(56)) else f
        }
        docs += ((8000L + w, (0 until 8).map(t => s"v${w}q${t}r${rnd.nextInt(1000)}").mkString(" "),
          Some(waveHash(w + 100)), vframes))
      }
      if (w > 2 && w % 5 == 0) {                  // text+image modalities agree
        val (_, stext, shash, _) = uniques(rnd.nextInt(uniques.size - 1))
        docs += ((6000L + w, stext, Some(shash ^ (1L << rnd.nextInt(64))), Seq.empty))
      }
      if (w % 4 == 1)                             // media absent: cannot judge
        docs += ((7000L + w, (0 until 8).map(t => s"n${w}m${t}z${rnd.nextInt(1000)}").mkString(" "),
          None, Seq.empty))
      if (rnd.nextInt(3) == 0)
        docs += ((3000L + w, "hi", Some(waveHash(w) ^ 0x5555L), Seq.empty))
      if (w % 4 == 2)
        docs += ((4000L + w, s"hot line\nw${w} fresh tail content here extra", None, Seq.empty))
      docs.toSeq
    }
  }

  private final case class MmFinalState(
      decisions: Map[Long, (Boolean, Option[Long], Option[Long], Option[Long], Int, Boolean)],
      dedupIds: Set[Long], hashStore: Set[(Long, Long)],
      frameStore: Set[(Long, Int, Long)], census: Map[String, Long])

  /** Drive the multimodal waves, optionally injecting a TORN COMPACT of
    * BOTH media stores (crash between commitDir's two renames: old
    * present, staging complete, target absent — exactly what the
    * recoverDir-on-entry of IncrementalHashDedup AND
    * IncrementalFrameDedup must repair) and a checkpoint loss
    * re-delivering every wave. */
  private def runMultimodalScenario(waves: IndexedSeq[Seq[(Long, String, Option[Long], Seq[Long])]],
                                    base: String, tornCompactAfter: Option[Int],
                                    lossAfter: Option[Int]): MmFinalState = {
    implicit val sqlCtx = spark.sqlContext
    val dedupStore = s"$base/dedup"; val censusStore = s"$base/census"
    val hashStore = s"$base/hashes"; val out = s"$base/decisions"
    val frameStore = s"$base/frames"
    graft.operators.IncrementalDedup.initStore(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), dedupStore)
    graft.operators.IncrementalLineCensus.initStore(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), censusStore, LineTokens)
    graft.operators.IncrementalHashDedup.initStore(
      Seq.empty[(Long, Long)].toDF("doc_id", "phash"), hashStore)
    graft.operators.IncrementalFrameDedup.initStore(
      Seq.empty[(Long, Int, Long)].toDF("doc_id", "frame_idx", "fhash"), frameStore,
      idCol = "doc_id", frameCol = "frame_idx", hashCol = "fhash")

    var ckptGen = 0
    def startQuery(): (MemoryStream[(Long, String, Option[Long], Seq[Long])],
                       org.apache.spark.sql.streaming.StreamingQuery) = {
      val mem = MemoryStream[(Long, String, Option[Long], Seq[Long])]
      val q = EventStreams.multimodalPipelineStream(
        mem.toDF.toDF("doc_id", "text", "phash", "fhashes"),
        dedupStore, censusStore, hashStore,
        out, threshold = Threshold, minTokens = MinTokens,
        lineTokens = LineTokens, maxDocFreq = MaxDocFreq,
        hashBands = 4, hashBandBits = 14, maxHamming = 3,
        frameStorePath = frameStore)
        .option("checkpointLocation", s"$base/ckpt$ckptGen")
        .start()
      ckptGen += 1
      (mem, q)
    }

    var (mem, q) = startQuery()
    try {
      for (w <- 0 until NWaves) {
        mem.addData(waves(w): _*)
        q.processAllAvailable()
        val fault = tornCompactAfter.contains(w) || lossAfter.contains(w)
        if (fault) {
          q.stop()
          if (tornCompactAfter.contains(w)) {
            // reconstruct StoreProtocol.compact crashed between its two renames:
            // staging = the compacted content (complete), old = the
            // pre-compact store, target ABSENT. recoverDir must roll
            // forward; the sibling marker dir is untouched by design.
            // Tear BOTH media stores — each operator's recoverDir-on-
            // entry must repair its own.
            for (st <- Seq(hashStore, frameStore)) {
              val staging = graft.hfc.AtomicSwap.stagingFor(st)
              FileUtils.copyDirectory(new File(st), new File(staging))
              FileUtils.moveDirectory(new File(st), new File(st + ".old"))
            }
          }
          val restarted = startQuery()
          mem = restarted._1; q = restarted._2
          for (r <- 0 to w) {
            mem.addData(waves(r): _*)
            q.processAllAvailable()
          }
        }
      }
    } finally if (q.isActive) q.stop()

    val dec = spark.read.parquet(out)
      .select($"doc_id", $"gate_passed", $"dup_of", $"image_dup_of",
        $"video_dup_of", $"n_modalities", $"kept")
      .collect()
      .map(r => (r.getLong(0),
        (r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
         Option(r.get(3)).map(_.asInstanceOf[Long]),
         Option(r.get(4)).map(_.asInstanceOf[Long]), r.getInt(5), r.getBoolean(6))))
    val byDoc = dec.groupBy(_._1).map { case (id, rows) =>
      val distinct = rows.map(_._2).distinct
      assert(distinct.size == 1,
        s"doc $id has ${distinct.size} distinct decision tuples across batches: $distinct")
      id -> distinct.head
    }
    MmFinalState(byDoc,
      spark.read.parquet(dedupStore).select("id").as[Long].collect().toSet,
      spark.read.parquet(hashStore).as[(Long, Long)].collect().toSet,
      spark.read.parquet(frameStore).as[(Long, Int, Long)].collect().toSet,
      spark.read.parquet(censusStore).as[(String, Long)].collect().toMap)
  }

  test("multimodal 20-wave soak: torn compacts of BOTH media stores + checkpoint loss converge") {
    val gen = org.scalacheck.Gen.choose(2, NWaves - 3)
    val seed = org.scalacheck.rng.Seed(4242L)
    val crashAt = gen.apply(org.scalacheck.Gen.Parameters.default, seed).get
    val lossAt = gen.apply(org.scalacheck.Gen.Parameters.default, seed.next).get
      match { case l if l == crashAt => l + 1; case l => l }
    info(s"fault plan: torn hash compact after batch $crashAt, checkpoint loss after batch $lossAt")

    val waves = mkMultimodalWaves(seed = 0xBEEF)
    val root = Files.createTempDirectory("graft-mm-soak").toString
    val reference = runMultimodalScenario(waves, s"$root/ref", None, None)
    val faulted = runMultimodalScenario(waves, s"$root/fault",
      tornCompactAfter = Some(crashAt), lossAfter = Some(lossAt))

    assert(faulted.decisions == reference.decisions,
      "per-doc cross-modal decisions must match the fault-free run")
    assert(faulted.dedupIds == reference.dedupIds,
      "signature store must not gain or lose ids under faults")
    assert(faulted.hashStore == reference.hashStore,
      "hamming store content (as a set — replay bloat collapses) must match")
    assert(faulted.frameStore == reference.frameStore,
      "frame store content (as a set — replay bloat collapses) must match")
    assert(faulted.census == reference.census,
      "line census must not double-count under faults")
    // sanity: every modality combination actually occurred
    val decs = reference.decisions.values
    assert(decs.exists(d => d._2.isDefined && d._3.isEmpty && d._4.isEmpty), "no text-only dup")
    assert(decs.exists(d => d._3.isDefined && d._2.isEmpty && d._4.isEmpty), "no image-only dup")
    assert(decs.exists(d => d._4.isDefined && d._2.isEmpty && d._3.isEmpty), "no VIDEO-only dup")
    assert(decs.exists(_._5 == 2), "no both-modality dup")
    assert(reference.decisions.exists { case (id, d) => id >= 7000L && id < 8000L && d._6 },
      "no kept null-hash doc (the cannot-judge modality must not drop rows)")
    FileUtils.deleteDirectory(new File(root))
  }
}

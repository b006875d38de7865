package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Distributed unigram-LM tokenizer training (Kudo 2018, the
  * SentencePiece "unigram" model) — the second tokenizer-training
  * family next to [[Bpe]]: instead of greedy merge learning, a piece
  * VOCABULARY with probabilities is fit by EM and words segment by
  * maximum likelihood.
  *
  * Same census discipline as BPE: the corpus is read exactly once (the
  * distinct-word census); seeding and every EM round iterate over the
  * census, never the corpus, so training cost is vocabulary-shaped and
  * flat in corpus size. Per round: one census-sized flatMap (Viterbi
  * best segmentation per DISTINCT word — the imperative per-word step,
  * like [[Bpe.encodeWord]]) + one map-side-combined piece-count
  * aggregation; the driver holds only the piece table (seedSize rows —
  * the broadcast-model shape, like the LR weights and BPE merges).
  *
  * Deliberate simplifications vs the paper, chosen for determinism
  * (the property that makes a tokenizer trustworthy in a pipeline —
  * retraining on the same corpus must yield the same vocabulary):
  *  - hard EM (Viterbi counts) instead of forward–backward expected
  *    counts: piece counts stay exact integers, so the M-step
  *    probabilities are pure functions of the corpus, immune to
  *    float-sum aggregation order;
  *  - pruning = "drop pieces the E-step stopped using" rather than the
  *    likelihood-loss ranking: monotone and deterministic;
  *  - unknown characters score a fixed per-char penalty instead of a
  *    learned UNK probability, making segmentation total (any string
  *    encodes) without a coverage special case.
  * Ties in the DP break toward the longest final piece (smallest
  * split point), so segmentations are deterministic too.
  */
object Unigram {

  final case class Piece(piece: String, cnt: Long, logprob: Double)

  /** Fixed per-character penalty for out-of-vocabulary characters —
    * worse than any in-vocabulary piece can score, so it is used only
    * when nothing else covers the character. */
  val UnknownLogProb: Double = -100.0

  /** Quantize a log-probability to 1e-6 — the cross-engine float
    * discipline (the DECIMAL-sum lesson applied to transcendentals):
    * `math.log` on the JVM and `ln` in another engine may differ in
    * the last ulp, and a Viterbi comparison can flip on it. Snapping
    * every model weight to the 1e-6 grid BEFORE the DP consumes it
    * makes segmentation decisions a pure function of (corpus, vocab)
    * on any engine whose log is within ~1e-10 of correct.
    * floor(x*1e6+0.5) rather than rint: half-even vs half-up choices
    * differ between engines; floor(+0.5) is the same everywhere. */
  def quantizeLogProb(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Viterbi maximum-likelihood segmentation of `word` under piece
    * log-probabilities `logp`. dp[i] = best score of word[0,i); at each
    * i the candidate pieces are the ≤ maxPieceLen suffixes of the
    * prefix, plus the single-char unknown fallback. Ties prefer the
    * longer final piece. Pure per-word function: runs on the DISTINCT
    * word census, never the corpus. */
  def segmentWord(word: String, logp: Map[String, Double],
                  maxPieceLen: Int): Vector[String] = {
    val n = word.length
    if (n == 0) return Vector.empty
    val score = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var best = Double.NegativeInfinity
      var bestJ = -1
      // longest piece first: on exact ties the earlier (longer) wins
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val piece = word.substring(j, i)
        val lp =
          if (logp.contains(piece)) logp(piece)
          else if (i - j == 1) UnknownLogProb
          else Double.NegativeInfinity
        if (lp != Double.NegativeInfinity) {
          val s = score(j) + lp
          if (s > best) { best = s; bestJ = j }
        }
        j += 1
      }
      score(i) = best
      back(i) = bestJ
      i += 1
    }
    val out = List.newBuilder[String]
    val rev = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var k = n
    while (k > 0) { val j = back(k); rev += ((j, k)); k = j }
    rev.reverseIterator.foreach { case (a, b) => out += word.substring(a, b) }
    out.result().toVector
  }

  /** Seed candidate pieces from the word census: every substring of
    * every distinct word up to `maxPieceLen`, weighted by word count ×
    * occurrences; ALL single characters are kept (coverage), plus the
    * top multi-char pieces by (frequency desc, piece asc) up to
    * `seedSize` total. One census-sized flatMap + one aggregation. */
  def seedPieces(census: DataFrame, seedSize: Int, maxPieceLen: Int): DataFrame = {
    val freqs = census.select(col("word"), col("wc"))
      .as(Encoders.product[(String, Long)])
      .flatMap { case (w, wc) =>
        for {
          len <- 1 to math.min(maxPieceLen, w.length)
          start <- 0 to w.length - len
        } yield (w.substring(start, start + len), wc)
      }(Encoders.product[(String, Long)])
      .toDF("piece", "f")
      .groupBy(col("piece")).agg(sum(col("f")).as("freq"))
    val chars = freqs.filter(length(col("piece")) === 1)
    val nChars = chars.count()
    val multi = freqs.filter(length(col("piece")) > 1)
      .orderBy(desc("freq"), asc("piece"))
      .limit(math.max(0, seedSize - nChars.toInt))
    chars.unionByName(multi)
  }

  /** Fit the unigram vocabulary: seed, then `emRounds` of Viterbi
    * E-step (exact integer piece counts over the census) + closed-form
    * M-step (p = cnt / total). Zero-count pieces drop each round.
    * Returns the final piece table ordered (cnt desc, piece asc). */
  def train(docs: DataFrame, seedSize: Int = 48, maxPieceLen: Int = 4,
            emRounds: Int = 3, textCol: String = "text"): Seq[Piece] = {
    require(seedSize >= 1 && maxPieceLen >= 1 && emRounds >= 1)
    val spark = docs.sparkSession
    val census = Iterate.pin(
      Bpe.wordCounts(docs, textCol))
    val seed = seedPieces(census, seedSize, maxPieceLen)
      .select(col("piece"), col("freq")).as(Encoders.product[(String, Long)])
      .collect() // vocab metadata: seedSize rows, the broadcast-model shape
    var logp: Map[String, Double] = {
      val total = seed.map(_._2).sum.toDouble
      seed.map { case (p, f) =>
        p -> quantizeLogProb(math.log(f.toDouble) - math.log(total))
      }.toMap
    }
    var counts: Seq[(String, Long)] = Seq.empty
    for (_ <- 1 to emRounds) {
      counts = eStep(census, logp, maxPieceLen)
      logp = mStep(counts)
    }
    counts.map { case (p, c) => Piece(p, c, logp(p)) }
      .sortBy(pc => (-pc.cnt, pc.piece))
  }

  /** Hard-EM E-step: Viterbi piece counts over the census (one
    * census-sized flatMap + map-side-combined aggregation; the collect
    * is vocab-sized model metadata, the justified-collect class). */
  private def eStep(census: DataFrame, logp: Map[String, Double],
                    maxPieceLen: Int): Seq[(String, Long)] = {
    val bc = census.sparkSession.sparkContext.broadcast((logp, maxPieceLen))
    census.select(col("word"), col("wc"))
      .as(Encoders.product[(String, Long)])
      .flatMap { case (w, wc) =>
        segmentWord(w, bc.value._1, bc.value._2).map(p => (p, wc))
      }(Encoders.product[(String, Long)])
      .toDF("piece", "c")
      .groupBy(col("piece")).agg(sum(col("c")).as("cnt"))
      .as(Encoders.product[(String, Long)])
      .collect().toSeq
  }

  /** Closed-form M-step: p = cnt / total, quantized to the 1e-6 grid. */
  private def mStep(counts: Seq[(String, Long)]): Map[String, Double] = {
    val total = counts.map(_._2).sum.toDouble
    counts.map { case (p, c) =>
      p -> quantizeLogProb(math.log(c.toDouble) - math.log(total))
    }.toMap
  }

  /** SentencePiece's prune-to-target schedule (Kudo 2018 §3.2:
    * over-seed, EM, repeatedly discard the worst fraction until the
    * target vocabulary size) under this module's determinism
    * simplifications: the prune metric is the hard-EM piece COUNT
    * (exact integer — the likelihood-loss ranking's deterministic
    * stand-in, consistent with [[train]]'s "drop what the E-step
    * stopped using"), ties break lexicographically, and single
    * characters never prune (coverage: any string must still encode).
    * Each prune round is one census-shaped E-step + a driver-side sort
    * of the vocab-sized count table; rounds to target =
    * O(log(seed/target) / log(1/(1−pruneFrac))) + `finalRounds` EM
    * polish passes — driver trips stay logarithmic in the seed/target
    * ratio, never linear in vocabulary (the batched merge-learning
    * lesson of [[MergeLearner]] applied to pruning). */
  def trainPruned(docs: DataFrame, targetSize: Int, seedSize: Int = 256,
                  maxPieceLen: Int = 4, pruneFrac: Double = 0.2,
                  finalRounds: Int = 2, textCol: String = "text"): Seq[Piece] = {
    require(targetSize >= 1 && seedSize > targetSize,
      s"need seedSize ($seedSize) > targetSize ($targetSize)")
    require(pruneFrac > 0.0 && pruneFrac < 1.0, s"pruneFrac in (0,1), got $pruneFrac")
    require(finalRounds >= 1)
    val census = Iterate.pin(
      Bpe.wordCounts(docs, textCol))
    val seed = seedPieces(census, seedSize, maxPieceLen)
      .select(col("piece"), col("freq")).as(Encoders.product[(String, Long)])
      .collect().toSeq // vocab metadata, the broadcast-model shape
    // the coverage set: every single char of the corpus must survive to
    // the final vocabulary even when longer pieces absorb all its
    // occurrences (a Viterbi count of 0) — re-enter it at a floor count
    // of 1 (deterministic, the SentencePiece required-chars discipline)
    val charSet = seed.collect { case (p, _) if p.length == 1 => p }.toSet
    // prune-to-target is a promise: the coverage chars are unprunable,
    // so a target below |charSet| is unsatisfiable — fail fast instead
    // of silently returning an oversized vocabulary (ADVICE r9)
    require(targetSize >= charSet.size,
      s"targetSize ($targetSize) < single-char coverage set (${charSet.size}): " +
        "every corpus character must survive pruning, so this target is unreachable")
    def withCharFloor(cs: Seq[(String, Long)]): Seq[(String, Long)] = {
      val present = cs.map(_._1).toSet
      cs ++ charSet.diff(present).toSeq.sorted.map(_ -> 1L)
    }
    var logp = mStep(seed)
    var counts = seed
    var guard = 0
    while (counts.size > targetSize && guard < 64) {
      counts = withCharFloor(eStep(census, logp, maxPieceLen))
      if (counts.size > targetSize) {
        val (chars, multi) = counts.partition(_._1.length == 1)
        val nDrop = math.min(
          math.max(1, math.ceil(multi.size * pruneFrac).toInt),
          counts.size - targetSize)
        val kept = multi.sortBy { case (p, c) => (c, p) }.drop(nDrop)
        counts = chars ++ kept
      }
      logp = mStep(counts)
      guard += 1
    }
    // the guard exists to bound a pathological schedule, not to change
    // the contract: exiting oversize is an error, not a silent result
    if (counts.size > targetSize)
      throw new IllegalStateException(
        s"trainPruned guard tripped after $guard rounds with ${counts.size} pieces " +
          s"(target $targetSize); raise pruneFrac or seed smaller")
    for (_ <- 1 to finalRounds) {
      counts = withCharFloor(eStep(census, logp, maxPieceLen))
      logp = mStep(counts)
    }
    counts.map { case (p, c) => Piece(p, c, logp(p)) }
      .sortBy(pc => (-pc.cnt, pc.piece))
  }

  /** Per-doc piece census under a trained vocabulary — the same
    * distinct-word join-back as [[Bpe.encodedTokenCounts]]: DISTINCT
    * words segment once (Viterbi, vocabulary-sized work), the corpus
    * joins back on the word, one per-doc aggregation. Output:
    * (id, n_words, n_pieces, ratio). */
  def encodedPieceCounts(docs: DataFrame, vocab: Seq[Piece],
                         maxPieceLen: Int = 4,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val logp = vocab.map(p => p.piece -> p.logprob).toMap
    val words = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
    val distinctWords = words.select(col("word")).distinct()
      .withColumn("n_p",
        graft.functions.expressions.EncodeLen.unigram(
          docs.sparkSession, col("word"), logp, maxPieceLen))
    words.join(distinctWords, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_p")).as("n_pieces"))
      .withColumn("ratio",
        round(col("n_pieces").cast("double") / col("n_words").cast("double"), 6))
  }
}

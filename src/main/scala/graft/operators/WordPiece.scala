package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed WordPiece tokenizer training (Schuster & Nakajima 2012;
  * the BERT vocabulary learner) — the likelihood-scored member of the
  * tokenizer triad next to frequency-scored BPE ([[Bpe]]) and the
  * Unigram-LM pruner ([[Unigram]]).
  *
  * WordPiece differs from BPE in exactly one decision: the pair chosen
  * each round maximizes the LIKELIHOOD GAIN of a unigram LM over the
  * current segmentation, score(a,b) = count(ab) / (count(a)·count(b)),
  * instead of the raw pair count. A frequent-but-predictable bigram
  * (high count, but both sides ubiquitous) loses to a rarer pair whose
  * parts only ever occur together — the "##est" kind of suffix fuses
  * early even though "e t" might out-count it.
  *
  * Scale shape: identical to [[Bpe.train]] — training iterates over
  * the distinct-WORD census (the corpus is read once), each round is
  * one pair-count aggregation + one symbol-count aggregation (both
  * map-side-combined over the vocabulary-sized table; the symbol table
  * is tiny and broadcasts into the score join) + a batch-sized argmax
  * collect (merge metadata, the justified-collect class). Lineage
  * truncates on the [[MergeLearner]] cadence.
  *
  * Determinism: score = c / (lc·rc) computed as IEEE double division
  * of exact integer counts — bit-identical cross-engine (the qe05
  * unrounded-quotient discipline; both operands are exact BIGINTs, the
  * product and quotient round identically under IEEE 754 in any
  * engine). Ties break lexicographically on (left, right), so the
  * vocabulary is a pure function of the corpus.
  *
  * Symbol convention (BERT): a word's first character is bare, every
  * continuation character carries the `##` prefix; merging (a, ##b)
  * yields `a` + `b` with the continuation prefix of the RIGHT side
  * stripped (`h` + `##e` → `he`, `##l` + `##l` → `##ll`), so a
  * symbol's prefix always states whether it starts a word.
  */
object WordPiece {

  /** Continuation prefix marking a non-word-initial subword. */
  val ContPrefix = "##"

  final case class Merge(rank: Int, left: String, right: String,
                         pairCount: Long, leftCount: Long, rightCount: Long) {
    def merged: String = WordPiece.merged(left, right)
    /** Likelihood-gain score — IEEE double over exact integer counts. */
    def score: Double = pairCount.toDouble / (leftCount.toDouble * rightCount.toDouble)
  }

  /** The fused spelling: right side loses its continuation prefix. */
  def merged(left: String, right: String): String =
    left + (if (right.startsWith(ContPrefix)) right.substring(ContPrefix.length) else right)

  /** word → [c₁, ##c₂, …, ##cₙ] (no end-of-word sentinel — word
    * position is carried by the prefix instead). */
  private def initialSymbols(word: Column): Column =
    transform(sequence(lit(1), length(word)),
      i => when(i === 1, word.substr(i, lit(1)))
        .otherwise(concat(lit(ContPrefix), word.substr(i, lit(1)))))

  /** Corpus-weighted occurrence count of every live symbol. */
  private[operators] def symbolCounts(syms: DataFrame): DataFrame =
    syms.select(col("wc"), explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("wc")).as("sc"))

  /** Learn up to `numMerges` likelihood-scored merges, up to
    * `batchSize` per scored census — the [[Bpe.train]] twin on the
    * shared [[MergeLearner]] (batching, over-fetch, deviation
    * contract). Returns the rank-ordered merge table and the final
    * (word, wc, syms) census. `batchSize = 1` is strict WordPiece
    * (qt38); larger batches are the production-vocab path (qt42) — a
    * realistic 30k-piece BERT vocabulary would otherwise serialize
    * into 30k Spark jobs. */
  def train(docs: DataFrame, numMerges: Int, textCol: String = "text",
            batchSize: Int = 1,
            onRound: (Int, Int, Double) => Unit = (_, _, _) => (),
            overFetch: Int = 2): (Seq[Merge], DataFrame) =
    MergeLearner.train(
      Bpe.wordCounts(docs, textCol)
        .select(col("word"), col("wc"), initialSymbols(col("word")).as("syms")),
      numMerges, batchSize, onRound, overFetch, ranked, merged)

  /** The pair census scored by likelihood gain, ranked by (score desc,
    * l, r): the top `n` pairs. The symbol table is tiny and broadcasts
    * into the score join. */
  private def ranked(syms: DataFrame, n: Int): Seq[MergeLearner.Candidate[Merge]] = {
    val sc = symbolCounts(syms)
    Bpe.pairCounts(syms)
      .join(broadcast(sc.select(col("sym").as("l"), col("sc").as("lc"))), "l")
      .join(broadcast(sc.select(col("sym").as("r"), col("sc").as("rc"))), "r")
      .withColumn("score",
        col("c").cast("double") / (col("lc").cast("double") * col("rc").cast("double")))
      .orderBy(desc("score"), asc("l"), asc("r"))
      .limit(n).select("l", "r", "c", "lc", "rc").collect().toSeq
      .map { x =>
        val (l, r) = (x.getString(0), x.getString(1))
        (l, r, Merge(_, l, r, x.getLong(2), x.getLong(3), x.getLong(4)))
      }
  }

  /** Encode one word by replaying the merges in rank order —
    * bit-equivalent to what training did to that word (spec-pinned;
    * the [[Bpe.encodeWord]] twin). */
  def encodeWord(word: String, merges: Seq[Merge]): Vector[String] =
    merges.sortBy(_.rank).foldLeft(initialVector(word)) {
      case (s, m) => Bpe.greedyMergePassTo(s, m.left, m.right, m.merged)
    }

  private def initialVector(word: String): Vector[String] =
    word.iterator.zipWithIndex
      .map { case (c, i) => if (i == 0) c.toString else ContPrefix + c }
      .toVector

  /** BERT runtime encoding: greedy LONGEST-MATCH-FIRST against the
    * closed vocabulary (word-initial pieces bare, continuations
    * `##`-prefixed); a word with any unmatchable position collapses to
    * `unk`. This is the algorithm inference stacks ship — it needs only
    * the final vocab SET, not the merge order, and may segment a word
    * differently than the training replay (spec shows the divergence
    * case); use [[encodeWord]] when training/encoding parity matters. */
  def encodeWordLongestMatch(word: String, vocab: Set[String],
                             unk: String = "[UNK]"): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0
    while (start < word.length) {
      var end = word.length
      var piece: String = null
      while (end > start && piece == null) {
        val raw = word.substring(start, end)
        val cand = if (start == 0) raw else ContPrefix + raw
        if (vocab.contains(cand)) piece = cand else end -= 1
      }
      if (piece == null) return Vector(unk)
      out += piece
      start = end
    }
    out.result()
  }

  /** Per-doc subword census under a learned vocabulary — the
    * [[Bpe.encodedTokenCounts]] shape: distinct words encoded once
    * (replay mode, training parity), joined back, one per-doc agg. */
  def encodedTokenCounts(docs: DataFrame, merges: Seq[Merge],
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val ms = merges.sortBy(_.rank)
    val words = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = words.select(col("word")).distinct()
      .withColumn("n_sub",
        graft.functions.expressions.EncodeLen.wordPiece(docs.sparkSession, col("word"), ms))
    words.join(vocab, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
      .withColumn("ratio",
        round(col("n_subwords").cast("double") / col("n_words").cast("double"), 6))
  }
}

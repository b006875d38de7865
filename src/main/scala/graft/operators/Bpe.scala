package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding — learning a subword vocabulary from
  * the corpus itself (Sennrich et al. 2016), the tokenizer-training
  * step of an LLM data pipeline.
  *
  * Scale shape: training never iterates over the CORPUS — it iterates
  * over the distinct-WORD census (vocabulary-sized: the corpus is read
  * exactly once to build `(word, count)`, after which 100 TB of text
  * is out of the picture). Each merge round is one map-side-combined
  * pair-count aggregation over the words table plus a batch-sized
  * argmax collect (merge metadata, the justified-collect class), and
  * the symbol rewrite is one per-word pass. Lineage is truncated every
  * [[MergeLearner.PinEvery]] rounds ([[Iterate.pin]] — the
  * LogicalRDD compounding lesson), so round K plans like round 1.
  *
  * Encoding follows the same census discipline: DISTINCT words are
  * encoded once (a vocabulary-sized table, per-word imperative merge
  * loop — one of the rare genuinely-imperative shapes, so a Scala
  * function over the census, never over the corpus) and joined back;
  * per-doc token counts are then one aggregation.
  *
  * Determinism: ties on pair count break lexicographically (smallest
  * (left, right) wins), so the learned vocabulary is a pure function
  * of the corpus — same merges on any partitioning, any cluster.
  */
object Bpe {

  /** End-of-word sentinel appended to every word's symbol sequence —
    * merges learned across word boundaries stay impossible, and a
    * token ending in it is a word-final subword (Sennrich's `</w>`). */
  val EndOfWord = "</w>"

  final case class Merge(rank: Int, left: String, right: String, pairCount: Long) {
    def merged: String = left + right
  }

  /** One pass over the corpus: whitespace word census. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))

  /** word → [c, h, a, r, s, </w>] */
  private def initialSymbols(word: Column): Column =
    concat(
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
      array(lit(EndOfWord)))

  /** Adjacent symbol pairs of each word, weighted by word count. */
  private[operators] def pairCounts(syms: DataFrame): DataFrame =
    syms.select(col("wc"),
        explode(
          when(size(col("syms")) >= 2,
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("l"),
                          element_at(col("syms"), i + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wc")).as("c"))

  /** Learn up to `numMerges` merges, up to `batchSize` per pair census
    * ([[MergeLearner]]: batching, over-fetch and the deviation
    * contract). Returns the merge table (rank order) and the final
    * per-word symbol table (word, wc, syms) — useful to continue
    * training or to audit segmentations. `batchSize = 1` is strict
    * BPE: one pair-count job + one driver argmax per merge, correct
    * and oracle-able (qt26) but 32k Spark jobs for a realistic 32k-merge
    * vocabulary; larger batches are the production-vocab path (qt43). */
  def train(docs: DataFrame, numMerges: Int, textCol: String = "text",
            batchSize: Int = 1,
            onRound: (Int, Int, Double) => Unit = (_, _, _) => (),
            overFetch: Int = 2): (Seq[Merge], DataFrame) =
    MergeLearner.train(
      wordCounts(docs, textCol)
        .select(col("word"), col("wc"), initialSymbols(col("word")).as("syms")),
      numMerges, batchSize, onRound, overFetch, ranked, _ + _)

  /** The pair census ranked by (count desc, l, r): the top `n` pairs. */
  private def ranked(syms: DataFrame, n: Int): Seq[MergeLearner.Candidate[Merge]] =
    pairCounts(syms)
      .orderBy(desc("c"), asc("l"), asc("r"))
      .limit(n).collect().toSeq
      .map { x =>
        val (l, r, c) = (x.getString(0), x.getString(1), x.getLong(2))
        (l, r, Merge(_, l, r, c))
      }

  /** One greedy left-to-right merge pass over a symbol sequence — the
    * exact rewrite classic BPE applies: scan left to right, fusing
    * (a,b) wherever the surviving left neighbor is `a` (shared by
    * encodeWord and the training rewrite). */
  private[operators] def greedyMergePass(s: Vector[String], a: String, b: String): Vector[String] =
    greedyMergePassTo(s, a, b, a + b)

  /** [[greedyMergePass]] with an explicit merged-symbol spelling —
    * WordPiece merges strip the `##` continuation prefix off the right
    * side, so the fused symbol is not always the plain concatenation. */
  private[operators] def greedyMergePassTo(s: Vector[String], a: String, b: String,
                                           m: String): Vector[String] = {
    if (s.length < 2 || !s.contains(a)) s
    else {
      val out = Vector.newBuilder[String]
      var last: String = null
      var first = true
      s.foreach { x =>
        if (!first && last == a && x == b) last = m
        else { if (!first) out += last; last = x; first = false }
      }
      out += last
      out.result()
    }
  }

  /** Encode one word by applying merges in rank order — bit-equivalent
    * to what training did to that word (spec-pinned). Imperative on
    * purpose: this runs per DISTINCT word, never per corpus row. */
  def encodeWord(word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector :+ EndOfWord) {
      case (s, (a, b)) => greedyMergePass(s, a, b)
    }

  /** Per-doc subword census under a learned vocabulary: distinct words
    * are encoded once and joined back (shuffle keyed on the word — the
    * vocabulary-discipline join; broadcast instead if the vocab side is
    * known-small), then one per-doc aggregation. Output:
    * (id, n_words, n_subwords, ratio = subwords per word). */
  def encodedTokenCounts(docs: DataFrame, merges: Seq[Merge],
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val pairs = merges.sortBy(_.rank).map(m => (m.left, m.right))
    val words = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = words.select(col("word")).distinct()
      .withColumn("n_sub",
        graft.functions.expressions.EncodeLen.bpe(docs.sparkSession, col("word"), pairs))
    words.join(vocab, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
      .withColumn("ratio",
        round(col("n_subwords").cast("double") / col("n_words").cast("double"), 6))
  }
}

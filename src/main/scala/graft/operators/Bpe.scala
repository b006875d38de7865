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
  * pair-count aggregation over the words table plus a 1-row argmax
  * collect (merge metadata, the justified-collect class), and the
  * symbol rewrite is a pure per-row expression. Lineage is truncated
  * every round (`checkpointTruncated` — the LogicalRDD compounding
  * lesson), so round K plans like round 1.
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

  /** Greedy left-to-right merge of one adjacent pair inside a symbol
    * sequence — the exact rewrite classic BPE applies: scan left to
    * right, fusing (a,b) wherever the surviving left neighbor is `a`.
    * `try_element_at` keeps the empty-accumulator probe NULL-safe
    * under ANSI. */
  private[operators] def mergeOnce(syms: Column, a: String, b: String): Column =
    mergeOnceTo(syms, a, b, a + b)

  /** [[mergeOnce]] with an explicit merged-symbol spelling — WordPiece
    * merges strip the `##` continuation prefix off the right side, so
    * the fused symbol is not always the plain concatenation. */
  private[operators] def mergeOnceTo(syms: Column, a: String, b: String, merged: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(try_element_at(acc, lit(-1)) === a && x === b,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(x))))

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

  /** Learn up to `numMerges` merges. Returns the merge table (rank
    * order) and the final per-word symbol table (word, wc, syms) —
    * useful to continue training or to audit segmentations.
    *
    * `checkpointEvery` trades per-round job latency against recompute:
    * between checkpoints the symbol table is a stack of ≤ that many
    * cheap rewrite projections over the last materialization (each
    * round's pair-count job re-runs them on the vocabulary-sized
    * table), while every checkpoint is a full materialization. 4 wins
    * at every scale tried; 1 recovers the checkpoint-per-round shape. */
  def train(docs: DataFrame, numMerges: Int, textCol: String = "text",
            checkpointEvery: Int = 4): (Seq[Merge], DataFrame) = {
    require(numMerges > 0 && checkpointEvery > 0)
    var syms = ConnectedComponents.checkpointTruncated(
      wordCounts(docs, textCol)
        .select(col("word"), col("wc"), initialSymbols(col("word")).as("syms")))
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val top = pairCounts(syms)
        .orderBy(desc("c"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(rank, l, r, c)
        syms = syms.withColumn("syms", mergeOnce(col("syms"), l, r))
        rank += 1
        if (rank % checkpointEvery == 0)
          syms = ConnectedComponents.checkpointTruncated(syms)
      }
    }
    (merges.result(), syms)
  }

  /** Batched merge learning — the production-vocab path. Strict BPE
    * ([[train]]) needs one pair-count job + one driver argmax PER
    * MERGE: correct, oracle-able, and fine at numMerges=8, but a
    * realistic 32k-merge vocabulary would serialize into 32k Spark
    * jobs. This mode learns up to `batchSize` merges per round from a
    * single pair census: the top pairs by (count desc, l, r) are
    * greedily selected subject to SYMBOL-DISJOINTNESS — no symbol
    * (including each newly-merged one) may participate in two selected
    * pairs — and all selected merges are applied in one rewrite pass.
    *
    * Deviation contract: merging (a,b) only changes counts of pairs
    * that touch a or b, so a symbol-disjoint batch applies each merge
    * to exactly the pair population strict BPE would have seen; the
    * two vocabularies can differ only when a pair CREATED by an
    * earlier merge in the batch (x,ab)/(ab,y) would have out-ranked a
    * later selection. batchSize=1 recovers strict BPE bit-for-bit
    * (spec-pinned), and the equivalence on non-interacting corpora is
    * spec-pinned too.
    *
    * Scale shape: driver round-trips drop from numMerges to
    * ceil(numMerges/batchSize); each round is still one map-side-
    * combined census aggregation + a batchSize-row collect (merge
    * metadata, the justified-collect class). The batch rewrite runs
    * per DISTINCT word as one imperative pass (the encodeWord shape),
    * not batchSize stacked HOF folds. */
  def trainBatched(docs: DataFrame, numMerges: Int, textCol: String = "text",
                   batchSize: Int = 64, checkpointEvery: Int = 4,
                   onRound: (Int, Int, Double) => Unit = (_, _, _) => (),
                   overFetch: Int = 2): (Seq[Merge], DataFrame) = {
    require(numMerges > 0 && batchSize > 0 && checkpointEvery > 0 && overFetch >= 1)
    val spark = docs.sparkSession
    var syms = ConnectedComponents.checkpointTruncated(
      wordCounts(docs, textCol)
        .select(col("word"), col("wc"), initialSymbols(col("word")).as("syms")))
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var round = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val t0 = System.nanoTime()
      // over-fetch window (default 2x — the qt43 oracle pins this
      // exact width): disjointness filtering drops some candidates.
      // The natural-alphabet vocabulary run (NOTES_r12) showed the
      // WINDOW, not the alphabet, throttles tie-heavy regimes — ties sort
      // lexicographically by l, so same-l runs crowd a narrow window
      // and the disjoint filter starves (measured: 2,956 rounds at
      // overFetch=2 vs 218 at 16 on a 537-char corpus, 7.7x faster).
      // WITHIN one round a wider window selects a longer prefix of the
      // same (count desc, l, r) total order — but ACROSS rounds the
      // widths DIVERGE (BpeOverFetchSpec pins a witness): a narrow
      // window applies fewer merges per round, recounts earlier, and
      // pairs CREATED by the applied merges can outrank candidates the
      // wide window had already taken in the same census. overFetch is
      // therefore part of the learned tokenizer's IDENTITY, not a pure
      // throughput knob: pick it up front, keep it for the vocabulary's
      // lifetime, and never expect two widths to reproduce each other.
      val want = math.min(batchSize, numMerges - rank)
      val top = pairCounts(syms)
        .orderBy(desc("c"), asc("l"), asc("r"))
        .limit(want * overFetch).collect()
      if (top.isEmpty) exhausted = true
      else {
        val selected = selectDisjoint(
          top.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2))),
          want, rankBase = rank)
        merges ++= selected
        rank += selected.size
        val pairs = selected.map(m => (m.left, m.right))
        val bc = spark.sparkContext.broadcast(pairs)
        val rewrite = udf { (s: Seq[String]) =>
          // presence skip: a batch op references only PRE-batch symbols
          // (disjointness claims each merged spelling), and disjoint
          // merges never add instances of other ops' symbols — so
          // testing against the word's original symbol set is exact,
          // and a word missing l or r takes an O(1) skip instead of a
          // full greedyMergePass. At batchSize ~1k this is the
          // difference between O(batch) lookups and O(batch x |word|)
          // scans per word.
          val present = s.toSet
          bc.value.foldLeft(s.toVector)((acc, p) =>
            if (present(p._1) && present(p._2)) greedyMergePass(acc, p._1, p._2) else acc)
        }
        syms = syms.withColumn("syms", rewrite(col("syms")))
        round += 1
        if (round % checkpointEvery == 0)
          syms = ConnectedComponents.checkpointTruncated(syms)
        onRound(round, rank, (System.nanoTime() - t0) / 1e9)
      }
    }
    (merges.result(), syms)
  }

  /** Greedy symbol-disjoint selection from one census's ranked pair
    * list: a pair is taken iff none of (left, right, merged) was
    * already claimed by an earlier selection — including earlier
    * MERGED symbols, so no pair in the batch can reference a symbol
    * that only exists after the batch's own rewrite. Pure function,
    * spec-pinned directly. */
  private[operators] def selectDisjoint(ranked: Seq[(String, String, Long)],
                                        want: Int, rankBase: Int): Seq[Merge] = {
    val used = scala.collection.mutable.Set[String]()
    val batch = Seq.newBuilder[Merge]
    var n = 0
    ranked.foreach { case (l, r, c) =>
      if (n < want && !used(l) && !used(r) && !used(l + r)) {
        batch += Merge(rankBase + n, l, r, c)
        used ++= Seq(l, r, l + r)
        n += 1
      }
    }
    batch.result()
  }

  /** One greedy left-to-right merge pass over a symbol sequence — the
    * imperative twin of [[mergeOnce]]'s HOF fold (shared by encodeWord
    * and the batched-training rewrite). */
  private[operators] def greedyMergePass(s: Vector[String], a: String, b: String): Vector[String] =
    greedyMergePassTo(s, a, b, a + b)

  /** [[greedyMergePass]] with an explicit merged-symbol spelling (the
    * [[mergeOnceTo]] twin, for WordPiece's `##`-stripped fusions). */
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

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The merge-learning loop [[Bpe.train]] and [[WordPiece.train]] share.
  * The two tokenizers differ in exactly two decisions, passed in: the
  * ranked census (BPE ranks pairs by raw count, WordPiece by the
  * likelihood score) and the fused spelling (`l + r`, or `l` + `r`
  * without its `##` prefix). Everything else — batching, disjointness,
  * the rewrite, the pin cadence — is one loop.
  *
  * Each round learns up to `batchSize` merges from a single census:
  * the top pairs of the ranking are greedily selected subject to
  * SYMBOL-DISJOINTNESS — no symbol (left, right, or a selected pair's
  * fused spelling) may participate in two selected pairs — and all
  * selected merges are applied in one rewrite pass. `batchSize = 1`
  * is strict merge learning: one census, one argmax, one merge per
  * round (qt26/qt38, whose DuckDB unrolled-CTE oracles replay it).
  *
  * Deviation contract: merging (a,b) only changes the counts of pairs
  * that touch a or b, and only the symbol counts of a, b and ab — so
  * for a symbol-disjoint pair (x,y), count(x,y), count(x) and count(y)
  * are all untouched, and both its raw count and its likelihood score
  * are exactly what strict learning would compute after the earlier
  * merges of the batch. The vocabularies can differ only when a pair
  * CREATED by an earlier merge in the batch (x,ab)/(ab,y) would have
  * out-ranked a later selection (spec-pinned: equality on
  * non-interacting corpora).
  *
  * Over-fetch: a round collects the top `want · overFetch` pairs
  * (default 2x — the qt42/qt43 oracles pin this exact width), since
  * disjointness filtering drops some. The natural-alphabet vocabulary
  * run (NOTES_r12) showed the WINDOW, not the alphabet, throttles
  * tie-heavy regimes — ties sort lexicographically by l, so same-l runs
  * crowd a narrow window and the disjoint filter starves (measured:
  * 2,956 rounds at overFetch=2 vs 218 at 16 on a 537-char corpus, 7.7x
  * faster). WITHIN one round a wider window selects a longer prefix of
  * the same total order — but ACROSS rounds the widths DIVERGE
  * (BpeOverFetchSpec pins a witness): a narrow window applies fewer
  * merges per round, recounts earlier, and pairs CREATED by the applied
  * merges can outrank candidates the wide window had already taken in
  * the same census. overFetch is therefore part of the learned
  * tokenizer's IDENTITY, not a pure throughput knob: pick it up front,
  * keep it for the vocabulary's lifetime, and never expect two widths
  * to reproduce each other.
  *
  * Scale shape: training iterates over the distinct-WORD census, never
  * the corpus. Driver round-trips are ceil(numMerges / batchSize); each
  * round is the census aggregation(s), map-side-combined over the
  * vocabulary-sized table, plus a `want · overFetch`-row collect (merge
  * metadata, the justified-collect class). The batch rewrite runs per
  * DISTINCT word as one imperative pass (the encodeWord shape), not
  * batchSize stacked HOF folds.
  */
private[operators] object MergeLearner {

  /** One ranked census row awaiting its rank: (left, right, the merge
    * it becomes at a given rank). */
  type Candidate[M] = (String, String, Int => M)

  /** Rounds between pins of the symbol table. Between pins the table
    * is a stack of ≤ this many cheap rewrite projections over the last
    * materialization (each round's census re-runs them on the
    * vocabulary-sized table), while every pin is a full
    * materialization. 4 wins at every scale tried; 1 is the
    * pin-per-round shape. */
  val PinEvery = 4

  /** Learns up to `numMerges` merges over `syms0` (word, wc, syms).
    * `ranked(syms, n)` returns the census's top `n` pairs in rank
    * order; `spell(l, r)` is the fused symbol. Returns the merges in
    * rank order and the final symbol table. `onRound(round, merges so
    * far, seconds)` observes each round. */
  def train[M](syms0: DataFrame, numMerges: Int, batchSize: Int,
               onRound: (Int, Int, Double) => Unit, overFetch: Int,
               ranked: (DataFrame, Int) => Seq[Candidate[M]],
               spell: (String, String) => String): (Seq[M], DataFrame) = {
    require(numMerges > 0 && batchSize > 0 && overFetch >= 1)
    val spark = syms0.sparkSession
    var syms = Iterate.pin(syms0)
    val merges = Seq.newBuilder[M]
    var rank = 0
    var round = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val t0 = System.nanoTime()
      val want = math.min(batchSize, numMerges - rank)
      val top = ranked(syms, want * overFetch)
      if (top.isEmpty) exhausted = true
      else {
        val selected = selectDisjoint(top, want, rank, spell)
        merges ++= selected.map(_._3)
        rank += selected.size
        val ops = selected.map { case (l, r, _) => (l, r, spell(l, r)) }
        val bc = spark.sparkContext.broadcast(ops)
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
            if (present(p._1) && present(p._2)) Bpe.greedyMergePassTo(acc, p._1, p._2, p._3)
            else acc)
        }
        syms = syms.withColumn("syms", rewrite(col("syms")))
        round += 1
        if (round % PinEvery == 0) syms = Iterate.pin(syms)
        onRound(round, rank, (System.nanoTime() - t0) / 1e9)
      }
    }
    (merges.result(), syms)
  }

  /** Greedy symbol-disjoint selection from one census's ranked pairs: a
    * pair is taken iff none of (left, right, fused spelling) was
    * already claimed by an earlier selection — including earlier FUSED
    * symbols, so no pair in the batch can reference a symbol that only
    * exists after the batch's own rewrite. Selected pairs take ranks
    * `rankBase`, `rankBase + 1`, … in ranking order. Pure function,
    * spec-pinned directly. */
  def selectDisjoint[M](ranked: Seq[Candidate[M]], want: Int, rankBase: Int,
                        spell: (String, String) => String): Seq[(String, String, M)] = {
    val used = scala.collection.mutable.Set[String]()
    val batch = Seq.newBuilder[(String, String, M)]
    var n = 0
    ranked.foreach { case (l, r, at) =>
      val m = spell(l, r)
      if (n < want && !used(l) && !used(r) && !used(m)) {
        batch += ((l, r, at(rankBase + n)))
        used ++= Seq(l, r, m)
        n += 1
      }
    }
    batch.result()
  }
}

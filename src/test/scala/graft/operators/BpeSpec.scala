package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class BpeSpec extends SparkTestBase {

  import spark.implicits._

  private val E = Bpe.EndOfWord

  // words: aab×4, ab×2, b×2 — merge order is hand-computable:
  //   (b,</w>):8 → (a,b</w>):6 → (a,ab</w>):4 → exhausted
  private def corpus = Seq(
    (1L, "aab aab aab"),
    (2L, "aab ab ab"),
    (3L, "b b")
  ).toDF("doc_id", "text")

  test("learns the hand-computed merge sequence and stops when exhausted") {
    val (merges, _) = Bpe.train(corpus, numMerges = 10)
    assert(merges.map(m => (m.left, m.right, m.pairCount)) === Seq(
      ("b", E, 8L), ("a", "b" + E, 6L), ("a", "ab" + E, 4L)))
    assert(merges.map(_.rank) === Seq(0, 1, 2))
  }

  test("final symbol table matches encodeWord on every training word") {
    val (merges, syms) = Bpe.train(corpus, numMerges = 10)
    val pairs = merges.map(m => (m.left, m.right))
    syms.collect().foreach { r =>
      val word = r.getAs[String]("word")
      assert(r.getAs[Seq[String]]("syms") === Bpe.encodeWord(word, pairs),
        s"segmentation mismatch for '$word'")
    }
  }

  test("ties break lexicographically (deterministic vocabulary)") {
    val docs = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val (merges, _) = Bpe.train(docs, numMerges = 1)
    assert(merges.head.left === "a" && merges.head.right === "b")
  }

  test("training is invariant to the input partitioning") {
    val (a, _) = Bpe.train(corpus, numMerges = 10)
    val (b, _) = Bpe.train(corpus.repartition(7), numMerges = 10)
    assert(a === b)
  }

  test("encodeWord: unseen words fall back to characters; concatenation restores the word") {
    val (merges, _) = Bpe.train(corpus, numMerges = 10)
    val pairs = merges.map(m => (m.left, m.right))
    assert(Bpe.encodeWord("zz", pairs) === Vector("z", "z", E))
    for (w <- Seq("aab", "ab", "b", "zz", "aabab")) {
      val enc = Bpe.encodeWord(w, pairs)
      assert(enc.mkString.replace(E, "") === w, s"lossy encoding of '$w': $enc")
    }
  }

  test("encodedTokenCounts: census join reproduces per-word encoding at doc level") {
    val (merges, _) = Bpe.train(corpus, numMerges = 10)
    val got = Bpe.encodedTokenCounts(corpus, merges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords"), r.getAs[Double]("ratio"))).toMap
    // every training word compresses to a single subword
    assert(got(1L) === ((3L, 3L, 1.0)))
    assert(got(2L) === ((3L, 3L, 1.0)))
    assert(got(3L) === ((2L, 2L, 1.0)))
  }

  test("batchSize=4 == batchSize=1 when the selected merges are non-interacting") {
    // two word families on disjoint alphabets with separated counts:
    //   "abab"×100 → (a,b):200 ... ; "cdcd"×90 → (c,d):180 ...
    // batched(1): (a,b):200, (c,d):180, (ab,</w>):100
    // batched(4): round 1 selects (a,b)+(c,d) — every other top pair
    // shares a symbol and is skipped — round 2 re-censuses and picks
    // (ab,</w>): identical vocabulary, 2 rounds instead of 3.
    val docs = (
      (1 to 100).map(i => (i.toLong, "abab")) ++
      (1 to 90).map(i => (1000L + i, "cdcd"))
    ).toDF("doc_id", "text")
    val (seq, _) = Bpe.train(docs, numMerges = 3)
    val (bat, _) = Bpe.train(docs, numMerges = 3, batchSize = 4)
    assert(seq.map(m => (m.left, m.right, m.pairCount)) === Seq(
      ("a", "b", 200L), ("c", "d", 180L), ("ab", E, 100L)))
    assert(bat === seq)
  }

  test("selectDisjoint: order-preserving, symbol-disjoint, merged symbols claimed") {
    val ranked = Seq(
      ("a", "b", 100L),   // take (rank 0)
      ("b", "c", 90L),    // skip: shares b
      ("a", "x", 85L),    // skip: shares a
      ("c", "d", 80L),    // take (rank 1)
      ("ab", "z", 70L),   // skip: 'ab' is rank-0's merged symbol
      ("e", "f", 60L),    // take (rank 2)
      ("g", "h", 50L))    // capped by want=3
    val got = MergeLearner.selectDisjoint(
      ranked.map { case (l, r, c) => (l, r, Bpe.Merge(_: Int, l, r, c)) },
      want = 3, rankBase = 5, spell = _ + _).map(_._3)
    assert(got.map(m => (m.left, m.right, m.pairCount)) ===
      Seq(("a", "b", 100L), ("c", "d", 80L), ("e", "f", 60L)))
    assert(got.map(_.rank) === Seq(5, 6, 7))
  }

  test("vocabulary compresses the real corpus below character segmentation") {
    val docs = graft.Tables(spark, sf0001).documents
    val (merges, _) = Bpe.train(docs, numMerges = 8)
    assert(merges.size === 8)
    // pair counts are non-increasing in rank (greedy argmax invariant
    // holds only weakly — later merges can create hot pairs — but the
    // FIRST merge must be the global max)
    assert(merges.head.pairCount === merges.map(_.pairCount).max)
    val enc = Bpe.encodedTokenCounts(docs, merges)
      .agg(sum($"n_subwords").as("s"), sum($"n_words").as("w")).head()
    val charBaseline = docs
      .select(explode(graft.functions.TextFunctions.tokens(lower($"text"))).as("word"))
      .filter(length($"word") > 0)
      .agg(sum(length($"word") + 1)).head().getLong(0) // +1: the </w> sentinel
    assert(enc.getLong(0) < charBaseline,
      s"8 merges should compress below the ${charBaseline}-symbol char baseline")
  }
}

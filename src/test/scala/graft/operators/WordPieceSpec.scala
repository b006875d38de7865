package graft.operators

import graft.SparkTestBase

class WordPieceSpec extends SparkTestBase {

  import spark.implicits._

  // word census: ab×6, az×4, xy×2. Initial symbols: ab→[a,##b],
  // az→[a,##z], xy→[x,##y]. Hand-computed likelihood trajectory:
  //   round 1: (a,##b) 6/(10·6)=0.1, (a,##z) 4/(10·4)=0.1,
  //            (x,##y) 2/(2·2)=0.5  → merges (x,##y) despite ⅓ the count
  //   round 2: (a,##b) 0.1 ties (a,##z) 0.1 → lex tie-break takes ##b
  //   round 3: a now only survives in az words (count 4), so
  //            (a,##z) 4/(4·4)=0.25 → az; no pairs remain → exhausted
  private def corpus = Seq(
    (1L, "ab ab ab az az xy"),
    (2L, "ab ab ab az az xy")
  ).toDF("doc_id", "text")

  test("learns the hand-computed likelihood-ranked merge sequence and stops when exhausted") {
    val (merges, _) = WordPiece.train(corpus, numMerges = 10)
    assert(merges.map(m => (m.left, m.right, m.merged, m.pairCount, m.leftCount, m.rightCount)) === Seq(
      ("x", "##y", "xy", 2L, 2L, 2L),
      ("a", "##b", "ab", 6L, 10L, 6L),
      ("a", "##z", "az", 4L, 4L, 4L)))
    assert(merges.map(_.rank) === Seq(0, 1, 2))
    assert(merges.map(_.score) === Seq(0.5, 0.1, 0.25))
  }

  test("likelihood beats frequency: the exclusive pair wins over a 3x-more-frequent one") {
    val (merges, _) = WordPiece.train(corpus, numMerges = 1)
    assert(merges.head.pairCount === 2L, "the count-6 pair should lose round 1")
    assert(merges.head.score === 0.5)
  }

  test("equal scores break lexicographically on (left, right)") {
    val (merges, _) = WordPiece.train(corpus, numMerges = 3)
    // round 2 sees (a,##b) and (a,##z) both at 0.1; ##b sorts before ##z
    assert(merges(1).right === "##b" && merges(2).right === "##z")
  }

  test("merged spelling strips the continuation prefix off the right side only") {
    assert(WordPiece.merged("h", "##e") === "he")
    assert(WordPiece.merged("##l", "##l") === "##ll")
    assert(WordPiece.merged("he", "##llo") === "hello")
  }

  test("final symbol table matches encodeWord replay on every training word") {
    val (merges, syms) = WordPiece.train(corpus, numMerges = 10)
    syms.collect().foreach { r =>
      val word = r.getAs[String]("word")
      assert(r.getAs[Seq[String]]("syms") === WordPiece.encodeWord(word, merges),
        s"segmentation mismatch for '$word'")
    }
  }

  test("training is invariant to the input partitioning") {
    val (a, _) = WordPiece.train(corpus, numMerges = 10)
    val (b, _) = WordPiece.train(corpus.repartition(7), numMerges = 10)
    assert(a === b)
  }

  test("encodeWord: unseen words fall back to prefixed characters; concat restores the word") {
    val (merges, _) = WordPiece.train(corpus, numMerges = 10)
    assert(WordPiece.encodeWord("zz", merges) === Vector("z", "##z"))
    for (w <- Seq("ab", "az", "xy", "zz", "abz", "ba")) {
      val enc = WordPiece.encodeWord(w, merges)
      assert(enc.mkString.replace(WordPiece.ContPrefix, "") === w, s"lossy encoding of '$w': $enc")
      enc.tail.foreach(s => assert(!s.isEmpty))
    }
  }

  test("longest-match encoding agrees with replay on training words, needs only the vocab set") {
    val (merges, _) = WordPiece.train(corpus, numMerges = 10)
    val vocab = Set("a", "##b", "##z", "x", "##y") ++ merges.map(_.merged)
    for (w <- Seq("ab", "az", "xy"))
      assert(WordPiece.encodeWordLongestMatch(w, vocab) === WordPiece.encodeWord(w, merges))
  }

  test("longest-match can diverge from merge replay (order-free vs rank-ordered)") {
    // merges learned continuation-first: rank 0 fuses (##b,##c)→##bc, so
    // replay of "abc" yields [a, ##bc]; longest-match over the closed
    // vocab takes the longest word-initial piece first → [ab, ##c]
    val merges = Seq(
      WordPiece.Merge(0, "##b", "##c", 1L, 1L, 1L),
      WordPiece.Merge(1, "a", "##b", 1L, 1L, 1L))
    val vocab = Set("a", "##b", "##c", "##bc", "ab")
    assert(WordPiece.encodeWord("abc", merges) === Vector("a", "##bc"))
    assert(WordPiece.encodeWordLongestMatch("abc", vocab) === Vector("ab", "##c"))
  }

  test("longest-match: an unmatchable position collapses the word to [UNK]") {
    val vocab = Set("a", "##b")
    assert(WordPiece.encodeWordLongestMatch("aq", vocab) === Vector("[UNK]"))
    assert(WordPiece.encodeWordLongestMatch("qa", vocab) === Vector("[UNK]"))
  }

  test("batchSize=4 == batchSize=1 when the selected merges are non-interacting") {
    // two 2-char word families on disjoint alphabets (cascades would
    // NOT be non-interacting under likelihood scoring — a fused pair's
    // score rises as its parts rarefy — so keep each family to one
    // possible merge): batchSize=1 learns (c,##d) then (a,##b) in two
    // rounds; batchSize=4 selects both, disjointly, from one census
    val docs = (
      (1 to 100).map(i => (i.toLong, "ab")) ++
      (1 to 90).map(i => (1000L + i, "cd"))
    ).toDF("doc_id", "text")
    val (seq, _) = WordPiece.train(docs, numMerges = 3)
    val (bat, _) = WordPiece.train(docs, numMerges = 3, batchSize = 4)
    assert(bat === seq)
  }

  test("batchSize=4 on the hand-computed corpus recovers the strict trajectory") {
    // the three training merges live on disjoint symbols, so even
    // batchSize=4 must reproduce the strict result exactly
    val (seq, _) = WordPiece.train(corpus, numMerges = 10)
    val (bat, _) = WordPiece.train(corpus, numMerges = 10, batchSize = 4)
    assert(bat.map(m => (m.left, m.right, m.merged)) ===
      seq.map(m => (m.left, m.right, m.merged)))
  }

  test("selectDisjoint claims the ##-stripped fused spelling, not the raw concat") {
    val ranked = Seq(
      ("a", "##b", 100L, 10L, 10L),  // take (rank 0), claims {a, ##b, ab}
      ("ab", "##c", 90L, 9L, 9L),    // skip: 'ab' is rank-0's FUSED spelling
      ("##x", "##y", 80L, 8L, 8L),   // take (rank 1), claims {##x, ##y, ##xy}
      ("p", "##xy", 70L, 7L, 7L),    // skip: '##xy' claimed by rank 1
      ("q", "##r", 60L, 6L, 6L))     // capped by want=2
    val got = MergeLearner.selectDisjoint(
      ranked.map { case (l, r, c, lc, rc) => (l, r, WordPiece.Merge(_: Int, l, r, c, lc, rc)) },
      want = 2, rankBase = 3, spell = WordPiece.merged).map(_._3)
    assert(got.map(m => (m.left, m.right, m.merged)) ===
      Seq(("a", "##b", "ab"), ("##x", "##y", "##xy")))
    assert(got.map(_.rank) === Seq(3, 4))
  }

  test("encodedTokenCounts: census join reproduces per-word encoding at doc level") {
    val (merges, _) = WordPiece.train(corpus, numMerges = 10)
    val got = WordPiece.encodedTokenCounts(corpus, merges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords"), r.getAs[Double]("ratio"))).toMap
    // every training word compresses to a single subword
    assert(got(1L) === ((6L, 6L, 1.0)))
    assert(got(2L) === ((6L, 6L, 1.0)))
  }
}

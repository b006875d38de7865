package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class UnigramSpec extends SparkTestBase {
  import spark.implicits._

  test("hand-computed EM: 'abab ab' collapses to the single piece 'ab'") {
    // seed (maxLen=2, size=4): chars a:3 b:3 + multi ab:3 ba:1, total 10.
    // E-step round 1: 'abab' → ab|ab beats a|b|a|b and a|ba|b; 'ab' → ab.
    // Counts: ab=3, everything else 0 → dropped; p(ab)=1, logprob 0.
    val docs = Seq((1L, "abab ab")).toDF("doc_id", "text")
    val vocab = Unigram.train(docs, seedSize = 4, maxPieceLen = 2, emRounds = 2)
    assert(vocab == Seq(Unigram.Piece("ab", 3L, 0.0)))
  }

  test("seedPieces: all single chars kept, multi-char slots by (freq desc, piece asc)") {
    val census = Seq(("abab", 1L), ("ab", 1L)).toDF("word", "wc")
    val seed = Unigram.seedPieces(census, seedSize = 3, maxPieceLen = 2)
      .as[(String, Long)].collect().toMap
    // only one multi slot: 'ab' (freq 3) beats 'ba' (freq 1)
    assert(seed == Map("a" -> 3L, "b" -> 3L, "ab" -> 3L))
  }

  test("segmentWord: DP score equals brute-force enumeration on every prefix set") {
    val logp = Map("a" -> -1.0, "b" -> -1.5, "ab" -> -1.8, "ba" -> -2.0,
                   "aba" -> -3.1, "bb" -> -2.2)
    def bruteBest(w: String, maxLen: Int): Double =
      if (w.isEmpty) 0.0
      else (1 to math.min(maxLen, w.length)).flatMap { l =>
        val piece = w.substring(0, l)
        val lp = logp.get(piece).orElse(
          if (l == 1) Some(Unigram.UnknownLogProb) else None)
        lp.map(_ + bruteBest(w.substring(l), maxLen))
      }.max
    def score(pieces: Vector[String]): Double = pieces.map { p =>
      logp.getOrElse(p, { assert(p.length == 1); Unigram.UnknownLogProb })
    }.sum
    for (w <- Seq("abab", "babba", "aabbaa", "xaxb", "a", "abababab")) {
      val seg = Unigram.segmentWord(w, logp, maxPieceLen = 3)
      assert(seg.mkString == w, s"lossless concat broken for $w: $seg")
      assert(score(seg) == bruteBest(w, 3), s"suboptimal segmentation for $w: $seg")
    }
  }

  test("segmentWord: exact ties prefer the longer piece; unknown chars fall back") {
    val logp = Map("a" -> -1.0, "aa" -> -2.0)
    assert(Unigram.segmentWord("aa", logp, 2) == Vector("aa"))
    assert(Unigram.segmentWord("axa", logp, 2) == Vector("a", "x", "a"))
    assert(Unigram.segmentWord("", logp, 2) == Vector.empty)
  }

  test("training is partitioning-invariant (integer counts, driver-side M-step)") {
    val docs = (0L until 40L).map(i =>
      (i, s"alpha beta gamma_${i % 5} alphabet betagamma")).toDF("doc_id", "text")
    val a = Unigram.train(docs.repartition(1), seedSize = 24, maxPieceLen = 3, emRounds = 2)
    val b = Unigram.train(docs.repartition(11), seedSize = 24, maxPieceLen = 3, emRounds = 2)
    assert(a == b)
    assert(a.nonEmpty && a.forall(_.cnt > 0))
  }

  test("training is replication-invariant: a corpus repeated 3x trains the same pieces") {
    // training is a pure function of the distinct-word census, so
    // replicating every doc scales the counts and nothing else
    val docs = (0L until 40L).map(i =>
      (i, s"alpha beta gamma_${i % 5} alphabet betagamma")).toDF("doc_id", "text")
    val replicated = (0 until 3).map(k =>
      docs.select(($"doc_id" + k * 1000L).as("doc_id"), $"text")).reduce(_ unionByName _)
    val once = Unigram.train(docs, seedSize = 24, maxPieceLen = 3, emRounds = 2)
    val thrice = Unigram.train(replicated, seedSize = 24, maxPieceLen = 3, emRounds = 2)
    assert(thrice.map(_.piece) == once.map(_.piece))
    assert(thrice.map(_.cnt) == once.map(_.cnt * 3))
  }

  test("trainPruned reaches the target size, keeps every single char, and is deterministic") {
    val docs = (1 to 40).map(i =>
      (i.toLong, s"alpha beta gamma_${i % 5} alphabet betagamma")).toDF("doc_id", "text")
    val v = Unigram.trainPruned(docs, targetSize = 20, seedSize = 64, maxPieceLen = 4)
    assert(v.size <= 20 + 0, s"vocab ${v.size} above target")
    // coverage: every character of the corpus survives as a piece
    val chars = "alphbetgm_01234".toSet
    val pieces = v.map(_.piece).toSet
    chars.foreach(c => assert(pieces.contains(c.toString), s"char '$c' pruned"))
    // determinism + partitioning invariance
    val v2 = Unigram.trainPruned(docs.repartition(7), targetSize = 20, seedSize = 64, maxPieceLen = 4)
    assert(v == v2)
    assert(v.forall(_.cnt > 0))
  }

  test("trainPruned fails fast when the target is below the unprunable single-char coverage set") {
    // corpus chars {a,b,c,d,e,f,g,h} (8) can never prune below 8 pieces
    val docs = Seq((1L, "abcd efgh")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Unigram.trainPruned(docs, targetSize = 4, seedSize = 16, maxPieceLen = 2)
    }
    assert(e.getMessage.contains("coverage"), e.getMessage)
  }

  test("trainPruned keeps higher-likelihood pieces over lower at the same length") {
    // 'ab' appears 30x, 'cd' 2x: with a tight budget 'ab' must survive 'cd'
    val docs = ((1 to 30).map(i => (i.toLong, "ab")) ++ Seq((100L, "cd"), (101L, "cd")))
      .toDF("doc_id", "text")
    val v = Unigram.trainPruned(docs, targetSize = 5, seedSize = 12, maxPieceLen = 2)
    val pieces = v.map(_.piece).toSet
    assert(pieces.contains("ab"), s"hot bigram pruned: $pieces")
    assert(!pieces.contains("cd"), s"cold bigram survived a 5-piece budget: $pieces")
  }

  test("train/encode parity: encoding a training word matches the final E-step segmentation") {
    val docs = Seq((1L, "alpha beta alphabeta alpha"), (2L, "beta beta alpha")).toDF("doc_id", "text")
    val vocab = Unigram.train(docs, seedSize = 20, maxPieceLen = 4, emRounds = 2)
    val logp = vocab.map(p => p.piece -> p.logprob).toMap
    val enc = Unigram.encodedPieceCounts(docs, vocab, maxPieceLen = 4)
      .orderBy($"doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val byDoc = Seq(
      (1L, Seq("alpha", "beta", "alphabeta", "alpha")),
      (2L, Seq("beta", "beta", "alpha")))
    val want = byDoc.map { case (id, ws) =>
      val np = ws.map(w => Unigram.segmentWord(w, logp, 4).size.toLong).sum
      (id, ws.size.toLong, np,
        math.rint(np.toDouble / ws.size * 1e6) / 1e6)
    }
    assert(enc.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)))
    (enc zip want).foreach { case (g, w) => assert(math.abs(g._4 - w._4) < 1e-9) }
  }

  test("guardrails") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Unigram.train(docs, seedSize = 0))
    intercept[IllegalArgumentException](Unigram.train(docs, emRounds = 0))
  }
}

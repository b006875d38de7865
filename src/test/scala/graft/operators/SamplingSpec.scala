package graft.operators

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private lazy val docs = Tables(spark, sf0001).documents

  test("hashU is uniform-ish and in [0,1)") {
    val us = docs.select(Sampling.hashU($"doc_id").as("u")).collect().map(_.getDouble(0))
    assert(us.forall(u => u >= 0.0 && u < 1.0))
    val mean = us.sum / us.length
    assert(mean > 0.4 && mean < 0.6, s"suspiciously non-uniform mean $mean")
  }

  test("stratified sample: rate-proportional, deterministic, unknown strata dropped") {
    val rates = Map("en" -> 0.5, "de" -> 1.0) // es/fr/zh not listed -> dropped
    val s1 = Sampling.stratifiedSample(docs, "lang", "doc_id", rates)
    val byLang = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.keySet.subsetOf(Set("en", "de")), s"unknown strata kept: $byLang")
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") === total("de")) // rate 1.0 keeps every row (u < 1 always)
    val enFrac = byLang("en").toDouble / total("en")
    assert(enFrac > 0.3 && enFrac < 0.7, s"en fraction $enFrac far from 0.5")
    // determinism: same sample on a second run
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Sampling.stratifiedSample(docs, "lang", "doc_id", rates)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 === ids2)
  }

  test("reservoir: exactly k per stratum (or stratum size), salt-count invariant") {
    val k = 7
    val got = Sampling.reservoirPerKey(docs, "lang", "doc_id", k)
    val sizes = got.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    total.foreach { case (lang, n) => assert(sizes(lang) === math.min(k.toLong, n)) }
    // the selected set is the global top-k by (md5, id): salt-invariant
    val a = got.select("lang", "doc_id", "rk").collect().map(_.toSeq).toSet
    val b = Sampling.reservoirPerKey(docs, "lang", "doc_id", k, salts = 3)
      .select("lang", "doc_id", "rk").collect().map(_.toSeq).toSet
    assert(a === b)
    // and matches the single-window reference formulation
    val ref = docs.select($"lang", $"doc_id", md5($"doc_id".cast("string")).as("o"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"lang")
          .orderBy($"o".asc, $"doc_id".asc)).cast("long"))
      .filter($"rk" <= k).select("lang", "doc_id", "rk")
      .collect().map(_.toSeq).toSet
    assert(a === ref)
  }

  test("holdout split: exhaustive, deterministic, id-stable across subsets") {
    val s1 = Sampling.holdoutSplit(docs, "doc_id")
    val bySplit = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count()
    assert(bySplit.values.sum === n) // partition of the corpus
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train") > bySplit.getOrElse("val", 0L))
    // the split of a row is a function of its id alone: filtering the
    // input first must not move any surviving row across the boundary
    val whole = s1.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val subset = Sampling.holdoutSplit(docs.filter($"lang" === "en"), "doc_id")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    subset.foreach { case (id, sp) => assert(whole(id) === sp) }
    // keyed by near-dup cluster (the dedup -> CC -> holdout chain), no
    // cluster straddles the split: every doc is replicated twice with a
    // distinct marker token appended (high-but-< 1.0 Jaccard)
    val text = docs.select("doc_id", "text")
    val corpus = (0 until 3).map(k => text.select(($"doc_id" + k * 10000000L).as("doc_id"),
        (if (k == 0) $"text" else concat($"text", lit(s" repmark$k"))).as("text")))
      .reduce(_ unionByName _)
    val pairs = Dedup.nearDupsMinhash(corpus, threshold = 0.3).select("a_id", "b_id")
    val byCluster = Sampling.holdoutSplit(
        ConnectedComponents.dedupDecisions(corpus, pairs), "cluster_id")
      .groupBy("cluster_id").agg(countDistinct($"split").as("k"), count(lit(1)).as("n"))
    assert(byCluster.filter($"k" > 1).count() === 0L, "a cluster straddles the split")
    assert(byCluster.filter($"n" >= 3).count() > 0L, "replicas must cluster")
    assert(byCluster.agg(sum($"n")).as[Long].head() === corpus.count())
    intercept[IllegalArgumentException] {
      Sampling.holdoutSplit(docs, "doc_id", trainFrac = 0.9, valFrac = 0.1)
    }
  }

  test("mixture equalize: every stratum downsampled toward the smallest") {
    val out = Sampling.mixtureEqualize(docs, "lang", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val minOrig = out.map(_._2).min
    out.foreach { case (lang, nOrig, rate, nKept) =>
      assert(rate > 0 && rate <= 1.0)
      assert(nKept <= nOrig, s"$lang kept more than it had")
      // Bernoulli at rate min/n: kept count concentrates near minOrig
      assert(math.abs(nKept - minOrig) <= math.max(6L, minOrig / 2),
        s"$lang kept $nKept, expected near $minOrig")
    }
    // the smallest stratum has rate 1.0 and keeps everything
    val smallest = out.minBy(_._2)
    assert(smallest._3 === 1.0 && smallest._4 === smallest._2)
  }

  test("shuffleShards: exhaustive, shard-bounded, permutation stable under repartition") {
    val docs = (0L until 400L).toDF("doc_id")
    val out = Sampling.shuffleShards(docs, "doc_id", nShards = 8, seed = 42L)
      .as[(Long, String, Int)].collect()
    assert(out.length == 400 && out.map(_._1).distinct.length == 400) // every doc once
    assert(out.forall(r => r._3 >= 0 && r._3 < 8))
    assert(out.map(_._3).distinct.length == 8) // all shards populated at n=400
    // deterministic under physical layout changes AND re-runs
    val again = Sampling.shuffleShards(docs.repartition(7), "doc_id", 8, seed = 42L)
      .as[(Long, String, Int)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a different seed draws a different permutation
    val other = Sampling.shuffleShards(docs, "doc_id", 8, seed = 43L)
      .as[(Long, String, Int)].collect()
    assert(out.sortBy(_._1).map(r => (r._2, r._3)).toSeq !=
           other.sortBy(_._1).map(r => (r._2, r._3)).toSeq)
  }

  test("tokenBudgetPerKey keeps exactly the maximal md5-order prefix within budget") {
    val docs = (0L until 60L).map(i => (s"k${i % 3}", i, 7L + i % 5))
      .toDF("key", "doc_id", "tokens")
    val out = Sampling.tokenBudgetPerKey(docs, "key", "doc_id", "tokens", budget = 50L)
      .as[(String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (key, rows) =>
      assert(rows.map(_._4).max <= 50L)
      // reconstruct the expected prefix: order by (md5(id), id), cumsum <= budget
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes).map("%02x".format(_)).mkString
      val ordered = (0L until 60L).filter(i => s"k${i % 3}" == key)
        .map(i => (i, 7L + i % 5)).sortBy { case (i, _) => (md5hex(i.toString), i) }
      val expected = ordered.scanLeft((-1L, 0L, 0L)) { case ((_, _, acc), (i, t)) =>
        (i, t, acc + t)
      }.drop(1).takeWhile(_._3 <= 50L).map(r => (r._1, r._2, r._3))
      assert(rows.sortBy(_._4).map(r => (r._2, r._3, r._4)).toSeq == expected)
    }
  }

  test("weightedSample: kept set matches the per-row hashU < keep_p rule exactly") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    val weights = (0L until 200L).map(i => i -> ((i % 10) + 1).toDouble)
    val df = weights.toDF("id", "w")
    val out = Sampling.weightedSample(df, "id", "w", targetFrac = 0.4)
      .select($"id").as[Long].collect().toSet
    val sumw = weights.map(_._2).sum // integers: exact
    val expected = weights.filter { case (i, w) =>
      val u = java.lang.Long.parseLong(md5hex(i.toString).take(4), 16) / 65536.0
      u < math.rint(w * (0.4 * 200 / sumw) * 1e9) / 1e9
    }.map(_._1).toSet
    assert(out == expected)
    // higher weight -> higher keep rate, and the total lands near target
    assert(out.size > 40 && out.size < 130)
  }

  test("weightedSample: contracts fail loudly") {
    val df = Seq((1L, 0.0), (2L, 0.0)).toDF("id", "w")
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(df, "id", "w", targetFrac = 0.0)
    }
    val e = intercept[Exception] {
      Sampling.weightedSample(df, "id", "w", targetFrac = 0.5).collect()
    }
    assert(e.getMessage.contains("non-positive weight sum") ||
      Option(e.getCause).exists(_.getMessage.contains("non-positive weight sum")))
  }

  test("temperatureMix: alpha=1 degrades to a uniform global rate; alpha<1 upsamples " +
       "small sources; kept set matches the per-row draw") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    // 300 'big' docs, 60 'mid', 15 'small'
    val rows = (0L until 300L).map(i => (i, "big")) ++
      (1000L until 1060L).map(i => (i, "mid")) ++ (2000L until 2015L).map(i => (i, "small"))
    val df = rows.toDF("id", "src")

    // alpha = 1: q_s = n_s/N, rate = min(1, B/N) — identical across sources
    val r1 = Sampling.temperatureMix(df, "src", "id", alpha = 1.0, budget = 150L)
      .select($"src", $"rate").distinct().as[(String, Double)].collect().toMap
    assert(r1.values.toSet.size == 1)
    assert(math.abs(r1("big") - 150.0 / 375.0) < 1e-6)

    // alpha = 0.5: the small source's rate strictly exceeds the big one's
    val out = Sampling.temperatureMix(df, "src", "id", alpha = 0.5, budget = 150L)
    val rates = out.select($"src", $"rate").distinct().as[(String, Double)].collect().toMap
    assert(rates("small") > rates("mid") && rates("mid") > rates("big"))

    // the kept set is exactly the per-row hashU(id) < rate decision
    val kept = out.filter($"kept").select($"id").as[Long].collect().toSet
    val expected = rows.filter { case (i, s) =>
      java.lang.Long.parseLong(md5hex(i.toString).take(4), 16) / 65536.0 < rates(s)
    }.map(_._1).toSet
    assert(kept == expected)
  }

  test("temperatureMix: clamps at rate 1 and fails loudly on bad params") {
    val df = (0L until 10L).map(i => (i, if (i < 8) "a" else "b")).toDF("id", "src")
    // huge budget: every rate clamps to exactly 1.0, everything kept
    val out = Sampling.temperatureMix(df, "src", "id", alpha = 0.5, budget = 1000000L)
    assert(out.select($"rate").distinct().as[Double].collect().toSet == Set(1.0))
    assert(out.filter($"kept").count() == 10L)
    intercept[IllegalArgumentException](
      Sampling.temperatureMix(df, "src", "id", alpha = 0.0, budget = 10L))
    intercept[IllegalArgumentException](
      Sampling.temperatureMix(df, "src", "id", alpha = 1.5, budget = 10L))
    intercept[IllegalArgumentException](
      Sampling.temperatureMix(df, "src", "id", alpha = 0.5, budget = 0L))
  }

  test("weightedReservoirPerKey: kept set == host-replayed ES keys; salt-invariant") {
    val rows = (0L until 120L).map(i => (s"k${i % 3}", i, (i % 7 + 1).toDouble))
    val df = rows.toDF("key", "id", "w")
    def md5u(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4294967296.0
    }
    // host reference: quantized ES key, (key asc, id asc), top 5 per stratum
    val want = rows.map { case (k, id, w) =>
      (k, id, math.floor(-math.log(md5u(id)) / w * 1e6 + 0.5).toLong)
    }.groupBy(_._1).flatMap { case (k, rs) =>
      rs.sortBy(r => (r._3, r._2)).take(5).zipWithIndex
        .map { case ((_, id, ek), i) => (k, id, ek, (i + 1).toLong) }
    }.toSet
    val got = Sampling.weightedReservoirPerKey(df, "key", "id", "w", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    val gotWide = Sampling
      .weightedReservoirPerKey(df.repartition(13), "key", "id", "w", k = 5, salts = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotWide === got) // salt + partitioning invariance
  }

  test("weightedReservoirPerKey: overwhelming weight is always selected; w<=0 excluded") {
    val df = ((0L until 50L).map(i => ("s", i, 1.0)) ++
      Seq(("s", 999L, 1e9), ("s", 998L, 0.0), ("s", 997L, -2.0)))
      .toDF("key", "id", "w")
    val kept = Sampling.weightedReservoirPerKey(df, "key", "id", "w", k = 3)
      .collect().map(_.getLong(1)).toSet
    // -ln(u)/1e9 is ~0 for any u: the heavy doc's key floors to 0 — rank 1
    assert(kept.contains(999L))
    assert(!kept.contains(998L) && !kept.contains(997L))
    intercept[IllegalArgumentException] {
      Sampling.weightedReservoirPerKey(df, "key", "id", "w", k = 0)
    }
  }

  test("curriculumShards: positions are contiguous easy-to-hard within each shard") {
    val df = (0L until 100L).map(i => (i, (i * 37) % 50)).toDF("id", "score")
    val out = Sampling.curriculumShards(df, "id", "score", nShards = 4)
      .select($"shard", $"position", $"score").as[(Int, Long, Long)].collect()
    out.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to rows.length)) // contiguous ranks
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(identity).toSeq) // easy->hard
    }
    assert(out.map(_._1).distinct.length == 4)
  }
}

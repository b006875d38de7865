package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Redirect-chain resolution over a functional edge set — the crawl
  * plane's missing identity step: a fetched URL's TRUE identity is the
  * terminal of its redirect chain (301/302/canonical hops), and both
  * url-level dedup ([[WebText.urlCanonicalize]] keys) and the domain
  * graph (qg12) want chains collapsed to that terminal before keys are
  * minted. The same shape resolves symlink forests and alias tables.
  *
  * Algorithm: POINTER DOUBLING (Wyllie's list-ranking move, the
  * directed cousin of [[ConnectedComponents]]' label halving): the
  * jump table starts as the edge set (every source knows the node ONE
  * hop away) and each round composes the table with itself, so after
  * k rounds every source knows the node `min(chainLen, 2^k)` hops away
  * — `log2(maxHops)` self-joins instead of `maxHops` sequential ones.
  * Each round is ONE shuffle join of the |sources|-row jump table with
  * itself; rows never multiply (the table is keyed by source), so the
  * 100 TB cost is log2(maxHops) bounded-size shuffles — the
  * CC/HyperBall scaling argument.
  *
  * Cycle honesty: redirect LOOPS exist in every real crawl. A chain
  * that has not reached a terminal node (one with no outgoing edge)
  * within `maxHops` — a loop, or an over-long chain — resolves to
  * NULL with `resolved = false` (the quarantine sentinel), never an
  * infinite iteration: the doubling schedule is static, the loop rows
  * simply keep composing inside the cycle until the rounds run out.
  *
  * Memory shape (measured, NOTES_r13): shuffle is LINEAR in
  * |E| (~127 B/edge across all rounds — no row multiplication), but
  * each round's localCheckpoint holds one |E|-row generation in the
  * block manager until ContextCleaner frees out-of-scope generations
  * after a GC cycle, so peak residency is up to rounds × |E| × ~40 B.
  * Spread across a cluster's executors that is negligible (1B edges ≈
  * 200 GB / fleet); in a SINGLE JVM the generations compound GC
  * pressure at the 10M-edge mark — profile sizes in isolated JVMs
  * (the NOTES_r13 §8 video-plane methodology).
  */
object Redirects {

  /** Resolve every redirect source to its terminal URL.
    *
    * Input rows are (src, dst) redirect observations; conflicting
    * observations for one source (re-fetches that saw different
    * targets) are normalized FUNCTIONALLY first — the smallest target
    * wins, deterministically, so resolution is reproducible and the
    * oracle can replay it. Output: one row per distinct source —
    * (src, final_url, hops, resolved); `final_url` is NULL and
    * `resolved` false when the chain hasn't terminated within
    * `maxHops` (loop sentinel), and `hops` is then `maxHops` (how far
    * the walk provably got). `maxHops` must be a power of two — the
    * doubling schedule's natural grain. */
  def resolve(edges0: DataFrame, srcCol: String = "src", dstCol: String = "dst",
              maxHops: Int = 16): DataFrame = {
    require(maxHops >= 1 && (maxHops & (maxHops - 1)) == 0,
      s"maxHops must be a power of two, got $maxHops")
    val e0 = edges0
      .select(col(srcCol).as("node"), col(dstCol).as("tgt"))
      // part of the functional normalization: a null endpoint is not an
      // observation (it would otherwise mint a null-keyed source row)
      .filter(col("node").isNotNull && col("tgt").isNotNull)
      .groupBy(col("node")).agg(min(col("tgt")).as("tgt"))
      .withColumn("steps", lit(1L))
      .localCheckpoint() // read every round + as the terminal domain
    val rounds = 31 - Integer.numberOfLeadingZeros(maxHops)
    var j = e0
    for (_ <- 0 until rounds) {
      val jj = j.select(col("node").as("j_node"), col("tgt").as("j_tgt"),
        col("steps").as("j_steps"))
      j = j.join(jj, j("tgt") === jj("j_node"), "left")
        .select(col("node"),
          coalesce(col("j_tgt"), col("tgt")).as("tgt"),
          (col("steps") + coalesce(col("j_steps"), lit(0L))).as("steps"))
        // truncate lineage per doubling (the CC discipline) — without
        // it the plan doubles in depth every round
        .localCheckpoint()
    }
    val dom = e0.select(col("node").as("t_node"))
    j.join(dom, j("tgt") === dom("t_node"), "left")
      .select(col("node").as("src"),
        when(col("t_node").isNull, col("tgt")).as("final_url"),
        col("steps").as("hops"),
        col("t_node").isNull.as("resolved"))
  }
}

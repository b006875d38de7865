package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph — the component
  * notion [[ConnectedComponents]]'s undirected closure cannot express
  * and the crawl plane actually needs: a link-farm spam ring is a
  * directed cycle of hosts (every member reaches every other), while a
  * legitimate content hierarchy is acyclic and shatters into singleton
  * SCCs. Composes with [[GraphMetrics.hits]] (rings accumulate hub
  * mass) and the qg12 domain graph.
  *
  * Algorithm: TRIM + forward-min COLORING with peeling — the published
  * scalable shape (Orzan 2004's coloring; the FW-BW/trim hybrid of
  * Slota, Rajamanickam & Madduri 2014), state one label per vertex:
  *
  *  1. TRIM to fixpoint: a vertex with no in-edges or no out-edges in
  *     the remaining graph is its own SCC (chains and dangling tails
  *     vanish here — without trim, a length-L chain costs L peel
  *     phases; with it, zero).
  *  2. COLOR: propagate color(v) = min(id of v's in-reachable set ∪
  *     {v}) to fixpoint (one equi join + one min aggregation per
  *     round — the [[GraphMetrics.pageRank]] message-passing shape).
  *  3. CONFIRM: a root r (color(r) = r) and every vertex of color r
  *     that can REACH r form one SCC. Membership propagates backward
  *     within the color class only; this is exact because every vertex
  *     on a v→…→r path with color(v) = r itself has color r (a smaller
  *     ancestor of the midpoint would be a smaller ancestor of v).
  *  4. PEEL confirmed vertices and repeat. Each phase resolves every
  *     color class's root SCC, so phases are bounded by the depth of
  *     the SCC condensation chain under min-ids, not by |V|.
  *
  * NOT the (min-ancestor, min-descendant) pair heuristic: that merges
  * non-components (two siblings sharing a smaller ancestor AND a
  * smaller descendant get identical pairs without mutual reachability
  * — SccSpec pins the counterexample).
  *
  * Scale shape: every step is an edge-list equi join + hash
  * aggregation keyed on a vertex id; state is one (node, label) row
  * per vertex; lineage truncates per round (the coloring and
  * confirmation loops are [[Iterate.fixpoint]]s). The per-round
  * convergence probe is a LIMIT-1 scan of the pinned round. Fails
  * loudly if `maxRounds` phases don't converge
  * (ASSIGNING a wrong component silently is the one unacceptable
  * outcome).
  *
  * Input columns `src`, `dst`; self-loops are legitimate 1-cycles.
  * Output: `node, scc_id` (scc_id = smallest member id). */
object Scc {

  def strongComponents(edges0: DataFrame, maxRounds: Int = 32,
                       maxPhases: Int = 8): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(maxPhases >= 1, s"maxPhases must be >= 1, got $maxPhases")
    var edges = edges0.select(col("src"), col("dst")).distinct().localCheckpoint()
    var verts = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val done = collection.mutable.ArrayBuffer.empty[DataFrame]

    // r14 optimization (labels bit-identical; SccSpec + qg15 oracle
    // unchanged): the loop bodies were action-heavy — every trim round
    // paid 2 distincts + 2 anti joins + union-distinct + a probe count
    // + 3 checkpoint actions, and every coloring round paid a full
    // extra join just to ask "did anything change". qg15 measured 134
    // AQE stage-jobs at sf0.1 with ~0 shuffle bytes: the wall is
    // sequential stage latency, so the round restructures to
    //  - ONE degree census per trim round (explode → min/max agg)
    //    instead of two distinct+anti-join legs (guide §2.4: fewer
    //    exchanges outright),
    //  - change/growth probes FUSED into the round's aggregation (the
    //    old label rides along; the probe is then a scan of the
    //    checkpointed round result, not a second join),
    //  - peel() no longer re-checkpoints frames that are already
    //    materialized projections of a checkpoint.
    // At 100 TB the same changes cut per-round shuffles of the vertex
    // set from 5 to 2 — this is shape, not local-mode tuning.

    def peel(assigned: DataFrame): Unit = {
      // assigned: (node, scc_id), a cheap projection of an
      // already-checkpointed frame — store as-is, remove from graph
      done += assigned
      val ids = assigned.select(col("node"))
      verts = verts.join(ids, Seq("node"), "left_anti").localCheckpoint()
      edges = edges
        .join(ids.select(col("node").as("src")), Seq("src"), "left_anti")
        .join(ids.select(col("node").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst")).localCheckpoint()
    }

    var phase = 0
    var vertsEmpty = verts.isEmpty
    while (!vertsEmpty && phase < maxPhases) {
      // 1. trim to fixpoint: no in-edges or no out-edges => singleton.
      //    Self-loops guard themselves (a self-loop is both an in- and
      //    an out-edge). One census: a remaining vertex survives iff it
      //    has BOTH an out-edge (side=0 present) and an in-edge
      //    (side=1 present) in the remaining edge set.
      var trimmed = true
      var tr = 0
      // r13 ADVICE: trim exiting at the cap is CORRECT (leftover
      // trimmable singletons just make the coloring pass work harder)
      // but on a >2·maxRounds chain the run then dies later with a
      // misleading "coloring did not converge" — track exhaustion so
      // that failure names the right knob.
      var trimCapped = false
      while (trimmed && tr < maxRounds) {
        val sides = edges.select(explode(array(
            struct(col("src").as("node"), lit(0).as("side")),
            struct(col("dst").as("node"), lit(1).as("side")))).as("e"))
          .select(col("e.node").as("node"), col("e.side").as("side"))
        val keep = sides.groupBy(col("node"))
          .agg(min(col("side")).as("lo"), max(col("side")).as("hi"))
          .filter(col("lo") === 0 && col("hi") === 1)
          .select(col("node"))
        val cut = verts.join(keep, Seq("node"), "left_anti").localCheckpoint()
        if (!cut.isEmpty) peel(cut.select(col("node"), col("node").as("scc_id")))
        else trimmed = false
        tr += 1
      }
      trimCapped = trimmed // cap hit while cuts were still landing
      vertsEmpty = verts.isEmpty
      if (!vertsEmpty) {
        // 2. forward-min coloring to fixpoint. The previous color rides
        //    through the aggregation (min ignores nulls; every node has
        //    exactly one current-color row), so the convergence probe
        //    is a filter over the pinned round output.
        val c0 = verts.select(col("node"), col("node").as("color")).localCheckpoint()
        val (c, _, colored) = Iterate.fixpoint(c0, maxRounds,
          cur => {
            val msgs = edges.join(cur, edges("src") === cur("node"))
              .select(edges("dst").as("node"), col("color"),
                lit(null).cast(cur.schema("color").dataType).as("old"))
            cur.select(col("node"), col("color"), col("color").as("old"))
              .unionByName(msgs)
              .groupBy(col("node")).agg(min(col("color")).as("color"), min(col("old")).as("old"))
          },
          col("color") =!= col("old"), _.select(col("node"), col("color")))
        require(colored,
          s"coloring did not converge in $maxRounds rounds" + (if (trimCapped)
            s" — NOTE: the trim pass also hit the $maxRounds-round cap" +
              " before reaching its fixpoint, so the root cause is likely" +
              " a long chain: raise maxRounds" else ""))
        // 3. confirm backward within the color class, from the roots.
        //    Growth probe: a confirmed row is NEW iff no pre-round f
        //    row existed for it (the rider column is 0 after the
        //    max-aggregation) — scanned off the pinned result, never a
        //    second join or count.
        val f0 = c.filter(col("node") === col("color")).localCheckpoint()
        val (f, _, confirmed) = Iterate.fixpoint(f0, maxRounds,
          cur => {
            val msgs = edges.join(cur, edges("dst") === cur("node"))
              .select(edges("src").as("node"), cur("color").as("mcolor"))
            val joined = msgs.join(c, Seq("node"))
              .filter(col("color") === col("mcolor"))
              .select(col("node"), col("color"), lit(0).as("w"))
            cur.select(col("node"), col("color"), lit(1).as("w"))
              .unionByName(joined)
              .groupBy(col("node"), col("color")).agg(max(col("w")).as("w"))
          },
          col("w") === 0, _.select(col("node"), col("color")))
        // still growing at the cap ⇒ peeling now would assign a PARTIAL
        // SCC (a >maxRounds cycle loses its unconfirmed arc members to
        // wrong singletons next phase) — the one silently-wrong outcome
        require(confirmed, s"backward confirmation did not converge in $maxRounds rounds")
        peel(f.select(col("node"), col("color").as("scc_id")))
      }
      vertsEmpty = verts.isEmpty
      phase += 1
    }
    require(vertsEmpty,
      s"SCC peeling did not converge in $maxPhases phases — raise maxPhases")
    if (done.isEmpty) verts.select(col("node"), col("node").as("scc_id"))
    else done.reduce(_ unionByName _)
  }
}

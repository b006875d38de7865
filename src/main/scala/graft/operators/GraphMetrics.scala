package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph metrics over an edge table — the census queries a
  * pipeline runs on derived similarity / co-occurrence graphs (dedup
  * candidate graphs, user co-activity graphs) before acting on them.
  *
  * [[triangleCount]] is the degree-oriented ("compact-forward") exact
  * triangle count: every edge is oriented from its lower endpoint to
  * its higher endpoint under the total order (degree, id), wedges are
  * enumerated only from each vertex's oriented out-neighborhood, and a
  * wedge closes iff its endpoints are adjacent. Orientation bounds
  * every vertex's out-degree by O(√m) regardless of skew — the hub
  * vertex that breaks the naive a<b<c id-ordered join (its entire
  * neighborhood becomes wedges) has high degree, so almost all its
  * edges point INTO it and it apexes almost no wedges. The count is
  * identical to the naive formulation (each triangle has exactly one
  * apex under any total order); only the join volume changes.
  *
  * Scale: two shuffles to build degrees + orientation, one self-join
  * on the apex key (bounded fan-out by the orientation), one semi-join
  * against the canonical edge set to close wedges. All counts exact
  * integers — no float drift anywhere.
  */
object GraphMetrics {

  /** Canonicalize an edge list: undirected, deduped, no self-loops,
    * `a < b`. Input columns `a`, `b`. */
  def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(least(col("a"), col("b")).as("a"),
                 greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Exact triangle count plus node/edge census of the undirected
    * graph. One output row: `n_nodes, n_edges, n_triangles`. */
  def triangleCount(edges0: DataFrame): DataFrame = {
    val edges = canonicalEdges(edges0)
    val deg = edges.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    // orient low → high under (degree, id); out-degree ≤ O(√m)
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedges from each apex's out-neighborhood; id-ordered so each
    // unordered out-pair appears once
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), "u")
      .filter(col("x") < col("y"))
      .select(col("u"), col("x").as("a"), col("y").as("b"))
    // semi join is a filter: each (u, a, b) wedge row survives iff
    // (a, b) is an edge — distinct apexes of the same closing edge
    // each keep their own row
    val triangles = wedges.join(edges, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Fixed-iteration PageRank over the undirected graph (each edge
    * walks both ways), damping 0.85, ranks over the nodes that have at
    * least one edge. Output: `node, pagerank` after `iters` rounds.
    *
    * Per round: one equi join of the directed edge list against the
    * current rank vector on the source key, one hash aggregation on
    * the destination key — the standard message-passing shape, k
    * shuffles for k rounds, no driver-side state. The rank vector
    * never leaves the cluster.
    *
    * Cross-engine determinism: floating-point addition is order-
    * sensitive and Spark's aggregation order is not deterministic, so
    * each edge's contribution `rank/out_degree` is rounded to 9
    * decimals and accumulated as DECIMAL — the exact sum — before the
    * damped update is applied and itself rounded. The oracle unrolls
    * the same five rounds as chained CTEs. */
  def pageRank(edges0: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val und = canonicalEdges(edges0)
    // materialize the LOOP INVARIANTS once (r14 optimization): every
    // round's plan referenced the full edge-derivation subtree three
    // times (edges, deg, nN), so the logical plan grew by ~3 subtree
    // copies per round and Catalyst re-analyzed all of them at every
    // AQE stage — measured 2,086 plan lines / 2.1 s for the 5-round
    // qg03 at sf0.1, dominated by driver planning gaps, not compute.
    // Values are unchanged (a checkpoint is a materialization barrier,
    // not a rewrite); the earlier "+1.6 s" measurement that argued
    // against checkpointing here was for checkpointing the loop
    // VARIABLE r per round, which stays un-checkpointed on shallow
    // loops.
    val edges = Iterate.pin(
      und.unionByName(und.select(col("b").as("a"), col("a").as("b"))))
    val deg = Iterate.pin(
      edges.groupBy(col("a")).agg(count(lit(1)).as("od"))
        .select(col("a").as("node"), col("od")))
    val nN = deg.agg(count(lit(1)).cast("double").as("n"))
    val r0 = deg.select(col("node")).crossJoin(broadcast(nN))
      .select(col("node"), (lit(1.0) / col("n")).as("r"))
    // Iterate.rounds pins every third round of a deep loop
    Iterate.rounds(r0, iters) { r =>
      edges
        .join(r, edges("a") === r("node")).drop("node")
        .join(deg, edges("a") === deg("node")).drop("node")
        // contributions as scaled integers (floor(x*1e9 + 0.5)): tie-free
        // binary quantization + an order-independent integer sum. The
        // previous round(_, 9) -> DECIMAL path hit the string-vs-binary
        // rounding tie at sf0.1 (Spark rounds the double's shortest
        // rendering, DuckDB the true binary value).
        .select(col("b"),
          floor(col("r") / col("od") * 1e9 + 0.5).cast("long").as("contrib"))
        .groupBy(col("b"))
        .agg(sum(col("contrib")).as("s"))
        .crossJoin(broadcast(nN))
        .select(col("b").as("node"),
          // (1.0 - damping) evaluated in-plan so the oracle's literal
          // `(1.0 - 0.85)` is the bit-identical IEEE subtraction
          (floor(((lit(1.0) - lit(damping)) / col("n") +
            lit(damping) * (col("s").cast("double") / 1e9)) * 1e9 + 0.5) / 1e9).as("r"))
    }.select(col("node"), col("r").as("pagerank"))
  }

  /** HITS (Kleinberg 1999) — hubs and authorities over a DIRECTED edge
    * set, the web-graph read PageRank's single undirected score cannot
    * express: a hub is good because it points AT good authorities, an
    * authority because good hubs point AT it. On a crawl-plane domain
    * graph the split is the spam signal — a link farm accumulates hub
    * mass without ever earning authority.
    *
    * Per round two message passes (the [[pageRank]] shape, run twice):
    * authority(v) = Σ_{u→v} hub(u) — one equi join of the edge list
    * against the current hub vector on the source key + one hash
    * aggregation on the destination — then hub(u) = Σ_{u→v}
    * authority(v), mirrored. Each pass L1-normalizes from ONE
    * broadcast scalar (the exact BIGINT total of the quantized
    * contributions), so no score vector or normalizer ever leaves the
    * cluster. Nodes absent from a pass keep an explicit 0.0 via left
    * join — a sink page is a legitimate pure authority (hub exactly
    * 0.0), never a dropped row.
    *
    * Cross-engine determinism (the qg03 discipline): every
    * contribution enters its sum as floor(x·1e9 + 0.5) — tie-free
    * scaled-integer quantization with an order-independent BIGINT
    * sum; the normalized score is ONE IEEE division of the two exact
    * integer sums (both cast to double), re-quantized to the 1e-9
    * grid. The oracle unrolls the same rounds as chained CTEs.
    *
    * Input columns `src`, `dst` (directed, any equality-comparable
    * node type); self-loops dropped, parallel edges deduped. Output:
    * `node, hub, authority` after `iters` rounds. Every pass is pinned
    * ([[Iterate.pin]]).
    *
    * Grid bound (shared with [[pageRank]]'s contract): normalized
    * scores live on the 1e-9 grid, so mass below 0.5e-9 floors to
    * exactly 0 — fine through ~10⁸-node graphs where typical scores
    * sit well above the grid; beyond that, widen the quantization
    * constant in lockstep with the oracle. */
  def hits(edges0: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val edges = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    // r14 optimization, two structural changes with bit-identical
    // output (qg14 measured 15,296 plan lines / 36 AQE stages / 6.5 s
    // at sf0.1, ~80% driver planning gaps):
    //  1. The per-pass message table is CHECKPOINTED. It is referenced
    //     twice (normalizer total + the score projection), so without
    //     a barrier the logical plan DOUBLED per pass — 2^(2·iters)
    //     copies of the edge-extraction subtree by the final action
    //     (the landmarkCloseness pathology in join form). The barrier
    //     is a vertex-sized frame per pass — the cheap side.
    //  2. The explicit-zero attach (left join against the node census)
    //     moved OUT of the loop: inside it only message recipients
    //     carry scores. Equivalent exactly: a zero-score node feeds
    //     floor(0·1e9 + 0.5) = 0 into every downstream sum (normalizer
    //     and messages alike), and its own normalized score re-floors
    //     to exactly 0.0 — the same 0.0 the final left join's coalesce
    //     attaches. One join + one shuffle less per pass; at 100 TB the
    //     saved join is vertex-table-sized (billions of rows), not a
    //     constant.
    def pass(score: DataFrame, scoreCol: String, joinKey: String,
             groupKey: String, outCol: String): DataFrame = {
      val raw = Iterate.pin(
        edges.join(score, edges(joinKey) === score("node"))
          .select(col(groupKey),
            floor(col(scoreCol) * 1e9 + 0.5).cast("long").as("c"))
          .groupBy(col(groupKey)).agg(sum(col("c")).as("s")))
      val tot = raw.agg(sum(col("s")).cast("double").as("t"))
      raw.crossJoin(broadcast(tot))
        .select(col(groupKey).as("node"),
          (floor(col("s").cast("double") / col("t") * 1e9 + 0.5) / 1e9)
            .as(outCol))
    }
    var h = nodes.select(col("node"), lit(1.0).as("h"))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = pass(h, "h", "src", "dst", "a")
      h = pass(a, "a", "dst", "src", "h")
      // no extra deep-loop gate needed: the per-pass checkpoint above
      // already truncates lineage every pass
    }
    nodes
      .join(h, Seq("node"), "left")
      .join(a, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("authority"))
  }

  /** Landmark closeness — the scalable stand-in for exact closeness /
    * harmonic centrality, whose all-pairs BFS is quadratic and dead at
    * scale: BFS from a FIXED set of `nLandmarks` md5-chosen landmark
    * vertices only (Potamias et al.'s landmark estimation shape), so
    * the state is |V|·k distances, never |V|². Distances propagate by
    * k simultaneous min-relaxation rounds (one equi join + one min
    * aggregation per round — the pointer-doubling cousin without the
    * doubling, because distances must stay EXACT hop counts);
    * `maxDepth` caps the horizon, and a vertex no landmark reaches
    * within it reports zero coverage (stated, not hidden — the cap is
    * the scale knob). Per node: landmarks reached, summed hop
    * distance, and harmonic mass Σ 1/d (per-term round-6 decimal sum,
    * the cross-engine discipline). Deep horizons get the same lineage
    * gate as [[pageRank]]. */
  def landmarkCloseness(edges0: DataFrame, nLandmarks: Int = 4,
                        maxDepth: Int = 8): DataFrame = {
    require(nLandmarks >= 1, s"nLandmarks must be >= 1, got $nLandmarks")
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val und = canonicalEdges(edges0)
    // materialize once: the edge list (often itself a derived join —
    // the co-activity build) is read by EVERY relaxation round; the
    // qg06 discipline
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val nodes = edges.select(col("src").as("node")).distinct()
    // deterministic landmark pick: smallest md5 coordinate (id
    // tie-break) — seedless, any engine can replay it
    val landmarks = nodes
      .select(col("node").as("lm"), md5(col("node").cast("string")).as("h"))
      .orderBy(col("h"), col("lm")).limit(nLandmarks).select(col("lm"))
    var dist = landmarks.select(col("lm"), col("lm").as("node"), lit(0L).as("d"))
    for (_ <- 1 to maxDepth) {
      val relaxed = dist.join(edges, dist("node") === edges("src"))
        .select(col("lm"), col("dst").as("node"), (col("d") + 1L).as("d"))
      // materialize EVERY round: unlike pageRank's single-reference
      // loop (linear lineage, truncation only pays off when deep),
      // relaxation references `dist` twice per round — join AND union
      // — so without a barrier the plan subtree DOUBLES per round and
      // the engine re-executes it exponentially (measured: 57 s at
      // sf0.1 for 8 rounds, 1.5 s with the barrier). The frame is
      // |V|·k rows — the materialization is the cheap side.
      dist = Iterate.pin(
        dist.unionByName(relaxed)
          .groupBy(col("lm"), col("node")).agg(min(col("d")).as("d")))
    }
    val perNode = dist.groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("d")).as("sum_dist"),
        sum(when(col("d") > 0,
            round(lit(1.0) / col("d").cast("double"), 6))
          .otherwise(lit(0.0)).cast("decimal(18,6)")).cast("double").as("harmonic"))
    nodes.join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("sum_dist"), lit(0L)).as("sum_dist"),
        coalesce(col("harmonic"), lit(0.0)).as("harmonic"))
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * concentrated on a SEED set instead of spread uniformly: random
    * walks restart at the seeds, so rank measures proximity TO the
    * seeds (similar-users / related-docs queries on the co-activity
    * graph), not global centrality. Same per-round shape (one equi
    * join + one hash aggregation, decimal-exact rounded contributions
    * so the trajectory is aggregation-order-independent and
    * oracle-able) and the same deep-loop lineage gate. Nodes with no
    * inbound mass in a round simply take their teleport share (0 for
    * non-seeds — the walk cannot be there), matching the unrolled
    * oracle's left-join COALESCE. */
  def personalizedPageRank(edges0: DataFrame, seeds: Seq[Long], iters: Int = 3,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(seeds.nonEmpty, "seed set must be non-empty")
    val spark = edges0.sparkSession
    import spark.implicits._
    val und = canonicalEdges(edges0)
    val edges = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("od"))
      .select(col("a").as("node"), col("od"))
    val nodes = deg.select(col("node"))
    val seedDf = seeds.distinct.sorted.toDF("node")
      .withColumn("tele", lit(1.0) / lit(seeds.distinct.size.toDouble))
    // teleport vector: 1/|S| on seeds, 0 elsewhere
    val tele = nodes.join(broadcast(seedDf), Seq("node"), "left")
      .select(col("node"), coalesce(col("tele"), lit(0.0)).as("tele"))
      .localCheckpoint()
    Iterate.rounds(tele.select(col("node"), col("tele").as("r")), iters) { r =>
      val inbound = edges
        .join(r, edges("a") === r("node")).drop("node")
        .join(deg, edges("a") === deg("node")).drop("node")
        // scaled-integer contributions — see pageRank's note on the
        // cross-engine rounding tie
        .select(col("b"),
          floor(col("r") / col("od") * 1e9 + 0.5).cast("long").as("contrib"))
        .groupBy(col("b"))
        .agg(sum(col("contrib")).as("s"))
      tele.join(inbound, tele("node") === inbound("b"), "left")
        .select(tele("node"),
          (floor(((lit(1.0) - lit(damping)) * col("tele") +
            lit(damping) * coalesce(col("s").cast("double") / 1e9, lit(0.0))) * 1e9 + 0.5) / 1e9)
            .as("r"))
    }.select(col("node"), col("r").as("ppr"))
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, made deterministic): every node starts as its own
    * community, and each round EVERY node simultaneously adopts the
    * plurality label of its neighborhood, ties broken by the smallest
    * label. Synchronous update + total-order tie-break makes the
    * trajectory a pure function of the graph — the asynchronous,
    * random-order variant of the paper is faster to converge but
    * unreproducible, which disqualifies it for a curation pipeline
    * (the community assignment feeds downstream keeper policies, so
    * re-running it must not reshuffle the corpus).
    *
    * Community detection is the cheap mid-ground between connected
    * components (too coarse: one bridge edge fuses two template farms)
    * and dense-subgraph mining (too expensive): on a dedup candidate
    * graph, LPA communities ARE the near-dup neighborhoods worth
    * verifying pair-wise.
    *
    * Scale shape: per round, one equi join of the directed edge list
    * against the label vector (shuffle keyed on the source vertex) and
    * TWO key-partitioned aggregations — (node, label) plurality counts,
    * then a per-node argmax via `min(struct(-count, label))` so partial
    * aggregation applies (a window would sort whole partitions for the
    * same answer). Label vector never leaves the cluster; the directed
    * edge list is materialized once (`localCheckpoint`) because every
    * round re-reads it. Deep loops truncate label lineage every 3
    * rounds — the [[ConnectedComponents]] plan-compounding lesson,
    * gated exactly like [[pageRank]] so shallow oracle-able runs skip
    * the materialization cost. */
  def labelPropagation(edges0: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = canonicalEdges(edges0)
    val e = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    Iterate.rounds(e.select(col("a").as("node")).distinct()
        .select(col("node"), col("node").as("label")), rounds) { l =>
      e.join(l, e("a") === l("node")).drop("node")
        .groupBy(col("b"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("b"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("lab"))).as("m"))
        .select(col("b").as("node"), col("m.lab").as("label"))
    }
  }

  /** Bounded k-core peeling census: `rounds` iterations of "drop every
    * vertex with degree < k, restrict edges to survivors", reporting
    * `(peel_round, n_vertices, n_edges)` for round 0 (the input graph)
    * through round `rounds`. The trajectory IS the convergence
    * evidence — when two consecutive rows match, the k-core has been
    * reached — and a fixed round count is what makes an iterative
    * graph computation oracle-able as unrolled SQL (the qg03 lesson).
    *
    * k-core membership is the standard graph-quality gate for derived
    * link/co-occurrence graphs (spam and template farms live in low
    * cores; a dedup candidate graph's dense cores are the clusters
    * worth verifying first).
    *
    * Scale shape: each round is one endpoint-explode hash aggregation
    * (degree census) plus two semi joins keyed on the edge endpoints —
    * all key-partitioned shuffles, no driver-side data, and the edge
    * set only ever shrinks. `localCheckpoint` truncates lineage per
    * round exactly like [[ConnectedComponents]], so round r's plan
    * never re-derives rounds 0..r−1. */
  def kCorePeelCensus(edges0: DataFrame, k: Int = 2, rounds: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    def censusRow(r: Int, e: DataFrame, deg: DataFrame): DataFrame =
      deg.agg(count(lit(1)).as("n_vertices"))
        .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
        .select(lit(r.toLong).as("peel_round"), col("n_vertices"), col("n_edges"))
    var e = canonicalEdges(edges0).localCheckpoint()
    var deg = degrees(e)
    val rows = Seq.newBuilder[DataFrame]
    rows += censusRow(0, e, deg)
    for (r <- 1 to rounds) {
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      e = e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
      deg = degrees(e)
      rows += censusRow(r, e, deg)
    }
    rows.result().reduce(_ unionByName _).orderBy(col("peel_round"))
  }

  /** Exact neighborhood function — N(r) = number of ordered (u, v)
    * pairs with dist(u, v) ≤ r over the undirected graph, for
    * r = 0..maxR, plus the average ball size N(r)/|V|. THE
    * distance-distribution read (effective diameter, average distance,
    * small-world checks) taken before any shortest-path-flavored
    * operator is sized.
    *
    * Shape: per round one equi join of the reachability pair set
    * against the directed edge list + one distinct — frontier
    * expansion with the pair set as state. EXACT is honest about its
    * cost: the state is the materialized ball membership, up to |V|²
    * pairs on a small-diameter giant component, which is why this mode
    * is the ORACLE-ABLE small-graph truth and [[neighborhoodFunctionApprox]]
    * (HyperBall — |V| fixed-size HLL registers, Boldi et al. 2011) is
    * the 100 TB path. Lineage truncates per round; per-round counts
    * are metadata-scalar collects (the justified-collect class). */
  def neighborhoodFunction(edges0: DataFrame, maxR: Int): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1, got $maxR")
    val spark = edges0.sparkSession
    import spark.implicits._
    val edges = canonicalEdges(edges0).localCheckpoint()
    val dir = edges.select(col("a").as("s"), col("b").as("d"))
      .union(edges.select(col("b").as("s"), col("a").as("d")))
    val verts = dir.select(col("s").as("u")).distinct()
    val nV = verts.count()
    var reach = verts.select(col("u"), col("u").as("v")).localCheckpoint()
    val rows = Seq.newBuilder[(Int, Long, Double)]
    // nV/nV, not a 1.0 literal: an EMPTY graph (sf0.001's co-activity
    // graph has no co-active user pair) must read 0/0 = NaN like every
    // later radius — the oracle's SQL division does, and a hardcoded
    // 1.0 was the one sf0.001 sweep mismatch
    rows += ((0, nV, nV.toDouble / nV.toDouble))
    for (r <- 1 to maxR) {
      val expanded = reach.join(dir, reach("v") === dir("s"))
        .select(reach("u"), dir("d").as("v"))
      reach = Iterate.pin(reach.union(expanded).distinct())
      val n = reach.count()
      rows += ((r, n, n.toDouble / nV.toDouble))
    }
    rows.result().toDF("r", "n_pairs", "avg_ball")
  }

  /** HyperBall (Boldi, Rosa & Vigna 2011): the approximate neighborhood
    * function that survives 100 TB graphs. State = ONE fixed-size HLL
    * sketch per vertex (its ball membership); per round each vertex
    * unions its neighbors' sketches into its own — a join + one
    * `hll_union_agg` hash aggregation, so round cost is |E| sketch
    * messages and state never exceeds |V| · 2^lgK bytes no matter how
    * the balls grow (exactly where [[neighborhoodFunction]]'s |V|²
    * pair state dies). N̂(r) = Σᵤ estimate(ball(u)).
    *
    * Estimates are engine-specific sketch bits → spec-gated against
    * the exact twin (the HLL/CMS/KLL contract discipline), never
    * oracle-hashed. */
  def neighborhoodFunctionApprox(edges0: DataFrame, maxR: Int, lgK: Int = 12): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1, got $maxR")
    require(lgK >= 4 && lgK <= 21, s"lgK out of the sketch library's range: $lgK")
    val spark = edges0.sparkSession
    import spark.implicits._
    val edges = canonicalEdges(edges0).localCheckpoint()
    val dir = edges.select(col("a").as("s"), col("b").as("d"))
      .union(edges.select(col("b").as("s"), col("a").as("d")))
    var sk = Iterate.pin(dir.select(col("s").as("u")).distinct()
      .groupBy(col("u")).agg(expr(s"hll_sketch_agg(u, $lgK)").as("sk")))
    val nV = sk.count()
    def estimate(s: DataFrame): Double =
      s.agg(sum(expr("hll_sketch_estimate(sk)"))).as[Double].head()
    val rows = Seq.newBuilder[(Int, Double, Double)]
    val e0 = estimate(sk)
    rows += ((0, e0, e0 / nV.toDouble))
    for (r <- 1 to maxR) {
      val msgs = dir.join(sk, dir("d") === sk("u"))
        .select(dir("s").as("u"), col("sk"))
      sk = Iterate.pin(
        msgs.union(sk.select(col("u"), col("sk")))
          .groupBy(col("u")).agg(expr("hll_union_agg(sk)").as("sk")))
      val est = estimate(sk)
      rows += ((r, est, est / nV.toDouble))
    }
    rows.result().toDF("r", "n_pairs_est", "avg_ball_est")
  }
}

package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Distributed connected components over an undirected edge list —
  * the step that turns a near-dup PAIR list (qd03/qd04/qd05 output)
  * into dedup DECISIONS: transitive closure groups pairs into
  * clusters, each cluster keeps one canonical document.
  *
  * Algorithm: iterated min-label propagation. Every vertex starts
  * labeled with its own id; each round it takes the min of its own
  * label and its neighbors' labels; fixpoint = every vertex holds the
  * min id of its component. Each round is one shuffle join
  * (edges ⋈ labels on the edge key) plus one per-vertex min
  * aggregate — no driver-side graph state, vertices never collect.
  *
  * Scale: rounds = O(log diameter) — each round unions in the
  * pointer-doubled labels (comp(comp(v))), halving every vertex's
  * distance to its component min (measured 8x on a 50k-vertex
  * replication-chained pair graph vs plain propagation). Near-dup
  * graphs are dense star/clique-like clusters anyway (diameter ≤ ~3),
  * so the loop typically runs 3-4 rounds regardless of corpus size;
  * the per-round cost is the edge shuffle, which AQE handles like any
  * other key join. The driver loop is over ROUNDS (bounded by
  * maxIter), not rows; the only driver actions are the per-round
  * pin + a LIMIT-1 convergence probe ([[Iterate.fixpoint]]).
  */
object ConnectedComponents {

  /** (id, component) for every vertex in `edges`; component = min
    * vertex id of the connected component. Deterministic; pointer
    * doubling converges in ⌈log₂ diameter⌉ + O(1) rounds (hard-capped
    * at `maxIter`, then returns the best labels so far — callers
    * wanting a guarantee size maxIter above log₂ of the worst
    * plausible diameter; ConnectedComponentsSpec pins the bound on a
    * 10k-vertex path).
    *
    * When would this shape stop being enough? Label propagation (even
    * doubled) keeps the EDGE list as the per-round join input, so a
    * giant component doesn't concentrate on one task — but the
    * per-round label table keeps one row per vertex forever. The
    * alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14)
    * additionally REWRITES edges toward the minimum each round,
    * shrinking the active edge set and skew together; it becomes worth
    * its extra per-round shuffles when components span a large
    * fraction of a 100 TB corpus (web-graph-like, diameter in the
    * hundreds) rather than the diameter-≤~3 clique clusters near-dup
    * pair lists produce. */
  def run(edges: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
          maxIter: Int = 20): DataFrame =
    runCounted(edges, aCol, bCol, maxIter)._1

  /** [[run]] plus the number of label-propagation rounds executed —
    * the spec hook that pins O(log diameter) convergence. */
  private[graft] def runCounted(edges: DataFrame, aCol: String = "a_id",
                                bCol: String = "b_id",
                                maxIter: Int = 20): (DataFrame, Int) = {
    // symmetric closure: propagate minima in both directions per round
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
    // r14 optimization (labels bit-identical): the edge list is
    // PRE-PARTITIONED on the join key before its one-off pin —
    // localCheckpoint preserves outputPartitioning, so every round's
    // join re-shuffles only the (smaller) label vector, never the edge
    // list (guide §2.4: two ops keyed the same way share one exchange).
    // At 100 TB the edge list is the heavy side; shuffling it once
    // instead of once per round is the scale win, and at toy scale it
    // removes one exchange per round.
    val symC = Iterate.pin(sym.repartition(col("dst")))
    val init = Iterate.pin(
      symC.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
    def round(labels: DataFrame): DataFrame = {
      val viaNeighbors = symC
        .join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .select(col("src").as("id"), col("comp"),
          lit(null).cast(labels.schema("comp").dataType).as("old"))
      // pointer doubling: also offer every vertex its label's label
      // (comp(comp(v))) — the distance to the component min then halves
      // per round, so convergence is O(log diameter) instead of
      // O(diameter); without it, replication-chained near-dup clusters
      // (long paths) were measured taking 3-4x the rounds
      val compressed = labels.select(col("id"), col("comp").as("mid"))
        .join(labels.select(col("id").as("mid"), col("comp")), "mid")
        .select(col("id"), col("comp"),
          lit(null).cast(labels.schema("comp").dataType).as("old"))
      // r14: the previous label rides through the min-aggregation (every
      // vertex has exactly one current row, min ignores nulls), so the
      // convergence probe is a filter over the pinned round output
      // instead of a second join + shuffle per round
      viaNeighbors
        .union(labels.select(col("id"), col("comp"), col("comp").as("old")))
        .union(compressed)
        .groupBy("id").agg(min("comp").as("comp"), min("old").as("old"))
    }
    val (labels, rounds, _) = Iterate.fixpoint(init, maxIter, round,
      col("comp") =!= col("old"), _.select(col("id"), col("comp")))
    (labels, rounds)
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14)
    * — the GIANT-component algorithm [[run]]'s doc points at. Label
    * propagation carries a stable per-vertex label table through every
    * round; this instead REWRITES the edge list itself toward each
    * neighborhood's minimum, so components collapse into depth-1 stars
    * and the active edge set shrinks as it converges:
    *
    *  - large-star: every vertex points its STRICTLY LARGER neighbors
    *    at the minimum of its neighborhood (including itself),
    *  - small-star: every vertex points its not-larger neighbors and
    *    itself at that minimum.
    *
    * Both steps are one groupBy(min) + one join-back per round — same
    * shuffle count as a propagation round — but the invariant that
    * makes it the web-graph choice is the shrinking, skew-spreading
    * edge set: a vertex with a million neighbors stops being a single
    * key after one large-star round. For near-dup clique clusters
    * (diameter ≤ ~3) [[run]] converges in fewer rounds with less
    * per-round work, which is why it stays the default; the spec pins
    * both algorithms to identical labels on every fixture.
    *
    * Each round is an [[Iterate.fixpoint]] round like [[run]]'s;
    * convergence = the star edge set reaches a fixpoint,
    * tested by membership flags riding through smallStar's own (u, v)
    * aggregation (exact set equality, no extra per-round job).
    */
  def runAlternating(edges: DataFrame, aCol: String = "a_id",
                     bCol: String = "b_id", maxIter: Int = 30): DataFrame =
    runAlternatingCounted(edges, aCol, bCol, maxIter)._1

  private[graft] def runAlternatingCounted(edges: DataFrame, aCol: String = "a_id",
                                           bCol: String = "b_id",
                                           maxIter: Int = 30): (DataFrame, Int) = {
    val verts = Iterate.pin(
      edges.select(col(aCol).as("id"))
        .union(edges.select(col(bCol).as("id"))).distinct())
    // star edges always point child -> candidate-root; self-loops drop
    val stars = Iterate.pin(
      edges.select(col(aCol).as("u"), col(bCol).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())

    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // r15: smallStar's trailing distinct() IS a (u, v)-keyed aggregation,
    // so the convergence probe rides through it instead of paying its own
    // job: the previous round's edge set unions in flagged is_old, the
    // candidate edges flagged is_new, and max() per (u, v) yields the
    // membership of each edge in {e, next}. next = the is_new rows
    // (identical to the old distinct()); converged = no row where the
    // flags differ (exact set equality, both directions — the same test
    // the old count-equality + exceptAll pair computed with 2 extra
    // exchanges and 2 extra actions per round). smallStar's re-keying is
    // immaterial: the probe compares SETS after the aggregation, not
    // per-group lineage.
    def smallStarProbed(cur: DataFrame, prev: DataFrame): DataFrame = {
      val down = cur.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = down.groupBy(col("u")).agg(min(col("v")).as("m"))
      val moved = down.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val self = mins.select(col("u"), col("m").as("v"))
      moved.union(self)
        .filter(col("u") =!= col("v"))
        .withColumn("is_new", lit(true)).withColumn("is_old", lit(false))
        .union(prev.withColumn("is_new", lit(false)).withColumn("is_old", lit(true)))
        .groupBy(col("u"), col("v"))
        .agg(max(col("is_new")).as("is_new"), max(col("is_old")).as("is_old"))
    }

    val (e, rounds, _) = Iterate.fixpoint(stars, maxIter,
      cur => smallStarProbed(largeStar(cur), cur),
      col("is_new") =!= col("is_old"),
      _.filter(col("is_new")).select(col("u"), col("v")))
    // a maxIter cutoff can leave a vertex with several outgoing star
    // edges (smallStar emits one per group it appears in); min-reduce
    // to one best-so-far label per vertex so the contract (exactly one
    // row per vertex) holds converged or not — at the fixpoint this
    // aggregate is a no-op on already-unique keys
    val labels = verts
      .join(e.select(col("u").as("id"), col("v").as("comp")), Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(coalesce(col("comp"), col("id"))).as("comp"))
    (labels, rounds)
  }

  /** Full-corpus dedup decisions from a near-dup pair list: every doc
    * mapped to its cluster keeper (min doc id of its transitive
    * cluster; docs in no pair keep themselves). One left join of the
    * corpus against the (small) pair-vertex label table — broadcast
    * when the pair list is, as usual, a tiny fraction of the corpus. */
  def dedupDecisions(docs: DataFrame, pairs: DataFrame,
                     idCol: String = "doc_id",
                     aCol: String = "a_id", bCol: String = "b_id",
                     alternating: Boolean = false): DataFrame = {
    val labels = if (alternating) runAlternating(pairs, aCol, bCol)
                 else run(pairs, aCol, bCol)
    val comp = labels.select(col("id").as(idCol), col("comp"))
    docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("cluster_id"))
      .withColumn("is_dup", col(idCol) =!= col("cluster_id"))
  }

  /** Incremental label maintenance: fold a NEW batch's pairs into
    * existing component labels without re-closing the full historical
    * pair graph. Correctness rests on labels being a lossless quotient
    * of connectivity: prior components are preserved by adding one
    * (id → comp) edge per previously-labeled vertex — a star to its
    * component root — so the rerun closes `newPairs` ∪ stars instead
    * of every pair ever seen. The rerun's input is |prior vertices| +
    * |batch pairs| edges; the full recompute would be |all historical
    * pairs| and grows without bound. Output shape matches [[run]]:
    * (id, comp), comp = min id across the MERGED components (labels
    * can only coarsen — merged clusters relabel to the global min,
    * exactly as a full recompute would). Pair this with
    * IncrementalDedup's signature store: the store finds cross-batch
    * pairs, this folds them into standing clusters. */
  def mergeBatch(labels: DataFrame, newPairs: DataFrame,
                 aCol: String = "a_id", bCol: String = "b_id",
                 maxIter: Int = 20): DataFrame = {
    val stars = labels.select(col("id").as(aCol), col("comp").as(bCol))
    run(stars.unionByName(newPairs.select(col(aCol), col(bCol))), aCol, bCol, maxIter)
  }

  /** [[dedupDecisions]] with a quality-aware keeper policy: instead of
    * the min-id member, each cluster keeps the member that sorts FIRST
    * by `prefCols` descending (id ascending as the final tie-break) —
    * "keep the best copy", the decision real pipelines make when
    * near-dups differ in quality (qd11's policy at exact-group level,
    * lifted to transitive clusters). `prefCols` must exist on `docs`.
    * The keeper argmax is a per-cluster window ORDER BY — near-dup
    * clusters are small by construction (the funnels bound pair
    * volume), so no hot partition; the cluster label itself still
    * comes from the O(log d) pointer-doubling run. */
  def dedupDecisionsBy(docs: DataFrame, pairs: DataFrame,
                       prefCols: Seq[String],
                       idCol: String = "doc_id",
                       aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    require(prefCols.nonEmpty, "prefCols must name at least one quality column")
    val base = dedupDecisions(docs, pairs, idCol, aCol, bCol)
      .join(docs.select(col(idCol) +: prefCols.map(col): _*), Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(prefCols.map(c => col(c).desc) :+ col(idCol).asc: _*)
    base
      .withColumn("keeper_id", first(col(idCol)).over(w))
      .select(col(idCol), col("cluster_id"), col("keeper_id"),
        (col(idCol) =!= col("keeper_id")).as("is_dup"))
  }
}

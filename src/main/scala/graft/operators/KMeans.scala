package graft.operators

import graft.functions.VectorFunctions.norm2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the
  * clustering workhorse of the embedding plane: SemDeDup's
  * cluster-then-prune (qd13) and the IVF coarse quantizer (qs03) both
  * take a centroid table as input; this operator REFINES the
  * deterministic sampled seeds those consumers start from.
  *
  * Scale shape per iteration (the textbook two-shuffle plan):
  *  - assign: centroids broadcast, nearest-cell argmin is a
  *    min-of-struct aggregate fused into the corpus scan — no shuffle
  *    of the corpus beyond the per-id agg;
  *  - update: (cell, dim) explode → one map-side-combined mean per
  *    centroid coordinate → rebuild the (tiny) centroid table.
  *    Dim-explode multiplies ROWS by the dimension but carries only
  *    (int, int, double) triples; partial aggregation collapses them
  *    to |cells|×dim cells per partition before any exchange.
  * Centroid lineage is truncated every iteration (tiny table, and the
  * broadcast side of round t should not drag round t−1's plan).
  *
  * Cross-engine exactness (oracle-gated like qt25's GD): per-member
  * contributions — both centroid-mean coordinates and inertia terms —
  * are rounded to 6 decimals and summed as DECIMAL (order-free);
  * means are then single IEEE divisions; distances reuse the
  * [[graft.functions.expressions.DotProduct]] left-fold that DuckDB's
  * `list_dot_product` bit-matches. Ties in the argmin break by cell
  * id (min-of-struct), never by arrival order.
  */
object KMeans {

  /** Element-wise member mean per cell with exact-decimal sums:
    * (cell, c_vec: array<double>, c_nrm2, n_members). Cells with no
    * members disappear (standard Lloyd's: dead centroids drop). */
  def update(assigned: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val d = assigned.select(col("cell"),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
    val means = d.groupBy(col("cell"), col("dim"))
      .agg((sum(round(col("v"), 6).cast("decimal(28,6)")).cast("double") /
              count(lit(1))).as("mv"),
           count(lit(1)).as("n"))
    means.groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mv")))),
             x => x.getField("mv")).as("c_vec"),
           first(col("n")).as("n_members"))
      .withColumn("c_nrm2", norm2(col("c_vec")))
  }

  /** `iters` Lloyd rounds from the deterministic sampled seeds.
    * Returns (final centroids, the assignment that produced them). */
  def lloyd(corpus: DataFrame, k: Int, iters: Int,
            idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    require(k > 0 && iters > 0)
    // r15: freeze the loop-invariant corpus projection ONCE — the seed
    // sample, every round's assignment, and the final (lazy) assigned
    // frame all re-scanned the source table otherwise: iters+2 source
    // scans collapse to one checkpoint write (guide §2.4). Values are
    // untouched, so everything downstream is bit-identical.
    val frozen = corpus.select(col(idCol), col(vecCol)).localCheckpoint()
    var cents = Iterate.pin(
      IvfIndex.centroids(frozen, k, idCol, vecCol))
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = IvfIndex.assign(frozen, cents, idCol, vecCol)
      cents = Iterate.pin(update(assigned, vecCol))
    }
    (cents, assigned)
  }

  /** Product-quantization fit: `slices` contiguous `subDim`-wide
    * sub-spaces, each learning its own k-cell Lloyd codebook from the
    * shared md5-ordered seeds — in ONE pass over the corpus per round
    * instead of one per sub-space (r14 optimization; guide §2.3/§2.4:
    * the four per-subspace chains each re-scanned and re-shuffled the
    * corpus and checkpointed their own centroid tables — 4 scans,
    * 4 argmin shuffles and 8 eager actions per fit, where the fused
    * frame pays 1/1/2. At 100 TB the corpus scan is the dominant cost,
    * so the fusion is a ~4x read/shuffle saving, not a local trick).
    *
    * BIT-IDENTICAL to running [[lloyd]] on each slice independently:
    *  - the seeds are the same rows (centroid sampling orders by
    *    (md5(id), id) — independent of which slice is taken);
    *  - assignment argmin, per-(subspace, cell, dim) decimal means and
    *    c_nrm2 are computed group-by-group on DISJOINT groups, with the
    *    exact expressions of [[IvfIndex.assign]] / [[update]];
    *  - ties break by cell id via the same min-of-struct.
    * Returns (cents: (subspace, cell, c_vec, c_nrm2, n_members),
    * assigned: (id, subspace, sub, cell)). */
  def lloydSubspaces(corpus: DataFrame, k: Int, iters: Int, slices: Int,
                     subDim: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(k > 0 && iters > 0 && slices > 0 && subDim > 0)
    import org.apache.spark.sql.expressions.Window
    val subSlices = (0 until slices).map(s =>
      slice(col(vecCol).cast("array<double>"), s * subDim + 1, subDim))
    // shared seeds: same (md5(id), id) order the per-subspace
    // centroids() sample used — slice-independent by construction
    val w = Window.partitionBy(col(idCol) * 0).orderBy(col("ord"), col(idCol))
    val seeds = corpus
      .select(col(idCol), col(vecCol), md5(col(idCol).cast("string")).as("ord"))
      .orderBy(col("ord"), col(idCol)).limit(k)
      .select((row_number().over(w) - 1).as("cell"), col(vecCol))
    var cents = Iterate.pin(
      seeds.select(col("cell"),
          posexplode(array((0 until slices).map(s =>
            slice(col(vecCol).cast("array<double>"), s * subDim + 1, subDim)): _*))
            .as(Seq("subspace", "c_vec")))
        .select(col("subspace"), col("cell"), col("c_vec"),
          norm2(col("c_vec")).as("c_nrm2"),
          lit(null).cast("long").as("n_members")))
    // one zero-shuffle projection: (id, subspace, sub) — frozen ONCE
    // (r15): every round's assignment and the final (lazy) assigned
    // frame re-scanned and re-exploded the source table otherwise
    // (guide §2.4); same data volume as the source (slices disjoint
    // sub-vectors per row), values untouched, so bit-identical.
    val subs = corpus.select(col(idCol),
      posexplode(array(subSlices: _*)).as(Seq("subspace", "sub")))
      .localCheckpoint()
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = subs
        .join(broadcast(cents.select(col("subspace"), col("cell"),
          col("c_vec"), col("c_nrm2"))), Seq("subspace"))
        .groupBy(col(idCol), col("subspace"))
        .agg(first(col("sub")).as("sub"),
          min(struct((col("c_nrm2") - lit(2.0) *
              graft.functions.VectorFunctions.dot(col("sub"), col("c_vec")))
              .as("score"),
            col("cell"))).as("m"))
        .select(col(idCol), col("subspace"), col("sub"), col("m.cell").as("cell"))
      val means = assigned
        .select(col("subspace"), col("cell"),
          posexplode(col("sub")).as(Seq("dim", "v")))
        .groupBy(col("subspace"), col("cell"), col("dim"))
        .agg((sum(round(col("v"), 6).cast("decimal(28,6)")).cast("double") /
                count(lit(1))).as("mv"),
             count(lit(1)).as("n"))
      cents = Iterate.pin(
        means.groupBy(col("subspace"), col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("mv")))),
                 x => x.getField("mv")).as("c_vec"),
               first(col("n")).as("n_members"))
          .withColumn("c_nrm2", norm2(col("c_vec"))))
    }
    (cents, assigned)
  }

  /** Per-cluster quality census after `iters` rounds: member count,
    * centroid norm², and inertia (Σ members' squared L2 distance to
    * their FINAL centroid, exact-decimal summed). The convergence /
    * cluster-balance report read before trusting the clustering for
    * SemDeDup pruning or IVF cell layout. */
  def census(corpus: DataFrame, k: Int, iters: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cents, assigned) = lloyd(corpus, k, iters, idCol, vecCol)
    val dist = col("nrm2") - lit(2.0) * graft.functions.VectorFunctions.dot(
      col(vecCol), col("c_vec")) + col("c_nrm2")
    assigned.withColumn("nrm2", norm2(col(vecCol)))
      .join(broadcast(cents.select(col("cell"), col("c_vec"), col("c_nrm2"))), Seq("cell"))
      .groupBy(col("cell"), col("c_nrm2"))
      .agg(count(lit(1)).as("n_members"),
           sum(round(dist, 6).cast("decimal(28,6)")).cast("double").as("inertia"))
      .select(col("cell").cast("int").as("cell"), col("n_members"),
              round(col("c_nrm2"), 6).as("c_nrm2"), col("inertia"))
  }
}

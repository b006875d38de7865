package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) index with a real fit/apply split.
  *
  * The coarse quantizer is a *deterministic sampled-centroid* one: the
  * `nCells` corpus vectors ranking first by `md5(id)` become the
  * centroids (a seedless pseudo-random sample — any engine reproduces
  * it, which is what makes the qs03 oracle possible). Each vector is
  * assigned to the centroid minimizing squared L2 distance; since
  * |v|² is constant per vector, the argmin uses the monotone surrogate
  * `|c|² − 2·v·c`, evaluated with the same bit-deterministic dot
  * product the cosine oracle already relies on. KMeans (a
  * data-adaptive quantizer) remains available offline via
  * [[Similarity.ivfTopKKMeans]]; IVF correctness does not depend on
  * which quantizer built the cells.
  *
  * Scale design (100 TB):
  *  - [[build]] is the one-off index job: assign every vector, write
  *    the corpus partitioned BY CELL. Fit never runs at query time.
  *  - [[topKFromStorage]] is the query path: probe cells are computed
  *    from the (tiny) centroid table, and the corpus scan carries
  *    `cell IN (...)` as a PARTITION filter — a query touches
  *    nProbe/nCells of the data (IvfIndexSpec pins `PartitionFilters`
  *    in the plan; PLANS.md records it).
  *  - [[assign]] shuffles once on the id for the argmin aggregation
  *    (map-side partial agg keeps the exchange at corpus size, not
  *    corpus × nCells); centroids are always broadcast.
  */
object IvfIndex {

  /** Deterministic sampled centroids: (cell, c_vec, c_nrm2). */
  def centroids(corpus: DataFrame, nCells: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // constant partition key: the input is already LIMITed to nCells
    // rows, so the single-partition window is deliberate. The key is
    // id*0, not lit(0): Spark 4 constant-folds a literal partition spec
    // to empty and then WindowExec warns on every run; a non-foldable
    // constant expresses the same single partition silently.
    val w = Window.partitionBy(col(idCol) * 0).orderBy(col("ord"), col(idCol))
    corpus.select(col(idCol), col(vecCol), md5(col(idCol).cast("string")).as("ord"))
      .orderBy(col("ord"), col(idCol)).limit(nCells)
      .select((row_number().over(w) - 1).as("cell"),
              col(vecCol).as("c_vec"), norm2(col(vecCol)).as("c_nrm2"))
  }

  /** Nearest-centroid assignment: corpus (id, vec) + `cell`. Argmin by
    * (score, cell) via a min-of-struct aggregate — partially
    * aggregatable, deterministic ties. */
  def assign(corpus: DataFrame, cents: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .groupBy(col(idCol))
      .agg(first(col(vecCol)).as(vecCol),
           min(struct((col("c_nrm2") - lit(2.0) * dot(col(vecCol), col("c_vec")))
                        .as("score"),
                      col("cell"))).as("m"))
      .select(col(idCol), col(vecCol), col("m.cell").as("cell"))

  /** Per-query probe list: the `nProbe` nearest cells, deterministic
    * ties. `queries` must carry (query_id, q_vec). */
  def probeCells(queries: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val scored = queries.crossJoin(broadcast(cents))
      .select(col("query_id"),
              (col("c_nrm2") - lit(2.0) * dot(col("q_vec"), col("c_vec"))).as("score"),
              col("cell"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").asc, col("cell").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cell"))
  }

  /** Top-k over an assigned corpus: probe cells per query, score only
    * vectors inside probed cells, rank by (cos desc, id asc). */
  def topK(assigned: DataFrame, cents: DataFrame, queryIds: Seq[Long],
           k: Int, nProbe: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val queries = assigned.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
              sqrt(norm2(col(vecCol))).as("q_nrm"))
    val qp = probeCells(queries, cents, nProbe).join(queries, "query_id")
    val c = assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
                            col("cell"), sqrt(norm2(col(vecCol))).as("c_nrm"))
    val sims = c.join(broadcast(qp), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    sims.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** One-off index build: centroids + corpus partitioned by cell on
    * storage. The partition layout is what turns probing into partition
    * pruning at query time. */
  def build(corpus: DataFrame, path: String, nCells: Int,
            idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cents = centroids(corpus, nCells, idCol, vecCol)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    assign(corpus, cents, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/assigned")
  }

  /** Query path against a built index: reads ONLY the probed cell
    * partitions. The probed cell ids (≤ |queries| × nProbe ints — index
    * metadata, not data) are collected so the `isin` lands in the scan
    * as a PartitionFilter rather than relying on runtime DPP. */
  def topKFromStorage(spark: SparkSession, path: String, queryIds: Seq[Long],
                      k: Int, nProbe: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKPruned(spark, path, queryIds, k, nProbe, idCol, vecCol,
      tolerateBloat = false)

  /** Shared probe/prune/score core for [[topKFromStorage]] and
    * [[IncrementalIvf.serve]] — ONE implementation of the pruned scan
    * (the leak-fix class of bug must never need fixing twice). The
    * single variation point is the ranking: `tolerateBloat = false`
    * ranks with `row_number` (clean-store contract); `true` ranks with
    * `dense_rank` + a final distinct, which equals `row_number`
    * exactly on a clean store and collapses the bit-identical
    * duplicate rows a crash-window append replay leaves
    * (IncrementalIvf's bloat contract) — at the scored-candidates
    * level, so no vector payload ever shuffles for the guard
    * (measured at a 4M-row store: 664 MB → 0.03 MB, NOTES_r13). */
  private[operators] def topKPruned(spark: SparkSession, path: String,
                                    queryIds: Seq[Long], k: Int, nProbe: Int,
                                    idCol: String, vecCol: String,
                                    tolerateBloat: Boolean): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = spark.read.parquet(s"$path/assigned")
    val queries = assigned.filter(col(idCol).isin(queryIds: _*))
      .dropDuplicates(idCol) // |queryIds|-sized either way
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
              sqrt(norm2(col(vecCol))).as("q_nrm"))
    // eager localCheckpoint, not persist: read twice (cell collect +
    // scoring join); a persist would leak one CacheManager entry per
    // query in a long session — lineage-owned blocks GC with the RDD
    val qp = probeCells(queries, cents, nProbe).join(queries, "query_id")
      .localCheckpoint(true)
    val cells = qp.select(col("cell")).distinct().collect().map(_.get(0))
    val pruned = assigned.filter(col("cell").isin(cells.toSeq: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
              col("cell"), sqrt(norm2(col(vecCol))).as("c_nrm"))
    val sims = pruned.join(broadcast(qp), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    if (tolerateBloat)
      sims.withColumn("rk", dense_rank().over(w).cast("long")).filter(col("rk") <= k)
        .distinct()
    else
      sims.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative proportional fitting (raking / RAS balancing — Deming &
  * Stephan 1940): fit a two-way contingency table to TARGET row and
  * column marginals by alternately scaling every row to its row target,
  * then every column to its column target. The two-dimensional corpus
  * balancer: qp13/qp11 set a target distribution over ONE dimension
  * (source); raking answers "match this source distribution AND this
  * language distribution simultaneously" — the classic survey-weighting
  * move, and the resampling-rate solver for joint (source, lang)
  * corpus specs where per-cell targets are over-determined.
  *
  * Invariant worth knowing: raking preserves every interaction odds
  * ratio of the seed table (it finds the maximum-entropy table with the
  * requested marginals among tables with the seed's cross-product
  * structure) — the fit changes marginals, never association
  * (spec-pinned). Structural zeros (absent cells) stay zero.
  *
  * Scale shape: ONE corpus scan builds the (row, col, n) grid; every
  * sweep thereafter is arithmetic on the grid — |rows|·|cols| cells,
  * metadata-sized — with marginal sums as broadcast joins. 100 TB of
  * documents costs the same as 100 MB after the first aggregation.
  *
  * Determinism contract (the qt29 grid discipline): every scaled mass
  * re-quantizes to the 1e-6 grid (`round(·, 6)`) before the next
  * marginal consumes it, and marginal sums run over DECIMAL(28,6)
  * casts — so each step's inputs are bit-identical cross-engine and
  * the IEEE multiply/divide that follows is too.
  */
object Raking {

  /** `cells`: (rowCol, colCol, nCol ≥ 0) — observed cell masses, one
    * row per OCCUPIED cell. `rowTargets`: (rowCol, target) and
    * `colTargets`: (colCol, target) — desired marginal masses; every
    * key present in `cells` must carry a target with a positive
    * matching marginal. One sweep = scale rows to row targets, then
    * columns to column targets; after the final sweep the COLUMN
    * marginals match their targets exactly (to the 1e-6 grid) and row
    * marginals converge geometrically with `sweeps`.
    *
    * Returns (rowCol, colCol, m) — the fitted cell masses. */
  def rake(cells: DataFrame, rowCol: String, colCol: String, nCol: String,
           rowTargets: DataFrame, colTargets: DataFrame, sweeps: Int,
           driverGridCap: Long = 200000L): DataFrame = {
    require(sweeps > 0, s"sweeps must be positive, got $sweeps")
    validate(cells, rowCol, nCol, rowTargets, "row")
    validate(cells, colCol, nCol, colTargets, "column")
    val base = cells.select(col(rowCol), col(colCol), col(nCol).cast("double").as("m"))
      .localCheckpoint(true)
    // r14 optimization: below `driverGridCap` occupied cells the sweeps
    // run ON THE DRIVER (the justified-collect class — the grid is
    // metadata-sized by this operator's own contract: one row per
    // OCCUPIED (row, col) cell, the same order of magnitude as the
    // Pca/KMeans model state the library already collects). The
    // distributed loop paid ~2 aggregations + 4 broadcast builds + a
    // checkpoint per sweep — ~60 AQE stage-jobs for qp21's 3 sweeps
    // over a 20-cell grid, all scheduling latency. The driver loop
    // replicates Spark's arithmetic exactly:
    //   cast(m AS DECIMAL(28,6))  = BigDecimal.valueOf(m).setScale(6, HALF_UP)
    //   SUM(decimal)              = exact BigDecimal addition (order-free)
    //   CAST(sum AS DOUBLE)       = BigDecimal.doubleValue
    //   round(x, 6)               = BigDecimal.valueOf(x).setScale(6, HALF_UP).doubleValue
    // so the fitted masses are bit-identical to the distributed path
    // (which remains, for grids past the cap — e.g. two high-cardinality
    // dimensions at 100 TB).
    if (base.count() <= driverGridCap) {
      import java.math.{BigDecimal => JBD, RoundingMode}
      // equivalence boundary (r14 ADVICE): the exact BigDecimal sum
      // below matches the distributed SUM(DECIMAL(28,6)) only while the
      // true sum fits precision 28 (22 integer digits); past that the
      // distributed cast overflows to null while the driver keeps
      // summing. Realistic marginals sit ~15 digits below the line.
      def dec6(x: Double): JBD = JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP)
      def round6(x: Double): Double =
        JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue
      var grid = base.collect().map(r => (r.get(0), r.get(1), r.getDouble(2)))
      val rowT = rowTargets.select(col(rowCol), col("target").cast("double"))
        .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
      val colT = colTargets.select(col(colCol), col("target").cast("double"))
        .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
      def scale(keyOf: ((Any, Any, Double)) => Any,
                targets: Map[Any, Double]): Unit = {
        val sums = grid.groupBy(keyOf).map { case (k, cs) =>
          k -> cs.map(c => dec6(c._3)).reduce(_ add _).doubleValue
        }
        grid = grid.map { case c @ (a, b, v) =>
          val k = keyOf(c)
          (a, b, round6(v * (targets(k) / sums(k))))
        }
      }
      for (_ <- 1 to sweeps) {
        scale(_._1, rowT)
        scale(_._2, colT)
      }
      val spark = cells.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        base.schema(rowCol), base.schema(colCol),
        org.apache.spark.sql.types.StructField("m",
          org.apache.spark.sql.types.DoubleType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          grid.toSeq.map(c => org.apache.spark.sql.Row(c._1, c._2, c._3)), 1),
        schema)
    } else {
      var m = base
      for (_ <- 1 to sweeps) {
        // each scaling step references m TWICE (marginal sums + the join
        // back), so an unbroken lineage would double the plan subtree
        // per step — 2^(2·sweeps) replays of the grid aggregation (the
        // qg08 double-reference lesson). Truncate per sweep: the grid is
        // metadata-sized, the checkpoint is cheap, the plan stays flat.
        m = Iterate.pin(
          scaleTo(scaleTo(m, rowCol, rowTargets), colCol, colTargets))
      }
      m
    }
  }

  /** Fail-fast precondition check, once per rake: scaleTo's inner joins
    * would otherwise SILENTLY DROP cells whose key has no target row
    * (mass vanishes instead of erroring), and a non-positive marginal
    * sum or target turns the scale factor into NaN/Infinity that
    * propagates through every remaining sweep. ONE key-grid-sized job
    * per dimension: per-key marginals full-outer-joined to targets,
    * every violation classified in the plan, only violations collected
    * (justified collect: at most the 5-row sample; the same
    * metadata-sized frames scaleTo broadcasts). */
  private def validate(cells: DataFrame, key: String, nCol: String,
                       targets: DataFrame, what: String): Unit = {
    // null-cell census rides the marginal aggregation (no extra job):
    // a null mass is invalid input — the driver fast path would read it
    // as 0.0 while the distributed loop propagates null, so both paths
    // now reject it loudly instead of diverging (r14 ADVICE)
    val marginals = cells.groupBy(col(key))
      .agg(sum(col(nCol).cast(DecimalType(28, 6))).as("ms"),
        sum(when(col(nCol).isNull, 1L).otherwise(0L)).as("nulls"))
    val violations = marginals
      .join(targets.select(col(key), col("target")), Seq(key), "full_outer")
      .select(col(key),
        when(col("nulls") > 0, lit("null mass cell"))
          .when(col("target").isNull && col("ms").isNotNull, lit("no target"))
          .when(col("ms").isNotNull && col("target") <= 0, lit("non-positive target"))
          .when(col("ms").isNotNull && col("ms") <= 0, lit("non-positive observed marginal"))
          .as("why"))
      .filter(col("why").isNotNull)
      .limit(5).collect()
    require(violations.isEmpty,
      s"rake: invalid $what marginals (first ${violations.length}): " +
        violations.map(r => s"${r.get(0)} (${r.getString(1)})").mkString(", "))
  }

  /** Scale every `key` group of `m` so its DECIMAL-exact marginal sum
    * hits `targets.target`; each cell re-quantized to the 1e-6 grid. */
  private def scaleTo(m: DataFrame, key: String, targets: DataFrame): DataFrame = {
    val sums = m.groupBy(col(key))
      .agg(sum(col("m").cast(DecimalType(28, 6))).cast("double").as("ms"))
    m.join(broadcast(sums), key)
      .join(broadcast(targets), key)
      .select(m.columns.filter(_ != "m").map(col) :+
        round(col("m") * (col("target") / col("ms")), 6).as("m"): _*)
  }
}

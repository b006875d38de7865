package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Coverage beyond the reference's own workload — the SQL surface the
  * reference gets "for free" from MariaDB and we get from Spark SQL
  * (SURVEY.md §2.A "free in Spark SQL" notes): ROLLUP subtotals,
  * lateral explode aggregation, scalar-subquery-shaped comparisons.
  */
object ExtendedQueries {

  /** ROLLUP: nation × priority revenue with subtotal rows (grouping
    * sets). NULLS FIRST ordering pinned on both engines. */
  def rollupRevenue(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey")
      .filter($"n_nationkey" < 5)
      .rollup($"n_name", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy($"n_name".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val rollupRevenueSql: String =
    """SELECT n_name, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_nationkey < 5
      |GROUP BY ROLLUP (n_name, o_orderpriority)
      |ORDER BY n_name ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** posexplode over the embedding vectors → per-dimension corpus
    * statistics (exact decimal sums; float→double widening first). */
  def dimensionStats(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.embeddings
      .select($"vec_id", posexplode($"embedding").as(Seq("dim0", "v")))
      .select($"dim0".cast("long").as("dim"), $"v")
      .groupBy($"dim")
      // scaled-integer sum: per-element floor(v*1e9 + 0.5) is tie-free
      // binary quantization (a double->DECIMAL cast rounds the SHORTEST
      // RENDERING in Spark but the true binary value in DuckDB — one
      // element on the 1e-9 tie diverged the sf0.1 gate), and the
      // integer sum is partition-order-independent
      .agg(count(lit(1)).as("n"),
           sum(floor($"v".cast("double") * 1e9 + 0.5).cast("long")).as("__s"))
      .select($"dim", $"n",
        ($"__s".cast("double") / 1e9).as("sum_v"),
        ($"__s".cast("double") / 1e9 / $"n".cast("double")).as("avg_v"))
      .orderBy($"dim")
  }

  val dimensionStatsSql: String =
    """SELECT dim, COUNT(*) AS n,
      |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS sum_v,
      |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_v
      |FROM (SELECT unnest(range(len(embedding))) AS dim, unnest(embedding) AS v FROM embeddings)
      |GROUP BY dim ORDER BY dim""".stripMargin

  /** Scalar-subquery shape: customers spending more than 2× their
    * segment's average (two-level exact-decimal aggregation joined
    * back — the Spark plan keeps it as two hash aggregates + one
    * broadcast join, no correlated re-execution). */
  def bigSpenders(t: Tables): DataFrame = {
    import t.spark.implicits._
    val perCust = t.orders.groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast(DecimalType(18, 2))).as("spend_dec"))
    val withSeg = perCust
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .select($"o_custkey", $"c_mktsegment", $"spend_dec")
    val segAvg = withSeg.groupBy($"c_mktsegment")
      .agg((sum($"spend_dec").cast("double") / count(lit(1))).as("seg_avg"))
    withSeg
      .join(broadcast(segAvg), "c_mktsegment")
      .filter($"spend_dec".cast("double") > $"seg_avg" * 2.0)
      .select($"c_mktsegment", $"o_custkey",
              $"spend_dec".cast("double").as("spend"),
              round($"seg_avg", 4).as("seg_avg"))
      .orderBy($"c_mktsegment", $"o_custkey")
  }

  val bigSpendersSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
      |  FROM orders GROUP BY o_custkey),
      |with_seg AS (
      |  SELECT o_custkey, c_mktsegment, spend_dec
      |  FROM per_cust JOIN customer ON o_custkey = c_custkey),
      |seg_avg AS (
      |  SELECT c_mktsegment, CAST(SUM(spend_dec) AS DOUBLE) / COUNT(*) AS seg_avg
      |  FROM with_seg GROUP BY c_mktsegment)
      |SELECT w.c_mktsegment AS c_mktsegment, o_custkey,
      |  CAST(spend_dec AS DOUBLE) AS spend, round(seg_avg, 4) AS seg_avg
      |FROM with_seg w JOIN seg_avg s ON w.c_mktsegment = s.c_mktsegment
      |WHERE CAST(spend_dec AS DOUBLE) > seg_avg * 2.0
      |ORDER BY c_mktsegment, o_custkey""".stripMargin

  /** CUBE: segment × priority with all three margin types (row, column,
    * grand total) — completes the grouping-sets family next to q17's
    * ROLLUP. Same decimal-exact sum discipline. */
  def cubeEngagement(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .cube($"c_mktsegment", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy($"c_mktsegment".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val cubeEngagementSql: String =
    """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE (c_mktsegment, o_orderpriority)
      |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Commit-DAG k-hop ancestors (SURVEY.md §1.5.2: the reference's
    * `commit_parents` table, populated + queried). The testdata has no
    * git history, so the walk is modeled on `orders`: each customer's
    * order chain plays a repo's linear commit history (same edge-table
    * shape the hfc plane populates via Normalize.commitParents); the
    * query is graft.operators.CommitGraph.kHopAncestors — bounded
    * iterated self-join vs DuckDB's recursive CTE. */
  def commitAncestors(t: Tables): DataFrame = {
    import t.spark.implicits._
    import graft.operators.CommitGraph
    val commits = t.orders.select($"o_orderkey".as("sha"), $"o_custkey".as("repo"),
                                  $"o_orderdate".as("d"))
    val edges = CommitGraph.linearEdges(commits, "sha", "repo", Seq($"d".asc, $"sha".asc))
    CommitGraph.kHopAncestors(edges, 3)
      .orderBy($"commit_sha", $"ancestor_sha")
  }

  val commitAncestorsSql: String =
    """WITH RECURSIVE
      |c AS (SELECT o_orderkey sha, o_custkey repo, o_orderdate d FROM orders),
      |lagged AS (SELECT sha, lag(sha) OVER (PARTITION BY repo ORDER BY d ASC, sha ASC) parent
      |  FROM c),
      |edges AS (SELECT sha commit_sha, parent parent_sha FROM lagged WHERE parent IS NOT NULL),
      |anc AS (
      |  SELECT commit_sha, parent_sha AS ancestor_sha, 1 AS depth FROM edges
      |  UNION ALL
      |  SELECT a.commit_sha, e.parent_sha, a.depth + 1
      |  FROM anc a JOIN edges e ON e.commit_sha = a.ancestor_sha
      |  WHERE a.depth < 3)
      |SELECT commit_sha, ancestor_sha, CAST(MIN(depth) AS BIGINT) AS depth
      |FROM anc GROUP BY commit_sha, ancestor_sha
      |ORDER BY commit_sha, ancestor_sha""".stripMargin

  /** qg02: exact triangle census of the user co-activity graph — two
    * users are adjacent when they act on the same event type within the
    * same minute. Edge generation is a per-(type, minute)-bucket pair
    * join (bucket occupancy is small by construction, so fan-out is
    * bounded); the count itself is GraphMetrics.triangleCount's
    * degree-oriented wedge join vs DuckDB's naive a<b<c three-way
    * join — identical exact integers, very different join volume. */
  /** User co-activity edges: same event type within the same minute.
    * Bucket occupancy is small by construction, so the per-bucket pair
    * join has bounded fan-out. */
  /** The qg02–qg10 family all reads this one derived graph; memoize
    * the localCheckpoint'd edge frame per (session, sfDir) so nine
    * gate/bench queries pay the bkt→self-join derivation once, not
    * nine times (×3 bench passes). RDD-persisted, so the bench's
    * per-query `spark.catalog.clearCache()` (SQL-cache isolation)
    * leaves it intact — which is the point: the edge list is shared
    * INPUT, not per-query state. Semantics unchanged: every query
    * sees exactly the rows it would derive itself (spec: oracles
    * unchanged).
    *
    * The memo is keyed on DATA IDENTITY as well as (session, dir):
    * the fingerprint of the backing `events.parquet` files (path,
    * mtime, length). Regenerating the parquet within the same JVM
    * invalidates the stale entry and unpersists its checkpoint RDD
    * instead of silently serving old edges; `invalidateDerivedCaches`
    * is the explicit eviction hook. */
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def eventsFingerprint(dir: String): Long = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
      else Iterator.single(f)
    walk(new java.io.File(dir, "events.parquet")).foldLeft(17L) { (h, f) =>
      ((h * 31 + f.getPath.hashCode) * 31 + f.lastModified()) * 31 + f.length()
    }
  }

  /** Unpersist the block-store RDD behind a localCheckpoint'd frame
    * (the SQL cache is not involved, so `unpersist()` on the Dataset
    * would be a no-op). */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Fingerprint-keyed memo of one localCheckpoint'd derived frame per
    * (session, sfDir). A fingerprint miss evicts AND unpersists the
    * previous entry, so replaced checkpoints do not accumulate block
    * storage over the session lifetime. */
  private final class DerivedFrameMemo {
    private val m =
      scala.collection.mutable.Map.empty[(SparkSession, String), (Long, DataFrame)]
    def get(t: Tables)(build: => DataFrame): DataFrame = m.synchronized {
      val key = (t.spark, t.dir)
      val fp  = eventsFingerprint(t.dir)
      m.get(key) match {
        case Some((`fp`, df)) => df
        case prev =>
          prev.foreach { case (oldFp, old) =>
            log.info(s"derived-frame memo for ${t.dir}: fingerprint $oldFp -> $fp, " +
              "rebuilding and unpersisting the stale checkpoint")
            unpersistCheckpoint(old)
          }
          val df = build
          m.put(key, (fp, df))
          df
      }
    }
    def clear(): Unit = m.synchronized {
      m.values.foreach { case (_, df) => unpersistCheckpoint(df) }
      m.clear()
    }
  }

  private val coActivityMemo = new DerivedFrameMemo
  private val nfMemo         = new DerivedFrameMemo

  /** Explicit eviction hook: drops (and unpersists) every memoized
    * derived frame. Call after regenerating input parquet mid-session
    * if mtime-granularity fingerprinting could miss the change. */
  def invalidateDerivedCaches(): Unit = { nfMemo.clear(); coActivityMemo.clear() }

  private def coActivityEdges(t: Tables): DataFrame =
    coActivityMemo.get(t) {
      import t.spark.implicits._
      val b = t.events.select($"user_id".as("u"), $"event_type".as("et"),
                              date_trunc("minute", $"ts").as("m")).distinct()
      b.select($"u".as("a"), $"et", $"m")
        .join(b.select($"u".as("b"), $"et", $"m"), Seq("et", "m"))
        .filter($"a" < $"b")
        .select($"a", $"b")
        .localCheckpoint()
    }

  def triangleCensus(t: Tables): DataFrame =
    graft.operators.GraphMetrics.triangleCount(coActivityEdges(t))

  val triangleCensusSql: String =
    """WITH b AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
      |e AS (SELECT DISTINCT a.u a, b2.u b
      |  FROM b a JOIN b b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
      |v AS (SELECT a v FROM e UNION SELECT b FROM e),
      |tri AS (SELECT COUNT(*) c
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_nodes,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
      |       (SELECT CAST(c AS BIGINT) FROM tri) AS n_triangles""".stripMargin

  /** qg03: 5-iteration PageRank (damping 0.85) on the user co-activity
    * graph — per-round message passing with decimal-exact contribution
    * sums, vs DuckDB's five unrolled CTE rounds. */
  def pageRank(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.GraphMetrics.pageRank(coActivityEdges(t), iters = 5)
      .select($"node".as("user_id"), $"pagerank")
      .orderBy($"user_id")
  }

  val pageRankSql: String = {
    def iter(prev: String, k: Int) =
      // 1.0::DOUBLE forces the IEEE subtraction (0.15000000000000002);
      // DuckDB's bare `1.0 - 0.85` is DECIMAL arithmetic (exactly 0.15,
      // one ulp away), which shifted 28 sf0.1 nodes across the 1e-9
      // quantization boundary
      s"""it$k AS (SELECT e.b node,
         |    floor(((1.0::DOUBLE - 0.85)/n + 0.85*(CAST(SUM(CAST(floor(r.r/d.od * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9)) * 1e9 + 0.5) / 1e9 r
         |  FROM e JOIN $prev r ON r.node = e.a JOIN deg d ON d.node = e.a CROSS JOIN nn
         |  GROUP BY e.b, nn.n)""".stripMargin
    s"""WITH bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
       |und AS (SELECT DISTINCT a.u a, b2.u b
       |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
       |e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT a node, COUNT(*) od FROM e GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) n FROM deg),
       |it0 AS (SELECT node, 1.0/n r FROM deg CROSS JOIN nn),
       |${iter("it0", 1)},
       |${iter("it1", 2)},
       |${iter("it2", 3)},
       |${iter("it3", 4)},
       |${iter("it4", 5)}
       |SELECT node AS user_id, r AS pagerank FROM it5 ORDER BY user_id""".stripMargin
  }

  /** qg05: bounded k-core peeling census (k=2, 3 rounds) of the user
    * co-activity graph — per-round vertex/edge counts as low-degree
    * vertices peel away, vs DuckDB's unrolled CTE rounds. The census
    * trajectory is the convergence evidence (consecutive equal rows =
    * the 2-core); see GraphMetrics.kCorePeelCensus for the per-round
    * shuffle shape. */
  def kCoreCensus(t: Tables): DataFrame =
    graft.operators.GraphMetrics.kCorePeelCensus(coActivityEdges(t), k = 2, rounds = 3)

  val kCoreCensusSql: String = {
    def peel(r: Int) =
      s"""v$r AS (SELECT node FROM d${r - 1} WHERE deg >= 2),
         |e$r AS (SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT node FROM v$r) AND b IN (SELECT node FROM v$r)),
         |d$r AS (SELECT node, COUNT(*) deg
         |  FROM (SELECT a node FROM e$r UNION ALL SELECT b FROM e$r) GROUP BY 1)""".stripMargin
    def census(r: Int) =
      s"""SELECT CAST($r AS BIGINT) peel_round,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d$r) n_vertices,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e$r) n_edges""".stripMargin
    s"""WITH bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
       |e0 AS (SELECT DISTINCT a.u a, b2.u b
       |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
       |d0 AS (SELECT node, COUNT(*) deg
       |  FROM (SELECT a node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
       |${peel(1)},
       |${peel(2)},
       |${peel(3)}
       |SELECT peel_round, n_vertices, n_edges FROM (
       |${census(0)} UNION ALL ${census(1)} UNION ALL ${census(2)} UNION ALL ${census(3)})
       |ORDER BY peel_round""".stripMargin
  }

  /** qg06: 3-round synchronous label-propagation communities on the
    * user co-activity graph — plurality label with min-label
    * tie-break, vs DuckDB's unrolled CTE rounds (argmax expressed as a
    * per-node ORDER BY c DESC, label ASC row_number; the Spark side's
    * min(struct(-c, label)) is the same total order with partial
    * aggregation instead of a partition sort). */
  def labelPropagation(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.GraphMetrics.labelPropagation(coActivityEdges(t), rounds = 3)
      .select($"node".as("user_id"), $"label".as("community"))
      .orderBy($"user_id")
  }

  val labelPropagationSql: String = {
    def round(k: Int) =
      s"""r$k AS (SELECT e.b node, l.lbl, COUNT(*) c
         |  FROM e JOIN l${k - 1} l ON l.node = e.a GROUP BY 1, 2),
         |l$k AS (SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) rn
         |    FROM r$k) WHERE rn = 1)""".stripMargin
    s"""WITH bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
       |und AS (SELECT DISTINCT a.u a, b2.u b
       |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
       |e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT DISTINCT a node, a lbl FROM e),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT node AS user_id, lbl AS community FROM l3 ORDER BY user_id""".stripMargin
  }

  /** qg08: landmark closeness/harmonic centrality — BFS distance from
    * 4 md5-chosen landmarks only ([[GraphMetrics.landmarkCloseness]]),
    * the |V|·k-state estimator that replaces the dead-at-scale
    * all-pairs closeness; horizon capped at 8 hops. Oracle: a
    * recursive CTE closes (landmark, node, depth) tuples under the
    * same cap and takes per-pair MIN — exact cross-engine check of
    * the k simultaneous BFS fronts. */
  def landmarkCloseness(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.GraphMetrics
      .landmarkCloseness(coActivityEdges(t), nLandmarks = 4, maxDepth = 8)
      .select($"node".as("user_id"), $"n_reached", $"sum_dist", $"harmonic")
      .orderBy($"user_id")
  }

  val landmarkClosenessSql: String =
    """WITH RECURSIVE
      |bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
      |und AS (SELECT DISTINCT a.u a, b2.u b
      |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
      |e AS (SELECT a src, b dst FROM und UNION ALL SELECT b, a FROM und),
      |nodes AS (SELECT DISTINCT src node FROM e),
      |lms AS (SELECT node lm FROM nodes ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 4),
      |reach(lm, node, d) AS (
      |  SELECT lm, lm, CAST(0 AS BIGINT) FROM lms
      |  UNION
      |  SELECT r.lm, e.dst, r.d + 1 FROM reach r JOIN e ON e.src = r.node WHERE r.d < 8),
      |md AS (SELECT lm, node, MIN(d) d FROM reach GROUP BY 1, 2),
      |pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) n_reached,
      |    CAST(SUM(d) AS BIGINT) sum_dist,
      |    CAST(SUM(CAST(CASE WHEN d > 0 THEN round(1.0 / CAST(d AS DOUBLE), 6)
      |                       ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) harmonic
      |  FROM md GROUP BY 1)
      |SELECT n.node AS user_id, COALESCE(pn.n_reached, 0) AS n_reached,
      |  COALESCE(pn.sum_dist, 0) AS sum_dist,
      |  COALESCE(pn.harmonic, 0.0) AS harmonic
      |FROM nodes n LEFT JOIN pn ON pn.node = n.node ORDER BY user_id""".stripMargin

  /** qg09: degree census — the FIRST read on any derived graph, run
    * before the iterative operators commit: per log2-degree bucket,
    * node count and degree mass, plus each bucket's max. A fat high-
    * degree tail here is the hub warning that picks triangleCount's
    * degree orientation, the alternating-CC variant, and qj02-style
    * salting — the graph plane's qd18. One degree aggregation + one
    * constant-size histogram. */
  def degreeCensus(t: Tables): DataFrame = {
    import t.spark.implicits._
    val und = graft.operators.GraphMetrics.canonicalEdges(coActivityEdges(t))
    und.select(explode(array($"a", $"b")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
      .groupBy(floor(log2($"deg")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        sum($"deg").cast("long").as("degree_mass"),
        max($"deg").as("max_degree"))
      .orderBy($"bucket")
  }

  val degreeCensusSql: String =
    """WITH bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
      |und AS (SELECT DISTINCT a.u a, b2.u b
      |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
      |deg AS (SELECT v, COUNT(*) deg FROM (
      |  SELECT a v FROM und UNION ALL SELECT b FROM und) GROUP BY 1)
      |SELECT CAST(FLOOR(log2(deg)) AS BIGINT) bucket,
      |  CAST(COUNT(*) AS BIGINT) n_nodes,
      |  CAST(SUM(deg) AS BIGINT) degree_mass,
      |  CAST(MAX(deg) AS BIGINT) max_degree
      |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin

  /** qg10: exact neighborhood function N(r), r = 0..4, of the user
    * co-activity graph ([[graft.operators.GraphMetrics.neighborhoodFunction]]):
    * ordered pairs within distance r and the average ball size — the
    * distance-distribution read (effective diameter, small-world
    * check) that sizes every shortest-path-flavored operator. Exact
    * mode is the oracle-able truth; the HyperBall twin
    * (`neighborhoodFunctionApprox`, |V| fixed-size HLL registers) is
    * the 100 TB path, spec-gated against this one. Oracle: unrolled
    * per-radius frontier CTEs. */
  /** Exact mode materializes ball membership — rows ≈ |V|·d^r, |V|² on
    * a small-diameter giant component — so it is priced BY VERTEX
    * COUNT before running: at or under the threshold (covering the
    * sf0.01 oracle gate's graph) the oracle-able exact truth runs;
    * above it the query serves HyperBall, whose state is |V| fixed-
    * size HLL registers at every radius (the measured wall/shuffle
    * table in NOTES_r9 is the evidence). The
    * approx branch keeps its honest `_est` column names: estimates
    * are sketch-valued, never oracle-hashed — the driver's gate runs
    * at sf0.01 where the exact branch is taken. */
  val ExactNeighborhoodMaxV = 512L

  /** The regime predicate qg10/qg11's oracle validity hangs on,
    * expressed as DuckDB SQL that mirrors [[neighborhoodTable]]'s
    * vertex count EXACTLY (distinct endpoints of co-activity EDGES —
    * not distinct bucketed users, which would also count isolated
    * vertices the engine never sees). Declared here, beside the mode
    * switch and the qg10 oracle, and exported by [[graft.Verify]] as
    * `regime_guard.json` so tools/check.py asserts the same predicate
    * the engine prices — the two cannot drift. */
  val coactivityVertexCountSql: String =
    """WITH bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
      |und AS (SELECT DISTINCT a.u a, b2.u b
      |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u)
      |SELECT COUNT(*) FROM (SELECT a u FROM und UNION SELECT b FROM und)""".stripMargin

  /** Gate queries whose oracle is valid only in the exact regime. */
  val exactRegimeQueries: Seq[String] = Seq("qg10_neighborhood", "qg11_eff_diameter")

  /** One neighborhood-function run serves BOTH qg10 (r ≤ 4) and qg11
    * (quantile to r = 6): frontier expansion is monotone, so N(r) at
    * any prefix radius of a deeper run equals the shallower run's —
    * memoize the r ≤ 6 table per (session, sfDir) like the edge frame
    * and slice. The mode choice (exact vs HyperBall) happens once,
    * here. */
  private def neighborhoodTable(t: Tables): DataFrame =
    nfMemo.get(t) {
      import t.spark.implicits._
      val edges = coActivityEdges(t)
      val nV = edges.select($"a".as("v")).union(edges.select($"b")).distinct().count()
      val exact = nV <= ExactNeighborhoodMaxV
      // Mode choice is logged, not silent: the DuckDB oracles for
      // qg10/qg11 are valid ONLY in the exact regime (|V| <= 512 —
      // the sf0.01 gate's graph); above it the served columns switch
      // to the honest `_est` names and only specs/bench apply.
      log.info(s"qg10/qg11 neighborhood mode for ${t.dir}: |V|=$nV -> " +
        (if (exact) "EXACT (oracle-valid regime)"
         else s"HYPERBALL (|V| > $ExactNeighborhoodMaxV; sketch estimates, oracle not applicable)"))
      val df =
        if (exact) graft.operators.GraphMetrics.neighborhoodFunction(edges, maxR = 6)
        else graft.operators.GraphMetrics.neighborhoodFunctionApprox(edges, maxR = 6)
      df.localCheckpoint()
    }

  def neighborhoodCensus(t: Tables): DataFrame = {
    import t.spark.implicits._
    neighborhoodTable(t).filter($"r" <= 4)
  }

  val neighborhoodCensusSql: String = {
    def ball(r: Int) =
      s"""p$r AS MATERIALIZED (SELECT DISTINCT u, v FROM (
         |  SELECT u, v FROM p${r - 1} UNION ALL
         |  SELECT p.u, e.b v FROM p${r - 1} p JOIN e ON e.a = p.v))""".stripMargin
    val counts = (0 to 4).map(r =>
      s"SELECT CAST($r AS INT) r, (SELECT CAST(COUNT(*) AS BIGINT) FROM p$r) n_pairs")
      .mkString("\n  UNION ALL ")
    s"""WITH bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
       |und AS (SELECT DISTINCT a.u a, b2.u b
       |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
       |e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |v AS (SELECT DISTINCT a u FROM e),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM v),
       |p0 AS MATERIALIZED (SELECT u, u v FROM v),
       |${(1 to 4).map(ball).mkString(",\n")}
       |SELECT r, n_pairs, CAST(n_pairs AS DOUBLE) / CAST(nn.n AS DOUBLE) avg_ball
       |FROM ($counts) CROSS JOIN nn ORDER BY r""".stripMargin
  }

  /** qg11: effective diameter at q=0.9 — THE scalar the neighborhood
    * function exists to serve (Palmer/Boldi's small-world read): the
    * smallest radius r whose reachable-pair count N(r) covers ≥ 90%
    * of N(maxR). Drives the same priced mode choice as qg10 (exact
    * ≤ 512 vertices — the oracle gate's regime — HyperBall above,
    * where N(r) is the sketch estimate and the same quantile read
    * applies); maxR = 6 covers the co-activity graph's plateau.
    * Output: (eff_diameter, n_pairs_at_r, n_pairs_max). Oracle:
    * qg10's unrolled frontier CTEs extended to r=6 + the argmin. */
  def effectiveDiameter(t: Tables): DataFrame = {
    import t.spark.implicits._
    val table = neighborhoodTable(t)
    val nf =
      if (table.columns.contains("n_pairs"))
        table.select($"r", $"n_pairs".cast("double").as("n"))
      else
        table.select($"r", $"n_pairs_est".as("n"))
    nf.crossJoin(broadcast(nf.agg(max($"n").as("nmax"))))
      .filter($"n" >= lit(0.9) * $"nmax")
      .agg(min(struct($"r", $"n", $"nmax")).as("s"))
      .select($"s.r".as("eff_diameter"),
        $"s.n".cast("long").as("n_pairs_at_r"),
        $"s.nmax".cast("long").as("n_pairs_max"))
  }

  val effectiveDiameterSql: String = {
    def ball(r: Int) =
      s"""p$r AS MATERIALIZED (SELECT DISTINCT u, v FROM (
         |  SELECT u, v FROM p${r - 1} UNION ALL
         |  SELECT p.u, e.b v FROM p${r - 1} p JOIN e ON e.a = p.v))""".stripMargin
    val counts = (0 to 6).map(r =>
      s"SELECT CAST($r AS INT) r, (SELECT CAST(COUNT(*) AS BIGINT) FROM p$r) n_pairs")
      .mkString("\n  UNION ALL ")
    s"""WITH bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
       |und AS (SELECT DISTINCT a.u a, b2.u b
       |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
       |e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |v AS (SELECT DISTINCT a u FROM e),
       |p0 AS MATERIALIZED (SELECT u, u v FROM v),
       |${(1 to 6).map(ball).mkString(",\n")},
       |nf AS (SELECT r, n_pairs FROM ($counts)),
       |mx AS (SELECT MAX(n_pairs) nmax FROM nf)
       |SELECT CAST(MIN(r) AS INT) eff_diameter,
       |  CAST(MIN_BY(n_pairs, r) AS BIGINT) n_pairs_at_r,
       |  CAST(ANY_VALUE(nmax) AS BIGINT) n_pairs_max
       |FROM nf CROSS JOIN mx
       |WHERE CAST(n_pairs AS DOUBLE) >= 0.9 * CAST(nmax AS DOUBLE)""".stripMargin
  }

  /** qg07: 3-iteration personalized PageRank seeded at users {0, 1} —
    * proximity-to-seed ranking on the co-activity graph (the
    * similar-users query), vs DuckDB's unrolled CTE rounds with the
    * teleport CASE and LEFT JOIN COALESCE mirroring the Spark plan's
    * broadcast seed join and no-inbound-mass default. */
  def personalizedPageRank(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.GraphMetrics
      .personalizedPageRank(coActivityEdges(t), seeds = Seq(0L, 1L), iters = 3)
      .select($"node".as("user_id"), $"ppr")
      .orderBy($"user_id")
  }

  val personalizedPageRankSql: String = {
    def iter(prev: String, k: Int) =
      s"""in$k AS (SELECT e.b, SUM(CAST(floor(r.r / d.od * 1e9 + 0.5) AS BIGINT)) s
         |  FROM e JOIN $prev r ON r.node = e.a JOIN deg d ON d.node = e.a
         |  GROUP BY e.b),
         |it$k AS (SELECT t.node,
         |    floor(((1.0::DOUBLE - 0.85) * t.tele + 0.85 * COALESCE(CAST(i.s AS DOUBLE) / 1e9, 0.0)) * 1e9 + 0.5) / 1e9 r
         |  FROM tele t LEFT JOIN in$k i ON i.b = t.node)""".stripMargin
    s"""WITH bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
       |und AS (SELECT DISTINCT a.u a, b2.u b
       |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
       |e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT a node, COUNT(*) od FROM e GROUP BY 1),
       |tele AS (SELECT node, CASE WHEN node IN (0, 1) THEN 1.0/2 ELSE 0.0 END tele
       |  FROM (SELECT DISTINCT a node FROM e)),
       |it0 AS (SELECT node, tele r FROM tele),
       |${iter("it0", 1)},
       |${iter("it1", 2)},
       |${iter("it2", 3)}
       |SELECT node AS user_id, r AS ppr FROM it3 ORDER BY user_id""".stripMargin
  }

  /** qf01: right-to-be-forgotten cascade audit —
    * [[graft.hfc.Deletion.cascade]] propagates a planted customer
    * deletion set (md5-chosen ~6%) through the FK DAG
    * customer → orders → lineitem and reports exactly what died
    * where. One broadcast semi/anti join per table; rows with NULL
    * FKs survive by construction. */
  def cascadeDelete(t: Tables): DataFrame = {
    import graft.hfc.Deletion.{Edge, Node}
    import t.spark.implicits._
    val dead = t.customer.select($"c_custkey")
      .filter(substring(md5($"c_custkey".cast("string")), 1, 1) === "0")
    graft.hfc.Deletion.cascade(
      Seq(Node("customer", t.customer, "c_custkey"),
          Node("orders", t.orders, "o_orderkey"),
          Node("lineitem", t.lineitem, "l_orderkey")),
      Seq(Edge("orders", "o_custkey", "customer"),
          Edge("lineitem", "l_orderkey", "orders")),
      "customer", dead).report
  }

  val cascadeDeleteSql: String =
    """WITH dead_c AS (SELECT c_custkey FROM customer
      |  WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'),
      |dead_o AS (SELECT o_orderkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM dead_c)),
      |dead_l AS (SELECT l_orderkey FROM lineitem
      |  WHERE l_orderkey IN (SELECT o_orderkey FROM dead_o))
      |SELECT tbl, n_rows, n_deleted, CAST(n_rows - n_deleted AS BIGINT) n_retained FROM (
      |  SELECT 'customer' tbl, (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) n_rows,
      |         (SELECT CAST(COUNT(*) AS BIGINT) FROM dead_c) n_deleted
      |  UNION ALL
      |  SELECT 'lineitem', (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
      |         (SELECT CAST(COUNT(*) AS BIGINT) FROM dead_l)
      |  UNION ALL
      |  SELECT 'orders', (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
      |         (SELECT CAST(COUNT(*) AS BIGINT) FROM dead_o))
      |ORDER BY tbl""".stripMargin

  /** qk01: SCD2 dimension history built by [[graft.hfc.Scd2]] — each
    * customer's order-priority trail becomes a version chain: a row
    * per actual change (consecutive repeats collapse), valid_from =
    * change time, valid_to = next change (NULL = current). The
    * K-plane's history-keeping member next to MergeWriter's
    * overwrite upsert; the oracle replays the same lag-dedupe +
    * lead-close windows. */
  private def scd2Chain(t: Tables): DataFrame = {
    import t.spark.implicits._
    val updates = t.orders.select(
      $"o_custkey".as("cust"), $"o_orderpriority".as("priority"),
      // o_orderdate reads as TIMESTAMP_NTZ; the session is UTC-pinned,
      // so the instant cast matches DuckDB's naive-as-UTC epoch_ms
      unix_millis($"o_orderdate".cast("timestamp")).as("ts"), $"o_orderkey".as("tie"))
    val emptyHistory = updates
      .select($"cust", $"priority", $"ts".as("valid_from"), $"ts".as("valid_to"))
      .filter(lit(false))
    graft.hfc.Scd2.applyChanges(emptyHistory, updates,
      keyCol = "cust", attrCol = "priority", tsCol = "ts", tieCol = "tie")
  }

  def scd2History(t: Tables): DataFrame = {
    import t.spark.implicits._
    scd2Chain(t).orderBy($"cust", $"valid_from", $"priority")
  }

  val scd2HistorySql: String =
    """WITH u AS (SELECT o_custkey cust, o_orderpriority priority,
      |    CAST(epoch_ms(o_orderdate) AS BIGINT) ts, o_orderkey tie FROM orders),
      |c AS (SELECT cust, priority, ts, tie,
      |    lag(priority) OVER (PARTITION BY cust ORDER BY ts, tie) prev FROM u),
      |f AS (SELECT cust, priority, ts, tie FROM c WHERE prev IS NULL OR prev <> priority)
      |SELECT cust, priority, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY cust ORDER BY ts, tie) AS valid_to
      |FROM f ORDER BY cust, valid_from, priority""".stripMargin

  /** qk02: the SCD2 history READ as of one instant — the dimension
    * lookup qk01's version chain exists to serve: for each customer,
    * the priority that was true at the probe timestamp (valid_from ≤ T
    * < valid_to, open version = NULL bound). Customers whose first
    * change postdates the probe are absent — an as-of read reports
    * what was known, not what arrived later. Scale shape: the filter
    * is a scan-local predicate on the key-partitioned chain; no window
    * re-runs at read time. */
  def scd2AsOf(t: Tables): DataFrame = {
    import t.spark.implicits._
    val probe = lit(803433600000L) // 1995-06-17T00:00:00Z epoch ms
    scd2Chain(t)
      .filter($"valid_from" <= probe && ($"valid_to".isNull || $"valid_to" > probe))
      .select($"cust", $"priority", $"valid_from")
      .orderBy($"cust")
  }

  val scd2AsOfSql: String =
    """WITH u AS (SELECT o_custkey cust, o_orderpriority priority,
      |    CAST(epoch_ms(o_orderdate) AS BIGINT) ts, o_orderkey tie FROM orders),
      |c AS (SELECT cust, priority, ts, tie,
      |    lag(priority) OVER (PARTITION BY cust ORDER BY ts, tie) prev FROM u),
      |f AS (SELECT cust, priority, ts, tie FROM c WHERE prev IS NULL OR prev <> priority),
      |h AS (SELECT cust, priority, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY cust ORDER BY ts, tie) AS valid_to FROM f)
      |SELECT cust, priority, valid_from FROM h
      |WHERE valid_from <= 803433600000 AND (valid_to IS NULL OR valid_to > 803433600000)
      |ORDER BY cust""".stripMargin

  /** qk04: SCD2 churn census — version-count histogram over the qk01
    * chains: how volatile IS the dimension (keys with 1 version never
    * changed; a fat many-version tail is the signal that SCD2 history
    * — and the PIT join discipline — pays for itself, and sizes the
    * chain table's growth rate). Two tiny aggregations over the
    * key-partitioned chain. */
  def scd2Churn(t: Tables): DataFrame = {
    import t.spark.implicits._
    val perKey = scd2Chain(t).groupBy($"cust").agg(count(lit(1)).as("n_versions"))
    val total = perKey.agg(count(lit(1)).as("n_keys_total"))
    perKey.groupBy($"n_versions").agg(count(lit(1)).as("n_keys"))
      .crossJoin(broadcast(total))
      .select($"n_versions", $"n_keys",
        round($"n_keys".cast("double") / $"n_keys_total".cast("double"), 6)
          .as("key_share"))
      .orderBy($"n_versions")
  }

  val scd2ChurnSql: String =
    """WITH u AS (SELECT o_custkey cust, o_orderpriority priority,
      |    CAST(epoch_ms(o_orderdate) AS BIGINT) ts, o_orderkey tie FROM orders),
      |c AS (SELECT cust, priority, ts, tie,
      |    lag(priority) OVER (PARTITION BY cust ORDER BY ts, tie) prev FROM u),
      |f AS (SELECT cust FROM c WHERE prev IS NULL OR prev <> priority),
      |pk AS (SELECT cust, CAST(COUNT(*) AS BIGINT) n_versions FROM f GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) n_keys_total FROM pk)
      |SELECT n_versions, CAST(COUNT(*) AS BIGINT) n_keys,
      |  round(CAST(COUNT(*) AS DOUBLE) / CAST(tot.n_keys_total AS DOUBLE), 6) key_share
      |FROM pk CROSS JOIN tot GROUP BY n_versions, tot.n_keys_total
      |ORDER BY n_versions""".stripMargin

  /** qk03: point-in-time feature join — the feature-store read that
    * makes SCD2 worth keeping: every lineitem (fact) attaches the
    * customer's priority version that was standing AT ITS OWN ship
    * time, via [[graft.operators.AsOfJoin.asOfBackward]] against the
    * qk01 chain (union-scan, one exchange — never a per-fact range
    * join). Zero-length versions (same-instant update bursts) are
    * dropped first so "latest valid_from ≤ ts" and the interval
    * predicate agree — the oracle states the interval form directly.
    * This is the leakage guard in ML terms: a training row may only
    * see dimension values that existed at event time, never later
    * corrections. */
  def pitJoin(t: Tables): DataFrame = {
    import t.spark.implicits._
    val versions = scd2Chain(t)
      .filter($"valid_to".isNull || $"valid_to" > $"valid_from")
    val facts = t.lineitem
      .join(t.orders.select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"o_custkey".as("cust"),
        unix_millis($"l_shipdate".cast("timestamp")).as("ship_ms"))
    graft.operators.AsOfJoin.asOfBackward(facts, versions,
        key = "cust", leftTs = "ship_ms", rightTs = "valid_from",
        rightSeq = "valid_from", rightCols = Seq("priority"))
      .select($"l_orderkey", $"l_linenumber", $"cust", $"ship_ms",
        $"asof_priority".as("priority_at_ship"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val pitJoinSql: String =
    """WITH u AS (SELECT o_custkey cust, o_orderpriority priority,
      |    CAST(epoch_ms(o_orderdate) AS BIGINT) ts, o_orderkey tie FROM orders),
      |c AS (SELECT cust, priority, ts, tie,
      |    lag(priority) OVER (PARTITION BY cust ORDER BY ts, tie) prev FROM u),
      |f AS (SELECT cust, priority, ts, tie FROM c WHERE prev IS NULL OR prev <> priority),
      |h AS (SELECT cust, priority, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY cust ORDER BY ts, tie) AS valid_to FROM f),
      |hh AS (SELECT * FROM h WHERE valid_to IS NULL OR valid_to > valid_from),
      |fact AS (SELECT l.l_orderkey, l.l_linenumber, o.o_custkey cust,
      |    CAST(epoch_ms(l.l_shipdate) AS BIGINT) ship_ms
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
      |SELECT fact.l_orderkey, fact.l_linenumber, fact.cust, fact.ship_ms,
      |  hh.priority AS priority_at_ship
      |FROM fact LEFT JOIN hh ON hh.cust = fact.cust
      |  AND hh.valid_from <= fact.ship_ms
      |  AND (hh.valid_to IS NULL OR hh.valid_to > fact.ship_ms)
      |ORDER BY fact.l_orderkey, fact.l_linenumber""".stripMargin

  /** qf02: TTL retention sweep — the lifecycle audit a
    * [[graft.hfc.TimePartitionedMergeWriter]]-shaped store runs before
    * enforcing a retention window: per event-day partition, how many
    * rows expire at the cutoff (the integer midpoint of the event
    * range — the qr02 split-point discipline, so the gate exercises
    * both fates: fully-expired days, fully-retained days, and the one
    * straddler), and whether the WHOLE partition is droppable — the
    * O(1) directory-drop fast path — vs needing a rewrite. One scan,
    * one day-keyed aggregation; at 100 TB the day key IS the
    * partition key, so this audit reads parquet footers' worth of
    * work, not data. */
  def ttlExpiry(t: Tables): DataFrame = {
    import t.spark.implicits._
    val mm = t.events.agg(
      min(unix_micros($"ts".cast("timestamp"))).as("lo"),
      max(unix_micros($"ts".cast("timestamp"))).as("hi"))
    t.events
      .select(to_date($"ts").as("day"),
        unix_micros($"ts".cast("timestamp")).as("us"))
      .crossJoin(broadcast(mm))
      .select($"day", ($"us" * 2 <= $"lo" + $"hi").as("expired"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_rows"),
        sum($"expired".cast("long")).as("n_expired"))
      .select($"day", $"n_rows", $"n_expired",
        ($"n_rows" - $"n_expired").as("n_retained"),
        ($"n_rows" === $"n_expired").as("droppable"))
      .orderBy($"day")
  }

  val ttlExpirySql: String =
    """WITH e AS (SELECT CAST(ts AS DATE) d, epoch_us(CAST(ts AS TIMESTAMP)) us FROM events),
      |mm AS (SELECT MIN(us) lo, MAX(us) hi FROM e),
      |g AS (SELECT d AS "day", CAST(COUNT(*) AS BIGINT) n_rows,
      |    CAST(SUM(CASE WHEN us * 2 <= lo + hi THEN 1 ELSE 0 END) AS BIGINT) n_expired
      |  FROM e CROSS JOIN mm GROUP BY 1)
      |SELECT "day", n_rows, n_expired, n_rows - n_expired AS n_retained,
      |  n_rows = n_expired AS droppable
      |FROM g ORDER BY "day"""".stripMargin

  /** qi01: incremental aggregate maintenance — the materialized-view
    * update path PROVEN equal to the full recompute by the oracle
    * itself: the per-user event profile (count, decimal-exact value
    * sum, first/last seen) is computed as standing-aggregate ⊕ delta-
    * aggregate (one full-outer merge on the key, each side's
    * aggregates combined with their own monoid: +, +, least,
    * greatest), while the oracle aggregates the whole table directly.
    * Hash equality IS the incremental-maintenance correctness proof —
    * the qd08-vs-qd06 pattern applied to the K-plane. Scale shape: the
    * delta scan is the only data-sized input; the standing aggregate
    * is |keys| rows (the stored MV), and the merge is one key
    * shuffle. Decomposable aggregates only, by construction. */
  def incrementalAgg(t: Tables): DataFrame = {
    import t.spark.implicits._
    val cut = lit(java.sql.Date.valueOf("2024-01-15"))
    def profile(df: DataFrame): DataFrame = df
      .select($"user_id", unix_micros($"ts".cast("timestamp")).as("us"),
        $"value".cast(DecimalType(18, 6)).as("v"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
        min($"us").as("first_us"), max($"us").as("last_us"))
    // the standing MV: materialized once (a real store would read it)
    val standing = profile(t.events.filter(to_date($"ts") < cut)).localCheckpoint()
    val delta = profile(t.events.filter(to_date($"ts") >= cut))
    standing.select($"user_id", $"n".as("bn"), $"sv".as("bs"),
        $"first_us".as("bf"), $"last_us".as("bl"))
      .join(delta.select($"user_id", $"n".as("dn"), $"sv".as("ds"),
        $"first_us".as("df"), $"last_us".as("dl")), Seq("user_id"), "full_outer")
      .select($"user_id",
        (coalesce($"bn", lit(0L)) + coalesce($"dn", lit(0L))).as("n_events"),
        (coalesce($"bs", lit(BigDecimal(0)).cast(DecimalType(18, 6))) +
          coalesce($"ds", lit(BigDecimal(0)).cast(DecimalType(18, 6))))
          .cast("double").as("sum_value"),
        least(coalesce($"bf", $"df"), coalesce($"df", $"bf")).as("first_us"),
        greatest(coalesce($"bl", $"dl"), coalesce($"dl", $"bl")).as("last_us"))
      .orderBy($"user_id")
  }

  val incrementalAggSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) sum_value,
      |  CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) first_us,
      |  CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) last_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** qi02: incremental MV maintenance under RETRACTIONS — the hard
    * delete case qi01's append-only merge can't handle: count/sum are
    * subtractive (exact decimal), but a retraction that removes a
    * group's min/max invalidates it, so those groups — and ONLY those
    * groups (`recomputed` exposes the decision) — re-read their
    * surviving rows via a broadcast semi-join. The retraction batch is
    * the deterministic event_id % 7 = 3 slice; the oracle is a direct
    * aggregation over survivors, so the gate proves incremental ==
    * full recompute. At 100 TB the rescan cost is bounded by the
    * retracted keys, never the table. */
  def retractionMv(t: Tables): DataFrame = {
    import t.spark.implicits._
    retractionMvFrom(
      t.events.select($"user_id", $"event_id",
        unix_micros($"ts".cast("timestamp")).as("us"),
        $"value".cast(DecimalType(18, 6)).as("v")),
      $"event_id" % 7 === 3)
  }

  /** The qi02 mechanism over any (user_id, event_id, us, v) frame and
    * retraction predicate — split out so RetractionMvPropertySpec can
    * drive it with arbitrary delete sets against a full recompute. */
  private[queries] def retractionMvFrom(ev: DataFrame,
                                        isDel: Column): DataFrame = {
    import ev.sparkSession.implicits._
    // the standing MV over the full history — materialized (a real
    // store would read it back)
    val standing = ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
           min($"us").as("mn"), max($"us").as("mx")).localCheckpoint()
    val dels = ev.filter(isDel).groupBy($"user_id")
      .agg(count(lit(1)).as("dn"), sum($"v").as("dsv"),
           min($"us").as("dmn"), max($"us").as("dmx"))
    val merged = standing.join(dels, Seq("user_id"), "left")
      .select($"user_id",
        ($"n" - coalesce($"dn", lit(0L))).as("n2"),
        ($"sv" - coalesce($"dsv", lit(BigDecimal(0)).cast(DecimalType(18, 6)))).as("sv2"),
        $"mn", $"mx",
        (coalesce($"dmn" === $"mn", lit(false)) ||
          coalesce($"dmx" === $"mx", lit(false))).as("recomputed"))
      .filter($"n2" > 0)
      .localCheckpoint()
    val affected = merged.filter($"recomputed").select($"user_id")
    val rescanned = ev.filter(!isDel)
      .join(broadcast(affected), Seq("user_id"))
      .groupBy($"user_id").agg(min($"us").as("rmn"), max($"us").as("rmx"))
    merged.join(rescanned, Seq("user_id"), "left")
      .select($"user_id", $"n2".as("n_events"),
        $"sv2".cast("double").as("sum_value"),
        coalesce($"rmn", $"mn").as("first_us"),
        coalesce($"rmx", $"mx").as("last_us"),
        $"recomputed")
      .orderBy($"user_id")
  }

  val retractionMvSql: String =
    """WITH ev AS (SELECT user_id, event_id,
      |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) us,
      |    CAST(value AS DECIMAL(18,6)) v FROM events),
      |f AS (SELECT user_id, MIN(us) mn, MAX(us) mx FROM ev GROUP BY 1),
      |d AS (SELECT user_id, MIN(us) dmn, MAX(us) dmx FROM ev WHERE event_id % 7 = 3 GROUP BY 1),
      |res AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) n_events,
      |    CAST(SUM(v) AS DOUBLE) sum_value,
      |    CAST(MIN(us) AS BIGINT) first_us, CAST(MAX(us) AS BIGINT) last_us
      |  FROM ev WHERE event_id % 7 <> 3 GROUP BY 1)
      |SELECT r.user_id, r.n_events, r.sum_value, r.first_us, r.last_us,
      |  COALESCE(d.dmn = f.mn OR d.dmx = f.mx, FALSE) recomputed
      |FROM res r JOIN f USING (user_id) LEFT JOIN d USING (user_id)
      |ORDER BY r.user_id""".stripMargin

  /** qi03: sketch-valued distinct-count MV lifecycle
    * ([[graft.operators.Sketches.buildDistinctMv]] /
    * [[graft.operators.Sketches.mergeDistinctMv]]) — the MV plane's
    * third member: distinct counts have no bounded exact merge monoid
    * (qi01's +/min/max don't apply), so the maintainable state IS the
    * HLL sketch (row counts add, registers max). The gate drives the
    * full lifecycle: standing MV built from the event_id-even half
    * (materialized, a real store would read it back), the odd half
    * folded in as a delta, then served. Served columns are the ORACLE-
    * SAFE ones: n_rows is exact-monoid-maintained (count oracle), and
    * the sketch estimate is exposed as `est_ok` — |est − exact|/exact
    * ≤ 2%, with the exact distinct recomputed engine-side — because
    * the estimate itself is engine-specific sketch bits (the HLL/CMS
    * contract: spec-gated, tolerance-checked, never oracle-hashed).
    * The same merge, run through the partition-pruned
    * [[graft.hfc.PartitionedMergeWriter.foldPartitioned]] store plane,
    * is pinned by SketchMvMergePlaneSpec. */
  def sketchDistinctMv(t: Tables): DataFrame = {
    import t.spark.implicits._
    import graft.operators.Sketches
    val ev = t.events.select($"event_type", $"event_id", $"user_id")
    val standing = Sketches.buildDistinctMv(
      ev.filter($"event_id" % 2 === 0), Seq("event_type"), "user_id").localCheckpoint()
    val delta = Sketches.buildDistinctMv(
      ev.filter($"event_id" % 2 === 1), Seq("event_type"), "user_id")
    val served = Sketches.readDistinctMv(
      Sketches.mergeDistinctMv(standing, delta, Seq("event_type")), Seq("event_type"))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_distinct"))
    served.join(exact, Seq("event_type"))
      .select($"event_type", $"n_rows", $"n_distinct",
        (abs($"est_distinct" - $"n_distinct".cast("double")) <=
          lit(0.02) * $"n_distinct".cast("double")).as("est_ok"))
      .orderBy($"event_type")
  }

  val sketchDistinctMvSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) n_rows,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) n_distinct,
      |  TRUE AS est_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** qi04: incremental JOIN-view maintenance — the MV family's join
    * member (qi01 = single-table monoids, qi02 = retractions, qi03 =
    * sketch-valued state): the per-customer revenue view over
    * orders ⋈ lineitem maintained while BOTH base tables grow, by the
    * bilinear delta rule  Δ(L ⋈ O) = ΔL⋈O₀ ∪ L₀⋈ΔO ∪ ΔL⋈ΔO  — the
    * cross term is what naive "join the delta against the current
    * snapshot" maintenance double-counts or misses. The standing view
    * (L₀⋈O₀, materialized — a real store would read it back) and the
    * three delta legs each aggregate to the customer grain FIRST, then
    * one union + re-aggregation merges them with the monoids (+ on
    * counts, + on decimal-exact revenue); the oracle recomputes the
    * view from the full join, so hash equality IS the maintenance
    * proof (the qi01/qi02 pattern). `n_delta_items` exposes how much
    * of each group the deltas contributed — the non-vacuousness pin
    * (both splits fire at sf0.01: ΔL = l_orderkey%7=3, ΔO =
    * o_orderkey%5=2, overlapping at orderkey%35=17 so the cross term
    * is non-empty).
    *
    * Scale shape: the delta legs scan only delta rows on the delta
    * side; ΔL⋈O₀ and L₀⋈ΔO are key-equi joins where the delta side is
    * small (broadcast candidates), and L₀⋈ΔO's scan of the standing
    * fact side is the honest cost of a fact-⋈-fact view — bounded in
    * practice by partition pruning on the delta's key range, never by
    * re-running the standing join. */
  def incrementalJoinMv(t: Tables): DataFrame = {
    import t.spark.implicits._
    incrementalJoinMvFrom(
      t.lineitem.select($"l_orderkey", $"l_extendedprice", $"l_discount"),
      t.orders.select($"o_orderkey", $"o_custkey"),
      $"l_orderkey" % 7 === 3, $"o_orderkey" % 5 === 2)
  }

  /** The qi04 mechanism over any (l_orderkey, l_extendedprice,
    * l_discount) fact frame and (o_orderkey, o_custkey) dim frame with
    * arbitrary delta predicates — split out so JoinMvPropertySpec can
    * drive random splits against the full recompute. */
  private[queries] def incrementalJoinMvFrom(li: DataFrame, ord: DataFrame,
                                             isDeltaL: Column,
                                             isDeltaO: Column): DataFrame = {
    import li.sparkSession.implicits._
    def agg(l: DataFrame, o: DataFrame, isDelta: Boolean): DataFrame =
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast(DecimalType(18, 6))).as("rev"))
        .select($"o_custkey", $"n", $"rev",
          (if (isDelta) $"n" else lit(0L)).as("dn"))
    val l0 = li.filter(!isDeltaL)
    val dl = li.filter(isDeltaL)
    val o0 = ord.filter(!isDeltaO)
    val dor = ord.filter(isDeltaO)
    // the standing view is materialized once (a real store reads it)
    val standing = agg(l0, o0, isDelta = false).localCheckpoint()
    standing
      .unionByName(agg(dl, o0, isDelta = true))
      .unionByName(agg(l0, dor, isDelta = true))
      .unionByName(agg(dl, dor, isDelta = true))
      .groupBy($"o_custkey")
      .agg(sum($"n").as("n_items"),
        sum($"rev").cast("double").as("revenue"),
        sum($"dn").as("n_delta_items"))
      .select($"o_custkey".as("custkey"), $"n_items", $"revenue", $"n_delta_items")
      .orderBy($"custkey")
  }

  val incrementalJoinMvSql: String =
    """SELECT o.o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) n_items,
      |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) revenue,
      |  CAST(SUM(CASE WHEN l.l_orderkey % 7 = 3 OR o.o_orderkey % 5 = 2
      |    THEN 1 ELSE 0 END) AS BIGINT) n_delta_items
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** qj01: pre-join mass census of orders ⨝ lineitem on the order key
    * — [[graft.operators.Skew.joinMass]]: per-key count tables joined
    * (key-cardinality rows, never the data), per-key output mass
    * cl × cr log2-histogrammed with the fattest key per bucket. The
    * read-before-you-join skew detector; Σ implied_rows IS the join's
    * exact output size, priced without running it. */
  def joinMassCensus(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.Skew.joinMass(t.orders, t.lineitem, "o_orderkey", "l_orderkey")
      .orderBy($"bucket")
  }

  val joinMassCensusSql: String =
    """WITH cl AS (SELECT o_orderkey k, COUNT(*) c1 FROM orders GROUP BY 1),
      |cr AS (SELECT l_orderkey k, COUNT(*) c2 FROM lineitem GROUP BY 1),
      |m AS (SELECT cl.k, cl.c1 * cr.c2 mass FROM cl JOIN cr ON cl.k = cr.k)
      |SELECT CAST(floor(log2(mass)) AS BIGINT) bucket,
      |  CAST(COUNT(*) AS BIGINT) n_keys,
      |  CAST(SUM(mass) AS BIGINT) implied_rows,
      |  CAST(MAX(mass) AS BIGINT) max_key_mass
      |FROM m GROUP BY 1 ORDER BY bucket""".stripMargin

  /** qj02: the join ADVISOR — [[graft.operators.Skew.joinAdvice]] over
    * three candidate joins of the star schema: exact implied output,
    * key cardinalities, skew hint, and the broadcast/shuffle verdict
    * under a stated 10k-row threshold. The qz04/qe11 audit-to-decision
    * move applied to join planning; everything from count tables, the
    * data never moves. */
  def joinAdvisor(t: Tables): DataFrame = {
    import t.spark.implicits._
    def one(name: String, l: DataFrame, r: DataFrame,
            lk: String, rk: String): DataFrame =
      graft.operators.Skew.joinAdvice(l, r, lk, rk)
        .select(lit(name).as("join_name"), $"left_rows", $"right_rows",
          $"left_keys", $"right_keys", $"implied_rows", $"max_key_mass",
          $"strategy", $"salt_hint")
    one("customer_nation", t.customer, t.nation, "c_nationkey", "n_nationkey")
      .unionByName(one("lineitem_orders", t.lineitem, t.orders,
        "l_orderkey", "o_orderkey"))
      .unionByName(one("orders_customer", t.orders, t.customer,
        "o_custkey", "c_custkey"))
      .orderBy($"join_name")
  }

  val joinAdvisorSql: String = {
    def block(name: String, lt: String, rt: String, lk: String, rk: String): String =
      s"""SELECT '$name' join_name,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $lt) left_rows,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $rt) right_rows,
         |  (SELECT CAST(COUNT(DISTINCT $lk) AS BIGINT) FROM $lt) left_keys,
         |  (SELECT CAST(COUNT(DISTINCT $rk) AS BIGINT) FROM $rt) right_keys,
         |  m.implied_rows, m.max_key_mass,
         |  CASE WHEN (SELECT COUNT(*) FROM $rt) <= 10000 THEN 'broadcast_right'
         |       WHEN (SELECT COUNT(*) FROM $lt) <= 10000 THEN 'broadcast_left'
         |       ELSE 'shuffle' END strategy,
         |  m.max_key_mass * 10 > m.implied_rows salt_hint
         |FROM (SELECT CAST(COALESCE(SUM(c1 * c2), 0) AS BIGINT) implied_rows,
         |    CAST(COALESCE(MAX(c1 * c2), 0) AS BIGINT) max_key_mass
         |  FROM (SELECT $lk k, COUNT(*) c1 FROM $lt GROUP BY 1) a
         |  JOIN (SELECT $rk k, COUNT(*) c2 FROM $rt GROUP BY 1) b USING (k)) m""".stripMargin
    s"""${block("customer_nation", "customer", "nation", "c_nationkey", "n_nationkey")}
       |UNION ALL
       |${block("lineitem_orders", "lineitem", "orders", "l_orderkey", "o_orderkey")}
       |UNION ALL
       |${block("orders_customer", "orders", "customer", "o_custkey", "c_custkey")}
       |ORDER BY join_name""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qg02_triangle_census" -> ((s: SparkSession, d: String) => triangleCensus(Tables(s, d))),
    "qg06_label_prop"      -> ((s: SparkSession, d: String) => labelPropagation(Tables(s, d))),
    "qj01_join_mass"       -> ((s: SparkSession, d: String) => joinMassCensus(Tables(s, d))),
    "qg07_seeded_pagerank" -> ((s: SparkSession, d: String) => personalizedPageRank(Tables(s, d))),
    "qg08_landmark_close"  -> ((s: SparkSession, d: String) => landmarkCloseness(Tables(s, d))),
    "qk01_scd2_history"    -> ((s: SparkSession, d: String) => scd2History(Tables(s, d))),
    "qk02_scd2_asof"       -> ((s: SparkSession, d: String) => scd2AsOf(Tables(s, d))),
    "qk03_pit_join"        -> ((s: SparkSession, d: String) => pitJoin(Tables(s, d))),
    "qk04_scd2_churn"      -> ((s: SparkSession, d: String) => scd2Churn(Tables(s, d))),
    "qf01_cascade_delete"  -> ((s: SparkSession, d: String) => cascadeDelete(Tables(s, d))),
    "qf02_ttl_expiry"      -> ((s: SparkSession, d: String) => ttlExpiry(Tables(s, d))),
    "qi01_incremental_agg" -> ((s: SparkSession, d: String) => incrementalAgg(Tables(s, d))),
    "qi02_mv_retract"      -> ((s: SparkSession, d: String) => retractionMv(Tables(s, d))),
    "qi03_sketch_mv"       -> ((s: SparkSession, d: String) => sketchDistinctMv(Tables(s, d))),
    "qi04_join_mv"         -> ((s: SparkSession, d: String) => incrementalJoinMv(Tables(s, d))),
    "qj02_join_advisor"    -> ((s: SparkSession, d: String) => joinAdvisor(Tables(s, d))),
    "qg09_degree_census"   -> ((s: SparkSession, d: String) => degreeCensus(Tables(s, d))),
    "qg10_neighborhood"    -> ((s: SparkSession, d: String) => neighborhoodCensus(Tables(s, d))),
    "qg11_eff_diameter"    -> ((s: SparkSession, d: String) => effectiveDiameter(Tables(s, d))),
    "qg03_pagerank"        -> ((s: SparkSession, d: String) => pageRank(Tables(s, d))),
    "qg05_kcore_census"    -> ((s: SparkSession, d: String) => kCoreCensus(Tables(s, d))),
    "q17_rollup_revenue"   -> ((s: SparkSession, d: String) => rollupRevenue(Tables(s, d))),
    "q18_dim_stats"        -> ((s: SparkSession, d: String) => dimensionStats(Tables(s, d))),
    "q19_big_spenders"     -> ((s: SparkSession, d: String) => bigSpenders(Tables(s, d))),
    "q20_cube_engagement"  -> ((s: SparkSession, d: String) => cubeEngagement(Tables(s, d))),
    "qg01_commit_ancestors" -> ((s: SparkSession, d: String) => commitAncestors(Tables(s, d))),
  )

  def oracles: Map[String, String] = Map(
    "qg02_triangle_census" -> triangleCensusSql,
    "qg06_label_prop"      -> labelPropagationSql,
    "qj01_join_mass"       -> joinMassCensusSql,
    "qg07_seeded_pagerank" -> personalizedPageRankSql,
    "qg08_landmark_close"  -> landmarkClosenessSql,
    "qk01_scd2_history"    -> scd2HistorySql,
    "qk02_scd2_asof"       -> scd2AsOfSql,
    "qk03_pit_join"        -> pitJoinSql,
    "qk04_scd2_churn"      -> scd2ChurnSql,
    "qf01_cascade_delete"  -> cascadeDeleteSql,
    "qf02_ttl_expiry"      -> ttlExpirySql,
    "qi01_incremental_agg" -> incrementalAggSql,
    "qi02_mv_retract"      -> retractionMvSql,
    "qi03_sketch_mv"       -> sketchDistinctMvSql,
    "qi04_join_mv"         -> incrementalJoinMvSql,
    "qj02_join_advisor"    -> joinAdvisorSql,
    "qg09_degree_census"   -> degreeCensusSql,
    "qg10_neighborhood"    -> neighborhoodCensusSql,
    "qg11_eff_diameter"    -> effectiveDiameterSql,
    "qg03_pagerank"        -> pageRankSql,
    "qg05_kcore_census"    -> kCoreCensusSql,
    "q17_rollup_revenue"   -> rollupRevenueSql,
    "q18_dim_stats"        -> dimensionStatsSql,
    "q19_big_spenders"     -> bigSpendersSql,
    "q20_cube_engagement"  -> cubeEngagementSql,
    "qg01_commit_ancestors" -> commitAncestorsSql,
  )
}

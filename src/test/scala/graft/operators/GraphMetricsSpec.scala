package graft.operators

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class GraphMetricsSpec extends SparkTestBase {
  import spark.implicits._

  private def count3(edges: Seq[(Long, Long)]): (Long, Long, Long) =
    GraphMetrics.triangleCount(edges.toDF("a", "b"))
      .as[(Long, Long, Long)].collect().head

  /** A mid-id hub of degree `hubDeg` glued to a ring over its leaves:
    * the naive a<b<c wedge join's worst case, since the hub's id splits
    * its neighborhood. */
  private val hubDeg = 200L
  private lazy val hubRing: Seq[(Long, Long)] = {
    val hub = hubDeg / 2
    val leaves = (1L to hubDeg + 1).filter(_ != hub)
    leaves.map(l => (hub, l)) ++ leaves.zip(leaves.tail :+ leaves.head)
  }

  test("triangleCount: K4 has 4 triangles; dangling path adds none") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(count3(k4) == ((4L, 6L, 4L)))
    assert(count3(k4 ++ Seq((4L, 5L), (5L, 6L))) == ((6L, 8L, 4L)))
  }

  test("triangleCount: canonicalization — direction, duplicates, self-loops ignored") {
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L), (3L, 3L))
    assert(count3(messy) == ((3L, 3L, 1L)))
  }

  test("triangleCount: star graph — hub apexes no wedges, zero triangles") {
    val star = (1L to 50L).map(l => (0L, l))
    assert(count3(star) == ((51L, 50L, 0L)))
    // glued to a ring, every consecutive leaf pair (the wrap edge
    // included) closes exactly one triangle through the hub
    assert(count3(hubRing) == ((hubDeg + 1, 2 * hubDeg, hubDeg)))
  }

  test("pageRank: symmetric ring stays uniform; star concentrates rank at the hub") {
    val ring = (0L until 10L).map(i => (i, (i + 1) % 10)).toDF("a", "b")
    val rr = GraphMetrics.pageRank(ring, iters = 5)
      .select("pagerank").as[Double].collect()
    assert(rr.length == 10)
    // uniform start on a vertex-transitive graph is the fixed point
    assert(rr.forall(r => math.abs(r - 0.1) < 1e-6), rr.toSeq.toString)
    val star = (1L to 20L).map(l => (0L, l)).toDF("a", "b")
    val sr = GraphMetrics.pageRank(star, iters = 5)
      .orderBy($"node").select("node", "pagerank").as[(Long, Double)].collect()
    val hub = sr.head._2; val leaves = sr.tail.map(_._2)
    assert(leaves.forall(hub > _), s"hub $hub not above leaves ${leaves.max}")
    assert(leaves.toSet.size == 1, "leaves are symmetric — equal ranks")
    // total rank is conserved (no dangling mass in a symmetric graph)
    assert(math.abs(sr.map(_._2).sum - 1.0) < 1e-5)
  }

  test("pageRank is partition-invariant (decimal-exact contribution sums)") {
    val edges = (0L until 30L).flatMap(i => Seq((i, (i + 1) % 30), (i, (i + 7) % 30)))
      .toDF("a", "b")
    val a = GraphMetrics.pageRank(edges, iters = 4)
      .orderBy($"node").collect().toSeq
    val b = GraphMetrics.pageRank(edges.repartition(13), iters = 4)
      .orderBy($"node").collect().toSeq
    assert(a == b)
  }

  test("pageRank iters=30 on a 10k-node path: in-loop truncation keeps the plan flat") {
    // without checkpointTruncated every 3 rounds this compounds 30
    // join+agg layers into one plan and analysis time dominates; with
    // it, each segment is 3 layers deep regardless of iters
    val path = (0L until 9999L).map(i => (i, i + 1)).toDF("a", "b")
    val pr = GraphMetrics.pageRank(path, iters = 30)
    val (n, total) = pr.agg(count(lit(1)), sum($"pagerank")).as[(Long, Double)].head()
    assert(n == 10000L)
    // rank mass conserved through every truncation (checkpoint is a
    // materialization barrier, not a value rewrite)
    assert(math.abs(total - 1.0) < 1e-3, s"rank mass drifted: $total")
    // interior symmetry: all interior path nodes converge to equal rank
    val interior = pr.filter($"node" > 100L && $"node" < 9899L)
      .agg(max($"pagerank") - min($"pagerank")).as[Double].head()
    assert(interior < 1e-6, s"interior spread $interior")
  }

  test("degree-oriented count equals naive ordered count on the co-activity graph") {
    val t = Tables(spark, sf0001)
    val b = t.events.select($"user_id".as("u"), $"event_type".as("et"),
                            date_trunc("minute", $"ts").as("m")).distinct()
    val coactivity = b.select($"u".as("a"), $"et", $"m")
      .join(b.select($"u".as("b"), $"et", $"m"), Seq("et", "m"))
      .filter($"a" < $"b").select($"a", $"b")
    for (edges <- Seq(coactivity, hubRing.toDF("a", "b"))) {
      val oriented = GraphMetrics.triangleCount(edges)
        .select("n_triangles").as[Long].collect().head
      val e = GraphMetrics.canonicalEdges(edges)
      val naive = e.select($"a", $"b")
        .join(e.select($"a".as("b"), $"b".as("c")), "b")
        .join(e.select($"a", $"b".as("c")), Seq("a", "c"), "left_semi")
        .count()
      assert(oriented == naive, s"degree-oriented $oriented != naive $naive")
    }
  }

  test("kCorePeelCensus: pendant path peels away, the triangle core survives") {
    // triangle {1,2,3} with a pendant path 3-4-5: round 1 drops 5
    // (deg 1), round 2 drops 4 (deg fell to 1), round 3 is stable
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val census = GraphMetrics.kCorePeelCensus(edges, k = 2, rounds = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(census == Seq((0L, 5L, 5L), (1L, 4L, 4L), (2L, 3L, 3L), (3L, 3L, 3L)))
  }

  test("personalizedPageRank: rank decays with distance from the seed; unreachable stays 0") {
    // path 0-1-2-3-4 plus a disjoint edge 10-11
    val edges = (Seq((10L, 11L)) ++ (0L until 4L).map(i => (i, i + 1))).toDF("a", "b")
    val r = GraphMetrics.personalizedPageRank(edges, seeds = Seq(0L), iters = 3)
      .as[(Long, Double)].collect().toMap
    // near-seed nodes dominate far ones (exact per-node values
    // oscillate with path parity, so compare the 1-hop and 3-hop sets)
    assert(math.min(r(0L), r(1L)) > math.max(r(2L), r(3L)), r.toString)
    assert(r(4L) == 0.0, "mass reached a node beyond the iteration horizon")
    assert(r(10L) == 0.0 && r(11L) == 0.0, "teleport mass leaked off the seed component")
    // mass is bounded by 1 (walk mass + teleport, damping < 1)
    assert(r.values.sum <= 1.0 + 1e-9)
    intercept[IllegalArgumentException](
      GraphMetrics.personalizedPageRank(edges, seeds = Seq.empty))
  }

  test("labelPropagation: disjoint triangles each converge to their min id") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
                    (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val labels = GraphMetrics.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                         10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: plurality beats id order — a big community pulls a bridge node") {
    // clique {5,6,7,8} + node 9 attached to 6,7,8 (three clique votes)
    // and to 1 (one vote, smaller id): plurality must win over min-id
    val clique = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L))
    val edges = (clique ++ Seq((9L, 6L), (9L, 7L), (9L, 8L), (9L, 1L))).toDF("a", "b")
    val labels = GraphMetrics.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    // the clique converges to label 5; node 9's three clique neighbors
    // outvote the single label-1 neighbor
    assert(labels(9L) == 5L, labels.toString)
    assert(Seq(5L, 6L, 7L, 8L).forall(labels(_) == 5L), labels.toString)
  }

  test("labelPropagation is partition-invariant and canonicalization-invariant") {
    val edges = (0L until 40L).flatMap(i => Seq((i, (i + 1) % 40), (i, (i + 5) % 40)))
      .toDF("a", "b")
    val a = GraphMetrics.labelPropagation(edges, rounds = 3)
      .orderBy($"node").collect().toSeq
    val b = GraphMetrics.labelPropagation(edges.repartition(13), rounds = 3)
      .orderBy($"node").collect().toSeq
    assert(a == b)
    val messy = edges.unionByName(edges.select($"b".as("a"), $"a".as("b")))
      .unionByName(Seq((3L, 3L)).toDF("a", "b"))
    val c = GraphMetrics.labelPropagation(messy, rounds = 3)
      .orderBy($"node").collect().toSeq
    assert(a == c)
  }

  test("labelPropagation: deep loop (rounds=12) truncates lineage and still labels every node") {
    val path = (0L until 2000L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = GraphMetrics.labelPropagation(path, rounds = 12)
    assert(labels.count() == 2001L)
    intercept[IllegalArgumentException](GraphMetrics.labelPropagation(path, rounds = 0))
  }

  test("kCorePeelCensus: a tree peels to nothing; canonicalization applies") {
    val tree = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (3L, 3L)).toDF("a", "b")
    val census = GraphMetrics.kCorePeelCensus(tree, k = 2, rounds = 3)
      .as[(Long, Long, Long)].collect().toSeq
    // canonical edge set: {1-2, 1-3, 3-4} — a path; 2-core is empty
    assert(census.head == ((0L, 4L, 3L)))
    assert(census.last == ((3L, 0L, 0L)))
    intercept[IllegalArgumentException](GraphMetrics.kCorePeelCensus(tree, k = 0))
    intercept[IllegalArgumentException](GraphMetrics.kCorePeelCensus(tree, rounds = 0))
  }
}

package graft.hfc

import graft.SparkTestBase
import graft.operators.Sketches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.Files

/** The sketch-valued distinct-count MV maintained THROUGH the
  * partition-pruned store plane ([[PartitionedMergeWriter.foldPartitioned]]):
  * the standing table's rows are (key, sk, n_rows), a delta batch's
  * sketches UNION into the standing registers (never replace), and the
  * maintained table serves the same estimates as a one-shot rebuild —
  * EXACTLY, because HLL register-max is a commutative monoid, so the
  * folded sketch is bit-equal to the recomputed one regardless of how
  * the rows were batched. Partition pruning must hold too: a delta
  * touching one key rewrites only that key's partition.
  */
class SketchMvMergePlaneSpec extends SparkTestBase {
  import spark.implicits._

  private val N = 4 // partitions

  private def mvOf(rows: Seq[(String, Long)]): DataFrame =
    Sketches.buildDistinctMv(rows.toDF("k", "u"), Seq("k"), "u")

  /** Fold `delta` into the stored MV with sketch-union semantics. */
  private def foldDelta(path: String, delta: DataFrame): Seq[Int] =
    PartitionedMergeWriter.foldPartitioned(spark, path, delta, PartitionedMergeWriter.byKey("k", N)) {
      (existing, u) =>
        existing.unionByName(u)
          .groupBy(col("k"), col(PartitionedMergeWriter.PartCol))
          .agg(expr("hll_union_agg(sk)").as("sk"), sum(col("n_rows")).as("n_rows"))
    }

  private def served(df: DataFrame): Map[String, (Double, Long)] =
    Sketches.readDistinctMv(df, Seq("k")).collect()
      // hll_sketch_estimate returns BIGINT; read numerically either way
      .map(r => r.getString(0) ->
        ((r.getAs[Number](1).doubleValue(), r.getLong(2)))).toMap

  test("maintained table == one-shot rebuild on random batch splits (property, explicit seeds)") {
    val genRows = Gen.listOfN(60, for {
      k <- Gen.oneOf("a", "b", "c", "d", "e")
      u <- Gen.chooseNum(0L, 40L)
    } yield (k, u))
    for (seed <- 1L to 6L) {
      val rows = genRows.apply(Gen.Parameters.default, Seed(seed)).get
      val cut = 1 + (seed * 9 % (rows.size - 1)).toInt
      val (b0, b1) = rows.splitAt(cut)
      val dir = Files.createTempDirectory("graft-skmv").toString
      val path = s"$dir/mv"
      PartitionedMergeWriter.initTable(mvOf(b0), path, "k", N)
      if (b1.nonEmpty) foldDelta(path, mvOf(b1))
      val maintained = served(spark.read.parquet(path))
      val rebuilt = served(mvOf(rows))
      assert(maintained == rebuilt,
        s"maintained $maintained != rebuilt $rebuilt (seed=$seed cut=$cut)")
    }
  }

  test("estimates serve the exact distinct count at these cardinalities") {
    // ≤ 41 distinct values per key is deep inside the sketch's exact
    // (coupon) regime for lgK=12 — the MV's served estimate must equal
    // the true distinct count, making the qi03 gate tolerance trivially
    // tight at testdata scale
    val rows = (0 until 200).map(i => (s"k${i % 3}", (i % 37).toLong))
    val est = served(mvOf(rows))
    val exact = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.map(_._2).distinct.size }
    est.foreach { case (k, (e, _)) => assert(e == exact(k).toDouble, s"key $k") }
  }

  test("a single-key delta rewrites only that key's partition") {
    val dir = Files.createTempDirectory("graft-skmv").toString
    val path = s"$dir/mv"
    val base = (0 until 100).map(i => (s"k${i % 8}", i.toLong))
    PartitionedMergeWriter.initTable(mvOf(base), path, "k", N)
    val affected = foldDelta(path, mvOf(Seq(("k3", 999L))))
    val expectedPart = PartitionedMergeWriter
      .partitionOf(lit("k3"), N)
    val p = spark.range(1).select(expectedPart.as("p")).head().getInt(0)
    assert(affected == Seq(p), s"delta on one key must touch exactly its partition, got $affected")
    // and the fold preserved every other key's row
    assert(spark.read.parquet(path).select("k").distinct().count() == 8)
  }

  test("folding a delta for a NEW key appends it without touching its neighbors' sketches") {
    val dir = Files.createTempDirectory("graft-skmv").toString
    val path = s"$dir/mv"
    PartitionedMergeWriter.initTable(mvOf(Seq(("a", 1L), ("a", 2L), ("b", 7L))), path, "k", N)
    foldDelta(path, mvOf(Seq(("z", 5L), ("z", 6L))))
    val out = served(spark.read.parquet(path))
    assert(out("z") == ((2.0, 2L)))
    assert(out("a") == ((2.0, 2L)) && out("b") == ((1.0, 1L)))
  }
}

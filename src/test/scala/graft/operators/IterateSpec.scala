package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IterateSpec extends SparkTestBase {

  import spark.implicits._

  private def estimateBits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("pin keeps values and rebuilds only a frame estimated past 2^128 bytes") {
    val small = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "comp")
    val pinned = Iterate.pin(small)
    assert(rows(pinned) == rows(small))
    // a checkpoint inherits its child's estimate; no rebuild below the cap
    assert(pinned.queryExecution.optimizedPlan.stats.sizeInBytes ==
      small.queryExecution.optimizedPlan.stats.sizeInBytes)

    // the mergeBatch fold of Iterate.pin's doc: join estimation
    // multiplies, so the fold's labels sit at the 2^63-byte default a
    // rebuild leaves, and the next self-joins of a round pass 2^128
    var labels = ConnectedComponents.run(Seq((0L, 1L)).toDF("a_id", "b_id"))
    for (k <- 1 to 3)
      labels = ConnectedComponents.mergeBatch(labels, Seq((k, k + 1L)).toDF("a_id", "b_id"))
    assert(estimateBits(labels) <= 128, "the fold's own pins keep its estimate capped")
    val huge = labels
      .join(labels.select(col("id"), col("comp").as("c2")), "id")
      .join(labels.select(col("id"), col("comp").as("c3")), "id")
    assert(estimateBits(huge) > 128, "the fold should build an estimate past 2^128")
    val rebuilt = Iterate.pin(huge)
    assert(estimateBits(rebuilt) <= 128)
    assert(rows(rebuilt) == rows(huge))
    assert(rows(labels) == (0L to 4L).map(i => s"[$i,0]"))
  }

  /** x climbs by one per round until `top`; the old value rides along. */
  private def climb(top: Int)(s: DataFrame): DataFrame =
    s.select(least(col("x") + 1, lit(top)).as("x"), col("x").as("old"))

  test("fixpoint reports the rounds it ran and whether it converged") {
    val start = Seq(0).toDF("x")
    def run(cap: Int) = {
      val (s, rounds, converged) = Iterate.fixpoint(start, cap, climb(3),
        col("x") =!= col("old"), _.select(col("x")))
      (s.as[Int].collect().toSeq, rounds, converged)
    }
    // 3 changing rounds, then the round that changes nothing
    assert(run(10) == ((Seq(3), 4, true)))
    assert(run(4) == ((Seq(3), 4, true)))
    // at the cap: the best state so far, rounds == cap, not converged
    assert(run(2) == ((Seq(2), 2, false)))
    assert(run(3) == ((Seq(3), 3, false)))
  }

  test("rounds pins every third round of a deep loop only, values unchanged") {
    val start = Seq(0L).toDF("x")
    def step(s: DataFrame) = s.select((col("x") + 1).as("x"))
    for (n <- Seq(5, 12)) {
      val out = Iterate.rounds(start, n)(step)
      assert(out.as[Long].collect().toSeq == Seq(n.toLong))
      val scans = out.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r
      }
      // shallow: one lineage; deep (12): pinned after rounds 3, 6, 9
      assert(scans.size == (if (n > 8) 1 else 0), s"n=$n")
    }
  }

  test("ConnectedComponents.run costs a fixed number of Spark jobs per round") {
    // a 64-vertex path: neither 1 nor 2 rounds reach the fixpoint, so
    // the difference is exactly one round: the pin's stages and the
    // probe. 8 and 15 jobs before the loop moved onto Iterate.fixpoint.
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val m = graft.QueryMetrics.install(spark)
    val jobs = try {
      Seq(1, 2).map { cap =>
        m.reset()
        val (_, rounds) = ConnectedComponents.runCounted(path, maxIter = cap)
        assert(rounds == cap)
        m.snapshot().jobs
      }
    } finally m.close()
    assert(jobs(1) - jobs(0) == 7, s"jobs at maxIter 1, 2: $jobs")
  }
}

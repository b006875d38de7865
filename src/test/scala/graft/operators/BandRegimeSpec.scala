package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Band-regime advisor ([[Multimodal.bandRegimeAdvice]]): the priced
  * `implied_pairs` must equal the candidate mass the hamming funnels'
  * bucket joins ACTUALLY emit (pre-distinct, post id-order filter) —
  * the qd19/qj01 "price it before paying it" contract — plus the
  * ranking, concentration-read, and guard semantics. */
class BandRegimeSpec extends SparkTestBase {
  import spark.implicits._

  /** Reference: the funnel's own candidate-generation join, counted
    * before the distinct — exactly the rows the advisor prices. */
  private def funnelCandidateRows(hashes: DataFrame, bands: Int, bandBits: Int,
                                  tol: Int): Long = {
    val mask = (1L << bandBits) - 1
    def bandKey(b: Int) = shiftright(col("hash"), b * bandBits).bitwiseAND(lit(mask))
    val ex = hashes.select(col("id"), col("hash"),
      posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("band", "bkey")))
    val probe =
      if (tol == 0) ex
      else hashes.select(col("id"), col("hash"),
        posexplode(array((0 until bands).flatMap(b =>
          bandKey(b) +: (0 until bandBits).map(j =>
            bandKey(b).bitwiseXOR(lit(1L << j)))): _*)).as(Seq("slot", "bkey")))
        .select(col("id"), col("hash"),
          (col("slot") / (bandBits + 1)).cast("int").as("band"), col("bkey"))
    probe.select(col("id").as("a_id"), col("band"), col("bkey"))
      .join(ex.select(col("id").as("b_id"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .count()
  }

  private def seededHashes(n: Int, seed: Long, bits: Int = 56): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, rnd.nextLong() & ((1L << bits) - 1)))
  }

  test("hand-computed fixture: within-bucket pair mass, occupancy, max bucket") {
    // one 4-bit band (bands=1): keys 5,5,5,9 -> bucket 5 has C(3,2)=3
    // pairs, bucket 9 none; 2 occupied buckets, max 3
    val hs = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 9L)).toDF("id", "hash")
    val row = Multimodal.bandRegimeAdvice(hs, "hash", Seq((1, 4, 0)), maxHamming = 0)
      .collect().head
    assert(row.getAs[Long]("implied_pairs") === 3L)
    assert(row.getAs[Long]("occupied_buckets") === 2L)
    assert(row.getAs[Long]("max_bucket") === 3L)
    assert(row.getAs[Long]("guaranteed_radius") === 0L)
    assert(row.getAs[Boolean]("covers"))
    assert(row.getAs[Long]("probe_rows_per_item") === 1L)
  }

  test("hand-computed MIH cross mass: one-bit-apart buckets multiply") {
    // one 4-bit band at tolerance 1: keys {5,5} and {4,4,4} are one
    // flip apart (5 = 4^1): within = C(2,2-choose)=1 + C(3,2)=3,
    // cross = 2*3 = 6 -> implied 10; keys {8} reaches nothing (8^bit
    // in {9,10,12,0} - none occupied)
    val hs = Seq((1L, 5L), (2L, 5L), (3L, 4L), (4L, 4L), (5L, 4L), (6L, 8L))
      .toDF("id", "hash")
    val row = Multimodal.bandRegimeAdvice(hs, "hash", Seq((1, 4, 1)), maxHamming = 1)
      .collect().head
    assert(row.getAs[Long]("implied_pairs") === (1L + 3L) + 6L)
    assert(row.getAs[Long]("guaranteed_radius") === 1L)
    assert(row.getAs[Long]("probe_rows_per_item") === 5L)
  }

  test("implied_pairs equals the funnel's actual candidate-join mass (narrow + MIH)") {
    val hs = seededHashes(300, seed = 17).toDF("id", "hash")
    val geos = Seq((4, 14, 0), (8, 7, 0), (4, 14, 1), (7, 8, 1))
    val advice = Multimodal.bandRegimeAdvice(hs, "hash", geos, maxHamming = 7)
      .select(col("bands"), col("band_bits"), col("tolerance"), col("implied_pairs"))
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    geos.foreach { case g @ (bands, bits, tol) =>
      val actual = funnelCandidateRows(hs, bands, bits, tol)
      assert(advice(g) === actual,
        s"geometry $g: priced ${advice(g)} vs funnel's actual $actual candidate rows")
    }
  }

  test("ranking: covering geometries outrank non-covering; cheapest covering wins") {
    val hs = seededHashes(400, seed = 23).toDF("id", "hash")
    val rows = Multimodal.bandRegimeAdvice(hs, "hash",
        Seq((4, 14, 0), (8, 7, 0), (4, 14, 1)), maxHamming = 7)
      .orderBy(col("rank")).collect()
    // 4x14 t0 reaches only hamming 3 -> must rank last among the three
    assert(!rows.last.getAs[Boolean]("covers") &&
      rows.last.getAs[String]("geometry") === "4x14b t0")
    assert(rows.init.forall(_.getAs[Boolean]("covers")))
    // among covering geometries the smaller implied_pairs ranks first
    val covering = rows.init.map(r => r.getAs[Long]("implied_pairs"))
    assert(covering.sameElements(covering.sorted),
      "covering geometries must be ordered by implied candidate mass")
    // on uniform random hashes the wide MIH buckets collide far less
    // than the narrow 7-bit split (the MIH store regime, NOTES_r13)
    assert(rows.head.getAs[String]("geometry") === "4x14b t1")
  }

  test("concentration read: a hot band key drives max_bucket and the second moment") {
    // all 500 hashes share the low 14-bit band value; high bits spread
    val hs = (0 until 500).map(i =>
      (i.toLong, (i.toLong * 0x9E3779B97F4AL & ((1L << 42) - 1)) << 14 | 0x1ABCL))
      .toDF("id", "hash")
    val row = Multimodal.bandRegimeAdvice(hs, "hash", Seq((4, 14, 0)), maxHamming = 3)
      .collect().head
    assert(row.getAs[Long]("max_bucket") === 500L, "the hot band-0 bucket holds everyone")
    // second moment >= the hot band alone: C(500,2)
    assert(row.getAs[Long]("implied_pairs") >= 500L * 499 / 2)
  }

  test("empty input prices to zero, never null") {
    val hs = Seq.empty[(Long, Long)].toDF("id", "hash")
    val row = Multimodal.bandRegimeAdvice(hs, "hash", Seq((4, 14, 1)), maxHamming = 7)
      .collect().head
    assert(row.getAs[Long]("implied_pairs") === 0L)
    assert(row.getAs[Long]("occupied_buckets") === 0L)
    assert(row.getAs[Long]("max_bucket") === 0L)
    assert(row.getAs[Long]("rank") === 1L)
  }

  test("guards: tolerance and width contracts fail loudly") {
    val hs = Seq((1L, 5L)).toDF("id", "hash")
    intercept[IllegalArgumentException] {
      Multimodal.bandRegimeAdvice(hs, "hash", Seq((4, 14, 2)), maxHamming = 7)
    }
    intercept[IllegalArgumentException] {
      Multimodal.bandRegimeAdvice(hs, "hash", Seq((5, 14, 0)), maxHamming = 7)
    }
    intercept[IllegalArgumentException] {
      Multimodal.bandRegimeAdvice(hs, "hash", Seq.empty, maxHamming = 7)
    }
  }
}

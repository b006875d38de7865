package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("graft-incdedup").resolve("store").toString

  private val t0 = "the quick brown fox jumps over the lazy dog today again"
  private val t1 = "completely different words about spark query engines here now"

  test("batch dups resolve against the store without rescanning old text") {
    val store = tmpStore()
    IncrementalDedup.initStore(
      Seq((0L, t0), (1L, t1)).toDF("doc_id", "text"), store)
    // batch 2: 10 = exact dup of stored 0; 11 = unique; 12 = exact dup of 11 (in-batch)
    val batch = Seq((10L, t0), (11L, "fresh unseen sentence with its own novel vocabulary words"),
                    (12L, "fresh unseen sentence with its own novel vocabulary words"))
      .toDF("doc_id", "text")
    val out = IncrementalDedup.dedupBatch(batch, store, threshold = 0.9)
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(10L)._1.contains(0L) && out(10L)._2.contains(1.0))
    assert(out(11L)._1.isEmpty)
    assert(out(12L)._1.contains(11L)) // in-batch dup, smaller id wins
    // store grew by the unique doc only (11), not the dups
    val ids = spark.read.parquet(store).select("id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 11L))
  }

  test("a later batch matches docs appended by an earlier batch") {
    val store = tmpStore()
    IncrementalDedup.initStore(Seq((0L, t0)).toDF("doc_id", "text"), store)
    val b2 = Seq((10L, t1)).toDF("doc_id", "text")
    assert(IncrementalDedup.dedupBatch(b2, store, 0.9)
      .filter($"dup_of".isNotNull).count() == 0)
    val b3 = Seq((20L, t1)).toDF("doc_id", "text")
    val out = IncrementalDedup.dedupBatch(b3, store, 0.9)
      .as[(Long, Option[Long], Option[Double])].collect().head
    assert(out._2.contains(10L)) // matched the batch-2 doc via the store
  }

  test("appendUnique=false leaves the store untouched") {
    val store = tmpStore()
    IncrementalDedup.initStore(Seq((0L, t0)).toDF("doc_id", "text"), store)
    IncrementalDedup.dedupBatch(
      Seq((10L, t1)).toDF("doc_id", "text"), store, 0.9, appendUnique = false)
    assert(spark.read.parquet(store).count() == 1)
  }

  test("crash-replay of an already-appended batch yields identical, self-dup-free decisions") {
    val store = tmpStore()
    IncrementalDedup.initStore(Seq((0L, t0), (1L, t1)).toDF("doc_id", "text"), store)
    val batch = Seq((10L, t0),
                    (11L, "fresh unseen sentence with its own novel vocabulary words"),
                    (12L, "fresh unseen sentence with its own novel vocabulary words"))
      .toDF("doc_id", "text")
    def decide() = IncrementalDedup.dedupBatch(batch, store, threshold = 0.9)
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val first = decide()           // append ran: store now holds 11's signature
    val replay = decide()          // crash-after-append re-run, decisions re-requested
    assert(replay == first)        // identical decisions, not 11 -> dup_of 11 @ 1.0
    assert(replay(11L)._1.isEmpty) // the appended unique doc is NOT its own dup
    // store only duplicated 11's signature (the unprotected window); compaction reclaims
    graft.hfc.StoreProtocol.compact(spark, store)
    val ids = spark.read.parquet(store).select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 1L, 11L))
  }

  test("near (not exact) dup above threshold is found across batches") {
    // single-pair banding recall at 4x4 is ~j^4 per band — use a long doc
    // (one edit => high jaccard) and 8x2 banding so the collision is
    // near-certain; both sides of the store must use the same banding
    val long0 = (0 until 40).map(i => s"tok$i").mkString(" ")
    val near = long0.replace("tok20", "tokX")
    val store = tmpStore()
    IncrementalDedup.initStore(Seq((0L, long0)).toDF("doc_id", "text"), store,
      numHashes = 16, bands = 8)
    val out = IncrementalDedup.dedupBatch(
        Seq((10L, near)).toDF("doc_id", "text"), store, threshold = 0.3,
        numHashes = 16, bands = 8)
      .as[(Long, Option[Long], Option[Double])].collect().head
    assert(out._2.contains(0L) && out._3.exists(j => j >= 0.3 && j < 1.0))
  }

  private def words(r: scala.util.Random, n: Int): Vector[String] =
    Vector.fill(n)(s"w${r.nextInt(500)}")

  /** `base` with the token at each of `at` replaced by a token no
    * other doc carries. */
  private def edited(base: Vector[String], tag: String, at: Int*): Vector[String] =
    at.zipWithIndex.foldLeft(base) { case (d, (i, k)) => d.updated(i, s"$tag$k") }

  private def docs(ds: Seq[(Long, Vector[String])]) =
    ds.map { case (id, d) => (id, d.mkString(" ")) }.toDF("doc_id", "text")

  private case class Sig(id: Long, hashes: Set[String], bands: Seq[String])

  private def sigs(path: String): Seq[Sig] =
    spark.read.parquet(path).as[(Long, Seq[String], Seq[String])].collect().toSeq
      .map { case (id, h, b) => Sig(id, h.toSet, b) }

  private def jaccard(a: Sig, b: Sig): Double = {
    val common = (a.hashes intersect b.hashes).size.toDouble
    BigDecimal(common / (a.hashes.size + b.hashes.size - common))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def shareBand(a: Sig, b: Sig) = a.bands.zip(b.bands).exists { case (x, y) => x == y }

  /** Brute force: every (store doc other than itself, or smaller batch
    * id) pair sharing a band, exact Jaccard, best = highest, ties to
    * the smallest id. */
  private def reference(store: Seq[Sig], batch: Seq[Sig], threshold: Double) =
    batch.map { n =>
      val scored = (store.filter(_.id != n.id) ++ batch.filter(_.id < n.id))
        .filter(shareBand(n, _)).map(o => (o.id, jaccard(n, o))).filter(_._2 >= threshold)
      n.id -> scored.sortBy { case (id, j) => (-j, id) }.headOption
    }.toMap

  test("a seeded batch decides exactly like the brute-force reference") {
    val r = new scala.util.Random(408)
    val threshold = 0.7
    val stored = (0L until 40L).map(id => id -> words(r, 40))
    val tieBase = words(r, 40)      // never stored itself
    val chainBase = words(r, 40)
    val storedTies = Seq(57L -> edited(tieBase, "tieA", 30), 43L -> edited(tieBase, "tieB", 8))
    val batch = Seq(
      1000L -> tieBase,                          // equal Jaccard to 43 and 57
      1001L -> stored(7)._2,                     // collides with 7 in every band
      1010L -> chainBase,                        // in-batch chain 1012 -> 1011 -> 1010
      1011L -> edited(chainBase, "c1", 20),
      1012L -> edited(edited(chainBase, "c1", 20), "c2", 5)) ++
      (0 until 12).map { k =>                    // random near copies and fresh docs
        val id = 1020L + k
        if (k % 3 == 2) id -> words(r, 40)
        else id -> edited(stored(r.nextInt(40))._2, s"e$k", (0 until 1 + k % 4).map(_ * 9 + 2): _*)
      }
    val store = tmpStore()
    IncrementalDedup.initStore(docs(stored ++ storedTies), store, numHashes = 16, bands = 8)
    val batchSigs = tmpStore()
    IncrementalDedup.initStore(docs(batch), batchSigs, numHashes = 16, bands = 8)
    val (storeSig, newSig) = (sigs(store), sigs(batchSigs))
    val want = reference(storeSig, newSig, threshold)

    // the planted cases hold in the input
    def sig(ss: Seq[Sig], id: Long) = ss.find(_.id == id).get
    val n1000 = sig(newSig, 1000L)
    assert(shareBand(n1000, sig(storeSig, 43L)) && shareBand(n1000, sig(storeSig, 57L)))
    assert(jaccard(n1000, sig(storeSig, 43L)) == jaccard(n1000, sig(storeSig, 57L)))
    assert(sig(newSig, 1001L).bands == sig(storeSig, 7L).bands)
    assert(want(1000L).map(_._1).contains(43L) && want(1001L).contains((7L, 1.0)))
    assert(want(1011L).map(_._1).contains(1010L) && want(1012L).map(_._1).contains(1011L))
    assert(want.values.count(_.isDefined) > 5 && want.values.count(_.isEmpty) > 3, want)

    val got = IncrementalDedup.dedupBatch(docs(batch), store, threshold,
        numHashes = 16, bands = 8)
      .as[(Long, Option[Long], Option[Double])].collect().toSeq
    assert(got.map(_._1).sorted == batch.map(_._1).sorted) // one row per batch doc
    assert(got.map(r => r._1 -> r._2.zip(r._3).headOption).toMap == want)

    val narrowed = intercept[IllegalArgumentException](IncrementalDedup.dedupBatch(
      Seq((2000, "an int keyed batch of words")).toDF("doc_id", "text"), store, threshold,
      numHashes = 16, bands = 8))
    assert(narrowed.getMessage.contains("column 'id' is stored as bigint but the batch has int"))
  }

  test("one batch scans the store once: few jobs, no store-sized shuffle, one new file") {
    val r = new scala.util.Random(7)
    val stored = (0L until 200L).map(id => id -> words(r, 40))
    val store = tmpStore()
    IncrementalDedup.initStore(docs(stored), store, numHashes = 16, bands = 8)
    def parquetFiles() = new java.io.File(store).listFiles().filter(_.getName.endsWith(".parquet"))
    val before = parquetFiles()
    val batch = docs((0 until 30).map { k =>
      (1000L + k, if (k % 2 == 0) edited(stored(k * 5)._2, "b", 17) else words(r, 40))
    })
    val m = graft.QueryMetrics.install(spark)
    val run = try {
      m.reset()
      IncrementalDedup.dedupBatch(batch, store, 0.7, numHashes = 16, bands = 8).collect()
      m.snapshot()
    } finally m.close()
    // a batch-sized exchange only: a plan that shuffles the stored
    // hashes for a verify join writes ~30% of this store's bytes
    val storeBytes = before.map(_.length).sum
    assert(run.jobs <= 6, run)
    assert(run.shuffleWriteBytes < storeBytes / 20, s"$run vs a $storeBytes-byte store")
    assert(parquetFiles().length == before.length + 1)
  }
}

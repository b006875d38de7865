package graft.hfc

import graft.{SparkTestBase, Tables}
import graft.operators.{IncrementalDedup, IncrementalFrameDedup, IncrementalHashDedup,
  IncrementalIvf, IncrementalLineCensus}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File

/** The crash/replay protocol of [[StoreProtocol]], checked once against
  * every incremental store from one table. Per store:
  *  - the applied marker round-trips (sibling marker for append
  *    stores, in-swap marker for rewrite stores);
  *  - a batch replayed after its append (or rewrite) landed decides
  *    identically and never matches a row to itself;
  *  - a torn swap (target renamed to `.old`, complete staging) is
  *    recovered before every entry point reads, the applied-check
  *    included;
  *  - compaction collapses replay bloat to the same logical rows;
  *  - a batch whose id type differs from the store's fails by name.
  * Store-specific decision semantics stay in each store's own spec. */
class StoreProtocolSpec extends SparkTestBase {
  import spark.implicits._

  private val BatchId = 7L

  /** One store under the protocol.
    * @param run batch `BatchId` the way its streaming sink runs it,
    *            minus the sibling marker — so running it twice on an
    *            append store replays the append-to-marker crash window
    * @param inSwap rewrite store (markers inside the swap)
    * @param flat   swap unit is the store dir alone (IVF also swaps
    *               `path/assigned`)
    * @param rows   the logical rows compaction must preserve */
  private case class Store(
      name: String,
      seed: String => Unit,
      run: String => DataFrame,
      entryPoints: Seq[(String, String => Any)],
      inSwap: Boolean = false,
      flat: Boolean = true,
      compact: Option[String => Unit] = None,
      rows: String => DataFrame = p => spark.read.parquet(p),
      intIdBatch: Option[String => Any] = None)

  private def applied(st: Store, path: String, batchId: Long = BatchId): Boolean =
    if (st.inSwap) StoreProtocol.batchCommitted(spark, path, batchId)
    else StoreProtocol.batchApplied(spark, path, batchId)

  private def mark(st: Store, path: String): Unit =
    if (st.inSwap) st.run(path).collect()
    else StoreProtocol.markApplied(spark, BatchId, path)

  private def swapUnits(st: Store, path: String): Seq[String] =
    if (st.flat) Seq(path) else Seq(path, s"$path/assigned")

  /** Decide `batch` with `appendUnique` set the way the sinks set it. */
  private def appendGated(path: String)(decide: Boolean => DataFrame): DataFrame =
    decide(!StoreProtocol.batchApplied(spark, path, BatchId))

  private val t0 = "the quick brown fox jumps over the lazy dog today again"
  private val t1 = "completely different words about spark query engines here now"
  private val fresh = "fresh unseen sentence with its own novel vocabulary words"
  private val docBatch = Seq((10L, t0), (11L, fresh), (12L, fresh)).toDF("doc_id", "text")

  private val hashBatch =
    Seq((10L, 0x01L), (11L, 0xF0F0F0F0F0L), (12L, 0xF0F0F0F0F0L)).toDF("doc_id", "phash")

  private val keyBatch = Seq((10L, "a"), (11L, "c"), (12L, "c")).toDF("doc_id", "key")

  private val h = (v: Long) => v << 8
  // 10 copies stored clip 1; 11 is new; 12 copies batch mate 11
  private val frameBatch = Seq((10L, 0, h(1)), (10L, 1, h(2)),
      (11L, 0, h(70)), (11L, 1, h(71)), (12L, 0, h(70)), (12L, 1, h(71)))
    .toDF("clip_id", "frame_idx", "fhash")

  private lazy val embeddings = Tables(spark, sf0001).embeddings
  private val qs = (0L until 10L).toSeq

  private val censusBatch = Seq((1L, "z z a a"), (2L, "z z b b")).toDF("doc_id", "text")

  private val scd2Batch = Seq((1L, "a", 100L, 0L)).toDF("k", "attr", "ts", "tie")

  private def scrub(path: String): DataFrame = {
    val counted = StoreProtocol.batchCommitted(spark, path, BatchId)
    IncrementalLineCensus.scrubBatch(censusBatch, path, 2, 3,
      updateStore = !counted, batchAlreadyCounted = counted,
      batchMarker = if (counted) None else Some(BatchId))
  }

  private val compactFlat: String => Unit = StoreProtocol.compact(spark, _)

  private val stores = Seq(
    Store("IncrementalDedup",
      seed = IncrementalDedup.initStore(Seq((0L, t0), (1L, t1)).toDF("doc_id", "text"), _),
      run = p => appendGated(p)(u => IncrementalDedup.dedupBatch(docBatch, p, 0.9, appendUnique = u)),
      entryPoints = Seq("dedupBatch" -> (p => IncrementalDedup.dedupBatch(docBatch, p, 0.9,
        appendUnique = false).collect()), "compact" -> compactFlat),
      compact = Some(compactFlat),
      intIdBatch = Some(p => IncrementalDedup.dedupBatch(
        Seq((10, t0)).toDF("doc_id", "text"), p, 0.9))),
    Store("IncrementalHashDedup",
      seed = IncrementalHashDedup.initStore(
        Seq((1L, 0x00L), (2L, 0xFF00FF00L)).toDF("doc_id", "phash"), _),
      run = p => appendGated(p)(u => IncrementalHashDedup.dedupBatch(hashBatch, p, appendUnique = u)),
      entryPoints = Seq("dedupBatch" -> (p => IncrementalHashDedup.dedupBatch(hashBatch, p,
        appendUnique = false).collect()), "compact" -> compactFlat),
      compact = Some(compactFlat),
      intIdBatch = Some(p => IncrementalHashDedup.dedupBatch(
        Seq((10, 0x01L)).toDF("doc_id", "phash"), p))),
    Store("IncrementalHashDedup(string)",
      seed = IncrementalHashDedup.initStringStore(
        Seq((1L, "a"), (2L, "b")).toDF("doc_id", "key"), _),
      run = p => appendGated(p)(u => IncrementalHashDedup.exactDedupBatchString(keyBatch, p,
        appendUnique = u)),
      entryPoints = Seq("exactDedupBatchString" -> (p => IncrementalHashDedup
        .exactDedupBatchString(keyBatch, p, appendUnique = false).collect()),
        "compact" -> compactFlat),
      compact = Some(compactFlat),
      intIdBatch = Some(p => IncrementalHashDedup.exactDedupBatchString(
        Seq((10, "a")).toDF("doc_id", "key"), p))),
    Store("IncrementalFrameDedup",
      seed = IncrementalFrameDedup.initStore(Seq((1L, 0, h(1)), (1L, 1, h(2)))
        .toDF("clip_id", "frame_idx", "fhash"), _),
      run = p => appendGated(p)(u => IncrementalFrameDedup.dedupBatch(frameBatch, p,
        maxHamming = 0, appendUnique = u)),
      entryPoints = Seq("dedupBatch" -> (p => IncrementalFrameDedup.dedupBatch(frameBatch, p,
        maxHamming = 0, appendUnique = false).collect()), "compact" -> compactFlat),
      compact = Some(compactFlat),
      intIdBatch = Some(p => IncrementalFrameDedup.dedupBatch(
        Seq((10, 0, h(1))).toDF("clip_id", "frame_idx", "fhash"), p))),
    Store("IncrementalIvf",
      seed = IncrementalIvf.init(embeddings.filter($"vec_id" % 2 === 0), _, nCells = 8),
      run = p => {
        if (!StoreProtocol.batchApplied(spark, p, BatchId))
          IncrementalIvf.appendBatch(embeddings.filter($"vec_id" % 2 =!= 0), p)
        IncrementalIvf.serve(spark, p, qs, k = 5, nProbe = 2)
      },
      entryPoints = Seq(
        "appendBatch" -> (p => IncrementalIvf.appendBatch(embeddings.filter($"vec_id" === 1L), p)),
        "serve" -> (p => IncrementalIvf.serve(spark, p, qs, k = 5, nProbe = 2).collect()),
        "cellCensus" -> (p => IncrementalIvf.cellCensus(spark, p).collect()),
        "rebuildAdvice" -> (p => IncrementalIvf.rebuildAdvice(spark, p).collect()),
        "compact" -> (p => IncrementalIvf.compact(spark, p)),
        "rebuild" -> (p => IncrementalIvf.rebuild(spark, p, nCells = 8))),
      flat = false,
      compact = Some(p => IncrementalIvf.compact(spark, p)),
      rows = p => spark.read.parquet(s"$p/assigned").select($"vec_id", $"cell"),
      intIdBatch = Some(p => IncrementalIvf.appendBatch(
        embeddings.filter($"vec_id" % 2 =!= 0).withColumn("vec_id", $"vec_id".cast("int")), p))),
    Store("IncrementalLineCensus",
      seed = IncrementalLineCensus.initStore(Seq((0L, "z z y y")).toDF("doc_id", "text"), _, 2),
      run = scrub,
      entryPoints = Seq(
        "scrubBatch" -> (p => IncrementalLineCensus.scrubBatch(censusBatch, p, 2, 3,
          updateStore = false).collect()),
        "storeStats" -> (p => IncrementalLineCensus.storeStats(spark, p))),
      inSwap = true),
    Store("Scd2Store",
      seed = Scd2Store.init(Seq.empty[(Long, String, Long, Long)]
        .toDF("k", "attr", "valid_from", "valid_to")
        .select($"k", $"attr", $"valid_from", when(lit(false), $"valid_to").as("valid_to")), _),
      run = p => {
        Scd2Store.applyBatch(scd2Batch, p, BatchId, "k", "attr", "ts", "tie")
        Scd2Store.history(spark, p)
      },
      entryPoints = Seq(
        "history" -> (p => Scd2Store.history(spark, p).collect()),
        "applyBatch" -> (p => Scd2Store.applyBatch(
          Seq((1L, "b", 300L, 1L)).toDF("k", "attr", "ts", "tie"), p, 99L,
          "k", "attr", "ts", "tie"))),
      inSwap = true)
  )

  /** Test `check` of `st` on a freshly seeded store, deleted afterwards. */
  private def storeTest(st: Store, check: String)(f: String => Unit): Unit =
    test(s"${st.name}: $check") {
      val root = java.nio.file.Files.createTempDirectory("graft-store-protocol").toFile
      try {
        val path = s"$root/store"
        st.seed(path)
        f(path)
      } finally FileUtils.deleteDirectory(root)
    }

  /** The state a crash between commitDir's two renames leaves: `dir`
    * moved to `.old`, a complete copy staged under its staging name. */
  private def tear(dir: String): Unit = {
    val staging = new File(AtomicSwap.stagingFor(dir))
    FileUtils.copyDirectory(new File(dir), staging)
    new File(staging, "_SUCCESS").createNewFile()
    FileUtils.moveDirectory(new File(dir), new File(dir + ".old"))
  }

  private def parquetFiles(dir: String): Int =
    new File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  for (st <- stores) {
    storeTest(st, "applied markers round-trip") { path =>
      assert(!applied(st, path))
      mark(st, path)
      assert(applied(st, path))
      assert(!applied(st, path, BatchId + 1))
    }

    storeTest(st, "replay after a landed append decides identically") { path =>
      val first = st.run(path).collect().toSet
      val replay = st.run(path)
      assert(replay.collect().toSet == first)
      if (replay.columns.contains("dup_of"))
        assert(replay.filter(col("dup_of") === col(replay.columns.head)).isEmpty,
          "a replayed row must never match its own stored copy")
    }

    storeTest(st, "torn swap recovered before each entry point") { path =>
      mark(st, path)
      def recovered(unit: String) = new File(unit).isDirectory && !new File(unit + ".old").exists
      tear(path)
      assert(applied(st, path), "a torn swap must not hide the applied marker")
      assert(recovered(path), "the applied-check must recover the store first")
      for (unit <- swapUnits(st, path); (ep, call) <- st.entryPoints) {
        tear(unit)
        call(path)
        assert(recovered(unit), s"$ep must recover $unit before it reads")
      }
    }

    st.compact.foreach { compact =>
      storeTest(st, "compaction collapses replay bloat") { path =>
        val first = st.run(path).collect().toSet
        val logical = st.rows(path).collect().toSet
        st.run(path).collect() // the append lands again: bloat
        assert(st.rows(path).count() > logical.size, "replay must bloat the store")
        compact(path)
        val after = st.rows(path).collect()
        assert(after.length == logical.size && after.toSet == logical)
        if (st.flat) assert(parquetFiles(path) == 1)
        assert(st.run(path).collect().toSet == first, "the compacted store still decides")
      }
    }

    st.intIdBatch.foreach { intIds =>
      storeTest(st, "int ids on a long-id store fail by name") { path =>
        val e = intercept[IllegalArgumentException](intIds(path))
        assert(e.getMessage.contains(path) && e.getMessage.contains("id'") &&
          e.getMessage.contains("stored as bigint but the batch has int"), e.getMessage)
      }
    }
  }
}

package graft.operators

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Incremental IVF maintenance ([[IncrementalIvf]]): appending against
  * the frozen quantizer must be indistinguishable from a from-scratch
  * assignment with the same centroids; serve must survive replay bloat;
  * pruning must survive appends; the census/rebuild read must be exact. */
class IncrementalIvfSpec extends SparkTestBase {
  import spark.implicits._

  private val qs = (0L until 10L).toSeq

  private def withStore(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-ivf").toString
    try f(s"$dir/ivf")
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("init + append equals a from-scratch assignment against the frozen centroids") {
    val e = Tables(spark, sf0001).embeddings
    withStore { path =>
      IncrementalIvf.init(e.filter($"vec_id" % 2 === 0), path, nCells = 8)
      IncrementalIvf.appendBatch(e.filter($"vec_id" % 2 =!= 0), path)
      val stored = spark.read.parquet(s"$path/assigned")
        .select($"vec_id", $"cell".cast("int")).as[(Long, Int)].collect().toSet
      val cents = spark.read.parquet(s"$path/centroids")
      val fromScratch = IvfIndex.assign(e, cents)
        .select($"vec_id", $"cell".cast("int")).as[(Long, Int)].collect().toSet
      assert(stored === fromScratch,
        "incremental maintenance must equal the one-shot assignment with the same quantizer")
      assert(stored.map(_._1) === e.select($"vec_id").as[Long].collect().toSet)
    }
  }

  test("serve equals topKFromStorage on the accumulated store") {
    val e = Tables(spark, sf0001).embeddings
    withStore { path =>
      IncrementalIvf.init(e.filter($"vec_id" % 2 === 0), path, nCells = 8)
      IncrementalIvf.appendBatch(e.filter($"vec_id" % 2 =!= 0), path)
      val served = IncrementalIvf.serve(spark, path, qs, k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
        .as[(Long, Long, Double, Long)].collect().toSet
      val reference = IvfIndex.topKFromStorage(spark, path, qs, k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(served === reference)
      assert(served.nonEmpty)
    }
  }

  test("replayed append bloats but never changes serve; compact reclaims the bloat") {
    val e = Tables(spark, sf0001).embeddings
    val batch = e.filter($"vec_id" % 2 =!= 0)
    withStore { path =>
      IncrementalIvf.init(e.filter($"vec_id" % 2 === 0), path, nCells = 8)
      IncrementalIvf.appendBatch(batch, path)
      val before = IncrementalIvf.serve(spark, path, qs, k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
        .as[(Long, Long, Double, Long)].collect().toSet
      // crash-window replay: the same batch appends again (no marker check)
      IncrementalIvf.appendBatch(batch, path)
      val nAll = e.count()
      val nBatch = batch.count()
      assert(spark.read.parquet(s"$path/assigned").count() === nAll + nBatch,
        "a replayed append only bloats — bit-identical duplicate rows")
      val bloated = IncrementalIvf.serve(spark, path, qs, k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(bloated === before, "serve must dedup replay bloat (pruned-cells-only)")
      IncrementalIvf.compact(spark, path)
      assert(spark.read.parquet(s"$path/assigned").count() === nAll)
      val compacted = IncrementalIvf.serve(spark, path, qs, k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(compacted === before)
      // compaction re-packs to one file per cell partition
      val cellDirs = new java.io.File(s"$path/assigned").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      assert(cellDirs.nonEmpty && cellDirs.forall(
        _.listFiles().count(_.getName.endsWith(".parquet")) === 1))
    }
  }

  test("probe scan still partition-prunes after appends") {
    val e = Tables(spark, sf0001).embeddings
    withStore { path =>
      IncrementalIvf.init(e.filter($"vec_id" % 2 === 0), path, nCells = 8)
      IncrementalIvf.appendBatch(e.filter($"vec_id" % 2 =!= 0), path)
      val plan = IncrementalIvf.serve(spark, path, Seq(0L), k = 5, nProbe = 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [cell"),
        s"expected a cell partition filter on the accumulated store scan:\n$plan")
      val filterLine = plan.linesIterator.find(_.contains("PartitionFilters: [cell")).get
      val inList = "IN \\(([0-9,]+)\\)".r.findFirstMatchIn(filterLine).map(_.group(1))
      assert(inList.exists(_.split(",").length <= 2),
        s"probe should touch nProbe=2 cells: $filterLine")
    }
  }

  test("streaming ingest: micro-batch waves land batch-equal; checkpoint-loss replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e = Tables(spark, sf0001).embeddings
    withStore { path =>
      IncrementalIvf.init(e.filter($"vec_id" % 2 === 0), path, nCells = 8)
      val odd = e.filter($"vec_id" % 2 =!= 0)
        .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
      val (wave1, wave2) = odd.splitAt(odd.size / 2)

      val mem = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.EventStreams.ivfIngestStream(
        mem.toDF.toDF("vec_id", "embedding"), path).start()
      try {
        mem.addData(wave1: _*); q.processAllAvailable()
        mem.addData(wave2: _*); q.processAllAvailable()
      } finally q.stop()

      // streamed index == the one-shot assignment with the same quantizer
      val stored = spark.read.parquet(s"$path/assigned")
        .select($"vec_id", $"cell".cast("int")).as[(Long, Int)].collect().toSet
      val cents = spark.read.parquet(s"$path/centroids")
      val fromScratch = IvfIndex.assign(e, cents)
        .select($"vec_id", $"cell".cast("int")).as[(Long, Int)].collect().toSet
      assert(stored === fromScratch,
        "micro-batch boundaries must be invisible in the accumulated index")

      // checkpoint loss: a fresh stream re-delivers the same waves as
      // the same batch ids — the applied markers make every append a no-op
      val rows = spark.read.parquet(s"$path/assigned").count()
      val mem2 = MemoryStream[(Long, Seq[Float])]
      val q2 = graft.streaming.EventStreams.ivfIngestStream(
        mem2.toDF.toDF("vec_id", "embedding"), path).start()
      try {
        mem2.addData(wave1: _*); q2.processAllAvailable()
        mem2.addData(wave2: _*); q2.processAllAvailable()
      } finally q2.stop()
      assert(spark.read.parquet(s"$path/assigned").count() === rows,
        "a replayed micro-batch must never grow the index")
    }
  }

  test("cellCensus is exact and rebuildAdvice reads the planted imbalance") {
    val e = Tables(spark, sf0001).embeddings
    withStore { path =>
      IncrementalIvf.init(e, path, nCells = 8)
      val census = IncrementalIvf.cellCensus(spark, path)
        .as[(Int, Long)].collect().toMap
      val direct = spark.read.parquet(s"$path/assigned")
        .groupBy($"cell").count().as[(Int, Long)].collect().toMap
      assert(census === direct)
      val advice = IncrementalIvf.rebuildAdvice(spark, path, threshold = 1e9).collect().head
      val nCells = census.size.toLong
      val total = census.values.sum
      val maxC = census.values.max
      assert(advice.getAs[Long]("n_cells") === nCells)
      assert(advice.getAs[Long]("n_vectors") === total)
      assert(advice.getAs[Long]("max_cell") === maxC)
      assert(advice.getAs[Double]("imbalance") ===
        BigDecimal(maxC.toDouble * nCells / total).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(!advice.getAs[Boolean]("rebuild"), "astronomical threshold never trips")

      // plant drift: a batch of many copies of one stored vector (all
      // land in its frozen cell) must push imbalance up and trip a
      // tight threshold
      val one = e.filter($"vec_id" === 0L).select($"embedding")
        .as[Seq[Float]].collect().head
      val hot = spark.range(10000, 10300)
        .select($"id".as("vec_id"), typedLit(one).as("embedding"))
      IncrementalIvf.appendBatch(hot, path)
      val after = IncrementalIvf.rebuildAdvice(spark, path, threshold = 2.0).collect().head
      assert(after.getAs[Double]("imbalance") > advice.getAs[Double]("imbalance"),
        "concentrated appends must raise the imbalance read")
      assert(after.getAs[Boolean]("rebuild"))
      intercept[IllegalArgumentException] {
        IncrementalIvf.rebuildAdvice(spark, path, threshold = 0.5)
      }

      // rebuild: the action the advice prices — re-fit drops the
      // planted imbalance, preserves content + markers, stays servable
      graft.hfc.StoreProtocol.markApplied(spark, 42L, path)
      val idsBefore = spark.read.parquet(s"$path/assigned")
        .select($"vec_id").as[Long].collect().toSet
      IncrementalIvf.rebuild(spark, path, nCells = 8)
      val rebuilt = IncrementalIvf.rebuildAdvice(spark, path, threshold = 2.0).collect().head
      assert(rebuilt.getAs[Double]("imbalance") < after.getAs[Double]("imbalance"),
        "a re-fit quantizer must spread the drifted mass back out")
      assert(spark.read.parquet(s"$path/assigned")
        .select($"vec_id").as[Long].collect().toSet === idsBefore,
        "rebuild must preserve the accumulated vectors exactly")
      assert(graft.hfc.StoreProtocol.batchApplied(spark, path, 42L),
        "applied markers must survive the swap")
      val served = IncrementalIvf.serve(spark, path, qs, k = 5, nProbe = 2)
      assert(served.count() === qs.size * 5L, "rebuilt index must serve full top-k")
      assert(served.queryExecution.executedPlan.toString.contains("PartitionFilters: [cell"),
        "rebuilt index must still partition-prune")
    }
  }
}

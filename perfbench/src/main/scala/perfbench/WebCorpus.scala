package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Decontaminate, Dedup, IncrementalDedup, Packing, QualityRules}
import graft.sources.WarcSource

/** `web_corpus_build`: the composed web-corpus pipeline, each stage
  * landed as parquet so the next stage (and the runner's checks) read
  * its output:
  *
  *   WARC → documents (HTML extraction) → Gopher quality gate →
  *   MinHash/LSH + exact-Jaccard verify → connected components + dedup
  *   decisions → decontamination → packing
  *
  * then the kept documents seed an `IncrementalDedup` store, and each
  * further WARC batch runs `dedupBatch` against it. A cycle rebuilds
  * everything into its own directory, so every cycle does the same
  * work. */
final class WebCorpus(data: String, out: String) extends Workload {
  private val threshold = 0.7
  private val numHashes = 16
  private val bands = 8
  private val seqLen = 2048
  private lazy val incrBatches: Seq[String] = {
    val d = new java.io.File(s"$data/incr")
    Option(d.list()).getOrElse(Array.empty[String]).filter(_.endsWith(".warc.gz")).sorted
      .map(f => s"$data/incr/$f").toSeq
  }

  private def land(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Set-up warms every stage: the whole pipeline over one segment and
    * one incremental batch, into a throwaway directory. */
  def setup(spark: SparkSession, t: Tracer, rec: Recorder): Unit =
    build(spark, t, s"$data/warc/seg-000.warc.gz", s"$out/warm", incrBatches.take(1), -99, new Recorder)

  def cycle(spark: SparkSession, t: Tracer, c: Int, rec: Recorder): Boolean = {
    build(spark, t, s"$data/warc/*.warc.gz", s"$out/web-c$c", incrBatches, c, rec)
    true
  }

  private def build(spark: SparkSession, t: Tracer, warc: String, dir: String,
                    batches: Seq[String], c: Int, rec: Recorder): Unit = {
    def stage[T](name: String)(body: => T): Option[T] = rec.op(t, c, "stage", name)(body)
    for {
      raw <- stage("sources.warc")(land(WarcSource.read(spark, warc), s"$dir/raw"))
      docs <- stage("functions.extract")(land(WarcSource.asDocuments(raw), s"$dir/docs"))
      kept <- stage("operators.quality")(land(
        QualityRules.gopherFlags(docs, extraCols = Seq("url", "text"))
          .filter(col("pass")).select("doc_id", "url", "text"), s"$dir/kept"))
      pairs <- stage("operators.lsh") {
        val p = t.span("functions.signature")(Dedup.nearDupsMinhash(kept, threshold, numHashes, bands))
        land(p, s"$dir/pairs")
      }
      clusters <- stage("operators.cc")(land(ConnectedComponents.dedupDecisions(kept, pairs), s"$dir/clusters"))
      flags <- stage("operators.decontam")(land(
        Decontaminate.flag(kept, spark.read.parquet(s"$data/bench.parquet")), s"$dir/decontam"))
      clean <- stage("operators.pack") {
        val clean = kept
          .join(clusters.filter(!col("is_dup")).select("doc_id"), "doc_id")
          .join(flags.filter(!col("contaminated")).select("doc_id"), "doc_id")
          .withColumn("n_tok", Packing.wsTokens(col("text")))
        land(Packing.packPlacements(clean, "doc_id", "n_tok", seqLen), s"$dir/packed")
        clean
      }
      _ <- stage("operators.store_init")(IncrementalDedup.initStore(
        clean, s"$dir/store", numHashes, bands))
    } {
      spark.catalog.clearCache()
      batches.zipWithIndex.foreach { case (file, b) =>
        rec.op(t, c, "incr_batch", "operators.store") {
          val nd = WarcSource.asDocuments(WarcSource.read(spark, file))
          IncrementalDedup.dedupBatch(nd, s"$dir/store", threshold, numHashes, bands).collect()
        }.foreach { rows =>
          rec.fact(c, s"incr-$b", rows.map(_.json).mkString("[", ",", "]"))
        }
      }
    }
    spark.catalog.clearCache()
  }

  /** Traced cycles only: the LSH candidate count, recomputed after the
    * cycle (it is not an output of the timed pipeline). */
  override def probe(spark: SparkSession, c: Int, rec: Recorder): Unit = {
    val kept = spark.read.parquet(s"$out/web-c$c/kept")
    val n = Dedup.minhashCandidatePairs(kept, numHashes, bands).count()
    rec.fact(c, "candidate_pairs", n.toString)
    spark.catalog.clearCache()
  }
}

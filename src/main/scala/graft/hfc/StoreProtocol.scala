package graft.hfc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The crash/replay protocol of the persistent incremental stores —
  * written once, called directly by every store and every streaming
  * sink, and the only caller of [[AtomicSwap]]. Members: the APPEND
  * stores ([[graft.operators.IncrementalDedup]],
  * [[graft.operators.IncrementalHashDedup]],
  * [[graft.operators.IncrementalFrameDedup]],
  * [[graft.operators.IncrementalIvf]]), the REWRITE stores
  * ([[graft.operators.IncrementalLineCensus]], [[Scd2Store]]) and the
  * PARTITIONED stores ([[PartitionedMergeWriter]] tables). Each store
  * object keeps only its decision logic; everything below is shared.
  *
  * '''Recovery before any read.''' Every entry point, applied-checks
  * included, runs [[AtomicSwap.recoverDir]] on the store's swap units
  * ([[recovered]]; [[recoverPartitions]] for every partition of a
  * partitioned store) before it looks at them: a crash between the two
  * renames of a compaction, rebuild or rewrite must never surface as a
  * missing store, an empty store or a missing marker.
  *
  * '''Reads pinned to the footer.''' [[read]] and [[readPartitioned]]
  * take the schema from one parquet footer (plus the partition column
  * at its layout's type), so no schema-inference job runs, and a batch
  * column whose type differs from the store's fails by name before
  * anything is written.
  *
  * '''Whole-directory rewrites''' ([[rewrite]]: compaction, IVF
  * rebuild, streaming upsert, [[commitRewrite]]) stage beside the
  * target and publish with one atomic swap.
  *
  * '''Partitioned stores: one swap per touched partition.''' A
  * [[PartitionedMergeWriter]] fold stages its merged partitions under
  * `<root>/.staging` in one write and publishes each with its own swap
  * ([[rewritePartitions]]). Before the staging write completes nothing
  * is published, and recovery drops the staging root; mid-publish some
  * partitions are new and some old, and recovery repairs the one torn
  * swap. Either way re-running the same batch converges: upsert and
  * counter update replayed on their own output give the same rows. A
  * consolidation that is not idempotent (a sketch union, a count add)
  * must not be replayed after a partial publish.
  *
  * '''Append stores: sibling markers, written after the append.''' A
  * batch appends its unique rows ([[appendUnique]]) and, once its
  * outputs are written, the sink stamps `<store>.applied/batch-N`
  * ([[markApplied]]); a re-delivered batch whose marker exists
  * ([[batchApplied]]) re-computes its decisions without appending.
  * Every streaming sink over append stores runs this as one step,
  * [[oncePerBatch]]. The
  * marker lives BESIDE the store, so no swap of the store ever moves
  * it. Crash window: between the append and the marker. A replay then
  * appends the same rows again — bit-identical, because every stored
  * row is a pure function of the batch — and its decisions are
  * unchanged because each store masks the batch's own ids out of the
  * store side (the self-match guard). The only cost is bloat, which
  * [[compact]] (flat stores) or `IncrementalIvf.compact` reclaims.
  *
  * '''Rewrite stores: markers inside the swap.''' A batch that folds
  * into the standing rows (a count add, a version-chain fold) is NOT
  * safe to apply twice, so its marker `_applied_batch_N` is written
  * into the staging directory next to the new rows and both publish
  * with one atomic rename ([[commitRewrite]]); [[batchCommitted]] reads
  * it. There is no crash window: either the rows and the marker are
  * published, or neither is. Retention is bounded at
  * [[MaxAppliedMarkers]], which is what makes
  * [[assertWithinReplayHorizon]] necessary.
  *
  * '''Executor loss while a batch is pinned.'''
  * [[graft.operators.IncrementalDedup]] pins its batch signatures and
  * its decisions on the DRIVER (collected into local relations): an
  * executor loss only re-runs tasks of the store scan or the append,
  * whose lineage is intact, and the decisions cannot change under it.
  * The hash and frame stores still pin two batch-sized frames on
  * executors with `localCheckpoint`, unreplicated: the batch
  * projection (read by banding, verify and the append) and the
  * decisions (pinned before the store grows). Neither is ever
  * store-sized. Losing an executor that holds either fails the action
  * that needs the block; Spark cannot recompute it (the lineage was
  * cut), so the micro-batch fails. Before the append the store is
  * untouched (a failed parquet append job commits nothing); after it,
  * the sink has not yet written the marker. Either way the restart
  * re-delivers the batch and the case reduces to the append-to-marker
  * window above: identical decisions, at most a bloat that compaction
  * reclaims.
  */
object StoreProtocol {

  /** Bound on in-swap markers a rewrite store carries through its
    * rewrites: replay protection reaches this many batches back (a
    * lost checkpoint re-delivers far fewer), while a years-long
    * stream's commits stay O(bound) empty files. */
  val MaxAppliedMarkers: Int = 4096

  def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Repair any torn swap of each of `dirs`, outermost unit first. */
  def recovered(spark: SparkSession, dirs: String*): FileSystem = {
    val f = fs(spark)
    dirs.foreach(AtomicSwap.recoverDir(f, _))
    f
  }

  /** The store's schema, from one parquet footer read on the driver
    * (no Spark job), checked against the batch columns it shares. The
    * store and its batches are one id space and one hash space; a
    * batch whose column type differs is rejected here, by name,
    * instead of failing inside the parquet reader or being widened
    * in the rewritten rows only. */
  def storeSchema(spark: SparkSession, dir: String,
                  batch: StructType = new StructType()): StructType =
    sharingTypes(dir, footerSchema(spark, dir), batch)

  private def footerSchema(spark: SparkSession, dir: String): StructType = {
    val path = firstDataFile(fs(spark), new Path(dir)).getOrElse(
      throw new IllegalStateException(s"store $dir holds no parquet file"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        path, spark.sessionState.newHadoopConf()))
    try {
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(path, reader.getFooter),
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter(spark.sessionState.conf))
    } finally reader.close()
  }

  private def sharingTypes(dir: String, schema: StructType, batch: StructType): StructType = {
    for (b <- batch; s <- schema.find(_.name == b.name)
         if s.dataType.catalogString != b.dataType.catalogString)
      throw new IllegalArgumentException(
        s"store $dir: column '${b.name}' is stored as ${s.dataType.catalogString} " +
        s"but the batch has ${b.dataType.catalogString}; store and batch must " +
        s"share one type (cast the batch column to ${s.dataType.catalogString})")
    schema
  }

  /** A data file of `dir` or its partition dirs, skipping hidden and
    * `_`-prefixed entries (an aborted write's `_temporary`) the way
    * Spark's own listing does. */
  private def firstDataFile(f: FileSystem, dir: Path): Option[Path] = {
    val (dirs, files) = f.listStatus(dir)
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .partition(_.isDirectory)
    files.map(_.getPath).find(_.getName.endsWith(".parquet"))
      .orElse(dirs.iterator.flatMap(d => firstDataFile(f, d.getPath)).nextOption())
  }

  /** Recover `dir`, then read it with its footer schema
    * ([[storeSchema]]) — the schema-inference Spark job is skipped. */
  def read(spark: SparkSession, dir: String,
           batch: StructType = new StructType()): DataFrame = {
    recovered(spark, dir)
    spark.read.schema(storeSchema(spark, dir, batch)).parquet(dir)
  }

  /** [[read]] of a `partitionBy` store: the footer schema plus the
    * partition column at its layout's type (`partition`), which the
    * footer does not carry and discovery would otherwise infer. */
  def readPartitioned(spark: SparkSession, dir: String, partition: StructField,
                      batch: StructType = new StructType()): DataFrame = {
    recovered(spark, dir)
    spark.read.schema(sharingTypes(dir, footerSchema(spark, dir).add(partition), batch))
      .parquet(dir)
  }

  /** Publish the rows `write` puts at the staging path it is given as
    * `dir`, in one crash-safe swap of the whole directory. */
  def rewrite(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val f = fs(spark)
    val staging = AtomicSwap.stagingFor(dir)
    write(staging)
    AtomicSwap.commitDir(f, dir, staging)
  }

  private def partitionStaging(root: String) = new Path(root, ".staging")

  /** Repair every torn partition swap under `root`. Partitions are
    * found by listing (torn `.old`/`.staging` remnants whose canonical
    * dir is gone included), never enumerated; an unpublished staging
    * root is dropped (its writer re-runs the merge). */
  def recoverPartitions(spark: SparkSession, root: String): Unit = {
    val f = fs(spark)
    if (f.exists(new Path(root))) {
      f.listStatus(new Path(root)).map(_.getPath.getName)
        .filter(n => n.contains("=") && !n.startsWith(".") && !n.startsWith("_"))
        .map(_.stripSuffix(".old").stripSuffix(".staging")).distinct
        .foreach(p => AtomicSwap.recoverDir(f, s"$root/$p"))
      f.delete(partitionStaging(root), true)
    }
  }

  /** Partitioned stores: `write` puts the rewritten partitions under
    * the staging root it is given (inside `root`; the dot keeps
    * discovery away), then each of `partitions` (`col=value` dir
    * names) is published with its own crash-safe swap. The staged
    * partitions carry no `_SUCCESS` of their own, so each is stamped
    * from the staging root's job-level marker first — that is what
    * lets [[recoverPartitions]] tell a completed write from a torn
    * one. A partition `write` left empty is not touched. */
  def rewritePartitions(spark: SparkSession, root: String, partitions: Seq[String])
                       (write: String => Unit): Unit = {
    val f = fs(spark)
    val stagingRoot = partitionStaging(root)
    write(stagingRoot.toString)
    val jobComplete = f.exists(new Path(stagingRoot, "_SUCCESS"))
    partitions.foreach { name =>
      val staged = new Path(stagingRoot, name)
      val target = s"$root/$name"
      if (jobComplete && f.exists(staged)) {
        f.create(new Path(staged, "_SUCCESS")).close()
        // publish under the deterministic name recoverDir knows
        val canonical = new Path(AtomicSwap.stagingFor(target))
        f.delete(canonical, true)
        require(f.rename(staged, canonical), s"rename $staged -> $canonical failed")
        AtomicSwap.commitDir(f, target, canonical.toString)
      }
    }
    f.delete(stagingRoot, true)
    ()
  }

  /** The append-store write: `batch` rows (keyed `id`) whose decision
    * row (keyed `idCol`) names no `dup_of`. */
  def appendUnique(batch: DataFrame, decisions: DataFrame, idCol: String,
                   store: String): Unit =
    batch.join(decisions.filter(col("dup_of").isNotNull)
        .select(col(idCol).as("id")), Seq("id"), "left_anti")
      .write.mode("append").parquet(store)

  private def siblingMarker(store: String, batchId: Long) =
    new Path(s"$store.applied", s"batch-$batchId")

  private def inSwapMarker(store: String, batchId: Long) =
    new Path(store, s"_applied_batch_$batchId")

  private def recoveredExists(spark: SparkSession, store: String, marker: Path): Boolean =
    recovered(spark, store).exists(marker)

  /** Append stores: did batch `batchId`'s append land? */
  def batchApplied(spark: SparkSession, store: String, batchId: Long): Boolean =
    recoveredExists(spark, store, siblingMarker(store, batchId))

  /** Append stores: stamp batch `batchId` applied on each of `stores`,
    * after the batch's append and outputs are written. Idempotent. */
  def markApplied(spark: SparkSession, batchId: Long, stores: String*): Unit = {
    val f = fs(spark)
    stores.foreach(s => f.create(siblingMarker(s, batchId), true).close())
  }

  /** The append-store sink step: run micro-batch `batchId` once over
    * `stores`. `body` gets the stores whose sibling marker for the
    * batch is absent (each recovered first, as [[batchApplied]] does)
    * — those must append, the others re-decide without appending —
    * and once it returns every store is stamped applied. A `body` that
    * throws stamps nothing, so the re-delivered batch runs it again;
    * a crash between two stamps leaves some stores pending, and the
    * replay appends to those only. */
  def oncePerBatch(spark: SparkSession, batchId: Long, stores: String*)
                  (body: Set[String] => Unit): Unit = {
    body(stores.filterNot(batchApplied(spark, _, batchId)).toSet)
    markApplied(spark, batchId, stores: _*)
  }

  /** Rewrite stores: is batch `batchId`'s rewrite published? */
  def batchCommitted(spark: SparkSession, store: String, batchId: Long): Boolean =
    recoveredExists(spark, store, inSwapMarker(store, batchId))

  /** Rewrite stores: publish `next` as `store`, with the retained
    * markers plus `batchId`'s in the same atomic rename. Earlier
    * markers must ride along: the swap replaces the whole directory,
    * and a dropped marker would let a checkpoint-loss replay of that
    * batch apply twice. */
  def commitRewrite(spark: SparkSession, store: String, next: DataFrame,
                    batchId: Option[Long]): Unit =
    rewrite(spark, store) { staging =>
      next.write.mode("overwrite").parquet(staging)
      val f = fs(spark)
      (listAppliedMarkers(f, store).toSeq ++ batchId).distinct.sorted
        .takeRight(MaxAppliedMarkers)
        .foreach(id => f.create(inSwapMarker(staging, id), true).close())
    }

  /** In-swap marker ids currently retained inside `dir`. */
  def listAppliedMarkers(fs: FileSystem, dir: String): Array[Long] =
    fs.listStatus(new Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_applied_batch_"))
      .flatMap(_.stripPrefix("_applied_batch_").toLongOption)

  /** Replay-horizon guard for rewrite stores. Retention is bounded at
    * [[MaxAppliedMarkers]], so "no marker for batchId" proves "not yet
    * applied" ONLY while batchId >= the oldest retained marker. Older
    * than that, whether it was applied is unknowable, and re-applying
    * would double-count line frequencies / re-fold version chains:
    * fail loudly instead of guessing.
    *
    * CONTRACT: batch ids increase monotonically per store (Structured
    * Streaming's epoch ids do), so a below-horizon id can only be a
    * replay from a checkpoint older than the store's history — the
    * guard rejects it even while fewer than [[MaxAppliedMarkers]]
    * markers exist. Two producers with independent id spaces MUST NOT
    * share one store; partition the store path per producer. */
  def assertWithinReplayHorizon(fs: FileSystem, dir: String, batchId: Long): Unit = {
    val ids = listAppliedMarkers(fs, dir)
    if (ids.nonEmpty && batchId < ids.min)
      throw new IllegalStateException(
        s"batch $batchId of store $dir is beyond the replay-protection horizon: " +
        s"oldest retained applied marker is ${ids.min} (retention bound " +
        s"MaxAppliedMarkers=$MaxAppliedMarkers). Whether this batch was already " +
        "applied is unknowable, and re-applying would corrupt the store; " +
        "refusing. Restore from a checkpoint newer than the horizon, or " +
        "rebuild the store from the corpus.")
  }

  /** Flat append-store compaction: [[graft.operators.Layout.compact]]'s
    * crash-safe rewrite (file count from bytes), with replay duplicates
    * collapsed on the layout key — `id`, plus `frame` for the frame
    * store. Replayed rows are bit-identical, so the logical rows do not
    * change. */
  def compact(spark: SparkSession, store: String): Unit =
    graft.operators.Layout.compactBy(spark, store)(rows =>
      rows.dropDuplicates(rows.columns.filter(Set("id", "frame")).toSeq))
}

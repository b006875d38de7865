package graft.streaming

import graft.hfc.StoreProtocol
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streams (SURVEY.md §2.A Streaming) — its
  * monthly refresh is incremental batch. These operators are the
  * extension surface for continuous ingest: the same transforms work
  * on a batch DataFrame (tested that way in EventStreamsSpec via
  * MemoryStream) and on `spark.readStream`.
  *
  * Scale notes: every aggregation is keyed so state partitions by
  * group; watermarks bound state size; dropDuplicates state is keyed
  * by event_id and expires with the watermark.
  */
object EventStreams {

  /** Tumbling/sliding windowed counts+sums per event type with a
    * watermark bounding late data and state. */
  def windowedTypeCounts(events: DataFrame,
                         windowDur: String = "10 minutes",
                         slideDur: Option[String] = None,
                         watermark: String = "30 minutes"): DataFrame = {
    val w = slideDur match {
      case Some(s) => window(col("ts"), windowDur, s)
      case None    => window(col("ts"), windowDur)
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
              col("event_type"), col("n_events"), col("total_value"))
  }

  /** Exactly-once-style streaming dedup on event_id, state bounded by
    * the watermark (late duplicates beyond it are dropped by time). */
  def dedupedEvents(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // ---- stateful sessionization (mapGroupsWithState) ----

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(sessionStart: Long, lastTs: Long, nEvents: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Per-user session aggregation with an inactivity gap: a session
    * closes when no event arrives within `gapMs` (processing-time
    * timeout when streaming; pass NoTimeout to close sessions only on
    * observed gaps — e.g. in tests, where wall-clock timeouts would
    * keep scheduling no-data batches). Emits one row per closed
    * session. */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout()
                ): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeout) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new java.sql.Timestamp(s.sessionStart),
              new java.sql.Timestamp(s.lastTs), s.nEvents, s.total))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new java.sql.Timestamp(s.sessionStart),
                    new java.sql.Timestamp(s.lastTs), s.nEvents, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  // ---- streaming anomaly detection (prequential z-score) ----

  case class AnomalyState(curDay: Long, curCount: Long,
                          nDays: Long, s: Long, sq: Long)
  case class AnomalyOut(user_id: Long, day: String,
                        n_events: Long, z: Option[Double])

  /** Streaming per-user daily-volume anomaly scores — the PREQUENTIAL
    * twin of the batch qe04 scorer: a user's day closes when a LATER
    * day's event arrives, and the closed day's count is z-scored
    * against the user's previously-closed days only (never the
    * future — the honest online semantics; qe04's batch z uses the
    * full history both ways). `z` is NULL until two prior days exist
    * and their variance is positive. The still-open day is never
    * emitted; late events for already-closed days are dropped (the
    * stream's watermark contract, documented rather than silently
    * miscounted). State per user is five longs — O(users), not
    * O(events). [[anomalyBatch]] computes identical rows with window
    * functions; AnomalySpec pins stream == batch across micro-batch
    * splits. */
  def anomalyStream(events: Dataset[Event],
                    timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout(),
                    timeoutMs: Long = 0L): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()
    def close(userId: Long, st: AnomalyState): AnomalyOut = {
      val z =
        if (st.nDays >= 2) {
          val mean = st.s.toDouble / st.nDays
          val variance = (st.sq.toDouble - st.s.toDouble * st.s / st.nDays) / st.nDays
          if (variance > 0.0)
            // HALF_UP at 6dp — the same rounding Spark's round() applies
            // in the batch twin, so stream == batch is exact
            Some(BigDecimal((st.curCount - mean) / math.sqrt(variance))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          else None
        } else None
      // ISO string day — immune to JVM/session timezone skew (the
      // session runs UTC; epoch-day IS the UTC day)
      AnomalyOut(userId, java.time.LocalDate.ofEpochDay(st.curDay).toString, st.curCount, z)
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomalyState, AnomalyOut](OutputMode.Append(), timeout) {
        case (userId, it, state: GroupState[AnomalyState]) =>
          if (state.hasTimedOut) {
            // wall-clock close of the still-open day (mirrors
            // sessionize's timeout discipline)
            val s = state.get
            state.remove()
            Iterator.single(close(userId, s))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var out = List.empty[AnomalyOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val day = Math.floorDiv(e.ts.getTime, 86400000L)
              cur match {
                case Some(st) if day == st.curDay =>
                  cur = Some(st.copy(curCount = st.curCount + 1))
                case Some(st) if day > st.curDay =>
                  out ::= close(userId, st)
                  cur = Some(AnomalyState(day, 1,
                    st.nDays + 1, st.s + st.curCount, st.sq + st.curCount * st.curCount))
                case Some(_) => () // late event for a closed day: dropped
                case None =>
                  cur = Some(AnomalyState(day, 1, 0L, 0L, 0L))
              }
            }
            cur.foreach { st =>
              state.update(st)
              if (useTimeout && timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            }
            out.reverseIterator
          }
      }
  }

  /** Batch twin of [[anomalyStream]]: identical prequential rows via
    * window functions — prior-days-only running stats, each user's
    * last (still-open) day excluded. */
  def anomalyBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("user_id"))
    val n = count(col("n_events")).over(w)
    val s = sum(col("n_events")).over(w)
    val sq = sum(col("n_events") * col("n_events")).over(w)
    val mean = s.cast("double") / n
    val variance = (sq.cast("double") - s.cast("double") * s / n) / n
    daily
      .withColumn("z", when(n >= 2 && variance > 0.0,
        round((col("n_events") - mean) / sqrt(variance), 6)))
      .withColumn("__last", max(col("day")).over(wAll))
      .filter(col("day") < col("__last"))
      .drop("__last")
  }

  /** A micro-batch's output lands in `dir/batch_id=N` by dynamic
    * partition overwrite, so a re-delivered batch rewrites its own
    * partition instead of appending a second copy. */
  private def writeBatch(out: DataFrame, batchId: Long, dir: String): Unit =
    out.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** Streaming ingest → MERGE (SURVEY.md §2.A Streaming extension:
    * `foreachBatch` upsert, Trigger.AvailableNow-compatible): each
    * micro-batch is consolidated into the parquet target with
    * [[graft.hfc.MergeWriter.upsert]] semantics and published with
    * [[graft.hfc.AtomicSwap]]'s crash-safe rename protocol — recover()
    * runs at batch start, so a crash mid-swap can never be mistaken
    * for an empty target (which would silently rebuild from only the
    * new batch). At scale the target would be a bucketed table, a
    * lakehouse MERGE, or [[graft.hfc.PartitionedMergeWriter]]; the
    * per-batch semantics are identical. */
  def upsertStream(events: DataFrame, keys: Seq[String],
                   targetDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fs = StoreProtocol.recovered(spark, targetDir)
        val existing =
          if (fs.exists(new org.apache.hadoop.fs.Path(targetDir)))
            spark.read.parquet(targetDir)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            batch.schema)
        val staging = graft.hfc.AtomicSwap.stagingFor(targetDir)
        graft.hfc.MergeWriter.upsert(existing, batch, keys)
          .write.mode("overwrite").parquet(staging)
        graft.hfc.AtomicSwap.commitDir(fs, targetDir, staging)
        ()
      }

  /** Streaming perceptual-hash dedup — [[dedupStream]]'s shape for the
    * IMAGE/AUDIO plane: each micro-batch of (id, hash) rows (the hash
    * computed upstream by [[graft.operators.Multimodal.withPerceptualHash]]
    * or a fingerprint expression — media bytes never reach the store)
    * dedups against the persistent
    * [[graft.operators.IncrementalHashDedup]] store and itself;
    * decisions land in batch_id partitions (dynamic overwrite = replay
    * rewrites itself), unique hashes append under the same
    * marker-after-append protocol, and the replay self-match guard
    * keeps re-delivered batches byte-identical. */
  def hashDedupStream(hashes: DataFrame, storePath: String, decisionsDir: String,
                      bands: Int = 4, bandBits: Int = 14, maxHamming: Int = 3,
                      idCol: String = "doc_id", hashCol: String = "phash")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    hashes.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = StoreProtocol.batchApplied(batch.sparkSession, storePath, batchId)
        writeBatch(graft.operators.IncrementalHashDedup
          .dedupBatch(batch, storePath, bands, bandBits, maxHamming,
            idCol, hashCol, appendUnique = !applied), batchId, decisionsDir)
        StoreProtocol.markApplied(batch.sparkSession, batchId, storePath)
      }

  /** Streaming incremental near-dup detection: each micro-batch of
    * documents is deduped against the persistent signature store (and
    * itself) via [[graft.operators.IncrementalDedup.dedupBatch]], its
    * decisions appended to `decisionsDir`, and the unique docs'
    * signatures appended to the store — so later batches (and later
    * runs: the store IS the state, no in-memory carryover) dedup
    * against everything seen so far without rescanning old text.
    * foreachBatch because the state is a queryable parquet artifact
    * shared with the batch path, not opaque operator state.
    *
    * Replay-safe: foreachBatch re-delivers a micro-batch after a crash,
    * so (a) decisions land in a batch_id=N partition via dynamic
    * partition overwrite — a replay overwrites its own partition
    * instead of appending duplicate rows; (b) the store append runs
    * only when batch N's applied-marker is absent and the marker is
    * created right after the append, so a replayed batch re-computes
    * identical decisions (dedupBatch's old_id =!= new_id guard) without
    * growing the store a second time. */
  def dedupStream(docs: DataFrame, storePath: String, decisionsDir: String,
                  threshold: Double, numHashes: Int = 16, bands: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = StoreProtocol.batchApplied(batch.sparkSession, storePath, batchId)
        writeBatch(graft.operators.IncrementalDedup
          .dedupBatch(batch, storePath, threshold, numHashes, bands,
            appendUnique = !applied), batchId, decisionsDir)
        StoreProtocol.markApplied(batch.sparkSession, batchId, storePath)
      }

  /** Streaming ANN-index ingest: each micro-batch of (id, embedding)
    * rows is assigned against the FROZEN quantizer and appended to the
    * cell-partitioned [[graft.operators.IncrementalIvf]] store —
    * continuous vector-index ingest, with the index servable between
    * any two micro-batches ([[graft.operators.IncrementalIvf.serve]];
    * probes partition-prune across seed and streamed data alike).
    * foreachBatch because the state is the queryable parquet index
    * shared with the batch path, not opaque operator state.
    *
    * Exactly-once: assignment is a PURE function of (vector, frozen
    * centroids) — this sink emits no decisions, so the applied marker
    * gates the append entirely and a replayed micro-batch is a no-op.
    * A crash in the append-to-marker window leaves bit-identical
    * duplicate rows, which `serve` tolerates (pruned-cells-only id
    * dedup) and `compact` reclaims — the IncrementalHashDedup bloat
    * contract, without even a decisions surface to re-pin. */
  def ivfIngestStream(vectors: DataFrame, indexPath: String,
                      idCol: String = "vec_id", vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!StoreProtocol.batchApplied(batch.sparkSession, indexPath, batchId)) {
          graft.operators.IncrementalIvf.appendBatch(batch, indexPath, idCol, vecCol)
          StoreProtocol.markApplied(batch.sparkSession, batchId, indexPath)
        }
      }

  /** Streaming SCD2 maintenance: dimension updates arrive as a stream
    * and each micro-batch folds into the persistent version-chain
    * store via [[graft.hfc.Scd2Store.applyBatch]] — the K-plane's
    * history-keeping sink run continuously (upsertStream overwrites;
    * this VERSIONS). Crash-replay safe by the in-store applied marker
    * (a replayed batch is a no-op — re-folding would re-close closed
    * versions); under the in-order ingest contract the stored history
    * equals the all-at-once [[graft.hfc.Scd2.applyChanges]] build
    * regardless of micro-batch boundaries (spec-pinned). */
  def scd2Stream(updates: DataFrame, storePath: String,
                 keyCol: String, attrCol: String, tsCol: String, tieCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.hfc.Scd2Store.applyBatch(batch, storePath, batchId,
          keyCol, attrCol, tsCol, tieCol)
        ()
      }

  /** Stream-static dimension enrichment — the streaming-legal equi
    * join Structured Streaming gives for free: the static side is
    * bounded, so no watermark and no join state (nothing can arrive
    * late on a bounded side). The dimension is broadcast-hinted (the
    * small-dim contract) and LEFT-joined so unmatched events survive
    * with nulls plus an explicit `dim_matched` audit flag — the F8
    * quarantine discipline applied to reference-data gaps: a missing
    * dimension row must be visible downstream, never a silent inner-
    * join drop. */
  def enriched(events: DataFrame, dim: DataFrame, key: String): DataFrame = {
    require(dim.columns.exists(_ != key),
      s"dim needs at least one non-key column to enrich with (key = $key)")
    // match flag from an injected presence marker, not null-probing a data
    // column: a matched dim row whose first attribute is legitimately NULL
    // must still read as matched
    events.join(broadcast(dim.withColumn("__dim_present", lit(true))), Seq(key), "left")
      .withColumn("dim_matched", coalesce(col("__dim_present"), lit(false)))
      .drop("__dim_present")
  }

  /** [[enriched]] with a REFRESHABLE dimension: an inline stream-static
    * join snapshots the static side's file listing when the query
    * starts, so a dimension rewritten mid-stream is invisible until
    * restart. This foreachBatch form re-reads `dimPath` at EVERY
    * micro-batch — the slowly-refreshed-dimension pattern (dimension
    * updated by an independent job, stream picks it up within one
    * trigger, no restart). Torn [[graft.hfc.AtomicSwap]] publishes are
    * repaired before each read; output lands in batch_id partitions via
    * dynamic overwrite, so a crash-replayed batch overwrites itself
    * (replay-idempotent — though a replay enriches against the CURRENT
    * dimension, the documented semantics of reading refreshable
    * reference data). */
  def enrichStream(events: DataFrame, dimPath: String, key: String, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(enriched(batch, StoreProtocol.read(batch.sparkSession, dimPath), key),
          batchId, outDir)
      }

  /** Streaming corpus-global line boilerplate removal — the continuous
    * form of [[graft.operators.IncrementalLineCensus]]: each
    * micro-batch is scrubbed against the persistent line census,
    * decisions land in a batch_id partition (dynamic overwrite, so a
    * replay overwrites itself), and the census merge carries its own
    * applied marker INSIDE the atomically-swapped store directory —
    * counts and marker commit as one rename, so a replayed batch runs
    * in `batchAlreadyCounted` mode (store-only frequency, which at
    * that point IS the frequency the original saw) and reproduces its
    * decisions bit-identically instead of double-counting. */
  def lineScrubStream(docs: DataFrame, storePath: String, decisionsDir: String,
                      lineTokens: Int = 10, maxDocFreq: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val counted = StoreProtocol.batchCommitted(batch.sparkSession, storePath, batchId)
        writeBatch(graft.operators.IncrementalLineCensus
          .scrubBatch(batch, storePath, lineTokens, maxDocFreq,
            updateStore = !counted, batchAlreadyCounted = counted,
            batchMarker = if (counted) None else Some(batchId)), batchId, decisionsDir)
      }

  /** The COMPOSED streaming corpus pipeline — quality pre-gate →
    * near-dup store → line census in ONE foreachBatch pass: the
    * production shape a continuous crawl runs (each member is
    * individually replay-safe and spec-pinned; this is the
    * composition). Per micro-batch:
    *   1. gate: the qx01 integer quality rule (wc ≥ minTokens,
    *      3 ≤ chars/token ≤ 12), a scan-local projection;
    *   2. dedup: survivors probe the persistent signature store
    *      ([[graft.operators.IncrementalDedup.dedupBatch]], appended
    *      under the batch's applied marker);
    *   3. scrub: non-dup survivors run the corpus-global line census
    *      ([[graft.operators.IncrementalLineCensus.scrubBatch]],
    *      counted under the in-store atomic marker).
    * One decisions row per input doc (gate_passed, dup_of, jaccard,
    * line-census columns, kept) lands in a batch_id partition via
    * dynamic overwrite.
    *
    * Exactly-once across a checkpoint loss composes stage-wise: a
    * re-delivered batch recomputes the SAME gate split (pure
    * projection), the same dedup decisions (store-side replay guard +
    * applied marker skips the re-append), hence the same survivor set
    * into the census, whose in-store marker switches it to store-only
    * frequency — identical decisions end to end, stores unchanged
    * (CorpusPipelineStreamSpec). Both stores must be initStore'd
    * before the query starts. */
  def corpusPipelineStream(docs: DataFrame,
                           dedupStorePath: String, censusStorePath: String,
                           outDir: String, threshold: Double,
                           numHashes: Int = 16, bands: Int = 4,
                           minTokens: Int = 20,
                           lineTokens: Int = 10, maxDocFreq: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        // micro-batch-sized; read by all three stages + the report
        val gated = batch0.select(col("doc_id"), col("text"),
            size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("wc"),
            length(trim(col("text"))).cast("long").as("tl"))
          .withColumn("gate_passed",
            col("wc") >= minTokens && col("tl") >= col("wc") * 3 && col("tl") <= col("wc") * 12)
          .localCheckpoint()
        val passDocs = gated.filter(col("gate_passed")).select(col("doc_id"), col("text"))

        val applied = StoreProtocol.batchApplied(spark, dedupStorePath, batchId)
        val dd = graft.operators.IncrementalDedup
          .dedupBatch(passDocs, dedupStorePath, threshold, numHashes, bands,
            appendUnique = !applied)
        val survivors = passDocs.join(
          dd.filter(col("dup_of").isNull).select(col("doc_id")), Seq("doc_id"))

        val counted = StoreProtocol.batchCommitted(spark, censusStorePath, batchId)
        val scrub = graft.operators.IncrementalLineCensus
          .scrubBatch(survivors, censusStorePath, lineTokens, maxDocFreq,
            updateStore = !counted, batchAlreadyCounted = counted,
            batchMarker = if (counted) None else Some(batchId))

        writeBatch(gated.select(col("doc_id"), col("gate_passed"))
          .join(dd, Seq("doc_id"), "left")
          .join(scrub, Seq("doc_id"), "left")
          .withColumn("kept", col("gate_passed") && col("dup_of").isNull), batchId, outDir)
        StoreProtocol.markApplied(spark, batchId, dedupStorePath)
      }

  /** The MULTIMODAL composed streaming corpus pipeline —
    * [[corpusPipelineStream]] with the image leg wired in (round-12
    * composition): input docs carry (doc_id, text, phash) where
    * `phash` is the perceptual hash computed upstream
    * ([[graft.operators.Multimodal.withPerceptualHash]] on real
    * corpora — media bytes never reach this stream, only the 8-byte
    * hash; NULL = undecodable/absent media). Per micro-batch:
    *   1. gate: the text quality rule (unchanged);
    *   2. text dedup: survivors probe the signature store;
    *   3. image dedup: survivors WITH a hash probe the persistent
    *      hamming store ([[graft.operators.IncrementalHashDedup]]),
    *      under its own applied-marker replay protocol;
    *   3b. (when `frameStorePath` is set) VIDEO dedup: survivors with
    *      a non-empty `fhashes` array probe the persistent frame store
    *      ([[graft.operators.IncrementalFrameDedup]], frame-vote
    *      decisions), under its own applied-marker protocol;
    *   4. scrub: docs unique in EVERY judging modality run the census.
    * Output is the qm06-shaped cross-modal verdict per input doc:
    * gate_passed, text dup_of, image_dup_of + image_hamming,
    * `image_judged` (false = the modality could not judge — the qc11
    * lesson: it reports false, never drops the row), `n_modalities`
    * (dup votes across modalities; 2 = high-confidence removal, 1 =
    * the threshold-tuning review queue), and the strict keep policy
    * `kept` = gated AND unique in every judging modality.
    *
    * Exactly-once composes stage-wise exactly as in
    * [[corpusPipelineStream]]; the hamming store adds its own
    * marker-after-append discipline (append-only store: a crash
    * between append and marker means a replay re-appends bit-identical
    * hashes — bloat reclaimed by StoreProtocol.compact, never corruption;
    * decisions are unchanged thanks to the store-side self-match
    * guard). All three stores must be initStore'd before the query
    * starts. CorpusSoakSpec soaks this composition with torn-compact +
    * checkpoint-loss injection. */
  def multimodalPipelineStream(docs: DataFrame,
                               dedupStorePath: String, censusStorePath: String,
                               hashStorePath: String,
                               outDir: String, threshold: Double,
                               numHashes: Int = 16, bands: Int = 4,
                               minTokens: Int = 20,
                               lineTokens: Int = 10, maxDocFreq: Int = 3,
                               hashBands: Int = 4, hashBandBits: Int = 14,
                               maxHamming: Int = 3,
                               frameStorePath: String = "",
                               voteFrac: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // frameStorePath non-empty wires the VIDEO leg (round-13): docs
    // then additionally carry `fhashes: array<long>` — per-sampled-
    // frame perceptual hashes computed upstream (videoFrames → dhash64
    // on real corpora; empty array = no/undecodable video, the
    // cannot-judge sentinel). The leg probes a persistent frame store
    // ([[graft.operators.IncrementalFrameDedup]]) under its own
    // applied-marker protocol and adds video_dup_of/video_votes/
    // video_judged to the verdict; `kept` stays strict across every
    // judging modality.
    val hasVideo = frameStorePath.nonEmpty
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val baseCols = Seq(col("doc_id"), col("text"), col("phash"),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("wc"),
          length(trim(col("text"))).cast("long").as("tl"))
        val gated = batch0.select(
            (if (hasVideo) baseCols :+ col("fhashes") else baseCols): _*)
          .withColumn("gate_passed",
            col("wc") >= minTokens && col("tl") >= col("wc") * 3 && col("tl") <= col("wc") * 12)
          .localCheckpoint()
        val passDocs = gated.filter(col("gate_passed")).select(col("doc_id"), col("text"))

        val appliedT = StoreProtocol.batchApplied(spark, dedupStorePath, batchId)
        val dd = graft.operators.IncrementalDedup
          .dedupBatch(passDocs, dedupStorePath, threshold, numHashes, bands,
            appendUnique = !appliedT)

        val hashDocs = gated
          .filter(col("gate_passed") && col("phash").isNotNull)
          .select(col("doc_id"), col("phash"))
        val appliedH = StoreProtocol.batchApplied(spark, hashStorePath, batchId)
        val hd = graft.operators.IncrementalHashDedup
          .dedupBatch(hashDocs, hashStorePath, hashBands, hashBandBits, maxHamming,
            idCol = "doc_id", hashCol = "phash", appendUnique = !appliedH)
          .select(col("doc_id"), col("dup_of").as("image_dup_of"),
            col("hamming").as("image_hamming"))

        val appliedV = hasVideo && StoreProtocol.batchApplied(spark, frameStorePath, batchId)
        val vd = if (!hasVideo) null else {
          val frames = gated
            .filter(col("gate_passed") && size(col("fhashes")) > 0)
            .select(col("doc_id"),
              posexplode(col("fhashes")).as(Seq("frame_idx", "fhash")))
          graft.operators.IncrementalFrameDedup
            .dedupBatch(frames, frameStorePath,
              bands = hashBands, bandBits = hashBandBits, maxHamming = maxHamming,
              voteFrac = voteFrac, idCol = "doc_id", frameCol = "frame_idx",
              hashCol = "fhash", appendUnique = !appliedV)
            .select(col("doc_id"), col("dup_of").as("video_dup_of"),
              col("votes").as("video_votes"))
        }

        val survivors0 = passDocs
          .join(dd.filter(col("dup_of").isNull).select(col("doc_id")), Seq("doc_id"))
          .join(hd.filter(col("image_dup_of").isNotNull).select(col("doc_id")),
            Seq("doc_id"), "left_anti")
        val survivors = if (!hasVideo) survivors0
          else survivors0.join(vd.filter(col("video_dup_of").isNotNull)
            .select(col("doc_id")), Seq("doc_id"), "left_anti")

        val counted = StoreProtocol.batchCommitted(spark, censusStorePath, batchId)
        val scrub = graft.operators.IncrementalLineCensus
          .scrubBatch(survivors, censusStorePath, lineTokens, maxDocFreq,
            updateStore = !counted, batchAlreadyCounted = counted,
            batchMarker = if (counted) None else Some(batchId))

        val judgedCols = Seq(col("doc_id"), col("gate_passed"),
          // judged = the doc actually probed the store: gate failures
          // never reach it, so phash.isNotNull alone would report a
          // gate-failed doc as 'probed and found unique'
          (col("gate_passed") && col("phash").isNotNull).as("image_judged")) ++
          (if (hasVideo)
            // coalesce: a NULL array (upstream join miss, vs the
            // documented empty-array sentinel) must read judged=false,
            // not NULL — the phash leg's isNotNull mirror
            Seq((col("gate_passed") &&
              coalesce(size(col("fhashes")), lit(0)) > 0).as("video_judged"))
          else Nil)
        val verdict0 = gated.select(judgedCols: _*)
          .join(dd, Seq("doc_id"), "left")
          .join(hd, Seq("doc_id"), "left")
        val verdict1 = if (!hasVideo) verdict0
          else verdict0.join(vd, Seq("doc_id"), "left")
        val videoDup = if (hasVideo) col("video_dup_of").isNotNull else lit(false)
        writeBatch(verdict1
          .join(scrub, Seq("doc_id"), "left")
          .withColumn("text_dup", col("dup_of").isNotNull)
          .withColumn("image_dup", col("image_dup_of").isNotNull)
          .withColumn("n_modalities",
            col("text_dup").cast("int") + col("image_dup").cast("int") +
              (if (hasVideo) videoDup.cast("int") else lit(0)))
          .withColumn("kept",
            col("gate_passed") && !col("text_dup") && !col("image_dup") && !videoDup),
          batchId, outDir)
        StoreProtocol.markApplied(spark, batchId,
          Seq(dedupStorePath, hashStorePath) ++ Option(frameStorePath).filter(_.nonEmpty): _*)
      }
  }

  /** The WEB composed streaming pipeline — qx03's crawl-to-corpus
    * funnel made incremental: input pages carry (doc_id, url, html);
    * per micro-batch:
    *   1. EXTRACTION, one pure scan projection (the page bytes are
    *      touched exactly once and never shuffle):
    *      [[graft.operators.WebText.htmlToText]] + anchorCount +
    *      urlCanonicalize, then the all-integer web gate — canonical
    *      URL present (quarantine sentinel), ≥ `minWords` extracted
    *      words, link density `5·anchors ≤ words`. Only ~60 B/doc of
    *      metadata (two 8-byte keys + counts + flags) survives the
    *      localCheckpoint;
    *   2. URL dedup among gate-passers against the persistent url-key
    *      store — [[graft.operators.IncrementalHashDedup]] in its
    *      EXACT regime (`bands = 1, bandBits = 32, maxHamming = 0`:
    *      pigeonhole needs only one band at hamming 0; the 32-bit band
    *      key merely buckets, the popcount verify makes every match
    *      exact on the full key) — the crawler's cheapest duplicate
    *      class, killed before any content work;
    *   3. CONTENT dedup among url-keepers on the boilerplate-free body
    *      key (dedup AFTER extraction, so chrome differences can't
    *      hide copies) against its own store, same exact regime;
    *   4. verdict manifest per input page: gate_passed, n_words,
    *      n_anchors, url_dup_of, content_dup_of, strict `kept`.
    *
    * Keys are [[graft.operators.WebText.key60]] (cross-engine md5-60;
    * see its scaladoc for the birthday bound and the shard-by-host
    * 100 TB path). Exactly-once composes stage-wise as in
    * [[corpusPipelineStream]]: extraction is pure, both stores run the
    * marker-after-append protocol (append-only — a crash between
    * append and marker means a replay re-appends bit-identical keys;
    * bloat reclaimed by StoreProtocol.compact, never corruption), and replayed
    * decisions are identical because exact-key equality is SYMMETRIC
    * (the [[graft.operators.IncrementalFrameDedup]] lesson in reverse:
    * the store-side self-match guard suffices — any batch mate sharing
    * a key was flagged against the smaller id and never appended, so a
    * replay cannot meet it in the store). The content stage's input is
    * the url stage's keeper set, which replays identically for the
    * same reason, so the composition is exactly-once end to end. Dup
    * attribution is ARRIVAL-ORDER (first writer keeps; within a batch,
    * smallest id), vs qx03's global min-id — same clusters,
    * incremental keeper. Both stores must be initStore'd before the
    * query starts. */
  def webPipelineStream(pages: DataFrame,
                        urlStorePath: String, contentStorePath: String,
                        outDir: String, minWords: Int = 10)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    pages.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        val wt = graft.operators.WebText
        val meta = batch0.select(col("doc_id"),
            wt.urlCanonicalize(col("url")).as("canon_url"),
            wt.htmlToText(col("html")).as("clean_text"),
            wt.anchorCount(col("html")).as("n_anchors"))
          .withColumn("n_words",
            when(col("clean_text") === "", lit(0L))
              .otherwise(size(split(col("clean_text"), " ")).cast("long")))
          .withColumn("gate_passed",
            col("canon_url").isNotNull && col("n_words") >= minWords &&
              col("n_anchors") * 5 <= col("n_words"))
          .select(col("doc_id"), col("gate_passed"),
            col("n_words"), col("n_anchors"),
            wt.key60(col("canon_url")).as("uk"),
            wt.key60(col("clean_text")).as("ck"))
          .localCheckpoint() // ~60 B/doc; the HTML is never re-derived
        val passed = meta.filter(col("gate_passed"))

        val uApplied = StoreProtocol.batchApplied(spark, urlStorePath, batchId)
        val ud = graft.operators.IncrementalHashDedup
          .dedupBatch(passed.select(col("doc_id"), col("uk")), urlStorePath,
            bands = 1, bandBits = 32, maxHamming = 0,
            idCol = "doc_id", hashCol = "uk", appendUnique = !uApplied)
          .select(col("doc_id"), col("dup_of").as("url_dup_of"))

        val urlKeepers = passed
          .join(ud.filter(col("url_dup_of").isNull).select(col("doc_id")),
            Seq("doc_id"))
        val cApplied = StoreProtocol.batchApplied(spark, contentStorePath, batchId)
        val cd = graft.operators.IncrementalHashDedup
          .dedupBatch(urlKeepers.select(col("doc_id"), col("ck")), contentStorePath,
            bands = 1, bandBits = 32, maxHamming = 0,
            idCol = "doc_id", hashCol = "ck", appendUnique = !cApplied)
          .select(col("doc_id"), col("dup_of").as("content_dup_of"))

        writeBatch(meta.select(col("doc_id"), col("gate_passed"),
            col("n_words"), col("n_anchors"))
          .join(ud, Seq("doc_id"), "left")
          .join(cd, Seq("doc_id"), "left")
          .withColumn("kept",
            col("gate_passed") && col("url_dup_of").isNull &&
              col("content_dup_of").isNull), batchId, outDir)
        StoreProtocol.markApplied(spark, batchId, urlStorePath, contentStorePath)
      }

  /** Stream-stream interval join: pair each left event with right
    * events of the same user arriving within `[0, maxDelay]` after it.
    * Both sides carry watermarks and the join condition bounds event
    * time on BOTH ends, so Spark can expire join state — the condition
    * shape (equi key + closed time interval) is what makes this a
    * streaming-legal range join. State partitions by user_id. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   maxDelay: String = "30 minutes",
                   watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("l_id"),
              col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("__r_user"), col("event_id").as("r_id"),
              col("ts").as("r_ts"), col("event_type").as("r_type"))
    l.join(r,
        col("user_id") === col("__r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $maxDelay"))
      .drop("__r_user")
  }

  /** LEFT OUTER [[intervalJoin]] — the funnel's ABANDONMENT side: a
    * left event with no right match inside the window must still emit
    * (null-extended), which a stream can only do once the watermark
    * PROVES no match can arrive — so unmatched-left emission lags
    * event time by watermark + maxDelay, the stated price of
    * correctness under late data. Same equi-key + closed-interval
    * condition (the streaming-legal range-join shape, state expirable
    * on both sides). */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                            maxDelay: String = "30 minutes",
                            watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("l_id"),
              col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("__r_user"), col("event_id").as("r_id"),
              col("ts").as("r_ts"), col("event_type").as("r_type"))
    l.join(r,
        col("user_id") === col("__r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $maxDelay"),
        "leftOuter")
      .drop("__r_user")
  }

  /** Batch twin of [[intervalJoin]] specialized to the
    * view-followed-by-purchase funnel — the oracle-checkable shape
    * (qe02): for each view, the purchases by the same user within the
    * delay window. */
  def viewToPurchase(events: DataFrame, maxDelayMs: Long): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("__u"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"), col("value"))
    views.join(purchases,
        col("user_id") === col("__u") &&
        col("purchase_ts") >= col("view_ts") &&
        unix_millis(col("purchase_ts")) - unix_millis(col("view_ts")) <= maxDelayMs)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
              unix_millis(col("view_ts")).as("view_ms"),
              unix_millis(col("purchase_ts")).as("purchase_ms"))
  }

  /** Event-time disorder census — the measurement every
    * `withWatermark` duration in this file should be READ FROM, not
    * guessed: given an arrival order, each event's lateness is how far
    * it arrived behind the running event-time high watermark
    * (`max(ts) over arrivals strictly before it`); the histogram of
    * that lateness IS the state-retention / completeness trade-off a
    * watermark encodes (a "10 minutes" watermark drops exactly the
    * events in the ≥10m buckets).
    *
    * Computed WITHOUT a data-scale unpartitioned window (the qz02
    * discipline): arrival order is bucketed by a bounded prefix of the
    * arrival key; the running max factors into (a) per-bucket maxes —
    * one map-side aggregation, (b) an exclusive running max over the
    * tiny bucket frame, (c) an exclusive within-bucket window whose
    * partitions are bucket-sized. The exact global exclusive prefix
    * max is `greatest` of (b) and (c) — equal to the naive global
    * window row for row.
    *
    * `arrivalCol` must order consistently with `bucketCol` (bucket =
    * prefix of arrival key); ties broken by `tieCol`. */
  def disorderCensus(events: DataFrame, tsMsCol: String,
                     bucketCol: String, arrivalCol: String, tieCol: String): DataFrame = {
    val late = latenessFrame(events, tsMsCol, bucketCol, arrivalCol, tieCol)
    late.select(
        when(col("lateness_ms") === 0, struct(lit(0).as("r"), lit("on_time").as("l")))
          .when(col("lateness_ms") < 60000L, struct(lit(1).as("r"), lit("lt_1m").as("l")))
          .when(col("lateness_ms") < 3600000L, struct(lit(2).as("r"), lit("lt_1h").as("l")))
          .when(col("lateness_ms") < 86400000L, struct(lit(3).as("r"), lit("lt_1d").as("l")))
          .otherwise(struct(lit(4).as("r"), lit("ge_1d").as("l"))).as("b"),
        col("lateness_ms"))
      .groupBy(col("b.r").as("bucket_rank"), col("b.l").as("bucket"))
      .agg(count(lit(1)).as("n_events"), max(col("lateness_ms")).as("max_lateness_ms"))
      .orderBy(col("bucket_rank"))
  }

  /** The per-event lateness frame [[disorderCensus]] histograms and
    * the watermark-policy simulation thresholds — input columns plus
    * `lateness_ms` (0 for in-order arrivals). Same bucketed exclusive-
    * prefix-max factoring (the qz02 discipline — no data-scale
    * unpartitioned window). */
  def latenessFrame(events: DataFrame, tsMsCol: String,
                    bucketCol: String, arrivalCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perBucket = Window.orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBucket = Window.partitionBy(col(bucketCol))
      .orderBy(col(arrivalCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bmax = events.groupBy(col(bucketCol))
      .agg(max(col(tsMsCol)).as("bmax"))
      .withColumn("prior_bucket_wm", max(col("bmax")).over(perBucket))
      .select(col(bucketCol), col("prior_bucket_wm"))
    events
      .join(broadcast(bmax), bucketCol)
      .withColumn("in_bucket_wm", max(col(tsMsCol)).over(inBucket))
      .withColumn("wm", greatest(col("prior_bucket_wm"), col("in_bucket_wm")))
      .withColumn("lateness_ms",
        when(col("wm").isNull || col("wm") <= col(tsMsCol), 0L)
          .otherwise(col("wm") - col(tsMsCol)))
  }

  /** Streaming data contract — the continuous form of the qr05
    * expectation suite: every micro-batch is scored against the same
    * declarative checks ([[graft.operators.Expectations.suite]], one
    * aggregation pass per batch) and its PASS/FAIL report lands in a
    * `batch_id` partition with dynamic overwrite, so a crash-replayed
    * batch overwrites its own report (suite output is a pure function
    * of batch content — replay-idempotent by construction, no marker
    * needed). The admission-control read: downstream stages gate on
    * the latest batch's report before consuming it. */
  def expectationsStream(rows: DataFrame,
                         checks: Seq[graft.operators.Expectations.Check],
                         reportDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(graft.operators.Expectations.suite(batch, checks).coalesce(1),
          batchId, reportDir)
      }

  /** Streaming drift monitor — the continuous twin of the qr02 drift
    * report: per tumbling window, the event-type distribution is
    * scored against a released reference distribution (KL(window‖ref)
    * terms per type). The reference defines the monitored type domain
    * and arrives as driver-side pairs, so the whole comparison
    * compiles into ONE streaming aggregation per window (per-type
    * conditional sums — streaming forbids chained aggs, so the
    * per-window total is an expression over the same row, not a second
    * groupBy) followed by a stateless explode projection. State =
    * one row per open window, bounded by the watermark. Types with a
    * zero window count contribute a 0 KL term (lim x→0 x·ln x = 0);
    * reference shares must be positive. */
  def driftStream(events: DataFrame, refShares: Seq[(String, Double)],
                  windowDur: String = "1 hour",
                  watermark: String = "30 minutes"): DataFrame = {
    require(refShares.nonEmpty && refShares.forall(_._2 > 0.0),
      "reference shares must be positive (zero-mass types make KL undefined)")
    driftProject(
      events.withWatermark("ts", watermark)
        .groupBy(window(col("ts"), windowDur).as("win"))
        .agg(typeCounts(refShares).head, typeCounts(refShares).tail: _*),
      refShares)
  }

  /** Batch twin of [[driftStream]] — identical plan minus the
    * watermark; EventStreamsSpec pins stream == batch across
    * micro-batch splits. */
  def driftBatch(events: DataFrame, refShares: Seq[(String, Double)],
                 windowDur: String = "1 hour"): DataFrame = {
    require(refShares.nonEmpty && refShares.forall(_._2 > 0.0),
      "reference shares must be positive (zero-mass types make KL undefined)")
    driftProject(
      events.groupBy(window(col("ts"), windowDur).as("win"))
        .agg(typeCounts(refShares).head, typeCounts(refShares).tail: _*),
      refShares)
  }

  private def typeCounts(refShares: Seq[(String, Double)]) =
    refShares.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"__n_$i") }

  private def driftProject(agg: DataFrame, refShares: Seq[(String, Double)]): DataFrame = {
    val total = refShares.indices.map(i => col(s"__n_$i")).reduce(_ + _)
    val perType = refShares.zipWithIndex.map { case ((t, ref), i) =>
      // a window whose events are all outside the monitored domain has
      // __total = 0 — report share 0, not NaN
      val share = when(col("__total") > 0,
        col(s"__n_$i").cast("double") / col("__total").cast("double")).otherwise(lit(0.0))
      struct(lit(t).as("event_type"), col(s"__n_$i").as("n"), share.as("share"),
        lit(ref).as("ref_share"),
        when(col(s"__n_$i") > 0, round(share * log(share / lit(ref)), 6))
          .otherwise(lit(0.0)).as("kl_term"))
    }
    agg.withColumn("__total", total)
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
              col("__total").as("n_events"), explode(array(perType: _*)).as("m"))
      .select(col("window_start"), col("window_end"), col("n_events"),
              col("m.event_type"), col("m.n"), col("m.share"),
              col("m.ref_share"), col("m.kl_term"))
  }

  /** Streaming trailing-window approximate distinct — the continuous
    * member of the sliding-distinct family (exact batch: qe07;
    * mergeable-sketch batch: Sketches.slidingApproxDistinct).
    * Streaming forbids the batch shape's two aggregations (day
    * sketches, then window merges), so the explode moves BEFORE the
    * single aggregation: each event feeds the ≤ `windowDays` trailing
    * window-days it is visible in, and one streaming HLL aggregate per
    * window-day unions as rows arrive. Cost: the sketch build sees
    * each event `windowDays` times (the batch twin dedups to day
    * grain first) — the price of the single-agg rule; state stays one
    * sketch (≈2^lgConfigK bytes) per open window-day under the
    * watermark. Emits (day, approx_distinct) with the same estimator
    * as the batch twin, so estimates agree exactly on identical input
    * sets (HLL union is insertion-order-free). */
  def slidingDistinctStream(events: DataFrame, windowDays: Int = 7,
                            lgConfigK: Int = 12,
                            watermark: String = "1 day"): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    events
      .select(col("ts"), col("user_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      // re-anchor each contribution's event time on its window-day so
      // ONE watermarked tumbling window both groups and evicts state
      .select(col("user_id"),
        expr("timestamp_micros(unix_micros(ts) + off * 86400000000L)").as("win_ts"))
      .withWatermark("win_ts", watermark)
      .groupBy(window(col("win_ts"), "1 day").as("win"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lgConfigK))
        .as("approx_distinct"))
      .select(to_date(col("win.start")).as("day"), col("approx_distinct"))
  }

  /** Batch-mode gap sessionization (same semantics, pure SQL windows):
    * session boundary where the gap to the previous event exceeds
    * `gapMs`; session id = running count of boundaries per user. This
    * is the oracle-checkable twin of [[sessionize]]. */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val withGap = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withGap.groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
           count(lit(1)).as("n_events"),
           sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
             .cast("double").as("total_value"))
  }

  // ---- streaming heavy hitters (distributed Misra-Gries) ----

  case class MgState(counters: Map[String, Long], processed: Long)
  case class MgOut(bucket: Int, item: String, mg_count: Long, bucket_processed: Long)

  /** How [[heavyHittersStream]] shards: each item ALWAYS lands in the
    * same of `nBuckets` state groups, so per-bucket summaries never
    * double-count and union cleanly. */
  def mgBucket(item: String, nBuckets: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(item), nBuckets)

  /** One Misra-Gries fold step over a batch of items (k counters):
    * present → increment; room → insert at 1; full → decrement ALL
    * (zeros drop, the new item is discarded). The summary guarantees
    * every item with true count > n/(k+1) is PRESENT, and each kept
    * count undercounts truth by at most (n − Σcounters)/(k+1) — the
    * deterministic fixed-memory sibling of qt28's CMS screen. Items
    * process in SORTED order within a batch: MG is order-sensitive,
    * and sorted order makes state a pure function of batch CONTENT
    * (the qe replay-determinism discipline). Pure function — the
    * batch twin the stream must match. */
  def mgFold(state: MgState, batch: Seq[String], k: Int): MgState = {
    var c = state.counters
    var n = state.processed
    batch.sorted.foreach { item =>
      n += 1
      c.get(item) match {
        case Some(v) => c += item -> (v + 1)
        case None if c.size < k => c += item -> 1L
        case None => c = c.map { case (i, v) => i -> (v - 1) }.filter(_._2 > 0)
      }
    }
    MgState(c, n)
  }

  /** Streaming heavy hitters with FIXED state regardless of stream
    * length: items hash into `nBuckets` state groups ([[mgBucket]]),
    * each group maintains ONE k-counter Misra-Gries summary in
    * flatMapGroupsWithState, and every trigger emits the group's
    * refreshed summary (Update mode — the latest row per
    * (bucket, item) is the serving read; union the buckets and take
    * the global top-k). State per group is ≤ k counters — the
    * streaming complement of qt28 (CMS screen-then-verify) for the
    * case where the stream can't be rescanned to verify: MG's
    * deterministic inclusion guarantee replaces the verify pass.
    * Total state = nBuckets · k counters, independent of both stream
    * length and item cardinality. */
  def heavyHittersStream(items: org.apache.spark.sql.Dataset[String],
                         k: Int, nBuckets: Int)
      : org.apache.spark.sql.Dataset[MgOut] = {
    import items.sparkSession.implicits._
    require(k >= 1 && nBuckets >= 1)
    items.groupByKey(mgBucket(_, nBuckets))
      .flatMapGroupsWithState[MgState, MgOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (bucket, it, state: GroupState[MgState]) =>
          val prev = state.getOption.getOrElse(MgState(Map.empty, 0L))
          val next = mgFold(prev, it.toSeq, k)
          state.update(next)
          next.counters.iterator.map { case (i, v) =>
            MgOut(bucket, i, v, next.processed)
          }
      }
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout operators: the write-side machinery that decides
  * how a 100 TB table is ORDERED on storage so later scans can skip
  * most of it.
  *
  * - Z-order (Morton) interleaving clusters a table on TWO dimensions
  *   at once: sorting by the interleaved bits puts rows close in
  *   (x, y) space close on disk, so per-file min/max statistics become
  *   tight ranges on BOTH columns and either predicate skips files
  *   (the Delta/Iceberg `ZORDER BY` mechanism).
  * - `globalOrdinal` assigns a deterministic global rank without the
  *   classic scale-killer (`row_number()` over an UNPARTITIONED window
  *   funnels the whole table through ONE task): a value-range bucket
  *   pass, per-bucket counts rolled into broadcast offsets, and a
  *   bounded per-bucket window.
  *
  * Everything is a pure Column expression or a bounded window —
  * cross-engine deterministic and oracle-checkable.
  */
object Layout {

  /** Morton z-value of two non-negative ints, `bits` bits each: bit i
    * of x lands at position 2i, bit i of y at 2i+1. Pure codegen'd
    * bit arithmetic (2*bits and/shift/add terms, no UDF). */
  def zValue2(x: Column, y: Column, bits: Int = 12): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Z-order layout audit: every row's z-value plus its layout bucket
    * (the top `bucketBits` of the z-space — what a range-partitioned
    * write would put in one file). Callers feed this to
    * `repartitionByRange($"z")` + `sortWithinPartitions` on the write
    * path; the audit aggregation (per-bucket count + per-dimension
    * min/max span) is the file-skipping evidence. */
  def zorderAudit(df: DataFrame, xCol: Column, yCol: Column,
                  bits: Int = 12, bucketBits: Int = 6): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 2 * bits,
      s"bucketBits ($bucketBits) must be in [1, ${2 * bits}]")
    // out-of-domain (or NULL) values would silently alias (zValue2
    // drops high bits; null flows through comparisons), making the
    // min/max spans meaningless — fail loudly instead. Guards are
    // PROJECTED once and z computed from the projected columns, so the
    // raise_error tree appears once per dimension, not 2*bits times.
    val lim = 1L << bits
    def guarded(c: Column, nm: String): Column =
      when(c.isNull || c < 0 || c >= lim,
        raise_error(lit(s"zorderAudit: $nm NULL or outside [0, $lim) for bits=$bits — " +
          "mod/scale the column into the z-domain first")).cast("long"))
        .otherwise(c)
    df.select(guarded(xCol, "x").as("x"), guarded(yCol, "y").as("y"))
      .withColumn("z", zValue2(col("x"), col("y"), bits))
      .withColumn("bucket", shiftright(col("z"), 2 * bits - bucketBits))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
           min(col("x")).as("x_min"), max(col("x")).as("x_max"),
           min(col("y")).as("y_min"), max(col("y")).as("y_max"))
  }

  /** Hilbert-curve layout audit — [[zorderAudit]]'s sibling for the
    * curve with NO diagonal jumps: consecutive Hilbert positions are
    * always grid neighbors, so range-partitioned file boundaries cut
    * the plane into contiguous tiles and never stitch far-apart
    * regions into one file (Morton's "Z" seams do, which is exactly
    * where its per-file min/max spans blow up on non-uniform data).
    *
    * The index is the standard MSB-down xy→d walk (reflect+swap per
    * quadrant); each of the `bits` rounds is ONE projection stage —
    * (hx, hy, hd) materialized per stage, so the expression tree stays
    * linear in `bits` instead of doubling per round, and the whole
    * thing is codegen'd integer ops (no UDF). Same guard contract as
    * [[zorderAudit]]: NULL / out-of-domain inputs fail loudly. */
  def hilbertAudit(df: DataFrame, xCol: Column, yCol: Column,
                   bits: Int = 12, bucketBits: Int = 6): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    require(bucketBits >= 1 && bucketBits <= 2 * bits,
      s"bucketBits ($bucketBits) must be in [1, ${2 * bits}]")
    val lim = 1L << bits
    def guarded(c: Column, nm: String): Column =
      when(c.isNull || c < 0 || c >= lim,
        raise_error(lit(s"hilbertAudit: $nm NULL or outside [0, $lim) for bits=$bits — " +
          "mod/scale the column into the curve domain first")).cast("long"))
        .otherwise(c)
    var cur = df.select(guarded(xCol, "x").as("x"), guarded(yCol, "y").as("y"))
      .select(col("x"), col("y"),
        col("x").as("hx"), col("y").as("hy"), lit(0L).as("hd"))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val withR = cur.select(col("x"), col("y"), col("hx"), col("hy"), col("hd"),
        (col("hx").bitwiseAND(lit(s)) > 0).cast("long").as("rx"),
        (col("hy").bitwiseAND(lit(s)) > 0).cast("long").as("ry"))
      cur = withR.select(col("x"), col("y"),
        when(col("ry") === 0,
          when(col("rx") === 1, lit(lim - 1) - col("hy")).otherwise(col("hy")))
          .otherwise(col("hx")).as("hx"),
        when(col("ry") === 0,
          when(col("rx") === 1, lit(lim - 1) - col("hx")).otherwise(col("hx")))
          .otherwise(col("hy")).as("hy"),
        (col("hd") +
          lit(s * s) * ((lit(3L) * col("rx")).bitwiseXOR(col("ry")))).as("hd"))
    }
    cur.withColumn("bucket", shiftright(col("hd"), 2 * bits - bucketBits))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
           min(col("x")).as("x_min"), max(col("x")).as("x_max"),
           min(col("y")).as("y_min"), max(col("y")).as("y_max"))
  }

  /** Small-file census of a parquet table: file count, byte totals,
    * and the file count a `targetFileBytes` layout needs — the
    * decision a compaction job starts from. Driver-side FileSystem
    * listing only; no data is read. */
  final case class CompactionPlan(nFiles: Int, totalBytes: Long,
                                  minBytes: Long, maxBytes: Long,
                                  targetFiles: Int) {
    /** Worth compacting when the table holds many files well under
      * target size. */
    def needed: Boolean = nFiles > targetFiles * 2
  }

  def compactionPlan(spark: org.apache.spark.sql.SparkSession, dir: String,
                     targetFileBytes: Long = 128L << 20): CompactionPlan = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    // flat (unpartitioned) layout by contract: a partitioned table
    // compacts per partition directory — call this on each leaf
    // (fails loudly on a no-parquet dir rather than mis-measuring)
    // roll forward any torn swap FIRST — a crash inside a previous
    // compact's commitDir otherwise leaves the listing empty/missing
    val fs = graft.hfc.StoreProtocol.recovered(spark, dir)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet files under $dir")
    val sizes = files.map(_.getLen)
    val total = sizes.sum
    CompactionPlan(files.length, total, sizes.min, sizes.max,
      math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt))
  }

  /** Compact a parquet table to ~`targetFileBytes` files — the
    * small-files maintenance every long-lived streaming/incremental
    * sink needs (thousands of KB-sized micro-batch files turn a 100 TB
    * scan into a listing + open-file storm). The rewrite goes through
    * AtomicSwap's staging + rename, so a crash mid-compaction leaves
    * the table readable (old or new, never half); optional `sortCols`
    * re-clusters during the rewrite (compose with [[zValue2]] for
    * z-ordered compaction). Returns the post-compaction plan. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetFileBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil): CompactionPlan =
    compactBy(spark, dir, targetFileBytes, sortCols)(identity)

  /** [[compact]] with the rows passed through `prepare` before the
    * rewrite — the flat store compaction collapses replay duplicates
    * there ([[graft.hfc.StoreProtocol.compact]]). */
  private[graft] def compactBy(spark: org.apache.spark.sql.SparkSession, dir: String,
                               targetFileBytes: Long = 128L << 20,
                               sortCols: Seq[String] = Nil)
                              (prepare: DataFrame => DataFrame): CompactionPlan = {
    val before = compactionPlan(spark, dir, targetFileBytes)
    val fs = graft.hfc.StoreProtocol.fs(spark)
    val staging = graft.hfc.AtomicSwap.stagingFor(dir)
    val df = prepare(graft.hfc.StoreProtocol.read(spark, dir))
    val writer =
      if (sortCols.isEmpty) df.repartition(before.targetFiles)
      else df.repartitionByRange(before.targetFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    writer.write.mode("overwrite").parquet(staging)
    graft.hfc.AtomicSwap.commitDir(fs, dir, staging)
    compactionPlan(spark, dir, targetFileBytes)
  }

  /** Per-KEY deterministic rank: `ordinal` = ROW_NUMBER() OVER
    * (PARTITION BY key ORDER BY v, id) — the [[globalOrdinal]]
    * machinery applied within each key, so no window task ever holds a
    * whole key (the naive per-key window degenerates exactly like the
    * global one when keys are few or skewed — a 4-shard training
    * export would push 25 TB per task through one sort).
    *
    * Same three bounded steps, compounded by key: per-key min/max
    * (one broadcast aggregate), per-(key, value-range bucket) counts
    * rolled into offsets (a window over numBuckets rows PER KEY —
    * bounded), then offset + row_number within the (key, bucket).
    * Ties in `orderCol` are fine: equal values land in the same bucket
    * and the id tie-break makes the rank deterministic. NULL order
    * values are rejected loudly. */
  def ordinalPerKey(df: DataFrame, keyCol: String, orderCol: String,
                    idCol: String, numBuckets: Int = 32): DataFrame = {
    require(numBuckets >= 1, s"numBuckets must be positive, got $numBuckets")
    val v = col(orderCol)
    val mm = df.groupBy(col(keyCol))
      .agg(min(v).cast("double").as("__mn"), max(v).cast("double").as("__mx"))
    val span = col("__mx") - col("__mn")
    val bucketed = df.join(broadcast(mm), keyCol)
      .withColumn("__pid",
        when(v.isNull, raise_error(lit(
          s"ordinalPerKey: NULL in order column '$orderCol'")).cast("long"))
          .when(span === 0.0, lit(0L))
          .otherwise(least(
            floor((v.cast("double") - col("__mn")) / span * numBuckets),
            lit(numBuckets - 1L)).cast("long")))
      .drop("__mn", "__mx")
    val offsets = bucketed.groupBy(col(keyCol), col("__pid"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(col("__n")).over(
          Window.partitionBy(col(keyCol)).orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(keyCol), col("__pid"), col("__offset"))
    bucketed.join(broadcast(offsets), Seq(keyCol, "__pid"))
      .withColumn("ordinal",
        col("__offset") + row_number().over(
          Window.partitionBy(col(keyCol), col("__pid"))
            .orderBy(v, col(idCol))))
      .drop("__pid", "__offset")
  }

  /** Deterministic global rank of every row by a NUMERIC order column
    * (unique values — ties would make the rank ambiguous), without a
    * single-partition window. Three declarative steps:
    *
    *  1. value-range bucket: `p = floor((v - min) / (max - min) * P)`
    *     (clamped; degenerate single-value range → bucket 0) from a
    *     broadcast min/max — deterministic (never sampling, the
    *     `repartitionByRange` trap: its sampled boundaries can differ
    *     between the two plan subtrees that need them), and correct for
    *     ANY numeric scale including sub-1.0 ranges (scores, ratios);
    *     NULL order values are rejected loudly — they have no rank in
    *     the `ROW_NUMBER() OVER (ORDER BY v)` contract;
    *  2. per-bucket counts → running offsets (a window over P rows —
    *     driver-scale, not data-scale);
    *  3. offset + row_number within the bucket (each window partition
    *     is ~1/P of the data, bounded by choosing P for the cluster).
    *
    * Uniformly distributed order values (ids, hashes) give balanced
    * buckets; heavily skewed values need an explicit boundary list —
    * documented, not hidden. Output: input columns + `ordinal`
    * (1-based, == ROW_NUMBER() OVER (ORDER BY v)). */
  def globalOrdinal(df: DataFrame, orderCol: String,
                    numBuckets: Int = 32): DataFrame = {
    require(numBuckets >= 1, s"numBuckets must be positive, got $numBuckets")
    val v = col(orderCol)
    val mm = df.agg(min(v).cast("double").as("__mn"), max(v).cast("double").as("__mx"))
    val span = col("__mx") - col("__mn")
    val bucketed = df.crossJoin(broadcast(mm))
      .withColumn("__pid",
        when(v.isNull, raise_error(lit(
          s"globalOrdinal: NULL in order column '$orderCol' — nulls have " +
            "no rank under the ROW_NUMBER contract")).cast("long"))
          .when(span === 0.0, lit(0L))
          .otherwise(least(
            floor((v.cast("double") - col("__mn")) / span * numBuckets),
            lit(numBuckets - 1L)).cast("long")))
      .drop("__mn", "__mx")
    // constant partition key (__pid*0, non-foldable — a lit(0) spec
    // gets constant-folded to empty and WindowExec then warns): the
    // frame is numBuckets rows, the single-partition running sum is
    // deliberate
    val offsets = bucketed.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(col("__n")).over(
          Window.partitionBy(col("__pid") * 0).orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    bucketed.join(broadcast(offsets), "__pid")
      .withColumn("ordinal",
        col("__offset") + row_number().over(
          Window.partitionBy(col("__pid")).orderBy(v)))
      .drop("__pid", "__offset")
  }
}

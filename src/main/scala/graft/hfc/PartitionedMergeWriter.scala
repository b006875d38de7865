package graft.hfc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField}

/** Incremental MERGE that touches only the partitions containing
  * update keys — the reference's stale-repo fast path
  * (databaseImport.py:607-619) generalized to a partitioned parquet
  * table.
  *
  * [[MergeWriter.upsert]] is semantically perfect but consolidates via
  * a full-outer join over the ENTIRE table: a monthly refresh of a few
  * thousand repos against a 63 M-row `repo_file` would rewrite
  * everything. Here the table is laid out as partition directories,
  * and only the partition function varies ([[Partitioning]]):
  *
  *  - [[byKey]]: `part_id=<crc32(key) mod n>`, a stable key prefix.
  *    Every batch touches ~all buckets — right for uniformly keyed
  *    dimension tables like `repository`.
  *  - [[byMonth]]: `part_month=<yyyy-MM>` of an event time. An
  *    incremental batch (the monthly refresh, databaseImport.py:858-868
  *    P13 watermark) lands in one or two months, and time-ranged scans
  *    prune — right for commits/events fact tables.
  *
  * An update batch, in [[foldPartitioned]]:
  *
  *  1. derives its affected partitions (index metadata, collected —
  *     each task's distinct values, no exchange — so the `IN` lands in
  *     the scan as a PartitionFilter),
  *  2. reads ONLY those partitions with the footer-pinned
  *     [[StoreProtocol.readPartitioned]] — a batch column whose type
  *     differs from the store's fails there, before anything is
  *     written,
  *  3. runs the caller's consolidation on that slice,
  *  4. publishes each affected partition with its own crash-safe swap
  *     ([[StoreProtocol.rewritePartitions]]).
  *
  * Untouched partitions' files are never opened, rewritten, or moved —
  * PartitionedMergeSpec pins that byte-for-byte. A crash mid-publish
  * leaves some partitions merged and some not; the next fold's
  * [[StoreProtocol.recoverPartitions]] repairs interrupted renames, and
  * re-running the same batch converges.
  *
  * CONTRACT — stable partition value: a logical key's partition source
  * must never change across versions (a hash key is a merge key; a
  * commit keyed by sha carries one committer date). A row whose
  * partition moved would leave its old copy stranded in the old
  * partition; rows whose partition source is NULL are rejected loudly
  * for the same reason.
  */
object PartitionedMergeWriter {

  /** A table layout: partition directory `column=<value>`, the value
    * (of `dataType`) being `of(col(source))`. */
  final case class Partitioning[T](column: String, dataType: DataType, source: String,
                                   of: Column => Column)(implicit val order: Ordering[T])

  val PartCol = "part_id"
  val MonthCol = "part_month"

  /** stable key-prefix partition: crc32(key) mod n */
  def partitionOf(key: Column, nPartitions: Int): Column =
    pmod(crc32(key.cast("string")), lit(nPartitions.toLong)).cast("int")

  def byKey(partitionKey: String, nPartitions: Int): Partitioning[Int] =
    Partitioning(PartCol, IntegerType, partitionKey, partitionOf(_, nPartitions))

  def byMonth(tsCol: String): Partitioning[String] =
    Partitioning(MonthCol, StringType, tsCol, date_format(_, "yyyy-MM"))

  private def nullsRejected(layout: Partitioning[_]): String =
    s"${layout.source} contains NULLs — a NULL ${layout.source} has no partition and " +
      "its rows would silently vanish from every pruned merge"

  /** One-time layout job: write `df` partitioned by `layout`. The NULL
    * contract is enforced IN the write projection (raise_error inside
    * the partition expression) — one pass, no second validation scan —
    * otherwise null rows would land in the Hive default partition,
    * which no pruned merge ever reads. */
  def initTable(df: DataFrame, path: String, layout: Partitioning[_]): Unit =
    df.withColumn(layout.column,
        when(col(layout.source).isNull, raise_error(lit(nullsRejected(layout))))
          .otherwise(layout.of(col(layout.source))))
      .write.mode("overwrite").partitionBy(layout.column).parquet(path)

  /** [[initTable]] with the [[byKey]] layout. */
  def initTable(df: DataFrame, path: String, partitionKey: String, nPartitions: Int): Unit =
    initTable(df, path, byKey(partitionKey, nPartitions))

  /** Partition-pruned fold: consolidate the affected partitions of the
    * table at `path` with `updates` under a caller-supplied merge
    * (existing, updates-with-partition-column) => merged:
    * [[MergeWriter.upsert]] (K2), [[MergeWriter.updateColumns]] (K4),
    * [[IncrementalRefresh.refresh]], or an aggregate whose state must
    * merge rather than replace on key — e.g. the sketch-valued
    * distinct-count MV ([[graft.operators.Sketches.mergeDistinctMv]]),
    * where a delta's sketch must UNION into the standing registers.
    * Merge keys passed to the consolidate must include the partition
    * column. The consolidate sees every existing row of the affected
    * partitions (matching or not) and must return ALL surviving rows
    * for those partitions, partition column included. Returns the
    * affected partition values, sorted. */
  def foldPartitioned[T](spark: SparkSession, path: String, updates: DataFrame,
                         layout: Partitioning[T])
                        (consolidate: (DataFrame, DataFrame) => DataFrame): Seq[T] =
    fold(spark, path, updates, layout, lit(true))(consolidate).map(_._1)

  /** [[foldPartitioned]], returning each affected partition once per
    * distinct value `side` takes over its update rows (the refresh's
    * stale/fresh split, whose NULL watermarks raise in this collect,
    * before anything is written). The pairs come from one collect and no
    * exchange: each task reduces its rows to their distinct pairs, and
    * the Spark driver merges those small sets. The collect also rejects NULL
    * partition sources. */
  private[hfc] def fold[T](spark: SparkSession, path: String, updates: DataFrame,
                           layout: Partitioning[T], side: Column)
                          (consolidate: (DataFrame, DataFrame) => DataFrame): Seq[(T, Any)] = {
    StoreProtocol.recoverPartitions(spark, path)
    val u = updates.withColumn(layout.column, layout.of(col(layout.source)))
    val rows = u.select(col(layout.column), side).rdd
      .mapPartitions(_.toSet.iterator).collect().distinct
    require(!rows.exists(_.isNullAt(0)), nullsRejected(layout))
    val sides = rows.map(r => (r.get(0).asInstanceOf[T], r.get(1))).toSeq
      .sortBy(_._1)(layout.order)
    val affected = sides.map(_._1).distinct
    if (affected.nonEmpty) {
      // the FULL existing slice goes into the consolidation — a narrow
      // K4 counters frame must not project the table's other columns
      // out of the rewritten partitions (MergeWriter aligns by name)
      val existing = StoreProtocol
        .readPartitioned(spark, path, StructField(layout.column, layout.dataType), u.schema)
        .filter(col(layout.column).isin(affected: _*))
      StoreProtocol.rewritePartitions(spark, path, affected.map(p => s"${layout.column}=$p")) {
        consolidate(existing, u).write.mode("overwrite").partitionBy(layout.column).parquet(_)
      }
    }
    sides
  }
}

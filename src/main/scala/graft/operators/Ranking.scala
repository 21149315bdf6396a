package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Barrier

/** Two-phase distributed global ranking / cumulative sums.
  *
  * `row_number().over(Window.orderBy(...))` and global running sums
  * plan an `Exchange SinglePartition` + one-task sort — correct, but
  * the entire input funnels through ONE reducer, which is exactly the
  * shape that dies first at 100 TB. The classic fix (the same design
  * TeraSort-style engines use) is two phases:
  *
  *   1. range-partition on the sort key, so partition p holds keys
  *      strictly below partition p+1 (partition indices are globally
  *      ordered); for ranking, also sort within each partition;
  *   2. per-partition carries — row counts (ranking), column sums
  *      (cumulative sums) or minima — read in ONE job over the stored
  *      partitions, with no shuffle: P values to the driver, a
  *      constant independent of data size;
  *   3. an exclusive prefix over the carries gives each partition its
  *      global offset, inlined as one literal array indexed by
  *      partition id (no join);
  *   4. the within-partition part: the rank is the row's position in
  *      its sorted partition, numbered in the stage that reads it (no
  *      exchange at all); running sums and minima use a
  *      partition-LOCAL window — P parallel sorted reducers, each over
  *      ~1/P of the data, never one global task.
  *
  * The sorted range partitions go through [[graft.Barrier]] before
  * use: RangePartitioner samples its bounds per job, so without
  * freezing, the carry job and the rank job could see DIFFERENT
  * partition assignments and the offsets would be garbage.
  *
  * Determinism: ranks are exact for ANY partition bounds as long as
  * both phases see the same assignment (guaranteed by the freeze) and
  * the sort key is a total order (callers pass a unique tiebreak).
  */
object Ranking {

  /** A frame frozen into sorted range partitions (stored once through
    * [[graft.Barrier]]) with the row count of each partition, read in
    * one job. The counts are known before anything downstream of
    * `parts` runs, so a caller can skip work on an empty frame. */
  final class SortedRanges private[Ranking] (val parts: DataFrame,
      counts: Array[Long]) {
    def rows: Long = counts.sum

    /** `parts` plus `rankCol` = 1-based global row_number in sort
      * order, LongType. `monotonically_increasing_id()` is the
      * partition id in the upper 31 bits plus the row's position in
      * the partition in the lower 33; the position, in the stage that
      * reads the stored partitions, is the local rank. */
    def withRank(rankCol: String): DataFrame = {
      val pid = spark_partition_id()
      parts.withColumn(rankCol,
        atPartition(exclusivePrefix(counts)(0L)(_ + _), pid) +
          (monotonically_increasing_id() - shiftleft(pid.cast("long"), 33)) + 1L)
    }
  }

  /** `df` range-partitioned on `sortCols`, sorted within each
    * partition, stored, and its partition row counts read. */
  def sortedRanges(df: DataFrame, sortCols: Column*): SortedRanges =
    ranges(df, sortCols, identity)

  /** [[sortedRanges]] on one key column, keeping one row per key (any
    * one, as `dropDuplicates` does). The range partitions already
    * cluster the key, so the dedup plans no exchange of its own. */
  def distinctRanges(df: DataFrame, key: String): SortedRanges =
    ranges(df, Seq(col(key)), _.dropDuplicates(key))

  private def ranges(df: DataFrame, sortCols: Seq[Column],
      within: DataFrame => DataFrame): SortedRanges = {
    val parts = frozenRangeParts(df, sortCols,
      within.andThen(_.sortWithinPartitions(sortCols: _*)))
    new SortedRanges(parts, carries(parts, Seq(lit(1L)), 0L)(_ + _).map(_(0)))
  }

  /** `within` runs on the range partitions before they are stored; it
    * must plan no exchange. The window kernels pass none: they sort
    * after their own exchange. */
  private def frozenRangeParts(df: DataFrame, sortCols: Seq[Column],
      within: DataFrame => DataFrame = identity): DataFrame = {
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    within(df.repartitionByRange(nPart, sortCols: _*)).transform(Barrier.materialize)
  }

  /** Folds each of `cols` (cast to LongType, nulls skipped, `zero`
    * for a partition with none) over each stored partition of a
    * frozen frame: one job, no shuffle. Row p holds partition p's
    * folds, in the order of `cols`. */
  private def carries(parts: DataFrame, cols: Seq[Column], zero: Long)(
      op: (Long, Long) => Long): Array[Array[Long]] = {
    val k = cols.size
    parts.select(cols.map(_.cast("long")): _*).queryExecution.toRdd
      .mapPartitions { rows =>
        val acc = Array.fill(k)(zero)
        rows.foreach { r =>
          var i = 0
          while (i < k) {
            if (!r.isNullAt(i)) acc(i) = op(acc(i), r.getLong(i))
            i += 1
          }
        }
        Iterator.single(acc)
      }.collect()
  }

  /** Each partition's fold over all partitions before it. */
  private def exclusivePrefix(carries: Array[Long])(zero: Long)(
      op: (Long, Long) => Long): Array[Long] =
    carries.scanLeft(zero)(op).dropRight(1)

  /** `prefix(pid)`: one literal array, so no join and no map of P
    * entries. `pid` must be the row's frozen partition: the partition
    * id read before any exchange. */
  private def atPartition(prefix: Array[Long], pid: Column): Column =
    element_at(typedLit(prefix.toSeq), pid + 1)

  /** Adds `rankCol` = 1-based global row_number ordered by `sortCols`
    * (must be a total order), LongType, with no exchange beyond the
    * range partitioning. */
  def withGlobalRank(df: DataFrame, rankCol: String,
      sortCols: Column*): DataFrame =
    sortedRanges(df, sortCols: _*).withRank(rankCol)

  /** Adds, for each (srcCol → outCol), the global running sum of
    * srcCol (LongType inputs) in `sortCols` order, inclusive of the
    * current row — again with only range + per-pid exchanges. */
  def withGlobalCumSums(df: DataFrame, sums: Seq[(String, String)],
      sortCols: Column*): DataFrame = {
    val parts = frozenRangeParts(df, sortCols)
    val carryRows = carries(parts, sums.map { case (src, _) => col(src) }, 0L)(
      Math.addExact)
    val framed = parts.withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sums.zipWithIndex.foldLeft(framed) { case (acc, ((src, out), i)) =>
      val offsets = exclusivePrefix(carryRows.map(_(i)))(0L)(Math.addExact)
      acc.withColumn(out, atPartition(offsets, col("__pid")) + sum(col(src)).over(w))
    }.drop("__pid")
  }

  /** Adds `outCol` = the global EXCLUSIVE running minimum of `srcCol`
    * (LongType) in `sortCols` order — the minimum over all strictly
    * preceding rows, `Long.MaxValue` for the global first row. Same
    * two-phase shape as [[withGlobalRank]]: per-partition min carries
    * (P values to the driver), an exclusive prefix-min over them
    * inlined per partition, plus a partition-LOCAL exclusive
    * cummin window — min is associative and order-insensitive, so
    * `least(local-exclusive-min, prior-partition-min)` is exact for
    * any frozen partition assignment. This is the sweep primitive
    * behind the 2-D skyline (sort one dimension, running-min the
    * other) — the linear alternative to the quadratic dominance
    * self-join. */
  def withGlobalCumMinExclusive(df: DataFrame, srcCol: String,
      outCol: String, sortCols: Column*): DataFrame = {
    val parts = frozenRangeParts(df, sortCols)
    val mins = carries(parts, Seq(col(srcCol)), Long.MaxValue)(math.min).map(_(0))
    val prefixMins = exclusivePrefix(mins)(Long.MaxValue)(math.min)
    val framed = parts.withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    framed.withColumn(outCol,
      least(coalesce(min(col(srcCol)).over(w), lit(Long.MaxValue)),
        atPartition(prefixMins, col("__pid"))))
      .drop("__pid")
  }
}

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
  *      strictly below partition p+1 (pids are globally ordered);
  *   2. per-partition carries — row counts (ranking) or column sums
  *      (cumulative sums) — collected to the driver: P rows, a
  *      constant independent of data size;
  *   3. exclusive prefix over the carries gives each partition its
  *      global offset, rejoined as a literal pid→offset map;
  *   4. a partition-LOCAL window (partitionBy the frozen pid) adds
  *      the within-partition rank/running sum — P parallel sorted
  *      reducers, each over ~1/P of the data, never one global task.
  *
  * The range-partitioned frame goes through [[graft.Barrier]] before
  * use: RangePartitioner samples its bounds per job, so without
  * freezing, the carry job and the rank job could see DIFFERENT
  * partition assignments and the offsets would be garbage.
  *
  * Determinism: ranks are exact for ANY partition bounds as long as
  * both phases see the same assignment (guaranteed by the freeze) and
  * the sort key is a total order (callers pass a unique tiebreak).
  */
object Ranking {

  private def frozenRangeParts(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    df.repartitionByRange(nPart, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(Barrier.materialize)
  }

  /** pid → exclusive-prefix offset, as a literal map expression
    * (P entries — broadcast by value inside the plan, no join). */
  private def offsetMapExpr(carries: Seq[(Int, Long)]): Column = {
    val prefix = carries.sortBy(_._1)
      .scanLeft((0, 0L)) { case ((_, acc), (pid, c)) => (pid, acc + c) }
    // scanLeft yields the cumulative INCLUSIVE of each pid at the NEXT
    // position, so zip pids with the running total BEFORE them
    val pids = carries.sortBy(_._1).map(_._1)
    val offs = prefix.map(_._2).dropRight(1)
    map(pids.zip(offs).flatMap { case (p, o) =>
      Seq(lit(p), lit(o)) }: _*)
  }

  /** Adds `rankCol` = 1-based global row_number ordered by `sortCols`
    * (must be a total order), LongType, with no single-partition
    * exchange anywhere in the plan. */
  def withGlobalRank(df: DataFrame, rankCol: String,
      sortCols: Column*): DataFrame = {
    val parts = frozenRangeParts(df, sortCols)
    val carries = parts.groupBy(col("__pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    parts
      .withColumn(rankCol,
        (element_at(offsetMapExpr(carries), col("__pid")) +
          row_number().over(w)).cast("long"))
      .drop("__pid")
  }

  /** Adds, for each (srcCol → outCol), the global running sum of
    * srcCol (LongType inputs) in `sortCols` order, inclusive of the
    * current row — again with only range + per-pid exchanges. */
  def withGlobalCumSums(df: DataFrame, sums: Seq[(String, String)],
      sortCols: Column*): DataFrame = {
    val parts = frozenRangeParts(df, sortCols)
    val sumCols = sums.map { case (src, _) => sum(col(src)).as(src) }
    val carryRows = parts.groupBy(col("__pid"))
      .agg(sumCols.head, sumCols.tail: _*)
      .collect()
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sums.zipWithIndex.foldLeft(parts) { case (acc, ((src, out), i)) =>
      val carries = carryRows.map(r => (r.getInt(0), r.getLong(i + 1))).toSeq
      acc.withColumn(out,
        element_at(offsetMapExpr(carries), col("__pid")) +
          sum(col(src)).over(w))
    }.drop("__pid")
  }

  /** Adds `outCol` = the global EXCLUSIVE running minimum of `srcCol`
    * (LongType) in `sortCols` order — the minimum over all strictly
    * preceding rows, `Long.MaxValue` for the global first row. Same
    * two-phase shape as [[withGlobalRank]]: per-partition min carries
    * (P rows to the driver), exclusive prefix-min over them rejoined
    * as a literal pid→min map, plus a partition-LOCAL exclusive
    * cummin window — min is associative and order-insensitive, so
    * `least(local-exclusive-min, prior-partition-min)` is exact for
    * any frozen partition assignment. This is the sweep primitive
    * behind the 2-D skyline (sort one dimension, running-min the
    * other) — the linear alternative to the quadratic dominance
    * self-join. */
  def withGlobalCumMinExclusive(df: DataFrame, srcCol: String,
      outCol: String, sortCols: Column*): DataFrame = {
    val parts = frozenRangeParts(df, sortCols)
    val carryRows = parts.groupBy(col("__pid"))
      .agg(min(col(srcCol)).as("m"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val sorted = carryRows.sortBy(_._1)
    val prefixMins = sorted.map(_._2)
      .scanLeft(Long.MaxValue)(math.min).dropRight(1)
    val mapExpr = map(sorted.map(_._1).zip(prefixMins).flatMap {
      case (p, m) => Seq(lit(p), lit(m)) }: _*)
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    parts.withColumn(outCol,
      least(coalesce(min(col(srcCol)).over(w), lit(Long.MaxValue)),
        element_at(mapExpr, col("__pid"))))
      .drop("__pid")
  }
}

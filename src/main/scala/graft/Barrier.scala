package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.BlockBridge

/** The engine's one materialization policy: every operator, source,
  * sink and stream that must compute a frame once and read it more
  * than once goes through [[Barrier.materialize]]. Nothing else under
  * `graft` calls `localCheckpoint`, `cache`, `persist` or
  * `checkpoint` (GuardrailSpec "materialization goes through
  * Barrier"), so changing the policy is an edit to this file only.
  *
  * Why a frame needs a barrier:
  *  - multi-consumer reuse: a frame read by several jobs, or by both
  *    sides of a join, is computed once instead of once per reader;
  *  - iterative loops: a loop that feeds each round's frame into the
  *    next grows its logical plan every round, and Catalyst re-plans
  *    the whole nested lineage per action, so cost compounds per
  *    round; the barrier cuts the lineage to the stored result;
  *  - frozen sampling: a range-partitioned frame re-executed by a
  *    second job re-samples its bounds, so the partition a row lands
  *    in can differ between the jobs ([[operators.Ranking]] reads
  *    per-partition counts in one job and ranks in another).
  *
  * Why not `cache()`: a cached plan is registered with the session's
  * CacheManager and stays there, blocks included, for the session's
  * lifetime unless someone calls `unpersist`, and every later action
  * pays a plan-substitution scan over that registry (the round-4
  * bench regressions were exactly that leak; BASELINE.md
  * post-mortem). A local checkpoint registers nothing:
  * ContextCleaner frees its blocks once the returned DataFrame is
  * unreachable.
  *
  * What the planner sees: a barrier's scan reports
  * `UnknownPartitioning` (PlanSpec pins it), whatever partitioning
  * the stored frame had. A keyed aggregate, join or window over a
  * barrier re-shuffles, and a `coalesce(1)` put before the barrier is
  * lost to the planner; put it after ([[jobs.SilverGrain.frame]]).
  * The stored partitions themselves keep their index and row order,
  * which [[operators.Ranking]] numbers rows by.
  *
  * Failure model, as it stands:
  *  - the blocks live in executor storage and are not replicated, so
  *    losing an executor that holds one fails the query instead of
  *    recomputing it ("Checkpoint block … not found");
  *  - most barriers live for one query. The memoized silver frame and
  *    grains ([[sources.HeadlineData.silverCached]], [[jobs.SilverGrain]])
  *    live for the session; the memo checks [[Barrier.intact]] on each
  *    fetch and rebuilds after a lost block (queries over it fail);
  *  - the barrier is lazy: its blocks are stored by the first job
  *    that reads the frame, and two stages of that job (both sides
  *    of a self-join, say) can each compute the same partition. The
  *    losing store logs "Block … already exists" and its tasks' SQL
  *    metric updates are dropped (the driver logs them against a
  *    non-existent accumulator). The rows are correct either way.
  */
object Barrier {

  /** `df` as a barrier: stored by the first job that reads it and
    * served from the stored blocks afterwards. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** False once barrier `df` has lost a stored block; true before its
    * first read and for a frame that is not a barrier. */
  def intact(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => BlockBridge.allStored(r.rdd)
    case _ => true
  }
}

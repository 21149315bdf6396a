package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/** Declared-bounded window frames — the audit seam for every
  * unpartitioned window in the engine.
  *
  * An unpartitioned `Window.orderBy(...)` plans a single-partition
  * exchange: the whole input funnels through ONE reducer. That is a
  * 100 TB scale-killer when the input is corpus-sized (the round-12
  * enricher bug, fixed via [[operators.Ranking.withGlobalRank]]) — but it is
  * the CORRECT, cheapest plan when the input is GRAIN-sized: a frame
  * whose cardinality is bounded by the calendar (days, months,
  * years), a fixed parameter sweep (advisor alpha grids, IVF cells ≤
  * 2·nCells, histogram bins), or an explicit LIMIT — cardinalities
  * independent of corpus scale, thousands of rows at any SF.
  *
  * Call sites MUST NOT build unpartitioned windows from `Window`
  * directly; they call [[Grain.bounded]] / [[Grain.whole]], which
  * documents the author's bound claim at the call site and gives the
  * auditor ONE grep: a raw `Window.orderBy(` or `Window.partitionBy()`
  * anywhere outside this file is a guardrail-spec failure
  * (GuardrailSpec "unpartitioned windows go through Grain"). The
  * WindowExec single-partition warnings a bench tail prints are thus
  * all allowance-listed by construction.
  */
object Grain {

  /** Unpartitioned ordered window over a declared grain-bounded
    * input (calendar/advisor/limit-sized — NEVER corpus-sized).
    * Single-reducer by design and by declaration. */
  def bounded(sortCols: Column*): WindowSpec =
    Window.orderBy(sortCols: _*)

  /** Unpartitioned whole-frame window (share-of-total style) over a
    * declared grain-bounded input. */
  def whole: WindowSpec =
    Window.partitionBy()

  /** A declared grain-bounded frame (an aggregate over a date range,
    * say) gathered into one partition and sorted there. An `orderBy`
    * would plan a range exchange, which costs a sampling job and a
    * shuffle; a frame this small needs neither. The output is one
    * partition, so windows over it (partitioned or [[bounded]]) plan
    * no further exchange. */
  def sortedBounded(df: DataFrame, sortCols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(sortCols: _*)
}

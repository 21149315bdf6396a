package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Grain

/** Exact global order statistics WITHOUT ranking the whole frame.
  *
  * [[Ranking.withGlobalRank]] is the right tool when every row needs
  * its rank. When a query needs the values at a FEW ranks (medians,
  * quartiles), paying a full range exchange + checkpoint + P sorted
  * reducers over the frame is waste: the round-13 probe measured the
  * rank machinery at ~3.9 s of w_theil_sen's 4.6 s — all to keep 2 of
  * 2.9M rows. This helper is the classic distributed selection
  * algorithm instead (guide §2.3/§2.4 — shuffle fewer bytes, remove
  * shuffles outright):
  *
  *   1. one map-side pass for (min, max, count) — shuffle: 1 row;
  *   2. repeat: bucket rows by a clamped linear map of the value into
  *      B cells, count per cell (map-side partial agg — shuffle: ≤ B
  *      rows), walk the counts on the driver to find the cell range
  *      holding the wanted ranks, and narrow the candidate filter to
  *      it. Counting and filtering use the SAME bucket expression, so
  *      the candidate set is exactly consistent even where double
  *      rounding makes the nominal cell bounds fuzzy;
  *   3. once ≤ `cap` candidates remain, a single bounded sort
  *      (declared via [[Grain.bounded]] — the cap is a constant,
  *      never corpus-sized) assigns in-range ranks, offset by the
  *      exact count below the range.
  *
  * The selected VALUES are exact multiset order statistics: ties
  * order arbitrarily inside the final window, but rows with equal
  * `v` are interchangeable for every consumer (callers may only read
  * `v` and the rank off the returned rows — documented contract).
  * Degenerate value distributions that stop the narrowing (all
  * candidates one value) fall back to [[Ranking.withGlobalRank]],
  * which is exact at any scale.
  *
  * The input plan is re-evaluated once per pass (2-3 passes
  * typically), so `df` MUST be deterministic across jobs — derive it
  * from checkpointed/stable inputs, not from sampled partitioners.
  *
  * ANSI caveat: the narrowing filters reference `vCol`, and the
  * optimizer may push them INTO a join condition upstream, where they
  * are evaluated on rows the join's own conjuncts would have pruned.
  * `vCol` must therefore be TOTAL on the unfiltered join inputs —
  * guard partial arithmetic (division, lossy casts) with nullif/
  * try_* forms at the call site (w_theil_sen's slope denominator is
  * the worked example).
  */
object Selection {

  /** Rows holding the 1-based global order statistics of `vCol` at
    * ranks `ks` (multiset semantics), as `df.select(vCol as v, rank)`.
    */
  def valuesAtRanks(df: DataFrame, vCol: Column, ks: Seq[Long],
      nBuckets: Int = 4096, cap: Long = 65536, maxIters: Int = 8): DataFrame = {
    require(ks.nonEmpty, "ks must be non-empty")
    val kLo = ks.min; val kHi = ks.max
    // nulls are excluded from the rank space (a null __v would form a
    // null bucket group and break the narrowing walk); callers that
    // nullif-guard partial arithmetic rely on exactly this
    val base = df.select(vCol.as("__v")).filter(col("__v").isNotNull)
    val st = base.agg(min(col("__v")).cast("double").as("lo"),
      max(col("__v")).cast("double").as("hi"),
      count(lit(1)).cast("long").as("n")).collect()(0)
    if (st.isNullAt(0)) return base.withColumn("__rk", lit(0L)).limit(0)
    var lo = st.getDouble(0); var hi = st.getDouble(1)
    var curN = st.getLong(2)
    require(kHi <= curN, s"rank $kHi out of range (n=$curN)")
    var cumBefore = 0L
    var filterEx: Column = lit(true)
    var iters = 0
    var stalled = false
    while (curN > cap && !stalled && iters < maxIters) {
      iters += 1
      val width = hi - lo
      if (sys.env.contains("GRAFT_SEL_DEBUG"))
        println(s"SEL iter=$iters lo=$lo hi=$hi width=$width curN=$curN cumBefore=$cumBefore")
      if (width <= 0) stalled = true
      else {
        // clamped linear bucket map — identical expression for the
        // count pass and the narrowing filter, so the candidate set
        // stays exact regardless of double rounding at cell edges
        val bexp = least(lit(nBuckets - 1), greatest(lit(0),
          floor((col("__v").cast("double") - lit(lo)) / lit(width)
            * lit(nBuckets)).cast("int")))
        val counts = base.filter(filterEx)
          .groupBy(bexp.as("__b")).agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        var acc = 0L; var bLo = -1; var bHi = -1; var below = 0L
        counts.foreach { case (b, c) =>
          if (bLo < 0 && acc + c >= kLo - cumBefore) { bLo = b; below = acc }
          if (bHi < 0 && acc + c >= kHi - cumBefore) bHi = b
          acc += c
        }
        val newN = counts.collect {
          case (b, c) if b >= bLo && b <= bHi => c }.sum
        if (newN == curN) stalled = true
        else {
          filterEx = filterEx && bexp >= bLo && bexp <= bHi
          cumBefore += below
          curN = newN
          val cell = width / nBuckets
          hi = lo + (bHi + 1) * cell
          lo = lo + bLo * cell
        }
      }
    }
    if (curN > cap) {
      // degenerate narrowing (heavy ties / denormal span): exact
      // two-phase rank over the residual candidates — scalable, rare
      Ranking.withGlobalRank(base.filter(filterEx), "__rk0", col("__v"))
        .withColumn("__rk", col("__rk0") + lit(cumBefore))
        .filter(col("__rk").isInCollection(ks))
        .select(col("__v"), col("__rk"))
    } else {
      base.filter(filterEx)
        .withColumn("__rk",
          row_number().over(Grain.bounded(col("__v"))).cast("long")
            + lit(cumBefore))
        .filter(col("__rk").isInCollection(ks))
        .select(col("__v"), col("__rk"))
    }
  }
}

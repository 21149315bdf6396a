package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import graft.operators.GraphQueries

/** Invariant pins for the round-11 batch-80 operators: a full DP
  * replay of the DTW alignment (plus its metric laws), a Scala BFS
  * replay of the sampled harmonic centralities, orphan-count
  * replays, and the QQ grid against a driver probit.
  */
class TrainingData80Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Full-matrix DTW over long series, integer arithmetic. */
  private def dtw(a: Array[Long], b: Array[Long]): Long = {
    val n = a.length
    val prev = Array.ofDim[Long](n)
    val cur = Array.ofDim[Long](n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        val cost = math.abs(a(i) - b(j))
        val best =
          if (i == 0 && j == 0) 0L
          else if (i == 0) cur(j - 1)
          else if (j == 0) prev(0)
          else math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        cur(j) = cost + best
        j += 1
      }
      Array.copy(cur, 0, prev, 0, n)
      i += 1
    }
    prev(n - 1)
  }

  /** (month-sorted seriesA, seriesB) for the two audit brands. */
  private def series(): (Array[Long], Array[Long]) = {
    val li = graft.sources.Tables.table(spark, sf, "lineitem")
    val part = graft.sources.Tables.table(spark, sf, "part")
      .filter(col("p_brand").isin("Brand#11", "Brand#12"))
      .select(col("p_partkey"), col("p_brand"))
    val bl = li.join(part, col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        date_trunc("month", col("l_shipdate")).as("mon"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("brand"), col("mon"))
      .agg(sum(col("q")).cast("long").as("q"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Timestamp](1),
        r.getAs[Long]("q")))
    val months = bl.map(_._2).distinct.sortBy(_.getTime)
    def leg(brand: String): Array[Long] = {
      val m = bl.filter(_._1 == brand).map(t => t._2 -> t._3).toMap
      months.map(mo => m.getOrElse(mo, 0L)).toArray
    }
    (leg("Brand#11"), leg("Brand#12"))
  }

  test("w_dtw_brand_demand: full DP replay, metric laws") {
    val out = SparkEntry.queries("w_dtw_brand_demand")(spark, sf)
      .collect()
    assert(out.length == 1)
    val r = out.head
    val (a, b) = series()
    assert(r.getAs[Long]("n_months") == a.length.toLong)
    val d0 = dtw(a, b)
    assert(r.getAs[Long]("dtw_distance") == d0)
    val l1 = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    assert(r.getAs[Long]("l1_distance") == l1)
    // the diagonal path is admissible, so DTW ≤ L1; DTW ≥ 0;
    // and DTW is symmetric
    assert(d0 >= 0L && d0 <= l1)
    assert(dtw(b, a) == d0)
    assert(r.getAs[Double]("dtw_l1_ratio") ==
      r6(d0.toDouble / l1.toDouble))
  }

  test("g_harmonic_centrality: Scala BFS replay from the 4 md5 roots") {
    val out = SparkEntry.queries("g_harmonic_centrality")(spark, sf)
      .collect().map(r => r.getAs[Long]("root") -> r).toMap
    val edges = GraphQueries.knnUndirected(spark, sf)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).toSet
    }
    val nodes = edges.map(_._1).distinct
    val roots = nodes.sortBy(n => (md5hex(n.toString), n)).take(4)
    assert(out.keySet == roots.toSet)
    roots.foreach { root =>
      var frontier = Set(root); var visited = Set(root)
      val layerSizes = scala.collection.mutable.ArrayBuffer[Int]()
      var hop = 1
      while (hop <= 8 && frontier.nonEmpty) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .diff(visited)
        if (next.nonEmpty) layerSizes += next.size
        visited ++= next; frontier = next
        hop += 1
      }
      val r = out(root)
      assert(r.getAs[Long]("n_reached") == layerSizes.map(_.toLong).sum)
      assert(r.getAs[Long]("eccentricity") == layerSizes.size.toLong)
      val h = layerSizes.zipWithIndex.foldLeft(0.0) { case (acc, (nl, i)) =>
        acc + nl.toDouble / (i + 1).toDouble
      }
      assert(r.getAs[Double]("harmonic_centrality") == r6(h))
    }
  }

  test("q_referential_integrity: orphan replay; TPC-H edges intact") {
    val out = SparkEntry.queries("q_referential_integrity")(spark, sf)
      .collect()
    assert(out.length == 4)
    def keys(t: String, k: String): (Long, Set[Long]) = {
      val vs = graft.sources.Tables.table(spark, sf, t)
        .select(col(k)).collect().map(_.getLong(0))
      (vs.length.toLong, vs.toSet)
    }
    val (nLi, liOrd) = keys("lineitem", "l_orderkey")
    val (_, ordKeys) = keys("orders", "o_orderkey")
    val row = out.find(_.getAs[String]("child_key") == "lineitem.l_orderkey").get
    assert(row.getAs[Long]("n_child_rows") == nLi)
    val orphans = graft.sources.Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey")).collect()
      .count(r => !ordKeys.contains(r.getLong(0))).toLong
    assert(row.getAs[Long]("n_orphans") == orphans)
    // the synthetic warehouse is referentially intact — every edge
    out.foreach { r =>
      assert(r.getAs[Long]("n_orphans") == 0L)
      assert(r.getAs[String]("verdict") == "intact")
      assert(r.getAs[Double]("orphan_rate") == 0.0)
    }
    assert(liOrd.subsetOf(ordKeys))
  }

  private def probit(p: Double): Double = {
    val pl = 0.02425
    def tail(pp: Double): Double = {
      val q = math.sqrt(-2.0 * math.log(pp))
      (((((-0.007784894002430293 * q + -0.3223964580411365) * q +
        -2.400758277161838) * q + -2.549732539343734) * q +
        4.374664141464968) * q + 2.938163982698783) /
        (((((0.007784695709041462 * q + 0.3224671290700398) * q +
          2.445134137142996) * q + 3.754408661907416) * q) + 1.0)
    }
    if (p < pl) tail(p)
    else if (p > 1.0 - pl) -tail(1.0 - p)
    else {
      val q = p - 0.5; val r = q * q
      (((((-39.69683028665376 * r + 220.9460984245205) * r +
        -275.9285104469687) * r + 138.357751867269) * r +
        -30.66479806614716) * r + 2.506628277459239) * q /
        ((((((-54.47609879822406 * r + 161.5858368580409) * r +
          -155.6989798598866) * r + 66.80131188771972) * r +
          -13.28068155288572) * r) + 1.0)
    }
  }

  test("a_qq_normal: quantile grid + probit + correlation replay") {
    val out = SparkEntry.queries("a_qq_normal")(spark, sf).collect()
    assert(out.length == 19)
    val xs = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(col("o_orderdate"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("x"))
      .collect().map(_.getAs[Long]("x")).sorted
    val n = xs.length
    val meanC = ((xs.map(BigInt(_)).sum * 1000000) / n).toLong / 1.0e6
    val num = BigInt(n) * xs.map(v => BigInt(v) * BigInt(v)).sum -
      xs.map(BigInt(_)).sum * xs.map(BigInt(_)).sum
    val varC = ((num / (BigInt(n) * BigInt(n - 1))) / 1000000).toLong * 1.0e6
    val sdC = math.sqrt(varC)
    val grid = (1 to 19).map(_ * 0.05)
    val pts = grid.map { p =>
      val k = math.ceil(p * n.toDouble).toInt
      val q = xs(k - 1)
      (p, q, probit(p))
    }
    out.zip(pts).foreach { case (r, (p, q, z)) =>
      assert(r.getAs[Double]("p") == BigDecimal(p).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getAs[Double]("z_theoretical") == r6(z))
      assert(r.getAs[Double]("sample_usd") == r6(q.toDouble / 100.0))
      assert(r.getAs[Double]("fitted_usd") ==
        r6((meanC + sdC * z) / 100.0))
    }
    // sample quantiles are non-decreasing across the grid
    val qs = out.map(_.getAs[Double]("sample_usd"))
    assert(qs.zip(qs.drop(1)).forall { case (a, b) => a <= b })
    // correlation replay (p-ascending folds, matching the engine)
    val k = pts.size.toDouble
    val sq = pts.foldLeft(0.0)((a, t) => a + t._2.toDouble)
    val sz = pts.foldLeft(0.0)((a, t) => a + t._3)
    val sqq = pts.foldLeft(0.0)((a, t) => a + t._2.toDouble * t._2.toDouble)
    val szz = pts.foldLeft(0.0)((a, t) => a + t._3 * t._3)
    val sqz = pts.foldLeft(0.0)((a, t) => a + t._2.toDouble * t._3)
    val corr = (k * sqz - sq * sz) /
      (math.sqrt(k * sqq - sq * sq) * math.sqrt(k * szz - sz * sz))
    out.foreach(r => assert(r.getAs[Double]("qq_corr") == r6(corr)))
    assert(corr > 0.0 && corr <= 1.0 + 1e-9)
  }
}

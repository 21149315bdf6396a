package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphQueries

/** Invariant pins for the round-11 batch-69 operators: each one is a
  * NAIVE driver replay (or adjacency contract) independent of the
  * difference-array / fold machinery the operators use — the oracle
  * already pins engine equality, these pin the algorithm itself.
  */
class TrainingData69Spec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("mattr: difference-array result equals the naive sliding-window scan") {
    val W = 25
    val out = SparkEntry.queries("t_mattr")(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def mattr(text: String): (Double, Boolean) = {
      val ts = text.split(" ", -1)
      val n = ts.length
      if (n < W) (ts.distinct.length.toDouble / n, true)
      else {
        // naive: every full window, a fresh distinct count
        val sumDistinct = (0 to n - W)
          .map(i => ts.slice(i, i + W).distinct.length.toLong).sum
        (sumDistinct.toDouble / (W.toLong * (n - W + 1)).toDouble, false)
      }
    }
    val perLang = docs.groupBy(_._2).map { case (lang, ds) =>
      val sorted = ds.sortBy(_._1)
      val vals = sorted.map(d => mattr(d._3))
      (lang, (sorted.length.toLong, vals.count(_._2).toLong,
        r6(vals.map(_._1).foldLeft(0.0)(_ + _) / sorted.length)))
    }
    assert(out.length == perLang.size)
    out.foreach { r =>
      val (nd, ns, mm) = perLang(r.getString(0))
      assert(r.getLong(1) == nd, s"n_docs ${r.getString(0)}")
      assert(r.getLong(2) == ns, s"n_short ${r.getString(0)}")
      assert(r.getAs[Double]("mean_mattr") == mm, s"mattr ${r.getString(0)}")
      assert(mm > 0.0 && mm <= 1.0)
    }
  }

  test("croston: fold equals a driver foldLeft over the zero-filled spine") {
    val out = SparkEntry.queries("w_croston")(spark, sf).collect()
    assert(out.nonEmpty)
    val brandOf = graft.sources.Tables.table(spark, sf, "part")
      .select(col("p_partkey"), col("p_brand"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val demand = graft.sources.Tables.table(spark, sf, "lineitem")
      .select(col("l_partkey"), to_date(col("l_shipdate")).as("day"),
        col("l_quantity").cast("long").as("q"))
      .collect()
      .groupBy(r => (brandOf(r.getLong(0)), r.getDate(1).toLocalDate))
      .map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
    val days = demand.keys.map(_._2).toSeq
    val (d0, d1) = (days.min(Ordering.fromLessThan[java.time.LocalDate](
      _ isBefore _)), days.max(Ordering.fromLessThan[java.time.LocalDate](
      _ isBefore _)))
    val spine = Iterator.iterate(d0)(_ plusDays 1).takeWhile(!_.isAfter(d1))
      .toSeq
    out.foreach { r =>
      val brand = r.getString(0)
      val xs = spine.map(dy => demand.getOrElse((brand, dy), 0L).toDouble)
      val st = xs.foldLeft((0.0, 0.0, 0.0, false)) { case ((z, p, g, on), x) =>
        if (x > 0 && !on) (x, g + 1.0, 0.0, true)
        else if (x > 0) (z + 0.1 * (x - z), p + 0.1 * (g + 1.0 - p), 0.0, true)
        else (z, p, g + 1.0, on)
      }
      assert(r.getLong(1) == spine.length.toLong, s"n_days $brand")
      assert(r.getLong(2) == xs.count(_ > 0).toLong, s"n_demand $brand")
      assert(r.getAs[Double]("level") == r6(st._1), s"level $brand")
      assert(r.getAs[Double]("interval") == r6(st._2), s"interval $brand")
      assert(r.getAs[Double]("croston_forecast") == r6(st._1 / st._2))
      assert(r.getAs[Double]("sba_forecast") == r6(0.95 * st._1 / st._2))
      assert(r.getAs[Double]("interval") >= 1.0,
        "mean inter-demand interval is at least one period")
    }
  }

  test("mann-whitney: midrank U equals the naive all-pairs count") {
    val out = SparkEntry.queries("a_mann_whitney")(spark, sf).collect()
    assert(out.length == 1)
    val r = out.head
    val rows = graft.sources.Tables.table(spark, sf, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("v"),
        (col("o_orderpriority") === "1-URGENT").as("ga"))
      .collect().map(x => (x.getLong(0), x.getBoolean(1)))
    val a = rows.filter(_._2).map(_._1); val b = rows.filterNot(_._2).map(_._1)
    assert(r.getLong(0) == a.length.toLong && r.getLong(1) == b.length.toLong)
    // naive U: one comparison per (a, b) pair, ties at half weight
    val u2 = a.iterator.map(x =>
      2L * b.count(_ < x) + b.count(_ == x).toLong).sum
    assert(r.getAs[Double]("u_a") == u2.toDouble / 2.0)
    val delta = u2.toDouble / (a.length.toLong * b.length).toDouble - 1.0
    assert(r.getAs[Double]("cliffs_delta") == r6(delta))
    val mag = if (math.abs(delta) < 0.147) "negligible"
      else if (math.abs(delta) < 0.33) "small"
      else if (math.abs(delta) < 0.474) "medium" else "large"
    assert(r.getString(5) == mag)
    // z and delta agree in sign (same centered numerator)
    assert(r.getAs[Double]("z").signum == r.getAs[Double]("cliffs_delta").signum
      || r.getAs[Double]("cliffs_delta") == 0.0)
  }

  test("jaccard links: scores replay from adjacency sets; pairs non-adjacent") {
    val out = SparkEntry.queries("g_jaccard_links")(spark, sf).collect()
    assert(out.nonEmpty)
    val und = GraphQueries.knnUndirected(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = und.groupBy(_._1).map { case (k, es) => k -> es.map(_._2).toSet }
    out.foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      assert(!adj(u).contains(v), s"($u,$v) must be non-adjacent")
      val common = (adj(u) intersect adj(v)).size.toLong
      assert(r.getLong(2) == common, s"n_common ($u,$v)")
      assert(r.getLong(3) == adj(u).size.toLong)
      assert(r.getLong(4) == adj(v).size.toLong)
      val j = common.toDouble / (adj(u).size + adj(v).size - common).toDouble
      assert(r.getAs[Double]("jaccard") == r6(j))
      assert(j > 0.0 && j <= 1.0)
    }
  }
}

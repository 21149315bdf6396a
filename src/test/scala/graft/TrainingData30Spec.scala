package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphQueries

/** Invariant pins for the round-9 batch-25 operators (contract
  * properties beyond the oracle's engine-equality hash). */
class TrainingData30Spec extends SparkTestBase {

  test("MASE backtest: driver-side replay of the seasonal-naive score") {
    val out = SparkEntry.queries("w_backtest_mase")(spark, sf).collect()
    assert(out.nonEmpty)
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val d0 = ev.map(_._2).min
    val d1 = ev.map(_._2).max
    val spine = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).toSeq
    val counts = ev.groupBy(identity).view.mapValues(_.length.toLong)
    out.foreach { row =>
      val et = row.getAs[String]("event_type")
      val dense = spine.map(dd => (dd, counts.getOrElse((et, dd), 0L)))
      val scored = dense.drop(7).zip(dense).map { case ((dd, c), (_, l7)) =>
        (dd, math.abs(c - l7), dd.isAfter(d1.minusDays(14)))
      }
      val (test, train) = scored.partition(_._3)
      assert(row.getAs[Long]("n_train") == train.length.toLong)
      assert(row.getAs[Long]("n_test") == test.length.toLong)
      val mase = test.map(_._2).sum.toDouble * train.length /
        (train.map(_._2).sum.toDouble * test.length)
      assert(math.abs(row.getAs[Double]("mase") -
        math.rint(mase * 1e6) / 1e6) < 1e-9)
      assert(row.getAs[Double]("mae_train") ==
        math.rint(train.map(_._2).sum.toDouble / train.length * 1e6) / 1e6)
      assert(row.getAs[Double]("mae_test") ==
        math.rint(test.map(_._2).sum.toDouble / test.length * 1e6) / 1e6)
    }
  }

  test("BFS layers: driver-side BFS agrees layer by layer") {
    val out = SparkEntry.queries("g_bfs_layers")(spark, sf).collect()
    assert(out.nonEmpty)
    val edges = GraphQueries.knnUndirected(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seed = edges.map(_._1).min
    var frontier = Set(seed); var visited = Set(seed)
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Set[Long])](
      (0L, frontier))
    var hop = 1
    while (frontier.nonEmpty && hop <= 8) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- visited
      if (next.nonEmpty) { expect += ((hop.toLong, next)); visited ++= next }
      frontier = next; hop += 1
    }
    assert(out.length == expect.length)
    out.zip(expect).foreach { case (row, (layer, nodes)) =>
      assert(row.getAs[Long]("layer") == layer)
      assert(row.getAs[Long]("n_nodes") == nodes.size.toLong)
      assert(row.getAs[Long]("min_node") == nodes.min)
      assert(row.getAs[Long]("max_node") == nodes.max)
    }
    // layers partition their union: counts sum to |visited|
    assert(out.map(_.getAs[Long]("n_nodes")).sum == visited.size.toLong)
  }

  test("Shapley credit: conservation and the uniform-split replay") {
    val out = SparkEntry.queries("ev_shapley_credit")(spark, sf).collect()
    assert(out.nonEmpty)
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tsl"),
        col("event_id"), col("event_type"),
        floor(col("value").cast("decimal(18,2)") * 1000000)
          .cast("long").as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
    val byUser = ev.groupBy(_._1).view
      .mapValues(_.sortBy(x => (x._2, x._3)).toSeq).toMap
    val credit = scala.collection.mutable.Map[String, (Long, List[(Long, Double)])]()
      .withDefaultValue((0L, Nil))
    byUser.values.foreach { xs =>
      xs.zipWithIndex.foreach { case ((_, _, _, et, m), i) =>
        if (et == "purchase") {
          val chs = xs.take(i).map(_._4).filter(_ != "purchase").distinct
          val set = if (chs.isEmpty) Seq("none") else chs
          val k = set.length.toLong
          set.foreach { c =>
            val (n, terms) = credit(c)
            credit(c) = (n + 1, (k, m.toDouble) :: terms)
          }
        }
      }
    }
    // conservation: Σ channel credit == Σ purchase value (μ-units)
    val totalPurch = ev.filter(_._4 == "purchase").map(_._5).sum
    val totalCredit = credit.values.flatMap(_._2)
      .map { case (k, m) => m / k }.sum
    assert(math.abs(totalCredit - totalPurch.toDouble) < 1e-3)
    out.foreach { row =>
      val c = row.getAs[String]("channel")
      val (n, terms) = credit(c)
      assert(row.getAs[Long]("n_conversions") == n)
      // replay the engine's (channel, k)-grouped fold in k order
      val perK = terms.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1)
      val cr = perK.foldLeft(0.0) { case (a, (k, mk)) =>
        a + mk / k / 1e6
      }
      assert(math.abs(row.getAs[Double]("credit") -
        math.rint(cr * 1e6) / 1e6) < 1e-6)
    }
    assert(out.map(_.getAs[String]("channel")).distinct.length == out.length)
  }
}

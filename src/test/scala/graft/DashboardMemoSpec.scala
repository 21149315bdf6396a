package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, Row}

import graft.model.Schemas
import graft.serve.Dashboard

/** The dashboard's visit memo must not pin silver frames: its key is
  * the frame, held weakly, and its value plain rows. A frame sees the
  * files listed when it was read; a new frame sees new data. */
class DashboardMemoSpec extends SparkTestBase {
  private def write(dir: String, days: Seq[Int]): Unit = {
    val rows = days.zipWithIndex.map { case (d, i) =>
      val at = java.sql.Timestamp.valueOf(f"2024-05-$d%02d 12:00:00")
      Row(s"raw-$d-$i", s"headline $d $i", s"https://x/$d/$i", "G1", at,
        "Positiva", "Tecnologia", 0.5, 0.1, at, "mock")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.enriched)
      .write.mode("append").parquet(dir)
  }

  private def read(dir: String): DataFrame =
    spark.read.schema(Schemas.enriched).parquet(dir)

  /** A frame visited once, then only weakly reachable. In a method of
    * its own, so no local slot of the test keeps the frame alive. */
  private def visitedOnce(dir: String): WeakReference[DataFrame] = {
    val frame = read(dir)
    Dashboard.defaultRange(frame)
    new WeakReference(frame)
  }

  /** Collects garbage until `done`, for at most 30 s. */
  private def gcUntil(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!done && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(20)
    }
  }

  test("the visit memo holds no entry once its silver frame is collected") {
    val dir = tmpDir() + "/silver"
    write(dir, Seq(1, 2))
    // let frames earlier suites dropped leave the memo first
    var last = -1
    gcUntil { val n = Dashboard.memoized; val stable = n == last; last = n; stable }
    val before = Dashboard.memoized
    val ref = visitedOnce(dir)
    assert(Dashboard.memoized == before + 1)
    gcUntil(ref.get == null && Dashboard.memoized <= before)
    assert(ref.get == null, "the memo keeps its silver frame reachable")
    assert(Dashboard.memoized <= before, "a collected frame's grain stayed memoized")
  }

  test("a visited frame is memoized once and keeps its snapshot") {
    val dir = tmpDir() + "/silver"
    write(dir, Seq(1, 2))
    val frame = read(dir)
    val before = Dashboard.memoized
    val range = Dashboard.defaultRange(frame)
    Dashboard.defaultRange(frame)
    assert(Dashboard.memoized == before + 1)
    write(dir, Seq(3, 3))
    assert(Dashboard.defaultRange(frame) == range)
    assert(Dashboard.kpis(frame, range._1, range._2).total == 2)
  }

  test("a new frame read after an append sees the new rows") {
    val dir = tmpDir() + "/silver"
    write(dir, Seq(1, 2))
    val first = read(dir)
    val (s1, e1) = Dashboard.defaultRange(first)
    assert(Dashboard.kpis(first, s1, e1).total == 2)
    write(dir, Seq(3, 3, 4))
    val again = read(dir)
    val (s2, e2) = Dashboard.defaultRange(again)
    assert(e2 == java.time.LocalDate.of(2024, 5, 4))
    assert(Dashboard.kpis(again, s2, e2).total == 5)
    assert(Dashboard.categoryCounts(again, s2, e2).collect().map(_.getLong(2)).sum == 5)
  }

  test("premise: re-running a parquet frame after an append reads its first listing") {
    // The memo answers what a re-run of the same frame would: if Spark
    // ever re-lists a frame's files per action, this fails first.
    val dir = tmpDir() + "/silver"
    write(dir, Seq(1, 2))
    val frame = read(dir)
    assert(frame.count() == 2)
    write(dir, Seq(3))
    assert(frame.count() == 2)
    assert(read(dir).count() == 3)
  }
}

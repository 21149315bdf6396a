package graft

import org.apache.spark.graftbridge.{ApplicationEnd, JobCounter}
import org.apache.spark.sql.{DataFrame, Row}

import graft.jobs.{GoldJob, GrainCell}
import graft.model.Schemas
import graft.serve.Dashboard
import graft.sources.Tables

/** The dashboard answers from the silver grain, which is memoized per
  * silver path and file listing: fresh reads of an unchanged path
  * share one grain, an append gives a new one, a path holds one
  * entry, and the entry goes at application end or on
  * `Tables.invalidate`. A frame sees the files listed when it was
  * read; a new frame sees new data. */
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

  /** Silver grains memoized, all sessions. */
  private def memoized: Int = Tables.entries.count(_._2 == GoldJob.GrainKey)

  /** Silver grains memoized under `dir`'s path, all sessions. */
  private def entries(dir: String): Int =
    Tables.entries.count { case (path, key) => key == GoldJob.GrainKey && path.endsWith(dir) }

  private def total(g: graft.jobs.SilverGrain): Seq[Long] =
    g.rows.filter(_.set == GrainCell.All).map(_.rows)

  test("two fresh reads of one unchanged path share one grain; the second costs 0 Spark jobs") {
    val dir = tmpDir() + "/silver"
    write(dir, Seq(1, 2))
    // as perfbench reads silver: inferred for gold, declared for the visit
    val (inferred, declared) = (spark.read.parquet(dir), read(dir))
    val (range, firstJobs) = JobCounter(spark)(Dashboard.defaultRange(inferred))
    val (again, jobs) = JobCounter(spark)(Dashboard.defaultRange(declared))
    assert(again == range)
    assert(firstJobs > 0 && jobs == 0, s"grain jobs: first read $firstJobs, second $jobs")
    assert(GoldJob.silverGrain(inferred) eq GoldJob.silverGrain(declared))
  }

  test("an append gives a new grain") {
    val dir = tmpDir() + "/silver"
    write(dir, Seq(1, 2))
    val first = GoldJob.silverGrain(read(dir))
    write(dir, Seq(3))
    val appended = GoldJob.silverGrain(read(dir))
    assert(!(appended eq first))
    assert(total(first) == Seq(2L) && total(appended) == Seq(3L))
  }

  test("a path holds at most one grain entry") {
    val (dir, other) = (tmpDir() + "/silver", tmpDir() + "/silver")
    write(dir, Seq(1))
    write(other, Seq(1))
    for (d <- 2 to 4) {
      Dashboard.defaultRange(read(dir))
      assert(entries(dir) == 1)
      write(dir, Seq(d))
    }
    Dashboard.defaultRange(read(other))
    assert(entries(dir) == 1 && entries(other) == 1)
  }

  test("application end evicts the grain entry, and so does Tables.invalidate") {
    val dir = tmpDir() + "/silver"
    write(dir, Seq(1, 2))
    val first = GoldJob.silverGrain(read(dir))
    assert(entries(dir) == 1)
    ApplicationEnd.post(spark)
    assert(entries(dir) == 0, "application end left the grain memoized")
    val rebuilt = GoldJob.silverGrain(read(dir))
    assert(!(rebuilt eq first) && entries(dir) == 1)
    Tables.invalidate()
    assert(entries(dir) == 0, "Tables.invalidate left the grain memoized")
    assert(!(GoldJob.silverGrain(read(dir)) eq rebuilt))
  }

  test("a visited frame is memoized once and keeps its snapshot") {
    val dir = tmpDir() + "/silver"
    write(dir, Seq(1, 2))
    val frame = read(dir)
    val before = memoized
    val range = Dashboard.defaultRange(frame)
    Dashboard.defaultRange(frame)
    assert(memoized == before + 1)
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

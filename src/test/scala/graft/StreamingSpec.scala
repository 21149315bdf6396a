package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.streaming.EventStreams

/** The streaming forms kept in `graft.streaming` must equal their
  * batch twins on the same input once the stream drains
  * (AvailableNow ≅ the reference's daily cron batch): the tumbling
  * daily agg, event dedup, the enrichment DAG and near-dup flagging.
  */
class StreamingSpec extends SparkTestBase {
  test("streaming daily agg equals batch result") {
    val dir = tmpDir()
    // stage events (post ns→µs conversion) as a parquet dir source
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events")
    val q = EventStreams.runToMemory(spark, s"$dir/events", "ev_stream_test")
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ev_stream_test")
      .select(col("day"), col("event_type"), col("n"))
      .orderBy("day", "event_type").collect().toSeq
    val batch = SparkEntry.queries("ev_tumbling_daily")(spark, sf)
      .select(col("day"), col("event_type"), col("n"))
      .orderBy("day", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("append mode emits exactly the watermark-closed windows") {
    val dir = tmpDir()
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events")
    val q = EventStreams.runToMemory(spark, s"$dir/events",
      "ev_append_test", outputMode = "append")
    q.processAllAvailable()
    q.stop()
    // with one AvailableNow pass the final watermark is
    // max(ts) - 1 day; only windows whose END is ≤ that watermark
    // may be emitted in append mode, and all of those must be
    val maxTs = Tables.table(spark, sf, "events")
      .agg(max(col("ts"))).head().getTimestamp(0).getTime
    val horizon = maxTs - 24L * 3600 * 1000
    val appended = spark.table("ev_append_test")
      .select(col("day"), col("event_type"), col("n"))
      .orderBy("day", "event_type").collect().toSeq
    val closedBatch = SparkEntry.queries("ev_tumbling_daily")(spark, sf)
      .filter((unix_millis(col("day")) + lit(24L * 3600 * 1000)) <= horizon)
      .select(col("day"), col("event_type"), col("n"))
      .orderBy("day", "event_type").collect().toSeq
    assert(appended == closedBatch && appended.nonEmpty)
  }

  test("streaming enrich: overlapping file batches stay idempotent") {
    val dir = tmpDir()
    PipelineSpec.writeCsv(s"$dir/raw/b1.csv", (0 to 4).map(i =>
      s"A streaming headline number $i long enough,https://ex.com/s$i,G1,2024-03-01T08:00:00.000000"))
    PipelineSpec.writeCsv(s"$dir/raw/b2.csv", (3 to 7).map(i =>
      s"A streaming headline number $i long enough,https://ex.com/s$i,G1,2024-03-01T08:00:00.000000"))
    val q = graft.streaming.EnrichStream.start(spark, s"$dir/raw",
      s"$dir/silver", graft.enrich.MockEnricher,
      () => java.sql.Timestamp.valueOf("2024-03-01 09:00:00"))
    q.processAllAvailable()
    q.stop()
    val silver = spark.read.parquet(s"$dir/silver")
    assert(silver.count() == 8, "links s0..s7 exactly once")
    assert(silver.select("raw_link").distinct().count() == 8)
  }

  test("streaming enrich restarted over appended files classifies and appends nothing") {
    val dir = tmpDir()
    PipelineSpec.writeCsv(s"$dir/raw/b1.csv", (0 to 4).map(i =>
      s"A streaming headline number $i long enough,https://ex.com/r$i,G1,2024-03-01T08:00:00.000000"))
    val calls = spark.sparkContext.longAccumulator("stream classify calls")
    def run(): Unit = {
      // no checkpoint location: a restart re-delivers every file
      val q = graft.streaming.EnrichStream.start(spark, s"$dir/raw",
        s"$dir/silver", new PipelineSpec.CountingEnricher(calls),
        () => java.sql.Timestamp.valueOf("2024-03-01 09:00:00"))
      q.processAllAvailable()
      q.stop()
    }
    def files = new java.io.File(s"$dir/silver").list().count(_.endsWith(".parquet"))
    run()
    assert(calls.value == 5, s"${calls.value} classify calls for 5 rows")
    val before = files
    calls.reset()
    run()
    assert(calls.value == 0, s"${calls.value} classify calls on a re-delivery")
    assert(files == before, "a re-delivery appending nothing added a file")
    assert(spark.read.parquet(s"$dir/silver").count() == 5)
  }

  test("streaming upsert enrich classifies each delivered row once") {
    val dir = tmpDir()
    val calls = spark.sparkContext.longAccumulator("upsert classify calls")
    def deliver(raw: String, day: Int): Unit = {
      PipelineSpec.writeCsv(s"$dir/$raw/b.csv", (0 to 4).map(i =>
        s"An upserted headline number $i long enough,https://ex.com/v$i,G1,2024-03-0${day}T08:00:00.000000"))
      val q = graft.streaming.EnrichStream.startUpsert(spark, s"$dir/$raw",
        s"$dir/silver", new PipelineSpec.CountingEnricher(calls),
        () => java.sql.Timestamp.valueOf(s"2024-03-0$day 09:00:00"))
      q.processAllAvailable()
      q.stop()
    }
    deliver("raw1", 1)
    assert(calls.value == 5, s"${calls.value} classify calls on the first delivery")
    calls.reset()
    deliver("raw2", 2)
    assert(calls.value == 5, s"${calls.value} classify calls on a re-delivery")
    assert(spark.read.parquet(s"$dir/silver").count() == 5)
  }

  test("streaming upsert enrich: re-delivered UPDATED content replaces in place") {
    val dir = tmpDir()
    PipelineSpec.writeCsv(s"$dir/raw/b1.csv", (0 to 4).map(i =>
      s"A streaming headline number $i long enough,https://ex.com/u$i,G1,2024-03-01T08:00:00.000000"))
    val q1 = graft.streaming.EnrichStream.startUpsert(spark, s"$dir/raw",
      s"$dir/silver", graft.enrich.MockEnricher,
      () => java.sql.Timestamp.valueOf("2024-03-01 09:00:00"))
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$dir/silver").count() == 5)
    // a corrected re-scrape: same links, REVISED titles, later batch —
    // last-write-wins must replace, never duplicate (a first-write-wins
    // append would silently keep the stale rows; that contract
    // difference is the op)
    PipelineSpec.writeCsv(s"$dir/raw2/b2.csv", (2 to 6).map(i =>
      s"A REVISED streaming headline number $i long enough,https://ex.com/u$i,G1,2024-03-02T08:00:00.000000"))
    val q2 = graft.streaming.EnrichStream.startUpsert(spark, s"$dir/raw2",
      s"$dir/silver", graft.enrich.MockEnricher,
      () => java.sql.Timestamp.valueOf("2024-03-02 09:00:00"))
    q2.processAllAvailable(); q2.stop()
    val silver = spark.read.parquet(s"$dir/silver")
    assert(silver.count() == 7, "u0..u6 exactly once")
    assert(silver.select("raw_link").distinct().count() == 7)
    val titles = silver.collect()
      .map(r => r.getAs[String]("raw_link") -> r.getAs[String]("title")).toMap
    assert(titles("https://ex.com/u1").startsWith("A streaming"))
    assert(titles("https://ex.com/u3").startsWith("A REVISED"),
      "conflicting key must carry the re-delivered content")
    assert(titles("https://ex.com/u6").startsWith("A REVISED"))
  }

  test("streaming near-dup flagging equals the batch incremental operator") {
    val dir = tmpDir()
    val docs = Tables.table(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    // the new batch arrives split across two files → two micro-batch
    // deliveries; the index is static, so per-doc summaries are
    // complete within each batch and the union equals one-shot batch
    newDocs.filter(col("doc_id") % 20 === 0).write.parquet(s"$dir/src")
    newDocs.filter(col("doc_id") % 20 =!= 0)
      .write.mode("append").parquet(s"$dir/src")
    val idx = graft.streaming.DedupStream.corpusIndex(corpus)
    val q = graft.streaming.DedupStream.start(spark, s"$dir/src", idx, s"$dir/hits")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$dir/hits")
      .collect().map(_.toSeq).toSet
    val batch = operators.Dedup.minhashIncrementalHits(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream != batch: extra=${streamed -- batch} missing=${batch -- streamed}")
    assert(streamed.nonEmpty, "fixture corpus should contain cross-side near-dups")
  }

  test("growing-index streaming LSH catch equals the batch banding pair set and recall curve") {
    val dir = tmpDir()
    val docs = Tables.table(spark, sf, "documents")
    // three arrival waves, one file-append each; maxFilesPerTrigger=1
    // forces multiple micro-batches (the pin is boundary-invariant:
    // a pair's banding catch is a deterministic function of its two
    // signatures, evaluated when the later member arrives)
    docs.filter(col("doc_id") % 3 === 0).write.parquet(s"$dir/src")
    docs.filter(col("doc_id") % 3 === 1).write.mode("append").parquet(s"$dir/src")
    docs.filter(col("doc_id") % 3 === 2).write.mode("append").parquet(s"$dir/src")
    val q = graft.streaming.DedupStream.startGrowing(
      spark, s"$dir/src", s"$dir/pairs")
    q.processAllAvailable()
    q.stop()
    val streamedPairs = spark.read.parquet(s"$dir/pairs")
      .select(least(col("new_doc_id"), col("corpus_doc_id")).as("d1"),
        greatest(col("new_doc_id"), col("corpus_doc_id")).as("d2"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = operators.Dedup
      .minhashLshPairs(spark, sf, portableHashes = true)
      .select(col("d1"), col("d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedPairs.nonEmpty)
    assert(streamedPairs == batchPairs,
      s"extra=${streamedPairs -- batchPairs} missing=${batchPairs -- streamedPairs}")
    // the production question behind dedup_lsh_recall_curve: banding
    // recall HOLDS as the index grows — the curve recomputed from the
    // streaming catch equals the registered batch curve row for row
    import spark.implicits._
    val caught = streamedPairs.toSeq.toDF("d1", "d2")
      .withColumn("hit", lit(1L))
    val truth = operators.Dedup.ngramJaccardPairs(spark, sf, 3, 0.5)
      .filter(col("jaccard") >= 0.7)
    val streamCurve = truth.join(caught, Seq("d1", "d2"), "left")
      .withColumn("bucket", floor(col("jaccard") * 20.0) / 20.0)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_caught"))
      .orderBy(col("bucket")).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    val batchCurve = SparkEntry.queries("dedup_lsh_recall_curve")(spark, sf)
      .select(col("bucket"), col("n_pairs"), col("n_caught"))
      .orderBy(col("bucket")).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamCurve.nonEmpty && streamCurve == batchCurve)
  }

  test("streaming dedup drops re-delivered events") {
    val dir = tmpDir()
    val ev = Tables.table(spark, sf, "events").limit(100)
    ev.write.parquet(s"$dir/events")          // original delivery
    ev.write.mode("append").parquet(s"$dir/events") // full re-delivery
    val q = EventStreams.dedupedEventStream(spark, s"$dir/events")
      .groupBy().count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("dedup_stream_test").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_stream_test").head().getLong(0) == 100)
  }

}

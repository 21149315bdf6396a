package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.streaming.EventStreams

/** The streaming tumbling-window agg must equal its batch twin on
  * the same input once the stream drains (AvailableNow ≅ the
  * reference's daily cron batch).
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

  test("streaming hopping agg equals batch result") {
    val dir = tmpDir()
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events")
    val q = EventStreams.runToMemory(spark, s"$dir/events",
      "ev_hop_stream_test", EventStreams.hoppingDailyAgg)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ev_hop_stream_test")
      .select(col("win_start"), col("event_type"), col("n"))
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = SparkEntry.queries("ev_hopping_daily")(spark, sf)
      .select(col("win_start"), col("event_type"), col("n"))
      .orderBy("win_start", "event_type").collect().toSeq
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

  test("stream-static broadcast dim join equals the batch join") {
    val dir = tmpDir()
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events")
    val dim = Tables.table(spark, sf, "customer")
    val q = EventStreams.runToMemory(spark, s"$dir/events",
      "ev_dim_stream_test", EventStreams.enrichBySegment(_, dim))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ev_dim_stream_test")
      .select(col("day"), col("segment"), col("n"))
      .orderBy("day", "segment").collect().toSeq
    val batch = EventStreams.enrichBySegment(
        Tables.table(spark, sf, "events"), dim)
      .select(col("day"), col("segment"), col("n"))
      .orderBy("day", "segment").collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("native session_window equals lag-based sessionization") {
    // same 30-min gap as w_sessionize_users; semantics agree except
    // at EXACT-gap boundaries (session_window opens a new session at
    // next == last + gap, the lag form only at next > last + gap) —
    // the events table has no exact-1800s gap, checked in DuckDB
    val ev = Tables.table(spark, sf, "events")
    // enforce the precondition instead of assuming it: an exact-gap
    // event pair would make the two forms legitimately diverge, so a
    // fixture change that introduces one must fail HERE, not as an
    // opaque oracle hash mismatch
    val wPre = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val exactGaps = ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wPre))
      .where(col("gap_us") === 1800000000L).count()
    assert(exactGaps == 0L,
      "events fixture gained an exact-1800s gap; session_window and the lag oracle diverge there")
    val native = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("sessions"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagBased = ev
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .groupBy(col("user_id")).agg(sum(col("new_session")).as("sessions"))
    assert(native.orderBy("user_id").collect().toSeq ==
      lagBased.orderBy("user_id").collect().toSeq)
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
    // last-write-wins must replace, never duplicate (appendDedup would
    // silently keep the stale rows; that contract difference is the op)
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

  test("streaming corpus ingest: quality-filtered, exact-dup-free, equals batch") {
    val dir = tmpDir()
    val docs = Tables.table(spark, sf, "documents")
    // two overlapping deliveries + a content re-scrape under a new id
    docs.limit(300).write.parquet(s"$dir/src")
    docs.limit(200).withColumn("doc_id", col("doc_id") + 1000000L)
      .write.mode("append").parquet(s"$dir/src")
    val q = graft.streaming.CorpusStream.start(spark, s"$dir/src", s"$dir/corpus")
    q.processAllAvailable()
    q.stop()
    val corpus = spark.read.parquet(s"$dir/corpus")
    val batchExpected = graft.streaming.CorpusStream.prepare(docs.limit(300))
      .dropDuplicates("fingerprint")
    assert(corpus.count() == batchExpected.count(),
      "re-delivered content adds nothing; quality gate matches batch")
    assert(corpus.select("fingerprint").distinct().count() == corpus.count())
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

  test("growing-index streaming substring detection equals the uncapped batch detector") {
    val dir = tmpDir()
    val docs = Tables.table(spark, sf, "documents")
    // arrival waves deliberately unaligned with doc_id order: a
    // pair's span completes when its LATER-ARRIVING member lands,
    // with both full anchor sets in the merged index — so values
    // must equal the batch detector's, whatever the wave layout
    docs.filter(col("doc_id") % 3 === 2).write.parquet(s"$dir/src")
    docs.filter(col("doc_id") % 3 === 0).write.mode("append").parquet(s"$dir/src")
    docs.filter(col("doc_id") % 3 === 1).write.mode("append").parquet(s"$dir/src")
    val q = graft.streaming.SubstringStream.start(
      spark, s"$dir/src", s"$dir/spans")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$dir/spans")
      .collect().map(_.toSeq).toSet
    // the df-cap is a whole-corpus statistic (periodic recompute in
    // production) — the streaming twin is the UNCAPPED detector
    val batch = operators.DedupQueries
      .exactSubstringOf(docs.select(col("doc_id"), col("text")),
        10, Int.MaxValue)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"extra=${streamed -- batch} missing=${batch -- streamed}")
  }

  test("streaming misra-gries sketch honors the MG contract per lang") {
    val dir = tmpDir()
    val docs = Tables.table(spark, sf, "documents")
    // two deliveries → at least two micro-batch merges of MG state
    docs.limit(250).write.parquet(s"$dir/src")
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(s"$dir/src")
    val k = 8
    val q = graft.streaming.HeavyHittersStream.start(
      spark, s"$dir/src", "hh_stream_test", k)
    q.processAllAvailable()
    q.stop()
    val exact = docs
      .select(col("lang"), explode(
        graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("lang", "token").count()
      .collect().groupBy(_.getString(0))
      .map { case (l, rows) =>
        l -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      }
    val out = spark.table("hh_stream_test").collect()
    assert(out.nonEmpty)
    out.foreach { row =>
      val lang = row.getString(0)
      val sketch = row.getMap[String, Long](1).toMap
      val n = row.getLong(2)
      assert(sketch.size <= k)
      assert(n == exact(lang).values.sum, "stream must see every token")
      exact(lang).foreach { case (t, c) =>
        if (c * (k + 1) > n)
          assert(sketch.contains(t), s"$lang/$t ($c of $n) must survive")
      }
      sketch.foreach { case (t, e) =>
        val c = exact(lang)(t)
        assert(e <= c && (c - e) * (k + 1) <= n,
          s"$lang/$t estimate $e vs exact $c breaks the MG bound")
      }
    }
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

  test("stream-stream interval join equals the batch join") {
    val dir = tmpDir()
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events")
    def src() = spark.readStream.schema(EventStreams.eventSchema)
      .parquet(s"$dir/events")
    val q = EventStreams.purchaseViewJoin(src(), src()).writeStream
      .outputMode("append").format("memory").queryName("ssjoin_test")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssjoin_test")
      .orderBy("purchase_id", "view_id").collect().toSeq
    val ev = Tables.table(spark, sf, "events")
    val batch = EventStreams.purchaseViewJoin(ev, ev)
      .orderBy("purchase_id", "view_id").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming peak concurrency equals the batch global sweep on the second grid") {
    val dir = tmpDir()
    // the STREAM gets the raw µs-precision events — the quantization
    // under test happens inside peakDeltas; the batch twin of the
    // second-grid contract is the µs-exact global sweep run on
    // second-truncated timestamps
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events")
    val truncDir = tmpDir()
    Tables.table(spark, sf, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
      .write.parquet(s"$truncDir/events.parquet")
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .parquet(s"$dir/events")
    val q = EventStreams.peakPerDay(EventStreams.peakDeltas(stream)).toDF()
      .writeStream.outputMode("update").format("memory").queryName("peak_test")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    // both metrics are monotone in the event multiset → latest wins
    val streamed = spark.table("peak_test")
      .groupBy("day").agg(max("peak_active").as("peak_active"),
        max("n_opens").as("n_opens"))
      .select(col("day").cast("string"), col("peak_active"), col("n_opens"))
      .orderBy("day").collect().toSeq
    val batch = SparkEntry.queries("ev_peak_concurrency")(spark, truncDir)
      .select(col("day").cast("string"), col("peak_active"), col("n_opens"))
      .orderBy("day").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the grid matters on µs data: at least one day's raw-µs peak may
    // differ, but opens never do (quantization moves, never drops)
    val rawBatch = SparkEntry.queries("ev_peak_concurrency")(spark, sf)
      .select(col("day").cast("string"), col("n_opens"))
      .orderBy("day").collect().toSeq
    assert(streamed.map(r => (r.getString(0), r.getLong(2))) ==
      rawBatch.map(r => (r.getString(0), r.getLong(1))))
  }

  test("midnight-crossing intervals carry into the next day's streaming peak") {
    import spark.implicits._
    val dir = tmpDir()
    // A opens 23:58 (still open past midnight), B and C open together
    // early next day → day-2 peak 3 is reachable ONLY via the carry
    Seq(
      (1L, "2024-03-01 23:58:00", 10L, "view", 1.0, "{}"),
      (2L, "2024-03-02 00:01:00", 11L, "view", 1.0, "{}"),
      (3L, "2024-03-02 00:02:00", 12L, "view", 1.0, "{}"))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ev_peak_concurrency")(spark, dir)
      .select(col("day").cast("string"), col("peak_active"), col("n_opens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.contains(("2024-03-02", 3L, 2L)),
      "fixture must force a day-2 peak that needs day-1's open interval")
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .parquet(s"$dir/events.parquet")
    val q = EventStreams.peakPerDay(EventStreams.peakDeltas(stream)).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("peak_carry_test")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("peak_carry_test")
      .groupBy("day").agg(max("peak_active").as("peak_active"),
        max("n_opens").as("n_opens"))
      .select(col("day").cast("string"), col("peak_active"), col("n_opens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("peak-day state expires via event-time timeout; stragglers can't resurrect it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_id", "ts")
    val q = EventStreams.peakPerDay(
        EventStreams.peakDeltas(events, windowSec = 300,
          watermarkDelay = "10 minutes"),
        slackSec = 1200).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("peak_ttl_test").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // day 1: two overlapping opens → peak 2
      mem.addData((1L, ts("2024-03-01 10:00:00")), (2L, ts("2024-03-01 10:02:00")))
      q.processAllAvailable()
      // far-future data pushes the watermark past day-1's expiry; the
      // following (possibly no-data) batch fires its timeout
      mem.addData((3L, ts("2024-03-10 00:00:00")))
      q.processAllAvailable()
      mem.addData((4L, ts("2024-03-10 01:00:00")))
      q.processAllAvailable()
      // a straggler for the EXPIRED day must be dropped, not allowed
      // to recreate the day with a bogus partial (peak 1) row
      mem.addData((5L, ts("2024-03-01 23:00:00")))
      q.processAllAvailable()
      val day1 = spark.table("peak_ttl_test")
        .filter(col("day") === lit("2024-03-01").cast("date"))
        .select("peak_active", "n_opens").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(day1 == Set((2L, 2L)), s"expired day resurrected or wrong: $day1")
      // day 1's state row is gone — only day 10 remains
      val lastTotal = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).map(_.stateOperators.head.numRowsTotal)
      assert(lastTotal.contains(1L), s"day-1 state not expired: $lastTotal")
    } finally q.stop()
  }

  test("gold run writes date-partitioned tables") {
    val dir = tmpDir()
    val silver = graft.sources.HeadlineData.silverCached(spark, sf)
    graft.jobs.GoldJob.run(silver, s"$dir/gold")
    val parts = new java.io.File(s"$dir/gold/daily_sentiment_analysis")
      .listFiles().filter(_.getName.startsWith("analysis_date="))
    assert(parts.length >= 7, "one partition dir per day")
  }

  test("stateful sessionize: closed + open sessions equal batch sessions") {
    import spark.implicits._
    val dir = tmpDir()
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events")

    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .parquet(s"$dir/events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"))
      .as[EventStreams.SessionEvent]
    val q = EventStreams.sessionize(stream, 1800).writeStream
      .outputMode("append").format("memory").queryName("sess_test")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sess_test")
      .groupBy("user_id").count().as[(Long, Long)].collect().toMap

    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = Tables.table(spark, sf, "events")
      .withColumn("prev", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("ns", when(col("prev").isNull ||
        unix_micros(col("ts")) - col("prev") > 1800000000L, 1).otherwise(0))
      .groupBy("user_id").agg(sum("ns").as("sessions"))
      .as[(Long, Long)].collect().toMap

    assert(batch.nonEmpty)
    batch.foreach { case (u, n) =>
      // every user's last session is still open in state, not emitted
      assert(closed.getOrElse(u, 0L) + 1 == n, s"user $u")
    }
  }

  test("stateful attribution: per-purchase stream credits equal the batch aggregate") {
    import spark.implicits._
    val dir = tmpDir()
    Tables.table(spark, sf, "events").write.parquet(s"$dir/events")

    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .parquet(s"$dir/events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("event_type"), col("value"))
      .as[EventStreams.AttrEvent]
    val q = EventStreams.attributionStream(stream).writeStream
      .outputMode("append").format("memory").queryName("attr_test")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_test")

    val batch = SparkEntry
      .queries("ev_attribution")(spark, sf).collect()
    def agg(channelCol: String): Map[String, (Long, Double)] =
      streamed.groupBy(col(channelCol).as("channel"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
        .collect().map(r => r.getAs[String]("channel") ->
          (r.getAs[Long]("n"), r.getAs[Double]("v"))).toMap
    val byFirst = agg("first_touch"); val byLast = agg("last_touch")
    assert(batch.nonEmpty && streamed.count() > 0)
    batch.foreach { r =>
      val ch = r.getAs[String]("channel")
      val (nf, vf) = byFirst.getOrElse(ch, (0L, 0.0))
      val (nl, vl) = byLast.getOrElse(ch, (0L, 0.0))
      assert(nf == r.getAs[Long]("n_first"), s"first count for $ch")
      assert(math.abs(vf - r.getAs[Double]("first_touch_value")) < 1e-6)
      assert(nl == r.getAs[Long]("n_last"), s"last count for $ch")
      assert(math.abs(vl - r.getAs[Double]("last_touch_value")) < 1e-6)
    }
  }

  test("streaming sprt: per-day verdicts equal the batch monitor across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the batch op's own daily aggregate, in day order
    val daily = Tables.table(spark, sf, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      .orderBy(col("day"))
      .collect()
      .map(r => EventStreams.DayStat(r.getAs[java.sql.Date]("day"),
        r.getAs[Long]("n"), r.getAs[Long]("conv")))
    val mem = MemoryStream[EventStreams.DayStat]
    val q = EventStreams.sprtStream(mem.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("sprt_test").start()
    // two triggers: the ledger must carry cum state across batches
    val (firstHalf, secondHalf) = daily.splitAt(daily.length / 2)
    try {
      mem.addData(firstHalf.toIndexedSeq); q.processAllAvailable()
      mem.addData(secondHalf.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sprt_test").collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("cum_n"), r.getAs[Long]("cum_conv"),
          r.getAs[Double]("llr"), r.getAs[String]("decision"))).toMap
    val batch = SparkEntry
      .queries("a_sprt_monitor")(spark, sf).collect()
    assert(batch.length == streamed.size && batch.nonEmpty)
    batch.foreach { r =>
      val key = r.getAs[java.sql.Date]("day").toString
      val (cn, cc, llr, dec) = streamed(key)
      assert(cn == r.getAs[Long]("cum_n"), s"cum_n for $key")
      assert(cc == r.getAs[Long]("cum_conv"), s"cum_conv for $key")
      assert(llr == r.getAs[Double]("llr"), s"llr for $key (bit-exact)")
      assert(dec == r.getAs[String]("decision"), s"decision for $key")
    }
  }

  test("streaming variance merge: final month moments equal the batch audit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the batch op's own day partials, as the arriving stream
    val parts = Tables.table(spark, sf, "orders")
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("s"),
        sum(round(col("o_totalprice") * 100).cast("long") *
          round(col("o_totalprice") * 100).cast("long")).as("ss"))
      .orderBy(col("day"))
      .collect()
      .map(r => EventStreams.MonthPart(r.getAs[java.sql.Date]("month"),
        r.getAs[Long]("n"), r.getAs[Long]("s"), r.getAs[Long]("ss")))
    val mem = MemoryStream[EventStreams.MonthPart]
    val q = EventStreams.varianceMergeStream(mem.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("varmerge_test").start()
    // two triggers: months straddling the split must carry state
    val (a, b) = parts.splitAt(parts.length / 2)
    try {
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // the LAST emission per month is the converged ledger
    val streamed = spark.table("varmerge_test")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("month")).orderBy(desc("n_orders"))))
      .filter(col("rk") === 1).collect()
      .map(r => r.getAs[java.sql.Date]("month").toString ->
        (r.getAs[Long]("n_orders"), r.getAs[Double]("mean_price"),
          r.getAs[Double]("var_price"))).toMap
    val batch = SparkEntry
      .queries("a_var_merge")(spark, sf).collect()
    assert(batch.length == streamed.size && batch.nonEmpty)
    batch.foreach { r =>
      val key = r.getAs[java.sql.Date]("month").toString
      val (n, mean, v) = streamed(key)
      assert(n == r.getAs[Long]("n_orders"), s"n for $key")
      assert(mean == r.getAs[Double]("mean_price"), s"mean for $key (bit-exact)")
      if (n > 1)
        assert(v == r.getAs[Double]("var_price"), s"var for $key (bit-exact)")
      else assert(v.isNaN && r.isNullAt(r.fieldIndex("var_price")))
    }
  }

  test("streaming lateness: per-event buckets equal the batch audit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val arrivals = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy(col("event_id"))
      .collect()
      .map(r => EventStreams.ArrivalEvent(r.getLong(0), r.getLong(1),
        r.getLong(2)))
    val mem = MemoryStream[EventStreams.ArrivalEvent]
    val q = EventStreams.latenessStream(mem.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("lateness_test").start()
    // split MID-USER: the high-watermark must carry across triggers
    val (a, b) = arrivals.splitAt(arrivals.length / 2)
    try {
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("lateness_test")
      .groupBy(col("bucket_rank")).agg(count(lit(1)).as("n_events"),
        max(col("late_us")).as("max_late_us"))
      .collect()
      .map(r => r.getAs[Int]("bucket_rank") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("max_late_us"))).toMap
    val batch = SparkEntry
      .queries("ev_watermark_lateness")(spark, sf).collect()
    assert(batch.map(_.getAs[Long]("n_events")).sum ==
      streamed.values.map(_._1).sum)
    batch.foreach { r =>
      val rank = r.getAs[Int]("bucket_rank")
      val (n, mx) = streamed(rank)
      assert(n == r.getAs[Long]("n_events"), s"bucket $rank count")
      assert(mx / 1e6 == r.getAs[Double]("max_late_s") ||
        math.abs(mx / 1e6 - r.getAs[Double]("max_late_s")) < 1e-6,
        s"bucket $rank max lateness")
    }
    assert(batch.map(_.getAs[Int]("bucket_rank")).toSet ==
      streamed.keySet, "same bucket support")
  }

  test("streaming TWAP: final per-user rows equal the batch op bit-exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.table(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .orderBy(col("us"), col("event_id"))
      .collect()
      .map(r => EventStreams.TwapEvent(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3)))
    val mem = MemoryStream[EventStreams.TwapEvent]
    val q = EventStreams.twapStream(mem.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("twap_test").start()
    // split MID-USER: held intervals must close across the trigger gap
    val (a, b) = events.splitAt(events.length / 2)
    try {
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // the LAST emission per user is the converged register
    val streamed = spark.table("twap_test")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(desc("n_events"))))
      .filter(col("rk") === 1).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("span_us"),
          r.getAs[Double]("twap"))).toMap
    val batch = SparkEntry
      .queries("w_twap")(spark, sf).collect()
    assert(batch.length == streamed.size && batch.nonEmpty)
    batch.foreach { r =>
      val uid = r.getAs[Long]("user_id")
      val (n, span, tw) = streamed(uid)
      assert(n == r.getAs[Long]("n_events"), s"n_events for $uid")
      assert(span == r.getAs[Long]("span_us"), s"span for $uid")
      assert(tw == r.getAs[Double]("twap"), s"twap for $uid (bit-exact)")
    }
  }

  test("streaming transitions: accumulated ledger equals the batch pass") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.table(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
      .collect()
      .map(r => EventStreams.TransEvent(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getString(3)))
    val mem = MemoryStream[EventStreams.TransEvent]
    val q = EventStreams.transitionStream(mem.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("trans_test").start()
    val (a, b) = events.splitAt(events.length / 2)
    try {
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("trans_test")
      .groupBy(col("i"), col("j")).agg(sum(col("n")).as("nij"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("nij"))
      .toMap
    // the batch op's own transition pass (one per-user window)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("i"))
      .withColumn("j", lead(col("i"), 1).over(w))
      .filter(col("j").isNotNull)
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("nij"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("nij"))
      .toMap
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming HLL: final estimates equal the batch sketch bit-exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the SAME hash decomposition the batch op sketches
    val items = graft.operators.AnalyticsQueries.hllBase(spark, sf)
      .select(col("grp"), col("reg"), col("rnk")).collect()
      .map(r => EventStreams.HllItem(r.getString(0), r.getInt(1), r.getInt(2)))
    val mem = MemoryStream[EventStreams.HllItem]
    val q = EventStreams.hllStream(mem.toDS()).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("hll_test").start()
    // split MID-GROUP: register max must merge across the trigger gap
    val (a, b) = items.splitAt(items.length / 2)
    try {
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // last emission per group = the converged sketch
    // latest emission per group: registers only fill in, so fewest
    // zero registers wins, highest estimate breaking ties (a trigger
    // can raise a register's rank — estimate — without zeroing count);
    // rk = 1 makes the pick deterministic, not row-order luck
    val streamed = spark.table("hll_test")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("n_zero_registers"), desc("estimate"))))
      .filter(col("rk") === 1)
      .collect()
      .map { r =>
        r.getAs[String]("grp") -> (r.getAs[Double]("estimate"),
          r.getAs[Long]("n_zero_registers"))
      }.toMap
    val batch = SparkEntry
      .queries("a_hll_registers")(spark, sf).collect()
    assert(batch.length == streamed.size && batch.nonEmpty)
    batch.foreach { r =>
      val g = r.getAs[String]("grp")
      val (est, zeros) = streamed(g)
      assert(zeros == r.getAs[Long]("n_zero_registers"), s"zero regs for $g")
      assert(est == r.getAs[Double]("hll_estimate"), s"estimate for $g (bit-exact)")
    }
  }

  test("streaming count-min: final cells equal the batch sketch bit-exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the SAME md5 cell decomposition the batch op sketches with
    // (depth 4 × width 64; cell = row·64 + bucket), keyed per lang
    val items = Tables.table(spark, sf, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .select(col("lang"), posexplode(array((0 until 4).map(j =>
        pmod(conv(substring(md5(concat(lit(s"$j:"), col("term"))), 1, 15),
          16, 10).cast("long"), lit(64L))): _*)))
      .select(col("lang"), (col("pos") * 64 + col("col")).cast("int").as("cell"))
      .collect().map(r => EventStreams.CmItem(r.getString(0), r.getInt(1)))
    val mem = MemoryStream[EventStreams.CmItem]
    val q = EventStreams.countMinStream(mem.toDS()).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("cm_test").start()
    // split MID-STREAM: cells must ADD across the trigger gap
    val (a, b) = items.splitAt(items.length / 2)
    try {
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // latest emission per group = max n_items (strictly monotone)
    val streamed = spark.table("cm_test").collect()
      .groupBy(_.getAs[String]("grp"))
      .map { case (g, rows) =>
        val last = rows.maxBy(_.getAs[Long]("n_items"))
        g -> (last.getSeq[Long](1).toVector, last.getAs[Long]("n_items"))
      }
    // the batch sketch: linear cell sums over the same items
    val batch = items.groupBy(_.grp).map { case (g, is) =>
      val cells = Array.fill(256)(0L)
      is.foreach(i => cells(i.cell) += 1L)
      g -> (cells.toVector, is.length.toLong)
    }
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming growth accounting: ledger equals batch after trailing churn") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val act = Tables.table(spark, sf, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .orderBy(col("day"), col("user_id")).collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toLocalDate.toEpochDay))
    val events = act.zipWithIndex.map { case ((u, d), i) =>
      EventStreams.ActivityEvent(u, d, i.toLong)
    }
    val mem = MemoryStream[EventStreams.ActivityEvent]
    val q = EventStreams.growthStream(mem.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("growth_test").start()
    val (a, b) = events.splitAt(events.length / 2)
    try {
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("growth_test")
      .groupBy(col("epoch_day"), col("category"))
      .agg(sum(col("n")).as("n")).collect()
      .map(r => (r.getAs[Long]("epoch_day"), r.getAs[String]("category")) ->
        r.getAs[Long]("n")).toMap
    // trailing churn the stream cannot know: a user's silence after
    // their LAST observed day, charged at lastDay+1 when inside the
    // window (the batch op's nxt-IS-NULL leg)
    val byUser = act.groupBy(_._1).map { case (_, xs) => xs.map(_._2).max }
    val maxDay = act.map(_._2).max
    val trailing = byUser.toSeq.filter(_ < maxDay).groupBy(_ + 1)
      .map { case (d, xs) => d -> xs.size.toLong }
    val batch = SparkEntry
      .queries("ev_growth_accounting")(spark, sf).collect()
    assert(batch.nonEmpty)
    batch.foreach { r =>
      val d = r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay
      assert(streamed.getOrElse((d, "new"), 0L) == r.getAs[Long]("n_new"),
        s"new @ $d")
      assert(streamed.getOrElse((d, "retained"), 0L) ==
        r.getAs[Long]("n_retained"), s"retained @ $d")
      assert(streamed.getOrElse((d, "resurrected"), 0L) ==
        r.getAs[Long]("n_resurrected"), s"resurrected @ $d")
      assert(streamed.getOrElse((d, "churned"), 0L) +
        trailing.getOrElse(d, 0L) == r.getAs[Long]("n_churned"),
        s"churned @ $d")
    }
  }

  test("streaming ANN serving over the persisted IVF index equals the batch search") {
    val dir = tmpDir()
    graft.sources.AnnIndex.buildIvf(spark, sf, s"$dir/ivf")
    // query vectors arrive in three waves; maxFilesPerTrigger=1
    // forces multiple micro-batches (answers are per-query complete,
    // so the split must be invisible)
    val q = graft.sources.Tables.table(spark, sf, "embeddings")
      .filter(col("vec_id") < 10)
    q.filter(col("vec_id") % 3 === 0).write.parquet(s"$dir/src")
    q.filter(col("vec_id") % 3 === 1).write.mode("append").parquet(s"$dir/src")
    q.filter(col("vec_id") % 3 === 2).write.mode("append").parquet(s"$dir/src")
    val sq = graft.streaming.AnnStream.start(
      spark, s"$dir/src", s"$dir/ivf", s"$dir/hits")
    sq.processAllAvailable()
    sq.stop()
    val streamed = spark.read.parquet(s"$dir/hits")
      .orderBy(col("query_id"), col("rk")).collect().map(_.toSeq).toSeq
    val batch = graft.sources.AnnIndex.searchIvf(spark, s"$dir/ivf",
        graft.sources.Tables.table(spark, sf, "embeddings")
          .select(col("vec_id"),
            graft.functions.Similarity.toDoubleArr(col("embedding")).as("e"))
          .filter(col("vec_id") < 10))
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface: the reference's daily micro-batch
  * cadence (SURVEY §2.12) generalized to a file-source stream with
  * event-time tumbling windows + watermark. `Trigger.AvailableNow`
  * reproduces the reference's "process everything that arrived,
  * then stop" cron semantics exactly; the same code runs continuous
  * with a processing-time trigger on a cluster.
  */
object EventStreams {
  /** Parquet-dir schema of the events table AFTER the ns→µs
    * conversion (see graft.sources.Tables.events). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling 1-day counts/sums per event_type — the streaming twin
    * of EventQueries.evTumblingDaily (equivalence is ScalaTest-checked
    * via the memory sink). Watermark bounds state at scale.
    */
  def tumblingDailyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("day"), col("event_type"), col("n"),
        col("total_value"))

  /** Read a parquet dir as a stream and run [[tumblingDailyAgg]] into
    * a memory sink; returns the started query (caller awaits). */
  def runToMemory(spark: SparkSession, srcDir: String, queryName: String,
      outputMode: String = "complete"): StreamingQuery = {
    val stream = spark.readStream.schema(eventSchema).parquet(srcDir)
    tumblingDailyAgg(stream).writeStream
      .outputMode(outputMode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming exactly-once dedup: drop re-delivered events by key
    * within the watermark horizon. `dropDuplicatesWithinWatermark`
    * (not plain `dropDuplicates("event_id")`) is what makes state
    * bounded: plain dropDuplicates only evicts state when the
    * event-time column is part of the dedup keys, so keying on
    * event_id alone would grow state forever on an unbounded stream.
    * The WithinWatermark variant evicts each key once it ages past
    * the watermark — O(active horizon) state at 100 TB.
    */
  def dedupedEventStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(srcDir)
      .withWatermark("ts", "2 days")
      .dropDuplicatesWithinWatermark("event_id")
}

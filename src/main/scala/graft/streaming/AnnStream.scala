package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.Barrier
import graft.functions.Similarity
import graft.sources.AnnIndex

/** Streaming ANN serving — the stream-static twin of the persisted
  * IVF index (sources.AnnIndex): query vectors arrive continuously;
  * each micro-batch probes its nProbe nearest cells against the
  * STATIC index read once at start (centroids broadcast; the
  * assignments scan is cell-partition-pruned in production) and
  * appends exact-rescored top-k hits. A query's answer is complete
  * within its own micro-batch (the index is static), so there is no
  * cross-batch state at all — the same property that lets a serving
  * fleet scale this horizontally: any worker can answer any query
  * against the shared artifact. StreamingSpec pins the union of
  * per-batch answers ≡ the batch search over the same queries,
  * regardless of how the query stream is split into triggers.
  */
object AnnStream {
  val querySchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** One micro-batch: identical body to the batch serving path. */
  def searchBatch(batch: DataFrame, cents: DataFrame, assigned: DataFrame,
      k: Int, nProbe: Int): DataFrame =
    Similarity.ivfProbeSearch(cents, assigned,
      batch.select(col("vec_id"), Similarity.toDoubleArr(col("embedding")).as("e")),
      k, nProbe)

  /** Continuous serving: query-vector parquet files land in srcDir;
    * top-k hit rows append to outPath. `indexDir` is a persisted
    * AnnIndex.buildIvf artifact. */
  def start(spark: SparkSession, srcDir: String, indexDir: String,
      outPath: String, k: Int = 5, nProbe: Int = 4): StreamingQuery = {
    // read the static artifact ONCE; both frames are reused every
    // trigger (centroids are broadcast inside the search)
    val cents = spark.read.parquet(s"$indexDir/centroids").transform(Barrier.materialize)
    val assigned = spark.read.parquet(s"$indexDir/assignments")
      .select(col("vec_id"), col("e"), col("cell"))
    spark.readStream.schema(querySchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        searchBatch(batch, cents, assigned, k, nProbe)
          .write.mode("append").parquet(outPath)
        ()
      }
      .start()
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twin of the exact-substring detector
  * (operators.DedupQueries.exactSubstringOf): documents arrive
  * continuously; each micro-batch merges its L-token anchor grams
  * into a growing postings index, meets the merged index on the
  * gram key, and runs the same diagonal gaps-and-islands span
  * computation for every pair the batch completes. A pair is
  * evaluated exactly when its LATER member arrives — at that moment
  * both docs' full anchor sets are in the merged index, so the
  * emitted (span_tokens, n_anchors, n_diagonals) equal the batch
  * detector's values regardless of arrival order or batch
  * boundaries (the StreamingSpec pin: union of per-batch emissions ≡
  * the UNCAPPED batch detector). The batch operator's df-cap is a
  * whole-corpus statistic and therefore a periodic-recompute policy
  * in a stream, not a per-arrival one — the streaming twin runs
  * uncapped and documents that; production would df-cap the INDEX
  * on rebuild, same as the contamination family.
  *
  * Scale shape: per-batch work is the batch's grams joined against
  * matching postings (linear in the batch for bounded gram
  * fan-out); island windows partition by (pair, diagonal). Index
  * frames are localCheckpointed per merge so lineage stays flat.
  */
object SubstringStream {
  private val L = 10

  private def grams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= L)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ts) - $L + 1)," +
          s" i -> array_join(slice(ts, i, $L), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))

  /** Pair-level spans completed by one batch against the merged
    * index (which must already include the batch itself, so
    * within-batch pairs complete too). Canonical (doc_a < doc_b);
    * rows where both members sit in the batch arrive from both join
    * directions and collapse in the match-level distinct. */
  def flagSpans(batchGrams: DataFrame, index: DataFrame): DataFrame = {
    val m = batchGrams.alias("n").join(index.alias("o"),
        col("n.gram") === col("o.gram") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("da"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("db"),
        when(col("n.doc_id") < col("o.doc_id"), col("n.pos"))
          .otherwise(col("o.pos")).as("pa"),
        (when(col("n.doc_id") < col("o.doc_id"), col("o.pos"))
          .otherwise(col("n.pos")) -
          when(col("n.doc_id") < col("o.doc_id"), col("n.pos"))
            .otherwise(col("o.pos"))).as("diag"))
      .distinct()
    val w = Window.partitionBy(col("da"), col("db"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("da"), col("db"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("da"), col("db"))
      .agg((max(col("run")) + lit(L - 1)).cast("long").as("span_tokens"),
        sum(col("run")).cast("long").as("n_anchors"),
        countDistinct(col("diag")).cast("long").as("n_diagonals"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("span_tokens"), col("n_anchors"), col("n_diagonals"))
  }

  /** Continuous detection under a growing anchor index: parquet
    * files of documents land in srcDir; completed pair spans append
    * to outPath. */
  def start(spark: SparkSession, srcDir: String,
      outPath: String): StreamingQuery = {
    var index: DataFrame = null
    spark.readStream.schema(CorpusStream.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bg = grams(batch).localCheckpoint(eager = false)
        index = if (index == null) bg
          else index.unionAll(bg).localCheckpoint(eager = false)
        flagSpans(bg, index).write.mode("append").parquet(outPath)
        ()
      }
      .start()
  }
}

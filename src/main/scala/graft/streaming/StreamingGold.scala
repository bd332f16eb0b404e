package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.gold.Gold

/** Streaming → Gold with the honest unique_key semantics: per
  * micro-batch, `foreachBatch` runs the SAME incremental logic the
  * batch pipeline uses (watermark filter + first-writer-wins dedup +
  * anti-join against the target) and appends the survivors — i.e. the
  * reference's dbt incremental model as a continuously-running query,
  * with the dedup its `unique_key` promises but never enforces.
  *
  * foreachBatch (not a plain parquet sink) because the dedup needs to
  * read the current target state; each batch is a small batch job with
  * full access to the existing table. At scale the anti-join shuffles
  * only the target's key column.
  */
object StreamingGold {

  def startIncrementalFact(parsed: DataFrame, factPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    Gold.fctPurchases(parsed).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // attempt-the-read probe (see readFactIfExists: why nio
        // exists-checks and swallowing non-PATH_NOT_FOUND failures
        // would both append permanent duplicates here)
        val target = Gold.readFactIfExists(spark, factPath)
        Gold.incrementalRows(batch, target)
          .write.mode(SaveMode.Append)
          .partitionBy("purchase_date").parquet(factPath)
      }
      .start()

  /** Streaming → Gold as ATOMIC SNAPSHOT COMMITS: each micro-batch
    * publishes through [[Gold.mergeIncremental]] →
    * [[graft.gold.AtomicTable.mergePartitioned]] on the unique key.
    * The batch's source plan (file scan, JSON parse, watermark filter,
    * dedup window) runs once: mergeIncremental stages its deduped rows
    * and the merge reads the staged copy. When the batch's purchase
    * dates cover every date the table holds (a feed still inside its
    * first day), the merge also skips the prior-snapshot key scan,
    * which could not change that commit. Strictly stronger than the
    * append variant under failure:
    *  - a crash mid-batch leaves no torn table — readers only ever
    *    see the last committed manifest, never half a batch;
    *  - foreachBatch's at-least-once replay CONVERGES: re-merging a
    *    batch replaces its own keys instead of appending duplicates,
    *    so exactly-once lands in the table without relying on the
    *    checkpoint alone;
    *  - a concurrent batch writer (backfill job) and the stream
    *    cannot lose each other's commits (optimistic retry).
    */
  def startTransactionalFact(parsed: DataFrame, tableRoot: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    Gold.fctPurchases(parsed).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Gold.mergeIncremental(batch.sparkSession, batch, tableRoot): Unit
      }
      .start()
}

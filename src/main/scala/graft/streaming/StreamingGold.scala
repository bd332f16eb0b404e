package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.GraftFunctions
import graft.gold.Gold

/** Streaming → Gold with the honest unique_key semantics: per
  * micro-batch, `foreachBatch` runs the SAME incremental logic the
  * batch pipeline uses (watermark filter + first-writer-wins dedup on
  * the unique key when an id repeats) and commits the survivors
  * atomically — i.e. the
  * reference's dbt incremental model as a continuously-running query,
  * with the dedup its `unique_key` promises but never enforces.
  *
  * foreachBatch (not a plain parquet sink) because the merge needs the
  * current target snapshot; each batch is a small batch job with full
  * access to the committed table.
  */
object StreamingGold {

  /** Streaming → Gold as ATOMIC SNAPSHOT COMMITS: each micro-batch
    * publishes through [[Gold.mergeIncremental]] →
    * [[graft.gold.AtomicTable.mergeBatch]] on the unique key.
    * The batch's source plan (file scan, JSON parse, watermark filter)
    * runs once, into the table's own staged files, in ONE Spark job
    * whose tasks also hash each file's keys for its Bloom filter on
    * `transaction_id` and take its zone maps. Only a batch in which an
    * id repeats runs the first-writer-wins window, over its staged
    * files. A batch of new purchases (the steady state) commits as an
    * APPEND: every live file's filter rules out every batch key, so
    * the upsert could not drop a prior row, and no prior file is read
    * or rewritten; it costs that one job. A batch that may repeat a
    * stored key (a replayed file, a restart that re-runs its last
    * batch, a false positive) rewrites the files whose filters claim
    * one of its keys, and only those.
    * Under failure:
    *  - a crash mid-batch leaves no torn table — readers only ever
    *    see the last committed manifest, never half a batch;
    *  - foreachBatch's at-least-once replay CONVERGES: re-merging a
    *    batch replaces its own keys instead of appending duplicates,
    *    so exactly-once lands in the table without relying on the
    *    checkpoint alone;
    *  - a concurrent batch writer (backfill job) and the stream
    *    cannot lose each other's commits (optimistic retry).
    * The batch's `current_timestamp()` and the Gold watermark are bound
    * by reference ([[graft.functions.BoundValue]]), so a steady batch
    * compiles no new code.
    */
  def startTransactionalFact(parsed: DataFrame, tableRoot: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery = {
    // before start(): the query runs on a clone of the session
    GraftFunctions.register(parsed.sparkSession)
    Gold.fctPurchases(parsed).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Gold.mergeIncremental(batch.sparkSession, batch, tableRoot): Unit
      }
      .start()
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ext.{Chunking, TextAnalysis}
import graft.gold.AtomicTable

/** Streaming curation gate — the continuously-running face of the
  * batch curation pipeline's front half: every micro-batch of
  * documents is quality-gated ([[TextAnalysis.qualityFilter]]),
  * rejects land in a keyed drop-log with their reason, survivors are
  * context-window-chunked ([[Chunking.tokenChunks]]) and merged into
  * the chunk store ready for tokenization/indexing.
  *
  * Both writes are ATOMIC GROUP-REPLACEMENT MERGES
  * ([[AtomicTable.replaceGroups]]) keyed on doc_id over the batch's
  * FULL doc set, so foreachBatch's at-least-once replay CONVERGES —
  * and not just for byte-identical replays: a doc re-ingested with
  * shorter text sheds its stale higher chunk_id rows (the whole chunk
  * set is replaced, not upserted row-by-row), a doc that flips from
  * keep to drop loses all its chunks and gains a drop-log row, and a
  * doc that flips from drop to keep loses its stale drop-log row —
  * the stores always reflect the LATEST observation of every doc the
  * batch touched.
  *
  * Scale note: the gate and the chunker are both map-side column
  * expressions, so per-batch cost is one pass over the batch plus the
  * group replacement, which rewrites only the store files whose
  * doc_id filters claim a batch doc (as in [[StreamingDedup]]): a
  * batch of new docs commits as an append.
  */
object StreamingCuration {

  /** Batch twin (directly testable; the streaming query below runs
    * exactly this per micro-batch). Expects (doc_id, text) rows.
    */
  def processBatch(batch: DataFrame, chunksRoot: String, dropsRoot: String,
      window: Int = 128, stride: Int = 96): Unit = {
    val spark = batch.sparkSession
    // one row per doc_id first ([[StreamingDedup.onePerDoc]] — the
    // shared winner policy; replaceGroups would commit duplicated
    // chunk rows as-is).
    // persisted: the drop-log merge and the chunk merge are separate
    // actions — without this each re-scans the source and re-runs the
    // quality gate (batch-scale cache, freed before return)
    val gated = StreamingDedup.onePerDoc(batch)
      .select(col("doc_id"), col("text"),
        TextAnalysis.qualityFilter(col("text")).as("gate"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // replace-by-doc over the batch's FULL doc set on BOTH stores:
      // the delete side must cover docs with no new rows in that store
      // (a keep→drop flip deletes chunks; drop→keep deletes the old
      // drop-log row), which is exactly what a row-keyed merge can't do.
      // Collected once into a local frame: both calls take it as their
      // delete set, and each call's collect of it runs no job
      val batchDocs = {
        val ids = gated.select(col("doc_id"))
        spark.createDataFrame(java.util.Arrays.asList(ids.collect(): _*), ids.schema)
      }
      val drops = gated.filter(col("gate") =!= "keep")
        .select(col("doc_id"), col("gate").as("drop_reason"))
      AtomicTable.replaceGroups(spark, drops, dropsRoot,
        "doc_id", batchDocs): Unit
      val chunks = Chunking.tokenChunks(
          gated.filter(col("gate") === "keep"), "doc_id", "text",
          window, stride)
        .withColumn("chunk_key", concat_ws(":", col("doc_id"), col("chunk_id")))
      AtomicTable.replaceGroups(spark, chunks, chunksRoot,
        "doc_id", batchDocs): Unit
    } finally gated.unpersist(): Unit
  }

  /** Start the gate over a streaming (doc_id, text) source. */
  def start(docs: DataFrame, chunksRoot: String, dropsRoot: String,
      checkpoint: String, window: Int = 128, stride: Int = 96,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, chunksRoot, dropsRoot, window, stride)
      }
      .start()
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ext.Dedup
import graft.gold.AtomicTable

/** Streaming near-duplicate gate — the continuously-running face of
  * the corpus-curation dedup ([[graft.ext.Dedup.incrementalDupPairs]]):
  * every micro-batch of documents
  *
  *  1. near-dup-checks against the ACCUMULATED corpus through its
  *     persisted LSH band index (history is never rescanned — only its
  *     band keys join, and its text is fetched for candidate ids);
  *  2. records the verified (new_id, old_id, jaccard_sim) pairs;
  *  3. admits its own docs and band keys into the corpus/index tables.
  *
  * All three writes are ATOMIC KEYED MERGES into [[AtomicTable]]s, so
  * foreachBatch's at-least-once replay CONVERGES: re-processing a
  * batch replaces its own keys instead of appending duplicates, and
  * the self/intra-batch matches a replay would see (its docs are
  * already indexed after a crash-after-commit) are excluded by an
  * anti-join on the batch's own ids — the pair report is identical on
  * first run and on replay.
  *
  * Scale note: [[AtomicTable.merge]] stages each batch once as the
  * table's own files with a per-file key filter, and rewrites only the
  * prior files whose filters claim a batch key (a re-ingested doc's
  * old file): a batch of new docs commits as an append, so the cost
  * per batch follows the batch, not the ever-growing corpus.
  */
object StreamingDedup {

  /** Intra-batch survivor policy shared by the streaming document
    * gates (this one and [[StreamingCuration]]): one row per doc_id,
    * min(text) winner. An at-least-once source can redeliver a doc
    * WITHIN one batch, and the downstream keyed merges/group
    * replacements would commit the duplicate-key rows as-is; min(text)
    * makes the winner deterministic under differing payloads. Single-
    * sourced so the two gates' replay-convergence behavior cannot
    * silently diverge if the policy changes (e.g. to latest-by-
    * timestamp).
    */
  private[streaming] def onePerDoc(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"), col("text"))
      .groupBy(col("doc_id")).agg(min(col("text")).as("text"))

  /** Batch twin (directly testable; the streaming query below runs
    * exactly this per micro-batch). Expects (doc_id, text) rows.
    */
  def processBatch(batch: DataFrame, corpusRoot: String, indexRoot: String,
      pairsRoot: String, threshold: Double = 0.5): Unit = {
    val spark = batch.sparkSession
    // SCOPED staging (Staging.scope): the batch, its
    // band index, and the pair search's internal candidate frame are
    // staged per micro-batch for the stream's lifetime — through the
    // default JVM-exit stager they would leak one temp dir per batch.
    // Everything staged is fully consumed by the merges inside the
    // scope, so the staging is reclaimed at batch end.
    graft.Staging.scope { stager =>
      // one row per doc_id ([[onePerDoc]] — the shared winner policy).
      // Staged: consumed by the pair search, both merges, and the
      // replay anti-join.
      val b = stager(onePerDoc(batch), "sd-batch")
      // band index computed ONCE per batch (signatures are the gate's
      // dominant cost): the same staged frame feeds the pair search
      // (via newIndex) and the index-table merge below
      val bBands = stager(
        Dedup.lshBandIndex(b, "doc_id", "text"), "sd-bands")
      if (AtomicTable.latestVersion(indexRoot).isDefined) {
        val index = AtomicTable.read(spark, indexRoot)
          .select(col("doc_id"), col("band_id"), col("band_hash"))
        val corpus = AtomicTable.read(spark, corpusRoot)
        val pairs = Dedup.incrementalDupPairs(b, corpus, "doc_id", "text",
            threshold = threshold, existingIndex = Some(index),
            newIndex = Some(bBands), stager = stager)
          // replay safety: after a crash-after-commit the index already
          // holds this batch's own docs — self matches are not history
          // duplicates (intra-batch dedup is minhashDupPairs upstream)
          .join(b.select(col("doc_id").as("old_id")), Seq("old_id"), "left_anti")
          .withColumn("pair_key", concat_ws(":", col("new_id"), col("old_id")))
        AtomicTable.merge(spark, pairs, pairsRoot, "pair_key"): Unit
      }
      AtomicTable.merge(spark, b, corpusRoot, "doc_id"): Unit
      AtomicTable.merge(spark,
        bBands
          .withColumn("row_key", concat_ws(":", col("doc_id"), col("band_id"))),
        indexRoot, "row_key"): Unit
    }
  }

  /** Start the gate over a streaming (doc_id, text) source. */
  def start(docs: DataFrame, corpusRoot: String, indexRoot: String,
      pairsRoot: String, checkpoint: String, threshold: Double = 0.5,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, corpusRoot, indexRoot, pairsRoot, threshold)
      }
      .start()
}

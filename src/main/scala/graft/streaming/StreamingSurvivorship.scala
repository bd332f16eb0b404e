package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.gold.AtomicTable

/** Streaming survivorship keeper — q153's source-priority dedup at
  * INGEST time: the keeper table always holds, per content
  * fingerprint, the single best copy seen so far, where "best" is
  * (priority asc, doc_id asc) and priority is supplied by the caller
  * (source trust ranking). A later-arriving better copy DISPLACES the
  * keeper; a later-arriving worse copy (or a pure replay) is absorbed
  * WITHOUT committing a new version — state is version-stable, not
  * just value-stable.
  *
  * Convergence under at-least-once replay: the winner computation is
  * a pure min over (existing keeper ∪ batch) per fingerprint, so
  * re-processing any batch recomputes the same winners and the keyed
  * merge replaces rows with identical content — state is a
  * fixed point of replay, matching the replay-convergence contract of
  * the other streaming gates ([[StreamingDedup]],
  * [[StreamingCuration]]).
  *
  * Scale: the merge only touches fingerprints PRESENT IN THE BATCH
  * (semi-join fetch of current keepers, batch-sized), never the full
  * keeper table, and [[AtomicTable.merge]] rewrites only the keeper
  * files whose key filters claim a displaced fingerprint: a batch
  * costs the files it touches, not the table.
  */
object StreamingSurvivorship {

  /** Batch twin (the streaming query runs exactly this per
    * micro-batch). Expects (doc_id, source, priority, text) rows;
    * fingerprint = md5 of the sorted distinct token set (q153's key).
    */
  def processBatch(batch: DataFrame, keeperRoot: String): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("source"),
        col("priority").cast("long").as("priority"), col("text"))
      .withColumn("fp", md5(concat_ws(" ", array_sort(array_distinct(
        split(trim(lower(col("text"))), "\\s+"))))))
    // intra-batch winner first (cheap; bounds the merge input)
    val batchBest = bestPerFp(b)
    if (AtomicTable.latestVersion(keeperRoot).isDefined) {
      // fetch ONLY the keepers whose fingerprints the batch touches
      val current = AtomicTable.read(spark, keeperRoot)
        .join(batchBest.select(col("fp")).distinct(), Seq("fp"), "left_semi")
      val merged = bestPerFp(current.unionByName(batchBest))
      // version-stable absorption: only DISPLACED keepers write — a
      // batch of all-worse copies (or a pure replay) stages no row,
      // and the merge commits nothing for a rowless source. The merge
      // stages the delta once, so what it tests for rows is what it
      // commits
      AtomicTable.merge(spark, merged.select(current.columns.map(col).toSeq: _*)
        .exceptAll(current), keeperRoot, "fp"): Unit
    } else AtomicTable.merge(spark, batchBest, keeperRoot, "fp"): Unit
  }

  private def bestPerFp(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the order must be TOTAL over the row content: two rows can share
    // (fp, priority, doc_id) while differing in source/text (same
    // normalized token set — e.g. a replayed doc with changed
    // whitespace), and a row_number tie there would pick a
    // nondeterministic winner, breaking the replay-fixed-point
    // guarantee (the exceptAll delta would flip between runs and
    // commit a new version per replay)
    // nulls LAST: a dirty row whose priority was missing/unparseable
    // (cast("long") nulled it) must never displace a genuine keeper —
    // default ascending puts NULL first, which would crown the dirty
    // copy permanently for its fingerprint
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("priority").asc_nulls_last, col("doc_id"),
        col("source"), col("text"))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Wire the batch twin into a Structured Streaming sink. */
  def run(stream: DataFrame, keeperRoot: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, _: Long) =>
        processBatch(batch, keeperRoot))
      .trigger(trigger)
      .start()
}

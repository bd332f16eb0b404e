package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming face of the Silver pipeline — the engine twin
  * of `pipeline/spark/streaming_consumer.py` with the format/broker
  * specifics behind a source seam (SURVEY.md §2.1 S1, §2.9).
  */
object StreamingSilver {

  /** Source seam: every variant yields a streaming DataFrame with a
    * `value` column carrying the JSON envelope.
    */
  object Sources {
    /** File-drop source for offline/local runs and tests. */
    def fileJsonLines(spark: SparkSession, dir: String): DataFrame =
      spark.readStream.text(dir) // text() already yields the `value` column

    /** Kafka source with the reference's options
      * (`streaming_consumer.py:55-66`); needs the kafka connector jar
      * at deploy time — a config concern, not a semantic one.
      */
    def kafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("failOnDataLoss", "false")
        .load()
  }

  /** Streaming Silver sink: append mode, partitioned by product_id,
    * checkpointed — `streaming_consumer.py:81-88` with parquet in
    * place of Delta (table format is a deployment knob). Tests pass
    * `Trigger.AvailableNow` instead of the reference's 1-minute
    * processing-time trigger + wall-clock awaitTermination (the
    * anti-pattern SURVEY.md §7.4 flags).
    */
  def startSilverSink(parsed: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    parsed.writeStream
      .format("parquet")
      .outputMode("append")
      .partitionBy("product_id")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .option("path", path)
      .start()

  /** Dead-letter fan-out: quarantined envelopes (see
    * `Silver.parseWithQuarantine`) land in their own checkpointed
    * parquet sink — a separate concurrent query over the same source,
    * so poison messages neither block nor silently vanish from the
    * main Silver flow. Pair with `startSilverSink` on the valid side.
    */
  def startQuarantineSink(quarantined: DataFrame, path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    quarantined.writeStream
      .format("parquet")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .option("path", path)
      .start()

  /** Console fan-out (second concurrent query on the same parsed
    * stream, `streaming_consumer.py:75-78`).
    */
  def startConsoleSink(parsed: DataFrame): StreamingQuery =
    parsed.writeStream.format("console").option("truncate", value = false)
      .start()

  /** Stream-stream interval join: each purchase matched to restock
    * events for the same product within the trailing `tolerance`. Both
    * sides carry watermarks so Spark can bound the join state — the
    * canonical "enrich a stream with a correlated stream" shape (the
    * reference publishes both topics but never joins them;
    * SURVEY.md §2.7 makes the join first-class).
    */
  def purchasesWithRecentRestocks(purchases: DataFrame, restocks: DataFrame,
      tolerance: String = "10 minutes", watermark: String = "1 hour"): DataFrame = {
    val p = purchases.withWatermark("transaction_time", watermark)
    val r = restocks.withWatermark("event_time", watermark)
      .withColumnRenamed("product_id", "r_product_id")
    p.join(r,
      col("product_id") === col("r_product_id")
        && col("event_time") >= col("transaction_time") - expr(s"INTERVAL $tolerance")
        && col("event_time") <= col("transaction_time"))
      .select(col("transaction_id"), col("product_id"),
        col("transaction_time"), col("event_time").as("restock_time"),
        col("new_level"))
  }

  /** Kafka producer envelope (K7, `producer.py:187-193`): every column
    * JSON-serialized into a single `value` string. Batch or streaming;
    * `.writeStream.format("kafka")` (plus broker options) publishes it
    * when the connector jar is present — in-engine tests round-trip it
    * through `Silver.parsePurchases` instead.
    */
  def toKafkaEnvelope(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** Streaming dedup on the declared unique key with a watermark-bound
    * state (the honest streaming face of the reference's unenforced
    * `unique_key`, SURVEY.md §2.8): duplicates arriving within the
    * watermark horizon are dropped exactly once.
    *
    * `dropDuplicatesWithinWatermark`, not plain `dropDuplicates`: the
    * key is `transaction_id` ALONE — the fact writer
    * ([[graft.gold.Gold.mergeIncremental]]) keeps one row per
    * transaction_id (first writer wins when an id repeats in a batch,
    * the newer batch across batches), and a producer retry that re-emits an id with a regenerated
    * timestamp must still be a duplicate here. Plain dropDuplicates
    * would need the event-time column inside the key to bound its
    * state, silently widening the key to (id, time).
    */
  def dedupedStream(parsed: DataFrame, watermark: String = "1 hour"): DataFrame =
    parsed
      .withWatermark("transaction_time", watermark)
      .dropDuplicatesWithinWatermark("transaction_id")

  /** Streaming twin of the daily rollup: 1-day tumbling window on
    * event time with a watermark (the reference computes this rollup
    * offline as a batch GROUP BY — SURVEY.md §2.9). Emits one row per
    * closed window in append mode.
    */
  def dailySalesWindowed(parsed: DataFrame, watermark: String = "1 day"): DataFrame =
    parsed
      .withColumn("final_amount",
        graft.model.Money.goldFinalAmountCol(col("price"), col("quantity"),
          col("member_discount"), col("supplement_price")))
      .withWatermark("transaction_time", watermark)
      .groupBy(window(col("transaction_time"), "1 day").as("purchase_window"))
      .agg(
        sum(col("final_amount")).as("daily_total_sales"),
        count(col("transaction_id")).as("daily_transaction_count"))
      .select(to_date(col("purchase_window.start")).as("purchase_date"),
        col("daily_total_sales"), col("daily_transaction_count"))
}

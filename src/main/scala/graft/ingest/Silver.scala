package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** The Silver ingest transform — the parse→flatten→stamp pipeline of
  * `pipeline/spark/streaming_consumer.py:69-72`, as a pure
  * `DataFrame => DataFrame` usable identically in batch and
  * Structured Streaming (the reference's is streaming-only).
  */
object Silver {

  /** `value` (binary or string Kafka envelope) → typed purchase rows.
    * from_json is permissive: nonconforming JSON → NULL columns, like
    * the reference's "schema enforcement" (SURVEY.md §1.3). The
    * ingestion stamp is injectable so tests are deterministic; the
    * default matches `current_timestamp()` (streaming_consumer.py:72).
    *
    * Stamp resolution contract (differs from [[parseWithQuarantine]]):
    * here the stamp column resolves AFTER `data.*` is flattened, so an
    * injectable expression references flat names (`col("transaction_
    * time")`); in parseWithQuarantine the `data` struct still exists
    * at stamp time (the DLQ side needs it), so the same expression is
    * written `col("data.transaction_time")`. Passing one form to the
    * other function fails analysis with an unresolved column.
    */
  def parsePurchases(raw: DataFrame,
      ingestionTs: Column = current_timestamp()): DataFrame =
    raw
      .select(col("value").cast("string").as("json_str"))
      .withColumn("data", from_json(col("json_str"), Schemas.purchase))
      .select(col("data.*"))
      .withColumn("ingestion_timestamp", ingestionTs)

  /** Dead-letter split: same parse, but malformed envelopes — rows
    * from_json could not type at all, AND rows that parsed but are
    * missing any required purchase field (a partially-malformed
    * envelope would otherwise flow on as null columns and silently
    * corrupt the money formulas downstream) — are routed to a
    * quarantine DataFrame carrying the RAW payload + failure stamp
    * (what the reference's permissive read never does, SURVEY.md
    * §1.3). Both sides derive from one shared parse PROJECTION — but
    * they are two lazy DataFrames: a caller that consumes them in two
    * separate actions re-executes the scan+parse per action, and over
    * an unstable source (a Kafka batch read with endingOffsets=latest)
    * the two actions can even resolve different offset ranges, making
    * the valid/DLQ split inconsistent. Callers needing one consistent
    * snapshot stage the RAW feed first (`graft.Staging.checkpoint`
    * before the split), consume both sides inside one foreachBatch
    * (the streaming gate does), or build the feed on the driver (the
    * Pipeline's generated envelopes are one snapshot already).
    * Returns (valid typed rows, quarantine rows).
    */
  def parseWithQuarantine(raw: DataFrame,
      ingestionTs: Column = current_timestamp()): (DataFrame, DataFrame) = {
    val parsed = raw
      .select(col("value").cast("string").as("json_str"))
      .withColumn("data", from_json(col("json_str"), Schemas.purchase))
      .withColumn("ingestion_timestamp", ingestionTs)
    // every purchase field is load-bearing (fact money formula,
    // partition key, watermark), so "valid" = the WHOLE row typed —
    // derived from the schema, not a hand-kept list
    val complete = Schemas.purchase.fieldNames
      .map(f => col(s"data.$f").isNotNull)
      .reduce(_ && _)
    val valid = parsed
      .filter(complete)
      .select(col("data.*"), col("ingestion_timestamp"))
    val quarantined = parsed
      .filter(!complete)
      .select(col("json_str").as("raw_payload"),
        when(col("data").isNull || col("data.transaction_id").isNull,
          lit("unparseable_or_missing_key"))
          .otherwise(lit("missing_required_field")).as("reason"),
        col("ingestion_timestamp").as("quarantined_at"))
    (valid, quarantined)
  }

  /** Batch Silver write: append-only, partitioned by product_id like
    * the Delta sink (`streaming_consumer.py:81-88`). Partitioning by
    * the low-cardinality dimension key keeps per-product scans pruned;
    * at 100 TB the same layout holds (26 dirs × date-sized files) —
    * time-based sub-bucketing would be the next knob, not a rewrite.
    *
    * The pre-write repartition on the partition column is the
    * small-file guard (the reference reaches for Iceberg's
    * `fanout-enabled` for the same reason, `delta_to_iceberg.py:50`):
    * without it every task writes a file into every partition dir —
    * tasks × partitions files per batch.
    */
  def writeSilver(df: DataFrame, path: String): Unit =
    df.repartition(col("product_id"))
      .write.mode("append").partitionBy("product_id").parquet(path)

  /** Schema-explicit Silver read: the layout is known (purchase
    * fields + ingestion stamp; product_id doubles as the partition
    * dir), so inference is both wasted footer I/O at scale and a
    * crash on the legitimate empty table (a run whose rows were all
    * quarantined writes only _SUCCESS — UNABLE_TO_INFER_SCHEMA).
    */
  def readSilver(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      Schemas.purchase.fields :+
        org.apache.spark.sql.types.StructField("ingestion_timestamp",
          org.apache.spark.sql.types.TimestampType))
    spark.read.schema(schema).parquet(path)
  }

  /** Schema of the quarantine DLQ rows [[parseWithQuarantine]] emits. */
  val quarantineSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("raw_payload",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("reason",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("quarantined_at",
        org.apache.spark.sql.types.TimestampType)))

  /** Schema-explicit DLQ reader — the [[readSilver]] twin for the
    * quarantine store. A healthy run appends an EMPTY frame (the
    * single-job write-plus-Observation count), leaving parquet dirs
    * with no data footers; inference-based reads fail on those, an
    * explicit schema does not.
    */
  def readQuarantine(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.schema(quarantineSchema).parquet(path)
}

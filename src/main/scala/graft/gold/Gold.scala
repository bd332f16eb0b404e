package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gold-layer semantics: Silver→Gold promotion
  * (`pipeline/spark/delta_to_iceberg.py:23-52`) and the fct_purchases
  * incremental fact build
  * (`pipeline/dbt/.../models/gold/fct_purchases.sql`).
  */
object Gold {

  /** Silver → Gold promotion: stamp the partition key
    * (`delta_to_iceberg.py:33`). */
  def promote(silver: DataFrame): DataFrame =
    silver.withColumn("purchase_date", to_date(col("transaction_time")))

  /** HOW a Gold catalog table commits. [[TableFormat.Atomic]] is the
    * default: it carries the reference's Iceberg guarantee
    * (`delta_to_iceberg.py:43-52` — Gold is ALWAYS transactional) to
    * every create-or-append, not just the MERGE path.
    * [[TableFormat.CatalogParquet]] is the plain v1 `saveAsTable`
    * listing table, kept for interop with engines that expect a
    * vanilla parquet table and accept its non-atomic listing reads.
    */
  sealed trait TableFormat
  object TableFormat {
    case object Atomic extends TableFormat
    case object CatalogParquet extends TableFormat
  }

  /** Create-or-append a partitioned catalog table — the
    * `tableExists`-guarded Iceberg write of `delta_to_iceberg.py:36-52`.
    *
    * [[TableFormat.Atomic]] (default) re-expresses Iceberg's commit
    * model on the offline v1 catalog: files stage invisibly and
    * commit by manifest swap ([[AtomicTable.appendPartitioned]] —
    * optimistic, racing writers both survive), then the catalog name
    * is repointed (`CREATE OR REPLACE VIEW`) at a hard-linked
    * Hive-layout export of the committed snapshot
    * ([[AtomicTable.exportSnapshot]]). The catalog entry is thus a
    * METADATA POINTER, exactly Iceberg's table concept: readers
    * resolve the name to one immutable snapshot directory and never
    * see partial writes; old exports stay readable (time travel)
    * until vacuumed. The pointer publish re-checks the manifest head
    * and republishes until stable, so concurrent writers converge on
    * the newest version regardless of swap order. Against a real v2
    * catalog (Iceberg/Delta at deploy time) the same seam swaps to
    * `writeTo(table).partitionedBy(...).create()` / `.append()`.
    *
    * The v1 session catalog rejects `DataFrameWriterV2.append()`
    * ("Cannot write into v1 table"), so [[TableFormat.CatalogParquet]]
    * goes through the by-name `saveAsTable` path in both branches.
    */
  def writeTable(spark: SparkSession, df: DataFrame, table: String,
      partitionCol: String,
      format: TableFormat = TableFormat.Atomic): Unit = {
    // fail FAST when the catalog name is already bound to the OTHER
    // format's object: Atomic publishes via CREATE OR REPLACE VIEW
    // (throws on a real table AFTER the data committed — leaving the
    // batch committed-but-unpublished in the _graft_atomic root), and
    // CatalogParquet's saveAsTable throws on a view. One name, one
    // format, for the table's lifetime.
    def isView: Boolean = spark.catalog.tableExists(table) &&
      spark.catalog.getTable(table).tableType == "VIEW"
    format match {
      case TableFormat.CatalogParquet =>
        require(!isView,
          s"writeTable: '$table' is an Atomic snapshot-pointer view; " +
            "write it with TableFormat.Atomic")
        if (spark.catalog.tableExists(table))
          df.write.mode("append").format("parquet").partitionBy(partitionCol)
            .saveAsTable(table)
        else df.write.format("parquet").partitionBy(partitionCol)
          .saveAsTable(table)
      case TableFormat.Atomic =>
        require(!spark.catalog.tableExists(table) || isView,
          s"writeTable: '$table' is a catalog parquet table; " +
            "write it with TableFormat.CatalogParquet")
        val root = atomicRoot(spark, table)
        val v = AtomicTable.appendPartitioned(spark, df, root, partitionCol)
        if (v >= 0) publishPointer(spark, table, root)
    }
  }

  /** Filesystem root backing an Atomic catalog table: under the
    * session warehouse dir, database dots → path segments.
    */
  def atomicRoot(spark: SparkSession, table: String): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    s"$wh/_graft_atomic/${table.replace('.', '/')}"
  }

  /** Point `table` at the newest committed snapshot of `root`,
    * looping until the pointer matches the manifest head (a
    * concurrent writer may commit between our read and our swap; the
    * last loop iteration to run publishes the newest version, and
    * every version it could transiently publish is a real committed
    * snapshot — never partial data). JVM-synchronized because the
    * in-memory v1 catalog's REPLACE VIEW is not a CAS; a real
    * metastore's conditional swap replaces the lock at deploy time.
    */
  private def publishPointer(spark: SparkSession, table: String,
      root: String): Unit = Gold.synchronized {
    var published = -1
    var stable = false
    while (!stable) {
      val latest = AtomicTable.latestVersion(root).getOrElse(return)
      if (latest == published) stable = true
      else {
        val snap = AtomicTable.exportSnapshot(root, latest)
        // the export is one immutable Hive-layout dir; partition
        // discovery restores the partition column (typed) and the
        // view pins the schema as of this commit
        spark.sql(
          s"CREATE OR REPLACE VIEW $table AS SELECT * FROM parquet.`$snap`")
        published = latest
      }
    }
  }

  /** The fct_purchases transformation (`fct_purchases.sql:10-47`):
    * CTE pipeline as plain projections — Catalyst inlines them.
    * final_amount = price·qty·(1−discount) + supplement (supplement
    * once per transaction, post-discount — the canonical formula;
    * see Money.goldFinalAmount for the producer's conflicting one).
    */
  def fctPurchases(purchases: DataFrame): DataFrame =
    purchases
      .withColumn("final_amount",
        graft.model.Money.goldFinalAmountCol(col("price"), col("quantity"),
          col("member_discount"), col("supplement_price")))
      .withColumn("purchase_date", to_date(col("transaction_time")))
      .select(
        col("transaction_id").cast("string").as("transaction_id"),
        col("product_id"), col("purchase_date"), col("final_amount"),
        col("is_member"), col("ingestion_timestamp"))

  /** Schema-explicit fact read (layout = [[graft.model.FactPurchase]]
    * with purchase_date as the partition dir): no footer-inference
    * I/O, and a legitimately-empty fact table (first run appended
    * zero rows — only _SUCCESS on disk) reads as an empty frame
    * instead of UNABLE_TO_INFER_SCHEMA.
    */
  def readFact(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.Encoders.product[graft.model.FactPurchase].schema)
      .parquet(path)

  /** [[readFact]], or None when the path does not exist yet — the
    * "no target table on the first run" probe shared by the batch
    * pipeline's fact step and [[graft.streaming.StreamingGold]].
    * Probes by ATTEMPTING the read, not java.nio Files.exists: the nio
    * check consults the driver-local filesystem (always false for an
    * HDFS/S3 path — dedup silently skipped, duplicates appended). The
    * read is schema-explicit, so a dir with zero committed footers (a
    * crash during the first batch, or a first run that appended zero
    * rows leaving only _SUCCESS) reads as an EMPTY target, not None;
    * ONLY "path missing" means "no table yet" — any other failure
    * (transient storage fault, permissions, corrupt footer) must
    * propagate and fail the caller, because running with target=None
    * silently disables the watermark filter and the anti-join dedup
    * and appends already-committed keys as permanent duplicates.
    */
  def readFactIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(readFact(spark, path))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("PATH_NOT_FOUND")) =>
        None
    }

  /** First-writer-wins in-batch dedup on the declared unique key —
    * the ONE definition both incremental paths use: a tiebreak or
    * watermark change applied to append-dedup must not silently
    * diverge from merge-dedup (they must pick the same winners).
    */
  private def firstWriterWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("transaction_id"))
      .orderBy(col("ingestion_timestamp"), col("product_id"),
        col("final_amount"))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** K5 as a transactional MERGE: watermark-filter + in-batch dedup
    * (same semantics as [[incrementalRows]]), then publish via
    * [[AtomicTable.mergePartitioned]] on `transaction_id` — the
    * `unique_key` the reference declares but never enforces
    * (`fct_purchases.sql:5-7`) becomes a real upsert guarantee with an
    * atomic snapshot commit:
    * re-running a batch (retry, backfill, crash replay) replaces
    * matched facts instead of duplicating them, and readers only ever
    * see complete snapshots. The deduped batch is evaluated once,
    * into a staged parquet dir the merge reads and drops. Returns the
    * committed version.
    */
  def mergeIncremental(spark: SparkSession, source: DataFrame,
      tableRoot: String): Int = {
    val exists = AtomicTable.latestVersion(tableRoot).isDefined
    // high-watermark from manifest zone-map stats when available —
    // O(manifest) instead of scanning the fact table; falls back to
    // the aggregate scan on stats-less tables
    val fresh =
      if (!exists) source
      else {
        // the manifest stat string is rendered in the SESSION timezone
        // (UTC) — parse it back with to_timestamp, which also uses the
        // session timezone. java.sql.Timestamp.valueOf would parse in
        // the JVM-default zone and shift the watermark by the offset
        // on a non-UTC host (silently dropping fresh rows).
        val wmCol: Option[org.apache.spark.sql.Column] =
          AtomicTable.statsBounds(tableRoot, "ingestion_timestamp")
            .map(b => to_timestamp(lit(b._2)))
            .orElse(Option(AtomicTable.read(spark, tableRoot)
              .agg(max(col("ingestion_timestamp"))).head().getTimestamp(0))
              .map(lit(_)))
        wmCol match {
          case Some(w) => source.filter(col("ingestion_timestamp") >= w)
          case None => source
        }
      }
    // ONE evaluation of the batch: mergePartitioned reads its source
    // several times (partition distinct, key distinct, rewrite), and
    // each read of a lazy frame would rerun the source scan, the
    // watermark filter and the dedup window. Staging writes the
    // deduped rows once; every later read is of that small parquet
    // dir, which is deleted when the merge returns.
    //
    // An empty batch (idle trigger, fully-late data) commits nothing:
    // mergePartitioned's empty-source guard returns
    // latestVersion.getOrElse(-1).
    //
    // Partition-pruned: an incremental batch touches a handful of
    // purchase dates — only those partitions rewrite; the rest of the
    // fact table's files carry over untouched. Stats on the ingestion
    // stamp keep the NEXT run's watermark manifest-served.
    graft.Staging.checkpointScoped(firstWriterWins(fresh), "gold-batch") { batch =>
      AtomicTable.mergePartitioned(spark, batch, tableRoot,
        "transaction_id", "purchase_date",
        statsCol = Some("ingestion_timestamp"))
    }
  }

  /** Incremental append with HONEST unique_key semantics. The
    * reference declares `unique_key='transaction_id'` but its append
    * strategy never enforces it (`fct_purchases.sql:5-7`), and its ids
    * collide by construction (hash of a second-resolution timestamp,
    * `producer.py:127,146`). Here:
    *  1. high-watermark filter on the target's max ingestion_timestamp
    *     (`fct_purchases.sql:24-27`) — computed as a scalar aggregate,
    *     the same single-row exchange Catalyst plans for the SQL
    *     scalar subquery;
    *  2. first-writer-wins within the batch (row_number over the
    *     unique key, deterministic tiebreak);
    *  3. left-anti join against target keys — at scale this shuffles
    *     only the (narrow) key column of the target.
    * Returns the rows to append.
    */
  def incrementalRows(source: DataFrame, target: Option[DataFrame]): DataFrame = {
    val fresh = target match {
      case Some(t) =>
        val wm = t.agg(max(col("ingestion_timestamp"))).head().getTimestamp(0)
        // >= not >: rows legitimately SHARING the boundary stamp (one
        // micro-batch's current_timestamp split across file-source
        // triggers) must survive the watermark — the anti-join below
        // removes true duplicates, so inclusive is strictly safe and
        // strict would lose boundary rows forever (mergeIncremental
        // uses the same inclusive bound)
        if (wm == null) source
        else source.filter(col("ingestion_timestamp") >= lit(wm))
      case None => source
    }
    val deduped = firstWriterWins(fresh)
    target match {
      case Some(t) =>
        deduped.join(t.select(col("transaction_id")), Seq("transaction_id"),
          "left_anti")
      case None => deduped
    }
  }
}

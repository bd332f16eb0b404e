package graft.gold

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.functions.{BoundValue, GraftFunctions}

/** Gold-layer semantics: atomic catalog tables
  * (`pipeline/spark/delta_to_iceberg.py:23-52`) and the fct_purchases
  * incremental fact build
  * (`pipeline/dbt/.../models/gold/fct_purchases.sql`). The fact table
  * is one [[AtomicTable]] keyed on `transaction_id`, and
  * [[mergeIncremental]] is its one writer: the batch pipeline's fact
  * step and the streaming micro-batch both go through it.
  */
object Gold {

  /** Create-or-append a partitioned catalog table — the
    * `tableExists`-guarded Iceberg write of `delta_to_iceberg.py:36-52`,
    * carrying the reference's guarantee (Gold is ALWAYS transactional)
    * to every create-or-append, not just the MERGE path.
    *
    * Iceberg's commit model re-expressed on the offline v1 catalog:
    * files stage invisibly and commit by manifest swap
    * ([[AtomicTable.appendPartitioned]] — optimistic, racing writers
    * both survive), then the catalog name is repointed (`CREATE OR
    * REPLACE VIEW`) at a hard-linked Hive-layout export of the
    * committed snapshot ([[AtomicTable.exportSnapshot]]). The catalog
    * entry is thus a METADATA POINTER, exactly Iceberg's table
    * concept: readers resolve the name to one immutable snapshot
    * directory and never see partial writes; old exports stay
    * readable (time travel) until vacuumed. The pointer publish
    * re-checks the manifest head and republishes until stable, so
    * concurrent writers converge on the newest version regardless of
    * swap order. Against a real v2 catalog (Iceberg/Delta at deploy
    * time) the same seam swaps to
    * `writeTo(table).partitionedBy(...).create()` / `.append()`.
    */
  def writeTable(spark: SparkSession, df: DataFrame, table: String,
      partitionCol: String): Unit = {
    // fail FAST when the catalog name is already bound to a real
    // table: the pointer publish is CREATE OR REPLACE VIEW, which
    // throws on a table only AFTER the data committed — leaving the
    // batch committed-but-unpublished in the _graft_atomic root
    require(!spark.catalog.tableExists(table) ||
        spark.catalog.getTable(table).tableType == "VIEW",
      s"writeTable: '$table' is a catalog table, not an atomic " +
        "snapshot-pointer view; write it under another name")
    val root = atomicRoot(spark, table)
    val v = AtomicTable.appendPartitioned(spark, df, root, partitionCol)
    if (v >= 0) publishPointer(spark, table, root)
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

  /** The fact table's latest snapshot in [[graft.model.FactPurchase]]
    * column order, or an empty frame with that schema when no version
    * is committed yet (a first run whose batch was empty). A plain
    * parquet dir at `path` (an older, non-transactional fact write) is
    * not read: without a manifest the first [[mergeIncremental]]
    * rebuilds the table from Silver, which holds the full history.
    */
  def readFact(spark: SparkSession, path: String): DataFrame = {
    val schema = graft.model.Schemas.factPurchase
    if (AtomicTable.latestVersion(path).isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else AtomicTable.read(spark, path).select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** First-writer-wins WITHIN a batch on the declared unique key: the
    * ordering whose first row a repeated `transaction_id` keeps
    * (deterministic tiebreak: earliest ingestion stamp, then product
    * and amount). Across batches the rule is the upsert's: the newer
    * batch's row replaces the stored one.
    */
  private val firstWriter =
    Seq(col("ingestion_timestamp"), col("product_id"), col("final_amount"))

  /** K5 as a transactional MERGE, the fact table's one writer (the
    * batch pipeline's fact step and every streamed micro-batch):
    *  1. high-watermark filter on the table's max ingestion_timestamp
    *     (`fct_purchases.sql:24-27`), read from the manifest's zone
    *     maps. Inclusive (>=): rows sharing the boundary stamp (one
    *     micro-batch's current_timestamp split across file-source
    *     triggers) must survive, and the upsert absorbs the boundary
    *     row already stored;
    *  2. stage the filtered batch as the table's own files, with no
    *     window: the writing tasks hash each file's keys
    *     ([[AtomicTable.mergeBatch]]);
    *  3. [[firstWriter]]-wins within the batch, only when a key hash
    *     repeats (a repeated id, or two null ids): the window re-stages
    *     the staged files. Distinct hashes mean distinct ids, which the
    *     window would all keep;
    *  4. publish on `transaction_id` — the `unique_key` the reference
    *     declares but never enforces (`fct_purchases.sql:5-7`, its ids
    *     collide by construction, `producer.py:127,146`) becomes a real
    *     upsert guarantee with an atomic snapshot commit: re-running a
    *     batch (retry, backfill, crash replay) replaces matched facts
    *     instead of duplicating them, a newer row for a stored id
    *     replaces it, and readers only ever see complete snapshots.
    *     Files a killed attempt staged but never committed are named by
    *     no manifest, so no reader sees them.
    *
    * The batch is evaluated once, into the staged files, each with a
    * key Bloom filter. When every live file's filter rules out every
    * batch key (new purchases, the steady stream), the batch commits as
    * an append and no prior file is read: with no key in common, the
    * upsert's anti-join would keep every prior row, so the append IS
    * the merge. Such a batch is ONE Spark job, the stage write.
    * Otherwise (a replay, a false positive) only the files whose
    * filters claim a batch key are rewritten, and a file without a
    * filter is rewritten if a key scan finds a batch key in it. Returns
    * the committed version (-1 while nothing is committed) and the
    * number of keys inserted, the batch's keys that were not in the
    * table.
    */
  def mergeIncremental(spark: SparkSession, source: DataFrame,
      tableRoot: String): AtomicTable.BatchCommit = {
    val exists = AtomicTable.latestVersion(tableRoot).isDefined
    // high-watermark from manifest zone-map stats when available —
    // O(manifest) instead of scanning the fact table; falls back to
    // the aggregate scan on stats-less tables. Bound by reference
    // (BoundValue): a literal would make every batch's generated code
    // new, a Janino compile per batch on the driver and the executors
    val fresh =
      if (!exists) source
      else {
        // the manifest stat string is rendered in the SESSION timezone
        // — parse it back in that zone, on the driver, as to_timestamp
        // would. java.sql.Timestamp.valueOf would parse in the
        // JVM-default zone and shift the watermark by the offset when
        // the two differ (silently dropping fresh rows).
        val tz = spark.conf.get("spark.sql.session.timeZone")
        val wmCol: Option[org.apache.spark.sql.Column] =
          AtomicTable.statsBounds(tableRoot, "ingestion_timestamp")
            .map(b => lit(DateTimeUtils.microsToInstant(
              Cast(Literal(b._2), TimestampType, Some(tz)).eval().asInstanceOf[Long])))
            .orElse(Option(AtomicTable.read(spark, tableRoot)
              .agg(max(col("ingestion_timestamp"))).head().getTimestamp(0))
              .map(lit(_)))
        wmCol match {
          case Some(w) =>
            GraftFunctions.register(spark)
            source.filter(col("ingestion_timestamp") >= BoundValue.of(w))
          case None => source
        }
      }
    // An empty batch (idle trigger, fully-late data) commits nothing:
    // mergeBatch returns the head (-1 if none) and 0 inserted.
    //
    // File-granular: a batch that repeats a stored key rewrites only
    // the files holding it; the rest of the fact table's files carry
    // over untouched. Partitioned on purchase_date so date predicates
    // prune, and stats on the ingestion stamp keep the NEXT run's
    // watermark manifest-served.
    AtomicTable.mergeBatch(spark, fresh, tableRoot, "transaction_id", "purchase_date",
      statsCol = Some("ingestion_timestamp"), firstWriter = firstWriter)
  }
}

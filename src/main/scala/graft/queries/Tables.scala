package graft.queries

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided TPC-H-ish parquet corpus
  * (`/root/repo/TESTDATA.md`). One parquet file per table; the scale
  * factor is encoded in the directory the driver passes in.
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the
  * loader is the single seam where that swap happens (same DataFrame
  * downstream), so every query stays storage-agnostic.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` under `dir`, read with the schema [[footerSchema]]
    * gives, so a load runs no Spark job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val raw = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) and
      // TIMESTAMP(MICROS) across driver corpus generations, so branch
      // on the scanned type instead of assuming one encoding:
      //  - NANOS scans as raw LongType (GraftSession sets the legacy
      //    nanosAsLong conf — Spark's vectorized reader has no nanos
      //    type); convert with INTEGER division (a double division
      //    would lose precision at ~1.7e18 ns) — values are µs-grained,
      //    so this is lossless.
      //  - MICROS (isAdjustedToUTC=false) scans as TIMESTAMP_NTZ;
      //    cast to TIMESTAMP — wall-clock preserving under the UTC
      //    session timezone every graft session pins.
      // Either way downstream queries see one type: TIMESTAMP (UTC).
      // The loader itself is side-effect free (no session mutation).
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampType}
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampType => raw
        case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
      }
    } else raw
  }

  /** The schema `spark.read.parquet(path)` infers with mergeSchema off,
    * read on the driver from one footer. Spark's inference opens the
    * same one file (a `_common_metadata` summary, else `_metadata`,
    * else the first data file by path) but through a one-task job.
    * The footer's stored Spark schema wins when present; otherwise the
    * parquet schema converts under the session conf (`nanosAsLong`,
    * NTZ inference). A path with no data file is left to
    * `spark.read.parquet`, which raises Spark's own error.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // the names Spark's file listing skips (`HadoopFSUtils.shouldFilterOutPathName`)
    def hidden(name: String) =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
        !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
    def leaves(s: FileStatus): Seq[Path] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filterNot(c => hidden(c.getPath.getName))
        .flatMap(leaves)
      else Seq(s.getPath)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.toString)
    def named(n: String) = files.find(_.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => f.getName != "_common_metadata" && f.getName != "_metadata"))
      .fold(spark.read.parquet(path).schema) { file =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        val footer = try r.getFooter finally r.close()
        ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** Register every table as a temp view so `spark.sql` queries (scalar
    * subqueries, EXISTS, set ops) run against the same corpus. Idempotent.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

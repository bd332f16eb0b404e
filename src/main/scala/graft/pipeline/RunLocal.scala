package graft.pipeline

import org.apache.spark.sql.SparkSession

/** CLI entry for the full local pipeline:
  * `runMain graft.pipeline.RunLocal [lakeDir] [nEvents]`.
  * Generates events, ingests to Silver, merges the incremental fact
  * into its AtomicTable, and prints daily sales + anomaly flags — the
  * whole reference DAG in one process (SURVEY.md §3). The second run
  * re-merges the same events and inserts no key.
  */
object RunLocal {
  def main(args: Array[String]): Unit = {
    val lakeDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-lake").toString)
    val nEvents = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_MASTER", "local[4]"), "4")
    spark.sparkContext.setLogLevel("WARN")
    val res = Pipeline.run(spark, Pipeline.Config(lakeDir, nEvents))
    println(s"[pipeline] lake=$lakeDir silverRows=${res.silverRows} " +
      s"quarantined=${res.quarantinedRows} factAppended=${res.factRowsAppended}")
    res.anomalies.show(50, truncate = false)
    val res2 = Pipeline.run(spark, Pipeline.Config(lakeDir, nEvents))
    println(s"[pipeline] re-run factAppended=${res2.factRowsAppended} (expect 0)")
    spark.stop()
  }
}

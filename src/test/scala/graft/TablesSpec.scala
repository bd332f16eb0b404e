package graft

import org.apache.spark.sql.types.{StructType, TimestampType}
import graft.queries.Tables

/** `Tables.load` reads each table's schema from one parquet footer on
  * the driver: the schema `spark.read.parquet` infers, without its
  * inference job.
  */
class TablesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def inferred(path: String): StructType = spark.read.parquet(path).schema

  test("every corpus table loads with Spark's inferred schema and runs no job") {
    for (name <- Tables.names) {
      val path = s"$dir/$name.parquet"
      assert(Tables.footerSchema(spark, path) === inferred(path), name)
      val (df, jobs) = jobsOf(Tables.load(spark, dir, name))
      assert(jobs === 0, name)
      if (name != "events") assert(df.schema === inferred(path), name)
    }
  }

  test("events: ts loads as TIMESTAMP with the rows the inferred read gives") {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.schema.fieldNames.toSeq === raw.schema.fieldNames.toSeq)
    assert(df.schema.filterNot(_.name == "ts") === raw.schema.filterNot(_.name == "ts"))
    val expected = raw.withColumn("ts", raw("ts").cast(TimestampType))
    assert(df.collect().map(_.toString).sorted.toSeq ===
      expected.collect().map(_.toString).sorted.toSeq)
  }

  test("a multi-file directory Spark wrote loads with Spark's inferred schema") {
    val root = tmpDir("tables-multi")
    spark.range(0, 300, 1, 3)
      .selectExpr("id", "cast(id AS string) AS s", "cast(id AS decimal(12, 2)) AS d",
        "timestamp_micros(id) AS ts", "array(id, id + 1) AS xs",
        "named_struct('a', id, 'b', cast(id AS string)) AS st")
      .write.parquet(s"$root/t.parquet")
    val files = new java.io.File(s"$root/t.parquet").list().filter(_.endsWith(".parquet"))
    assert(files.length === 3, files.mkString(","))
    val (df, jobs) = jobsOf(Tables.load(spark, root, "t"))
    assert(jobs === 0)
    assert(df.schema === inferred(s"$root/t.parquet"))
    assert(df.count() === 300)
  }
}

package graft

import org.apache.spark.sql.functions._

/** Pins [[Staging.stagedSort]]'s contract: value- and order-identical
  * to a live `orderBy` over the same frame, with the sort's input
  * bounded to the staged file (the expensive plan runs exactly once —
  * the property that removed the range-sampling double execution and
  * the r5/r6 x30 sort-stall class; see the stagedSort scaladoc).
  */
class StagingSpec extends SparkSpec {

  test("stagedSort: rows and order identical to a live orderBy") {
    import spark.implicits._
    val df = Seq((3L, "c", -0.0), (1L, "a", 2.5), (2L, "b", Double.NaN),
      (1L, "z", 1.0)).toDF("k", "s", "x")
      .withColumn("y", col("x") * 2) // a computed column rides along
    val live = df.orderBy(col("k"), col("s")).collect()
    val staged = Staging.stagedSort(df, "spec-sort")(col("k"), col("s"))
      .collect()
    assert(staged.length === live.length)
    staged.zip(live).foreach { case (a, b) =>
      // bit-faithful compare (NaN, signed zero) — the driver gate's
      // standard, not ==
      assert(a.getLong(0) === b.getLong(0))
      assert(a.getString(1) === b.getString(1))
      assert(java.lang.Double.doubleToRawLongBits(a.getDouble(2))
        === java.lang.Double.doubleToRawLongBits(b.getDouble(2)))
    }
  }

  test("stagedSort: the sort's plan reads the staged file, not the source plan") {
    import spark.implicits._
    val df = Seq((2L, 1L), (1L, 2L)).toDF("a", "b")
      .groupBy(col("a")).agg(sum(col("b")).as("s"))
    val sorted = Staging.stagedSort(df, "spec-plan")(col("a"))
    val p = sorted.queryExecution.executedPlan.toString
    assert(p.contains("graft-stage-spec-plan"), p)
    assert(!p.contains("HashAggregate"), p) // the expensive plan already ran
  }

  test("staged read-back keeps the schema an inferring read would give") {
    // the staged dir is read back with the source frame's schema, not
    // inferred from its footers; the file source must still relax it
    // to the same all-nullable schema inference yields, nested
    // containers included
    import spark.implicits._
    val df = Seq((1L, Seq(1, 2), Map("a" -> 1L)), (2L, Seq(3), Map("b" -> 2L)))
      .toDF("k", "arr", "m")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .withColumn("dec", lit(BigDecimal("12.345")).cast("decimal(12,3)"))
      .withColumn("st", struct(col("k").as("kk"), lit("x").as("s"),
        array(lit(1.5)).as("xs")))
    assert(!df.schema("k").nullable) // non-nullable input to relax
    val dir = java.nio.file.Files.createTempDirectory("staging-schema").toString
    df.write.mode("overwrite").parquet(dir)
    val inferred = spark.read.parquet(dir).schema
    val staged = Staging.checkpoint(df, "spec-schema")
    assert(staged.schema === inferred)
    assert(staged.collect().toSet === spark.read.parquet(dir).collect().toSet)
  }
}

package graft

import java.time.{Instant, LocalDate}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, CurrentBatchTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import graft.functions.{BoundValue, GraftFunctions}

/** `graft_bind`: a value bound by reference evaluates like the literal
  * it replaces, in interpreted and in generated code, and a new value
  * compiles no new code.
  */
class BoundValueSpec extends SparkSpec {
  locally { GraftFunctions.register(spark) }

  /** `c` evaluated once interpreted and once through generated code. */
  private def bothWays(c: Column): (Row, Row) = {
    def run() = spark.range(1).select(c.as("v")).head()
    (withConfs("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(run()),
      withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false")(run()))
  }

  test("a timestamp, a date and a null evaluate like their literals, interpreted and generated") {
    val at = Instant.parse("2026-03-08T09:59:59.123456Z")
    val day = LocalDate.parse("2024-02-29")
    Seq(lit(at), lit(day), typedlit[java.sql.Timestamp](null)).foreach { l =>
      val want = spark.range(1).select(l.as("v")).head()
      val (interpreted, generated) = bothWays(BoundValue.of(l))
      assert(interpreted === want)
      assert(generated === want)
    }
  }

  test("not folded: the optimized plan keeps the bound value, not a literal") {
    val plan = spark.range(1).select(BoundValue.of(lit(Instant.EPOCH)).as("v"))
      .queryExecution.optimizedPlan
    assert(plan.expressions.exists(_.exists(_.isInstanceOf[BoundValue])), plan)
  }

  test("current_date under micro-batch execution binds the batch's date, same value") {
    // what micro-batch execution makes of current_date() in a zone
    // where the batch's instant is still the previous day
    val batch = CurrentBatchTimestamp(Instant.parse("2024-03-01T03:00:00Z").toEpochMilli,
      DateType, Some("America/Los_Angeles"))
    val plan = BoundValue.BindBatchTimestamp(Project(Seq(Alias(batch, "d")()), OneRowRelation()))
    val bound = plan.expressions.flatMap(_.collect { case b: BoundValue => b })
    assert(bound === Seq(BoundValue(batch.toLiteral.value, DateType)))
    val day = LocalDate.ofEpochDay(bound.head.value.asInstanceOf[Int].toLong)
    assert(day === LocalDate.parse("2024-02-29"))
    val (interpreted, generated) = bothWays(BoundValue.of(lit(day)))
    assert(interpreted === Row(java.sql.Date.valueOf(day)))
    assert(generated === interpreted)
  }

  test("a new value compiles no new code") {
    def run(at: Instant) = withConfs("spark.sql.codegen.wholeStage" -> "true") {
      spark.range(0, 4, 1, 1)
        .filter(timestamp_seconds(col("id") * 60) >= BoundValue.of(lit(at)))
        .count()
    }
    assert(run(Instant.ofEpochSecond(60)) === 3)
    val before = RunWitness.janinoCompiles()
    assert(run(Instant.ofEpochSecond(120)) === 2)
    assert(run(Instant.ofEpochSecond(180)) === 1)
    assert(RunWitness.janinoCompiles() === before)
  }
}

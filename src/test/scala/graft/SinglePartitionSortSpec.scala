package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `functions.SinglePartitionSort`: a global sort over a small
  * materialized stage shuffles to one partition and runs no sampling
  * job; anything else keeps its range exchange.
  */
class SinglePartitionSortSpec extends SparkSpec {
  private val MinSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private def source = spark.range(0, 400, 1, 4).selectExpr("id % 7 AS k", "id AS v")
  private def tinySort = source.groupBy("k").agg(sum("v").as("s")).orderBy(col("s").desc)

  /** The rows, the final plan (without the initial plan AQE prints
    * after it) and the jobs of one execution of `df`.
    */
  private def run(df: DataFrame): (Seq[Row], String, Int) = {
    val (rows, jobs) = jobsOf(df.collect().toSeq)
    (rows, df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0), jobs)
  }

  test("a tiny ORDER BY ends in a single-partition exchange, one job fewer, same rows") {
    val initial = tinySort.queryExecution.executedPlan.toString
    assert(initial.contains("rangepartitioning"), initial)
    val (rows, plan, jobs) = run(tinySort)
    assert(plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    val (ranged, rangedPlan, rangedJobs) = withConfs(MinSize -> "1b")(run(tinySort))
    assert(rangedPlan.contains("rangepartitioning"), rangedPlan)
    assert(jobs === rangedJobs - 1)
    assert(rows === ranged)
    assert(rows.map(_.getLong(1)) === rows.map(_.getLong(1)).sortBy(-_))
    assert(rows.size === 7)
  }

  test("a sort with a Generate or a join above the stage keeps its range exchange") {
    val exploded = source.groupBy("k").agg(collect_list("v").as("vs"))
      .select(col("k"), explode(col("vs")).as("v")).orderBy("v")
    val (rows, plan, _) = run(exploded)
    assert(plan.contains("Generate"), plan)
    assert(plan.contains("rangepartitioning"), plan)
    assert(rows.map(_.getLong(1)) === (0L until 400L))

    val sums = source.groupBy("k").agg(sum("v").as("s"))
    val counts = source.groupBy("k").agg(count("v").as("n"))
    val (joined, joinPlan, _) = run(sums.join(counts, "k").orderBy("s"))
    assert(joinPlan.contains("Join"), joinPlan)
    assert(joinPlan.contains("rangepartitioning"), joinPlan)
    assert(joined.size === 7)
  }
}

package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._

class RunWitnessSpec extends SparkSpec {

  test("panel sees a fixed job's start and end, its task total and task time") {
    val desc = "run-witness-spec"
    // independent reference: tasks of the stages that completed under
    // the described jobs (a skipped stage never completes)
    val stagesOf = new ConcurrentHashMap[Int, Seq[Int]]()
    val stageTasks = new ConcurrentHashMap[Int, Int]()
    val ref = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(
            _.getProperty("spark.job.description") == desc))
          stagesOf.put(s.jobId, s.stageIds): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks): Unit
    }
    spark.sparkContext.addSparkListener(ref)
    val w = RunWitness.attach(spark)
    try {
      val task0 = w.settledTaskMs(); val taskN0 = w.taskN.get()
      spark.sparkContext.setJobDescription(desc)
      val rows = try spark.range(0, 1000000, 1, 4)
          .groupBy((col("id") % 10).as("k")).agg(sum("id")).collect()
        finally spark.sparkContext.setJobDescription(null)
      assert(rows.length === 10)
      val taskMs = w.settledTaskMs() - task0
      def mine = w.jobs().filter(_.desc == desc)
      var waited = 0
      while ((mine.isEmpty || mine.exists(_.end < 0) ||
          stagesOf.size != mine.size) && waited < 5000) {
        Thread.sleep(50); waited += 50
      }
      val jobs = mine
      assert(jobs.nonEmpty)
      assert(jobs.map(_.id).toSet === stagesOf.keySet.asScala.toSet)
      jobs.foreach(j => assert(j.end >= j.start, s"job ${j.id} never ended"))
      val expected = stagesOf.values.asScala.flatten.toSet.toSeq
        .map((s: Int) => stageTasks.getOrDefault(s, 0)).sum
      // 4 range partitions on the map side, at least one reduce task
      assert(expected >= 5, s"reference saw $expected tasks")
      assert(jobs.map(_.tasks.get).sum === expected)
      assert(w.taskN.get() - taskN0 >= expected)
      assert(taskMs >= 0)
    } finally {
      spark.sparkContext.removeSparkListener(w)
      spark.sparkContext.removeSparkListener(ref)
    }
  }

  test("wallSplit: overlapping jobs count once, gaps from the latest end, parts add up") {
    // wall 0-100: j1 10-40, j2 20-30 (inside j1), j3 35-60 (overlaps
    // j1), j4 70-80; driver-only 0-10 and 60-70, tail 80-100
    assert(RunWitness.wallSplit(0, 100,
      Seq((10L, 40L), (20L, 30L), (35L, 60L), (70L, 80L))) === ((60L, 20L, 20L)))
    // a job still running at the wall end runs to it: no tail
    assert(RunWitness.wallSplit(0, 100, Seq((10L, 40L), (50L, -1L))) === ((80L, 20L, 0L)))
    assert(RunWitness.wallSplit(0, 100, Nil) === ((0L, 100L, 0L)))
  }
}

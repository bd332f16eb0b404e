package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The run-witness panel: one listener plus the JVM/host readers that
  * say where a run's seconds went. `graft.Bench` samples it around
  * every timed run body (the diag's task_sec / task_n / spill_mb /
  * peak_exec_mb / gc_ms / jit_ms / janino / code_cache_mb / steal_pct
  * rows) and `tools/ProfileEntry` prints it per run.
  *
  * Wall-vs-work split: if summed executor task time is flat across
  * runs while wall wobbles, the wobble lives in scheduling and driver
  * gaps; if task time itself wobbles, the cores ran slower (steal
  * bursts, frequency, JIT deopt storms). The per-job rows name the gap
  * each job started after — the 1× entries are bound by job count ×
  * driver gap, not by task time.
  *
  * The listener bus is async: read the task counters through
  * [[settledTaskMs]], which waits for them to stop moving.
  */
final class RunWitness private () extends SparkListener {
  import RunWitness.Job

  /** Summed executor task run time (ms) since attach. */
  val taskMs = new AtomicLong()
  /** Task count since attach — tells "entry launches 3 tasks" from
    * "entry ignores the core knob". */
  val taskN = new AtomicLong()
  /** Completed (not skipped) stages since attach. */
  val stageN = new AtomicLong()
  /** Memory + disk bytes spilled since attach. With [[peakExec]] the
    * memory-pressure pair: a slow run with heavy GC but ~0 spill and a
    * modest peak was not memory-squeezed — the excess was host
    * delivery. */
  val spillBytes = new AtomicLong()
  /** Max per-task peak execution memory; the reader resets it before
    * the run it attributes. */
  val peakExec = new AtomicLong()

  private val jobById = new ConcurrentHashMap[Int, Job]()
  // stage → the latest job that lists it: a stage a later job skips
  // has already run all its tasks under the job that ran it
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val m = e.taskMetrics
      taskMs.addAndGet(m.executorRunTime): Unit
      taskN.incrementAndGet(): Unit
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled): Unit
      peakExec.getAndAccumulate(m.peakExecutionMemory,
        (a: Long, b: Long) => math.max(a, b)): Unit
      Option(stageJob.get(e.stageId)).flatMap(id => Option(jobById.get(id)))
        .foreach(_.tasks.incrementAndGet(): Unit)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageN.incrementAndGet(): Unit

  override def onJobStart(s: SparkListenerJobStart): Unit = {
    val desc = Option(s.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.nonEmpty)
      .getOrElse(s.stageInfos.map(_.name.takeWhile(_ != '+')).mkString("|"))
    jobById.put(s.jobId, new Job(s.jobId, s.time, desc.take(70))): Unit
    s.stageIds.foreach(stageJob.put(_, s.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.end = e.time)

  /** [[taskMs]] once it has stopped moving (up to 1 s): the listener
    * bus delivers task ends after the action returns. */
  def settledTaskMs(): Long = {
    var prev = -1L
    var v = taskMs.get()
    var waited = 0
    while (v != prev && waited < 1000) {
      prev = v; Thread.sleep(50); waited += 50; v = taskMs.get()
    }
    v
  }

  /** Jobs started since the last [[clearJobs]], in start order. */
  def jobs(): Seq[Job] = jobById.values.asScala.toSeq.sortBy(j => (j.start, j.id))

  def clearJobs(): Unit = { jobById.clear(); stageJob.clear() }
}

object RunWitness {

  /** One Spark job: listener-bus start/end stamps (epoch ms; end -1
    * while running), the tasks that ran under it (a stage it skipped
    * counts under the job that ran it), and its description (the
    * `spark.job.description`, else its stage names). */
  final class Job(val id: Int, val start: Long, val desc: String) {
    @volatile var end: Long = -1L
    val tasks = new AtomicInteger()
  }

  /** Splits the wall `[t0, t1]` (epoch ms) into (time with at least
    * one job running, driver-only time before and between jobs, the
    * tail after the latest job end, 0 with no job); the three add up
    * to the wall. Jobs are `(start, end)` stamps, overlapping or not;
    * one with no end yet (-1) runs to `t1`. */
  def wallSplit(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): (Long, Long, Long) = {
    def clip(ms: Long) = math.min(math.max(ms, t0), t1)
    var running = 0L
    var reach = t0 // latest job end so far
    jobs.map { case (s, e) => (clip(s), clip(if (e < 0) t1 else e)) }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { running += e - math.max(s, reach); reach = e }
      }
    val tail = if (jobs.isEmpty) 0L else t1 - reach
    (running, t1 - t0 - running - tail, tail)
  }

  def attach(spark: SparkSession): RunWitness = {
    val w = new RunWitness()
    spark.sparkContext.addSparkListener(w)
    w
  }

  /** Cumulative stop-the-world collection time across all collector
    * beans (ms). A delta across a run body names (or exonerates) the
    * collector for a slow run. */
  def gcMsTotal(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Cumulative JIT compilation time (ms), -1 where unsupported — a
    * first-run-only spike is codegen/C2 warmup. */
  def jitMsTotal(): Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else -1L
  }

  /** Generated-class compilations since JVM start (Janino cache
    * misses). A steady per-run delta on a REPEATED identical query is
    * codegen-cache thrash — see GraftSession's
    * spark.sql.codegen.cache.maxEntries note. */
  def janinoCompiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Sum of the compile-time histogram's reservoir (ms: CodeGenerator
    * records per-compile durations in milliseconds). Below ~1028
    * compiles the reservoir holds every sample, so a delta of sums is
    * the compile-time delta. */
  def janinoMs(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum.toDouble

  /** JIT'd-code footprint (MB used across the CodeHeap pools). Near
    * ReservedCodeCacheSize the sweeper flushes warm methods and
    * compiled code silently degrades to interpreted — high task cpu
    * with LOW jit_ms and no console banner. */
  def codeCacheMb(): Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") ||
        p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / (1L << 20)

  /** (steal, idle+iowait, total) cpu ticks across all cpus from
    * /proc/stat; zeros where it is absent. Steal is the only
    * guest-visible counter of hypervisor descheduling; busy = total −
    * idle tells tasks BLOCKED (locks, fs waits) from tasks computing
    * slowly. */
  def cpuTicks(): (Long, Long, Long) =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().split("\\s+")
      val vals = f.drop(1).map(_.toLong)
      // denominator = user..steal (first 8 fields) only: guest and
      // guest_nice are already folded into user/nice by the kernel,
      // so summing them double-counts guest time and underestimates
      // steal_pct on VM hosts
      (if (vals.length > 7) vals(7) else 0L, vals(3) + vals(4),
        vals.take(8).sum)
    } catch { case _: Throwable => (0L, 0L, 0L) }
}

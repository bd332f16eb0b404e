package graft.tools

import graft.RunWitness

/** Dev utility: time registered queries over an optionally scaled
  * corpus in a fresh JVM — the minimal reproducer for adjudicating a
  * bench-entry number outside the full ~40-entry sequence (run order,
  * accumulated JIT state, and page-cache history all drop out).
  *
  * Per run it prints the run-witness panel (task time, tasks, stages,
  * jit, gc, janino compiles, steal%, busy%, code cache, spill, peak
  * execution memory), then one line per Spark job: its wall and the
  * DRIVER GAP since the latest job end before it (planning,
  * staging-file round-trips, footer reads and broadcast builds all
  * hide in the gaps), and one line that splits the run's wall into
  * time with a job running, driver-only time and the tail after the
  * last job. Each run's jobs are described with the query's name
  * unless a library call names its own (AtomicTable's steps).
  *
  * Usage: runMain graft.tools.ProfileEntry <query[,query...]> [sfDir] [copies] [repeat]
  * copies > 1 runs against the Bench-style scaled corpus (x10, x30).
  */
object ProfileEntry {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q86_curation_pipeline")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val copies = if (args.length > 2) args(2).toInt else 1
    val repeat = if (args.length > 3) args(3).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    val corpus =
      if (copies <= 1) dir else graft.Bench.buildScaledCorpus(spark, dir, copies)
    val w = RunWitness.attach(spark)
    for (name <- names; i <- 1 to repeat) {
      spark.catalog.clearCache(); System.gc()
      val task0 = w.settledTaskMs(); val taskN0 = w.taskN.get()
      val stage0 = w.stageN.get(); val spill0 = w.spillBytes.get()
      w.peakExec.set(0); w.clearJobs()
      val c0 = RunWitness.janinoCompiles(); val cm0 = RunWitness.janinoMs()
      val (s0, i0, k0) = RunWitness.cpuTicks()
      val j0 = RunWitness.jitMsTotal(); val g0 = RunWitness.gcMsTotal()
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val sc = spark.sparkContext
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(name)
      try graft.SparkEntry.queries(name)(spark, corpus)
        .write.format("noop").mode("overwrite").save()
      finally sc.setJobDescription(prevDesc)
      val t = (System.nanoTime() - t0) / 1e9
      // listener bus is async — settle before reading the counters
      Thread.sleep(300)
      val taskMs = w.settledTaskMs() - task0
      val (s1, i1, k1) = RunWitness.cpuTicks()
      val stealPct = if (k1 > k0) 100.0 * (s1 - s0) / (k1 - k0) else -1.0
      // busy% of all guest cpus across the run: slow wall + IDLE cpus
      // = tasks BLOCKED (locks, fs waits), not computing slowly
      val busyPct =
        if (k1 > k0) 100.0 * ((k1 - k0) - (i1 - i0)) / (k1 - k0) else -1.0
      println(f"[$name] run $i: $t%.2f s  task_time=${taskMs / 1000.0}%.1f s" +
        f" over ${w.taskN.get - taskN0} tasks / ${w.stageN.get - stage0} stages" +
        f"  jit=${RunWitness.jitMsTotal() - j0} ms" +
        f"  gc=${RunWitness.gcMsTotal() - g0} ms" +
        f"  janino_compiles=${RunWitness.janinoCompiles() - c0}" +
        f" (${RunWitness.janinoMs() - cm0}%.0f ms)" +
        f"  steal=$stealPct%.1f%%  busy=$busyPct%.1f%%" +
        f"  code_cache=${RunWitness.codeCacheMb()}mb" +
        f"  spill=${(w.spillBytes.get - spill0) / (1L << 20)}mb" +
        f"  peak_exec=${w.peakExec.get / (1L << 20)}mb")
      val jobs = w.jobs()
      // jobs overlap (AQE submits stages asynchronously): a gap is
      // taken from the latest end seen so far, and is negative when
      // the job started while an earlier one was still running
      var lastEnd = t0ms
      jobs.foreach { j =>
        val gap = (j.start - lastEnd) / 1e3
        val dur = if (j.end < 0) -1.0 else (j.end - j.start) / 1e3
        println(f"[jobs]   j${j.id}%-3d gap $gap%6.3f  dur $dur%6.3f  " +
          f"tasks ${j.tasks.get}%-4d ${j.desc}")
        lastEnd = math.max(lastEnd, j.end)
      }
      val t1ms = t0ms + math.round(t * 1000)
      val (running, driver, tail) =
        RunWitness.wallSplit(t0ms, t1ms, jobs.map(j => (j.start, j.end)))
      println(f"[jobs]   ${jobs.size} jobs, wall ${(t1ms - t0ms) / 1e3}%.3f s" +
        f" = jobs running ${running / 1e3}%.3f + driver only ${driver / 1e3}%.3f" +
        f" + tail ${tail / 1e3}%.3f s")
    }
    spark.stop()
  }
}

package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.generator.EventGenerator
import graft.gold.AtomicTable
import graft.ingest.Silver
import graft.streaming.{StreamingGold, StreamingSilver}

/** The reference consumer as a stream: JSON-lines files →
  * `StreamingSilver.Sources.fileJsonLines` → `Silver.parsePurchases` →
  * `StreamingGold.startTransactionalFact` with a 0-interval trigger.
  *
  * One warm-up file is dropped and committed first; its latency is the
  * stream's cold start. Then an open-loop generator thread drops one
  * file every `Interval` for the run's seconds, at a rate below what
  * the stream sustains, so latency (due time → commit of the batch
  * that carried the file) is what it measures. Halfway through, the
  * first steady file is dropped a second time under another name;
  * Gold must still hold every event once. Then a catch-up phase (three
  * in a traced run) drops a backlog of files at once and times how fast
  * it drains.
  */
object StreamGold extends Workload {
  private val Interval = 0.25 // seconds between steady drops
  private def drains(ctx: Ctx) = if (ctx.trace.on) 3 else 1

  private final case class Sizes(perFile: Int, steadyFiles: Int, backlog: Int)

  private def sizes(ctx: Ctx): Sizes =
    if (ctx.tiny) Sizes(50, 4, 3)
    else Sizes(100, math.max(20, (ctx.seconds / Interval).toInt), 10)

  private var files: IndexedSeq[Seq[String]] = IndexedSeq()
  private var ids: IndexedSeq[Seq[String]] = IndexedSeq()

  def prepare(ctx: Ctx): Unit = {
    val s = sizes(ctx)
    val n = s.perFile * (1 + s.steadyFiles + drains(ctx) * s.backlog)
    val ps = EventGenerator.generate(EventGenerator.defaultProducts, n, ctx.seed).purchases
    files = ps.map(EventGenerator.toJson).grouped(s.perFile).toIndexedSeq
    ids = ps.map(_.transaction_id).grouped(s.perFile).toIndexedSeq
  }

  private final class Progress extends StreamingQueryListener {
    val batches = mutable.Map[Long, StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { if (e.progress.numInputRows > 0) batches(e.progress.batchId) = e.progress }
    def snapshot: Map[Long, StreamingQueryProgress] = synchronized(batches.toMap)
  }

  /** Epoch ms at which a batch committed: its trigger start plus the
    * trigger's duration, as the progress event reports them.
    */
  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").longValue

  /** File name → batch id, from the file source's checkpoint log. */
  private def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map()
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    val logs = Files.list(dir)
    try logs.iterator.asScala.toList
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
    finally logs.close()
  }

  def measure(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val s = sizes(ctx)
    ctx.params ++= Seq("shape" -> "open loop, 1 generator thread",
      "rate_events_per_s" -> (s.perFile / Interval).toString,
      "events_per_file" -> s.perFile.toString,
      "steady_files" -> s.steadyFiles.toString,
      "backlog_files" -> s.backlog.toString, "drains" -> drains(ctx).toString,
      "trigger" -> "ProcessingTime(0)")
    val base = ctx.freshDir("stream")
    val in = Files.createDirectories(base.resolve("in"))
    val ckpt = base.resolve("ckpt")
    val root = base.resolve("gold").toString

    val progress = new Progress
    spark.streams.addListener(progress)
    val stats = if (ctx.trace.on) Some(new JobStats) else None
    stats.foreach(spark.sparkContext.addSparkListener)

    // name → (content index, due epoch ms); filled by the dropping threads
    val dropped = mutable.LinkedHashMap[String, (Int, Long)]()
    var lateMaxMs = 0L
    def drop(name: String, content: Int, dueMs: Long): Unit = {
      val tmp = in.resolve(s".$name.tmp")
      Files.write(tmp, files(content).asJava)
      Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      dropped.synchronized {
        dropped(name) = (content, dueMs)
        lateMaxMs = lateMaxMs max (System.currentTimeMillis() - dueMs)
      }
    }
    def committed(names: Iterable[String]): Option[Map[String, Long]] = {
      val fb = fileBatches(ckpt)
      val done = progress.snapshot
      val at = names.flatMap(n => fb.get(n).flatMap(done.get).map(p => n -> commitMs(p)))
      if (at.size == names.size) Some(at.toMap) else None
    }
    def awaitCommitted(names: Iterable[String], timeoutS: Double): Map[String, Long] = {
      val t0 = System.nanoTime()
      var got = committed(names)
      while (got.isEmpty && Stats.secondsSince(t0) < timeoutS) {
        Thread.sleep(20)
        got = committed(names)
      }
      got.getOrElse(throw new IllegalStateException(
        s"${names.size} files not committed within $timeoutS s"))
    }

    val query = StreamingGold.startTransactionalFact(
      Silver.parsePurchases(StreamingSilver.Sources.fileJsonLines(spark, in.toString)),
      root, ckpt.toString, Trigger.ProcessingTime(0))

    var steadyWallS = 0.0
    var steadyGroup = new GroupStats
    var steadyBatches = 0
    val latencies = mutable.ArrayBuffer[Double]()
    var coldS = Double.NaN
    val drainRates = mutable.ArrayBuffer[(Double, Boolean)]()
    val t0 = System.nanoTime()
    try {
      ctx.op("warm-up file") {
        val due = System.currentTimeMillis()
        drop("warmup.json", 0, due)
        coldS = (awaitCommitted(Seq("warmup.json"), 120)("warmup.json") - due) / 1e3
      }
      // steady phase: one file every Interval, due times fixed up front
      val steady = ctx.op("steady stream phase") {
        val startMs = System.currentTimeMillis() + 200
        // the first steady file again, halfway: a later batch replays it
        val plan = (1 to s.steadyFiles).map(i =>
          (f"f-$i%05d.json", i, startMs + ((i - 1) * Interval * 1000).toLong)) :+
          (("dup-f-00001.json", 1,
            startMs + ((s.steadyFiles / 2 + 0.5) * Interval * 1000).toLong))
        val gen = new Thread(() => ctx.trace.span("generator.drop") {
          plan.sortBy(_._3).foreach { case (name, i, due) =>
            val wait = due - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            drop(name, i, due)
          }
        }, "perfbench-generator")
        gen.start()
        gen.join()
        val at = ctx.trace.span("streaming.steady_wait")(
          awaitCommitted(plan.map(_._1), 60 + ctx.seconds))
        plan.map { case (name, _, due) => name -> (at(name) - due) / 1e3 }
      }
      steady.foreach(ls => latencies ++= ls.map(_._2))
      ctx.log(f"cold $coldS%.2f s, steady latencies " + latencies.map(l => f"$l%.2f").mkString(" "))
      steadyWallS = Stats.secondsSince(t0)
      stats.foreach { st =>
        JobStats.settle()
        steadyGroup = st.take().getOrElse(query.runId.toString, new GroupStats)
        steadyBatches = progress.snapshot.size
      }
      // catch-up phases: a backlog dropped at once, drained. A traced
      // run adds a third and listens only during the middle one: each
      // drain merges into a larger table than the one before, so the
      // overhead is the middle drain against the mean of its neighbours
      var next = 1 + s.steadyFiles
      for (d <- 0 until drains(ctx)) {
        val listen = d == 1
        if (!listen) stats.foreach(spark.sparkContext.removeSparkListener)
        ctx.op(s"drain $d") {
          val names = (0 until s.backlog).map(i => f"backlog-$d-$i%05d.json")
          val t0 = System.currentTimeMillis()
          names.zipWithIndex.foreach { case (name, i) => drop(name, next + i, t0) }
          next += s.backlog
          val at = ctx.trace.span("streaming.drain")(awaitCommitted(names, 120))
          drainRates += (((s.backlog * s.perFile) / ((at.values.max - t0) / 1e3), listen))
          ctx.log(f"drain $d: ${drainRates.last._1}%.0f events/s")
        }
        if (!listen) stats.foreach(spark.sparkContext.addSparkListener)
      }
    } finally {
      query.stop()
      spark.streams.removeListener(progress)
      stats.foreach(spark.sparkContext.removeSparkListener)
    }

    // outputs: every dropped event is in Gold exactly once
    ctx.op("gold holds every event once") {
      val expected = dropped.values.flatMap { case (i, _) => ids(i) }.toSet
      val got = AtomicTable.read(spark, root).select(col("transaction_id"))
        .collect().map(_.getString(0))
      ctx.check("gold row count = distinct events dropped", got.length == expected.size)
      ctx.check("gold keys = events dropped", got.toSet == expected)
    }

    if (latencies.nonEmpty && drainRates.nonEmpty) {
      val (pct, tail) = Stats.tail(latencies.toSeq)
      ctx.e2e("cold_s") = coldS
      ctx.e2e("warm_s") = Stats.median(latencies.toSeq)
      ctx.detail("stream_latency_tail_s") = (tail, "s")
      ctx.detail("stream_latency_tail_pct") = (pct.toDouble, "percentile")
      ctx.detail("stream_latency_samples") = (latencies.size.toDouble, "count")
      ctx.detail("stream_drain_events_per_s") =
        (Stats.median(drainRates.map(_._1).toSeq), "1/s")
      ctx.detail("generator_late_max_s") = (lateMaxMs / 1e3, "s")
    }

    if (ctx.trace.on) {
      val batches = progress.snapshot.values.toSeq
      def p50(key: String) =
        Stats.median(batches.map(_.durationMs.asScala.get(key).map(_.doubleValue).getOrElse(0.0) / 1e3))
      ctx.layers("streaming.trigger_s_p50") = p50("triggerExecution")
      ctx.layers("streaming.add_batch_s_p50") = p50("addBatch")
      ctx.layers("streaming.planning_s_p50") = p50("queryPlanning")
      ctx.layers("streaming.wal_commit_s_p50") = p50("walCommit")
      ctx.layers("streaming.jobs_per_batch") =
        steadyGroup.jobs.toDouble / math.max(1, steadyBatches)
      ctx.layers("streaming.source_rows_per_event") =
        batches.map(_.numInputRows).sum.toDouble /
          dropped.values.map(_ => s.perFile).sum
      // steady-phase backlog at each trigger start: steady files due
      // by then that this batch or a later one carries
      val fb = fileBatches(ckpt)
      val steadyFiles = dropped.filter { case (name, _) =>
        name.startsWith("f-") || name.startsWith("dup-") }
      ctx.layers("streaming.backlog_files_max") = batches.map { b =>
        val startMs = java.time.Instant.parse(b.timestamp).toEpochMilli
        steadyFiles.count { case (name, (_, due)) =>
          due <= startMs && fb.get(name).exists(_ >= b.batchId) }
      }.max.toDouble
      val latest = AtomicTable.latestVersion(root).getOrElse(-1)
      val live = if (latest < 0) Seq() else AtomicTable.files(root, latest)
      val liveBytes = live.map(e => Files.size(
        java.nio.file.Paths.get(root, e.split("\t")(0)))).sum
      ctx.layers("gold.commits") = (latest + 1).toDouble
      ctx.layers("gold.live_files") = live.size.toDouble
      ctx.layers("gold.write_amp") =
        if (liveBytes == 0) 0.0 else Fs.bytes(java.nio.file.Paths.get(root)).toDouble / liveBytes
      ctx.layers("spark.cpu_util") = steadyGroup.taskMs / 1e3 / (steadyWallS * ctx.cores)
      val (tracedD, plainD) = drainRates.partition(_._2)
      if (tracedD.nonEmpty && plainD.nonEmpty) {
        def seconds(rates: Iterable[(Double, Boolean)]) =
          rates.map(r => s.backlog * s.perFile / r._1).sum / rates.size
        ctx.layers("trace.overhead_s") = seconds(tracedD) - seconds(plainD)
      }
    }
    ctx.attempted += dropped.size
    Fs.deleteTree(base)
  }
}

package graftbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.generator.EventGenerator
import graft.gold.Gold
import graft.model.Money
import graft.pipeline.Pipeline

/** The reference DAG as a batch, closed loop, one client. Each cycle
  * runs `Pipeline.run` twice on a fresh lake: a first load of N events,
  * then an incremental run of 1.25·N events, which must append exactly
  * N/4 fact rows. One envelope in `BadEvery` is malformed, fed through
  * `Config.rawExtra`, and must land in quarantine. The first cycle is
  * cold; the later ones are warm.
  */
object PipelineBatch extends Workload {
  private val BadEvery = 100
  /** The cold cycle, then two warm ones; a traced run adds a third. */
  private def minCycles(ctx: Ctx) = if (ctx.trace.on) 4 else 3

  private def events(ctx: Ctx): Int = if (ctx.tiny) 400 else 2000

  /** Malformed envelopes for a run of `n` events: unparseable text,
    * truncated JSON and JSON missing required fields, in seeded order.
    */
  private def malformed(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed * 31 + n)
    (0 until n / BadEvery).map { i =>
      rnd.nextInt(3) match {
        case 0 => s"not json ${rnd.nextLong()}"
        case 1 => s"""{"transaction_id": "bad-$i", "price": """
        case _ => s"""{"transaction_id": "m-$i-${rnd.nextInt(1000)}", "product_id": "CS01"}"""
      }
    }
  }

  private var bad: Map[Int, Seq[String]] = Map()

  def prepare(ctx: Ctx): Unit = {
    val n = events(ctx)
    bad = Seq(n, n * 5 / 4).map(k => k -> malformed(ctx.seed, k)).toMap
  }

  private final case class Run(wall: Double, jobs: Map[String, GroupStats])

  def measure(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val n = events(ctx)
    ctx.params ++= Seq("shape" -> "closed loop, 1 client",
      "events_first" -> n.toString, "events_incremental" -> (n * 5 / 4).toString,
      "malformed_share" -> s"1/$BadEvery")

    // expected daily totals over the incremental run's purchases
    val expectedDaily: Map[java.sql.Date, (Double, Long)] =
      EventGenerator.generate(EventGenerator.defaultProducts, n * 5 / 4, ctx.seed)
        .purchases.groupBy(p => eventDate(p.transaction_time)).map { case (d, ps) =>
          d -> (ps.map(p => Money.goldFinalAmount(p.price, p.quantity,
            p.member_discount, p.supplement_price)).sum, ps.size.toLong)
        }

    def runOnce(lake: String, events: Int, stats: Option[JobStats])
        : Option[(Pipeline.Result, Run)] =
      ctx.op(s"Pipeline.run($events)") {
        val cfg = Pipeline.Config(lakeDir = lake, nEvents = events,
          seed = ctx.seed, rawExtra = bad(events))
        val (r, wall) = Stats.timed(ctx.trace.span("pipeline.run")(Pipeline.run(spark, cfg)))
        val groups = stats.map { s => JobStats.settle(); s.take() }.getOrElse(Map())
        val injected = bad(events).size
        ctx.check(s"silver+quarantine = generated+injected ($events)",
          r.silverRows + r.quarantinedRows == events + injected)
        ctx.check(s"quarantine = injected ($events)", r.quarantinedRows == injected)
        (r, Run(wall, groups))
      }

    val firstW, incrW = mutable.ArrayBuffer[Double]()
    var coldS: Option[Double] = None
    val traced = mutable.ArrayBuffer[(Run, Run)]()
    val tracedCycle, plainCycle, genS = mutable.ArrayBuffer[Double]()
    var firstLoadFiles = 0.0
    val t0 = System.nanoTime()
    var cycle = 0
    while (cycle < minCycles(ctx) || Stats.secondsSince(t0) < ctx.seconds) {
      // in a traced run, every other cycle runs without the listener,
      // so the difference between the second and third warm cycles is
      // the tracing overhead (the first, still warming up, is left out)
      val listen = ctx.trace.on && cycle % 2 == 0
      val stats = if (listen) Some(new JobStats) else None
      stats.foreach(spark.sparkContext.addSparkListener)
      val lake = ctx.freshDir("lake").toString
      val rf = runOnce(lake, n, stats)
      if (rf.isDefined) firstLoadFiles = countFiles(lake, "silver")
      val ri = runOnce(lake, n * 5 / 4, stats)
      stats.foreach(spark.sparkContext.removeSparkListener)
      if (listen)
        genS += Stats.timed(ctx.trace.span("generator.gen") {
          EventGenerator.generate(EventGenerator.defaultProducts, n, ctx.seed)
            .purchases.map(EventGenerator.toJson).size
        })._2
      for ((f, _) <- rf) ctx.check("first load appends every event", f.factRowsAppended == n)
      for ((i, _) <- ri) {
        ctx.check("incremental run appends exactly N/4", i.factRowsAppended == n / 4)
        val fact = Gold.readFact(spark, s"$lake/gold/fct_purchases")
        val keys = fact.agg(count(lit(1)), countDistinct(col("transaction_id"))).head()
        ctx.check("fact keys unique", keys.getLong(0) == keys.getLong(1))
        val daily = i.daily.collect().map(r =>
          r.getDate(0) -> (r.getDouble(1), r.getLong(2))).toMap
        ctx.check("daily totals match the generated purchases",
          daily.keySet == expectedDaily.keySet && daily.forall { case (d, (amt, cnt)) =>
            val (eAmt, eCnt) = expectedDaily(d)
            cnt == eCnt && math.abs(amt - eAmt) <= 1e-6 * math.max(1.0, math.abs(eAmt))
          })
      }
      (rf, ri) match {
        case (Some((_, a)), Some((_, b))) =>
          val w = a.wall + b.wall
          if (cycle == 0) coldS = Some(w)
          else {
            firstW += a.wall; incrW += b.wall
            if (listen) { traced += ((a, b)); tracedCycle += w }
            else if (ctx.trace.on) plainCycle += w
          }
          ctx.log(f"cycle $cycle: ${a.wall}%.2f + ${b.wall}%.2f = $w%.2f s")
        case _ =>
      }
      Fs.deleteTree(java.nio.file.Paths.get(lake))
      cycle += 1
    }

    ctx.params("cycles") = cycle.toString
    coldS.foreach(ctx.e2e("cold_s") = _)
    // a warm cycle's time is the median first load plus the median
    // incremental run, so one slow run does not move it
    if (firstW.nonEmpty) {
      ctx.e2e("warm_s") = Stats.median(firstW.toSeq) + Stats.median(incrW.toSeq)
      ctx.detail("pipeline_first_s") = (Stats.median(firstW.toSeq), "s")
      ctx.detail("pipeline_incr_s") = (Stats.median(incrW.toSeq), "s")
    }
    if (ctx.trace.on && traced.nonEmpty) {
      val ts = traced.toSeq
      def med(f: ((Run, Run)) => Double) = Stats.median(ts.map(f))
      def g(r: Run, step: String) = r.jobs.getOrElse(s"graft-$step", new GroupStats)
      ctx.layers("generator.gen_s") = Stats.median(genS.toSeq)
      ctx.layers("ingest.step_s") = med(t => g(t._1, "ingest_silver").wallS)
      ctx.layers("ingest.jobs") = med(t => g(t._1, "ingest_silver").jobs.toDouble)
      ctx.layers("ingest.task_s") = med(t => g(t._1, "ingest_silver").taskMs / 1e3)
      ctx.layers("ingest.files_written") = firstLoadFiles
      ctx.layers("gold.fact_step_s") = med(t => g(t._2, "fact_incremental").wallS)
      ctx.layers("gold.fact_jobs") = med(t => g(t._2, "fact_incremental").jobs.toDouble)
      ctx.layers("gold.fact_shuffle_bytes") =
        med(t => g(t._2, "fact_incremental").shuffleBytes.toDouble)
      ctx.layers("analytics.score_step_s") = med(t => g(t._1, "score_anomalies").wallS)
      ctx.layers("pipeline.jobs") = med(t => t._1.jobs.values.map(_.jobs).sum.toDouble)
      ctx.layers("pipeline.driver_gap_s") = med(t => t._1.wall -
        Seq("ingest_silver", "fact_incremental", "score_anomalies")
          .map(s => g(t._1, s).wallS).sum)
      ctx.layers("spark.cpu_util") = med { t =>
        val all = Seq(t._1, t._2)
        all.map(_.jobs.values.map(_.taskMs).sum).sum / 1e3 /
          (all.map(_.wall).sum * ctx.cores)
      }
      if (plainCycle.size > 1)
        ctx.layers("trace.overhead_s") =
          Stats.median(tracedCycle.toSeq) - Stats.median(plainCycle.drop(1).toSeq)
    }
  }

  /** The date of the wall-clock time the event's JSON carries, which is
    * what the fact's `purchase_date` holds.
    */
  private def eventDate(ts: java.sql.Timestamp): java.sql.Date =
    java.sql.Date.valueOf(ts.toLocalDateTime.toLocalDate)

  /** Parquet data files under `lake/sub`. */
  private def countFiles(lake: String, sub: String): Double = {
    val root = java.nio.file.Paths.get(lake, sub)
    if (!java.nio.file.Files.exists(root)) 0.0
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count().toDouble
      finally s.close()
    }
  }
}

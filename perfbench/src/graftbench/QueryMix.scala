package graftbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import graft.SparkEntry

/** The analysts' side, closed loop, one client: headline queries over
  * a seeded corpus (`Corpus`). Results go to the `noop` sink. One cold
  * pass in seed-shuffled order, then warm rounds in the same order.
  *
  * Most headline queries cost a fixed 0.3-2 s a run at any corpus size,
  * so the roster is a subset that fits a run: relational queries from
  * `RelationalQueries`, and corpus queries from the dedup and text
  * modules (the `ext` and `functions` operators).
  */
object QueryMix extends Workload {
  private val Scale = 0.002
  /** Two warm rounds; a traced run adds a third. */
  private def minWarmRounds(ctx: Ctx) = if (ctx.trace.on) 3 else 2
  private val Relational = Seq("q01_pricing_summary", "q31_running_total")
  private val CorpusQueries = Seq("q65_minhash_dedup", "q96_unigram_surprisal")

  /** One roster entry: the query's registry name and its group. */
  final case class Entry(name: String, relational: Boolean)

  val roster: Seq[Entry] =
    Relational.map(Entry(_, relational = true)) ++ CorpusQueries.map(Entry(_, relational = false))

  private var dir: Path = _

  def prepare(ctx: Ctx): Unit = {
    dir = ctx.freshDir("corpus")
    Corpus.write(ctx.spark, dir, ctx.seed, if (ctx.tiny) Scale / 10 else Scale)
  }

  private def frame(ctx: Ctx, e: Entry) = SparkEntry.queries(e.name)(ctx.spark, dir.toString)

  private def execute(ctx: Ctx, e: Entry): Unit =
    try frame(ctx, e).write.format("noop").mode("overwrite").save()
    finally ctx.spark.catalog.clearCache()

  def measure(ctx: Ctx): Unit = {
    val order = new scala.util.Random(ctx.seed).shuffle(roster)
    ctx.params ++= Seq("shape" -> "closed loop, 1 client", "corpus_sf" -> Scale.toString,
      "entries" -> order.size.toString,
      "order" -> order.map(_.name).mkString(","))

    // cold pass
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileMs0 = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
    val cold = ctx.trace.span("queries.cold") {
      order.map(e => e.name -> ctx.op(s"cold ${e.name}")(Stats.timed(execute(ctx, e))._2))
    }
    ctx.log("cold pass " + cold.map { case (l, w) => f"$l=${w.getOrElse(Double.NaN)}%.2f" }
      .mkString(" "))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileS =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum - compileMs0) / 1e3

    // warm rounds; a traced run listens on every other round, so the
    // difference is the tracing overhead (the first round, still
    // warming up, is left out of it)
    final case class Round(walls: Map[String, Double], wall: Double,
        jobs: Option[GroupStats])
    val rounds = mutable.ArrayBuffer[Round]()
    val t0 = System.nanoTime()
    while (rounds.size < minWarmRounds(ctx) || Stats.secondsSince(t0) < ctx.seconds) {
      val listen = ctx.trace.on && rounds.size % 2 == 0
      val stats = if (listen) Some(new JobStats) else None
      stats.foreach(ctx.spark.sparkContext.addSparkListener)
      val (walls, wall) = Stats.timed(ctx.trace.span("queries.warm") {
        order.flatMap(e => ctx.op(s"warm ${e.name}")(Stats.timed(execute(ctx, e))._2)
          .map(e.name -> _)).toMap
      })
      stats.foreach(ctx.spark.sparkContext.removeSparkListener)
      val jobs = stats.map { s => JobStats.settle(); s.take().values.reduceOption(GroupStats.sum)
        .getOrElse(new GroupStats) }
      rounds += Round(walls, wall, jobs)
      ctx.log(f"warm round ${rounds.size} $wall%.2f s " +
        order.flatMap(e => walls.get(e.name).map(w => f"${e.name}=$w%.2f")).mkString(" "))
    }
    ctx.params("warm_rounds") = rounds.size.toString

    // outputs, outside the timed passes: an oracled entry's result is
    // written for the comparison with DuckDB once the JVM has ended;
    // any other gives the same rows on two more executions
    val oracleDir = ctx.work.resolve("oracle")
    def oracled(e: Entry) = SparkEntry.oracleSql.contains(e.name)
    val checks = order.map(e => e.name -> Stats.timed(ctx.op(s"result of ${e.name}") {
      try
        if (oracled(e)) frame(ctx, e).coalesce(1).write.parquet(oracleDir.resolve(e.name).toString)
        else ctx.check(s"${e.name} gives the same rows on every execution",
          ResultHash.of(frame(ctx, e).collect()) == ResultHash.of(frame(ctx, e).collect()))
      finally ctx.spark.catalog.clearCache()
    })._2)
    ctx.log("result checks " + checks.map { case (n, w) => f"$n=$w%.2f" }.mkString(" "))
    ctx.oracle = Some((dir.toString, oracleDir.toString,
      order.filter(oracled).map(e => e.name -> SparkEntry.oracleSql(e.name))))

    // a warm round's time is the sum of each entry's median over the
    // rounds, so one slow execution does not move it
    val warm = order.flatMap { e =>
      val ws = rounds.flatMap(_.walls.get(e.name))
      if (ws.isEmpty) None else Some(e -> Stats.median(ws.toSeq))
    }
    if (cold.forall(_._2.isDefined) && warm.size == order.size) {
      def group(relational: Boolean) = warm.filter(_._1.relational == relational).map(_._2).sum
      ctx.e2e("cold_s") = cold.map(_._2.get).sum
      ctx.e2e("warm_s") = warm.map(_._2).sum
      ctx.detail("query_relational_s") = (group(true), "s")
      ctx.detail("query_corpus_s") = (group(false), "s")
    }

    if (ctx.trace.on) {
      for ((name, wall) <- cold; w <- wall) ctx.layers(s"query.$name.cold_s") = w
      for ((e, w) <- warm) ctx.layers(s"query.${e.name}.warm_s") = w
      // time to force the physical plan, once per entry, after the
      // rounds; building the frame may run staging jobs and is not
      // counted
      ctx.layers("queries.plan_s") = order.flatMap { e =>
        ctx.op(s"plan ${e.name}") {
          val df = frame(ctx, e)
          try Stats.timed(df.queryExecution.executedPlan)._2
          finally ctx.spark.catalog.clearCache()
        }
      }.sum
      val traced = rounds.filter(_.jobs.isDefined).toSeq
      def med(f: Round => Double) = Stats.median(traced.map(f))
      ctx.layers("queries.jobs") = med(_.jobs.get.jobs.toDouble)
      ctx.layers("queries.task_s") = med(_.jobs.get.taskMs / 1e3)
      ctx.layers("queries.shuffle_bytes") = med(_.jobs.get.shuffleBytes.toDouble)
      ctx.layers("queries.spill_bytes") = med(_.jobs.get.spillBytes.toDouble)
      ctx.layers("queries.codegen_compiles") = compiles.toDouble
      ctx.layers("queries.codegen_s") = compileS
      ctx.layers("spark.cpu_util") = med(r => r.jobs.get.taskMs / 1e3 / (r.wall * ctx.cores))
      val plain = rounds.filter(_.jobs.isEmpty)
      if (plain.nonEmpty && traced.size > 1)
        ctx.layers("trace.overhead_s") =
          Stats.median(traced.drop(1).map(_.wall)) - Stats.median(plain.map(_.wall).toSeq)
    }
  }
}

object ResultHash {
  /** Order-independent digest of a result: its rows as text, sorted. */
  def of(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

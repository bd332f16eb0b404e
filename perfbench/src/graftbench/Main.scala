package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One workload: `prepare` is its share of set-up (run after each
  * fresh session), `measure` the timed part, which also checks its
  * outputs outside the timed regions.
  */
trait Workload {
  def prepare(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
}

/** What a run knows and what it has found so far. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Trace, val work: Path, val tiny: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val master: String = s"local[$cores]"
  var spark: SparkSession = _

  /** End-to-end metrics: the same names on every workload. */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** The workload's own end-to-end figures, with units. */
  val detail = mutable.LinkedHashMap[String, (Double, String)]()
  /** Per-layer metrics (traced runs only). */
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Workload parameters stamped into the result record. */
  val params = mutable.LinkedHashMap[String, String]()
  /** Results to compare with DuckDB once the JVM has ended: the corpus
    * directory, the directory of Spark's results, and (name, SQL) of
    * each oracled query.
    */
  var oracle: Option[(String, String, Seq[(String, String)])] = None

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** Count one operation; an exception fails it without ending the run. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** An output check: a false one fails the operation it belongs to. */
  def check(what: String, ok: Boolean): Unit = if (!ok) fail(what)

  private def fail(what: String): Unit = {
    failed += 1
    failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${Stats.secondsSince(started)}%8.2f s  $what")

  /** A fresh directory under the run's work dir. */
  def freshDir(tag: String): Path = Files.createTempDirectory(work, tag)
}

object Fs {
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally s.close()
    }

  /** Total bytes of the regular files under `root`. */
  def bytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile (whole number) with at least ten samples
    * above it, and the sample at that percentile.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.length
    val p = (99 to 1 by -1).find(p => n - math.ceil(n * p / 100.0) >= 10)
      .getOrElse(50)
    (p, quantile(xs, p / 100.0))
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }
}

object Main {
  /** Set-ups a run makes: at least `MinSetups`, and more, up to
    * `MaxSetups`, while the ones after the first, cold one add up to
    * less than `SetupSeconds`; a cheap set-up is repeated more, so the
    * median is steady however small it is.
    */
  private val MinSetups = 3
  private val MaxSetups = 9
  private val SetupSeconds = 1.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val workload: Workload = name match {
      case "pipeline_batch" => PipelineBatch
      case "stream_gold" => StreamGold
      case "query_mix" => QueryMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val runId = java.util.UUID.randomUUID().toString
    val ctx = new Ctx(name, a("seed").toLong, a("seconds").toDouble,
      new Trace(a("trace") == "1", runId), work, a.get("tiny").contains("1"))

    // set-up is repeated on a fresh session each time; the median is
    // the figure, so work moved into set-up shows in it
    val setups = mutable.ArrayBuffer[Double]()
    while (setups.size < MinSetups ||
        (setups.size < MaxSetups && setups.drop(1).sum < SetupSeconds)) setups += {
      if (ctx.spark != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      Stats.timed {
        ctx.trace.span("setup.session") {
          ctx.spark = graft.GraftSession.create(ctx.master, ctx.cores.toString)
        }
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.trace.span("setup.prepare")(workload.prepare(ctx))
      }._2
    }
    ctx.log(s"set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    ctx.e2e("setup_s") = Stats.median(setups.toSeq)
    ctx.detail("setup_first_s") = (setups.head, "s")

    val t0 = System.nanoTime()
    ctx.op("workload")(workload.measure(ctx))
    val measuredS = Stats.secondsSince(t0)
    ctx.spark.stop()

    ctx.detail("peak_rss_mb") = (peakRssMb(), "MB")
    if (ctx.trace.on) {
      val self = ctx.trace.selfSeconds
      for (l <- Seq("setup", "generator", "pipeline", "streaming", "queries"))
        ctx.layers(s"self.${l}_s") = self.getOrElse(l, 0.0)
      ctx.trace.write(work.resolve("spans.jsonl").toString)
    }
    writeResult(ctx, runId, measuredS, Paths.get(a("out")))
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def writeResult(ctx: Ctx, runId: String, measuredS: Double,
      out: Path): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val fields = Seq(
      "run_id" -> q(runId),
      "workload" -> q(ctx.workload),
      "seed" -> ctx.seed.toString,
      "master" -> q(ctx.master),
      "nproc" -> ctx.cores.toString,
      "spark_version" -> q(org.apache.spark.SPARK_VERSION),
      "measured_s" -> num(measuredS),
      "params" -> obj(ctx.params.map { case (k, v) => k -> q(v) }),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "failures" -> ctx.failures.map(q).mkString("[", ", ", "]"),
      "e2e" -> obj(ctx.e2e.map { case (k, v) => k -> num(v) }),
      "detail" -> obj(ctx.detail.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> q(u))) }),
      "layers" -> obj(ctx.layers.map { case (k, v) => k -> num(v) }),
      "oracle" -> ctx.oracle.map { case (corpus, results, sql) =>
        obj(Seq("corpus" -> q(corpus), "results" -> q(results),
          "sql" -> obj(sql.map { case (k, v) => k -> q(v) })))
      }.getOrElse("null"))
    Files.writeString(out, obj(fields) + "\n")
  }
}

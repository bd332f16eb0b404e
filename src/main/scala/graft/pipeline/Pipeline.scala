package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.Anomaly
import graft.functions.{BoundValue, GraftFunctions}
import graft.generator.EventGenerator
import graft.gold.Gold
import graft.ingest.Silver

/** End-to-end local pipeline mirroring the Airflow DAG's barrier
  * structure (`pipeline/dags/sales_pipeline_dag.py:101-110`:
  * produce ∥ ingest → join_streams → promote → fact → score) as
  * sequential Scala with step-level atomicity — a later step failing
  * leaves earlier tables untouched ("Gold never updated if Silver
  * fails", reference README.md:64).
  */
object Pipeline {

  final case class Config(
      lakeDir: String,
      nEvents: Int = 500,
      seed: Long = 42L,
      policy: StepPolicy = StepPolicy(),
      /** Extra raw envelopes unioned into the generated feed — the
        * corrupt-producer injection point (tests/chaos): malformed
        * payloads here must land in the quarantine DLQ, not in Silver
        * and not as a pipeline failure.
        */
      rawExtra: Seq[String] = Nil)

  /** The Airflow task policy re-expressed
    * (`pipeline/dags/sales_pipeline_dag.py:70-76`: `retries`,
    * `retry_delay`, `execution_timeout=7min`). Retrying is SAFE here
    * precisely because every step is idempotent (watermark + keyed
    * dedup/merge): a replayed step converges instead of duplicating —
    * policy and idempotence are a pair, not independent features.
    */
  final case class StepPolicy(
      retries: Int = 2,
      retryDelayMs: Long = 0L,
      timeoutMs: Long = 7 * 60 * 1000L)

  final case class StepFailed(step: String, attempts: Int, cause: Throwable)
    extends RuntimeException(
      s"step '$step' failed after $attempts attempt(s): ${cause.getMessage}", cause)

  /** Run one named step under the policy: each attempt gets a fresh
    * execution timeout; failures and timeouts retry up to `retries`
    * extra times. On timeout the attempt is STOPPED, not abandoned:
    * `onTimeout` runs first (pass a Spark job-group cancel so the
    * cluster actually stops working — interrupting a thread blocked
    * in a Spark action does NOT cancel its jobs), then the worker
    * thread is interrupted and JOINED before the retry starts, so a
    * timed-out attempt can never run concurrently with its retry.
    */
  def runStep[T](name: String, policy: StepPolicy,
      onTimeout: () => Unit = () => ())(body: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= policy.retries) {
      attempt += 1
      val task = new java.util.concurrent.FutureTask[T](
        new java.util.concurrent.Callable[T] { def call(): T = body })
      val t = new Thread(task, s"graft-step-$name-a$attempt")
      t.setDaemon(true)
      t.start()
      try {
        return task.get(policy.timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          try onTimeout()
          catch { case scala.util.control.NonFatal(_) => }
          task.cancel(true)
          t.join(policy.timeoutMs) // barrier: no overlap with the retry
          if (t.isAlive) // body ignored the interrupt (e.g. blocking
            // non-Spark IO) — retrying now would race the zombie on
            // the same output paths; fail the step instead
            throw StepFailed(name, attempt,
              new IllegalStateException(
                s"step '$name' worker ignored cancellation and is still " +
                  "running after the grace join — not retrying concurrently"))
          last = new java.util.concurrent.TimeoutException(
            s"step '$name' exceeded ${policy.timeoutMs} ms")
        case e: java.util.concurrent.ExecutionException =>
          last = e.getCause
      }
      if (attempt <= policy.retries && policy.retryDelayMs > 0)
        Thread.sleep(policy.retryDelayMs)
    }
    throw StepFailed(name, attempt, last)
  }

  final case class Result(
      silverRows: Long,
      quarantinedRows: Long,
      factRowsAppended: Long,
      daily: DataFrame,
      anomalies: DataFrame)

  /** One full run: generate → parse (batch twin of the stream) →
    * Silver parquet → fct incremental merge → daily + anomaly. The fact
    * step is [[Gold.mergeIncremental]], the streaming path's writer:
    * one atomic upsert on `transaction_id` into the AtomicTable at
    * `<lake>/gold/fct_purchases`, so a re-run or a retried step
    * converges (the second run inserts zero) and `factRowsAppended` is
    * the number of keys the run inserted. A plain parquet fact dir
    * from an older writer is not read; the first run rebuilds the
    * table from Silver.
    */
  def run(spark: SparkSession, cfg: Config): Result = {
    import spark.implicits._
    val silverPath = s"${cfg.lakeDir}/silver/purchases"
    val factPath = s"${cfg.lakeDir}/gold/fct_purchases"

    // per-RUN token (stable across a step's retries, fresh per run):
    // the append-mode Silver/DLQ writes are NOT idempotent on their
    // own — a retry after one write committed would append every row
    // again. Each write records its completion (and its observed row
    // count) in a marker; a retrying attempt skips the committed write
    // and returns the recorded count. Residual window: a write that
    // commits but dies before its marker lands still duplicates on
    // retry — the fact layer's key upsert absorbs Silver dups, DLQ dups
    // are triage-only. Markers are tiny; one pair per run.
    val runId = java.util.UUID.randomUUID().toString
    // per-RUN wall-clock stamp, the fallback ingestion stamp of a row
    // with no event time: like runId, the Silver and DLQ writes share
    // it and a retry reuses it. Bound by reference (BoundValue) — a
    // current_timestamp() would inline a fresh literal into each
    // write's generated code, two new compiles per write per run
    GraftFunctions.register(spark)
    val runStamp = BoundValue.of(lit(java.time.Instant.now()))
    val hadoopFs = new org.apache.hadoop.fs.Path(cfg.lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeOnce(markerPath: String)(body: => Long): Long = {
      val marker = new org.apache.hadoop.fs.Path(markerPath)
      if (hadoopFs.exists(marker)) {
        val in = hadoopFs.open(marker)
        try new String(in.readAllBytes(), "UTF-8").trim.toLong
        finally in.close()
      } else {
        val n = body
        val out = hadoopFs.create(marker, true)
        try out.write(n.toString.getBytes("UTF-8")) finally out.close()
        n
      }
    }

    // produce (the generator stands in for Kafka; SURVEY.md §2.2 K7)
    val gen = EventGenerator.generate(
      EventGenerator.defaultProducts, cfg.nEvents, cfg.seed)
    val raw = (gen.purchases.map(EventGenerator.toJson) ++ cfg.rawExtra)
      .toDF("value")

    // ingest → Silver (deterministic ingestion stamp = event time here;
    // streaming path covered by StreamingSilver + tests). Row/parse
    // metrics ride the write job via observe() — no second pass.
    // every step runs in its own Spark job group with
    // interruptOnCancel, and the timeout hook cancels the group — so
    // an expired attempt's cluster work actually stops before the
    // retry begins (job groups are thread-local to the step worker)
    def sparkStep[T](name: String)(body: => T): T =
      runStep(name, cfg.policy,
        onTimeout = () => spark.sparkContext.cancelJobGroup(s"graft-$name")) {
        spark.sparkContext.setJobGroup(s"graft-$name",
          s"pipeline step $name", interruptOnCancel = true)
        try body finally spark.sparkContext.clearJobGroup()
      }

    val (ingestedRows, quarantinedRows) = sparkStep("ingest_silver") {
      // dead-letter split (F1 + DLQ, SURVEY.md §2): malformed
      // envelopes are ROUTED to the quarantine store with their raw
      // payload + reason and SURFACED as a step output — the run
      // keeps going, mirroring the reference's console sink that
      // shows malformed rows without killing the consumer
      // (`streaming_consumer.py:75-78`). The old behavior (fail the
      // step on any unparsed row) punished the whole pipeline for one
      // corrupt producer message.
      //
      // the raw feed is built on the driver (the generator's envelopes
      // plus rawExtra), so the valid and DLQ writes, two separate
      // actions, split one consistent snapshot without staging it (a
      // feed read from an unstable source would need a stage first,
      // see Silver.parseWithQuarantine)
      //
      // stamp = event time for valid rows (deterministic re-runs), but
      // a fully-unparseable payload HAS no event time — fall back to
      // the run's wall-clock stamp so the DLQ's quarantined_at is never
      // null (it is the triage/retention key)
      val (valid, quarantine) = Silver.parseWithQuarantine(
        raw.select(col("value").cast("string").as("value")),
        ingestionTs = coalesce(col("data.transaction_time"), runStamp))
      // a side that collapsed to a zero-task plan (e.g. every
      // envelope quarantined → empty valid write) finishes with an
      // EMPTY metrics map — no tasks ran the observe operator, which
      // can only mean zero rows, so default the count rather than
      // throw
      def rows(o: org.apache.spark.sql.Observation): Long =
        o.get.getOrElse("n_rows", 0L).asInstanceOf[Long]
      val nSilver = writeOnce(s"$silverPath/_runs/$runId.done") {
        val obs = new org.apache.spark.sql.Observation()
        Silver.writeSilver(
          valid.observe(obs, count(lit(1)).as("n_rows")), silverPath)
        rows(obs)
      }
      // unconditional write + Observation: one job yields both the
      // DLQ rows and their count — not a count() pass plus a write
      // pass each re-parsing the feed. A healthy run leaves an EMPTY
      // footerless parquet dir here — consumers read it through the
      // schema-explicit Silver.readQuarantine, like readSilver
      val nDlq = writeOnce(
          s"${cfg.lakeDir}/silver/quarantine/_runs/$runId.done") {
        val obsQ = new org.apache.spark.sql.Observation()
        quarantine.observe(obsQ, count(lit(1)).as("n_rows"))
          .write.mode(SaveMode.Append)
          .parquet(s"${cfg.lakeDir}/silver/quarantine")
        rows(obsQ)
      }
      (nSilver, nDlq)
    }
    val silver = Silver.readSilver(spark, silverPath)

    // promote → fact: one atomic upsert, idempotent ⇒ retryable (a
    // killed attempt's staged files are named by no manifest)
    val appended = sparkStep("fact_incremental") {
      Gold.mergeIncremental(spark, Gold.fctPurchases(silver), factPath).inserted
    }

    // analytics (+ CSV result sink, K6 of anomaly_detection.py:56-60)
    val daily = Anomaly.dailySales(Gold.readFact(spark, factPath))
    val anomalies = Anomaly.RobustZScorer().score(daily)
    sparkStep("score_anomalies") {
      anomalies.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("header", "true")
        .csv(s"${cfg.lakeDir}/ml_results/anomaly_detections")
    }
    Result(ingestedRows, quarantinedRows, appended, daily, anomalies)
  }
}

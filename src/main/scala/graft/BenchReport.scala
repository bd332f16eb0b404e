package graft

/** Pure assembly of the bench's two output documents — the compact
  * driver contract line (the LAST stdout line, the only thing the
  * driver parses into `BENCH_r{N}.json`) and the diagnostics JSON
  * (`BENCH_DIAG.json` / stderr twin).
  *
  * Extracted from [[Bench]] so the contract can be spec-pinned: round
  * 4's official bench record came back `parsed: null` because the
  * then-inline diag pushed the one stdout line past the driver's tail
  * capture — a silent, round-losing failure mode that a unit test on
  * the assembled string would have caught. BenchReportSpec now
  * asserts both documents parse as JSON, the contract line stays
  * single-line and small, and non-finite timings can never corrupt
  * the record (JSON has no NaN/Infinity literal; a bare `NaN` in the
  * line would fail the driver's json.load and zero the round again).
  */
object BenchReport {

  /** A timing rendered for JSON: non-finite → -1.0, the bench's
    * existing "this entry failed" marker, so the line stays parseable
    * no matter what a timer produced.
    */
  private def num(v: Double): String =
    if (java.lang.Double.isFinite(v)) v.toString else "-1.0"

  /** Contract-line timing: 3 decimals, Locale.ROOT (a comma-decimal
    * locale would emit invalid JSON). The driver's tail capture is
    * EXACTLY 2000 chars (measured across BENCH_r04/r06: `tail` is
    * always len 2000, and r4's oversized line came back
    * `parsed: null`), so every query timing at full Double.toString
    * width (~11 chars × ~45 entries) was burning ~270 chars of a
    * ~330-char slack. Millisecond precision is far below the bench's
    * own run-to-run noise, so nothing is lost.
    */
  private def num3(v: Double): String =
    if (java.lang.Double.isFinite(v))
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    else "-1.0"

  /** Headline total: probe entries (x10_/x30_) and the q93 split
    * components are reported per-query but excluded, so the figure
    * stays comparable round to round; failed entries (< 0) don't
    * drag the sum.
    */
  def totalOf(results: Seq[(String, Double)]): Double =
    results.filter(r => !r._1.startsWith("x10_") &&
        !r._1.startsWith("x30_") && !r._1.startsWith("q93a") &&
        !r._1.startsWith("q93b"))
      .map(_._2).filter(v => v >= 0 && java.lang.Double.isFinite(v)).sum

  /** The driver contract line, the LAST stdout line: `metric`,
    * `value` (the [[totalOf]] headline), `unit`, `queries` (every
    * entry's recorded number), `sf`, `run_id` (names the
    * `bench_diag/run_<id>.json` evidence file, also spelled out as
    * `diag`), `load1` (1-min loadavg at bench start and end),
    * `discounted` / `discounted_n` (the [[discountedEntries]] of this
    * run, judged from its own evidence) and `cpus` (the
    * SPARK_GRAFT_CPUS the run executed under). Keys are code literals,
    * so the escape surfaces are `sfDir` and the discounted names, both
    * JSON-string-escaped. Budget: the line must stay under ~1900
    * chars (2000-char driver tail minus sbt's trailing `[success]`
    * line), pinned by BenchReportSpec over the real entry roster; the
    * discounted list is capped at 8 names while `discounted_n` stays
    * exact.
    */
  def contractLine(results: Seq[(String, Double)], sfDir: String,
                   runId: Long = 0L,
                   loadStart: Double = -1.0, loadEnd: Double = -1.0,
                   discounted: Seq[String] = Nil,
                   cpus: Int = -1): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num3(v) }
      .mkString("{", ",", "}")
    val disc = discounted.take(8).map(jstr).mkString("[", ",", "]")
    s"""{"metric":"total","value":${num3(totalOf(results))},"unit":"sec","queries":$qs,"sf":${jstr(sfDir)},"run_id":$runId,"diag":${jstr(s"bench_diag/run_$runId.json")},"load1":[${num3(loadStart)},${num3(loadEnd)}],"discounted":$disc,"discounted_n":${discounted.size},"cpus":$cpus}"""
  }

  /** Per-run degraded flags, judged from the run's own evidence:
    * where a run's task row is usable (≥ 1 s — below that the diag's
    * 0.1 s rounding aliases ratios) it decides — degraded means ≥ 2×
    * the entry's best usable row; a run whose task row aliases falls
    * back to its post-run all-core canary (≥ 2× the run's
    * self-sampled nominal). The canary is a point sample — an episode
    * can start after the body finishes and stamp a high reading on a
    * run that did honest work — so it never overrides a usable task
    * row.
    */
  def degradedRuns(runs: Seq[Double], e: EntryEnv,
                   nominalParMs: Double): Seq[Boolean] = {
    val usable = e.taskSec.filter(_ >= 1.0)
    runs.indices.map { i =>
      e.taskSec.lift(i).filter(_ >= 1.0) match {
        case Some(t) => t >= 2 * usable.min
        case None => nominalParMs > 0 &&
          e.canaryParMs.lift(i).exists(_ >= 2 * nominalParMs)
      }
    }
  }

  /** Index of the run that owns an entry's recorded number — one rule
    * for the bench's min-selection and for [[needsDiscount]]: a failed
    * run poisons the entry to its max (failures stay visible);
    * otherwise the min over runs neither degraded ([[degradedRuns]])
    * nor janino-warmup-contaminated (> 5 compiles), falling back to
    * the min over all runs when every run is condemned.
    */
  def selectedIndex(runs: Seq[Double], e: EntryEnv,
                    nominalParMs: Double): Int = {
    require(runs.nonEmpty, "selectedIndex needs at least one run")
    if (runs.exists(_ < 0)) runs.indices.maxBy(runs)
    else {
      val deg = degradedRuns(runs, e, nominalParMs)
      val clean = runs.indices.filter(i =>
        !deg(i) && !e.janino.lift(i).exists(_ > 5))
      if (clean.nonEmpty) clean.minBy(runs) else runs.indices.minBy(runs)
    }
  }

  /** Whether an entry's recorded number needs environment discount:
    * the selected run ([[selectedIndex]]) is degraded — which every
    * run being degraded implies — or every post-run all-core canary
    * reads ≥ 2× nominal (suspect-uniform: a uniformly stretched entry
    * the per-run ratios cannot see).
    */
  def needsDiscount(runs: Seq[Double], e: EntryEnv,
                    nominalParMs: Double): Boolean = {
    val n = runs.size
    if (n == 0) return false
    val suspectUniform = nominalParMs > 0 && e.canaryParMs.size >= n &&
      (0 until n).forall(i => e.canaryParMs(i) >= 2 * nominalParMs)
    val sel = selectedIndex(runs, e, nominalParMs)
    degradedRuns(runs, e, nominalParMs)(sel) || suspectUniform
  }

  /** The contract line's `discounted` list: every reported entry whose
    * recorded number [[needsDiscount]], in roster order. The q93 split
    * components are evidence-less derivations of the q93 entry and
    * entries with no evidence rows cannot be judged — both are
    * skipped.
    */
  def discountedEntries(results: Seq[(String, Double)],
                        rawRuns: collection.Map[String, Seq[Double]],
                        env: collection.Map[String, EntryEnv],
                        nominalParMs: Double): Seq[String] =
    results.collect {
      case (name, _) if !name.startsWith("q93a") &&
        !name.startsWith("q93b") &&
        rawRuns.get(name).exists(_.nonEmpty) && env.contains(name) &&
        needsDiscount(rawRuns(name), env(name), nominalParMs) =>
        name
    }

  /** Per-run host-environment snapshot for one entry, arrays aligned
    * index-for-index with that entry's `runs` array: 1-min loadavg,
    * cgroup-wide CPU and IO pressure (`/proc/pressure/{cpu,io}` `some
    * avg10`), and seconds since bench start at run begin. This is the
    * r6 verdict's "load evidence per entry": when a committed artifact
    * records a 10× outlier (r5 x30_q65 19 s, r6 x30_q122 44.8 s, both
    * 3–10 s in every other same-day measurement), the aligned load
    * row says whether the HOST was busy at that exact run — machine
    * contention becomes adjudicable from the artifact, not from a
    * next-round re-measurement.
    */
  final case class EntryEnv(loadavg1: Seq[Double], psiCpu: Seq[Double],
                            psiIo: Seq[Double], tOffsetSec: Seq[Double],
                            gcMs: Seq[Long] = Nil, jitMs: Seq[Long] = Nil,
                            taskSec: Seq[Double] = Nil,
                            taskN: Seq[Long] = Nil,
                            janino: Seq[Long] = Nil,
                            canaryMs: Seq[Double] = Nil,
                            canaryAfterMs: Seq[Double] = Nil,
                            canaryParMs: Seq[Double] = Nil,
                            stealPct: Seq[Double] = Nil,
                            codeCacheMb: Seq[Long] = Nil,
                            spillMb: Seq[Long] = Nil,
                            peakExecMb: Seq[Long] = Nil)

  private def lArr(ts: Seq[Long]): String =
    ts.mkString("[", ",", "]")

  private def dArr(ts: Seq[Double]): String =
    "[" + ts.map(t =>
      if (java.lang.Double.isFinite(t))
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
      else "-1.0").mkString(",") + "]"

  /** Diag document: run identity (`run_id` matches the contract
    * line's; `started_at` UTC ISO; `commit` the checkout's git commit,
    * "unknown" where git could not say), raw per-run times, pre-entry
    * heap, per-run host-load evidence, minhash verify decisions, LSH
    * bucket histograms, corpus build costs. The minhash/lsh values
    * arrive pre-rendered as JSON objects.
    */
  def diagJson(rawRuns: collection.Map[String, Seq[Double]],
               heapMb: collection.Map[String, Long],
               minhashDiag: collection.Map[String, String],
               lshDiag: collection.Map[String, String],
               corpusBuild10: Double, corpusBuild30: Double,
               runId: Long = 0L, startedAt: String = "",
               env: collection.Map[String, EntryEnv] =
                 collection.Map.empty[String, EntryEnv],
               nominalParMs: Double = -1.0,
               sfDir: String = "",
               commit: String = "unknown",
               cpus: Int = -1,
               defaultParallelism: Int = -1): String = {
    // Locale.ROOT (in dArr): the default-locale f"" interpolator
    // renders 0.9 as "0,900" under comma-decimal locales — still
    // JSON, but four ints where two doubles belong, silently
    // corrupting the record
    val runsJson = rawRuns.map { case (k, ts) => "\"" + k + "\":" + dArr(ts) }
      .mkString("{", ",", "}")
    val heapJson = heapMb.map { case (k, m) => "\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val envJson = env.map { case (k, e) =>
      "\"" + k + "\":{\"loadavg1\":" + dArr(e.loadavg1) +
        ",\"psi_cpu\":" + dArr(e.psiCpu) +
        ",\"psi_io\":" + dArr(e.psiIo) +
        ",\"t_offset_sec\":" + dArr(e.tOffsetSec) +
        // per-RUN deltas (start→end of the timed body), aligned with
        // the entry's runs array like the rows above: gc_ms from the
        // collector MXBeans' cumulative collection time, jit_ms from
        // the compilation MXBean. The r5–r7 wobble runs show LOW cpu
        // PSI with HIGH runnable counts — the signature of in-JVM
        // service work, not host contention — and these two rows say
        // which (a slow run with gc_ms ≈ the excess is a GC stall; a
        // first-run-only jit_ms spike is warmup; both small means the
        // stall was elsewhere).
        ",\"gc_ms\":" + lArr(e.gcMs) +
        ",\"jit_ms\":" + lArr(e.jitMs) +
        // the r7 host-stretch adjudicators, one value per run:
        // task_sec = summed executor task run time (same tasks + same
        // stages + stretched task_sec ⇒ the cores ran slow, not the
        // plan grew); janino_compiles = generated-class cache misses
        // (a steady nonzero count is codegen-cache thrash — the
        // pre-r7 q86 signature, 41/run at the default 100-entry
        // cache); canary_ms = wall time of a fixed single-thread spin
        // measured just before the run (a stretched canary is
        // DELIVERED-CPU-SPEED evidence no guest-visible counter —
        // steal, PSI, loadavg — captured during the r5–r7 stalls)
        ",\"task_sec\":" + dArr(e.taskSec) +
        // task_n (r22): how many tasks the run actually launched — the
        // scaling-evidence row the r21 PERF probe lacked. A CPU-bound
        // probe shows task_n ≫ cores with task_sec ≫ wall; a 1× entry
        // whose 8-core/32-core walls tie shows a handful of tasks and
        // ~1 task-sec — "small", not "serial", distinguishable from
        // this file alone.
        ",\"task_n\":" + lArr(e.taskN) +
        ",\"janino_compiles\":" + lArr(e.janino) +
        // sampled before/after each run: a stretch episode short
        // enough to start and end INSIDE the run still shows in
        // task_sec; one still in progress shows in canary_after
        ",\"canary_ms\":" + dArr(e.canaryMs) +
        ",\"canary_after_ms\":" + dArr(e.canaryAfterMs) +
        // canary_par_ms: the same spin on all cores at once, after the
        // run (wall of the slowest thread). The observed stall
        // signature is single-thread canary at nominal beside 10–50×
        // summed task time on unchanged task counts — an episode where
        // the hypervisor delivers only a few cores' worth of cycles,
        // which only a PARALLEL probe (or steal_pct, the direct
        // descheduling counter, sampled across the run body) can see.
        ",\"canary_par_ms\":" + dArr(e.canaryParMs) +
        ",\"steal_pct\":" + dArr(e.stealPct) +
        // JIT'd-code footprint after each run (sweeper-flush regime
        // witness — see build.sbt's ReservedCodeCacheSize note)
        ",\"code_cache_mb\":" + lArr(e.codeCacheMb) +
        // memory-pressure witnesses per run (r7 verdict ask #3): spill
        // delta (memory+disk bytes spilled across the run's tasks) and
        // the max per-task peak execution memory — a slow run with
        // heavy GC but ~0 spill and a modest peak was NOT squeezed for
        // memory, so the excess was host delivery, not the plan
        ",\"spill_mb\":" + lArr(e.spillMb) +
        ",\"peak_exec_mb\":" + lArr(e.peakExecMb) + "}"
    }.mkString("{", ",", "}")
    val mhJson = minhashDiag.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val lshJson = lshDiag.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // nominal_par_ms: the healthy-delivery reference every
    // canary_par_ms row reads against (min observed this run).
    // "cpus"/"default_parallelism": the run's actual core budget, on
    // record beside the per-entry task_n rows
    s"""{"run_id":$runId,"started_at":${jstr(startedAt)},""" +
      s""""commit":${jstr(commit)},"sf":${jstr(sfDir)},""" +
      s""""cpus":$cpus,"default_parallelism":$defaultParallelism,""" +
      s""""nominal_par_ms":${num(nominalParMs)},""" +
      s""""runs":$runsJson,"heap_mb_before":$heapJson,"host_env":$envJson,""" +
      s""""minhash":$mhJson,"lsh":$lshJson,"corpus_build_sec":""" +
      s"""{"x10":${num(corpusBuild10)},"x30":${num(corpusBuild30)}}}"""
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

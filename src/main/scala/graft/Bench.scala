package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: times each headline query end-to-end (scan →
  * compute → noop sink, so no projected column is pruned away the way
  * a bare count() would allow) and prints ONE JSON line for the
  * driver's BENCH_r{N}.json.
  *
  * The top-level contract (metric/value/unit/queries/sf) is unchanged
  * round to round and is the FINAL stdout line; the `diag` evidence
  * the round-3 post-mortem asked for — per-entry RAW run times (a min
  * can mask a wobble; the raw pair shows it), post-GC heap before each
  * entry (memory-pressure drift across the ~40-entry sequence becomes
  * visible), the minhash verify-join decision (nPairs + whether the
  * guarded broadcast hint was applied), and the q72 LSH candidate
  * counts — ships on stderr and in `BENCH_DIAG.json` instead of
  * inside the contract line, because r4's inline diag outgrew the
  * driver's stdout tail capture and the official record came back
  * `parsed: null` (r4 verdict ask #2).
  */
object Bench {
  /** Query names the x10 / x30 scale probes re-run over the scaled
    * corpora (probe entries are these prefixed `x10_`/`x30_`, plus
    * the `_q72_lsh_auto` auto-sizing probe). Constants so
    * BenchReportSpec can assemble the REAL full entry roster and pin
    * the contract line under the driver's measured 2000-char tail
    * capture — the r4 `parsed: null` failure mode, gated against the
    * actual shape rather than a synthetic one.
    */
  val x10Queries: Seq[String] = Seq("q60_dedup_exact", "q64_ngram_jaccard",
    "q65_minhash_dedup", "q72_ann_lsh",
    "q76_dedup_clusters", "q86_curation_pipeline",
    "q89_decontamination", "q140_bloom_decontam",
    "q95_doc_chunking", "q96_unigram_surprisal",
    "q103_paragraph_dedup",
    "q122_repeated_ngrams",
    "q125_substring_spans")
  val x30Queries: Seq[String] = Seq("q65_minhash_dedup",
    "q122_repeated_ngrams", "q125_substring_spans")

  /** Whether one bench run was measured under contamination — the
    * predicate the validity retry keys on. Three INDEPENDENT
    * witnesses, never the measured wall time itself (so the retry
    * cannot select for lucky timings):
    *   (a) post-run all-core canary ≥ 2× the bench-start nominal
    *       (host delivered a fraction of the guest's cores);
    *   (b) janino compiles > 5 (the run paid generated-class
    *       compilation + C2 warmup that a steady-state deployment
    *       never repays);
    *   (c) summed task-seconds ≥ 3× the entry's historical floor
    *       (task time spans the whole run body, catching stretch
    *       episodes the point-sampled canary misses — the r7
    *       x10_q122 class). Sub-1 s task rows alias under the 0.1 s
    *       rounding and never condemn a run;
    *   (d) wall ≥ [[BenchReport.WallRatio]]× the entry's historical
    *       WALL floor (round 10): a delivery-collapse run does honest
    *       work slowly — task-clean, canary-clean, 2× honest wall
    *       (the r9 x30_q65 blind spot). The wall here reads against
    *       an EXTERNAL cross-run reference, not the run's own
    *       siblings, so the retry still cannot select for lucky
    *       timings — only for windows delivering history-normal
    *       speed. Floors under [[BenchReport.MinWallFloor]] are too
    *       noisy to ratio against and read as absent.
    * Absent witnesses (no row yet, no floor) read as clean.
    */
  def contaminatedRun(parMs: Option[Double], nominalParMs: Double,
                      janino: Option[Long], taskSec: Option[Double],
                      floor: Option[Double],
                      wallSec: Option[Double] = None,
                      wallFloor: Option[Double] = None): Boolean =
    parMs.exists(_ >= 2 * nominalParMs) ||
      janino.exists(_ > 5) ||
      floor.exists(f => taskSec.exists(t => t >= 1.0 && t >= 3 * f)) ||
      wallFloor.filter(_ >= BenchReport.MinWallFloor).exists(wf =>
        wallSec.exists(w => w >= 0 && w >= BenchReport.WallRatio * wf))

  /** Whether an entry qualifies for the end-of-roster revisit run
    * (r8 verdict ask #2): every run was condemned by the witnesses
    * (retries exhausted inside the same host episode), or the best
    * usable task row still sits > 1.5× the entry's history floor (a
    * uniformly stretched entry whose per-run ratios all read ~1×), or
    * (round 10) the best WALL still sits > 1.5× the history wall
    * floor — the delivery-collapse class whose work witnesses all
    * read clean (r9 x30_q65: best wall 12.48 s vs 6.77 s floor would
    * have earned a revisit this misses without the wall criterion).
    * Failed entries (run < 0) never revisit — a deterministic failure
    * must stay visible as a failure, not get extra chances.
    */
  def needsRevisit(runs: Seq[Double], contamFlags: Seq[Boolean],
                   bestUsableTask: Option[Double],
                   floor: Option[Double],
                   wallFloor: Option[Double] = None,
                   recordedWall: Option[Double] = None): Boolean =
    runs.nonEmpty && runs.forall(_ >= 0) && (
      (contamFlags.nonEmpty && contamFlags.forall(identity)) ||
        floor.exists(f => bestUsableTask.exists(_ > 1.5 * f)) ||
        wallFloor.filter(_ >= BenchReport.MinWallFloor).exists(wf =>
          // round 13 (r12 verdict ask #5): judge the wall the entry
          // would actually RECORD (the clean-preferred selection),
          // not runs.min — a min run condemned by the work witnesses
          // can sit under the gate while the recorded number breaches
          // it, and such an entry would otherwise ship straight into
          // a wall-floor discount without its one extra chance.
          // ≥, not >, matching [[BenchReport.degradedRuns]]'s wall
          // witness exactly so revisit fires iff the discount would.
          recordedWall.getOrElse(runs.min) >= BenchReport.WallRatio * wf))

  /** The scale every pre-round-8 diag file (no `sf` stamp) was
    * measured at: the driver's official corpus. Unstamped files are
    * ASSUMED to be this scale — so at any other sfDir they are
    * excluded rather than imported as systematically-wrong floors.
    */
  val legacyDiagSf = "/root/testdata/sf0.1"

  /** Bounded canary-gated idle-wait (round 11; predicate upgraded in
    * round 12): probe, then sleep `stepSec` and re-probe until the
    * LAST TWO readings both sit under 2× `refMs` (the same staleness
    * gate every other canary consumer uses) or the budget runs out.
    * Two CONSECUTIVE quiet readings, not one (r11 verdict ask #4): the
    * r11 x30 cool-down proceeded the moment a single reading dipped to
    * 52 ms inside an oscillating storm (`canary_par_ms:
    * [229.8, 171.8, 52.4]`) and the storm returned mid-entry — one
    * quiet sample inside an oscillation is a lull, not a window, so
    * every gate now demands a quiet reading that HELD for a step.
    * Returns (seconds actually waited, every reading taken — first =
    * the reading that decided the gate's starting state, last two =
    * the readings the caller proceeds under). Even a quiet launch
    * therefore spends one `stepSec` confirming; an exhausted budget
    * proceeds regardless — the wait only ever DELAYS measurement,
    * never changes what gets recorded, so recorded-wall semantics are
    * untouched. `probe` and `sleep` are injectable so the policy is
    * spec-testable without sleeping (BenchReportSpec). A non-positive
    * `refMs` (no reference) never waits. `quietRatio` is the staleness
    * gate (round 13): the default 2× is the shared canary threshold
    * every other consumer keeps; the roster-START gate passes
    * [[StartGateRatio]] because r12 opened on 95/99 ms against a
    * 101 ms 2× threshold inside an oscillating storm that immediately
    * re-stormed — marginal readings just under 2× are the storm's own
    * oscillation, not a window.
    */
  def awaitQuietWindow(probe: () => Double, refMs: Double, budgetSec: Int,
                       stepSec: Int = 15,
                       quietRatio: Double = 2.0,
                       sleep: Int => Unit = s => Thread.sleep(s * 1000L))
      : (Int, Seq[Double]) = {
    require(stepSec > 0, "awaitQuietWindow needs a positive step")
    var waited = 0
    val readings = scala.collection.mutable.ArrayBuffer(probe())
    def quiet(r: Double): Boolean = r < quietRatio * refMs
    def windowOpen: Boolean = readings.size >= 2 &&
      quiet(readings.last) && quiet(readings(readings.size - 2))
    while (refMs > 0 && waited < budgetSec && !windowOpen) {
      val step = math.min(stepSec, budgetSec - waited)
      sleep(step); waited += step
      readings += probe()
    }
    (waited, readings.toSeq)
  }

  /** Roster-START gate tuning (round 13, r12 verdict asks #2/#3).
    * Budget: the r12 start gate waited 90 s against a credit-throttle
    * storm whose refill takes tens of minutes (banked diag history:
    * storms follow ~8 min of sustained 32-core burn, and the driver
    * launches the bench right after a ~12-min test + correctness
    * burn, so the bucket is empty at launch) — a 5-min budget
    * exhausts inside the storm and the roster opens degraded. 15 min
    * is the verdict's cap: long enough to span the observed refill
    * horizon, bounded so a never-quiet host can't stall the round.
    * Ratio: the START gate demands readings under 1.5× the historical
    * nominal (boundary cool-downs keep the shared 2×) — r12 opened on
    * 95/99 ms vs a 101 ms 2× threshold inside an oscillation that
    * immediately re-stormed and self-discounted 9 entries; 1.5×
    * (≈76 ms there) rejects exactly that marginal shape. Applies ONLY
    * to the start gate: it runs once and protects the whole roster,
    * so a stricter predicate is worth minutes there and nowhere else.
    */
  val StartGateBudgetSec = 900
  val StartGateRatio = 1.5

  /** How many of the NEWEST non-stormed diag files feed the
    * roster-start gate's nominal reference (r11 ADVICE): the history
    * now spans 70+ files across rounds, and an unbounded median would
    * let months-stale readings from a differently-delivering host
    * dominate the gate. 15 newest ≈ the last two rounds' runs — recent
    * enough to track the current host, wide enough that one odd run
    * cannot move the median.
    */
  val NominalRecencyWindow = 15

  /** Median `nominal_par_ms` across the [[NominalRecencyWindow]]
    * newest non-stormed diag files, newest by the run-id timestamp in
    * the file name (any sf — the all-core canary measures host
    * delivery, not data scale; ≥ 3 files, same minimum as the floors;
    * the storm filter runs BEFORE the recency cut, so a run of
    * back-to-back storms narrows the window's age rather than emptying
    * it and disabling the gate). The roster-START gate's reference:
    * the run's own nominal is self-calibrated from samples taken at
    * launch, so a storm already in progress inflates it and a
    * self-referenced gate would read "quiet" — exactly how the r10
    * official run opened at load1 5.16 and began immediately. History
    * is the only reference that predates the storm. None on a fresh
    * repo: the gate then falls back to the self-nominal (and simply
    * never fires under a launch-time storm, same as the pre-r11
    * bench).
    */
  def historicalNominalParMs(dir: java.nio.file.Path): Option[Double] = {
    import org.json4s._
    if (!java.nio.file.Files.isDirectory(dir)) return None
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.list(dir)
    val re = "run_(\\d+)\\.json".r
    val files =
      try stream.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case re(id) => Some(id.toLong -> p)
          case _ => None
        }
      }.toList
      finally stream.close()
    val vals = files.sortBy(-_._1).iterator.flatMap { case (_, p) =>
      try {
        val j = org.json4s.jackson.JsonMethods.parse(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        val stormed = j \ "stormed" match {
          case JBool(b) => b
          case _ => false
        }
        if (stormed) None
        else j \ "nominal_par_ms" match {
          case JDouble(d) if d > 0 => Some(d)
          case JInt(i) if i > 0 => Some(i.toDouble)
          case JDecimal(d) if d > 0 => Some(d.toDouble)
          case _ => None
        }
      } catch { case _: Throwable => None }
    }.take(NominalRecencyWindow).toList
    if (vals.size < 3) None
    else { val s = vals.sorted; Some(s(s.size / 2)) }
  }

  /** Per-entry historical task_sec floor from the accumulated
    * `bench_diag/run_*.json` evidence files: for each file, the
    * entry's best USABLE task row (≥ 1 s — below that the 0.1 s
    * rounding aliases); across files, the MEDIAN of those bests.
    *
    * Median, not min: the diag history holds both stall-contaminated
    * runs (task_sec inflated 10–50×, the r5–r7 class) and mid-round
    * experiment runs of since-reverted query variants (r7 has two
    * full-roster runs where q122's 1× task cost is 10× below every
    * committed build's) — a min would import the experiment, a mean
    * the stalls. ≥ 3 files required so one odd run can't define an
    * entry's floor. Same statistic as scripts/adjudicate_bench.py's
    * history check, so the harness retries on exactly what the
    * adjudicator would flag.
    */
  def taskFloors(dir: java.nio.file.Path,
                 sfDir: Option[String] = None): Map[String, Double] =
    diagFloors(dir, sfDir)._1

  /** Both historical floors in one history pass: `_1` the task_sec
    * floors (see the scaladoc above), `_2` the round-10 WALL floors —
    * per file, each entry's best (minimum non-negative) wall from the
    * diag's `runs` arrays; across files, the median of those bests
    * (same ≥3-files minimum, same median-not-min rationale). Walls
    * are recorded at millisecond precision, so unlike task_sec there
    * is no sub-1 s aliasing cutoff — the quality gate is instead on
    * the FLOOR itself ([[BenchReport.MinWallFloor]], applied by the
    * consumers). `excludeRunId` drops that run's own file, mirroring
    * the adjudicator's history-minus-the-run-under-adjudication rule
    * (used by AdjudicationParitySpec; the live bench needs no
    * exclusion — its own file isn't written when floors load).
    */
  def diagFloors(dir: java.nio.file.Path,
                 sfDir: Option[String] = None,
                 excludeRunId: Option[Long] = None)
      : (Map[String, Double], Map[String, Double]) = {
    val perFile = perFileBests(dir, sfDir, excludeRunId)
    def medians(maps: List[Map[String, Double]]): Map[String, Double] =
      maps.flatten.groupBy(_._1).collect {
        case (entry, kvs) if kvs.size >= 3 =>
          val s = kvs.map(_._2).sorted
          entry -> s(s.size / 2)
      }
    (medians(perFile.map(_._1)), medians(perFile.map(_._2)))
  }

  /** Per-entry count of history files contributing a usable task row
    * (`_1`) / wall row (`_2`) to the floor basis — the floors'
    * coverage. `includeStormed = true` counts storm-stamped files too,
    * so the pair of calls shows what a stamping pass EVICTED (r12
    * ADVICE: retro-stamping 13 files dropped q80_media_features from
    * 4 to 2 contributing files, below the ≥3 minimum in
    * [[diagFloors]], silently disabling its 3× task-floor gate — the
    * bench-favorable direction — with nothing reporting it).
    * [[DiagAudit]].main prints entries whose non-stormed coverage sits
    * below the minimum while their any-file coverage meets it.
    */
  def diagFloorCoverage(dir: java.nio.file.Path,
                        sfDir: Option[String] = None,
                        includeStormed: Boolean = false)
      : (Map[String, Int], Map[String, Int]) = {
    val perFile = perFileBests(dir, sfDir, None, includeStormed)
    def counts(maps: List[Map[String, Double]]): Map[String, Int] =
      maps.flatten.groupBy(_._1).map { case (e, kvs) => e -> kvs.size }
    (counts(perFile.map(_._1)), counts(perFile.map(_._2)))
  }

  /** One (task-bests, wall-bests) pair per admitted history file —
    * the shared extraction behind [[diagFloors]] (medians) and
    * [[diagFloorCoverage]] (counts); admission rules (file-name gate,
    * scale guard, storm exclusion unless `includeStormed`, malformed-
    * file skip) are documented inline.
    */
  private def perFileBests(dir: java.nio.file.Path,
                           sfDir: Option[String],
                           excludeRunId: Option[Long],
                           includeStormed: Boolean = false)
      : List[(Map[String, Double], Map[String, Double])] = {
    import org.json4s._
    if (!java.nio.file.Files.isDirectory(dir))
      return Nil
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.list(dir)
    val files =
      try stream.iterator().asScala
        .filter(_.getFileName.toString.matches("run_\\d+\\.json")).toList
      finally stream.close() // Files.list holds the directory fd open
    def nums(v: JValue): List[Double] = v match {
      case JArray(xs) => xs.collect {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
        case JDecimal(d) => d.toDouble
      }
      case _ => Nil
    }
    val perFile: List[(Map[String, Double], Map[String, Double])] =
      files.flatMap { p =>
        try {
          val j = org.json4s.jackson.JsonMethods.parse(
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
          // scale guard: a local sf0.01 iteration run writes diag files
          // too, and its ~10x-lower task costs would poison the sf0.1
          // floors (and vice versa). Unstamped files (round <8) default
          // to the driver's official scale rather than matching
          // anything — floors from another scale are systematically
          // wrong, not a stray the median can absorb.
          val fileSf = j \ "sf" match {
            case JString(s) => s
            case _ => legacyDiagSf
          }
          val fileRunId = j \ "run_id" match {
            case JInt(i) => Some(i.toLong)
            case JLong(l) => Some(l)
            case _ => None
          }
          // storm-stamped files are excluded from the floor basis
          // (r10 ADVICE): a run that self-describes as measured inside
          // a degraded-delivery window carries inflated per-entry
          // bests, and admitting them drifts the medians upward —
          // silently loosening the 3× history-floor and 1.5× wall-
          // floor degradation gates for every future run. The stamp is
          // written by the bench itself (≥ 2 discounted entries ⇒
          // storm; see main()) — mirrored in
          // scripts/adjudicate_bench.py's history_floors.
          val stormed = j \ "stormed" match {
            case JBool(b) => b
            case _ => false
          }
          if (sfDir.exists(_ != fileSf) ||
              excludeRunId.exists(fileRunId.contains) ||
              (stormed && !includeStormed))
            None
          else {
            val tasks = j \ "host_env" match {
              case JObject(fields) => fields.flatMap { case (entry, v) =>
                val usable = nums(v \ "task_sec").filter(_ >= 1.0)
                if (usable.nonEmpty) Some(entry -> usable.min) else None
              }.toMap
              case _ => Map.empty[String, Double]
            }
            val walls = j \ "runs" match {
              case JObject(fields) => fields.flatMap { case (entry, v) =>
                val ok = nums(v).filter(_ >= 0)
                if (ok.nonEmpty) Some(entry -> ok.min) else None
              }.toMap
              case _ => Map.empty[String, Double]
            }
            Some((tasks, walls))
          }
        } catch { case _: Throwable => None } // a malformed diag file
        // (partial write, hand edit) must not take the bench down
      }
    perFile
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // diag histograms are opt-in (an extra agg job per LSH call that
    // only this harness reads)
    graft.ext.Similarity.collectLshDiag = true

    // run identity: stamped into BOTH the contract line and the diag,
    // and into the diag's per-run evidence file name. Round 6 lost its
    // official run's raw-run record because a same-day rerun overwrote
    // BENCH_DIAG.json — the committed diag showed x30_q122 at
    // [4.44, 3.59] while the committed BENCH_r06 line said 44.8 s, and
    // nothing proved which run the diag described. With the id in both
    // documents (and an accumulating bench_diag/ file per run) the
    // pairing is verifiable and unclobberable.
    val runId = System.currentTimeMillis()
    val startedAt = java.time.Instant.ofEpochMilli(runId).toString
    val t0Nanos = System.nanoTime()

    /** First field of /proc/loadavg (1-min runnable average) — the
      * host-contention witness for the r5/r6 one-entry-stalled-10×
      * bench class. -1.0 where the interface is absent.
      */
    def loadavg1(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    /** `some avg10` from /proc/pressure/<res> (fraction of the last
      * 10 s any task was stalled on the resource).
      */
    def psi(res: String): Double =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/pressure/$res")), "UTF-8")
        val m = java.util.regex.Pattern.compile("some avg10=([0-9.]+)")
          .matcher(txt)
        if (m.find()) m.group(1).toDouble else -1.0
      } catch { case _: Throwable => -1.0 }
    val loadStart = loadavg1()

    // the run-witness panel (task time/count/spill/peak listener, gc,
    // jit, janino, code cache, steal): sampled around every run body
    val witness = RunWitness.attach(spark)
    /** Fixed-work single-thread spin (~40 ms on an unloaded core):
      * measures the host's DELIVERED cpu speed at this instant. The
      * r5–r7 stall class stretches wall clocks 3–12× while every
      * guest-visible pressure counter (steal, PSI, loadavg, cgroup
      * throttle) reads quiet — this canary is the only in-artifact
      * witness that the slowdown was beneath the guest. The sink
      * defeats dead-code elimination; the warmup loop at bench start
      * takes the canary itself out of JIT-warmup territory.
      */
    @volatile var canarySink = 0L
    def spin(): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    def canaryMsNow(): Double = {
      val t0 = System.nanoTime()
      canarySink = spin()
      (System.nanoTime() - t0) / 1e6
    }
    /** The same fixed spin on every core at once (wall of the slowest
      * of `cpus` threads). The r7 stall signature is a FAST
      * single-thread canary beside 10–50× inflated summed task time on
      * unchanged task counts: the hypervisor briefly delivers only a
      * few cores' worth of cycles to the 32-vCPU guest, which a lone
      * spinning thread never notices. Single ~43 ms + parallel ≫
      * single ⇒ the entry ran during such an episode.
      */
    def canaryParMsNow(): Double = {
      val n = cpus.toInt
      val t0 = System.nanoTime()
      val ts = (1 to n).map { _ =>
        val th = new Thread(() => { canarySink = spin() })
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 5).foreach(_ => canaryMsNow())
    /** Healthy-delivery reference for the all-core canary: the MINIMUM
      * reading observed anywhere this bench run (seeded with three
      * startup samples after JIT warmup). Self-calibrating — if the
      * whole run is degraded the nominal floats high and the validity
      * retries in best() simply never fire, same as the pre-r7 bench.
      */
    var nominalParMs: Double = {
      canaryParMsNow(): Unit // JIT-warm the parallel path itself
      (1 to 3).map(_ => canaryParMsNow()).min
    }
    // ── roster-start quiet-window gate (r10 verdict ask #2) ─────────
    // The r10 official run opened at load1 5.16 and began immediately,
    // committing 30.5 s on a tree whose clean-window record reads
    // 24.7 s. The revisit pass already waits out busy windows; the
    // roster START was ungated. Reference = the HISTORICAL median
    // nominal (the self-nominal above was just sampled, so a storm in
    // progress at launch inflates it and a self-referenced gate reads
    // "quiet"); budget [[StartGateBudgetSec]] (minutes-scale, r12
    // verdict ask #2 — the storm it waits out is a credit refill that
    // takes tens of minutes, not a 90 s blip) in 15 s steps at the
    // stricter [[StartGateRatio]] predicate, then proceed regardless
    // and let the discount machinery self-describe. The wait only
    // delays the first entry — recorded-wall semantics are untouched.
    val startGateRef = historicalNominalParMs(
      java.nio.file.Paths.get("bench_diag")).getOrElse(nominalParMs)
    val (startWaitSec, startReads) =
      awaitQuietWindow(() => canaryParMsNow(), startGateRef,
        budgetSec = StartGateBudgetSec, quietRatio = StartGateRatio)
    // keyed on whether any STALE reading was observed, not waited>0
    // (r12 ADVICE): the two-consecutive-quiet predicate makes even a
    // quiet launch spend one confirm step (waited=15), so waited>0 no
    // longer distinguishes "rode out a storm" from "quiet launch,
    // confirmed" — and the nominal recalibration below is only
    // meaningful in the former (the launch samples were storm-taken)
    val sawStale = startGateRef > 0 &&
      startReads.exists(_ >= StartGateRatio * startGateRef)
    if (sawStale) {
      System.err.println(s"[bench] start gate: waited ${startWaitSec}s " +
        s"for a quiet window (all-core canary " +
        s"${startReads.head}ms -> ${startReads.last}ms vs historical " +
        s"nominal ${startGateRef}ms at ${StartGateRatio}x)")
      // the wait may have ended in a quieter window than launch: fresh
      // samples let the self-calibrating nominal start from the
      // healthy floor instead of the storm's
      nominalParMs =
        math.min(nominalParMs, (1 to 3).map(_ => canaryParMsNow()).min)
    } else System.err.println(s"[bench] start gate: canary " +
      s"${startReads.mkString("/")}ms vs historical nominal " +
      s"${startGateRef}ms at ${StartGateRatio}x — quiet launch, " +
      s"confirmed in ${startWaitSec}s")
    val startGateJson = BenchReport.gateJson(startWaitSec, startGateRef,
      startReads)
    // per-entry historical task_sec floors (median of per-file bests
    // across bench_diag/ — see taskFloors scaladoc): the cross-history
    // reference the r7 post-mortem asked for. The point-sampled canary
    // missed the r7 x10_q122 stall (best-run canary 92 ms vs nominal
    // 48.8 = 1.9×, under the 2× gate) while the run carried 1298
    // task-sec against a ~36 task-sec historical median — task_sec
    // spans the whole run body, so the floor catches episodes the
    // post-run point sample slips past.
    val (floors, wallFloorsAll) = diagFloors(
      java.nio.file.Paths.get("bench_diag"), Some(sfDir))
    // wall floors under the quality gate are unusable (sub-200ms
    // entries ratio-alias on scheduler jitter) — drop them here so
    // every consumer (retry, revisit, selection, discount mirror)
    // sees the same filtered map
    val wallFloors = wallFloorsAll.filter(_._2 >= BenchReport.MinWallFloor)
    System.err.println(s"[bench] task_sec floors loaded for " +
      s"${floors.size} entries, wall floors for ${wallFloors.size}, " +
      s"from bench_diag/ history")

    val rawRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val heapMb = scala.collection.mutable.LinkedHashMap[String, Long]()
    val entryEnv =
      scala.collection.mutable.LinkedHashMap[String, BenchReport.EntryEnv]()
    val minhashDiag = scala.collection.mutable.LinkedHashMap[String, String]()
    val lshDiag = scala.collection.mutable.LinkedHashMap[String, String]()
    // candidate_sec varies RUN TO RUN (it is the phase split the r5
    // x30_q65 wobble hunt needed), unlike n_pairs/verify_join which
    // are run-stable — so it is snapshotted after EVERY run inside
    // best(), not once after the last run, and published as an array
    // aligned with the raw_runs entry
    val candSecs = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()

    def prepare(entry: String): Unit = {
      // every entry starts from an empty cache. Registered queries
      // stage intra-query reuse to temp parquet since round 4 (the one
      // exception, q93's mvMaintain, uses a scoped persist/unpersist
      // pair that cleans up in finally), so this is belt-and-braces
      // for any stray state rather than a correctness requirement as
      // in r2/r3.
      spark.catalog.clearCache()
      // broadcast/shuffle blocks from prior entries are reclaimed by
      // ContextCleaner only when their refs are GC'd; without a forced
      // collection they pile up across the ~40 entries and late
      // entries measure allocation stalls from earlier queries'
      // garbage, not their own work (r3 saw 3-10x wobble on x10
      // entries; GraftSession now also runs the cleaner's periodic GC)
      System.gc()
      // stale-diag guard: only an entry that actually ran a minhash
      // verify join / LSH bucket join this prepare-cycle gets a diag
      // row — without the reset every other entry would report the
      // previous query's numbers as its own
      graft.ext.Dedup.lastMinhashDiag = None
      graft.ext.Similarity.lastLshDiag = None
      val rt = Runtime.getRuntime
      heapMb(entry) = (rt.totalMemory - rt.freeMemory) / (1L << 20)
      // host-load evidence, one row per RUN (prepare runs before each),
      // aligned with the entry's raw_runs array — see EntryEnv scaladoc
      val prev = entryEnv.getOrElse(entry,
        BenchReport.EntryEnv(Nil, Nil, Nil, Nil,
          taskFloor = floors.getOrElse(entry, -1.0),
          wallFloor = wallFloors.getOrElse(entry, -1.0)))
      // copy, not positional construction: the gc_ms/jit_ms rows are
      // appended after each RUN (in best()), so rebuilding here would
      // silently drop the earlier runs' deltas
      entryEnv(entry) = prev.copy(
        loadavg1 = prev.loadavg1 :+ loadavg1(),
        psiCpu = prev.psiCpu :+ psi("cpu"),
        psiIo = prev.psiIo :+ psi("io"),
        tOffsetSec = prev.tOffsetSec :+ (System.nanoTime() - t0Nanos) / 1e9,
        canaryMs = prev.canaryMs :+ math.rint(canaryMsNow() * 10) / 10)
    }
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def runIn(name: String, dir: String): Double =
      try timed {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    /** One fully-witnessed run of `body` under `entry`: prepare (cache
      * clear + GC + pre-run host rows), time the body, append the
      * post-run witness rows (gc/jit/task/janino/canaries/steal/
      * code-cache/spill/peak). Every run of every entry — standard,
      * validity retry, or end-of-roster revisit — goes through here,
      * so the diag arrays stay aligned index-for-index with however
      * many runs the entry ended up taking.
      */
    def instrumentedRun(entry: String, body: => Double): Double = {
      prepare(entry)
      // gc/jit sampled AFTER prepare: prepare's own System.gc() is
      // deliberate hygiene, not part of the run being attributed
      val gc0 = RunWitness.gcMsTotal(); val jit0 = RunWitness.jitMsTotal()
      val task0 = witness.settledTaskMs()
      val jan0 = RunWitness.janinoCompiles()
      // read AFTER settledTaskMs drained the listener bus, so the
      // count is settled at the same instant as the time
      val taskN0 = witness.taskN.get()
      // settledTaskMs above already waited for the listener bus to
      // drain, so the spill counter is settled too; peak resets here
      val spill0 = witness.spillBytes.get(); witness.peakExec.set(0)
      val (steal0, _, tick0) = RunWitness.cpuTicks()
      // walls are recorded PRE-ROUNDED to the 3 decimals the diag
      // renders (r12 ADVICE): the live storm stamp judges the
      // full-precision wall while DiagAudit recomputes from the
      // rendered diag, so a run sitting exactly on the 1.5x wall gate
      // could flip one discount between live and recompute and a
      // freshly banked unstamped file could fail DiagAuditSpec's
      // repo-wide invariant. n/1000.0 is correctly-rounded division,
      // so the stored double round-trips bit-identically through the
      // diag's %.3f render and json parse — live and recomputed
      // verdicts read the same value. A failed run's -1.0 is a fixed
      // point of the rounding.
      val t = math.rint(body * 1000) / 1000
      val (steal1, _, tick1) = RunWitness.cpuTicks()
      val e = entryEnv(entry)
      entryEnv(entry) = e.copy(gcMs = e.gcMs :+ (RunWitness.gcMsTotal() - gc0),
        jitMs = e.jitMs :+
          (if (jit0 < 0) -1L else RunWitness.jitMsTotal() - jit0),
        taskSec = e.taskSec :+
          math.rint((witness.settledTaskMs() - task0) / 100.0) / 10,
        taskN = e.taskN :+ (witness.taskN.get() - taskN0),
        janino = e.janino :+ (RunWitness.janinoCompiles() - jan0),
        canaryAfterMs = e.canaryAfterMs :+
          math.rint(canaryMsNow() * 10) / 10,
        canaryParMs = e.canaryParMs :+ {
          val p = math.rint(canaryParMsNow() * 10) / 10
          if (p < nominalParMs) nominalParMs = p // best delivery seen
          p
        },
        stealPct = e.stealPct :+ (if (tick1 > tick0)
          math.rint(10000.0 * (steal1 - steal0) / (tick1 - tick0)) / 100
        else -1.0),
        codeCacheMb = e.codeCacheMb :+ RunWitness.codeCacheMb(),
        spillMb = e.spillMb :+
          (witness.spillBytes.get() - spill0) / (1L << 20),
        peakExecMb = e.peakExecMb :+ witness.peakExec.get() / (1L << 20))
      graft.ext.Dedup.lastMinhashDiag.foreach { d =>
        candSecs(entry) =
          candSecs.getOrElse(entry, Seq.empty) :+
            math.rint(d.candidateSec * 100) / 100
      }
      t
    }

    /** Per-run contamination flags over EVERY recorded run of the
      * entry (witness arrays are appended once per run, so their
      * length is the run count). Used by the retry loop, the
      * clean-preferred min selection, and the revisit pass — one
      * predicate, three consumers.
      */
    def contamFlags(entry: String): Seq[Boolean] = {
      val e = entryEnv(entry)
      val walls = rawRuns.getOrElse(entry, Seq.empty)
      e.taskSec.indices.map { i =>
        contaminatedRun(e.canaryParMs.lift(i), nominalParMs,
          e.janino.lift(i), e.taskSec.lift(i), floors.get(entry),
          walls.lift(i), wallFloors.get(entry))
      }
    }

    /** The recorded number for an entry: the min over runs not
      * condemned, falling back to the min over all runs when every
      * run is (round-8 ADVICE: min-over-more-samples was a mild
      * downward bias for witness-tripping entries, and a contaminated
      * run could own the recorded number — selecting among clean runs
      * removes both). Condemnation here mirrors the ADJUDICATOR's
      * per-run rule ([[BenchReport.degradedRuns]]: task-row-first,
      * post-run canary only where the run's own task row aliases)
      * plus the janino warmup witness — NOT the retry loop's
      * OR-of-all-witnesses [[contaminatedRun]]: the point-sampled
      * canary can stamp a borderline reading on a run that did honest
      * task work (live case: x30_q122 in run_1786814537694 — its best
      * run, 4.637 s wall / 126.6 task-sec vs a 343 s floor gate, read
      * par 97.0 against a 97.0 gate and an OR-rule selection recorded
      * 6.856 s instead), and excluding such a run from selection
      * while the adjudicator would judge it clean would ship a number
      * the repo's own classifier calls needlessly pessimistic. The
      * retry loop keeps the conservative OR — more witnesses, more
      * samples — only the selection uses the adjudicator's rule. A
      * failed run still poisons the entry to its max so failures stay
      * visible.
      */
    def minSelect(entry: String, ts: Seq[Double]): Double =
      // round 10: the selection rule LIVES in BenchReport.selectedIndex
      // — one implementation shared with the discount mirror and
      // (via AdjudicationParitySpec) pinned to the Python adjudicator,
      // so the recorded number and the run the classifiers judge can
      // never diverge again (the r9 discounted_n:2-beside-1 artifact)
      ts(BenchReport.selectedIndex(ts, entryEnv(entry), nominalParMs))

    // the body of every entry, re-runnable after the roster completes:
    // the end-of-roster revisit pass (r8 verdict ask #2) re-executes a
    // flagged entry exactly as best() ran it (the scaled-corpus temp
    // dirs live until JVM exit, so x10/x30 bodies stay valid)
    val revisitBodies =
      scala.collection.mutable.LinkedHashMap[String, () => Double]()

    /** n timed runs of `body` (fresh cache + GC before each); records
      * the raw times under `entry` and returns the clean-preferred min
      * (first run pays one-time plan codegen/JIT a steady-state
      * workload never sees; a failed run poisons the entry to its max
      * so failures stay visible).
      */
    def best(entry: String, n: Int)(body: => Double): Double = {
      revisitBodies(entry) = () => {
        val t = instrumentedRun(entry, body)
        rawRuns(entry) = rawRuns.getOrElse(entry, Seq.empty) :+ t
        t
      }
      var ts = (1 to n).map(_ => instrumentedRun(entry, body))
      rawRuns(entry) = ts
      // measurement-validity retries: when EVERY standard run of the
      // entry was contaminated (see contaminatedRun's scaladoc for the
      // three witnesses and why they are independent of the measured
      // time), take up to 3 extra runs, stopping at the first clean
      // one. Every extra run's full witness row lands in the diag like
      // any other. Calibration notes: canary gate is 2×, not 3× — a
      // live all-runs-contaminated x10_q86 [37.9/62.0/18.7s vs ~6s
      // clean] read par 206/98/110 against nominal 49, so 2× catches
      // it and 3× missed; the janino gate is the r7 q93 artifact (run
      // 1 carried 54 compiles, run 2 a degraded window, committing
      // 6.6 s on a ~3 s entry); the task-floor gate is the r7
      // x10_q122 artifact (1298 task-sec on a ~36 task-sec entry with
      // every post-run canary under the 2× gate).
      var extra = 0
      while (extra < 3 && ts.forall(_ >= 0) &&
          contamFlags(entry).forall(identity)) {
        val e = entryEnv(entry)
        System.err.println(s"[bench] $entry: all ${ts.size} runs " +
          s"contaminated (par ${e.canaryParMs.takeRight(ts.size).mkString("/")}ms" +
          s" vs nominal ${nominalParMs}ms, janino " +
          s"${e.janino.takeRight(ts.size).mkString("/")}, task " +
          s"${e.taskSec.takeRight(ts.size).mkString("/")}s vs floor " +
          s"${floors.getOrElse(entry, -1.0)}) — extra run ${extra + 1}")
        ts = ts :+ instrumentedRun(entry, body)
        rawRuns(entry) = ts
        extra += 1
      }
      minSelect(entry, ts)
    }

    // JVM/codegen/reader warmup outside the timed loop
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    SparkEntry.headlines.headOption.foreach(n => runIn(n, sfDir))

    def captureMinhash(entry: String): Unit =
      graft.ext.Dedup.lastMinhashDiag.foreach { d =>
        // Double.toString, not the f-interpolator: %f formats via the
        // JVM default locale, so a comma-decimal locale would emit
        // invalid JSON in the diag file. candidate_sec is the per-run
        // array collected in best() (aligned with raw_runs), so the
        // phase split of EVERY run is on record, including a wobble
        // that lands only on a non-min run.
        val cs = candSecs.getOrElse(entry, Seq.empty).mkString("[", ",", "]")
        minhashDiag(entry) =
          s"""{"n_pairs":${d.nPairs},"verify_join":"${d.verifyJoin}",""" +
            s""""candidate_sec":$cs}"""
      }
    def captureLsh(entry: String): Unit =
      // the thunk runs the histogram job HERE, after best() stopped
      // the timer — the measured entry never pays for its own diag
      graft.ext.Similarity.lastLshDiag.foreach { thunk =>
        val d = thunk()
        lshDiag(entry) = s"""{"n_candidates":${d.nCandidates},""" +
          s""""n_buckets":${d.nBuckets},"max_bucket":${d.maxBucket}}"""
      }

    /** One auto-sized LSH pair-search probe over `dir`'s embeddings:
      * plane count from autoPlanes(n, target=8 — the 1× family's
      * measured occupancy). Shared by the x10 and x30 entries so the
      * two scale points of the occupancy-held fit can never
      * desynchronize on harness details.
      */
    def lshAutoProbe(dir: String, entry: String, runs: Int): (String, Double) = {
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val planes = graft.ext.Similarity.autoPlanes(n, targetPerBucket = 8)
      System.err.println(s"[bench] $entry: n=$n -> nPlanes=$planes")
      val t = best(entry, runs) {
        try timed {
          graft.ext.Similarity.lshNeighborPairs(
            spark.read.parquet(s"$dir/embeddings.parquet"),
            dim = 64, threshold = 0.3, nPlanes = planes)
            .write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $entry failed: ${e.getMessage}")
          -1.0
        }
      }
      captureLsh(entry)
      entry -> t
    }

    // ── inter-group cool-downs (r10 verdict ask #3) ────────────────
    // Evidence across the ten r10 diags: runs launched after ≥40 min
    // idle land 24–27 s clean; runs inside a sustained-burn window
    // land 29–31 s with discounts — and the roster itself burns
    // ~25 min of 32-core work, long enough to manufacture the very
    // throttle window it then discounts. A bounded (≤60 s) canary-
    // gated pause at each group boundary lets a building throttle
    // drain before the next group measures under it; since round 12
    // the gate demands TWO consecutive quiet readings (see
    // awaitQuietWindow), so a clean boundary costs one confirm step.
    // Evidence (waited_s + every reading) lands in the diag's
    // `cooldowns` object so a judge can see the boundary canaries were
    // nominal on both sides.
    val cooldowns = scala.collection.mutable.LinkedHashMap[String, String]()
    def coolDown(group: String): Unit = {
      val (w, reads) = awaitQuietWindow(() => canaryParMsNow(),
        nominalParMs, budgetSec = 60)
      cooldowns(group) = BenchReport.gateJson(w, nominalParMs, reads)
      if (w > 0) System.err.println(s"[bench] cool-down before $group: " +
        s"waited ${w}s (canary ${reads.head}ms -> ${reads.last}ms vs " +
        s"nominal ${nominalParMs}ms)")
      else System.err.println(s"[bench] cool-down before $group: canary " +
        s"${reads.head}ms vs nominal ${nominalParMs}ms — nominal, skipped")
    }

    // ── 30× probe for the three heaviest linear ops — FIRST on the
    // roster (r11 verdict ask #1) ──────────────────────────────────
    // Through round 11 this group opened at t≈458 s of sustained
    // 32-core burn, precisely the host's ~8-minute credit-throttle
    // onset documented across 71 diags — the r11 official run retried
    // x30_q65 seven times over ~6 minutes inside that window and still
    // recorded 1.93× its honest floor, because no affordable boundary
    // cool-down can out-wait a credit refill that takes tens of
    // minutes. Running the roster's heaviest, floor-gated entries
    // right after JIT warmup puts them inside the same quiet window
    // the roster-start gate already buys. The r2 concern with probes
    // running early (headlines measured against a storage pool
    // pre-loaded with scaled intermediates) no longer applies:
    // prepare() clears the cache and forces a collection before every
    // run, and registered queries stage intra-query reuse to temp
    // parquet rather than the storage pool (round 4).
    // The x30 corpus turns the linearity argument into a two-point
    // fit: with 10× and 30× both recorded, a hidden super-linear term
    // shows up as a ratio-of-ratios > 3 (r3 VERDICT ask #5). Corpus
    // ~30× sf0.1 documents ≈ 170 MB parquet — comfortable in the
    // sandbox.
    var corpusBuild30 = -1.0
    val x30Probe: Seq[(String, Double)] = {
      coolDown("x30")
      var dir30: String = null
      corpusBuild30 = timed { dir30 = buildScaledCorpus(spark, sfDir, copies = 30) }
      // three runs (was two through r6): both recorded x30 stalls
      // (r5 x30_q65 19 s, r6 x30_q122 44.8 s) needed EVERY run of the
      // entry contaminated to own the committed min, and a 44.8 s
      // record means both r6 runs stalled — a third sample at ~3-10 s
      // apiece is cheap insurance, and the per-run host_env rows say
      // which runs were measured under load
      val fixed = x30Queries.map { n =>
        val entry = s"x30_$n"
        val t = best(entry, 3)(runIn(n, dir30))
        captureMinhash(entry)
        entry -> t
      }
      // the auto-planes sizing rule's SECOND scale point (x10 below is
      // the first): with occupancy targeted at the 1× family's ~8 per
      // bucket, linear candidate growth across x10 AND x30 is the
      // two-point fit that separates "held occupancy" from "got lucky
      // at one scale" — same argument the fixed x10/x30 pairs make for
      // the minhash family
      fixed :+ lshAutoProbe(dir30, "x30_q72_lsh_auto", runs = 3)
    }

    // ── 10× dedup/ANN scale probe — second, still inside the fresh-
    // credit window ───────────────────────────────────────────────
    // The x10 group is the roster's longest burn (13 entries × 3 runs)
    // and carries its own floor-gated entries (x10_q86, x10_q65), so
    // it runs immediately after x30 rather than after the ~40-entry
    // headline group. Same corpus construction: near-dup structure is
    // preserved WITHIN each copy and absent ACROSS copies (every token
    // gets a per-copy tag; embeddings get a per-copy diagonal ±1 sign
    // flip, which keeps within-copy cosines bit-identical and
    // decorrelates cross-copy pairs). True output therefore grows
    // LINEARLY in corpus size — so wall-time growth beyond ~10× on
    // these entries would expose super-linear engine behavior (an N²
    // candidate path would show ~100×). Three runs, not two:
    // BENCH_r03 recorded x10_q65 at 12× its 1× time while a clean
    // rerun of the same sequence measured 1.4× — an environmental
    // stall, not a plan property — and a third sample plus the
    // raw-runs diag makes one contaminated timing unable to own the
    // recorded number.
    var corpusBuild10 = -1.0
    val x10Probe: Seq[(String, Double)] = {
      coolDown("x10")
      var dir10: String = null
      corpusBuild10 = timed { dir10 = buildScaledCorpus(spark, sfDir, copies = 10) }
      val fixed = x10Queries.map { n =>
        val entry = s"x10_$n"
        val t = best(entry, 3)(runIn(n, dir10))
        captureMinhash(entry); captureLsh(entry)
        entry -> t
      }
      // autoPlanes demonstration: the same pair search at 10× with the
      // sizing rule applied (nPlanes from the corpus count, the way a
      // 100 TB deployment would size it from table statistics) instead
      // of q72's fixed 8-plane family. x10_q72_ann_lsh above shows the
      // FIXED family's occupancy growing linearly (candidates
      // quadratically); this entry's lsh diag row shows the rule
      // pulling occupancy back to the target and candidates back to
      // ~linear — the PLANS.md q72 analysis as a measured record
      // rather than an argument (r4 verdict ask #3 follow-through).
      // target = the 1× family's MEASURED occupancy (~2000 vectors
      // over 252 populated buckets ≈ 8/bucket), so the probes test
      // the rule's actual scale claim — occupancy held CONSTANT as
      // the corpus grows — not merely "fewer candidates than fixed"
      fixed :+ lshAutoProbe(dir10, "x10_q72_lsh_auto", runs = 3)
    }

    // the headline (1×) group runs LAST — it is ~40 individually-light
    // entries, so a late-roster throttle inflates each by far less in
    // absolute terms than it inflated the scale probes it used to hit,
    // and the canary-gated cool-down before the group (the "before
    // whatever runs last" boundary the r11 verdict asked to keep) plus
    // the end-of-roster revisit pass cover the residual risk
    coolDown("headlines")

    // streaming-ingest throughput: parse+flatten+stamp+partitioned write
    // of 100k generated purchase events (the reference producer tops out
    // at ~2 events/s; this measures the engine's single-node ceiling)
    val ingestSec = {
      import spark.implicits._
      val gen = graft.generator.EventGenerator.generate(
        graft.generator.EventGenerator.defaultProducts, 100000)
      // stage the envelope strings across partitions the way a real
      // feed arrives (a Seq.toDF LocalRelation plans as ONE task, so
      // it would serialize parse+write behind a single core and
      // measure that artifact instead of the engine)
      val raw = spark.sparkContext.parallelize(
        gen.purchases.map(graft.generator.EventGenerator.toJson),
        cpus.toInt).toDF("value")
      best("ingest_parse_write_100k", 2) {
        val outDir = java.nio.file.Files.createTempDirectory("bench-silver")
        graft.Staging.trackForCleanup(outDir) // reaped at JVM exit
        val out = outDir.toString
        timed {
          graft.ingest.Silver.writeSilver(
            graft.ingest.Silver.parsePurchases(raw), out)
        }
      }
    }

    // q93 runs split (r3 VERDICT ask): MAINTENANCE (staged partition
    // writes + pruned merges — scales with DELTA size) vs READ
    // (serving the tiny aggregate table — scales with MV size). The
    // headline `q93_incremental_mv` number stays their SUM, comparable
    // with prior rounds; the components are reported alongside. The
    // per-run pairs accumulate aligned with the entry's runs array and
    // the reported split is RE-DERIVED from whichever run owns the
    // recorded number AFTER selection (r9 ADVICE: tracking the
    // min-by-raw-sum here could describe a run the clean-preferred
    // selection excluded, so q93a+q93b no longer summed to q93).
    val q93Splits = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    def runQ93Split(): Double = {
      try {
        var root: String = null
        // components rounded to the same 3 decimals instrumentedRun
        // rounds the wall to, so q93a + q93b still sums exactly (at
        // the rendered precision) to the recorded q93 after rounding
        val tm = math.rint(timed {
          root = graft.queries.EventQueries.mvMaintain(spark, sfDir)
        } * 1000) / 1000
        val tr = math.rint(timed {
          graft.queries.EventQueries.mvRead(spark, root)
            .write.format("noop").mode("overwrite").save()
        } * 1000) / 1000
        q93Splits += ((tm, tr))
        tm + tr
      } catch { case e: Throwable =>
        System.err.println(s"[bench] q93 failed: ${e.getMessage}")
        q93Splits += ((-1.0, -1.0)) // keep alignment with the runs array
        -1.0
      }
    }

    val headlineResults = SparkEntry.headlines.map { n =>
      // q93 gets the x10 treatment (n=3, was 2): the r7 committed
      // artifact needed BOTH runs bad to record 6.6 s on a ~3.5 s
      // entry (run 1: janino=54 warmup; run 2: degraded window) — a
      // third sample plus the janino/task-floor retry above makes one
      // contaminated pair unable to own the recorded number
      val t = best(n, if (n == "q93_incremental_mv") 3 else 2) {
        if (n == "q93_incremental_mv") runQ93Split() else runIn(n, sfDir)
      }
      captureMinhash(n); captureLsh(n)
      n -> t
    }

    // ── end-of-roster revisit pass (r8 verdict ask #2) ─────────────
    // The x10/x30 entries run consecutively, so one multi-minute host
    // episode (the r8 diag's 92 s / 139 s raw runs) can hit the whole
    // scale group and exhaust every per-entry retry inside the same
    // storm. After the roster completes — minutes later by
    // construction — any entry whose every run was condemned by the
    // witnesses, or whose best usable task_sec still sits > 1.5× its
    // history floor, gets ONE more fully-witnessed run (after a
    // bounded wait for the all-core canary to read healthy again, so
    // the revisit isn't burned inside the same episode). The entry's
    // recorded number is then re-selected over ALL its runs by the
    // same clean-preferred rule as everyone else.
    val revisitUpdates: Map[String, Double] = {
      val flagged = rawRuns.keys.toList.filter { entry =>
        needsRevisit(rawRuns(entry), contamFlags(entry),
          BenchReport.bestUsableTask(entryEnv(entry)), floors.get(entry),
          wallFloors.get(entry),
          // the wall the entry would RECORD (clean-preferred
          // selection), not runs.min — see needsRevisit's round-13
          // note; failed entries never reach the wall criterion
          // (needsRevisit's runs.forall(_ >= 0) guard runs first)
          recordedWall = Some(minSelect(entry, rawRuns(entry))))
      }
      if (flagged.isEmpty) {
        System.err.println("[bench] revisit pass: no entries flagged — no-op")
        Map.empty
      } else {
        System.err.println(s"[bench] revisit pass: ${flagged.size} " +
          s"flagged (${flagged.mkString(", ")})")
        // adaptive backoff (r9 verdict ask #5): the r9 storm burned a
        // revisit run at 133.6 s because the single up-front ≤120 s
        // canary wait expired INSIDE the same host episode. The wait
        // is now a shared budget (~10 min across the whole pass, the
        // r9-observed episode scale) drawn down in 15 s steps — once
        // up front, then again before EACH flagged entry's run, so a
        // storm that outlives the first wait doesn't consume every
        // remaining revisit inside itself. A clean window spends 0 s.
        var backoffBudgetSec = 600
        def awaitHealthyWindow(context: String): Unit = {
          // same policy as the roster-start gate / group cool-downs,
          // one shared implementation (round 11) — here drawing down
          // the pass-wide budget so a storm that outlives the first
          // wait doesn't consume every remaining revisit inside itself
          val (w, reads) = awaitQuietWindow(() => canaryParMsNow(),
            nominalParMs, backoffBudgetSec)
          backoffBudgetSec -= w
          if (w > 0) System.err.println(s"[bench] revisit ($context): " +
            s"waited ${w}s for the all-core canary " +
            s"(${reads.head}ms -> ${reads.last}ms vs nominal " +
            s"${nominalParMs}ms; ${backoffBudgetSec}s backoff budget left)")
        }
        awaitHealthyWindow("pass start")
        flagged.flatMap { entry =>
          revisitBodies.get(entry).map { run =>
            awaitHealthyWindow(entry)
            val t = run()
            // re-capture the entry's minhash/LSH diag rows so the
            // candidate_sec array stays aligned with the now-longer
            // runs array (r9 ADVICE: a revisited minhash entry
            // shipped candidate_sec one element short)
            captureMinhash(entry); captureLsh(entry)
            val sel = minSelect(entry, rawRuns(entry))
            System.err.println(s"[bench] revisit $entry: extra run " +
              s"${math.rint(t * 1000) / 1000}s -> recorded $sel")
            entry -> sel
          }
        }.toMap
      }
    }

    val headlineFinal =
      (headlineResults :+ ("ingest_parse_write_100k" -> ingestSec))
        .map { case (k, v) => k -> revisitUpdates.getOrElse(k, v) }
    // the q93 split components, re-derived from the run that OWNS the
    // final recorded q93 number (selection may have excluded the
    // raw-min run, and a revisit may have replaced it) — so
    // q93a + q93b always sums to the recorded q93_incremental_mv
    val q93Components: Seq[(String, Double)] = (for {
      rec <- headlineFinal.collectFirst {
        case ("q93_incremental_mv", v) => v }
      runs <- rawRuns.get("q93_incremental_mv")
      i = runs.indexWhere(r => math.abs(r - rec) < 1e-12)
      if i >= 0 && i < q93Splits.size && q93Splits(i)._1 >= 0
    } yield Seq("q93a_mv_maintain" -> q93Splits(i)._1,
      "q93b_mv_read" -> q93Splits(i)._2)).getOrElse(Seq.empty)
    val results =
      (headlineFinal ++ q93Components ++
        (x10Probe ++ x30Probe)
          .map { case (k, v) => k -> revisitUpdates.getOrElse(k, v) })
    // assembly lives in BenchReport (spec-pinned: parseable JSON,
    // single small contract line, non-finite timings sanitized). The
    // diag outgrew the driver's stdout tail capture in r4 (the
    // official BENCH_r04.json came back `parsed: null`), so it ships
    // on stderr AND as a side file; the compact driver contract line
    // is the LAST thing on stdout
    // the adjudicator's discount count, computed in-process BEFORE the
    // diag write (moved up in round 11): the diag now carries the
    // `stormed` self-stamp — ≥ 2 discounted entries means the run was
    // measured inside a degraded-delivery window, and the floor
    // history (diagFloors here, history_floors in the script) excludes
    // such files so banked storm evidence can't drift the medians up
    // and loosen the degradation gates (r10 ADVICE). A single
    // discounted entry is a localized blip, not a storm — the file's
    // other ~40 per-entry bests are honest history and stay admitted.
    // Stamp semantics, pinned by DiagAuditSpec over the whole banked
    // history (r11 ADVICE): a rule-based stamp is reproducible from
    // the file alone (DiagAudit.recomputedDiscounts ≥ 2); a file
    // stamped BELOW that threshold must carry a `stormed_reason`
    // naming the manual evidence (a hand-run storm rehearsal, or a
    // pre-r10 storm the recompute is blind to because those files
    // carry no stamped wall floors). The bench itself only ever writes
    // the rule-based stamp.
    val discounted = BenchReport.discountedEntries(results, rawRuns,
      entryEnv, nominalParMs)
    val diag = BenchReport.diagJson(rawRuns, heapMb, minhashDiag, lshDiag,
      corpusBuild10, corpusBuild30, runId, startedAt, entryEnv,
      nominalParMs, sfDir, stormed = discounted.size >= 2,
      startGate = startGateJson, cooldowns = cooldowns,
      cpus = cpus.toInt,
      defaultParallelism = spark.sparkContext.defaultParallelism)
    // canonical latest-run file PLUS an accumulating per-run-id copy:
    // r6's official diag was lost when a rerun overwrote the canonical
    // file; the per-run file makes every run's evidence permanent and
    // the contract line's run_id names which file is the official
    // run's record
    // the append-only per-run file FIRST and in its OWN try: it is
    // the unclobberable record, so it must not share failure fate
    // with the canonical (overwritable) BENCH_DIAG.json write — a
    // read-only/disk-full canonical file would otherwise take the
    // permanent evidence down with it, the exact r6 gap this closes
    try {
      val dir = java.nio.file.Paths.get("bench_diag")
      java.nio.file.Files.createDirectories(dir): Unit
      java.nio.file.Files.write(dir.resolve(s"run_$runId.json"),
        diag.getBytes("UTF-8")): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[bench] per-run diag write failed: ${e.getMessage}") }
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DIAG.json"),
        diag.getBytes("UTF-8")): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[bench] diag file write failed: ${e.getMessage}") }
    System.err.println(s"[bench] diag: $diag")
    // (r8 verdict ask #5): the JSON a judge reads is self-describing —
    // a clean run ships "discounted":[] without anyone running the
    // script
    if (discounted.nonEmpty)
      System.err.println(s"[bench] entries needing environment " +
        s"discount: ${discounted.mkString(", ")}")
    val line = BenchReport.contractLine(results, sfDir, runId,
      loadStart, loadavg1(), discounted, cpus = cpus.toInt)
    // self-adjudication (r8 verdict ask #4): every official-scale run
    // writes ADJUDICATION_r{N}.md itself, so each round ships its own
    // classification without being asked. Runs BEFORE the contract
    // println (the contract line must stay the LAST stdout line) with
    // the subprocess's output routed to stderr; only at the official
    // corpus — a local sf0.01 iteration run must not overwrite the
    // round's adjudication with off-scale numbers.
    if (sfDir == legacyDiagSf) emitSelfAdjudication(line, runId)
    println(line)
    spark.stop()
  }

  /** Shell out to the repo's own adjudicator over this run's contract
    * line + diag evidence and write `ADJUDICATION_r{N}.md`, N inferred
    * as one past the newest GIT-TRACKED BENCH_r{N}.json — the driver
    * writes that file from this run's stdout at round close, so the
    * adjudication is named for the round it will land in. Tracked,
    * not merely present (r9 ADVICE): re-running the official-scale
    * bench after the driver drops an untracked BENCH_r{N}.json in the
    * worktree must keep emitting for round N (that file IS round N's
    * record, not a closed round), not jump to N+1. `SPARK_GRAFT_ROUND`
    * overrides the inference outright; a directory listing is the
    * fallback when git is unavailable. Best-effort: a missing python3
    * or script must never take the bench down.
    */
  def emitSelfAdjudication(contractLine: String, runId: Long): Unit =
    try {
      val re = "BENCH_r(\\d+)\\.json".r
      def trackedRounds(): Option[Seq[Int]] =
        try {
          val p = new ProcessBuilder("git", "ls-files", "BENCH_r*.json")
            .start()
          val outTxt = new String(p.getInputStream.readAllBytes(), "UTF-8")
          if (p.waitFor() != 0) None
          else Some(outTxt.linesIterator.map(_.trim).collect {
            case re(n) => n.toInt }.toSeq)
        } catch { case _: Throwable => None }
      def listedRounds(): Seq[Int] = {
        val stream = java.nio.file.Files.list(java.nio.file.Paths.get("."))
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala.map(_.getFileName.toString)
            .collect { case re(n) => n.toInt }.toSeq
        } finally stream.close()
      }
      val round = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption)
        .getOrElse(trackedRounds().getOrElse(listedRounds())
          .foldLeft(0)(math.max) + 1)
      val out = f"ADJUDICATION_r$round%02d.md"
      val tmp = java.nio.file.Files.createTempFile("bench-contract", ".json")
      java.nio.file.Files.write(tmp, contractLine.getBytes("UTF-8")): Unit
      val pb = new ProcessBuilder("python3", "scripts/adjudicate_bench.py",
        tmp.toString, s"bench_diag/run_$runId.json", "--out", out)
      pb.redirectErrorStream(true)
      val p = pb.start()
      // drain before waitFor: the ~50-line report fits a pipe buffer,
      // but draining first can never deadlock regardless
      val report = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val rc = p.waitFor()
      java.nio.file.Files.deleteIfExists(tmp): Unit
      System.err.println(s"[bench] self-adjudication (rc=$rc) -> $out\n" +
        report)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] self-adjudication failed: ${e.getMessage}")
    }

  /** N-copy corpus for the scale probes (see call sites for the
    * invariance argument). Written once to a temp dir in the SF layout
    * so the registered queries run unmodified against it.
    */
  def buildScaledCorpus(spark: SparkSession, sfDir: String, copies: Int): String = {
    val outDir = java.nio.file.Files.createTempDirectory(s"bench-x$copies")
    graft.Staging.trackForCleanup(outDir) // reaped at JVM exit
    val out = outDir.toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val tagged = (0 until copies).map { k =>
      docs
        .withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), "\\s+"),
            t => concat(t, lit("·" + k)))))
    }.reduce(_ unionByName _)
    tagged.write.mode("overwrite").parquet(s"$out/documents.parquet")
    // warm read-through OUTSIDE the timed loop: the corpus was written
    // milliseconds ago, so without this the first timed run races the
    // kernel's dirty-page writeback and pays it as phantom query time
    spark.read.parquet(s"$out/documents.parquet")
      .agg(sum(length(col("text")))).collect(): Unit
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val flipped = (0 until copies).map { k =>
      val rnd = new scala.util.Random(100 + k)
      val signs = array(Seq.fill(64)(
        lit(if (rnd.nextBoolean()) 1.0f else -1.0f)): _*)
      emb
        .withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        .withColumn("embedding",
          zip_with(col("embedding"), signs, (x, s) => x * s))
    }.reduce(_ unionByName _)
    flipped.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out
  }
}

package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: times each headline query end-to-end (scan →
  * compute → noop sink, so no projected column is pruned away the way
  * a bare count() would allow) and prints ONE JSON line for the
  * driver's BENCH_r{N}.json.
  *
  * The roster runs in three groups: the x30 scale probes, the x10
  * probes, then the ingest entry and the 1× headlines. Each entry
  * takes 2 or 3 fully-witnessed runs (fresh cache and a GC before
  * each). Every judgement reads this run's own evidence only; nothing
  * is read from earlier runs' diags:
  *   - a run is contaminated when its post-run all-core canary reads
  *     ≥ 2× the self-sampled nominal or it paid > 5 Janino compiles
  *     ([[contaminatedRun]]); an entry whose every run is contaminated
  *     takes up to 3 extra runs, stopping at the first clean one;
  *   - the recorded number is [[BenchReport.selectedIndex]]'s run: the
  *     min over runs neither degraded (task row ≥ 2× the entry's best
  *     usable row, or, where the row aliases under 1 s, canary ≥ 2×
  *     nominal) nor Janino-contaminated, else the min over all; an
  *     entry with a failed run records its slowest run;
  *   - the contract line's `discounted` names the entries whose
  *     selected run is degraded or whose every canary read ≥ 2×
  *     nominal ([[BenchReport.needsDiscount]]).
  *
  * The contract line (metric/value/unit/queries/sf plus the run's
  * stamps) is the FINAL stdout line; the per-run evidence ships on
  * stderr, in `BENCH_DIAG.json` and in `bench_diag/run_<id>.json`,
  * outside the contract line, because r4's inline diag outgrew the
  * driver's stdout tail capture and the official record came back
  * `parsed: null`.
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
    * predicate the validity retry keys on. Two independent witnesses,
    * never the measured wall time itself (so the retry cannot select
    * for lucky timings):
    *   (a) post-run all-core canary ≥ 2× the bench's nominal (host
    *       delivered a fraction of the guest's cores);
    *   (b) janino compiles > 5 (the run paid generated-class
    *       compilation + C2 warmup that a steady-state deployment
    *       never repays).
    * Absent witnesses (no row yet) read as clean.
    */
  def contaminatedRun(parMs: Option[Double], nominalParMs: Double,
                      janino: Option[Long]): Boolean =
    parMs.exists(_ >= 2 * nominalParMs) || janino.exists(_ > 5)

  /** The checkout's commit (`git rev-parse HEAD`), stamped into the
    * diag so a banked run names the code it measured. Best-effort:
    * "unknown" when git or the repository is unavailable — the bench
    * never fails on it.
    */
  def gitCommit(): String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40,64}")) out
      else "unknown"
    } catch { case _: Throwable => "unknown" }

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
      * retries in best() simply never fire.
      */
    var nominalParMs: Double = {
      canaryParMsNow(): Unit // JIT-warm the parallel path itself
      (1 to 3).map(_ => canaryParMsNow()).min
    }

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
        BenchReport.EntryEnv(Nil, Nil, Nil, Nil))
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
      * code-cache/spill/peak). Every run of every entry — standard or
      * validity retry — goes through here, so the diag arrays stay
      * aligned index-for-index with however many runs the entry ended
      * up taking.
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
      // renders: n/1000.0 is correctly-rounded division, so the stored
      // double round-trips bit-identically through the diag's %.3f
      // render and json parse — a judgement replayed from the diag
      // reads the value the bench judged. A failed run's -1.0 is a
      // fixed point of the rounding.
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
      * length is the run count) — the retry loop's predicate.
      */
    def contamFlags(entry: String): Seq[Boolean] = {
      val e = entryEnv(entry)
      e.taskSec.indices.map { i =>
        contaminatedRun(e.canaryParMs.lift(i), nominalParMs, e.janino.lift(i))
      }
    }

    /** n timed runs of `body` (fresh cache + GC before each); records
      * the raw times under `entry` and returns the clean-preferred min
      * (first run pays one-time plan codegen/JIT a steady-state
      * workload never sees; a failed run poisons the entry to its max
      * so failures stay visible).
      */
    def best(entry: String, n: Int)(body: => Double): Double = {
      var ts = (1 to n).map(_ => instrumentedRun(entry, body))
      rawRuns(entry) = ts
      // measurement-validity retries: when EVERY standard run of the
      // entry was contaminated (see contaminatedRun's scaladoc for the
      // two witnesses and why they are independent of the measured
      // time), take up to 3 extra runs, stopping at the first clean
      // one. Every extra run's full witness row lands in the diag like
      // any other. Calibration notes: canary gate is 2×, not 3× — a
      // live all-runs-contaminated x10_q86 [37.9/62.0/18.7s vs ~6s
      // clean] read par 206/98/110 against nominal 49, so 2× catches
      // it and 3× missed; the janino gate is the r7 q93 artifact (run
      // 1 carried 54 compiles, run 2 a degraded window, committing
      // 6.6 s on a ~3 s entry).
      var extra = 0
      while (extra < 3 && ts.forall(_ >= 0) &&
          contamFlags(entry).forall(identity)) {
        val e = entryEnv(entry)
        System.err.println(s"[bench] $entry: all ${ts.size} runs " +
          s"contaminated (par ${e.canaryParMs.takeRight(ts.size).mkString("/")}ms" +
          s" vs nominal ${nominalParMs}ms, janino " +
          s"${e.janino.takeRight(ts.size).mkString("/")}) — extra run " +
          s"${extra + 1}")
        ts = ts :+ instrumentedRun(entry, body)
        rawRuns(entry) = ts
        extra += 1
      }
      ts(BenchReport.selectedIndex(ts, entryEnv(entry), nominalParMs))
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

    // ── 30× probe for the three heaviest linear ops — first on the
    // roster: the heaviest entries run right after JIT warmup, before
    // the roster's own sustained burn. prepare() clears the cache and
    // forces a collection before every run, and registered queries
    // stage intra-query reuse to temp parquet rather than the storage
    // pool, so the headlines after them measure their own work.
    // The x30 corpus turns the linearity argument into a two-point
    // fit: with 10× and 30× both recorded, a hidden super-linear term
    // shows up as a ratio-of-ratios > 3 (r3 VERDICT ask #5). Corpus
    // ~30× sf0.1 documents ≈ 170 MB parquet — comfortable in the
    // sandbox.
    var corpusBuild30 = -1.0
    val x30Probe: Seq[(String, Double)] = {
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

    // ── 10× dedup/ANN scale probe — second ─────────────────────────
    // The x10 group is the roster's longest burn (13 entries × 3
    // runs), so it runs immediately after x30 rather than after the
    // ~40-entry headline group. Same corpus construction: near-dup
    // structure is preserved WITHIN each copy and absent ACROSS copies
    // (every token gets a per-copy tag; embeddings get a per-copy
    // diagonal ±1 sign flip, which keeps within-copy cosines
    // bit-identical and decorrelates cross-copy pairs). True output therefore grows
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

    // the headline (1×) group runs LAST — it is ~40 individually-light
    // entries, so a late-roster throttle inflates each by far less in
    // absolute terms than it inflated the scale probes it used to hit
    val headlineResults = SparkEntry.headlines.map { n =>
      // q93 gets the x10 treatment (n=3, was 2): the r7 committed
      // artifact needed BOTH runs bad to record 6.6 s on a ~3.5 s
      // entry (run 1: janino=54 warmup; run 2: degraded window) — a
      // third sample plus the janino/canary retry above makes one
      // contaminated pair unable to own the recorded number
      val t = best(n, if (n == "q93_incremental_mv") 3 else 2) {
        if (n == "q93_incremental_mv") runQ93Split() else runIn(n, sfDir)
      }
      captureMinhash(n); captureLsh(n)
      n -> t
    }

    // the q93 split components, re-derived from the run that OWNS the
    // recorded q93 number (selection may have excluded the raw-min
    // run) — so q93a + q93b always sums to the recorded
    // q93_incremental_mv
    val q93Components: Seq[(String, Double)] = (for {
      rec <- headlineResults.collectFirst {
        case ("q93_incremental_mv", v) => v }
      runs <- rawRuns.get("q93_incremental_mv")
      i = runs.indexWhere(r => math.abs(r - rec) < 1e-12)
      if i >= 0 && i < q93Splits.size && q93Splits(i)._1 >= 0
    } yield Seq("q93a_mv_maintain" -> q93Splits(i)._1,
      "q93b_mv_read" -> q93Splits(i)._2)).getOrElse(Seq.empty)
    val results = headlineResults ++
      Seq("ingest_parse_write_100k" -> ingestSec) ++ q93Components ++
      x10Probe ++ x30Probe
    // assembly lives in BenchReport (spec-pinned: parseable JSON,
    // single small contract line, non-finite timings sanitized). The
    // diag outgrew the driver's stdout tail capture in r4 (the
    // official BENCH_r04.json came back `parsed: null`), so it ships
    // on stderr AND as a side file; the compact driver contract line
    // is the LAST thing on stdout
    val discounted = BenchReport.discountedEntries(results, rawRuns,
      entryEnv, nominalParMs)
    val diag = BenchReport.diagJson(rawRuns, heapMb, minhashDiag, lshDiag,
      corpusBuild10, corpusBuild30, runId, startedAt, entryEnv,
      nominalParMs, sfDir, commit = gitCommit(), cpus = cpus.toInt,
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
    if (discounted.nonEmpty)
      System.err.println(s"[bench] entries needing environment " +
        s"discount: ${discounted.mkString(", ")}")
    println(BenchReport.contractLine(results, sfDir, runId,
      loadStart, loadavg1(), discounted, cpus = cpus.toInt))
    spark.stop()
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

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * normalized-exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB posture):
  *  - exact/normalized dedup = hash groupBy on a digest → one shuffle
  *    on the digest key, map-side partial agg;
  *  - MinHash LSH: per-row signature is map-side only (O(k·shingles)),
  *    candidate generation shuffles on (band, band_hash) — never N²;
  *    oversized buckets (stop-shingle pathologies / skew) are capped;
  *  - SimHash: 64-bit fingerprint map-side; candidate pairs via
  *    pigeonhole blocking on 16-bit chunks (hamming ≤ 3 ⇒ some chunk
  *    equal), so the self-join is an equi-join, not a cross join;
  *  - exact verify (Jaccard) runs only on the candidate set.
  *
  * All expressions are Spark builtins (codegen'd, no UDFs);
  * determinism comes from xxhash64 + fixed multiply-add constants.
  */
object Dedup {

  /** What the last [[minhashDupPairs]]/[[incrementalDupPairs]] verify
    * join actually did: how many candidate pairs survived banding, and
    * whether the guarded broadcast hint was applied or dropped for the
    * exchange-based fallback. Surfaced so a bench/ops tail can record
    * the decision — a silent hint-drop is a plan change that would
    * otherwise be invisible in a wall-clock number (the round-3
    * x10_q65 post-mortem's ask).
    *
    * DIAGNOSTICS ONLY (r22): no control flow reads this global any
    * more — callers that need the candidate count (the
    * connectedComponents driver-collect gate) take it by value from
    * [[minhashDupPairsCounted]], so a concurrent query in the same
    * JVM can no longer race a stale smaller count into a safety gate.
    */
  final case class MinhashDiag(nPairs: Long, verifyJoin: String,
      candidateSec: Double = -1.0)
  @volatile var lastMinhashDiag: Option[MinhashDiag] = None

  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** 60-bit deterministic content hash computable in BOTH engines: the
    * first 15 hex chars of md5, parsed base-16 (fits signed 64-bit).
    * xxhash64 exists only in Spark; operators built on this hash are
    * DuckDB-oracle-checkable end to end (`CAST(('0x'||substr(md5(x),
    * 1,15)) AS BIGINT)` on the oracle side). Non-negative by
    * construction (< 2^60).
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Let-binding for column expressions: evaluates `c` ONCE per row and
    * exposes it to `f` as a lambda variable (single-element transform).
    * Interpreted HOF evaluation re-computes every argument expression
    * each time it appears — binding an expensive input (a regex split,
    * a hash array) makes each reference in the body a cached-value
    * lookup instead of a re-evaluation.
    */
  def bound(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Distinct word n-gram shingles from a token-array column. Built on
    * [[shingleSeq]] (zip of shifted slices): lambda bodies reference
    * ONLY their bound element variables, so nothing re-evaluates per
    * array element — safe even when `t` is an inline `split(...)`
    * expression (it evaluates O(n) times per ROW via the slice
    * arguments, never per element; the `transform`+`element_at(t, i)`
    * formulation this replaced re-ran the split per element → O(n²)).
    */
  def shinglesFromTokens(t: Column, n: Int = 3): Column =
    array_distinct(shingleSeq(t, n))

  /** Distinct word n-gram shingles straight from text. */
  def shingles(c: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(c), n)

  /** Ordered (non-distinct) n-gram array from a token array, built by
    * zipping n shifted slices of the array — `zip_with` lambdas
    * reference ONLY their lambda-bound element variables, so nothing
    * re-evaluates per element (the `transform`-with-outer-refs trap;
    * see [[shinglesFromTokens]] scaladoc). Work is O(|tokens|) per row
    * with no shuffle, no sort, no window.
    */
  def shingleSeq(t: Column, n: Int = 3): Column = bound(t) { tt =>
    val m = size(tt) - (n - 1) // number of n-grams
    val shifted = (0 until n).map(i => slice(tt, lit(i + 1), m))
    val zipped = shifted.reduceLeft((acc, next) =>
      zip_with(acc, next, (a, b) => concat(a, lit(" "), b)))
    when(size(tt) >= n, zipped).otherwise(array().cast("array<string>"))
  }

  /** Bulk shingle generation as ROWS. Returns (doc_id, extraCols…, s)
    * — NOT deduplicated per doc.
    *
    * Shape matters here: the n-gram array forms map-side via
    * [[shingleSeq]] (no per-element re-eval; the one extra
    * whole-array evaluation InferFiltersFromGenerate puts in the
    * Filter under Generate is O(|tokens|) per row), then ONE Generate
    * emits shingle rows. Compared to the earlier posexplode → window
    * `lead` formulation this removes the doc_id shuffle + sort
    * entirely — downstream aggregations (MinHash signatures, inverted
    * index) shuffle partial-aggregated per-doc state instead of every
    * token row, which is the 100 TB-friendly shape.
    */
  def explodedShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, extraCols: Seq[String] = Nil): DataFrame = {
    val keep = extraCols.map(col)
    docs
      .select(col(idCol).as("doc_id") +: keep :+
        tokens(col(textCol)).as("toks"): _*)
      // explode_outer: InferFiltersFromGenerate does not fire for outer
      // generates, so the shingle expression is NOT duplicated into a
      // Filter below the Generate (which would double the per-row HOF
      // work); the cheap isNotNull on the generated attribute drops the
      // null rows outer-explode emits for empty arrays
      .select(col("doc_id") +: keep :+
        explode_outer(shingleSeq(col("toks"), n)).as("s"): _*)
      .filter(col("s").isNotNull)
  }

  /** Ordered adjacent token pairs as (wa, wb) structs — the bigram
    * builder behind collocation mining (q123). Same zip-of-shifted-
    * slices discipline as [[shingleSeq]] (lambdas reference only their
    * bound variables, O(|tokens|) map-side); empty for sub-2-token
    * docs. Kept here so the production expression and its edge-case
    * spec exercise ONE definition.
    */
  def pairSeq(t: Column): Column = bound(t) { tt =>
    val m = size(tt) - 1
    when(size(tt) >= 2,
      zip_with(slice(tt, lit(1), m), slice(tt, lit(2), m),
        (a, b) => struct(a.as("wa"), b.as("wb"))))
      .otherwise(array().cast("array<struct<wa:string,wb:string>>"))
  }

  /** Exact-substring dedup span accounting (Lee et al.'s ExactSubstr
    * keep-one policy): every repeat of a ≥`w`-token span loses all but
    * one canonical copy. Returns one row per doc:
    * (doc_id, n_tokens, n_dup_tokens, dup_frac) where n_dup_tokens is
    * the EXACT number of token positions covered by removable (non-
    * canonical) duplicated `w`-gram occurrences — overlapping spans
    * merged by a per-doc interval-union sweep (sort by start, running
    * max of end, clamp overlap).
    *
    * Scale shape: positioned digests form map-side, ONE shuffle on the
    * digest for the canonical-pick window, ONE shuffle on doc_id for
    * the sweep; no pair generation and the corpus text itself never
    * reshuffles. All-integer arithmetic (the fraction is floor-scaled)
    * so results hash-compare bit-identically across engines.
    */
  def substringDupSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("bigint"))
    // positioned w-gram digests via the fused rolling-hash expression
    // (r21: replaces md5(array_join(slice(...))) — an O(w) string
    // build + cryptographic digest per position — with an
    // O(1)-amortized rolling 64-bit digest; grouping-key-only, see
    // graft.functions.TextHash for the collision argument. The
    // canonical-pick window below shuffles an 8-byte long per
    // occurrence instead of a 32-char digest string.)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val occ = base
      .select(col("doc_id"),
        posexplode(call_function("graft_gram_hashes", col("toks"), lit(w))))
      .select(col("doc_id"), col("pos").cast("bigint").as("i"),
        col("col").as("g"))
    val wCanon = Window.partitionBy(col("g")).orderBy(col("doc_id"), col("i"))
    val rm = occ
      .withColumn("rn", row_number().over(wCanon))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("i").as("s"), (col("i") + lit(w - 1)).as("e"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val cov = rm
      .withColumn("prev_max_e", max(col("e"))
        .over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("contrib",
        greatest(col("e")
          - greatest(col("s"), coalesce(col("prev_max_e") + 1, col("s")))
          + 1, lit(0L)))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("n_dup_tokens"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .withColumn("n_dup_tokens", coalesce(col("n_dup_tokens"), lit(0L)))
      .withColumn("dup_frac",
        // TRUE integer division (not floor of a double quotient), so
        // the all-integer claim above holds by construction rather
        // than by IEEE agreement
        expr("(n_dup_tokens * CAST(1000000 AS BIGINT)) div n_tokens")
          / lit(1000000.0))
  }

  /** Per-doc DISTINCT shingle-set size as a MAP-SIDE array expression
    * — the set-semantics denominator for Jaccard/containment, with no
    * corpus-scale count_distinct shuffle. One definition shared by
    * q64/q99 so both stay in lockstep with the oracles'
    * `len(list_distinct(...))`.
    */
  def distinctShingleCount(textCol: Column, n: Int = 3): Column =
    size(array_distinct(shingleSeq(tokens(textCol), n))).cast("bigint")

  /** Exact Jaccard similarity of two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact 3-gram Jaccard of two TEXT columns via the fused native
    * set expression ([[graft.functions.JaccardShingles]]) — value-
    * identical to `jaccard(shingles(a), shingles(b))` (byte-equality
    * gram sets, same raw division; TextHashSpec pins it) without the
    * per-element interpreted HOF chain. The verify-join hot path:
    * every candidate pair pays this once (r21 — it was ~100
    * task-seconds of the x30 q65 probe).
    */
  def jaccardTexts(a: Column, b: Column): Column =
    call_function("graft_jaccard_shingles", tokens(a), tokens(b), lit(3))

  // ── MinHash + LSH ─────────────────────────────────────────────────

  /** Universal hash family h_j(x) = (a_j·x + b_j) mod p over a base
    * xxhash64, with p = 2^31−1 and a_j,b_j < p so the arithmetic never
    * overflows a signed 64-bit long (Spark 4 runs ANSI mode — wrapping
    * multiply would throw). Constants from a seeded PRNG so signatures
    * are stable across runs/JVMs.
    */
  private val P = 2147483647L // 2^31 − 1 (Mersenne prime)

  private[graft] def hashFamily(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(k)((rnd.nextInt(Int.MaxValue - 2) + 1L,
      rnd.nextInt(Int.MaxValue - 1).toLong))
  }

  /** MinHash signature (array<bigint> of length k) over shingles.
    * Expression form — O(k·|sh|) interpreted HOF work per row; fine for
    * ad-hoc column use, but the dedup pipeline uses the codegen'd
    * explode+groupBy form in [[minhashSignatures]] instead.
    */
  def minhashSignature(sh: Column, k: Int = 64): Column = {
    val base = transform(sh, s => pmod(xxhash64(s), lit(P)))
    val comps = hashFamily(k).map { case (a, b) =>
      array_min(transform(base, h => pmod(h * lit(a) + lit(b), lit(P))))
    }
    when(size(sh) > 0, array(comps: _*))
      .otherwise(array().cast("array<bigint>"))
  }

  /** MinHash signatures from exploded (doc_id, s) shingle rows via a
    * hash-aggregate with k `min` columns: everything stays in
    * whole-stage codegen (no interpreted lambda per shingle), partial
    * aggregation runs map-side, so the one shuffle on doc_id carries
    * k pre-aggregated minima per doc, not the raw shingle rows
    * ([[explodedShingles]] itself is shuffle-free). Duplicate
    * shingles don't perturb `min`, so no per-doc dedup is needed.
    * Returns (doc_id, sig array<bigint>).
    */
  def minhashSignatures(exploded: DataFrame, k: Int = 64): DataFrame = {
    val hashes = exploded
      .select(col("doc_id"), pmod(xxhash64(col("s")), lit(P)).as("h"))
    val sigCols = hashFamily(k).zipWithIndex.map { case ((a, b), j) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"m$j")
    }
    hashes.groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** MinHash signatures as ONE map-side projection via the fused
    * native expression ([[graft.functions.MinhashSig]]) — values
    * BIT-IDENTICAL to [[minhashSignatures]] over
    * [[explodedShingles]] (MinhashSigSpec pins the equality per doc),
    * so banding/candidates/recall are unchanged. What changes is the
    * plan: the shingle explode, the 64-column hash aggregate and its
    * exchange disappear (r21 optimization — guide §1.2 step 2: the
    * shape was already right, the per-task work wasn't). Docs with no
    * shingle (< 3 tokens) are dropped, exactly the docs the aggregate
    * formulation never saw rows for. Returns (doc_id, sig).
    */
  def minhashSignaturesNative(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col(idCol).as("doc_id"),
        call_function("graft_minhash_sig",
          tokens(col(textCol)), lit(k)).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** Explode a signature into (band_id, band_hash) LSH keys. */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band_id"),
        xxhash64(slice(sig, b * rows + 1, lit(rows)), b).as("band_hash")))

  /** (doc_id, band_id, band_hash) rows straight from the documents via
    * the fused [[graft.functions.MinhashBands]] expression — band
    * hashes BIT-IDENTICAL to `explode(lshBands(sig, bands, k/bands))`
    * over [[minhashSignaturesNative]] (TextHashSpec pins it), with the
    * signature array, the interpreted slice/transform banding and the
    * struct rows all fused into one map-side pass (r21). Docs with no
    * shingle emit no rows, as before.
    */
  def lshBandRows(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(call_function("graft_minhash_bands",
          tokens(col(textCol)), lit(k), lit(bands))))
      .select(col("doc_id"), col("pos").as("band_id"), col("col").as("band_hash"))
  }

  /** Candidate near-duplicate pairs via MinHash LSH, then exact-Jaccard
    * verified. Returns (doc_id_a, doc_id_b, jaccard_sim).
    *
    * Pipeline shape (one linear pass, no self-join; the only persist
    * is the output-scale candidate pair set, counted for the
    * broadcast guard):
    *  1. map-side: shingles → signatures (partial-agg) → band keys;
    *  2. ONE shuffle on (band_id, band_hash) into a bounded collect
    *     ([[graft.functions.BoundedCollect]]): a bucket larger than
    *     `maxBucket` (stop-shingle / mass-duplication skew) finishes
    *     empty at O(maxBucket) memory — the skew guard costs no extra
    *     pass and no per-key materialization;
    *  3. in-bucket pair explode (≤ maxBucket² per bucket) + distinct;
    *  4. exact verify: candidate pair-sides broadcast, the corpus
    *     streams through ONE map-side join (texts re-pair in a tiny
    *     shuffle on the pair key) — at 100 TB the corpus is scanned
    *     once more but never shuffled or broadcast, and full-corpus
    *     shingle arrays never ride through any join.
    *
    * @param maxBucket skip buckets larger than this (skew/stop-shingle cap)
    */
  /** MinHash ESTIMATOR-ERROR audit, fully SQL-replayable: for every
    * pair sharing ≥1 shingle with exact 3-gram Jaccard ≥ `minJaccard`,
    * the k-component signature agreement (the unbiased Jaccard
    * estimate, E[matches/k] = J) next to the exact value — the table
    * that justifies a chosen k before trusting LSH at corpus scale.
    *
    * Unlike the production [[minhashSignatures]] (xxhash64 — Spark-
    * only), the base hash here is [[md5Hash60]] mod the same Mersenne
    * prime with the SAME seeded multiply-add family, so the ENTIRE
    * estimator — base hash, k permutations, per-pair agreement —
    * replays op-for-op in DuckDB ([[hashFamilySqlValues]] emits the
    * family as a VALUES list for the oracle). Shapes: the family is a
    * k-row broadcast; components form in one (doc, j) hash-agg;
    * exact pairs come from the inverted-index equi-join (output-scale,
    * the q64 shape); agreement joins key on (doc, j). At 100 TB this
    * audit runs on a shard sample — the estimator's error is
    * distribution-free, so a sample suffices.
    */
  /** @param pairBound upper bound on the scored pair count, known by
    *        value to the caller (e.g. the staged truth-pair footer
    *        count — the audit output is 1:1 with the pairs it scores).
    *        When present and small, the final total order runs as one
    *        single-partition sort ([[graft.Staging.boundedSort]])
    *        instead of a range `orderBy` whose boundary sampling
    *        re-executes the signature joins (r22, guide §2.4).
    */
  def minhashErrorAudit(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 32, minJaccard: Double = 0.1,
      stagedPairs: Option[DataFrame] = None,
      pairBound: Option[Long] = None): DataFrame = {
    // `stagedPairs`: an already-staged exactJaccardPairs frame at a
    // floor ≤ minJaccard (the truth-pair substrate is shared by the
    // audit/explain/sweep family, so callers that need several of them
    // stage it once); when absent the audit stages its own
    val pairs = stagedPairs
      .map(_.filter(col("jaccard_sim") >= minJaccard))
      .getOrElse(graft.Staging.checkpoint(
        exactJaccardPairs(docs, idCol, textCol, minJaccard), "mh-audit-pairs"))
    // signatures only for docs the audit will actually score: at
    // corpus scale pairs ≪ docs, so the k-component signature work
    // prunes from O(corpus·k) to O(paired·k). No distinct on the
    // exploded id list (r22): a left-semi probe side ignores
    // duplicate build rows, so the distinct's exchange was pure
    // latency.
    val pairedIds = pairs
      .select(explode(array(col("doc_id_a"), col("doc_id_b"))).as("doc_id"))
    // no (doc_id, s) distinct either (r22): `min` is
    // duplicate-insensitive, so set semantics cost nothing to drop —
    // and without the distinct the k-min aggregate below PARTIALLY
    // AGGREGATES MAP-SIDE, so its one exchange carries k pre-collapsed
    // minima per doc per partition instead of every distinct gram
    // string (guide §2.3 "aggregate before you shuffle"). The exact
    // Jaccard values come from `pairs`, never from this stream.
    val grams = explodedShingles(docs, idCol, textCol)
      .join(pairedIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("s"))
    val h = grams.select(col("doc_id"),
      pmod(md5Hash60(col("s")), lit(P)).as("h"))
    // k-column signature hash-aggregate (r22, guide §2.4/§1.2 — the
    // same shape as [[minhashSignatures]]/[[simhashes]]): one exchange
    // on doc_id with k codegen'd min columns, replacing the k-row
    // family crossJoin (k× row inflation through a (doc, j)-keyed
    // aggregate) + two (doc, j) joins + a final per-pair groupBy —
    // four exchanges and their AQE stage barriers collapse into one.
    // Component VALUES are bit-identical: the same seed-42 family
    // constants fold in as literals into the same
    // min(pmod(h*a + b, P)) arithmetic the fam-join computed, and the
    // per-pair agreement Σ[ca_j = cb_j] is the same sum written as a
    // 32-term expression instead of a count over k joined rows — the
    // DuckDB oracle replays the estimator op-for-op and stays green.
    val sigCols = hashFamily(k).zipWithIndex.map { case ((a, b), j) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"c$j")
    }
    val sigs = h.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val sigA = sigs.toDF("doc_id_a" +: (0 until k).map(j => s"ca_$j"): _*)
    val sigB = sigs.toDF("doc_id_b" +: (0 until k).map(j => s"cb_$j"): _*)
    val matches = (0 until k).map(j =>
      when(col(s"ca_$j") === col(s"cb_$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val scored = pairs
      .join(sigA, Seq("doc_id_a"))
      .join(sigB, Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard_sim"),
        matches.cast("bigint").as("sig_matches"))
      .withColumn("est_permille",
        expr(s"CAST(sig_matches * 1000 DIV $k AS BIGINT)"))
    pairBound match {
      case Some(n) =>
        graft.Staging.boundedSort(scored, n, "mh-audit-sorted")(
          col("doc_id_a"), col("doc_id_b"))
      case None => scored.orderBy(col("doc_id_a"), col("doc_id_b"))
    }
  }

  /** Exact 3-gram Jaccard pairs ≥ `minJaccard` via the inverted-index
    * equi-join (the q64 shape: output-scale, shuffles keyed on the
    * gram, never a pair explosion). Returns
    * (doc_id_a, doc_id_b, jaccard_sim) with sim 6dp-rounded — the
    * shared exact-truth substrate for the audit/explain operators.
    */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double): DataFrame = {
    val grams = explodedShingles(docs, idCol, textCol)
      .select(col("doc_id"), col("s")).distinct()
    val sz = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    grams.as("x")
      .join(grams.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_id_a"), col("y.doc_id").as("doc_id_b"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("doc_id_a"), col("n").as("na")), Seq("doc_id_a"))
      .join(sz.select(col("doc_id").as("doc_id_b"), col("n").as("nb")), Seq("doc_id_b"))
      .withColumn("jaccard_sim", round(col("i").cast("double") /
        (col("na") + col("nb") - col("i")).cast("double"), 6))
      .filter(col("jaccard_sim") >= minJaccard)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard_sim"))
  }

  /** Near-dup pair EXPLANATION — the forensics a curation pipeline
    * shows when someone asks "WHY was this pair flagged": for every
    * exact-Jaccard pair ≥ `threshold`, the longest CONTIGUOUS shared
    * token span and the count of shared positioned 3-grams. Classic
    * diagonal trick: matching gram occurrences (i in a, j in b) with
    * equal diagonal d = j − i that are consecutive in i form one
    * contiguous run; gaps-and-islands (i − row_number) finds run
    * lengths, longest run + 2 converts gram count to tokens.
    * Shapes: positioned grams form map-side; the match join keys on
    * (doc, gram) against the BOUNDED pair set; islands windows key on
    * (pair, diagonal). No pair explosion anywhere.
    */
  def neardupExplain(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.3,
      stagedPairs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = stagedPairs
      .map(_.filter(col("jaccard_sim") >= threshold))
      .getOrElse(exactJaccardPairs(docs, idCol, textCol, threshold))
    val pos = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), posexplode(bound(col("toks")) { tt =>
        when(size(tt) >= 3,
          transform(sequence(lit(0), (size(tt) - 3).cast("int")),
            k => array_join(slice(tt, k + 1, lit(3)), " ")))
          .otherwise(array().cast("array<string>"))
      }))
    val pa = pos.select(col("doc_id").as("doc_id_a"),
      col("pos").cast("bigint").as("i"), col("col").as("g"))
    val pb = pos.select(col("doc_id").as("doc_id_b"),
      col("pos").cast("bigint").as("j"), col("col").as("g"))
    val pts = pairs.join(pa, Seq("doc_id_a")).join(pb, Seq("doc_id_b", "g"))
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard_sim"),
        (col("j") - col("i")).as("d"), col("i")).distinct()
    val w = Window.partitionBy(col("doc_id_a"), col("doc_id_b"), col("d"))
      .orderBy(col("i"))
    pts
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy(col("doc_id_a"), col("doc_id_b"), col("jaccard_sim"),
        col("d"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id_a"), col("doc_id_b"), col("jaccard_sim"))
      .agg(
        sum(col("run")).cast("bigint").as("n_shared_positions"),
        (max(col("run")) + lit(2L)).cast("bigint").as("longest_span_tokens"))
      .orderBy(col("doc_id_a"), col("doc_id_b"))
  }

  /** The seeded multiply-add family as a SQL VALUES body (j, a, b) —
    * the oracle's replay of [[minhashErrorAudit]]'s permutations.
    */
  def hashFamilySqlValues(k: Int): String =
    hashFamily(k).zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")

  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 1000,
      broadcastPairLimit: Long = 4L << 20): DataFrame =
    minhashDupPairsCounted(docs, idCol, textCol, k, bands, threshold,
      maxBucket, broadcastPairLimit)._1

  /** [[minhashDupPairs]] plus the staged CANDIDATE count, returned by
    * value (r22, ADVICE item): callers that feed the pair frame into
    * [[connectedComponents]]' driver-collect fast path must pass the
    * bound explicitly — reading it back from the process-global
    * [[lastMinhashDiag]] (now diagnostics-only again) could pick up a
    * stale, smaller count from a concurrent query in the same JVM and
    * admit an unbounded collect. Candidates ≥ verified pairs, so the
    * count is a safe upper bound for the collect cutoff.
    */
  def minhashDupPairsCounted(docs: DataFrame, idCol: String,
      textCol: String,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 1000,
      broadcastPairLimit: Long = 4L << 20): (DataFrame, Long) = {
    // fail fast on a non-dividing banding: bands > k makes every band
    // slice EMPTY (all docs collide, every bucket overflows maxBucket,
    // the operator silently returns zero pairs); a non-dividing k
    // silently discards the trailing signature components
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k: k=$k, bands=$bands")
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val bandRows = lshBandRows(docs, idCol, textCol, k, bands)
    // staged + counted: the count is the broadcast-safety guard below,
    // and the disk stage ([[graft.Staging.checkpoint]]) makes the
    // verify join read the (tiny, output-scale) pair set from a file
    // instead of re-running the whole LSH pipeline — with no cache
    // entry left behind in the caller's session, and no eviction race
    // between the counted set and the joined set.
    // candidateSec spans the EAGER stage write (checkpoint runs the
    // shingle->signature->band->collect pipeline at call time) plus
    // the count: the r5 x30_q65 wobble (19 s vs a ~10 s r4 rerun with
    // IDENTICAL candidate counts and join strategy) needs the cost
    // SPLIT on record — candidate build vs verify join — so a
    // recurrence names its phase instead of restarting the hunt
    val tCand0 = System.nanoTime()
    // staged + footer-counted in one pass (no count() job — r21).
    // (A/B'd r22: rebuilding the pair SIDES on the driver from the
    // staged footers' files and broadcasting a LocalRelation did NOT
    // remove the broadcast-build job — BroadcastExchange materializes
    // through SparkPlan.executeCollectIterator, which LocalTableScan
    // does not override, so the "job-free" build still collected a
    // defaultParallelism-wide parallelize. Same job count, no wall
    // change; reverted to the staged read.)
    val (candidates, nPairs) = graft.Staging.checkpointCounted(bandRows
      .groupBy(col("band_id"), col("band_hash"))
      .agg(graft.functions.BoundedCollect
        .collectIds(col("doc_id"), maxBucket).as("ids"))
      .select(explode(col("ids")).as("doc_id_a"), col("ids"))
      .select(col("doc_id_a"), explode(col("ids")).as("doc_id_b"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .distinct(), "mh-cands")
    lastMinhashDiag = Some(MinhashDiag(nPairs,
      if (nPairs <= broadcastPairLimit) "broadcast" else "shuffle",
      (System.nanoTime() - tCand0) / 1e9))
    // single-scan text attach: explode each pair into its two sides,
    // broadcast-join the corpus once, re-pair with a tiny aggregation
    // keyed on the pair. The broadcast side is the operator's OUTPUT
    // scale (pairs surviving banding — ≪ corpus by construction, and
    // tunable via bands/maxBucket), and broadcasting it is what keeps
    // the CORPUS from shuffling: the unhinted alternative plans a
    // sort-merge join whose map stage writes a full corpus shuffle
    // even when AQE later downgrades the read side. The hint is
    // GUARDED, not assumed: past `broadcastPairLimit` pairs (a
    // duplicate-heavy corpus can stay under maxBucket per bucket yet
    // yield O(bucket²) pairs across many buckets) the hint is dropped
    // and the exchange-based join takes over — slower, but it
    // completes instead of failing on driver/broadcast limits. Such a
    // corpus has an output-size problem (tighten bands/threshold),
    // and the guard makes that degrade gracefully.
    val sides = candidates.select(col("doc_id_a"), col("doc_id_b"),
      explode(array(col("doc_id_a"), col("doc_id_b"))).as("doc_id"))
    val hintedSides = if (nPairs <= broadcastPairLimit) broadcast(sides) else sides
    (base.join(hintedSides, Seq("doc_id"))
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(
        min(when(col("doc_id") === col("doc_id_a"), col("text"))).as("text_a"),
        min(when(col("doc_id") === col("doc_id_b"), col("text"))).as("text_b"))
      .withColumn("jaccard_sim",
        round(jaccardTexts(col("text_a"), col("text_b")), 6))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard_sim")),
      nPairs)
  }

  /** LSH band-key index of a corpus: (doc_id, band_id, band_hash) —
    * the artifact an incremental curation pipeline PERSISTS (e.g. in
    * an [[graft.gold.AtomicTable]], appended batch by batch) so every
    * new batch can near-dup-check against the whole history without
    * ever rescanning it. bands×1 rows per doc, tiny next to the text.
    */
  def lshBandIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16): DataFrame = {
    // same fail-fast as minhashDupPairs: bands > k makes every band
    // slice empty (all docs collide on one hash, every stored bucket
    // overflows maxBucket downstream and incrementalDupPairs silently
    // returns zero pairs); a non-dividing k silently discards the
    // trailing signature components
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k: k=$k, bands=$bands")
    lshBandRows(docs, idCol, textCol, k, bands)
  }

  /** Incremental near-dup check: pairs between a NEW batch and an
    * EXISTING corpus reached only through its band index — the
    * daily-ingest face of [[minhashDupPairs]]. Returns
    * (new_id, old_id, jaccard_sim), exact-Jaccard verified.
    *
    * Shape at 100 TB (new batch ≪ corpus — a day's crawl vs years of
    * history): the batch's band keys equi-join the stored index (the
    * index side shuffles on band key ONCE per batch at most — with a
    * bucketed/pre-partitioned index table, zero times); the existing
    * corpus' TEXT is touched only for candidate ids (broadcast
    * semi-fetch), so history is never rescanned or reshuffled.
    * Within-batch duplicates are [[minhashDupPairs]] on the batch —
    * compose both for full coverage. Same hash family/banding as the
    * batch operator, so an id indexed yesterday collides with today's
    * near-duplicate as a joint run would — including the skew cap:
    * stored-index buckets larger than `maxBucket` are dropped from
    * candidate generation, mirroring the batch operator's
    * BoundedCollect drop (sized by the OLD bucket membership; a joint
    * run would also count the batch's own members, so parity at the
    * cap boundary is approximate by construction).
    *
    * @param existingIndex precomputed [[lshBandIndex]] of the corpus;
    *        pass None to derive it from `existingDocs` (tests, small
    *        corpora — production keeps it as a table)
    * @param newIndex precomputed [[lshBandIndex]] of the BATCH; a
    *        caller that also merges the batch's bands into the stored
    *        index (the streaming gate) passes its staged copy so the
    *        signature computation runs once per batch, not twice
    * @param stager how to materialize the candidate-pair frame. The
    *        default stages to JVM-lifetime temp dirs
    *        ([[graft.Staging.checkpoint]]) — correct for batch, but a
    *        per-micro-batch caller leaks one dir per batch; streaming
    *        callers pass the [[graft.Staging.scope]] stager so each
    *        batch reclaims its staging (the returned frame must then
    *        be consumed inside the scope)
    */
  def incrementalDupPairs(newDocs: DataFrame, existingDocs: DataFrame,
      idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      existingIndex: Option[DataFrame] = None,
      maxBucket: Int = 1000,
      broadcastPairLimit: Long = 4L << 20,
      newIndex: Option[DataFrame] = None,
      stager: (DataFrame, String) => DataFrame =
        graft.Staging.checkpoint): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val newBands = newIndex
      .getOrElse(lshBandIndex(newDocs, idCol, textCol, k, bands))
      .withColumnRenamed("doc_id", "new_id")
    val index = existingIndex
      .getOrElse(lshBandIndex(existingDocs, idCol, textCol, k, bands))
      .withColumnRenamed("doc_id", "old_id")
    // candidate pairs: batch band keys against the index. The batch
    // side is the small one — broadcast it so the index never moves
    // (an AQE-chosen shuffle join remains the fallback at the hint's
    // size cap). The semi-join keeps every OLD member of a touched
    // bucket, so the window count below is the full stored-bucket
    // size — buckets past `maxBucket` are dropped before pairing,
    // the batch twin of BoundedCollect's drop: without it one
    // pathological bucket (mass-duplicated boilerplate sharing a band
    // value) emits O(bucket) pairs PER new doc and the verify join
    // then fetches that many old texts. The cap shuffles only the
    // touched subset, never the whole index. Disk-staged + counted
    // like minhashDupPairs: the count guards the verify-side
    // broadcast, and no cache entry survives the call. The count rides
    // the stager's eager write as an Observation; no job runs for it.
    val touched = index
      .join(broadcast(newBands.select(col("band_id"), col("band_hash"))
        .distinct()), Seq("band_id", "band_hash"))
    val wBucket = Window.partitionBy(col("band_id"), col("band_hash"))
    val capped = touched
      .withColumn("__bn", count(lit(1)).over(wBucket))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
    val tCand0 = System.nanoTime()
    val staged = new org.apache.spark.sql.Observation()
    val candidates = stager(graft.Staging.counted(
      capped.join(broadcast(newBands), Seq("band_id", "band_hash"))
        .select(col("new_id"), col("old_id")).distinct(), staged), "inc-cands")
    val nPairs = graft.Staging.rowsOf(staged)
    lastMinhashDiag = Some(MinhashDiag(nPairs,
      if (nPairs <= broadcastPairLimit) "broadcast" else "shuffle",
      (System.nanoTime() - tCand0) / 1e9))
    val hinted = if (nPairs <= broadcastPairLimit) broadcast(candidates)
      else candidates
    // texts attach candidate-side only: history streams ONE map-side
    // semi-fetch keyed by candidate old ids; the new batch broadcasts
    val oldTexts = existingDocs
      .select(col(idCol).as("old_id"), col(textCol).as("old_text"))
      .join(hinted.select(col("old_id")).distinct(), Seq("old_id"))
    val newTexts = newDocs
      .select(col(idCol).as("new_id"), col(textCol).as("new_text"))
    candidates
      .join(broadcast(newTexts), Seq("new_id"))
      .join(oldTexts, Seq("old_id"))
      .withColumn("jaccard_sim",
        round(jaccardTexts(col("new_text"), col("old_text")), 6))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("new_id"), col("old_id"), col("jaccard_sim"))
  }

  // ── clustering / canonical selection ──────────────────────────────

  /** Connected components over near-duplicate pairs by iterative
    * min-label propagation: every node repeatedly adopts the smallest
    * label among itself and its neighbors until a fixpoint. Converges
    * in O(diameter) rounds (near-dup clusters are shallow — typically
    * 2-4 rounds); each round is one join + one aggregate, all on the
    * (small relative to the corpus) pair set. Deterministic: labels
    * are doc ids, min is order-free.
    *
    * Returns (doc_id, cluster_id) for every doc that appears in a
    * pair; singletons are absent (they're their own cluster).
    */
  /** @param pairBound an upper bound on the pair count already known
    *        to the caller (the minhash CANDIDATE count — true pairs
    *        survive the verify filter, so candidates ≥ pairs). When it
    *        fits `driverLimit`, the pair plan is collected DIRECTLY
    *        into the union-find — one execution, no staging round-trip
    *        (r21; the staged path previously wrote + re-read the pair
    *        set just to learn it was tiny). Unbounded callers keep the
    *        stage-then-decide path.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      driverLimit: Long = 1L << 22,
      pairBound: Option[Long] = None): DataFrame = {
    val spark = pairs.sparkSession
    val pr = pairs.select(col("doc_id_a"), col("doc_id_b"))
    // LSH + threshold leave a SPARSE pair set (pairs ≪ docs); below
    // the cutoff a driver-side union-find replaces ~diameter Spark
    // jobs with one collect — the standard hybrid in production dedup
    // pipelines. The iterative path below remains the unbounded-scale
    // fallback. The driver path reads ids as Long, so it is gated on
    // the id column actually BEING bigint — pairs with string/int ids
    // (simhash over arbitrary keys) take the type-generic iterative
    // path instead of crashing on getLong.
    val longIds = pr.schema.fields.take(2).forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    def unionFind(rows: Array[org.apache.spark.sql.Row]): DataFrame = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      rows.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val keys = parent.keySet ++ parent.values
      val assignments = keys.toSeq.sorted.map(k => (k, find(k)))
      import spark.implicits._
      assignments.toDF("doc_id", "cluster_id")
    }
    if (longIds && pairBound.exists(_ <= driverLimit))
      return unionFind(pr.collect())
    // no caller-supplied bound: disk-stage + footer-count (no count()
    // job — r21), consumed by the cutoff plus either the collect
    // (small path) or the edge build (iterative path); no cache entry
    // survives the call either way
    val (p, nPairs) = graft.Staging.checkpointCounted(pr, "cc-pairs")
    if (longIds && nPairs <= driverLimit)
      return unionFind(p.collect())
    // undirected edge list, both directions
    val edges = graft.Staging.checkpoint(
      p.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
        .union(p.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
        .distinct(), "cc-edges")
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("cluster_id", col("doc_id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst")
          .withColumnRenamed("cluster_id", "n_label"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("n_label")).as("n_min"))
      // staged per round: one materialization serves the convergence
      // probe AND the next round's join, and the read-back truncates
      // lineage — the plan stays O(1) per round where persist() would
      // let it grow with the iteration count
      val next = graft.Staging.checkpoint(
        labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
              .as("cluster_id")), s"cc-labels-$i")
      val changed = next.join(labels.withColumnRenamed("cluster_id", "old"),
        Seq("doc_id"))
        .filter(col("cluster_id") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    labels
  }

  /** End-to-end dedup: MinHash-LSH pairs → connected components →
    * per-cluster summary with the canonical (minimum-id) survivor.
    */
  def dedupClusters(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    // candidate count (≥ true pair count) threaded BY VALUE from the
    // counted variant (r22, ADVICE item — reading the shared
    // lastMinhashDiag here could race a concurrent query's smaller
    // count into the driver-collect safety gate): lets the clustering
    // collect the verified pairs directly when they provably fit the
    // driver cutoff (see connectedComponents)
    val (pairs, nCand) =
      minhashDupPairsCounted(docs, idCol, textCol, threshold = threshold)
    connectedComponents(pairs, pairBound = Some(nCand))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min(col("doc_id")).as("keep_doc_id"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .select(col("cluster_id"), col("cluster_size"), col("keep_doc_id"),
        concat_ws(",", transform(col("members"), _.cast("string")))
          .as("member_ids"))
  }

  // ── SimHash ───────────────────────────────────────────────────────

  /** 60-bit SimHash fingerprints over whitespace tokens, computed as
    * explode → hash-aggregate with 60 codegen'd `sum((h>>j)&1)` bit
    * counters + a token count, then majority vote per bit
    * (Σ±1 > 0 ⇔ 2·ones > n). One shuffle on doc_id, map-side partial
    * agg of 61 longs per doc — ~100× the interpreted HOF formulation.
    * Token hash is [[md5Hash60]] (not xxhash64) so the whole operator —
    * fingerprints, blocking, hamming filter — replays exactly in the
    * DuckDB oracle. Returns (doc_id, simhash bigint).
    */
  val SimhashBits = 60

  def simhashes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), md5Hash60(col("tok")).as("h"))
    val bitSums = (0 until SimhashBits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1L)).as(s"b$j"))
    val counts = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sim = (0 until SimhashBits).map(j =>
      when(col(s"b$j") * 2 > col("n"), shiftleft(lit(1L), j))
        .otherwise(lit(0L))).reduce(_ + _)
    counts.select(col("doc_id"), sim.as("simhash"))
  }

  /** Near-duplicate pairs by SimHash hamming distance ≤ maxDist (< 4):
    * pigeonhole on 4 × 15-bit chunks makes the candidate join an
    * equi-join on (chunk_id, chunk_value).
    */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist < 4, "pigeonhole blocking uses 4 chunks ⇒ maxDist ≤ 3")
    val withSim = simhashes(docs, idCol, textCol)
    // disk-staged: the blocking self-join reads it twice (see minhash)
    val chunked = graft.Staging.checkpoint(
      withSim.select(col("doc_id"), col("simhash"),
        explode(transform(sequence(lit(0), lit(3)),
          c => struct(c.as("chunk_id"),
            call_function("shiftright", col("simhash"), c * 15)
              .bitwiseAND(0x7FFFL).as("chunk_value")))).as("ch"))
      .select(col("doc_id"), col("simhash"),
        col("ch.chunk_id").as("chunk_id"), col("ch.chunk_value").as("chunk_value")),
      "sh-chunks")
    val a = chunked.select(col("chunk_id"), col("chunk_value"),
      col("doc_id").as("doc_id_a"), col("simhash").as("sim_a"))
    val b = chunked.select(col("chunk_id"), col("chunk_value"),
      col("doc_id").as("doc_id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("chunk_id", "chunk_value"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"), col("sim_a"), col("sim_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("bigint"))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_id_a"), col("doc_id_b"), col("hamming"))
  }
}

package graft.queries

import org.apache.spark.sql.functions._

/** Batch twins of the streaming semantics (SURVEY.md §2.9): the
  * reference's "daily rollup" is a tumbling window computed offline;
  * here the same shape at hourly grain over the `events` stream table.
  * The true streaming path (readStream + watermark + window) lives in
  * graft.streaming and is exercised by ScalaTest with MemoryStream —
  * batch/streaming share the same aggregation expressions.
  *
  * The hour bucket is emitted as a STRING (engine-specific timestamp
  * formatting differs; a formatted string hash-compares cleanly).
  */
object EventQueries {

  /** Per-user first-K distinct viewed items (K=20, deterministic
    * first-seen order) — the skew-guarded building block shared by the
    * co-occurrence (q126) and item-graph (q132) queries. NULL items
    * (missing $.k) are dropped BEFORE the cap window so they never
    * consume a slot — and so the Spark/DuckDB null-ordering divergence
    * (NULLS FIRST vs LAST) can't change which items make the cut.
    */
  /** q93's MAINTENANCE half — incremental MATERIALIZED-VIEW upkeep: a
    * daily-sales aggregate table kept current by merging the DELTA's
    * partial aggregates instead of recomputing history — the
    * incremental twin of the reference's dbt model
    * (`pipeline/dbt/.../gold/fct_purchases.sql:1-9` is row-level
    * incremental; this is the aggregate-level generalization, and
    * `fct_purchases.sql:24-27`'s `WHERE ts > (SELECT MAX ...)` is the
    * delta-selection contract it generalizes). Counts/sums are
    * mergeable partials: new = old + delta, and only keys PRESENT IN
    * THE DELTA are read back and rewritten (left join from the delta
    * side), so a 100 TB history costs nothing — maintenance work
    * scales with the DELTA's key footprint, and
    * AtomicTable.mergePartitioned rewrites only the MV files whose key
    * filters claim a delta key, under an atomic commit. The cutoff
    * splits a day mid-stream so the oracle (full recompute)
    * hash-checks BOTH merge paths: combine (day 20 spans base and
    * delta) and insert (days 21+ are delta-only).
    *
    * Split from [[mvRead]] so the bench can attribute cost honestly:
    * maintenance (staged partition writes + file-granular merges —
    * scales with delta size) vs serving the MV (a pruned scan of a tiny
    * aggregate table — scales with MV size). Returns the table root.
    */
  def mvMaintain(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    import graft.gold.AtomicTable
    val rootDir = java.nio.file.Files.createTempDirectory("q93-mv")
    // tracked like every other staged artifact: a bench run calls this
    // twice, each leaving a full AtomicTable snapshot history behind
    // without the exit sweep
    graft.Staging.trackForCleanup(rootDir)
    val root = rootDir.toString
    // a date, the type the MV's readers get back from the table
    val ev = Tables.load(s, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
    val cutoff = lit("2024-01-20 12:00:00").cast("timestamp")
    // ONE events scan produces both sides' partials (split by the
    // delta flag inside the aggregate key); the result is MV-scale
    // (days × types), so caching it is O(output) — and it is FULLY
    // consumed by the two merges below, so it unpersists before
    // return (no cache entry outlives the query).
    // repartition(event_date) before each merge keeps staging at
    // one file per partition dir — the MV is tiny, and without it
    // the hash-scattered aggregate stages a file per (task ×
    // date), whose footer reads dominate the next merge.
    val partials = ev
      .groupBy(col("event_date"), col("event_type"),
        (col("ts") >= cutoff).as("is_delta"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .withColumn("mv_key",
        concat_ws("|", col("event_date").cast("string"), col("event_type")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def side(delta: Boolean) =
        partials.filter(col("is_delta") === delta).drop("is_delta")
          .repartition(col("event_date"))
      AtomicTable.mergePartitioned(s, side(delta = false),
        root, "mv_key", "event_date")
      // an all-empty base (0-row corpus) commits nothing by design —
      // serve the combine from an empty current state instead of
      // reading a table that was never created
      val cur =
        if (AtomicTable.latestVersion(root).isDefined)
          AtomicTable.read(s, root).select(col("mv_key"),
            col("n_events").as("old_n"), col("sum_value").as("old_sum"))
        else partials.filter(lit(false)).select(col("mv_key"),
          col("n_events").as("old_n"), col("sum_value").as("old_sum"))
      val combined = side(delta = true).join(cur, Seq("mv_key"), "left")
        .select(col("event_date"), col("event_type"), col("mv_key"),
          (col("n_events") + coalesce(col("old_n"), lit(0L))).as("n_events"),
          (col("sum_value") + coalesce(col("old_sum"), lit(0.0))).as("sum_value"))
        .repartition(col("event_date"))
      // mergePartitioned evaluates its source once, into its staged
      // files, so the combine (whose lineage joins against the MV
      // table itself) needs no persist; every MV file carries a key
      // filter, so the merge rewrites only the files holding a combined
      // day-20 key and runs no key scan
      AtomicTable.mergePartitioned(s, combined, root, "mv_key", "event_date"): Unit
    } finally partials.unpersist(): Unit
    root
  }

  /** q93's READ half: serve the maintained MV — a scan of the tiny
    * aggregate table, independent of history size.
    */
  def mvRead(s: org.apache.spark.sql.SparkSession, root: String)
      : org.apache.spark.sql.DataFrame =
    if (graft.gold.AtomicTable.latestVersion(root).isEmpty) {
      // a 0-row corpus never commits an MV — an empty, schema-correct
      // serve is the right answer (matches serving an empty partition)
      import s.implicits._
      Seq.empty[(String, String, Long, Double)]
        .toDF("event_date", "event_type", "n_events", "sum_value")
    } else
      graft.gold.AtomicTable.read(s, root)
        .select(col("event_date"), col("event_type"), col("n_events"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("event_date"), col("event_type"))

  private def cappedItemSets(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val items = Tables.load(s, dir, "events")
      .filter(col("event_type") === "view")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("item"),
        col("ts"))
      .filter(col("item").isNotNull)
    val firstSeen = items.groupBy(col("user_id"), col("item"))
      .agg(min(col("ts")).as("first_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("first_ts"), col("item"))
    firstSeen
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("user_id"), col("item"))
  }

  /** The SQL twin of [[cappedItemSets]], shared by the q126/q132
    * oracles (CTEs `v`, `fs`, `capped`).
    */
  private val CappedSql = """
        WITH v AS (
          SELECT user_id, CAST(props->>'k' AS BIGINT) AS item, ts
          FROM events
          WHERE event_type = 'view' AND (props->>'k') IS NOT NULL),
        fs AS (SELECT user_id, item, MIN(ts) AS first_ts
               FROM v GROUP BY 1, 2),
        capped AS (
          SELECT user_id, item
          FROM (SELECT user_id, item,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY first_ts, item) AS rn
                FROM fs)
          WHERE rn <= 20)"""

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q50_hourly_events",
      (s, dir) =>
        Tables.load(s, dir, "events")
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00")
              .as("hour_str"),
            col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("total_value"),
            count_distinct(col("user_id")).as("n_users"))
          .orderBy(col("hour_str"), col("event_type")),
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_str,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1, 2
        ORDER BY hour_str, event_type"""),
      headline = true),

    QueryDef(
      "q51_sessionize",
      (s, dir) => {
        // session = gap > 30 min per user; session bounds + stats.
        // Window-function sessionization: lag → gap flag → running sum
        // as session id. Two window passes over the same (user_id, ts)
        // sort order — Catalyst reuses one shuffle+sort for both.
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        Tables.load(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull
              || unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L,
              lit(1L)).otherwise(lit(0L)))
          .withColumn("session_id", sum(col("new_sess")).over(byUser))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("session_value"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""
        WITH g AS (
          SELECT user_id, event_id, value, ts,
                 LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
          FROM events),
        f AS (
          SELECT user_id, event_id, value,
                 CASE WHEN prev_ts IS NULL
                        OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
                      THEN 1 ELSE 0 END AS new_sess
          FROM g),
        sess AS (
          SELECT user_id, value,
                 CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
          FROM f)
        SELECT user_id, session_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS session_value
        FROM sess
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    QueryDef(
      "q118_decayed_value",
      (s, dir) => {
        // exponentially time-decayed aggregate — the "decayed counter"
        // behind trending/recency scoring: each event contributes
        // value·exp(−age_days/30) relative to the corpus' max ts.
        // One 1-row max-ts broadcast + a map-side decay expression +
        // one hash agg; deterministic because the anchor is
        // data-derived, not wall-clock. The decayed contribution is a
        // libm exp() result SUMMED under the hash gate, so it follows
        // the q141/q145 fixed-point convention: each term floors to
        // 1e-9 units before an exact long sum (a one-unit per-term
        // engine disagreement can shift the total by 1e-9, which the
        // 2dp output rounding absorbs; a raw double sum would
        // accumulate ulp drift across every event in the type).
        // Bounded: value ≤ ~1e3, ≤ ~1e6 events/type at bench SF →
        // ≤ 1e18 units, within Long range.
        val ev = Tables.load(s, dir, "events")
        val anchor = ev.agg(max(col("ts")).as("t_max"))
        ev.crossJoin(broadcast(anchor))
          .withColumn("decayed_units",
            floor(col("value") * exp((unix_millis(col("ts")).cast("double")
              - unix_millis(col("t_max")).cast("double"))
              / lit(30.0 * 86400000.0)) * lit(1e9d)).cast("long"))
          .groupBy(col("event_type"))
          .agg(
            round(sum(col("value")), 2).as("raw_value"),
            round(sum(col("decayed_units")).cast("double") / lit(1e9d), 2)
              .as("decayed_value"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH a AS (SELECT MAX(ts) AS t_max FROM events)
        SELECT event_type,
               ROUND(SUM(value), 2) AS raw_value,
               ROUND(CAST(SUM(CAST(FLOOR(value * exp((CAST(epoch_ms(ts) AS DOUBLE)
                 - CAST(epoch_ms(t_max) AS DOUBLE)) / (30.0 * 86400000.0)) * 1e9)
                 AS BIGINT)) AS DOUBLE) / 1e9, 2)
                 AS decayed_value
        FROM events CROSS JOIN a
        GROUP BY event_type
        ORDER BY event_type""")),

    QueryDef(
      "q119_session_funnel",
      (s, dir) => {
        // WITHIN-session funnel: of all (user, session)s that viewed,
        // how many clicked after the view, and purchased after that
        // click — q108's strict ordering composed with q51's
        // gap-sessionizer. One window pass assigns sessions; each
        // later stage is a grouped min gated on the previous stage's
        // timestamp (the dependency chain forces per-stage joins, but
        // they all key on (user, session) so the exchanges line up).
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        val sess = Tables.load(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull
              || unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L,
              lit(1L)).otherwise(lit(0L)))
          .withColumn("session_id", sum(col("new_sess")).over(byUser))
        val staged = sess.groupBy(col("user_id"), col("session_id"))
          .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
        val clicks = sess.filter(col("event_type") === "click")
          .join(staged.select(col("user_id"), col("session_id"), col("t_view")),
            Seq("user_id", "session_id"))
          .filter(col("ts") > col("t_view"))
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(col("ts")).as("t_click"))
        val purchases = sess.filter(col("event_type") === "purchase")
          .join(clicks, Seq("user_id", "session_id"))
          .filter(col("ts") > col("t_click"))
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(col("ts")).as("t_purchase"))
        staged.agg(
            count(lit(1)).as("n_sessions"),
            sum(when(col("t_view").isNotNull, 1L).otherwise(0L))
              .as("n_viewed"))
          .crossJoin(broadcast(
            clicks.agg(count(lit(1)).as("n_clicked_after_view"))))
          .crossJoin(broadcast(
            purchases.agg(count(lit(1)).as("n_purchased_after_click"))))
      },
      Some("""
        WITH g AS (
          SELECT user_id, event_id, event_type, ts,
                 LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS prev_ts
          FROM events),
        f AS (
          SELECT user_id, event_id, event_type, ts,
                 CASE WHEN prev_ts IS NULL
                        OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
                      THEN 1 ELSE 0 END AS new_sess
          FROM g),
        sess AS (
          SELECT user_id, event_type, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS session_id
          FROM f),
        staged AS (
          SELECT user_id, session_id,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
          FROM sess GROUP BY 1, 2),
        clicks AS (
          SELECT s.user_id, s.session_id, MIN(s.ts) AS t_click
          FROM sess s JOIN staged st
            ON s.user_id = st.user_id AND s.session_id = st.session_id
          WHERE s.event_type = 'click' AND s.ts > st.t_view
          GROUP BY 1, 2),
        purch AS (
          SELECT s.user_id, s.session_id, MIN(s.ts) AS t_purchase
          FROM sess s JOIN clicks c
            ON s.user_id = c.user_id AND s.session_id = c.session_id
          WHERE s.event_type = 'purchase' AND s.ts > c.t_click
          GROUP BY 1, 2)
        SELECT (SELECT COUNT(*) FROM staged) AS n_sessions,
               (SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) FROM staged) AS n_viewed,
               (SELECT COUNT(*) FROM clicks) AS n_clicked_after_view,
               (SELECT COUNT(*) FROM purch) AS n_purchased_after_click""")),

    QueryDef(
      "q114_event_trigrams",
      (s, dir) => {
        // behavioral sequence mining (lite): the 10 most common
        // event-type trigrams across per-user timelines. One shuffle
        // on user_id for the ordered window (double lead), one hash
        // agg on the pattern, global top-k via TakeOrderedAndProject.
        // (ts, event_id) totally orders each timeline so lead() is
        // deterministic under ties.
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.load(s, dir, "events")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        ev.select(col("user_id"), col("event_type"),
            lead(col("event_type"), 1).over(w).as("e2"),
            lead(col("event_type"), 2).over(w).as("e3"))
          .filter(col("e2").isNotNull && col("e3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
            .as("pattern"))
          .groupBy(col("pattern"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pattern"))
          .limit(10)
      },
      Some("""
        WITH o AS (
          SELECT user_id, event_type,
                 LEAD(event_type, 1) OVER w AS e2,
                 LEAD(event_type, 2) OVER w AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        p AS (
          SELECT event_type || '>' || e2 || '>' || e3 AS pattern
          FROM o WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
        SELECT pattern, COUNT(*) AS n
        FROM p
        GROUP BY pattern
        ORDER BY n DESC, pattern
        LIMIT 10""")),

    QueryDef(
      "q115_retention_matrix",
      (s, dir) => {
        // weekly cohort retention matrix: users grouped by first-seen
        // week, counted distinct in each later week offset — the BI
        // staple behind every retention curve. Two shuffles total
        // (first-seen agg on user, matrix agg on cohort cell); the
        // per-user first-week frame joins back on the user key.
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"),
            date_trunc("week", col("ts")).as("wk"))
        val first = ev.groupBy(col("user_id"))
          .agg(min(col("wk")).as("cohort_wk"))
        ev.join(first, Seq("user_id"))
          .withColumn("week_offset",
            datediff(col("wk"), col("cohort_wk")).cast("bigint") / 7)
          .groupBy(
            date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
            col("week_offset").cast("bigint").as("week_offset"))
          .agg(count_distinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1)
        SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
               CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT)
                 AS week_offset,
               COUNT(DISTINCT user_id) AS n_users
        FROM e JOIN f USING (user_id)
        GROUP BY 1, 2
        ORDER BY cohort_week, week_offset""")),

    QueryDef(
      "q108_funnel",
      (s, dir) => {
        // sequential conversion funnel view → click → purchase: each
        // stage's per-user timestamp is the FIRST occurrence AFTER
        // the previous stage (strict ordering, not mere presence).
        // Three per-user aggregates chained by broadcast-joined
        // cutoffs; at 100 TB each stage is one map-side-combinable
        // agg over a filtered scan — no windows over whole histories,
        // no event pairing.
        val ev = Tables.load(s, dir, "events")
        def stage(t: String, after: Option[org.apache.spark.sql.DataFrame])
            : org.apache.spark.sql.DataFrame = {
          val base = ev.filter(col("event_type") === t)
          val gated = after match {
            case Some(prev) => base.join(broadcast(prev), Seq("user_id"))
              .filter(col("ts") > col("cut")).drop("cut")
            case None => base
          }
          gated.groupBy(col("user_id")).agg(min(col("ts")).as("cut"))
        }
        val s1 = stage("view", None)
        val s2 = stage("click", Some(s1))
        val s3 = stage("purchase", Some(s2))
        val rows = Seq(("1_view", s1), ("2_click_after_view", s2),
          ("3_purchase_after_click", s3))
        rows.map { case (name, df) =>
          df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"),
            col("n_users"))
        }.reduce(_ unionByName _).orderBy(col("stage"))
      },
      Some("""
        WITH v AS (SELECT user_id, MIN(ts) AS cut FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, MIN(e.ts) AS cut
              FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.cut
              WHERE e.event_type = 'click' GROUP BY 1),
        p AS (SELECT e.user_id, MIN(e.ts) AS cut
              FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.cut
              WHERE e.event_type = 'purchase' GROUP BY 1)
        SELECT stage, n_users FROM (
          SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
          UNION ALL
          SELECT '2_click_after_view', COUNT(*) FROM c
          UNION ALL
          SELECT '3_purchase_after_click', COUNT(*) FROM p)
        ORDER BY stage""")),

    QueryDef(
      "q109_json_props",
      (s, dir) =>
        // semi-structured extraction from the event props JSON (the
        // F1 from_json family over a real payload column): pull $.k,
        // aggregate per event type. get_json_object is codegen'd and
        // map-side; one hash-agg shuffle.
        Tables.load(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("bigint").as("k"))
          .groupBy(col("event_type"))
          .agg(
            count(col("k")).as("n_with_k"),
            sum(col("k")).as("sum_k"),
            round(avg(col("k").cast("double")), 4).as("avg_k"))
          .orderBy(col("event_type")),
      Some("""
        SELECT event_type,
               COUNT(CAST(props->>'k' AS BIGINT)) AS n_with_k,
               CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
               ROUND(AVG(CAST(props->>'k' AS DOUBLE)), 4) AS avg_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    QueryDef(
      "q93_incremental_mv",
      (s, dir) => mvRead(s, mvMaintain(s, dir)),
      Some("""
        SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY event_date, event_type"""),
      headline = true),

    QueryDef(
      "q126_item_cooccurrence",
      (s, dir) => {
        // "viewed X, also viewed Y" co-occurrence mining — the
        // recommender/association-rule support count, built the way it
        // survives 100 TB: each user's item set is CAPPED to their
        // first K=20 distinct items (deterministic first-seen order)
        // BEFORE the within-user self-join, so pair generation is
        // bounded at K²/2 per user regardless of how heavy a power
        // user is — the cap is the skew guard, not a sampling
        // approximation of it (the cap semantics are part of the
        // operator contract and replayed exactly by the oracle).
        // Shape: one hash agg (first-seen), one user-keyed window, one
        // user-keyed self-join of the capped sets, one pair agg,
        // TakeOrdered top-k.
        val capped = cappedItemSets(s, dir)
        val a = capped.select(col("user_id"), col("item").as("item_a"))
        val b = capped.select(col("user_id"), col("item").as("item_b"))
        a.join(b, Seq("user_id"))
          .filter(col("item_a") < col("item_b"))
          .groupBy(col("item_a"), col("item_b"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
          .orderBy(col("support").desc, col("item_a"), col("item_b"))
          .limit(15)
      },
      Some(CappedSql + """
        SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
        FROM capped a JOIN capped b USING (user_id)
        WHERE a.item < b.item
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
        ORDER BY support DESC, item_a, item_b
        LIMIT 15""")),

    QueryDef(
      "q130_longest_streak",
      (s, dir) => {
        // gaps-and-islands: longest run of CONSECUTIVE active days per
        // user, via the row-number-difference technique — consecutive
        // days share (day − row_number) as an island key, so streaks
        // fall out of two hash aggs and two user-keyed windows with no
        // self-join and no iteration. All-integer/date arithmetic
        // under the hash gate; every exchange keys on user_id, so the
        // distinct, both windows, and the island agg line up on one
        // partitioning.
        import org.apache.spark.sql.expressions.Window
        val days = Tables.load(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val islands = days
          .withColumn("grp", date_sub(col("day"), row_number().over(w)))
          .groupBy(col("user_id"), col("grp"))
          .agg(count(lit(1)).cast("bigint").as("streak_len"),
            min(col("day")).as("streak_start"))
        val best = Window.partitionBy(col("user_id"))
          .orderBy(col("streak_len").desc, col("streak_start"))
        islands
          .withColumn("rn", row_number().over(best))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("streak_len"), col("streak_start"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        islands AS (
          SELECT user_id,
                 day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                               ORDER BY day) AS INTEGER)
                   AS grp,
                 day
          FROM days),
        agg AS (
          SELECT user_id, grp, COUNT(*) AS streak_len,
                 MIN(day) AS streak_start
          FROM islands GROUP BY 1, 2)
        SELECT user_id, streak_len, streak_start
        FROM (SELECT user_id, streak_len, streak_start,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY streak_len DESC,
                                                 streak_start) AS rn
              FROM agg)
        WHERE rn = 1
        ORDER BY user_id""")),

    QueryDef(
      "q132_triangle_count",
      (s, dir) => {
        // per-item triangle participation in the item co-occurrence
        // graph (support ≥ 2 edges over the q126 capped sets) — the
        // canonical bounded-shuffle graph pattern: orient every edge
        // from its lower-(degree, id) endpoint to the higher, so each
        // triangle is found EXACTLY once as a wedge at its lowest-rank
        // vertex closed by one oriented edge. Orientation bounds the
        // wedge fan-out by the graph's arboricity instead of the max
        // degree — the celebrity node never enumerates its d² wedge
        // pairs, which is what makes triangle counting survive a
        // power-law graph at 100 TB. All joins are equi-joins on
        // vertex keys; every count is integer-exact under the hash
        // gate.
        val capped = cappedItemSets(s, dir)
        val a = capped.select(col("user_id"), col("item").as("ia"))
        val b = capped.select(col("user_id"), col("item").as("ib"))
        val edges = a.join(b, Seq("user_id"))
          .filter(col("ia") < col("ib"))
          .groupBy(col("ia"), col("ib"))
          .agg(count(lit(1)).as("sup"))
          .filter(col("sup") >= 2)
          .select(col("ia"), col("ib"))
        graft.ext.Graphs.triangleCounts(edges)
          .orderBy(col("item"))
      },
      Some(CappedSql + """,
        edges AS (
          SELECT a.item AS ia, b.item AS ib
          FROM capped a JOIN capped b USING (user_id)
          WHERE a.item < b.item
          GROUP BY 1, 2
          HAVING COUNT(*) >= 2),
        deg AS (
          SELECT node, COUNT(*) AS deg
          FROM (SELECT ia AS node FROM edges
                UNION ALL SELECT ib FROM edges)
          GROUP BY 1),
        tri AS (
          -- naive a<b<c enumeration: INDEPENDENT of the engine's
          -- degree-orientation trick, so an orientation bug (double
          -- count, dropped wedge) hash-fails rather than replaying
          SELECT e1.ia AS x, e1.ib AS y, e2.ib AS z
          FROM edges e1
          JOIN edges e2 ON e1.ia = e2.ia AND e1.ib < e2.ib
          JOIN edges e3 ON e3.ia = e1.ib AND e3.ib = e2.ib)
        SELECT t.item, deg.deg, t.n_triangles
        FROM (SELECT item, COUNT(*) AS n_triangles
              FROM (SELECT x AS item FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri)
              GROUP BY 1) t
        JOIN deg ON t.item = deg.node
        ORDER BY t.item""")),

    QueryDef(
      "q141_pagerank",
      (s, dir) => {
        // PageRank over the item-transition graph: per-user view
        // timelines (ts, event_id total order) yield consecutive
        // item→item hops; distinct hops are the directed edges, and
        // graft.ext.Graphs.pageRank runs 3 unrolled power iterations
        // in INTEGER fixed-point (10¹² mass units, integer DIV
        // everywhere) — the choice that makes an iterative double-
        // typed algorithm land under the cross-engine hash gate:
        // BIGINT sums are associative, so the scores are independent
        // of partitioning AND identical in DuckDB's strictly
        // sequential replay. Top-20 with the (score DESC, item)
        // total-order tiebreak.
        import org.apache.spark.sql.expressions.Window
        val views = Tables.load(s, dir, "events")
          .filter(col("event_type") === "view")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("bigint").as("item"),
            col("ts"), col("event_id"))
          .filter(col("item").isNotNull)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val edges = views
          .withColumn("src", lag(col("item"), 1).over(w))
          .filter(col("src").isNotNull && col("src") =!= col("item"))
          .select(col("src"), col("item").as("dst"))
          .distinct()
        graft.ext.Graphs.pageRank(edges, iterations = 3)
          .orderBy(col("pr_units").desc, col("item"))
          .limit(20)
      },
      Some("""
        WITH v AS (
          SELECT user_id, CAST(props->>'k' AS BIGINT) AS item,
                 ts, event_id
          FROM events
          WHERE event_type = 'view' AND (props->>'k') IS NOT NULL),
        hops AS (
          SELECT user_id, item,
                 LAG(item) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS src
          FROM v),
        edges AS (
          SELECT DISTINCT src, item AS dst
          FROM hops WHERE src IS NOT NULL AND src != item),
        nodes AS (SELECT src AS item FROM edges
                  UNION SELECT dst FROM edges),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        outd AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        s0 AS (SELECT item, (1000000000000 // n) AS pr FROM nodes CROSS JOIN nn),
        c1 AS (SELECT e.dst, CAST(SUM(s.pr // o.outdeg) AS BIGINT) AS c
               FROM edges e JOIN s0 s ON e.src = s.item
               JOIN outd o ON e.src = o.src GROUP BY 1),
        s1 AS (SELECT item, (150 * (1000000000000 // n)
                 + 850 * COALESCE(c, 0)) // 1000 AS pr
               FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.item = c1.dst),
        c2 AS (SELECT e.dst, CAST(SUM(s.pr // o.outdeg) AS BIGINT) AS c
               FROM edges e JOIN s1 s ON e.src = s.item
               JOIN outd o ON e.src = o.src GROUP BY 1),
        s2 AS (SELECT item, (150 * (1000000000000 // n)
                 + 850 * COALESCE(c, 0)) // 1000 AS pr
               FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.item = c2.dst),
        c3 AS (SELECT e.dst, CAST(SUM(s.pr // o.outdeg) AS BIGINT) AS c
               FROM edges e JOIN s2 s ON e.src = s.item
               JOIN outd o ON e.src = o.src GROUP BY 1),
        s3 AS (SELECT item, (150 * (1000000000000 // n)
                 + 850 * COALESCE(c, 0)) // 1000 AS pr
               FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.item = c3.dst)
        SELECT item, pr AS pr_units
        FROM s3
        ORDER BY pr_units DESC, item
        LIMIT 20""")),

    QueryDef(
      "q142_interval_join",
      (s, dir) => {
        // point-in-interval stabbing WITHOUT an equi key: every error
        // event (any user) counted into each user-day activity span
        // it falls inside. Spark's only native plan for this is a
        // nested-loop join re-checking |points|×|intervals| pairs;
        // ext/IntervalJoin bins the epoch axis instead — intervals
        // explode map-side to their covered hour bins, points bin
        // once, and the join is a plain equi-join on the bin key plus
        // an exact containment re-check, so work scales with
        // points + interval-bins + true matches. The DuckDB oracle
        // replays the SEMANTICS with its native inequality join
        // (IEJoin) — an independent algorithm, so a binning bug
        // (missed boundary, double-counted pair) hash-fails.
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
        val spans = ev.filter(col("event_type") =!= "error")
          .groupBy(col("user_id"), col("day"))
          .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        val errs = ev.filter(col("event_type") === "error").select(col("ts"))
        graft.ext.IntervalJoin
          .pointInInterval(errs, spans, "ts", "lo", "hi", binSeconds = 3600L)
          .groupBy(col("user_id"), col("day"))
          .agg(count(lit(1)).as("n_errors"))
          .orderBy(col("user_id"), col("day"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, ts, event_type,
                 strftime(ts, '%Y-%m-%d') AS day
          FROM events),
        spans AS (
          SELECT user_id, day, MIN(ts) AS lo, MAX(ts) AS hi
          FROM ev WHERE event_type != 'error'
          GROUP BY 1, 2),
        err AS (SELECT ts FROM ev WHERE event_type = 'error')
        SELECT s.user_id, s.day, COUNT(*) AS n_errors
        FROM spans s JOIN err e ON e.ts >= s.lo AND e.ts <= s.hi
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    QueryDef(
      "q143_overlap_pairs",
      (s, dir) => {
        // interval×interval overlap WITHOUT an equi key: pairs of
        // users whose same-day purchase windows [first purchase, last
        // purchase] overlap, counted per day — ext/IntervalJoin's
        // binned overlap join with the max-of-start-bins exactly-once
        // assignment (no distinct over the pair set). Purchase
        // windows are NARROW (most users buy once or twice a day), so
        // candidate volume tracks true overlaps, not the all-pairs
        // product — the regime this decomposition exists for. Same-day
        // pairing needs no explicit key: different days never share an
        // hour bin. DuckDB replays with its native inequality IEJoin.
        val spans = Tables.load(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        val a = spans.select(col("user_id").as("ua"), col("day").as("da"),
          col("lo").as("alo"), col("hi").as("ahi"))
        val b = spans.select(col("user_id").as("ub"),
          col("lo").as("blo"), col("hi").as("bhi"))
        graft.ext.IntervalJoin
          .intervalOverlap(a, b, "alo", "ahi", "blo", "bhi", binSeconds = 3600L)
          .filter(col("ua") < col("ub"))
          .groupBy(col("da").as("day"))
          .agg(count(lit(1)).as("n_overlap_pairs"))
          .orderBy(col("day"))
      },
      Some("""
        WITH p AS (
          SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                 MIN(ts) AS lo, MAX(ts) AS hi
          FROM events WHERE event_type = 'purchase'
          GROUP BY 1, 2),
        pairs AS (
          SELECT a.day
          FROM p a JOIN p b
            ON a.day = b.day AND a.user_id < b.user_id
           AND a.lo <= b.hi AND b.lo <= a.hi)
        SELECT day, COUNT(*) AS n_overlap_pairs
        FROM pairs
        GROUP BY 1
        ORDER BY 1""")),

    QueryDef(
      "q133_peak_concurrency",
      (s, dir) => {
        // peak concurrent users per day via the boundary-sweep trick:
        // each user-day activity span [min ts, max ts] emits a +1 at
        // its start and a −1 at its end, and a day-keyed running sum
        // over the ordered boundaries gives the live concurrency at
        // every instant — max of that is the peak. This is interval
        // stabbing WITHOUT the interval self-join (the naive
        // overlap-join is O(n²) per day and unshardable); the sweep is
        // one union, one window, one agg, all partitioned by day. Ties
        // order +1 before −1 (delta DESC) so touching spans count as
        // overlapping; the user_id tiebreak totalizes the order. The
        // peak is order-invariant among equal deltas, so the output is
        // engine-stable; sums stay integer under the hash gate (DuckDB
        // HUGEINT cast back to BIGINT in the oracle).
        import org.apache.spark.sql.expressions.Window
        val spans = Tables.load(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"))
          .groupBy(col("user_id"), col("day"))
          .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
        val deltas = spans.select(col("day"), col("start_ts").as("ts"),
            lit(1).as("delta"), col("user_id"))
          .unionAll(spans.select(col("day"), col("end_ts").as("ts"),
            lit(-1).as("delta"), col("user_id")))
        val w = Window.partitionBy(col("day"))
          .orderBy(col("ts"), col("delta").desc, col("user_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deltas.withColumn("c", sum(col("delta")).over(w))
          .groupBy(col("day"))
          .agg(max(col("c")).as("peak_concurrency"),
            count_distinct(col("user_id")).as("n_users"))
          .orderBy(col("day"))
      },
      Some("""
        WITH spans AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 MIN(ts) AS start_ts, MAX(ts) AS end_ts
          FROM events GROUP BY 1, 2),
        deltas AS (
          SELECT day, start_ts AS ts, 1 AS delta, user_id FROM spans
          UNION ALL
          SELECT day, end_ts AS ts, -1 AS delta, user_id FROM spans),
        conc AS (
          SELECT day, user_id,
                 SUM(delta) OVER (PARTITION BY day
                   ORDER BY ts, delta DESC, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          FROM deltas)
        SELECT day, CAST(MAX(c) AS BIGINT) AS peak_concurrency,
               COUNT(DISTINCT user_id) AS n_users
        FROM conc
        GROUP BY 1
        ORDER BY day""")),

    QueryDef(
      "q134_user_growth",
      (s, dir) => {
        // growth accounting: split each day's actives into NEW (first
        // ever seen that day) vs RETURNING, plus the cumulative
        // distinct-user count — which needs no distinct-over-window at
        // all, because cumulative uniques ≡ running sum of daily new
        // users. first-seen is a user-keyed window min (no join-back);
        // the final cumulative window runs over the ~day-count rows of
        // the AGGREGATED frame, so its single-partition sort is over
        // the date dimension, not the data (bounded by calendar, the
        // q127 spine argument). All-integer/date under the hash gate.
        import org.apache.spark.sql.expressions.Window
        val days = Tables.load(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val wu = Window.partitionBy(col("user_id"))
        val daily = days
          .withColumn("first_day", min(col("day")).over(wu))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
              .as("n_new"))
        val wd = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .select(col("day"), col("n_active"), col("n_new"),
            (col("n_active") - col("n_new")).as("n_returning"),
            sum(col("n_new")).over(wd).as("cum_users"))
          .orderBy(col("day"))
      },
      Some("""
        WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        flagged AS (
          SELECT day,
                 CASE WHEN day = MIN(day) OVER (PARTITION BY user_id)
                      THEN 1 ELSE 0 END AS is_new
          FROM days),
        daily AS (
          SELECT day, COUNT(*) AS n_active,
                 CAST(SUM(is_new) AS BIGINT) AS n_new
          FROM flagged GROUP BY 1)
        SELECT day, n_active, n_new,
               n_active - n_new AS n_returning,
               CAST(SUM(n_new) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_users
        FROM daily
        ORDER BY day""")),

    QueryDef(
      "q135_rolling_actives",
      (s, dir) => {
        // EXACT rolling 7-day active users (WAU) per day, via the
        // contribution-explode trick: each (user, day) activity row
        // fans out map-side to the ≤7 window-end days it contributes
        // to, and one distinct-agg per window-end day does the rest —
        // distinct counts don't compose across a sliding frame, so the
        // window-function route is unavailable and the naive
        // alternative (a date-RANGE self-join per day) rescans 7× and
        // skews on hot days. Explode cost is a fixed ×7 on the
        // DEDUPED user-day frame, not the raw events. DAU joins back
        // on the day key; stickiness is integer-exact permille
        // (div, not float division, per the hash-gate rules).
        val ud = Tables.load(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val maxDay = ud.agg(max(col("day")).as("max_day"))
        val wau = ud
          .select(col("user_id"),
            explode(sequence(lit(0), lit(6))).as("x"), col("day"))
          .select(col("user_id"), expr("date_add(day, x)").as("rday"))
          .crossJoin(broadcast(maxDay))
          .filter(col("rday") <= col("max_day"))
          .groupBy(col("rday"))
          .agg(count_distinct(col("user_id")).as("wau"))
        val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        wau.join(dau, col("rday") === col("day"), "left")
          .select(col("rday"), coalesce(col("dau"), lit(0L)).as("dau"),
            col("wau"),
            expr("coalesce(dau, 0L) * 1000 div wau").as("stickiness_permille"))
          .orderBy(col("rday"))
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        mx AS (SELECT MAX(day) AS max_day FROM ud),
        contrib AS (
          SELECT user_id, day + CAST(t.x AS INTEGER) AS rday
          FROM ud, range(0, 7) t(x)),
        wau AS (
          SELECT rday, COUNT(DISTINCT user_id) AS wau
          FROM contrib, mx
          WHERE rday <= max_day
          GROUP BY 1),
        dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1)
        SELECT rday, COALESCE(dau.dau, 0) AS dau, wau.wau,
               COALESCE(dau.dau, 0) * 1000 // wau.wau AS stickiness_permille
        FROM wau LEFT JOIN dau ON rday = dau.day
        ORDER BY rday""")),

    QueryDef(
      "q136_last_touch_attribution",
      (s, dir) => {
        // last-touch attribution: credit each purchase to the item of
        // the user's most recent PRIOR view, by carrying the viewed
        // item forward over the user's event timeline with an
        // ignoreNulls last() window (the q127 forward-fill trick on
        // the behavioral stream) — no event-to-event self-join, no
        // per-purchase lookback scan; one user-keyed window, one agg.
        // The (ts, event_id) tiebreak totalizes the timeline so both
        // engines pick the same touch when a view and a purchase share
        // a timestamp. Unattributed purchases (no prior view) keep a
        // -1 bucket instead of NULL — a NULL bigint group would read
        // back as pandas float64 and wobble the driver's dtype-based
        // compare.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"),
            when(col("event_type") === "view",
              get_json_object(col("props"), "$.k").cast("bigint"))
              .as("viewed_item"))
          .withColumn("attr_item",
            last(col("viewed_item"), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("attr_item"), lit(-1L)).as("item"))
          .agg(count(lit(1)).as("n_purchases"),
            round(sum(col("value")), 2).as("attributed_value"))
          .orderBy(col("item"))
      },
      Some("""
        WITH tl AS (
          SELECT user_id, ts, event_id, event_type, value,
                 CASE WHEN event_type = 'view'
                      THEN CAST(props->>'k' AS BIGINT) END AS viewed_item
          FROM events),
        attr AS (
          SELECT event_type, value,
                 LAST_VALUE(viewed_item IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS attr_item
          FROM tl)
        SELECT COALESCE(attr_item, -1) AS item,
               COUNT(*) AS n_purchases,
               ROUND(SUM(value), 2) AS attributed_value
        FROM attr
        WHERE event_type = 'purchase'
        GROUP BY 1
        ORDER BY item""")),

    QueryDef(
      "q167_linear_attribution",
      (s, dir) => {
        // MULTI-touch linear attribution — q136's last-touch sibling:
        // each purchase's value splits EQUALLY across every view in
        // its purchase window (the views since the user's previous
        // purchase). Joinless: a running purchase count segments the
        // timeline (a purchase closes its own segment because the
        // count window ends at the PRECEDING row), then segment value
        // and view count ride (user, seg) windows and each view row
        // claims an equal share. Credit is FLOOR-SPLIT IN INTEGER
        // CENTS (round-to-cent then DIV n): a double value/n split
        // summed per item lands exactly on .005 boundaries and the
        // two engines round apart — integer cents keep every credit
        // under the hash gate exact (≤ n−1 cents per purchase go
        // unassigned, deterministically). Purchases with no views in
        // their window fall to the -1 bucket with full credit (q136's
        // unattributed-bucket reasoning).
        import org.apache.spark.sql.expressions.Window
        val order = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val tl = Tables.load(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"),
            when(col("event_type") === "view",
              get_json_object(col("props"), "$.k").cast("bigint"))
              .as("viewed_item"))
          .filter(col("event_type").isin("view", "purchase"))
          .withColumn("seg", coalesce(
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .over(order.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        val wSeg = Window.partitionBy(col("user_id"), col("seg"))
        val credited = tl
          // ASSUMES non-negative purchase values (true of the event
          // model — purchases are priced sales, refunds are not an
          // event type): floor(v*100 + .5) is round-half-up toward
          // +inf, a cent high on negatives, and the integer DIV
          // credit split below truncates toward zero in Spark but
          // floors in DuckDB — both diverge only below zero
          .withColumn("seg_cents",
            max(when(col("event_type") === "purchase",
              floor(col("value") * 100.0 + 0.5).cast("bigint"))).over(wSeg))
          .withColumn("n_views",
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(wSeg))
          // segments with no purchase (the open tail) credit nothing
          .filter(col("seg_cents").isNotNull)
        val viewCredits = credited
          .filter(col("event_type") === "view")
          // views without a tracked item share the -1 bucket with
          // unattributed purchases (q136's NULL-group dtype rationale)
          .select(coalesce(col("viewed_item"), lit(-1L)).as("item"),
            expr("CAST(seg_cents DIV n_views AS BIGINT)").as("credit_cents"))
        val unattributed = credited
          .filter(col("event_type") === "purchase" && col("n_views") === 0)
          .select(lit(-1L).as("item"), col("seg_cents").as("credit_cents"))
        viewCredits.unionByName(unattributed)
          .groupBy(col("item"))
          .agg(count(lit(1)).as("n_touches"),
            sum(col("credit_cents")).cast("bigint").as("attributed_cents"))
          .orderBy(col("item"))
      },
      Some("""
        WITH tl AS (
          SELECT user_id, ts, event_id, event_type, value,
                 CASE WHEN event_type = 'view'
                      THEN CAST(props->>'k' AS BIGINT) END AS viewed_item
          FROM events
          WHERE event_type IN ('view', 'purchase')),
        seg AS (
          SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
                   THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
          FROM tl),
        win AS (
          SELECT *,
                 MAX(CASE WHEN event_type = 'purchase'
                     THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) END)
                   OVER (PARTITION BY user_id, s) AS seg_cents,
                 SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id, s) AS n_views
          FROM seg),
        credits AS (
          SELECT COALESCE(viewed_item, -1) AS item,
                 CAST(seg_cents // n_views AS BIGINT) AS credit_cents
          FROM win WHERE event_type = 'view' AND seg_cents IS NOT NULL
          UNION ALL
          SELECT -1 AS item, seg_cents AS credit_cents
          FROM win WHERE event_type = 'purchase' AND n_views = 0)
        SELECT item,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit_cents) AS BIGINT) AS attributed_cents
        FROM credits
        GROUP BY item
        ORDER BY item""")),

    QueryDef(
      "q165_watermark_audit",
      (s, dir) => {
        // How late does this stream actually run? Lateness of each
        // event = running max event-time over ARRIVAL order (event_id)
        // minus its own event-time — the distribution that SIZES a
        // streaming watermark before deploying one (`withWatermark`'s
        // delay should cover the tail you're willing to wait for).
        // Global running max WITHOUT a global window: q139/q162's
        // two-pass mechanism a third time, now with MAX — range
        // partition on arrival order (frozen pid), per-pid local
        // running max, ≤32 partition maxima fold into prefix offsets,
        // global running max = GREATEST(local, offset). Lateness in
        // exact epoch MICROSECONDS (unix_micros ≡ DuckDB epoch_us —
        // second-granular functions disagree: Spark truncates, DuckDB
        // rounds); the ladder and the reported max are all-integer.
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), unix_micros(col("ts")).as("sec"))
        val ranged = graft.Staging.checkpoint(
          ev.repartitionByRange(32, col("event_id"))
            .withColumn("pid", spark_partition_id()), "wm-ranged")
        val wLocal = Window.partitionBy(col("pid")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val parts = ranged.groupBy(col("pid")).agg(max(col("sec")).as("pm"))
          .orderBy(col("pid")).collect()
        var run = Long.MinValue
        val offsets = parts.map { r =>
          val o = r.getAs[Int]("pid") -> run
          run = math.max(run, r.getAs[Long]("pm")); o
        }.toMap
        val offsetDf = s.createDataFrame(offsets.toSeq.map { case (p, o) => (p, o) })
          .toDF("pid", "prior_max")
        ranged
          .withColumn("local_max", max(col("sec")).over(wLocal))
          .join(broadcast(offsetDf), Seq("pid"))
          .withColumn("lateness",
            greatest(col("local_max"), col("prior_max")) - col("sec"))
          .select(
            when(col("lateness") <= 0L, lit("a_on_time"))
              .when(col("lateness") <= 60L * 1000000, lit("b_1min"))
              .when(col("lateness") <= 300L * 1000000, lit("c_5min"))
              .when(col("lateness") <= 3600L * 1000000, lit("d_1hour"))
              .otherwise(lit("e_later")).as("bucket"),
            col("lateness"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_events"),
            expr("CAST(MAX(lateness) DIV 1000000 AS BIGINT)")
              .as("max_lateness_sec"))
          .orderBy(col("bucket"))
      },
      Some("""
        WITH l AS (
          SELECT CAST(MAX(epoch_us(ts)) OVER (ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - epoch_us(ts) AS BIGINT) AS lateness
          FROM events),
        b AS (
          SELECT CASE WHEN lateness <= 0 THEN 'a_on_time'
                      WHEN lateness <= 60 * 1000000 THEN 'b_1min'
                      WHEN lateness <= 300 * 1000000 THEN 'c_5min'
                      WHEN lateness <= 3600 * 1000000 THEN 'd_1hour'
                      ELSE 'e_later' END AS bucket,
                 lateness
          FROM l)
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(lateness) // 1000000 AS BIGINT) AS max_lateness_sec
        FROM b
        GROUP BY bucket
        ORDER BY bucket"""))
  )
}

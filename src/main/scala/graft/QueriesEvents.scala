package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops._
import graft.QHelp._
import graft.streaming.FoldLaw

/** Events analytics: funnel, transitions, drift, attribution,
  * retention, point-in-time features. */
private[graft] object QueriesEvents {


  /** q84 — weekly cohort retention (TimeOps.retentionCohorts): the
    * classic activity matrix — users cohorted by the ISO week of
    * their first event, one row per (cohort, week offset) with the
    * active count and retention vs the cohort's own week-0 size. Two
    * user-keyed reductions (per-user min + (user, week) distinct)
    * co-partition on the user shuffle; everything downstream is
    * weeks²-sized. Offsets are exact integer day-diffs of
    * week-truncated dates / 7 — no float until the final rounded
    * percentage, which both engines derive from the same integers.
    */
  private val q84 = Q(
    "q84_retention_cohorts",
    (s, d) => {
      import s.implicits._
      TimeOps.retentionCohorts(ev(s, d), "user_id", "ts")
        .orderBy($"cohort_week", $"week_offset")
    },
    Some("""
      WITH f AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
                 AS cohort_week
        FROM events GROUP BY 1),
      a AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
                 AS activity_week
        FROM events),
      j AS (
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, activity_week) // 7
                    AS INTEGER) AS week_offset,
               count(*) AS n_active
        FROM a JOIN f USING (user_id) GROUP BY 1, 2),
      s AS (
        SELECT cohort_week, n_active AS cn FROM j WHERE week_offset = 0)
      SELECT j.cohort_week, week_offset, n_active,
             round(CAST(n_active AS DOUBLE) / cn * 100.0, 4)
               AS pct_retained
      FROM j JOIN s USING (cohort_week)
      ORDER BY cohort_week, week_offset"""))


  /** q85_pit_features — point-in-time-correct feature assembly
    * (TimeOps.pointInTimeFeatures): every purchase event (the label)
    * aggregates its user's events STRICTLY before the purchase within
    * a trailing 72 h window — the feature-store join that builds
    * training sets without label leakage. User-keyed co-partitioned
    * equi-join with the time range as an in-join residual; DECIMAL
    * sums; epoch-µs comparisons on both sides (the st03 precision
    * convention — parquet carries ns, Spark µs).
    */
  private val q85 = Q(
    "q85_pit_features",
    (s, d) => {
      import s.implicits._
      val e = ev(s, d)
      TimeOps.pointInTimeFeatures(
          e.filter($"event_type" === "purchase"), e,
          "user_id", "ts", "value", "event_id", windowHours = 72)
        .orderBy($"label_id")
    },
    Some("""
      WITH l AS (
        SELECT event_id, user_id, epoch_us(ts) AS lu
        FROM events WHERE event_type = 'purchase'),
      f AS (SELECT user_id AS fu, epoch_us(ts) AS fts, value FROM events)
      SELECT event_id AS label_id, user_id,
             lu // 1000000 AS ts_s,
             count(fts) AS n_prior,
             coalesce(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2)
               AS DOUBLE), 0.0) AS sum_prior
      FROM l LEFT JOIN f ON user_id = fu
        AND fts < lu AND fts >= lu - 259200000000
      GROUP BY 1, 2, 3 ORDER BY 1"""))


  /** q86_drift_psi — distribution-drift monitoring
    * (LibOps.psiReport): the event value distribution of the first
    * half of January vs the second, as a per-bin PSI report — the
    * standard "has this feature moved?" gate between pipeline runs
    * (Σ psi_contrib ≥ 0.1 ⇒ drifting, ≥ 0.25 ⇒ shifted). Two
    * partial-aggregated histogram passes; everything after is
    * nbins-sized broadcasts and row-local arithmetic.
    */
  /** The PSI oracle chain — ONE definition serving q86 (inline
    * two-sample) and drift_psi_incremental (stored reference state +
    * batch-folded current state), which by the additive-bin-count law
    * must equal exactly this one-shot replay. */
  private[graft] val psiOracleSql = """
      WITH bins AS (SELECT CAST(unnest(range(20)) AS INTEGER) AS bin),
      ha AS (
        SELECT CAST(least(greatest(floor(value / 25.0), 0), 19) AS INTEGER)
                 AS bin,
               count(*)::BIGINT AS n_a
        FROM events
        WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY 1),
      hb AS (
        SELECT CAST(least(greatest(floor(value / 25.0), 0), 19) AS INTEGER)
                 AS bin,
               count(*)::BIGINT AS n_b
        FROM events
        WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY 1),
      ta AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta FROM ha),
      tb AS (SELECT CAST(sum(n_b) AS BIGINT) AS tb FROM hb)
      SELECT bin,
             CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
             CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
             round(((coalesce(n_a, 0) + 0.5) / (ta + 10.0)
                    - (coalesce(n_b, 0) + 0.5) / (tb + 10.0))
                   * ln(((coalesce(n_a, 0) + 0.5) / (ta + 10.0))
                        / ((coalesce(n_b, 0) + 0.5) / (tb + 10.0))), 6)
               AS psi_contrib
      FROM bins LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)
      CROSS JOIN ta CROSS JOIN tb
      ORDER BY bin"""

  private val q86 = Q(
    "q86_drift_psi",
    (s, d) => {
      import s.implicits._
      val e = ev(s, d)
      LibOps.psiReport(
          e.filter($"ts" < "2024-01-16 00:00:00"),
          e.filter($"ts" >= "2024-01-16 00:00:00"),
          "value", lo = 0.0, width = 25.0, nbins = 20)
        .orderBy($"bin")
    },
    Some(psiOracleSql))

  /** drift_psi_incremental — the distribution-monitoring INGEST
    * lifecycle: the reference window's histState is STORED once; the
    * current window arrives as two batches (split at Jan 24), each
    * partial-aggregated to its own nbins-sized state and folded with
    * the `FoldLaw.histBins` merge — bin counts are additive over
    * disjoint rows, so merge ≡ rebuild EXACTLY — and the PSI gate
    * recomputes from the two stored states alone (`psiFromStates`,
    * the shared tail psiReport itself delegates to). The corpus is
    * never rescanned at monitoring time: daily drift checks cost two
    * nbins-sized reads. Oracle = q86's exact one-shot chain (shared
    * psiOracleSql) — a lost bin, double-counted fold, or drifted
    * clamp changes a count and fails the hash.
    */
  private val q86i = Q(
    "drift_psi_incremental",
    (s, d) => {
      import s.implicits._
      val e = ev(s, d)
      val hist = FoldLaw.histBins("value", lo = 0.0, width = 25.0, nbins = 20)
      val refState = hist.derive(e.filter($"ts" < "2024-01-16 00:00:00"))
      val cur = hist.merge(
        hist.derive(
          e.filter($"ts" >= "2024-01-16 00:00:00" && $"ts" < "2024-01-24 00:00:00")),
        hist.derive(e.filter($"ts" >= "2024-01-24 00:00:00")))
      LibOps.psiFromStates(refState, cur, nbins = 20).orderBy($"bin")
    },
    Some(psiOracleSql))


  /** q87_funnel — ordered funnel conversion (TimeOps.funnel):
    * view → click → purchase with first-occurrence-after semantics
    * and a 24 h attribution window (a user's step-k clock starts at
    * their step-(k−1) reach time; the conversion must land within
    * 24 h of it — the unbounded variant converts 100% on this
    * fixture, the windowed one shows a real 150→60→25 funnel at
    * sf0.01). One user-keyed min-aggregate per step, chained by
    * co-partitioned user equi-joins; each step's event scan carries
    * a pushed `event_type =` filter; the only unpartitioned window
    * runs over |steps| = 3 rows. Timestamps compare as epoch-µs on
    * both sides (the q85 convention).
    */
  private val q87 = Q(
    "q87_funnel",
    (s, d) => TimeOps.funnel(ev(s, d), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), withinHours = Some(24))
      .orderBy(col("step_idx")),
    Some("""
      WITH s1 AS (
        SELECT user_id, min(epoch_us(ts)) AS t FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1),
      s2 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id AND epoch_us(e.ts) > s1.t
          AND epoch_us(e.ts) <= s1.t + 86400000000
        WHERE e.event_type = 'click' GROUP BY 1),
      s3 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
        JOIN s2 ON e.user_id = s2.user_id AND epoch_us(e.ts) > s2.t
          AND epoch_us(e.ts) <= s2.t + 86400000000
        WHERE e.event_type = 'purchase' GROUP BY 1),
      c AS (
        SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_users FROM s1
        UNION ALL SELECT 2, 'click', count(*) FROM s2
        UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
      SELECT step_idx, step, n_users,
             round(CAST(n_users AS DOUBLE) /
                   nullif(lag(n_users) OVER (ORDER BY step_idx), 0), 4)
               AS pct_prev
      FROM c ORDER BY step_idx"""))


  /** q88_transitions — next-event transition matrix
    * (TimeOps.transitionMatrix): P(next type | type) from each user's
    * time-ordered stream. ONE user-partitioned lead window (partition
    * = a user's own events), then a types²-bounded aggregate and a
    * types-partitioned share window over that tiny frame; ties on the
    * µs timestamp break by event_id so the successor is
    * engine-deterministic. NULL users are dropped on BOTH sides
    * (anonymous events have no stream to transition within — and
    * would otherwise form one corpus-sized window partition).
    */
  private val q88 = Q(
    "q88_transitions",
    (s, d) => TimeOps.transitionMatrix(ev(s, d), "user_id", "ts",
        "event_id", "event_type")
      .orderBy(col("from_type"), col("to_type")),
    Some("""
      WITH nx AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS to_type
        FROM events WHERE user_id IS NOT NULL),
      c AS (
        SELECT from_type, to_type, count(*) AS n_trans FROM nx
        WHERE to_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n_trans,
             round(CAST(n_trans AS DOUBLE) /
                   sum(n_trans) OVER (PARTITION BY from_type), 4)
               AS pct_from
      FROM c ORDER BY from_type, to_type"""))


  /** q89_rate_anomaly — rolling z-score anomaly on hourly event rates
    * (TimeOps.rateAnomaly): each (type, hour) cell scored against its
    * own trailing 24 h on a DENSE hour spine (missing hours count 0,
    * so the ROWS frame is real wall-clock lookback). One
    * partial-aggregated (type, hour) count pass is the only
    * corpus-sized stage; the windows run over spine rows (types ×
    * 720 — a time-range constant). Mean/std derive from exact BIGINT
    * window sums (order-free — a windowed DOUBLE sum's addition
    * order differs between engines) with the identical float formula
    * on both sides; zero-variance lookbacks yield NULL z ≡
    * non-anomalous. Threshold margin measured at all three SFs: the
    * nearest |z| to 3.0 is well outside float noise (FIXTURES.md
    * practice, q64's convention).
    */
  private val q89 = Q(
    "q89_rate_anomaly",
    (s, d) => TimeOps.rateAnomaly(ev(s, d), "ts", "event_type",
        "2024-01-01 00:00:00", nHours = 720, trailing = 24, zThresh = 3.0)
      .orderBy(col("event_type"), col("h")),
    Some("""
      WITH c AS (
        SELECT event_type,
               CAST((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                    // 3600000000 AS INTEGER) AS h,
               count(*) AS cnt
        FROM events
        WHERE event_type IS NOT NULL
          AND epoch_us(ts) >= epoch_us(TIMESTAMP '2024-01-01 00:00:00')
          AND epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-01 00:00:00')
              + 720 * 3600000000
        GROUP BY 1, 2),
      ty AS (SELECT DISTINCT event_type FROM c),
      spine AS (
        SELECT event_type, CAST(unnest(range(720)) AS INTEGER) AS h FROM ty),
      d AS (
        SELECT s.event_type, s.h, CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
        FROM spine s LEFT JOIN c USING (event_type, h)),
      w AS (
        SELECT event_type, h, cnt,
               CAST(sum(cnt) OVER wnd AS BIGINT) AS s1,
               CAST(sum(cnt * cnt) OVER wnd AS BIGINT) AS s2
        FROM d WINDOW wnd AS (PARTITION BY event_type ORDER BY h
                              ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      z AS (
        SELECT event_type, h, cnt,
               -- greatest(..., 0) mirrors the engine's float-variance
               -- clamp: past 2^53 the subtraction can cancel to a
               -- small negative even when the exact integer gate above
               -- (correctly) says variance > 0 — both engines must
               -- then agree on z = NULL via sqrt(0), not NaN/error
               CASE WHEN 24 * s2 = s1 * s1 THEN NULL
                    ELSE (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / 24.0)
                         / nullif(sqrt(greatest((CAST(s2 AS DOUBLE)
                                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                   / 24.0) / 24.0, 0.0)), 0.0)
               END AS zv
        FROM w WHERE h >= 24)
      SELECT event_type, h, cnt, round(zv, 4) AS z,
             coalesce(abs(zv) > 3.0, false) AS is_anomaly
      FROM z ORDER BY event_type, h"""))


  /** q90_conversion_lag — time-to-convert distribution
    * (TimeOps.funnelReaches): for users converting under q87's exact
    * funnel semantics (view → click → purchase, 24 h attribution),
    * the per-step conversion-lag percentiles — the latency companion
    * to q87's volume report. Same user-keyed chain; lags are exact
    * µs integer differences; `percentile` is exact interpolated (the
    * q24/q67-established engine≡oracle parity) over a per-step group.
    */
  private val q90 = Q(
    "q90_conversion_lag",
    (s, d) => {
      import s.implicits._
      val r = TimeOps.funnelReaches(ev(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        withinHours = Some(24))
      // both lag rows in ONE pass over the reach frame (round 13 —
      // the nearDupReport fusion): the union form evaluated the whole
      // 3-step funnel chain once per branch (events scanned 9× in the
      // plan). Explode emits the same two (step, lag) rows per user;
      // the NULL filter is unchanged (a NULL lag struct field filters
      // out exactly like its NULL-filtered union branch did)
      r.select(explode(array(
          struct(lit("step2_click").as("step"), ($"t2" - $"t1").as("lag_us")),
          struct(lit("step3_purchase").as("step"),
            ($"t3" - $"t2").as("lag_us")))).as("__l"))
        .select($"__l.step".as("step"), $"__l.lag_us".as("lag_us"))
        .filter($"lag_us".isNotNull)
        .groupBy($"step")
        .agg(count(lit(1)).as("n_users"),
          percentile($"lag_us", lit(0.5)).as("p50_lag_us"),
          percentile($"lag_us", lit(0.9)).as("p90_lag_us"))
        .orderBy($"step")
    },
    Some("""
      WITH s1 AS (
        SELECT user_id, min(epoch_us(ts)) AS t FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1),
      s2 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id AND epoch_us(e.ts) > s1.t
          AND epoch_us(e.ts) <= s1.t + 86400000000
        WHERE e.event_type = 'click' GROUP BY 1),
      s3 AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
        JOIN s2 ON e.user_id = s2.user_id AND epoch_us(e.ts) > s2.t
          AND epoch_us(e.ts) <= s2.t + 86400000000
        WHERE e.event_type = 'purchase' GROUP BY 1),
      l AS (
        SELECT 'step2_click' AS step, s2.t - s1.t AS lag_us
        FROM s2 JOIN s1 USING (user_id)
        UNION ALL
        SELECT 'step3_purchase', s3.t - s2.t
        FROM s3 JOIN s2 USING (user_id))
      SELECT step, count(*) AS n_users,
             quantile_cont(lag_us, 0.5) AS p50_lag_us,
             quantile_cont(lag_us, 0.9) AS p90_lag_us
      FROM l GROUP BY 1 ORDER BY 1"""))


  /** q91_ks_drift — per-source two-sample KS drift gate
    * (LibOps.ksReport): each source's doc-length CDF against the rest
    * of the corpus, with the 5%-level critical value and verdict —
    * the binning-free distributional sibling of q86's PSI. One
    * (source, n_chars) count pass; the grid, CDFs, D, and crit are
    * exact-integer-fed float formulas written identically in both
    * engines, so the verdict is bit-equal without threshold margins.
    */
  private val q91 = Q(
    "q91_ks_drift",
    (s, d) => LibOps.ksReport(docs(s, d), "source", "n_chars")
      .orderBy(col("source")),
    Some("""
      WITH c AS (
        SELECT source AS g, n_chars AS x, count(*) AS c
        FROM documents
        WHERE source IS NOT NULL AND n_chars IS NOT NULL
        GROUP BY 1, 2),
      grid AS (
        SELECT g, x
        FROM (SELECT DISTINCT g FROM c), (SELECT DISTINCT x FROM c)),
      cum AS (
        SELECT grid.g, grid.x,
               CAST(sum(coalesce(c.c, 0)) OVER
                 (PARTITION BY grid.g ORDER BY grid.x) AS BIGINT) AS cg
        FROM grid LEFT JOIN c ON grid.g = c.g AND grid.x = c.x),
      ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
      ccum AS (
        SELECT x, CAST(sum(cx) OVER (ORDER BY x) AS BIGINT) AS cc
        FROM (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM c GROUP BY 1) t),
      nn AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM c),
      d AS (
        SELECT cum.g, ng.n, nn.nt,
               max(CASE WHEN nn.nt - ng.n = 0 THEN NULL
                        ELSE abs(CAST(cg AS DOUBLE) / ng.n
                                 - CAST(cc - cg AS DOUBLE) / (nn.nt - ng.n))
                   END) AS ds
        FROM cum JOIN ccum USING (x) JOIN ng USING (g) CROSS JOIN nn
        GROUP BY 1, 2, 3),
      e AS (
        SELECT g, n, ds,
               CASE WHEN nt - n = 0 THEN NULL
                    ELSE 1.358 * sqrt(CAST(nt AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(nt - n AS DOUBLE)))
               END AS cr
        FROM d)
      SELECT g AS source, n, round(ds, 6) AS d_stat, round(cr, 6) AS crit,
             coalesce(ds > cr, false) AS drifted
      FROM e ORDER BY source"""))


  /** q92_attribution — multi-touch attribution with linear time decay
    * (TimeOps.attributionWeights): every purchase distributes credit
    * over that user's views/clicks in the trailing 24 h, weight ∝
    * (window − Δt) normalized per conversion — exact BIGINT
    * numerators over an exact BIGINT sum, so each weight is ONE
    * IEEE division, bit-equal in any engine. User-keyed
    * co-partitioned join; one conversion-partitioned window.
    */
  private val q92 = Q(
    "q92_attribution",
    (s, d) => TimeOps.attributionWeights(ev(s, d), "user_id", "ts",
        "event_id", "event_type", convType = "purchase",
        touchTypes = Seq("view", "click"), windowHours = 24)
      .withColumn("weight", round(col("weight"), 6))
      .orderBy(col("conv_id"), col("touch_id")),
    Some("""
      WITH c AS (
        SELECT user_id, event_id AS conv_id, epoch_us(ts) AS cts
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL),
      t AS (
        SELECT user_id, event_id AS touch_id, event_type AS touch_type,
               epoch_us(ts) AS tts
        FROM events
        WHERE event_type IN ('view', 'click') AND user_id IS NOT NULL),
      j AS (
        SELECT conv_id, touch_id, touch_type, cts - tts AS lag_us,
               86400000000 - (cts - tts) AS raw
        FROM c JOIN t USING (user_id)
        WHERE tts < cts AND tts >= cts - 86400000000)
      SELECT conv_id, touch_id, touch_type, lag_us,
             round(CAST(raw AS DOUBLE) /
                   CAST(nullif(sum(raw) OVER (PARTITION BY conv_id), 0)
                        AS DOUBLE), 6) AS weight
      FROM j ORDER BY conv_id, touch_id"""))


  /** text_pmi_bigrams — collocation mining by PMI
    * (TextOps.pmiBigrams): top-20 adjacent bigrams with count >= 5 by
    * pointwise mutual information. Ranking compares the unlogged
    * lift (bit-equal IEEE arithmetic over exact counts; ln only in
    * the round-6 reported column — the psi convention); the global
    * top-k plans as TakeOrderedAndProject (the q77 shape).
    */
  private val t19 = Q(
    "text_pmi_bigrams",
    (s, d) => TextOps.pmiBigrams(docs(s, d), "text", minCount = 5L, k = 20)
      .orderBy(col("rnk")),
    Some("""
      WITH ws AS (
        SELECT string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      uni AS (
        SELECT word, count(*) AS c1
        FROM (SELECT unnest(w) AS word FROM ws) GROUP BY 1),
      tn AS (SELECT CAST(sum(len(w)) AS BIGINT) AS tn FROM ws),
      bg AS (
        SELECT bg, count(*) AS c12 FROM (
          SELECT w[i] || ' ' || w[i+1] AS bg
          FROM ws, unnest(range(1, len(w))) AS t(i))
        GROUP BY 1),
      tm AS (SELECT CAST(sum(len(w) - 1) AS BIGINT) AS tm FROM ws),
      f AS (
        SELECT bg AS bigram, c12,
               string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2
        FROM bg WHERE c12 >= 5),
      j AS (
        SELECT bigram, c12, u1.c1 AS c1, u2.c1 AS c2,
               (CAST(c12 AS DOUBLE) / tm) /
               ((CAST(u1.c1 AS DOUBLE) / tn) * (CAST(u2.c1 AS DOUBLE) / tn))
                 AS lift
        FROM f
        JOIN uni u1 ON f.w1 = u1.word
        JOIN uni u2 ON f.w2 = u2.word
        CROSS JOIN tm CROSS JOIN tn),
      r AS (
        SELECT CAST(row_number() OVER (ORDER BY lift DESC, bigram)
                 AS INTEGER) AS rnk,
               bigram, c12, c1, c2, round(ln(lift), 6) AS pmi
        FROM j)
      SELECT rnk, bigram, c12, c1, c2, pmi
      FROM r WHERE rnk <= 20 ORDER BY rnk"""))


  /** q93_rolling_active — DAU/WAU engagement
    * (TimeOps.rollingActiveUsers): per activity day, distinct daily
    * actives, distinct trailing-7-day actives, and the stickiness
    * ratio. Sliding distinct cannot sum from daily counts, so each
    * (user, day) presence row expands to the 7 report days it covers
    * — one user-keyed distinct pass, a bounded ×7 fan-out, two
    * days-sized aggregates, no windows.
    */
  private val q93 = Q(
    "q93_rolling_active",
    (s, d) => TimeOps.rollingActiveUsers(ev(s, d), "user_id", "ts",
        windowDays = 7)
      .orderBy(col("day")),
    Some("""
      WITH p AS (
        SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        FROM events WHERE user_id IS NOT NULL),
      dau AS (SELECT day, count(*) AS dau FROM p GROUP BY 1),
      cov AS (
        SELECT DISTINCT u, day + CAST(i AS INTEGER) AS day
        FROM p, unnest(range(7)) AS t(i)),
      wau AS (SELECT day, count(*) AS wau FROM cov GROUP BY 1)
      SELECT d.day, dau, wau,
             round(CAST(dau AS DOUBLE) / wau, 4) AS stickiness
      FROM dau d JOIN wau USING (day)
      ORDER BY day"""))

  val qs: Seq[Q] = Seq(q84, q85, q86, q86i, q87, q88, q89, q90, q91, q92, t19, q93)
}

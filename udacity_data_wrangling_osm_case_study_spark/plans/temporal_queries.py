"""Temporal-join queries: as-of attribution and banded range joins —
operator classes the reference lacks entirely (SURVEY.md §2.3)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import temporal
from udacity_data_wrangling_osm_case_study_spark.plans.registry import register, table
from udacity_data_wrangling_osm_case_study_spark.session import ensure_session_contract


@register(
    "purchase_click_attribution",
    """
    WITH purchases AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, ts, event_id AS click_id FROM events
        WHERE event_type = 'click'
    )
    SELECT p.event_id, c.click_id AS attributed_click
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND c.ts < p.ts
    ORDER BY p.event_id
    """,
)
def purchase_click_attribution(spark, sf_dir):
    """AS-OF join: each purchase attributed to the user's latest
    strictly-earlier click. Implemented via union + ordered window
    (one shuffle on the user key — sort-merge-join cost); the oracle is
    DuckDB's native ASOF JOIN, so the match also validates the pattern
    against a first-class implementation."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    out = temporal.asof_join(
        purchases, clicks, key="user_id", time_col="ts",
        left_val="event_id", right_val="event_id",
    )
    return out.select(
        "event_id", F.col("asof_event_id").alias("attributed_click")
    ).orderBy("event_id")


@register(
    "error_followup_pairs",
    """
    WITH errors AS (
        SELECT user_id, ts, event_id AS error_id FROM events
        WHERE event_type = 'error'
    ),
    followups AS (
        SELECT user_id, ts, event_id, event_type FROM events
        WHERE event_type <> 'error'
    )
    SELECT e.error_id, f.event_id AS followup_id, f.event_type AS followup_type,
           CAST((epoch_us(f.ts) - epoch_us(e.ts)) // 1000000 AS BIGINT)
               AS gap_seconds
    FROM errors e
    JOIN followups f
      ON e.user_id = f.user_id
     AND f.ts > e.ts
     AND epoch_us(f.ts) <= epoch_us(e.ts) + 300 * 1000000
    ORDER BY error_id, followup_id
    """,
)
def error_followup_pairs(spark, sf_dir):
    """Range (interval) join: every non-error event within 5 minutes
    AFTER an error by the same user. Banded by 5-minute time buckets so
    candidates never exceed per-bucket products; the oracle uses the
    naive inequality join — same rows."""
    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    followups = ev.filter(F.col("event_type") != "error").select(
        "user_id", "ts", "event_id", "event_type"
    )
    joined = temporal.range_join(
        errors, followups, key="user_id", time_col="ts", max_gap_seconds=300
    )
    return joined.select(
        F.col("l_error_id").alias("error_id"),
        F.col("r_event_id").alias("followup_id"),
        F.col("r_event_type").alias("followup_type"),
        "gap_seconds",
    ).orderBy("error_id", "followup_id")


@register(
    "event_value_resample_locf",
    """
    WITH b AS (
        SELECT user_id,
               -- exact FLOOR division (DuckDB's // truncates toward
               -- zero, splitting the hour bucket that straddles epoch
               -- 0 for pre-1970 instants; the positive-mod subtraction
               -- leaves an exact multiple, matching Spark's
               -- exact_floor_div bucket semantics)
               CAST((epoch_us(ts)
                     - ((epoch_us(ts) % 3600000000) + 3600000000)
                       % 3600000000) // 3600000000 AS BIGINT) AS b,
               COUNT(*) AS n_obs,
               SUM(CAST(value AS DECIMAL(18,2))) AS s
        FROM events WHERE user_id < 3 GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM b GROUP BY user_id),
    grid AS (SELECT user_id, u.b
             FROM spans, LATERAL unnest(range(lo, hi + 1)) AS u(b)),
    j AS (SELECT g.user_id, g.b, COALESCE(n_obs, 0) AS n_obs, s
          FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.b = b.b)
    SELECT user_id, b AS hour_bucket, n_obs,
           ROUND(CAST(CAST(last_value(s IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS VARCHAR) AS DOUBLE), 2) AS filled_value
    FROM j ORDER BY user_id, hour_bucket
    """,
)
def event_value_resample_locf(spark, sf_dir):
    """Time-grid resampling + gap fill: each user's event stream
    re-gridded to dense hourly buckets (sequence+explode off the
    per-key span — no driver loop) with per-bucket counts and the
    hourly value sum carried forward across gaps (LOCF), the
    continuous-aggregate/rollup shape of a timeseries store. Sums are
    exact decimals; the fill window runs over bucket rows, not raw
    events. The reference has no timeseries surface (SURVEY.md §2.3);
    this extends the as-of family."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 3)
    prepped = ev.select(
        "user_id", "ts",
        F.col("value").cast("decimal(18,2)").alias("agg_value"),
    )
    out = temporal.resample_locf(
        prepped, key="user_id", time_col="ts", bucket_seconds=3600
    )
    return out.select(
        F.col("k").alias("user_id"),
        F.col("b").alias("hour_bucket"),
        "n_obs",
        F.round(F.col("filled_agg_value").cast("double"), 2).alias("filled_value"),
    ).orderBy("user_id", "hour_bucket")


@register(
    "event_value_ewma",
    """
    WITH r AS (
        SELECT user_id, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id < 5 AND value IS NOT NULL
    ),
    j AS (
        SELECT a.user_id, a.event_id, a.rn,
               LEAST(a.rn, 16) AS s,
               b.cents, a.rn - b.rn AS d
        FROM r a JOIN r b
          ON a.user_id = b.user_id
         AND b.rn BETWEEN a.rn - 15 AND a.rn
    )
    SELECT user_id, event_id,
           CAST(MAX(s) AS BIGINT) AS n_window,
           CAST(SUM(cents * (CAST(1 AS BIGINT) << (s - 1 - d))) * 10000
                // ((CAST(1 AS BIGINT) << MAX(s)) - 1) AS BIGINT) AS ewma_micro
    FROM j GROUP BY user_id, event_id
    ORDER BY user_id, event_id
    """,
)
def event_value_ewma(spark, sf_dir):
    """Trailing EWMA (decay 1/2, 16-observation horizon) of each
    user's event values — the metrics-store smoothing pass. Weights are
    powers of two over integer cents, so numerator/denominator are
    exact BIGINTs in both engines and the output is one integer
    division (micro-units: value × 1e6). One ordered window + row-local
    fold (operators.temporal.ewma_halving); the oracle recomputes the
    identical weighted sum via a rank-banded self-join."""
    # A NULL value is not an observation of the smoothed series —
    # excluded BEFORE ranking on both sides, so the lookback window
    # spans real observations only.
    ev = table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 5) & F.col("value").isNotNull()
    )
    prepped = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = temporal.ewma_halving(
        prepped, key="user_id", order_cols=["ts", "event_id"],
        value_col="cents", lookback=16,
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("n_window").cast("long").alias("n_window"),
        # ewma_num is bounded by max_cents*2^16 (operator docstring) —
        # but the x10000 micro-unit scale is NOT: at 1e6-magnitude
        # values (fuzz variant 8m) num*10000 ~ 8e19 > 2^63 and ANSI
        # multiplication throws. Widen the scale through DECIMAL(38,0)
        # (the gini pattern); IntegralDivide still returns BIGINT, so
        # the output schema is unchanged. DuckDB's SUM already returns
        # HUGEINT, so the oracle side was never at risk.
        F.expr(
            "cast(ewma_num as decimal(38,0)) * 10000 div ewma_den"
        ).alias("ewma_micro"),
    ).orderBy("user_id", "event_id")


@register(
    "event_value_cusum",
    """
    WITH c AS (
        SELECT user_id, event_id, ts,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    t AS (SELECT user_id, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS target_c
          FROM c GROUP BY user_id),
    p AS (
        SELECT c.user_id, c.ts, c.event_id, t.target_c,
               SUM(c.cents - t.target_c) OVER (
                   PARTITION BY c.user_id ORDER BY c.ts, c.event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
        FROM c JOIN t USING (user_id)
    ),
    s AS (
        SELECT user_id, target_c,
               pf - LEAST(MIN(pf) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS st
        FROM p
    )
    SELECT user_id, target_c,
           CAST(MAX(st) AS BIGINT) AS max_cusum_c,
           CAST(COUNT(*) FILTER (WHERE st > 20 * target_c) AS BIGINT) AS n_alarms
    FROM s GROUP BY user_id, target_c
    ORDER BY user_id
    """,
)
def event_value_cusum(spark, sf_dir):
    """One-sided CUSUM drift detection per user: deviations from the
    user's own integer mean accumulate with reset-at-zero, reported as
    the peak statistic and the count of alarm rows (S > 20×target).
    The recursive ``max(0, prev + dev)`` is computed by the prefix-sum
    identity (operators.temporal.cusum) — two running windows over ONE
    (user, time) sort, no iteration. All-integer cents, so the
    detector state is bit-identical across engines."""
    ev = table(spark, sf_dir, "events")
    cents = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    targets = cents.groupBy("user_id").agg(
        F.expr("sum(cents) div count(*)").alias("target_c")
    )
    prepped = cents.join(F.broadcast(targets), "user_id")
    out = temporal.cusum(
        prepped, key="user_id", order_cols=["ts", "event_id"],
        value_col="cents", target_col="target_c",
    )
    return (
        out.groupBy("user_id", "target_c")
        .agg(
            F.max("cusum_stat").cast("long").alias("max_cusum_c"),
            F.count(
                F.when(F.col("cusum_stat") > 20 * F.col("target_c"), 1)
            ).cast("long").alias("n_alarms"),
        )
        .orderBy("user_id")
    )


@register(
    "session_peak_concurrency",
    """
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS ns
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM g
    ),
    iv AS (SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
           FROM s GROUP BY 1, 2),
    bnd AS (
        SELECT epoch_us(st) * 2 AS k_enc, 1 AS d FROM iv
        UNION ALL
        SELECT epoch_us(en) * 2 + 1 AS k_enc, -1 AS d FROM iv
    ),
    dd AS (SELECT k_enc, SUM(d) AS d FROM bnd GROUP BY k_enc),
    r AS (
        SELECT k_enc,
               SUM(d) OVER (ORDER BY k_enc
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS conc
        FROM dd
    )
    SELECT CAST(k_enc // 2 // 3600000000 AS BIGINT) AS hour_bucket,
           CAST(MAX(conc) AS BIGINT) AS max_concurrency
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def session_peak_concurrency(spark, sf_dir):
    """Interval sweep-line: sessionize every user (30-min gap), then
    per hour the PEAK number of concurrently-open sessions — the
    capacity-planning query over intervals. The global running open
    count uses the two-phase distributed prefix sum (no
    single-partition window; see operators.temporal.interval_concurrency);
    the oracle computes the identical sweep with a plain SQL window.
    Closed-interval convention: starts order before ends at the same
    instant."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond-exact gap: the oracle compares ts - LAG(ts) against
    # INTERVAL 30 MINUTE at full precision; casting each timestamp to
    # whole seconds first truncates fractional parts, so a gap
    # straddling the boundary (e.g. 1800.9 s) splits sessions on one
    # engine and not the other (caught by the r10 composed fuzz, which
    # reshuffled user_ids into fresh consecutive pairs).
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(w)
    ns = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = (
        ev.withColumn("ns", ns)
        .withColumn(
            "sid",
            F.sum("ns").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("st"), F.max("ts").alias("en"))
    )
    swept = temporal.interval_concurrency(sess, "st", "en")
    return (
        swept.groupBy(
            F.expr("ep_us div 3600000000").cast("long").alias("hour_bucket")
        )
        .agg(F.max("concurrency").cast("long").alias("max_concurrency"))
        .orderBy("hour_bucket")
    )


@register(
    "event_value_trend",
    """
    WITH c AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               epoch_us(ts) // 1000000 AS ep
        FROM events
    ),
    m AS (SELECT event_type, MIN(ep) AS ep0 FROM c GROUP BY event_type),
    x AS (
        SELECT c.event_type, c.cents,
               (c.ep - m.ep0) // 3600 AS xh
        FROM c JOIN m USING (event_type)
    ),
    s AS (
        SELECT event_type,
               COUNT(*)::HUGEINT AS n,
               SUM(xh)::HUGEINT AS sx,
               SUM(cents)::HUGEINT AS sy,
               SUM(xh * cents)::HUGEINT AS sxy,
               SUM(xh * xh)::HUGEINT AS sxx
        FROM x GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS VARCHAR) AS slope_num,
           CAST(n * sxx - sx * sx AS VARCHAR) AS slope_den,
           CASE WHEN n * sxy - sx * sy > 0 THEN 1
                WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS trend_sign
    FROM s ORDER BY event_type
    """,
)
def event_value_trend(spark, sf_dir):
    """Per-group OLS trend: the least-squares slope of event value
    over time (hours since the group's first event), reported as the
    EXACT rational (numerator, denominator) pair — ``slope = (nΣxy −
    ΣxΣy) / (nΣx² − (Σx)²)`` — so no float division or libm enters the
    attestation; the sign column derives the direction. Sums
    accumulate in DECIMAL(38,0) (HUGEINT oracle-side): addition order
    cannot perturb them at any scale.

    Shape: one broadcast join for the per-group epoch origin, then a
    single map-side-combinable aggregate — the sufficient-statistics
    pattern every distributed regression reduces to."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("unix_micros(ts) div 1000000").alias("ep"),
    )
    m = c.groupBy("event_type").agg(F.min("ep").alias("ep0"))
    x = c.join(F.broadcast(m), "event_type").select(
        "event_type",
        "cents",
        F.expr("(ep - ep0) div 3600").alias("xh"),
    )
    d38 = "decimal(38,0)"
    s = x.groupBy("event_type").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum(F.col("xh").cast(d38)).alias("sx"),
        F.sum(F.col("cents").cast(d38)).alias("sy"),
        F.sum((F.col("xh") * F.col("cents")).cast(d38)).alias("sxy"),
        F.sum((F.col("xh") * F.col("xh")).cast(d38)).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        num.cast("string").alias("slope_num"),
        den.cast("string").alias("slope_den"),
        # Round-13 s-fuzz find (seed 1s): a group whose values are ALL
        # NULL (here: mutated-unique event_type singletons with nulled
        # value) has NULL sums, and signum propagated the NULL while
        # the oracle's CASE fell through to ELSE 0. The when-chain
        # mirrors the CASE exactly — undefined trend reports sign 0
        # beside its NULL rationals — and compares the DECIMAL(38,0)
        # directly instead of signum's silent cast through double.
        F.when(num > 0, F.lit(1))
        .when(num < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("trend_sign"),
    ).orderBy("event_type")


@register(
    "multitouch_attribution",
    """
    WITH purchases AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, ts, event_id AS click_id FROM events
        WHERE event_type = 'click'
    ),
    pairs AS (
        SELECT p.event_id, c.click_id, c.ts AS c_ts
        FROM purchases p
        JOIN clicks c
          ON p.user_id = c.user_id
         AND p.ts > c.ts
         AND epoch_us(p.ts) <= epoch_us(c.ts) + 300 * 1000000
    ),
    ranked AS (
        SELECT event_id, click_id,
               ROW_NUMBER() OVER (PARTITION BY event_id
                                  ORDER BY c_ts, click_id) AS r,
               COUNT(*) OVER (PARTITION BY event_id) AS n_clicks
        FROM pairs
    )
    SELECT event_id, click_id,
           CAST(10000 // n_clicks
                + CASE WHEN r = n_clicks THEN 10000 % n_clicks ELSE 0 END
                AS BIGINT) AS credit_bp
    FROM ranked ORDER BY event_id, click_id
    """,
)
def multitouch_attribution(spark, sf_dir):
    """Multi-touch (linear) attribution: every click within 5 minutes
    BEFORE a purchase shares the credit equally, in integer basis
    points with the remainder assigned to the latest touch — so each
    purchase's credits sum to exactly 10,000 and the split hashes
    identically across engines. Built on the banded range join
    (operators.temporal.range_join — candidates only form between
    adjacent time buckets) plus one per-purchase window over the PAIR
    rows (already reduced, never raw events). Complements the
    last-touch as-of join in purchase_click_attribution."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    pairs = temporal.range_join(
        clicks, purchases, key="user_id", time_col="ts", max_gap_seconds=300
    ).select(
        F.col("r_event_id").alias("event_id"),
        F.col("l_click_id").alias("click_id"),
        F.col("l_t").alias("c_ts"),
    )
    w_rank = Window.partitionBy("event_id").orderBy("c_ts", "click_id")
    w_all = Window.partitionBy("event_id")
    ranked = pairs.withColumn("r", F.row_number().over(w_rank)).withColumn(
        "n_clicks", F.count("*").over(w_all)
    )
    return ranked.select(
        "event_id",
        "click_id",
        (
            F.expr("10000 div n_clicks")
            + F.when(F.col("r") == F.col("n_clicks"), F.expr("10000 % n_clicks"))
            .otherwise(F.lit(0))
        ).cast("bigint").alias("credit_bp"),
    ).orderBy("event_id", "click_id")


@register(
    "event_value_time_weighted_avg",
    """
    WITH c AS (
        SELECT user_id,
               epoch_us(ts) // 1000000 AS ep,
               event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    d AS (
        SELECT user_id, cents, ep,
               COALESCE(LEAD(ep) OVER (PARTITION BY user_id
                                       ORDER BY ep, event_id) - ep, 0) AS dt
        FROM c
    ),
    s AS (
        SELECT user_id, SUM(CAST(cents AS HUGEINT) * dt) AS wsum,
               MAX(ep) - MIN(ep) AS span_s
        FROM d GROUP BY user_id
    )
    SELECT user_id, CAST(span_s AS BIGINT) AS span_s,
           CAST(wsum * 10000 // span_s AS BIGINT) AS twa_micro
    FROM s WHERE span_s > 0 ORDER BY user_id
    """,
)
def event_value_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per user over irregular samples — each
    value "holds" until the next observation (the timeseries-store
    aggregate that a plain AVG gets wrong when sampling is uneven; the
    last observation carries zero width). Integer end to end: cents ×
    whole-second holds summed as BIGINT, one integer division to
    micro-units (value × 1e6). Users whose span is zero (single event
    or all in one second) are excluded — in both engines.

    Shape: one ordered window (lead) and one groupBy over the same
    (user, time) sort — Catalyst plans a single shuffle. Overflow
    posture: wsum and wsum×10000 cross 2^63 at mag6 magnitudes (r10
    fix), and the PER-HOLD cents·dt crosses it too once magnitude-
    scaled cents meet ±100-year holds (r11 composed 4mt fix) — every
    product and accumulation clears through DECIMAL(38,0), HUGEINT in
    the oracle."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("ep"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    d = c.withColumn(
        "dt", F.coalesce(F.lead("ep").over(w) - F.col("ep"), F.lit(0))
    )
    s = d.groupBy("user_id").agg(
        # cents must widen BEFORE the product: a magnitude-scaled value
        # (~1e13 cents) held across a ±100-year-shifted gap (~6.3e9 s)
        # passes 2^63 in the PER-TERM long multiply — caught by the
        # composed 4mt fuzz variant (r10's fix had widened only the
        # accumulated wsum). HUGEINT product in the oracle to match.
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("dt")).alias(
            "wsum"
        ),
        (F.max("ep") - F.min("ep")).alias("span_s"),
    )
    return (
        s.filter(F.col("span_s") > 0)
        .select(
            "user_id",
            F.col("span_s").cast("bigint").alias("span_s"),
            F.expr("wsum * 10000 div span_s").cast("long").alias("twa_micro"),
        )
        .orderBy("user_id")
    )


@register(
    "nearest_click_alignment",
    """
    WITH purchases AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, ts, event_id AS click_id FROM events
        WHERE event_type = 'click'
    ),
    merged AS (
        SELECT user_id, ts, event_id, NULL AS click_id FROM purchases
        UNION ALL
        SELECT user_id, ts, NULL, click_id FROM clicks
    ),
    w AS (
        SELECT user_id, ts, event_id,
               last_value(click_id IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, COALESCE(event_id, click_id), click_id IS NULL
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_click,
               first_value(click_id IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, COALESCE(event_id, click_id), click_id IS NULL
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS next_click,
               last_value(CASE WHEN click_id IS NOT NULL
                               THEN epoch_us(ts) END IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, COALESCE(event_id, click_id), click_id IS NULL
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_us,
               first_value(CASE WHEN click_id IS NOT NULL
                                THEN epoch_us(ts) END IGNORE NULLS) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, COALESCE(event_id, click_id), click_id IS NULL
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS next_us
        FROM merged
    )
    SELECT event_id,
           CASE
             WHEN prev_click IS NULL AND next_click IS NULL THEN NULL
             WHEN next_click IS NULL THEN prev_click
             WHEN prev_click IS NULL THEN next_click
             WHEN epoch_us(ts) - prev_us <= next_us - epoch_us(ts)
                  THEN prev_click
             ELSE next_click
           END AS nearest_click
    FROM w
    WHERE event_id IS NOT NULL
    ORDER BY event_id
    """,
)
def nearest_click_alignment(spark, sf_dir):
    """Nearest-in-time join (BOTH directions — the sensor-alignment
    variant the backward-only as-of cannot express): each purchase
    aligned to its user's temporally closest click, earlier one
    winning exact-distance ties. Same union+ordered-window shape as
    the as-of join, with a backward carry AND a forward carry over one
    (user, time) sort — still ONE shuffle, no per-row probe. The
    deterministic interleave orders clicks before purchases at equal
    timestamps (a same-instant click is visible to the backward carry,
    i.e. counts as a distance-zero 'previous') — mirrored exactly in
    the oracle's ORDER BY."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("long").alias("click_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.col("event_id").alias("click_id"),
    )
    merged = purchases.unionByName(clicks)
    order = [
        F.col("ts"),
        F.coalesce("event_id", "click_id"),
        F.col("click_id").isNull(),
    ]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Forward carry over the REVERSED order with a growing frame:
    # [1 FOLLOWING, UNBOUNDED FOLLOWING] is a shrinking frame that
    # Spark re-evaluates from scratch per row — O(events²) per user
    # (the round-11 timestamp fuzz's resample stall, same frame class;
    # a hot user with millions of events would hit it here). Over the
    # reversed order the same rows form [UNBOUNDED PRECEDING, -1],
    # which is incrementally maintained; the oracle keeps the forward
    # spelling (DuckDB's frames are not quadratic).
    order_rev = [
        F.col("ts").desc(),
        F.coalesce("event_id", "click_id").desc(),
        F.col("click_id").isNull().desc(),
    ]
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order_rev)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_us = F.when(
        F.col("click_id").isNotNull(), F.unix_micros("ts")
    )
    w = merged.select(
        "user_id", "ts", "event_id",
        F.last("click_id", ignorenulls=True).over(w_prev).alias("prev_click"),
        F.last("click_id", ignorenulls=True).over(w_next).alias("next_click"),
        F.last(click_us, ignorenulls=True).over(w_prev).alias("prev_us"),
        F.last(click_us, ignorenulls=True).over(w_next).alias("next_us"),
    )
    nearest = (
        F.when(F.col("prev_click").isNull() & F.col("next_click").isNull(), F.lit(None))
        .when(F.col("next_click").isNull(), F.col("prev_click"))
        .when(F.col("prev_click").isNull(), F.col("next_click"))
        .when(
            F.unix_micros("ts") - F.col("prev_us")
            <= F.col("next_us") - F.unix_micros("ts"),
            F.col("prev_click"),
        )
        .otherwise(F.col("next_click"))
    )
    return (
        w.filter(F.col("event_id").isNotNull())
        .select("event_id", nearest.cast("long").alias("nearest_click"))
        .orderBy("event_id")
    )


@register(
    "event_value_resample_interp",
    """
    WITH b AS (
        SELECT user_id,
               -- exact FLOOR division (DuckDB's // truncates toward
               -- zero, splitting the hour bucket that straddles epoch
               -- 0 for pre-1970 instants; the positive-mod subtraction
               -- leaves an exact multiple, matching Spark's
               -- exact_floor_div bucket semantics)
               CAST((epoch_us(ts)
                     - ((epoch_us(ts) % 3600000000) + 3600000000)
                       % 3600000000) // 3600000000 AS BIGINT) AS b,
               COUNT(*) AS n_obs,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
        FROM events WHERE user_id < 3 GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi FROM b GROUP BY user_id),
    grid AS (SELECT user_id, u.b
             FROM spans, LATERAL unnest(range(lo, hi + 1)) AS u(b)),
    j AS (SELECT g.user_id, g.b, COALESCE(n_obs, 0) AS n_obs, s
          FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.b = b.b),
    f AS (
        SELECT user_id, b, n_obs, s,
               last_value(s IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN s IS NOT NULL THEN b END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
               first_value(s IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY b
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN s IS NOT NULL THEN b END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY b
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        FROM j
    )
    SELECT user_id, b AS hour_bucket, n_obs,
           CAST(CASE WHEN n_obs > 0 THEN s
                     ELSE pv * (nb - b) + nv * (b - pb) END AS BIGINT)
               AS interp_num,
           CAST(CASE WHEN n_obs > 0 THEN 1 ELSE nb - pb END AS BIGINT)
               AS interp_den
    FROM f ORDER BY user_id, hour_bucket
    """,
)
def event_value_resample_interp(spark, sf_dir):
    """Hourly re-grid with LINEAR interpolation across gaps — the
    companion to ``event_value_resample_locf`` for signals where the
    straight line between surrounding observations is the better fill.
    The interpolated value is an exact rational (numerator/denominator
    BIGINTs over integer cents), so neither float arithmetic nor
    engine-specific integer-division rounding can diverge; observed
    buckets carry (bucket_sum, 1). Same scale shape as LOCF: raw rows
    reduce to bucket rows first, the dense grid explodes off per-key
    spans, and both fill windows share one (key, bucket) sort. The
    reference has no timeseries surface (SURVEY.md §2.3)."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 3)
    prepped = ev.select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    out = temporal.resample_interp(
        prepped, key="user_id", time_col="ts", value_col="cents",
        bucket_seconds=3600,
    )
    return out.select(
        F.col("k").alias("user_id"),
        F.col("b").alias("hour_bucket"),
        "n_obs",
        F.col("interp_num").cast("long").alias("interp_num"),
        F.col("interp_den").cast("long").alias("interp_den"),
    ).orderBy("user_id", "hour_bucket")


@register(
    "recency_weighted_user_value",
    """
    WITH ref_t AS (SELECT MAX(ts) AS t FROM events),
    aged AS (
        SELECT user_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CAST((epoch_us(ref_t.t) - epoch_us(ts)) // 3600000000 AS BIGINT)
                   AS age_h
        FROM events, ref_t
    ),
    agg AS (
        SELECT user_id,
               CAST(COUNT(*) FILTER (WHERE age_h < 32) AS BIGINT) AS n_recent,
               SUM(CASE WHEN age_h < 32
                        THEN CAST(cents AS HUGEINT) * (CAST(1 AS BIGINT)
                                      << CAST(31 - age_h AS INT))
                        ELSE 0 END) AS num
        FROM aged GROUP BY user_id
    )
    SELECT user_id, n_recent,
           CAST(num // 2147483648 AS BIGINT) AS decay_num_hi,
           CAST(num % 2147483648 AS BIGINT) AS decay_num_lo,
           CAST(CAST(1 AS BIGINT) << 31 AS BIGINT) AS decay_den
    FROM agg ORDER BY user_id
    """,
)
def recency_weighted_user_value(spark, sf_dir):
    """Recency-weighted engagement score (feature engineering): each
    event's value decays by 2^-age_hours from the corpus as-of instant,
    truncated at 32 h. Dyadic weights over integer cents keep the
    numerator/denominator exact integers in both engines; the numerator
    is reported as the hi/lo BIGINT pair num = hi*2^31 + lo (see the
    projection comment) — the same engine-portability trick as the
    EWMA — and the as-of instant rides in as a one-row broadcast, so
    the whole feature is one scan + one groupBy. The half-life knob is
    a shift, not a float pow."""
    ev = table(spark, sf_dir, "events")
    asof = ev.agg(F.max("ts").alias("t"))
    aged = ev.crossJoin(F.broadcast(asof)).select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("(unix_micros(t) - unix_micros(ts)) div 3600000000").alias(
            "age_h"
        ),
    )
    recent = F.col("age_h") < 32
    # The per-term product cents * 2^(31-age_h) passes 2^63 at
    # 1e6-scaled values (round-10 composed fuzz variant 12m — the gini
    # pattern one exponent up), so the numerator accumulates as
    # DECIMAL(38,0) (HUGEINT in the oracle). The REPORTED numerator is
    # decomposed as num = hi*2^31 + lo into two exactly-representable
    # BIGINTs: a raw DECIMAL(38,0) output column degrades to lossy
    # float64 in DuckDB's pandas path past 2^53 (r10 variant 15m), and
    # both engines' truncating div/% make the decomposition identical
    # for either sign. hi stays within int64 up to ~2^63 total cents
    # in a window — beyond that both engines fail loudly.
    num = F.sum(
        F.when(
            recent,
            F.expr(
                "cast(cents as decimal(38,0))"
                " * shiftleft(cast(1 as bigint), cast(31 - age_h as int))"
            ),
        ).otherwise(F.lit(0))
    )
    return (
        aged.groupBy("user_id")
        .agg(
            F.count_if(recent).cast("long").alias("n_recent"),
            num.cast("decimal(38,0)").alias("_num"),
        )
        .select(
            "user_id",
            "n_recent",
            F.expr("cast(_num div 2147483648 as bigint)").alias("decay_num_hi"),
            F.expr("cast(_num % 2147483648 as bigint)").alias("decay_num_lo"),
            F.lit(2**31).cast("long").alias("decay_den"),
        )
        .orderBy("user_id")
    )


@register(
    "theilsen_user_trend",
    """
    WITH pts AS (
        SELECT user_id,
               epoch_us(ts) // 1000000 AS x,
               CAST(ROUND(value * 100) AS BIGINT) AS y,
               event_id
        FROM events WHERE user_id < 5 AND value IS NOT NULL
    ),
    slopes AS (
        SELECT a.user_id,
               b.y - a.y AS num, b.x - a.x AS den
        FROM pts a JOIN pts b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
        WHERE a.x <> b.x
    ),
    ranked AS (
        SELECT user_id, num, den,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE),
                            num, den) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM slopes
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_slopes,
           CAST(num AS BIGINT) AS slope_num_c,
           CAST(den AS BIGINT) AS slope_den_s
    FROM ranked WHERE rn = (n + 1) // 2
    ORDER BY user_id
    """,
)
def theilsen_user_trend(spark, sf_dir):
    """Theil–Sen robust trend per user: the MEDIAN of all pairwise
    slopes, immune to the outliers that bend the OLS fit
    (``event_value_trend``). Selection happens by IEEE-double slope
    order — bit-identical in both engines — with an exact (num, den)
    tie-break, and the SELECTED slope is then reported as its exact
    rational (cents over seconds), so the output itself carries no
    float. Pairwise slopes are bounded per key (the query keys on a
    user cohort; at scale the estimator runs per bounded entity, never
    across a corpus)."""
    from pyspark.sql import Window

    # A NULL value is not a data point — a NULL slope would rank at
    # engine-dependent ends of the median scan.
    ev = table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 5) & F.col("value").isNotNull()
    )
    pts = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
        "event_id",
    )
    a = pts.select(
        "user_id",
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("event_id").alias("ea"),
    )
    b = pts.select(
        "user_id",
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("event_id").alias("eb"),
    )
    slopes = (
        a.join(b, "user_id")
        .filter((F.col("ea") < F.col("eb")) & (F.col("xa") != F.col("xb")))
        .select(
            "user_id",
            (F.col("yb") - F.col("ya")).alias("num"),
            (F.col("xb") - F.col("xa")).alias("den"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("num").cast("double") / F.col("den").cast("double"), "num", "den"
    )
    wn = Window.partitionBy("user_id")
    ranked = slopes.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    return (
        ranked.filter(F.expr("rn = (n + 1) div 2"))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_slopes"),
            F.col("num").cast("long").alias("slope_num_c"),
            F.col("den").cast("long").alias("slope_den_s"),
        )
        .orderBy("user_id")
    )


@register(
    "order_backlog_timeline",
    """
    WITH iv AS (
        SELECT o.o_orderkey, o.o_orderdate AS st, MAX(l.l_shipdate) AS en
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
        HAVING MAX(l.l_shipdate) >= o.o_orderdate
    ),
    bnd AS (
        SELECT epoch_us(st) * 2 AS k_enc, 1 AS d FROM iv
        UNION ALL
        SELECT epoch_us(en) * 2 + 1 AS k_enc, -1 AS d FROM iv
    ),
    dd AS (SELECT k_enc, SUM(d) AS d FROM bnd GROUP BY k_enc),
    r AS (
        SELECT k_enc,
               SUM(d) OVER (ORDER BY k_enc
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS conc
        FROM dd
    )
    SELECT CAST(k_enc // 2 // 86400000000 AS BIGINT) AS day_bucket,
           CAST(MAX(conc) AS BIGINT) AS max_open_orders
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def order_backlog_timeline(spark, sf_dir):
    """Work-in-progress backlog over time: each order is open from its
    order date until its LAST line item ships (a fact-fact interval
    derived by one orders⋈lineitem reduction), and the daily peak count
    of simultaneously-open orders comes from the same distributed
    sweep-line the session query uses (two-phase prefix sum, no
    single-partition window). The capacity/WIP report a fulfilment
    warehouse runs; orders whose lineitems all shipped before the
    order date (dirty rows) are excluded like any open-ended interval
    audit would."""
    # orderdate/shipdate scan as TIMESTAMP_NTZ in some testdata
    # generations; the UTC session zone makes the LTZ cast a wall-clock
    # identity (same normalization registry.table applies to events.ts)
    ensure_session_contract(spark)
    o = table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").withColumn(
        "l_shipdate", F.col("l_shipdate").cast("timestamp")
    )
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("en"))
        .filter(F.col("en") >= F.col("o_orderdate"))
        .select(F.col("o_orderdate").alias("st"), "en")
    )
    swept = temporal.interval_concurrency(iv, "st", "en")
    return (
        swept.groupBy(
            F.expr("ep_us div 86400000000").cast("long").alias("day_bucket")
        )
        .agg(F.max("concurrency").cast("long").alias("max_open_orders"))
        .orderBy("day_bucket")
    )


@register(
    "supplier_lead_time_median",
    """
    WITH lt AS (
        SELECT l.l_suppkey AS suppkey,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS lead_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ),
    ranked AS (
        SELECT suppkey, lead_days,
               ROW_NUMBER() OVER (PARTITION BY suppkey
                                  ORDER BY lead_days) AS rn,
               COUNT(*) OVER (PARTITION BY suppkey) AS n
        FROM lt
    )
    SELECT suppkey, CAST(n AS BIGINT) AS n_shipments,
           CAST(lead_days AS BIGINT) AS median_lead_days
    FROM ranked WHERE rn = (n + 1) // 2
    ORDER BY suppkey
    """,
)
def supplier_lead_time_median(spark, sf_dir):
    """Per-supplier fulfilment lead time (order date → line-item ship
    date), summarized by the EXACT lower median via histogram
    selection (operators.stats.histogram_median): lead days reduce to
    a (supplier, days) histogram first, so the median never sorts raw
    shipment rows — the day domain is tiny however many shipments
    exist. The supplier-SLA report, integer days end to end. The
    oracle is the fully tie-broken ranked-window median over raw rows,
    re-attesting the histogram shortcut's exactness with ties."""
    from udacity_data_wrangling_osm_case_study_spark.operators import stats

    ensure_session_contract(spark)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("timestamp").alias("od")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.col("l_shipdate").cast("timestamp").alias("sd"),
    )
    lt = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("sd") >= F.col("od"))
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.datediff(F.to_date("sd"), F.to_date("od")).cast("long").alias(
                "lead_days"
            ),
        )
    )
    med = stats.histogram_median(lt, key="suppkey", value="lead_days")
    return med.select(
        "suppkey",
        F.col("n").cast("long").alias("n_shipments"),
        F.col("median").cast("long").alias("median_lead_days"),
    ).orderBy("suppkey")


@register(
    "user_activity_gaps",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    span AS (
        SELECT user_id, MIN(d) AS d0, MAX(d) AS d1, COUNT(*) AS n_active
        FROM days GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))
                             AS DATE) AS d
        FROM span
    ),
    missing AS (
        SELECT s.user_id, s.d
        FROM spine s LEFT JOIN days dd ON dd.user_id = s.user_id AND dd.d = s.d
        WHERE dd.d IS NULL
    ),
    isl AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                        AS INT) AS grp
        FROM missing
    ),
    runs AS (SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY user_id, grp),
    gaps AS (
        SELECT user_id, SUM(len) AS n_gap_days, MAX(len) AS max_gap_len
        FROM runs GROUP BY user_id
    )
    SELECT s.user_id AS user_id,
           CAST(n_active AS BIGINT) AS n_active_days,
           CAST(COALESCE(n_gap_days, 0) AS BIGINT) AS n_gap_days,
           CAST(COALESCE(max_gap_len, 0) AS BIGINT) AS max_gap_len
    FROM span s LEFT JOIN gaps g ON g.user_id = s.user_id
    ORDER BY user_id
    """,
)
def user_activity_gaps(spark, sf_dir, max_span_days=None):
    """Calendar-spine gap analysis — the missing-data shape every
    telemetry pipeline needs: per user, the days inside their own
    [first, last] activity span with NO events, plus the longest
    consecutive dark streak (gaps-and-islands via the date-minus-
    row-number grouping trick, all date/int arithmetic, engine-exact).

    Scale shape: activity reduces to DISTINCT (user, day) first — the
    spine explodes per USER-SPAN-DAY (entities x days, not events),
    the anti-join removes active days, and the islands window
    partitions by user (key-local, never single-partition). A 100 TB
    event table enters exactly one map-side-combinable distinct; the
    spine frame is dimension-scale.

    ``max_span_days`` (opt-in, default None = no cap — the
    ``copurchase_pairs`` dense-tail pattern) bounds the per-user spine:
    one user with a 10-year span and 2 events otherwise emits ~3,650
    spine rows, so a long-tailed identifier (a bot account, a reused
    device id) can dominate the explode at corpus scale. When set, gap
    metrics are computed over the FIRST ``max_span_days`` days of each
    user's span only, and an extra ``truncated_days`` column reports
    how many span days were cut (0 for untouched users) — an explicit,
    caller-visible result change, which is why it is off by default
    (the registered oracle row runs uncapped)."""
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    span = days.groupBy("user_id").agg(
        F.min("d").alias("d0"),
        F.max("d").alias("d1"),
        F.count("*").alias("n_active"),
    )
    if max_span_days is not None:
        if max_span_days < 1:
            raise ValueError("max_span_days must be >= 1")
        span = span.withColumn(
            "d1_cap", F.least("d1", F.date_add("d0", max_span_days - 1))
        ).withColumn("truncated_days", F.datediff("d1", "d1_cap"))
    else:
        span = span.withColumn("d1_cap", F.col("d1"))
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1_cap")).alias("d")
    )
    missing = spine.join(days, ["user_id", "d"], "left_anti")
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        missing.withColumn("grp", F.date_sub("d", F.row_number().over(w)))
        .groupBy("user_id", "grp")
        .agg(F.count("*").alias("len"))
    )
    gaps = runs.groupBy("user_id").agg(
        F.sum("len").alias("n_gap_days"), F.max("len").alias("max_gap_len")
    )
    cols = [
        F.col("user_id"),
        F.col("n_active").cast("long").alias("n_active_days"),
        F.coalesce("n_gap_days", F.lit(0)).cast("long").alias("n_gap_days"),
        F.coalesce("max_gap_len", F.lit(0)).cast("long").alias("max_gap_len"),
    ]
    if max_span_days is not None:
        cols.append(F.col("truncated_days").cast("long").alias("truncated_days"))
    return (
        span.join(gaps, "user_id", "left")
        .select(*cols)
        .orderBy("user_id")
    )


@register(
    "conversion_funnel_ordered",
    """
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) // 1000 AS ms FROM events
    ),
    v AS (SELECT user_id, MIN(ms) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ms) AS t2, MIN(v.t1) AS t1
          FROM e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ms > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ms) AS t3, MIN(c.t2) AS t2
          FROM e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ms > c.t2
          GROUP BY e.user_id)
    SELECT stage, n_users, avg_step_ms FROM (
        SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(0 AS BIGINT) AS avg_step_ms FROM v
        UNION ALL
        SELECT '2_click', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(t2 - t1) // COUNT(*), 0) AS BIGINT) FROM c
        UNION ALL
        SELECT '3_purchase', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(t3 - t2) // COUNT(*), 0) AS BIGINT) FROM p
    ) ORDER BY stage
    """,
)
def conversion_funnel_ordered(spark, sf_dir):
    """ORDERED conversion funnel (view → click → purchase): a user
    counts at stage k only if stage k's first event happens strictly
    AFTER their first stage-(k-1) event — the product-analytics funnel
    semantic that unordered per-type mins get wrong (a purchase before
    the first view must not convert). Each stage is one conditional-min
    aggregate joined to the previous stage's user frame — user-keyed
    joins and map-side-combinable mins, no per-user window, no
    sequence UDF. Step latency reports as integer-exact avg
    milliseconds. The ms instants derive from the microsecond epoch by
    truncating integer division ON BOTH ENGINES — Spark's unix_millis
    FLOORS at negative epochs while DuckDB's epoch_ms truncates toward
    zero, a 1 ms divergence on pre-1970 instants (r10 timestamp-fuzz
    variant 8t)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_micros(ts) div 1000").alias("ms")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ms") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("t2"), F.min("t1").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t2"), "user_id")
        .filter(F.col("ms") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("t3"), F.min("t2").alias("t2"))
    )

    def stage(df, name, diff_expr):
        return df.agg(
            F.count("*").alias("n_users"),
            F.expr(diff_expr).cast("long").alias("avg_step_ms"),
        ).select(F.lit(name).alias("stage"), "n_users", "avg_step_ms")

    return (
        stage(v, "1_view", "coalesce(sum(0) div count(*), 0)")
        .unionByName(stage(c, "2_click", "coalesce(sum(t2 - t1) div count(*), 0)"))
        .unionByName(stage(p, "3_purchase", "coalesce(sum(t3 - t2) div count(*), 0)"))
        .orderBy("stage")
    )


@register(
    "weekly_retention_cohorts",
    """
    WITH su AS (
        SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cw
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS aw
        FROM events
    ),
    j AS (
        SELECT su.cw, date_diff('day', su.cw, act.aw) // 7 AS k
        FROM act JOIN su ON su.user_id = act.user_id
        WHERE act.aw >= su.cw
    ),
    counts AS (SELECT cw, k, COUNT(*) AS n_active FROM j
               WHERE k <= 8 GROUP BY cw, k),
    sizes AS (SELECT cw, COUNT(*) AS sz FROM su GROUP BY cw)
    SELECT counts.cw AS cohort_week, CAST(k AS BIGINT) AS week_k,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(n_active * 10000 // sz AS BIGINT) AS retention_bp
    FROM counts JOIN sizes ON sizes.cw = counts.cw
    ORDER BY cohort_week, week_k
    """,
)
def weekly_retention_cohorts(spark, sf_dir):
    """Weekly retention-cohort matrix — the product-analytics staple:
    users cohort by their first SIGNUP week (ISO Monday truncation,
    identical in both engines), and week-k retention is the share of
    the cohort active in ANY event k weeks later, in integer basis
    points. The (user, week) activity frame is made DISTINCT before the
    cohort join, so the per-cell aggregate is a plain COUNT (never
    COUNT DISTINCT over the fact table), and the week offset is exact
    integer day-arithmetic between two week-start dates — no float
    date math. Cohort sizes broadcast back for the share."""
    ev = table(spark, sf_dir, "events")
    week = lambda c: F.to_date(F.date_trunc("week", c))  # noqa: E731
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(week(F.col("ts"))).alias("cw"))
    )
    act = ev.select("user_id", week(F.col("ts")).alias("aw")).distinct()
    j = (
        act.join(su, "user_id")
        .filter(F.col("aw") >= F.col("cw"))
        .select("cw", F.expr("datediff(aw, cw) div 7").alias("k"))
        .filter(F.col("k") <= 8)
    )
    counts = j.groupBy("cw", "k").agg(F.count("*").alias("n_active"))
    sizes = su.groupBy("cw").agg(F.count("*").alias("sz"))
    return (
        counts.join(F.broadcast(sizes), "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            F.col("k").cast("long").alias("week_k"),
            F.col("n_active").cast("long").alias("n_active"),
            F.expr("n_active * 10000 div sz").cast("long").alias(
                "retention_bp"
            ),
        )
        .orderBy("cohort_week", "week_k")
    )

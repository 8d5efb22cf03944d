"""Window-shaped operators (W1/W2 + extensions): ordinals, uniqueness
windows, sessionization, running totals.

W1 in the ETL itself uses ``posexplode`` (array order IS the ordinal, no
shuffle); here the same operator is exercised over ``embeddings``. The
J2 XOR-ambiguity rewrite (SURVEY.md §2.3) appears as window uniqueness
counts over supplier pairs. Sessionization and running totals are the
batch faces of the streaming stateful operators.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators.iterative import snap_lazy
from udacity_data_wrangling_osm_case_study_spark.plans.registry import register, table


@register(
    "first_event_per_user",
    """
    SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def first_event_per_user(spark, sf_dir):
    """row_number ranking window with deterministic tie-break."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


@register(
    "top_parts_per_nation",
    """
    WITH rev AS (
        SELECT s.s_nationkey AS nationkey, l.l_partkey AS partkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS revenue
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey, l.l_partkey
    ),
    ranked AS (
        SELECT nationkey, partkey,
               CAST(CAST(revenue AS VARCHAR) AS DOUBLE) AS revenue,
               ROW_NUMBER() OVER (PARTITION BY nationkey
                                  ORDER BY revenue DESC, partkey) AS rn
        FROM rev
    )
    SELECT nationkey, partkey, revenue, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3 ORDER BY nationkey, rn
    """,
)
def top_parts_per_nation(spark, sf_dir):
    """Per-GROUP top-k (the grouped twin of the global
    TakeOrderedAndProject top-k): top-3 parts by supplier-nation
    revenue via a rank window over a pre-aggregated frame. The
    aggregate runs BEFORE the window, so the rank sorts nation-sized
    aggregate groups, never raw fact rows; revenue sums in exact
    DECIMAL, the tie-break is the part key."""
    li = table(spark, sf_dir, "lineitem")
    sup = F.broadcast(table(spark, sf_dir, "supplier"))
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_rev")
        )
    )
    w = Window.partitionBy("nationkey").orderBy(F.desc("_rev"), "partkey")
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "nationkey",
            "partkey",
            F.col("_rev").cast("double").alias("revenue"),
            F.col("rn").cast("bigint").alias("rn"),
        )
        .orderBy("nationkey", "rn")
    )


@register(
    "unambiguous_supplier_pairs",
    """
    WITH pairs AS (SELECT DISTINCT s_name, s_nationkey FROM supplier),
    counted AS (
        SELECT s_name, s_nationkey,
               COUNT(*) OVER (PARTITION BY s_name) AS n_name,
               COUNT(*) OVER (PARTITION BY s_nationkey) AS n_nat
        FROM pairs
    )
    SELECT s_name, s_nationkey FROM counted
    WHERE n_name = 1 AND n_nat = 1
    ORDER BY s_name
    """,
)
def unambiguous_supplier_pairs(spark, sf_dir):
    """J2 rewrite (W2): the official-street XOR-ambiguity elimination as
    window uniqueness counts — rows where both pair members are globally
    unique. Replaces the reference's O(n²) self-join
    (parse_clean_and_csv.py:331-339)."""
    pairs = (
        table(spark, sf_dir, "supplier")
        .select("s_name", "s_nationkey")
        .dropDuplicates(["s_name", "s_nationkey"])
    )
    counted = pairs.withColumn(
        "n_name", F.count("*").over(Window.partitionBy("s_name"))
    ).withColumn("n_nat", F.count("*").over(Window.partitionBy("s_nationkey")))
    return (
        counted.filter((F.col("n_name") == 1) & (F.col("n_nat") == 1))
        .select("s_name", "s_nationkey")
        .orderBy("s_name")
    )


@register(
    "embedding_components",
    """
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS pos,
           ROUND(CAST(unnest(embedding) AS DOUBLE), 5) AS component
    FROM embeddings WHERE vec_id < 5 ORDER BY vec_id, pos
    """,
)
def embedding_components(spark, sf_dir):
    """W1: posexplode — array order becomes the ordinal, zero shuffle."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "c")
    ).select(
        "vec_id", "pos", F.round(F.col("c").cast("double"), 5).alias("component")
    ).orderBy("vec_id", "pos")


@register(
    "user_sessions",
    """
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM gaps GROUP BY user_id ORDER BY user_id
    """,
)
def user_sessions(spark, sf_dir):
    """Sessionization (30-min inactivity gap) — the batch face of the
    streaming session-window operator; lag + conditional sum."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond-exact gap — see the session_peak_concurrency note:
    # whole-second truncation diverges from the oracle's INTERVAL
    # comparison on boundary-straddling gaps (r10 composed fuzz).
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    return (
        table(spark, sf_dir, "events")
        .withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "user_running_total",
    """
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW), 4)
             AS running_value
    FROM events WHERE user_id < 5 ORDER BY user_id, event_id
    """,
)
def user_running_total(spark, sf_dir):
    """Cumulative frame window (rowsBetween) — running total per user."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 5)
        .withColumn("running_value", F.round(F.sum("value").over(w), 4))
        .select("user_id", "event_id", "running_value")
        .orderBy("user_id", "event_id")
    )


@register(
    "trailing_hour_user_value",
    """
    SELECT user_id, event_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,4)))
                    OVER (PARTITION BY user_id
                          ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING
                                    AND CURRENT ROW)
                AS VARCHAR) AS DOUBLE) AS trailing_1h_value
    FROM events WHERE user_id < 5 ORDER BY user_id, event_id
    """,
)
def trailing_hour_user_value(spark, sf_dir):
    """Time-range window frame (RANGE BETWEEN on event time): per
    event, the user's total value over the trailing hour — the sliding
    frame is defined by the TIME distance, not a row count, so sparse
    and dense activity windows are handled by the same frame.
    The windowed sum runs in DECIMAL (associative — engines may
    accumulate the frame in different orders) and only the final value
    casts to double."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 5)
        .select(
            "user_id",
            "event_id",
            F.sum(F.col("value").cast("decimal(18,4)"))
            .over(w)
            .cast("double")
            .alias("trailing_1h_value"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "user_conversion_funnel",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
        SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
        UNION ALL SELECT '2_click_after_view', COUNT(*) FROM c
        UNION ALL SELECT '3_purchase_after_click', COUNT(*) FROM p
    ) ORDER BY stage
    """,
)
def user_conversion_funnel(spark, sf_dir):
    """Ordered event-sequence funnel: users whose first view precedes
    a click precedes a purchase, IN THAT ORDER — each stage anchors on
    the previous stage's first qualifying timestamp, so out-of-order
    events never count (the sequential-pattern analytics a plain
    per-type count can't express). Three key-shuffled min-aggregates,
    each over a frame already filtered to the prior stage's survivors."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df, name):
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(v, "1_view")
        .unionByName(stage(c, "2_click_after_view"))
        .unionByName(stage(p, "3_purchase_after_click"))
        .orderBy("stage")
    )


@register(
    "weekly_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT e.user_id,
               strftime(date_trunc('week', f.first_ts), '%Y-%m-%d')
                   AS cohort_week,
               date_diff('day', date_trunc('week', f.first_ts),
                         date_trunc('week', e.ts)) // 7 AS week_offset
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
           COUNT(*) AS n_active
    FROM act GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def weekly_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-event week, the
    count still active N weeks later. Two shuffles total — the per-user
    min and the distinct/count on (cohort, offset); both Monday-start
    week truncations agree across engines, and the offset is exact
    integer division of a day difference that is always a multiple
    of 7."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    j = ev.join(firsts, "user_id")
    cw = F.date_trunc("week", F.col("first_ts"))
    aw = F.date_trunc("week", F.col("ts"))
    # datediff needs plain columns — materialize the truncations first.
    act = (
        j.select(
            "user_id",
            F.to_date(cw).alias("__cw"),
            F.to_date(aw).alias("__aw"),
        )
        .select(
            "user_id",
            F.date_format("__cw", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(__aw, __cw) DIV 7").alias("week_offset"),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "balance_distribution",
    """
    SELECT c_mktsegment, c_custkey,
           ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal NULLS FIRST,
                                               c_custkey), 6)
             AS pct_rank,
           ROUND(CUME_DIST() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal NULLS FIRST,
                                            c_custkey), 6)
             AS cume
    FROM customer WHERE c_custkey <= 200
    ORDER BY c_mktsegment, c_custkey
    """,
)
def balance_distribution(spark, sf_dir):
    """Distribution windows: percent_rank + cume_dist of account balance
    within each market segment. The unique ``c_custkey`` tie-break makes
    both functions deterministic across engines. One shuffle on the
    partition key; at cluster scale the per-segment sort is the standard
    window SortExec, no driver involvement."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            "c_mktsegment",
            "c_custkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("c_mktsegment", "c_custkey")
    )


@register(
    "event_type_tumbling_5min",
    """
    SELECT event_type,
           CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS window_start_epoch_5min,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type, window_start_epoch_5min
    HAVING COUNT(*) > 1
    ORDER BY event_type, window_start_epoch_5min
    """,
)
def event_type_tumbling_5min(spark, sf_dir):
    """Tumbling event-time window aggregation — batch twin of the
    Structured Streaming DAG in ``streaming/events_stream.py`` (same
    grouping; the streaming variant adds a watermark)."""
    ev = table(spark, sf_dir, "events")
    bucket = F.floor(F.col("ts").cast("long") / 300).cast("bigint")
    return (
        ev.groupBy(
            "event_type", bucket.alias("window_start_epoch_5min")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .filter(F.col("n") > 1)
        .orderBy("event_type", "window_start_epoch_5min")
    )


@register(
    "event_type_sliding_10min",
    """
    WITH starts AS (
        SELECT event_type, value,
               unnest([CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT),
                       CAST(FLOOR(epoch(ts) / 300) * 300 - 300 AS BIGINT)])
                   AS window_start_epoch
        FROM events
    )
    SELECT event_type, window_start_epoch, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM starts
    GROUP BY event_type, window_start_epoch
    HAVING COUNT(*) > 1
    ORDER BY event_type, window_start_epoch
    """,
)
def event_type_sliding_10min(spark, sf_dir):
    """Sliding (hopping) event-time windows: 10-minute windows every 5
    minutes, so each event contributes to exactly two overlapping
    windows — Spark's native ``F.window`` expands the row to its member
    windows before a normal hash aggregation (epoch-aligned starts in
    both engines). The streaming twin just adds a watermark."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .filter(F.col("n") > 1)
        .select(
            "event_type",
            F.col("w.start").cast("long").alias("window_start_epoch"),
            "n",
            "total_value",
        )
        .orderBy("event_type", "window_start_epoch")
    )


@register(
    "approx_event_value_p95",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50_exact,
           ROUND(quantile_cont(value, 0.95), 4) AS p95_exact,
           CAST(CASE WHEN COUNT(value) >= 50 THEN 1 END AS BIGINT)
               AS p50_within_band,
           CAST(CASE WHEN COUNT(value) >= 50 THEN 1 END AS BIGINT)
               AS p95_within_band
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_event_value_p95(spark, sf_dir):
    """Sketch-based approximate percentiles per event type
    (``percentile_approx``, single-pass mergeable sketch). The sketch's
    value depends on its internal accuracy parameter, so the hashed
    output carries the exact interpolated percentiles plus
    deterministic ``*_within_band`` verdicts the oracle asserts TRUE.
    The band is the sketch's actual guarantee class — RANK error (the
    estimate must lie between the exact p-2 and p+2 percentile values;
    a GK/KLL-family sketch returns an element whose rank error is
    bounded, not its value error) — OR'd with a 2% relative-value
    check (measured ≤0.56% at sf0.01/sf0.1). Value-only banding fails
    legitimately at tiny n, where adjacent order statistics sit >2%
    apart while the sketch is rank-exact. At 100 TB the sketch is the
    only option that avoids a global sort: partial sketches merge
    associatively map-side."""
    within_value = lambda approx, exact: (
        F.abs(F.col(approx) - F.col(exact))
        <= 0.02 * F.greatest(F.abs(F.col(exact)), F.lit(1e-6))
    )
    within_rank = lambda approx, lo, hi: (
        (F.col(approx) >= F.col(lo)) & (F.col(approx) <= F.col(hi))
    )
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10000).alias("p50_approx"),
            F.percentile_approx("value", 0.95, 10000).alias("p95_approx"),
            F.expr("percentile(value, 0.48)").alias("p48"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.52)").alias("p52"),
            F.expr("percentile(value, 0.93)").alias("p93"),
            F.expr("percentile(value, 0.95)").alias("p95"),
            F.expr("percentile(value, 0.97)").alias("p97"),
            F.count("value").alias("n_vals"),
        )
        .select(
            "event_type",
            F.round("p50", 4).alias("p50_exact"),
            F.round("p95", 4).alias("p95_exact"),
            # The rank band only bounds the sketch once the +-2
            # percentile window spans whole order statistics (n >= 50);
            # below that, interpolated bounds cannot contain an
            # element answer — verdict NULL, same as the oracle.
            F.when(
                F.col("n_vals") >= 50,
                within_value("p50_approx", "p50")
                | within_rank("p50_approx", "p48", "p52"),
            ).cast("bigint").alias("p50_within_band"),
            F.when(
                F.col("n_vals") >= 50,
                within_value("p95_approx", "p95")
                | within_rank("p95_approx", "p93", "p97"),
            ).cast("bigint").alias("p95_within_band"),
        )
        .orderBy("event_type")
    )


@register(
    "trending_event_types",
    """
    WITH w AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT) AS window_start_epoch
        FROM events
    ),
    counts AS (
        SELECT window_start_epoch, event_type, COUNT(*) AS n
        FROM w GROUP BY window_start_epoch, event_type
    ),
    ranked AS (
        SELECT window_start_epoch, event_type, n,
               ROW_NUMBER() OVER (
                   PARTITION BY window_start_epoch
                   ORDER BY n DESC, event_type NULLS FIRST
               ) AS rank
        FROM counts
    )
    SELECT window_start_epoch, rank, event_type, n
    FROM ranked WHERE rank <= 3
    ORDER BY window_start_epoch, rank
    """,
)
def trending_event_types(spark, sf_dir):
    """Trending dashboard: the top-3 event types of every 10-minute
    window — windowed aggregation feeding a per-window rank. The rank
    window rides the SAME partitioning the aggregation produced
    (window start), so the second stage adds no extra shuffle of the
    event stream; ties break on the type name for a deterministic
    cut. The streaming twin is the same aggregation with a watermark
    and the rank in a foreachBatch."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window("ts", "10 minutes").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    rank_w = Window.partitionBy("w").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("w.start").cast("long").alias("window_start_epoch"),
            "rank",
            "event_type",
            "n",
        )
        .orderBy("window_start_epoch", "rank")
    )


@register(
    "event_spikes",
    """
    WITH w AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS window_start_epoch_5min,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    tr AS (
        SELECT event_type, window_start_epoch_5min, n,
               SUM(n) OVER (PARTITION BY event_type
                            ORDER BY window_start_epoch_5min
                            ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
                   AS trailing4,
               COUNT(*) OVER (PARTITION BY event_type
                              ORDER BY window_start_epoch_5min
                              ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
                   AS n_prev
        FROM w
    )
    SELECT event_type, window_start_epoch_5min, n,
           CAST(trailing4 AS BIGINT) AS trailing4
    FROM tr
    WHERE n_prev = 4 AND 4 * n >= 3 * trailing4
    ORDER BY event_type, window_start_epoch_5min
    """,
)
def event_spikes(spark, sf_dir):
    """Rate-anomaly detection: 5-min tumbling windows whose event count
    reaches 3x the mean of the previous 4 observed windows (integer
    cross-multiplication — no float mean ever computed, engine-exact).
    The monitoring query behind a streaming alert: the same windowed
    counts come from the watermarked streaming DAG
    (streaming/spike_alerts.py runs the SAME
    operators.temporal.trailing_spikes over its window store — one
    implementation, two runtimes). One shuffle for the window counts;
    the trailing frame runs per event_type over already-reduced rows."""
    from udacity_data_wrangling_osm_case_study_spark.operators import temporal

    ev = table(spark, sf_dir, "events")
    bucket = F.floor(F.col("ts").cast("long") / 300).cast("bigint")
    w = ev.groupBy(
        "event_type", bucket.alias("window_start_epoch_5min")
    ).agg(F.count("*").alias("n"))
    return (
        temporal.trailing_spikes(w, order_col="window_start_epoch_5min")
        .select(
            "event_type",
            "window_start_epoch_5min",
            "n",
            F.col("trailing").alias("trailing4"),
        )
        .orderBy("event_type", "window_start_epoch_5min")
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pair AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    ),
    tot AS (SELECT prev_type, SUM(n) AS t FROM pair GROUP BY prev_type)
    SELECT p.prev_type, p.next_type, p.n,
           CAST(p.n * 10000 // t.t AS BIGINT) AS prob_bp
    FROM pair p JOIN tot t ON p.prev_type = t.prev_type
    ORDER BY p.prev_type, next_type
    """,
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    stream: lag within (user, time) order, then count (prev, next)
    pairs and the row-normalized transition probability in basis
    points (integer division — engine-exact, no float normalization).
    One shuffle on user (the lag window), one on the pair key; the
    totals side is |event_type|^2 rows — broadcast. The
    sequence-analytics face of the sessionization family."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type", "next_type", "n",
            F.expr("n * 10000 DIV t").alias("prob_bp"),
        )
        .orderBy("prev_type", "next_type")
    )


@register(
    "event_value_mad_outliers",
    """
    WITH r AS (
        SELECT event_type, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
    ),
    med AS (SELECT event_type, value AS med FROM r WHERE rn = (n + 1) // 2),
    d AS (
        SELECT r.event_type, r.event_id, ABS(r.value - m.med) AS dev, m.med
        FROM r JOIN med m ON r.event_type = m.event_type
    ),
    r2 AS (
        SELECT event_type, event_id, dev, med,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY dev, event_id) AS rn2,
               COUNT(*) OVER (PARTITION BY event_type) AS n2
        FROM d
    ),
    mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn2 = (n2 + 1) // 2)
    SELECT d.event_type,
           ROUND(MAX(d.med), 2) AS median_value,
           ROUND(MAX(mad.mad), 2) AS mad_value,
           COUNT(*) FILTER (WHERE d.dev > 3 * mad.mad) AS n_outliers,
           CAST(COALESCE(SUM(d.event_id)
                             FILTER (WHERE d.dev > 3 * mad.mad), 0) AS BIGINT)
               AS outlier_id_sum
    FROM d JOIN mad ON d.event_type = mad.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def event_value_mad_outliers(spark, sf_dir):
    """Robust outlier detection per event type: median + median
    absolute deviation, flagging |x - med| > 3 x MAD. Medians are the
    DISCRETE lower median (the value at rank (n+1) div 2 under a fully
    tie-broken ordering) — an actual data value, so both engines agree
    bit-for-bit where an interpolating percentile would not. The
    outlier-id checksum attests WHICH events were flagged.

    Shape: two ranked windows keyed on event_type plus two broadcast
    median joins. Low-cardinality key caveat: with few types the window
    sort concentrates on |types| partitions; at 100 TB swap the ranked
    window for a distributed-selection median (binary search over
    value with salted partial counts) — the flagging join is unchanged."""
    # NULL values carry no deviation information and would sort at
    # engine-dependent ends of the rank windows: excluded both sides.
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )
    w_rank = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_all = Window.partitionBy("event_type")
    r = ev.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count("*").over(w_all)
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("value").alias("med")
    )
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", F.abs(F.col("value") - F.col("med")).alias("dev"),
        "med",
    )
    w_rank2 = Window.partitionBy("event_type").orderBy("dev", "event_id")
    r2 = d.withColumn("rn2", F.row_number().over(w_rank2)).withColumn(
        "n2", F.count("*").over(w_all)
    )
    mad = r2.filter(F.col("rn2") == F.expr("(n2 + 1) div 2")).select(
        "event_type", F.col("dev").alias("mad")
    )
    flagged = d.join(F.broadcast(mad), "event_type")
    is_out = F.col("dev") > 3 * F.col("mad")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.round(F.max("med"), 2).alias("median_value"),
            F.round(F.max("mad"), 2).alias("mad_value"),
            F.count_if(is_out).alias("n_outliers"),
            F.coalesce(F.sum(F.when(is_out, F.col("event_id"))), F.lit(0))
            .cast("bigint")
            .alias("outlier_id_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "rolling_distinct_users",
    """
    WITH hours AS (
        SELECT DISTINCT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
        FROM events
    ),
    contrib AS (
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) + t.o AS target,
               user_id
        FROM events, (VALUES (0), (1), (2)) AS t(o)
    )
    SELECT c.target AS hour_bucket,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS exact_rolling_users,
           TRUE AS within_5pct
    FROM contrib c JOIN hours ON c.target = hours.h
    GROUP BY c.target ORDER BY hour_bucket
    """,
)
def rolling_distinct_users(spark, sf_dir):
    """Mergeable-sketch rolling cardinality: per-hour HLL sketches
    (Datasketches ``hll_sketch_agg``) are UNIONED across each trailing
    3-hour window and estimated — never re-scanning events. This is
    the pre-aggregation pattern that makes rolling distinct counts
    feasible at 100 TB: raw-event state for COUNT(DISTINCT) over a
    sliding window is unbounded, but per-bucket sketches are KBs and
    union in O(sketch). Each hour's sketch fans out to the ≤3 windows
    it serves (explode — no repeated scans), unions reduce per target
    hour. The exact rolling count rides along only to power the
    deterministic ``within_5pct`` verdict (sketch bytes differ across
    engines by construction; the verdict is the attestation, same
    pattern as approx_distinct_users). lgConfigK=12 → 1.6% 1-sigma,
    a third of the asserted band."""
    ev = table(spark, sf_dir, "events")
    hour = F.expr("unix_micros(ts) div 3600000000").cast("long")
    sketches = (
        ev.select(hour.alias("h"), "user_id")
        .groupBy("h")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    hours = sketches.select(F.col("h").alias("target"))
    fanned = sketches.withColumn(
        "target", F.explode(F.array(F.col("h"), F.col("h") + 1, F.col("h") + 2))
    ).join(F.broadcast(hours), "target")
    rolled = fanned.groupBy("target").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = (
        ev.select(hour.alias("h"), "user_id")
        .withColumn(
            "target", F.explode(F.array(F.col("h"), F.col("h") + 1, F.col("h") + 2))
        )
        .join(F.broadcast(hours), "target")
        .groupBy("target")
        .agg(F.countDistinct("user_id").alias("exact_rolling_users"))
    )
    return (
        rolled.join(exact, "target")
        .select(
            F.col("target").alias("hour_bucket"),
            F.col("exact_rolling_users").cast("bigint").alias("exact_rolling_users"),
            (
                F.abs(F.col("approx_users") - F.col("exact_rolling_users")) * 100
                <= 5 * F.col("exact_rolling_users")
            ).alias("within_5pct"),
        )
        .orderBy("hour_bucket")
    )


@register(
    "event_value_median_histogram",
    """
    WITH r AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MAX(CASE WHEN rn = (n + 1) // 2 THEN value END), 2) AS median
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def event_value_median_histogram(spark, sf_dir):
    """Exact per-group median WITHOUT a raw-row sort: histogram
    selection (operators.stats.histogram_median) — one map-side-
    combinable (group, value) count, then the rank pick over histogram
    rows. This is the scale-out selection the MAD query's docstring
    promises for 100 TB; the oracle computes the same lower median the
    expensive way (fully tie-broken ranked window over raw rows) — the
    match proves the histogram shortcut is exact, ties included."""
    from udacity_data_wrangling_osm_case_study_spark.operators import stats

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    out = stats.histogram_median(ev, "event_type", "value")
    return out.select(
        "event_type", "n", F.round("median", 2).alias("median")
    ).orderBy("event_type")


@register(
    "quantity_weighted_median_price",
    """
    WITH c AS (
        SELECT l_returnflag AS flag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
               -- ROUND before the BIGINT cast: on fractional doubles
               -- DuckDB's direct cast rounds while Spark's truncates
               -- (fuzz class d, round 12 — first find); rounding is
               -- the defined weight semantics on both engines
               CAST(ROUND(l_quantity) AS BIGINT) AS w
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    h AS (SELECT flag, price_c, SUM(w) AS cw FROM c GROUP BY flag, price_c),
    r AS (
        SELECT flag, price_c, cw,
               SUM(cw) OVER (PARTITION BY flag ORDER BY price_c
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum,
               SUM(cw) OVER (PARTITION BY flag) AS n
        FROM h
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           CAST(price_c AS BIGINT) AS median
    FROM r
    WHERE cum >= (n + 1) // 2 AND cum - cw < (n + 1) // 2
    ORDER BY flag
    """,
)
def quantity_weighted_median_price(spark, sf_dir):
    """Weighted median via histogram selection: the quantity-weighted
    median line-item price per return flag — the smallest price whose
    cumulative quantity reaches half the total, selected from a
    map-side-combinable (flag, price) histogram exactly like the
    unweighted variant (operators.stats.histogram_median with a weight
    column). Prices in integer cents, weights ROUNDED to integer
    quantities — explicitly rounded, not bare-cast, because Spark's
    double→long cast truncates while DuckDB's rounds, a divergence the
    round-12 ``d`` fuzz class hit on its first sweep (quantity
    x.99 boundary values: n off by 1 per fractional row). With the
    shared ROUND the pick is engine-exact."""
    from udacity_data_wrangling_osm_case_study_spark.operators import stats

    li = (
        table(spark, sf_dir, "lineitem")
        # null-drop on the RAW columns, before the ROUND: the
        # operator's own isNotNull(round(q)) filter no longer
        # simplifies to a parquet-pushable isnotnull(q) (plan-census
        # diff caught the lost PushedFilters entry when the ROUND
        # landed) — filtering the base columns restores the pushdown
        .filter(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_quantity").isNotNull()
        )
        .select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long").alias("price_c"),
            F.round(F.col("l_quantity")).cast("long").alias("w"),
        )
    )
    out = stats.histogram_median(li, "flag", "price_c", weight="w")
    return out.select(
        "flag", "n", F.col("median").cast("bigint").alias("median")
    ).orderBy("flag")


@register(
    "event_hourly_seasonality",
    """
    WITH c AS (
        SELECT event_type,
               CAST(date_part('hour', ts) AS INT) AS hod,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    base AS (
        SELECT event_type, hod,
               COUNT(*) AS n,
               SUM(cents) * 100 // COUNT(*) AS mean_c2
        FROM c GROUP BY event_type, hod
    ),
    dev AS (
        SELECT c.event_type, c.hod,
               CASE WHEN ABS(c.cents * 100 - b.mean_c2) > 2 * b.mean_c2
                    THEN 1 ELSE 0 END AS is_dev
        FROM c JOIN base b USING (event_type, hod)
    )
    SELECT b.event_type, b.hod, CAST(b.n AS BIGINT) AS n,
           CAST(b.mean_c2 AS BIGINT) AS mean_c2,
           CAST(SUM(d.is_dev) AS BIGINT) AS n_deviant
    FROM base b JOIN dev d USING (event_type, hod)
    GROUP BY b.event_type, b.hod, b.n, b.mean_c2
    ORDER BY b.event_type, b.hod
    """,
)
def event_hourly_seasonality(spark, sf_dir):
    """Seasonal (hour-of-day) baseline profile per event type, plus
    how many raw events deviate from their own hour's baseline by more
    than 2× — the first pass of seasonal anomaly detection (the spike
    detector compares to TRAILING windows; this compares to the
    CALENDAR position). Integer hundredth-cents means (single DIV);
    the deviation flag cross-multiplies, never divides per row. Shape:
    one map-side-combinable aggregate to 24×|types| baseline rows,
    broadcast back onto the scan for the flag pass."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    base = c.groupBy("event_type", "hod").agg(
        F.count("*").alias("n"),
        F.expr("sum(cents) * 100 div count(*)").alias("mean_c2"),
    )
    dev = c.join(F.broadcast(base), ["event_type", "hod"]).select(
        "event_type",
        "hod",
        F.when(
            F.abs(F.col("cents") * 100 - F.col("mean_c2")) > 2 * F.col("mean_c2"), 1
        ).otherwise(0).alias("is_dev"),
    )
    return (
        dev.groupBy("event_type", "hod")
        .agg(F.sum("is_dev").cast("bigint").alias("n_deviant"))
        .join(F.broadcast(base), ["event_type", "hod"])
        .select(
            "event_type",
            "hod",
            F.col("n").cast("bigint").alias("n"),
            F.col("mean_c2").cast("bigint").alias("mean_c2"),
            "n_deviant",
        )
        .orderBy("event_type", "hod")
    )


@register(
    "top_session_paths",
    """
    WITH g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS ns
        FROM events
    ),
    s AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sid
        FROM g
    ),
    r AS (
        SELECT user_id, sid, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                  ORDER BY ts, event_id) AS rn
        FROM s
    ),
    paths AS (
        SELECT user_id, sid,
               string_agg(COALESCE(event_type, '<null>'), '>' ORDER BY rn)
                   AS path
        FROM r WHERE rn <= 4
        GROUP BY user_id, sid
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def top_session_paths(spark, sf_dir):
    """User-journey path mining: the 10 most common session-opening
    event-type sequences (first 4 events of each 30-minute-gap
    session) — the funnel-discovery complement to the fixed-order
    conversion funnel. One (user, time) sort powers sessionization and
    within-session ranking; paths reduce map-side to (path, count).
    Deterministic: '>'-joined type strings, (count, path) tie-broken
    top-10 via TakeOrderedAndProject."""
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
    s = ev.withColumn("ns", ns).withColumn(
        "sid",
        F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    r = s.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
        ),
    ).filter(F.col("rn") <= 4)
    paths = (
        r.groupBy("user_id", "sid")
        .agg(
            # An unknown event type is still a step in the journey:
            # token it as '<null>' (array_join would silently DROP
            # null elements, string_agg likewise — divergent and wrong).
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda x: F.coalesce(x["event_type"], F.lit("<null>")),
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


@register(
    "next_event_training_pairs",
    """
    WITH seq AS (
        SELECT user_id, ROW_NUMBER() OVER w AS pos,
               COALESCE(event_type, '<null>') AS event_type,
               lag(COALESCE(event_type, '<null>'), 3) OVER w AS c1,
               lag(COALESCE(event_type, '<null>'), 2) OVER w AS c2,
               lag(COALESCE(event_type, '<null>'), 1) OVER w AS c3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT c1 || '>' || c2 || '>' || c3 AS context,
           event_type AS label,
           COUNT(*) AS n
    FROM seq WHERE pos > 3
    GROUP BY context, label
    ORDER BY n DESC, context, label
    LIMIT 50
    """,
)
def next_event_training_pairs(spark, sf_dir):
    """Sequence-model example generation: (3-event context → next
    event) training pairs from every user's ordered stream, reduced to
    the (context, label, count) table an n-gram predictor or a
    next-action model trains from. One (user, time) sort feeds all
    three lags; the pair table reduces map-side before the final
    shuffle, so output scales with distinct contexts, not events.
    Deterministic top-50 with full tie-breaks."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NULL event types are tokened '<null>' BEFORE the lags, and the
    # "context complete" guard is positional (row 4+), not c1 IS NOT
    # NULL — a genuinely-null type in slot 1 is a valid context.
    typed = F.coalesce(F.col("event_type"), F.lit("<null>"))
    seq = ev.select(
        typed.alias("etype"),
        F.row_number().over(w).alias("pos"),
        F.lag(typed, 3).over(w).alias("c1"),
        F.lag(typed, 2).over(w).alias("c2"),
        F.lag(typed, 1).over(w).alias("c3"),
    )
    return (
        seq.filter(F.col("pos") > 3)
        .select(
            F.concat_ws(">", "c1", "c2", "c3").alias("context"),
            F.col("etype").alias("label"),
        )
        .groupBy("context", "label")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "context", "label")
        .limit(50)
    )


@register(
    "cumulative_unique_users",
    """
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    per_day AS (SELECT d, COUNT(*) AS n_new FROM first_seen GROUP BY d),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT STRFTIME(days.d, '%Y-%m-%d') AS day,
           CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new_users,
           CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY days.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_unique_users
    FROM days LEFT JOIN per_day ON days.d = per_day.d
    ORDER BY day
    """,
)
def cumulative_unique_users(spark, sf_dir):
    """Exact cumulative distinct users per day — COUNT(DISTINCT) OVER a
    running window, which no engine supports directly, rewritten as the
    first-seen identity: a user contributes exactly once, on their
    first-activity day, so distinct-to-date = running SUM of per-day
    first-seen counts. Two tiny aggregations (per user, per day) and
    one prefix sum over ~days rows replace any notion of per-day
    distinct re-scans; state is |users| once, never |users| × |days|."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("d"))
    per_day = first_seen.groupBy("d").agg(F.count("*").alias("n_new"))
    days = ev.select("d").distinct()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(per_day, "d", "left")
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n_new").cast("long").alias("n_new_users"),
            F.sum("n_new").over(w).cast("long").alias("cum_unique_users"),
        )
        .orderBy("day")
    )


@register(
    "event_value_ks_test",
    """
    WITH a AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
               WHERE event_type = 'click' AND value IS NOT NULL),
    b AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
          WHERE event_type = 'view' AND value IS NOT NULL),
    n AS (SELECT (SELECT COUNT(*) FROM a) AS na, (SELECT COUNT(*) FROM b) AS nb),
    deltas AS (
        SELECT v, SUM(d) AS delta FROM (
            SELECT v, (SELECT nb FROM n) AS d FROM a
            UNION ALL
            SELECT v, -(SELECT na FROM n) AS d FROM b
        ) GROUP BY v
    ),
    cum AS (
        SELECT SUM(delta) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM deltas
    )
    SELECT (SELECT CAST(na AS BIGINT) FROM n) AS n_a,
           (SELECT CAST(nb AS BIGINT) FROM n) AS n_b,
           CAST(MAX(ABS(c)) AS BIGINT) AS ks_num,
           CAST(MAX(ABS(c)) * 1000 // (SELECT na * nb FROM n) AS BIGINT)
               AS ks_permille
    FROM cum
    """,
)
def event_value_ks_test(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov statistic between the click
    and view value distributions — the distribution-drift test a data
    pipeline runs before trusting a new feed, with NO floats: D =
    max|F_a − F_b| is cross-multiplied to max|cum_a·n_b − cum_b·n_a|,
    and that quantity is one signed prefix sum of per-value deltas
    (+n_b per a-observation, −n_a per b-observation). Values reduce to
    distinct cents first; the running sum uses the two-phase
    distributed prefix sum (operators.packing) — no single-partition
    window over the value axis."""
    from udacity_data_wrangling_osm_case_study_spark.operators.packing import (
        global_token_offsets,
    )

    # A NULL value is not an observation (and would sort at an
    # engine-dependent end of the CDF axis): excluded both sides.
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
        )
    )
    # Each sample feeds the size aggregate AND the delta stream — cache
    # the filtered one-column frames so the fact is scanned once per
    # sample, not once per branch (pre-fix: 14 scans in the static
    # plan).
    a = ev.filter(F.col("event_type") == "click").select("v").cache()
    b = ev.filter(F.col("event_type") == "view").select("v").cache()
    n = a.agg(F.count("*").alias("na")).crossJoin(
        F.broadcast(b.agg(F.count("*").alias("nb")))
    )
    deltas = (
        a.crossJoin(F.broadcast(n)).select("v", F.col("nb").alias("d"))
        .unionByName(
            b.crossJoin(F.broadcast(n)).select("v", (-F.col("na")).alias("d"))
        )
        .groupBy("v")
        .agg(F.sum("d").alias("delta"))
    )
    swept = global_token_offsets(deltas, order_col="v", ntok_col="delta")
    stat = swept.agg(
        F.max(F.abs(F.col("start") + F.col("delta"))).alias("ks_num")
    )
    return stat.crossJoin(F.broadcast(n)).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("ks_num").cast("long").alias("ks_num"),
        F.expr("ks_num * 1000 div (na * nb)").alias("ks_permille"),
    )


@register(
    "rolling_active_users_exact",
    """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    expanded AS (
        SELECT user_id, d + CAST(o.off AS INT) AS target
        FROM ud, LATERAL unnest(range(0, 7)) o(off)
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT STRFTIME(days.d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_7d
    FROM days JOIN expanded e ON e.target = days.d
    GROUP BY days.d ORDER BY day
    """,
)
def rolling_active_users_exact(spark, sf_dir):
    """EXACT trailing-7-day active users per day — the companion to the
    HLL-sketch `rolling_distinct_users` for when the number must be
    exact: COUNT(DISTINCT) over a sliding window (unsupported
    everywhere) is rewritten by day-expansion — each (user, active-day)
    pair, already reduced to distinct rows, contributes itself to the 7
    calendar days it keeps the user 'active' for, and the rolling
    distinct collapses to a plain per-day COUNT(DISTINCT). Expansion is
    a bounded ×window_days on REDUCED rows, so cost is user-days × 7,
    never events × 7 — the exact/approximate trade is now a choice,
    not a limitation."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    expanded = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
            "target"
        ),
    )
    days = ev.select(F.to_date("ts").alias("d")).distinct()
    return (
        days.join(expanded, days.d == expanded.target)
        .groupBy(days.d)
        .agg(F.countDistinct("user_id").cast("long").alias("active_7d"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "active_7d")
        .orderBy("day")
    )


@register(
    "loo_target_encoding",
    """
    WITH c AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_id < 3000
    ),
    stats AS (
        SELECT event_id, event_type, cents,
               SUM(cents) OVER (PARTITION BY event_type) AS s,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c
    )
    SELECT event_id, event_type,
           CAST(s - cents AS BIGINT) AS loo_num_c,
           CAST(n - 1 AS BIGINT) AS loo_den
    FROM stats WHERE n > 1 ORDER BY event_id
    """,
)
def loo_target_encoding(spark, sf_dir):
    """Leave-one-out target encoding — the leakage-safe categorical
    feature: each row's category is encoded by the mean target of all
    OTHER rows in that category, (Σ − yᵢ)/(n − 1), so a row never sees
    its own label. One windowed sum+count per category (single shuffle)
    serves every row; the encoding is emitted as its exact rational
    over integer cents — no float mean to diverge across engines.
    Singleton categories are excluded (their LOO mean is undefined)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    c = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type")
    return (
        c.withColumn("s", F.sum("cents").over(w))
        .withColumn("n", F.count("*").over(w))
        .filter(F.col("n") > 1)
        .select(
            "event_id",
            "event_type",
            (F.col("s") - F.col("cents")).cast("long").alias("loo_num_c"),
            (F.col("n") - 1).cast("long").alias("loo_den"),
        )
        .orderBy("event_id")
    )


@register(
    "value_log2_histogram",
    """
    WITH c AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE ROUND(value * 100) >= 1
    ),
    b AS (
        SELECT event_type, len(bin(cents)) - 1 AS bucket FROM c
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST((CAST(1 AS BIGINT) << CAST(bucket AS INT)) AS BIGINT)
               AS lo_cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def value_log2_histogram(spark, sf_dir):
    """HDR-style log-bucketed value histogram per event type: bucket =
    floor(log2(cents)), computed EXACTLY as the binary-string length
    minus one (both engines' ``bin()``) — a float log2 is off by an
    ulp exactly at the power-of-two boundaries, the only places a
    bucket edge lives. Constant relative error per bucket, ~40 buckets
    cover nine decades: the observability-grade distribution summary
    that aggregates map-side and merges by addition at any scale."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).filter(F.col("cents") >= 1)
    b = c.select(
        "event_type", (F.length(F.bin("cents")) - 1).cast("long").alias("bucket")
    )
    return (
        b.groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "event_type",
            "bucket",
            F.expr("shiftleft(cast(1 as bigint), cast(bucket as int))").alias(
                "lo_cents"
            ),
            "n",
        )
        .orderBy("event_type", "bucket")
    )


@register(
    "user_event_diversity",
    """
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type
    ),
    agg AS (
        SELECT user_id, SUM(n) AS total,
               SUM(n * (n - 1)) AS same_pairs,
               COUNT(*) AS n_types
        FROM c GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(total AS BIGINT) AS n_events,
           CAST(same_pairs AS BIGINT) AS simpson_num,
           CAST(total * (total - 1) AS BIGINT) AS simpson_den
    FROM agg WHERE total > 1 ORDER BY user_id
    """,
)
def user_event_diversity(spark, sf_dir):
    """Behavioral diversity feature: Simpson's index per user — the
    probability two of the user's events (drawn without replacement)
    share a type, Σnᵢ(nᵢ−1) / n(n−1). The entropy-style concentration
    signal WITHOUT a logarithm: an exact rational from integer counts,
    so the feature is engine-portable where Shannon entropy is not.
    One (user, type) reduction then one per-user aggregate — the same
    two map-side-combinable shuffles any profile query pays."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    agg = c.groupBy("user_id").agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("same_pairs"),
        F.count("*").alias("n_types"),
    )
    return (
        agg.filter(F.col("total") > 1)
        .select(
            "user_id",
            F.col("n_types").cast("long").alias("n_types"),
            F.col("total").cast("long").alias("n_events"),
            F.col("same_pairs").cast("long").alias("simpson_num"),
            (F.col("total") * (F.col("total") - 1))
            .cast("long")
            .alias("simpson_den"),
        )
        .orderBy("user_id")
    )


@register(
    "event_type_hour_chisq",
    """
    WITH ev AS (
        SELECT event_type, CAST(date_part('hour', ts) AS INT) AS h
        FROM events
    ),
    obs AS (SELECT event_type, h, COUNT(*) AS o FROM ev
            GROUP BY event_type, h),
    rt AS (SELECT event_type, COUNT(*) AS r FROM ev GROUP BY event_type),
    ct AS (SELECT h, COUNT(*) AS c FROM ev GROUP BY h),
    tot AS (SELECT COUNT(*) AS n FROM ev),
    cells AS (
        SELECT rt.event_type, ct.h, rt.r, ct.c, COALESCE(obs.o, 0) AS o
        FROM rt CROSS JOIN ct
        LEFT JOIN obs ON obs.event_type = rt.event_type AND obs.h = ct.h
    ),
    stat AS (
        SELECT SUM(
                 POW(CAST(o AS DOUBLE)
                     - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 2)
                 / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               ) AS chi2,
               COUNT(*) AS n_cells
        FROM cells CROSS JOIN tot
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS n_types,
           CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS n_hours,
           CAST(((SELECT COUNT(*) FROM rt) - 1)
                * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof,
           CAST(ROUND(chi2, 3) AS DOUBLE) AS chi2,
           CAST(ROUND(SQRT(chi2 / NULLIF(CAST(n AS DOUBLE)
                * (LEAST((SELECT COUNT(*) FROM rt),
                         (SELECT COUNT(*) FROM ct)) - 1), 0)), 5) AS DOUBLE)
               AS cramers_v
    FROM stat CROSS JOIN tot
    """,
)
def event_type_hour_chisq(spark, sf_dir):
    """Pearson chi-square test of independence between event type and
    hour-of-day — the seasonality/contingency screen a feed-drift
    monitor runs ("did the traffic mix change with time of day?").
    Observed counts come from ONE map-side-combinable fact aggregation;
    the full r×c expected grid (including zero-observation cells, which
    plain groupBy would drop but the statistic requires) is built by
    crossing the two TINY marginal frames and left-joining the observed
    counts back — driver-scale work after one fact pass. Every cell
    term is evaluated with the identical correctly-rounded IEEE
    expression in both engines; only the final ~120-term sum can differ
    in order, so chi2 is rounded 3 dp (error bound ~1e-12 relative) and
    Cramér's V 5 dp."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("h")
    )
    obs = ev.groupBy("event_type", "h").agg(F.count("*").alias("o"))
    rt = ev.groupBy("event_type").agg(F.count("*").alias("r"))
    ct = ev.groupBy("h").agg(F.count("*").alias("c"))
    tot = ev.agg(F.count("*").alias("n"))
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .join(obs, ["event_type", "h"], "left")
        .select("r", "c", F.coalesce("o", F.lit(0)).alias("o"))
    )
    e = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("n").cast("double")
    )
    stat = (
        cells.crossJoin(F.broadcast(tot))
        .select(
            (F.pow(F.col("o").cast("double") - e, F.lit(2)) / e).alias("t")
        )
        .agg(F.sum("t").alias("chi2"))
    )
    dims = rt.agg(F.count("*").alias("n_types")).crossJoin(
        F.broadcast(ct.agg(F.count("*").alias("n_hours")))
    )
    return (
        stat.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("n_types").cast("long").alias("n_types"),
            F.col("n_hours").cast("long").alias("n_hours"),
            ((F.col("n_types") - 1) * (F.col("n_hours") - 1))
            .cast("long")
            .alias("dof"),
            F.round("chi2", 3).alias("chi2"),
            # V undefined for a 1xC or Rx1 table: NULL, not a crash
            F.round(
                F.sqrt(
                    F.try_divide(
                        F.col("chi2"),
                        F.col("n").cast("double")
                        * (F.least("n_types", "n_hours") - 1),
                    )
                ),
                5,
            ).alias("cramers_v"),
        )
    )


def _mannwhitney_projection(rn):
    """Final Mann–Whitney projection over a one-row (na, nb, r2a, tie3)
    BIGINT frame. The naive ``(r2a - na*(na+1)) * 500 div (na*nb)``
    overflows BIGINT once n_a·n_b > ~9.2×10¹⁵ (u2_a ≤ 2·n_a·n_b), so
    every derived term clears through DECIMAL(38,0) before the
    multiply; ``div`` on decimals is Spark's exact integral divide.
    Unit-tested at synthetic magnitudes where u2_a·500 > 2⁶³
    (tests/test_overflow_margins.py)."""
    na_d = "cast(na as decimal(38,0))"
    u2_d = f"cast(r2a as decimal(38,0)) - {na_d} * ({na_d} + 1)"
    den_d = f"{na_d} * cast(nb as decimal(38,0))"
    return rn.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("r2a").cast("long").alias("r2_a"),
        F.expr(u2_d).cast("long").alias("u2_a"),
        F.expr(f"({u2_d}) * 500 div ({den_d})")
        .cast("long")
        .alias("u_permille"),
        F.col("tie3").cast("long").alias("tie_cubed"),
    )


@register(
    "mannwhitney_click_view",
    """
    WITH ev AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    per_v AS (
        SELECT v, COUNT(*) AS cnt,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cnt_a
        FROM ev GROUP BY v
    ),
    ranked AS (
        SELECT v, cnt, cnt_a,
               COALESCE(SUM(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS off
        FROM per_v
    ),
    n AS (SELECT SUM(cnt_a) AS na, SUM(cnt - cnt_a) AS nb FROM per_v),
    r AS (SELECT SUM(cnt_a * (2 * off + cnt + 1)) AS r2a,
                 SUM(cnt * cnt * cnt - cnt) AS tie3
          FROM ranked)
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST(r2a AS BIGINT) AS r2_a,
           CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
           CAST(CAST(r2a - na * (na + 1) AS HUGEINT) * 500
                // CAST(na * nb AS HUGEINT) AS BIGINT)
               AS u_permille,
           CAST(tie3 AS BIGINT) AS tie_cubed
    FROM r CROSS JOIN n
    """,
)
def mannwhitney_click_view(spark, sf_dir):
    """Exact Mann–Whitney U (Wilcoxon rank-sum) between the click and
    view value distributions, with midrank tie handling — the
    nonparametric "did the median shift" companion to the KS drift test,
    and the standard A/B screen when values are skewed. All arithmetic
    is integer-exact: values reduce to distinct cents, each distinct
    value's midrank is doubled to stay integral (2·midrank = 2·offset +
    cnt + 1), and the doubled rank sum 2·R_a folds per value — so U
    (doubled), the common-language effect size in permille (U/(n_a·n_b)),
    and the tie-correction numerator Σ(t³−t) all hash bit-identically.
    The rank offsets come from the two-phase distributed prefix sum
    (operators.packing.global_token_offsets) — no single-partition
    window over the value axis, same shape as ``event_value_ks_test``.
    Overflow posture (audited after the gini crash): u2_a ≤ 2·n_a·n_b,
    so its ×500 permille numerator overflows BIGINT once n_a·n_b >
    ~9.2×10¹⁵ (≈10⁸ rows per arm) — well before the sums themselves —
    hence the final projection (``_mannwhitney_projection``) clears
    every derived term through DECIMAL(38,0); HUGEINT casts mirror it
    in the oracle. tie_cubed remains a BIGINT OUTPUT column: it is
    exact while no single value carries >2.09×10⁶ ties (cnt³ < 2⁶³),
    the true domain bound for this report shape."""
    from udacity_data_wrangling_osm_case_study_spark.operators.packing import (
        global_token_offsets,
    )

    # A NULL value has no rank: excluded from both samples, both sides.
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()
    ).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    per_v = ev.groupBy("v").agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("cnt_a"),
    )
    ranked = global_token_offsets(per_v, order_col="v", ntok_col="cnt")
    n = per_v.agg(
        F.sum("cnt_a").alias("na"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("nb"),
    )
    r = ranked.agg(
        F.sum(
            F.col("cnt_a") * (2 * F.col("start") + F.col("cnt") + 1)
        ).alias("r2a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie3"),
    )
    return _mannwhitney_projection(r.crossJoin(F.broadcast(n)))


def _acf_cross_term(x_col: str, y_col: str):
    """Exact ACF cross-term (n·x − S)(n·y − S) with every factor cleared
    through DECIMAL(38,0): the BIGINT product of the two centered
    factors overflows once a factor exceeds ~3.04×10⁹ (e.g. 10⁶
    events/day on a 10-year spine), well inside warehouse territory.
    Expects columns ``n`` and ``s`` alongside the two value columns.
    Unit-tested at adversarial magnitudes in
    tests/test_overflow_margins.py."""

    def centered(c: str) -> str:
        return (
            "(cast(n as decimal(38,0)) * cast("
            + c
            + " as decimal(38,0)) - cast(s as decimal(38,0)))"
        )

    return F.expr(f"{centered(x_col)} * {centered(y_col)}")


@register(
    "daily_count_autocorr",
    """
    WITH days AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events GROUP BY d
    ),
    span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days),
    spine AS (SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))
                     AS DATE) AS d FROM span),
    serie AS (SELECT spine.d, COALESCE(days.x, 0) AS x
              FROM spine LEFT JOIN days ON days.d = spine.d),
    ns AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM serie),
    lag_exp AS (
        SELECT CAST(k.k AS INT) AS k, serie.d + CAST(k.k AS INT) AS d2,
               x AS xl
        FROM serie, LATERAL unnest(range(1, 8)) k(k)
    ),
    num AS (
        SELECT k, SUM(CAST(ns.n * serie.x - ns.s AS HUGEINT)
                      * CAST(ns.n * lag_exp.xl - ns.s AS HUGEINT))
                   AS acf_num
        FROM lag_exp JOIN serie ON serie.d = lag_exp.d2 CROSS JOIN ns
        GROUP BY k
    ),
    den AS (SELECT SUM(CAST(ns.n * x - ns.s AS HUGEINT)
                       * CAST(ns.n * x - ns.s AS HUGEINT)) AS acf_den
            FROM serie CROSS JOIN ns)
    SELECT k, CAST((SELECT n FROM ns) AS BIGINT) AS n_days,
           CAST(acf_num AS BIGINT) AS acf_num,
           CAST(acf_den AS BIGINT) AS acf_den,
           CAST(ROUND(acf_num * 1000.0 / acf_den, 3) AS DOUBLE) AS acf_milli
    FROM num CROSS JOIN den ORDER BY k
    """,
)
def daily_count_autocorr(spark, sf_dir):
    """Lag-1..7 autocorrelation of the daily event-count series — the
    weekly-seasonality screen a feed monitor runs before alerting on
    volume anomalies. The series is completed over a calendar spine
    (missing days count 0 — otherwise every gap silently shifts the
    lags), then the ACF numerators clear denominators: with S = Σx the
    lag-k covariance term folds as Σ (n·x_t − S)(n·x_{t+k} − S) — exact
    integer per term, no float mean subtraction. All 7 lags come from
    ONE bounded ×7 day-expansion join on the ~days-sized reduced series
    (never events × lags); only the final ratio touches doubles
    (exact-integer operands, rounded 3 dp). Overflow posture (audited
    after the gini crash): the per-term PRODUCT overflows BIGINT once
    |n·x − S| > ~3.04×10⁹ — i.e. ~10⁶ events/day on a 10-year spine,
    far inside 100 TB territory — so both factors clear through
    DECIMAL(38,0) (``_acf_cross_term``), HUGEINT in the oracle.
    acf_num/acf_den stay BIGINT OUTPUT columns: exact while the summed
    covariance < 2⁶³ (n³·Var(x) territory — holds to ~4×10⁸ events/day
    on that spine); beyond that the report shape itself would need a
    DECIMAL schema, documented here as the domain bound."""
    ev = table(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    days = ev.groupBy("d").agg(F.count("*").alias("x"))
    span = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    serie = spine.join(days, "d", "left").select(
        "d", F.coalesce("x", F.lit(0)).alias("x")
    )
    ns = serie.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    lag_exp = serie.select(
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("k"),
        F.col("d"),
        F.col("x").alias("xl"),
    ).select("k", F.date_add("d", F.col("k")).alias("d2"), "xl")
    num = (
        lag_exp.join(serie.select(F.col("d").alias("d2"), "x"), "d2")
        .crossJoin(F.broadcast(ns))
        .groupBy("k")
        .agg(F.sum(_acf_cross_term("x", "xl")).alias("acf_num"))
    )
    den = serie.crossJoin(F.broadcast(ns)).agg(
        F.sum(_acf_cross_term("x", "x")).alias("acf_den"),
        F.first("n").alias("n_days"),
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "k",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("acf_num").cast("long").alias("acf_num"),
            F.col("acf_den").cast("long").alias("acf_den"),
            F.round(
                F.col("acf_num") * 1000.0 / F.col("acf_den"), 3
            ).alias("acf_milli"),
        )
        .orderBy("k")
    )


@register(
    "event_markov_stationary",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pair AS (
        SELECT prev_type AS a, event_type AS b, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY a, b
    ),
    tot AS (SELECT a, SUM(n) AS t FROM pair GROUP BY a),
    p AS (SELECT pair.a, pair.b, pair.n * 1000000 // tot.t AS pm
          FROM pair JOIN tot ON tot.a = pair.a),
    pi0 AS (SELECT DISTINCT a AS s, CAST(1000000 AS BIGINT) AS r FROM p),
    pi1 AS (SELECT p.b AS s, SUM(pi0.r * p.pm // 1000000) AS r
            FROM p JOIN pi0 ON pi0.s = p.a GROUP BY p.b),
    pi2 AS (SELECT p.b AS s, SUM(pi1.r * p.pm // 1000000) AS r
            FROM p JOIN pi1 ON pi1.s = p.a GROUP BY p.b),
    pi3 AS (SELECT p.b AS s, SUM(pi2.r * p.pm // 1000000) AS r
            FROM p JOIN pi2 ON pi2.s = p.a GROUP BY p.b)
    SELECT s AS event_type, CAST(r AS BIGINT) AS pi_micro
    FROM pi3 ORDER BY event_type
    """,
    scan_budget=2,  # power-iteration supersteps (P checkpointed)
)
def event_markov_stationary(spark, sf_dir):
    """Stationary distribution of the user-behavior Markov chain: 3
    integer-exact power-iteration steps π' = π·P over the same
    row-stochastic transition matrix as ``event_transition_matrix``
    (micro-unit probabilities, integer division — engine-portable where
    float iteration is not). The long-run state mix is the steady-state
    complement to the one-step matrix: which event types absorb user
    attention as sessions run long. The fact table is touched ONCE (the
    lag window + pair count); the |types|²-row transition frame is
    checkpointed and each superstep is a tiny join + groupBy — same
    loop hygiene as ``part_pagerank``, enforced by the registry scan
    budget. Oracle replays the 3 supersteps as unrolled CTEs."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("a"), F.col("event_type").alias("b")
        )
        .agg(F.count("*").alias("n"))
    )
    tot = pairs.groupBy("a").agg(F.sum("n").alias("t"))
    p = (
        pairs.join(F.broadcast(tot), "a")
        .select("a", "b", F.expr("n * 1000000 DIV t").alias("pm"))
        .transform(snap_lazy)
    )
    pi = p.select("a").distinct().select(
        F.col("a").alias("s"), F.lit(1_000_000).cast("long").alias("r")
    )
    for _ in range(3):
        pi = (
            p.join(pi.withColumnRenamed("s", "a"), "a")
            .groupBy("b")
            .agg(F.sum(F.expr("r * pm DIV 1000000")).alias("r"))
            .select(F.col("b").alias("s"), "r")
        )
    return pi.select(
        F.col("s").alias("event_type"),
        F.col("r").cast("long").alias("pi_micro"),
    ).orderBy("event_type")


def _bigram_entropy_oracle() -> str:
    # Embeds the SAME 256-entry micro-nat ln table the operator imports
    # (operators.sampling._LN_TABLE) so the engines cannot drift.
    from udacity_data_wrangling_osm_case_study_spark.operators.sampling import (
        _LN2_MICRO,
        _LN_TABLE,
    )

    tbl = ", ".join(str(v) for v in _LN_TABLE)
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pair AS (
        SELECT prev_type AS a, event_type AS b, COUNT(*) AS c
        FROM seq WHERE prev_type IS NOT NULL GROUP BY a, b
    ),
    tot AS (SELECT a, SUM(c) AS t FROM pair GROUP BY a),
    h AS (
        SELECT pair.a, pair.c,
               GREATEST(CAST(CAST(pair.c AS HUGEINT) * 16777216 // tot.t
                             AS BIGINT) * 16777216, 1) AS hv
        FROM pair JOIN tot ON tot.a = pair.a
    ),
    m AS (SELECT a, c, hv, length(bin(hv)) AS n FROM h),
    nl AS (
        SELECT a, c,
               CAST(48 * {_LN2_MICRO} AS BIGINT)
               - (CAST(n - 1 AS BIGINT) * {_LN2_MICRO}
                  + [{tbl}][CAST(FLOOR(CAST(hv AS DOUBLE)
                        * POWER(2, 9 - n)) AS INT) - 255]) AS negln_micro
        FROM m
    ),
    st AS (SELECT a, SUM(c) AS t,
                  SUM(CAST(c AS HUGEINT) * negln_micro) AS nll
           FROM nl GROUP BY a)
    SELECT a AS event_type, CAST(t AS BIGINT) AS n_transitions,
           CAST(nll AS BIGINT) AS nll_micro,
           CAST(nll // t AS BIGINT) AS mean_nll_micro
    FROM st ORDER BY event_type
    """


@register("event_bigram_entropy", _bigram_entropy_oracle())
def event_bigram_entropy(spark, sf_dir):
    """Per-state conditional entropy of the user-behavior bigram model
    — the sequence-predictability readout behind "which state is most
    surprising to leave" and the discrete twin of a language model's
    per-context NLL. For each prev-state a, H(next|a) in micro-nats =
    Σ_b c_ab · (−ln(c_ab/t_a)) / t_a, evaluated with the engine's
    integer −ln (operators.sampling.negln_micro_48 — bit-length + a
    256-entry mantissa table, no libm): the probability ratio is
    pre-quantized to 24 bits (c·2²⁴ div t, an exact shift into the
    48-bit domain, ~6e-8 relative quantization — far under the table's
    half-cell 0.2%). One lag window + one pair aggregation touch the
    fact table; everything after runs on the |types|²-row frame. The
    oracle embeds the imported table — the two engines cannot drift.
    Overflow posture (audited after the gini crash): the quantizing
    product c·2²⁴ overflows BIGINT at c > 2³⁹ ≈ 5.5×10¹¹ transitions
    per pair, and the NLL fold Σ c·negln (negln ≤ ~3.3×10⁷ micro-nats)
    overflows at t ≈ 2.8×10¹¹ per state — both inside 100 TB
    territory — so both clear through DECIMAL(38,0)
    (``_bigram_entropy_report``), HUGEINT in the oracle; unit-tested at
    adversarial magnitudes in tests/test_overflow_margins.py."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("a"), F.col("event_type").alias("b")
        )
        .agg(F.count("*").alias("c"))
    )
    return _bigram_entropy_report(pairs)


def _bigram_entropy_report(pairs):
    """Entropy report over an (a, b, c) bigram-count frame, with the
    two BIGINT-fragile reductions cleared through DECIMAL(38,0): the
    24-bit quantizing product c·2²⁴ (overflows at c > 2³⁹) and the
    per-state NLL fold Σ c·negln_micro (overflows at ~2.8×10¹¹
    transitions/state). The 48-bit table lookup itself
    (operators.sampling.negln_micro_48) is untouched — its hv input is
    ≤ 2⁴⁸ by construction."""
    from udacity_data_wrangling_osm_case_study_spark.operators.sampling import (
        negln_micro_48,
    )

    tot = pairs.groupBy("a").agg(F.sum("c").alias("t"))
    h = pairs.join(F.broadcast(tot), "a").select(
        "a",
        "c",
        F.greatest(
            F.expr(
                "(cast(c as decimal(38,0)) * 16777216 div t) * 16777216"
            ),
            F.lit(1),
        ).alias("hv"),
    )
    nl = h.select("a", "c", negln_micro_48(F.col("hv")).alias("negln_micro"))
    st = nl.groupBy("a").agg(
        F.sum("c").alias("t"),
        F.sum(
            F.expr(
                "cast(c as decimal(38,0))"
                " * cast(negln_micro as decimal(38,0))"
            )
        ).alias("nll"),
    )
    return st.select(
        F.col("a").alias("event_type"),
        F.col("t").cast("long").alias("n_transitions"),
        F.col("nll").cast("long").alias("nll_micro"),
        F.expr("nll DIV t").cast("long").alias("mean_nll_micro"),
    ).orderBy("event_type")

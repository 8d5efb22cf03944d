"""Temporal join operators Spark lacks natively: as-of and range joins.

SURVEY.md §2.3 notes the reference has no as-of/range/interval joins;
these are the standard warehouse temporal operators, implemented with
scale-correct plans:

- **as-of** via the union+ordered-window pattern: interleave both
  sides on (key, time), then ``last(right_value, ignorenulls)`` over an
  unbounded-preceding window. ONE shuffle on the key, one sort —
  exactly a sort-merge join's cost, no per-row probing, no
  equality-range explosion. (A naive join-then-max_by explodes on
  per-key pair counts.)
- **range** via time-bucketing: candidates only form between rows in
  the same or adjacent buckets, then the exact interval predicate
  filters. Join fan-out drops from |key-group|² to per-bucket products
  — the standard banded-join trick for interval predicates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_floor_div(col: Column, d: int) -> Column:
    """Integer floor division (toward -inf) of a BIGINT column by a
    positive constant, exact at ANY magnitude.

    Two defects this replaces (round-11 timestamp fuzz,
    tests/test_temporal.py::TestExactFloorDivWitnesses):
    ``F.floor(col / d)`` floors correctly at today's epochs but the
    LONG→DOUBLE cast rounds the epoch itself past 2^53 µs (~year
    2255), landing an instant 1 µs below an hour boundary ON the
    boundary; and Spark's ``div`` is no substitute because it
    truncates toward zero, splitting the bucket that straddles epoch 0
    — pre-1970 instants are legal inputs, and the matching DuckDB
    ``//`` truncation is exactly the engine split fuzz variant 1t
    caught as a grid-length off-by-one.

    Subtracting the POSITIVE mod (pmod) leaves an exact multiple of
    ``d``, where every correctly-rounded division is exact; the
    DECIMAL(38,0) hop keeps that true at any magnitude. All-integer
    end to end. The cast happens BEFORE the subtraction (ADVICE r11):
    ``col - pmod(col, d)`` in BIGINT overflows for col within ``d`` of
    LONG_MIN (pmod is positive there, so the floor lies below
    LONG_MIN), which throws under ANSI — widening first keeps the
    intermediate in DECIMAL where it cannot overflow.
    """
    m = F.pmod(col, F.lit(d))
    return (
        (col.cast("decimal(38,0)") - m) / F.lit(d)
    ).cast("long")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    time_col: str,
    left_val: str,
    right_val: str,
) -> DataFrame:
    """For each left row, the latest right row with the same key and a
    strictly earlier time. Output: (key, time, left_val, right_val) —
    right_val NULL when no prior right row exists.

    Assumes (key, time) is unique across both sides (ties between the
    sides are otherwise ambiguous — same contract as engines' ASOF).
    """
    l_tag = left.select(
        F.col(key).alias("k"),
        F.col(time_col).alias("t"),
        F.col(left_val).alias("lv"),
        F.lit(None).cast("long").alias("rv"),
    )
    r_tag = right.select(
        F.col(key).alias("k"),
        F.col(time_col).alias("t"),
        F.lit(None).cast("long").alias("lv"),
        F.col(right_val).alias("rv"),
    )
    # strictly-earlier: exclude the current row from the carry window
    w = (
        Window.partitionBy("k")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = l_tag.unionByName(r_tag).withColumn(
        "prior_rv", F.last("rv", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("lv").isNotNull()).select(
        F.col("k").alias(key),
        F.col("t").alias(time_col),
        F.col("lv").alias(left_val),
        F.col("prior_rv").alias(f"asof_{right_val}"),
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    time_col: str,
    max_gap_seconds: int,
) -> DataFrame:
    """Pairs (left, right) with the same key where right's time lies in
    (left_time, left_time + max_gap_seconds]. Banded: both sides bucket
    by floor(epoch/gap); right can only land in the left row's bucket
    or the next one.

    Output: left.* prefixed 'l_', right.* prefixed 'r_' for the key and
    time columns plus ``gap_seconds``.
    """
    # integer microseconds end to end — no float rounding anywhere
    gap_us = max_gap_seconds * 1_000_000
    ep = F.unix_micros(F.col(time_col))
    bucket = exact_floor_div(ep, gap_us)
    l_b = left.select(
        F.col(key).alias("k"),
        F.col(time_col).alias("l_t"),
        ep.alias("l_ep"),
        bucket.alias("b"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (key, time_col)],
    )
    r_base = right.select(
        F.col(key).alias("k"),
        F.col(time_col).alias("r_t"),
        ep.alias("r_ep"),
        bucket.alias("rb"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (key, time_col)],
    )
    # each right row is a candidate for its own bucket and the previous
    r_expanded = r_base.withColumn(
        "b", F.explode(F.array(F.col("rb"), F.col("rb") - 1))
    ).drop("rb")
    joined = l_b.join(r_expanded, ["k", "b"])
    return (
        joined.filter(
            (F.col("r_ep") > F.col("l_ep"))
            & (F.col("r_ep") <= F.col("l_ep") + gap_us)
        )
        .withColumn(
            "gap_seconds", F.expr("(r_ep - l_ep) div 1000000").cast("long")
        )
        .drop("b", "l_ep", "r_ep")
    )


def trailing_spikes(
    windows: DataFrame,
    order_col: str,
    num: int = 3,
) -> DataFrame:
    """Time-series anomaly filter shared by the batch ``event_spikes``
    query and the streaming alert sink: keep windows whose count ``n``
    reaches ``num`` times the mean of the previous 4 observed windows
    of the same ``event_type``. The comparison is integer
    cross-multiplied (``4·n ≥ num·Σprev``) — no float mean,
    engine-exact. Requires a full lookback (early windows never
    alert).

    Input is already one row per (event_type, window) — the trailing
    frame runs over reduced rows, never raw events. Output adds
    ``trailing`` (the lookback sum).
    """
    frame = Window.partitionBy("event_type").orderBy(order_col).rowsBetween(-4, -1)
    tr = windows.select(
        "event_type",
        order_col,
        "n",
        F.sum("n").over(frame).alias("trailing"),
        F.count("*").over(frame).alias("_n_prev"),
    )
    return tr.filter(
        (F.col("_n_prev") == 4)
        & (4 * F.col("n") >= num * F.col("trailing"))
    ).drop("_n_prev")


def resample_locf(
    df: DataFrame,
    key: str,
    time_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """Time-grid resampling with last-observation-carried-forward: for
    each key, a dense grid of ``bucket_seconds`` buckets spanning that
    key's observed range, each carrying the bucket's observation count
    (0 on gaps) and the latest non-empty bucket's aggregate carried
    forward (the gap-fill a hypertable/rollup engine performs).

    Shape at scale: one groupBy on (key, bucket) reduces raw rows to
    bucket rows; the grid is generated per key by ``sequence`` +
    ``explode`` off the per-key (min, max) aggregate — row-local after
    a per-key reduction, never a driver loop; the fill is one ordered
    window per key over *bucket* rows (dense grid length, not raw-event
    length). Grid length per key is range/bucket — bound it by choosing
    the bucket for the retention window, exactly as a rollup table
    would. Callers aggregate values with exact types (decimal) before
    the fill; no float accumulation order leaks into results.
    """
    ep = F.unix_micros(F.col(time_col))
    bucket_us = bucket_seconds * 1_000_000
    bucketed = df.withColumn("_b", exact_floor_div(ep, bucket_us))
    # caller-visible per-bucket observation aggregates (exact types)
    agg_cols = [c for c in bucketed.columns if c.startswith("agg_")]
    obs = bucketed.groupBy(F.col(key).alias("k"), F.col("_b").alias("b")).agg(
        F.count("*").alias("n_obs"),
        *[F.sum(c).alias(c) for c in agg_cols],
    )
    spans = bucketed.groupBy(F.col(key).alias("k")).agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    grid = spans.select(
        "k", F.explode(F.sequence("_lo", "_hi")).alias("b")
    )
    filled = grid.join(obs, ["k", "b"], "left")
    w = (
        Window.partitionBy("k")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = filled.withColumn("n_obs", F.coalesce(F.col("n_obs"), F.lit(0)))
    for c in agg_cols:
        out = out.withColumn(f"filled_{c}", F.last(c, ignorenulls=True).over(w))
    return out


def ewma_halving(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    value_col: str,
    lookback: int = 16,
) -> DataFrame:
    """Trailing exponentially-weighted moving average with decay 1/2,
    truncated at ``lookback`` observations — the smoothing pass a
    metrics store applies before alerting. Exact across engines: the
    decay is a power of two, so with integer inputs both numerator
    (``Σ xᵢ·2^i``, oldest first) and denominator (``2^s − 1``) are
    exact BIGINTs and the reported value is one integer division.

    Shape at scale: ONE ordered window per key collects the trailing
    ``lookback`` values; the weighted fold is a row-local array
    aggregate (no second shuffle, no per-row Python). With cents input
    and lookback 16 the numerator is bounded by ``max_cents·2^16`` —
    far inside BIGINT.

    Output adds ``_win`` (trailing array), ``n_window``, ``ewma_num``,
    ``ewma_den``; callers project the scaled ratio.
    """
    if not 1 <= lookback <= 62:
        # weights are 2^i BIGINTs: beyond 62 the shift overflows, and a
        # 2^-62 weight is already far below any metric's resolution
        raise ValueError("ewma_halving lookback must be in [1, 62]")
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(-(lookback - 1), Window.currentRow)
    )
    out = df.withColumn("_win", F.collect_list(F.col(value_col)).over(w))
    # fold with positional powers-of-two weights: oldest element gets
    # 2^0, newest 2^(s-1) — i.e. weight halves per step back in time
    return (
        out.withColumn("n_window", F.size("_win"))
        .withColumn(
            "ewma_num",
            F.expr(
                "aggregate(_win, named_struct('i', 0, 's', cast(0 as bigint)),"
                " (a, x) -> named_struct('i', a.i + 1,"
                "                        's', a.s + x * shiftleft(cast(1 as bigint), a.i)),"
                " a -> a.s)"
            ),
        )
        .withColumn(
            "ewma_den",
            F.expr("shiftleft(cast(1 as bigint), n_window) - 1"),
        )
    )


def cusum(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    value_col: str,
    target_col: str,
) -> DataFrame:
    """One-sided CUSUM change detector per key: ``S_t = max(0,
    S_{t-1} + (x_t − target))``, computed without recursion via the
    prefix-sum identity ``S_t = P_t − min(0, min_{j≤t} P_j)`` where
    ``P`` is the running sum of deviations. Two ordered windows over
    the same (key, order) sort — Catalyst plans them as ONE shuffle +
    one sort, each frame a single running accumulator. Integer inputs
    stay integers end to end (no float drift resets the detector
    differently across engines).

    Output adds ``cusum_stat`` per row.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = F.col(value_col) - F.col(target_col)
    out = df.withColumn("_p", F.sum(dev).over(w))
    return out.withColumn(
        "cusum_stat", F.col("_p") - F.least(F.min("_p").over(w), F.lit(0))
    ).drop("_p")


def interval_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Sweep-line concurrency over closed intervals: for every boundary
    instant, how many intervals are open. Returns one row per distinct
    boundary key with ``ep_us`` (microseconds), ``is_start`` and
    ``concurrency`` (the running open count AFTER processing all
    boundaries at that key). Starts order before ends at the same
    instant, so touching/zero-length intervals count as overlapping at
    the shared instant (closed-interval convention).

    Scale shape: the classic formulation is a cumulative sum over ONE
    global ordering — a single-partition window. Here boundaries are
    first reduced to distinct keys (groupBy, map-side combinable), then
    the running sum uses the two-phase distributed prefix sum from
    ``operators.packing`` (range partition → per-partition cumsum →
    broadcast per-partition bases): no node ever sees more than its
    slice of the timeline.
    """
    from udacity_data_wrangling_osm_case_study_spark.operators.packing import global_token_offsets

    starts = intervals.select(
        (F.unix_micros(F.col(start_col)) * 2).alias("k_enc"),
        F.lit(1).alias("delta"),
    )
    ends = intervals.select(
        (F.unix_micros(F.col(end_col)) * 2 + 1).alias("k_enc"),
        F.lit(-1).alias("delta"),
    )
    # one row per distinct boundary key -> rows-frame == range-frame,
    # so the prefix sum is deterministic without a tiebreak column
    deltas = (
        starts.unionByName(ends)
        .groupBy("k_enc")
        .agg(F.sum("delta").alias("delta"))
    )
    swept = global_token_offsets(deltas, order_col="k_enc", ntok_col="delta")
    return swept.select(
        F.expr("k_enc div 2").alias("ep_us"),
        (F.col("k_enc") % 2 == 0).alias("is_start"),
        (F.col("start") + F.col("delta")).cast("long").alias("concurrency"),
    )


def resample_interp(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """Time-grid resampling with LINEAR interpolation across gaps: the
    counterpart of :func:`resample_locf` for signals where a straight
    line between the surrounding observations is the better fill
    (sensor feeds, financial marks). ``value_col`` must already be an
    exact integer aggregate (e.g. cents); the interpolated value is
    emitted as an exact rational — ``num = prev·(next_b − b) +
    next·(b − prev_b)``, ``den = next_b − prev_b`` — so no float (or
    engine-specific integer-division rounding) ever enters the result.
    Observed buckets carry ``(value, 1)``.

    Shape at scale: identical to LOCF — one groupBy reduces raw rows to
    bucket rows, the dense grid comes from ``sequence``+``explode`` off
    the per-key span, and the fill needs two ordered window passes
    (carry-last-back and carry-first-forward) over *bucket* rows.
    Catalyst plans both windows on one (key, bucket) sort: a single
    shuffle. Interior gaps always have both neighbours because the grid
    spans exactly [min, max] per key.
    """
    ep = F.unix_micros(F.col(time_col))
    bucket_us = bucket_seconds * 1_000_000
    bucketed = df.withColumn("_b", exact_floor_div(ep, bucket_us))
    obs = bucketed.groupBy(F.col(key).alias("k"), F.col("_b").alias("b")).agg(
        F.count("*").alias("n_obs"),
        F.sum(value_col).alias("_v"),
    )
    spans = bucketed.groupBy(F.col(key).alias("k")).agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    grid = spans.select("k", F.explode(F.sequence("_lo", "_hi")).alias("b"))
    j = grid.join(obs, ["k", "b"], "left").withColumn(
        "n_obs", F.coalesce("n_obs", F.lit(0))
    )
    wback = (
        Window.partitionBy("k")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward carry as a GROWING frame over the reversed order, not
    # [currentRow, unboundedFollowing] over the forward order: Spark's
    # shrinking UnboundedFollowing frame re-evaluates the aggregate
    # from scratch for every row — O(rows²) per key partition, found
    # in anger by the round-11 timestamp fuzz (a ±100-year outlier
    # instant widens a key's dense grid to ~1.75M hourly buckets and
    # the quadratic frame turns a sub-second fill into hours). The
    # grid's b is unique per key, so last-non-null over the descending
    # growing frame (incrementally maintained, O(rows)) is exactly
    # first-non-null over the forward shrinking frame. Costs a second
    # in-partition sort; the shuffle count is unchanged.
    wfwd = (
        Window.partitionBy("k")
        .orderBy(F.desc("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_b = F.when(F.col("_v").isNotNull(), F.col("b"))
    filled = (
        j.withColumn("_pv", F.last("_v", ignorenulls=True).over(wback))
        .withColumn("_pb", F.last(obs_b, ignorenulls=True).over(wback))
        .withColumn("_nv", F.last("_v", ignorenulls=True).over(wfwd))
        .withColumn("_nb", F.last(obs_b, ignorenulls=True).over(wfwd))
    )
    on_grid = F.col("n_obs") > 0
    return filled.select(
        "k",
        "b",
        "n_obs",
        F.when(on_grid, F.col("_v"))
        .otherwise(
            F.col("_pv") * (F.col("_nb") - F.col("b"))
            + F.col("_nv") * (F.col("b") - F.col("_pb"))
        )
        .alias("interp_num"),
        F.when(on_grid, F.lit(1).cast("long"))
        .otherwise(F.col("_nb") - F.col("_pb"))
        .alias("interp_den"),
    )


def value_band_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_val: str,
    right_val: str,
    max_diff: int,
) -> DataFrame:
    """Big-big non-equi band join: pairs where ``|left_val − right_val|
    ≤ max_diff`` (integer units), optionally also matching on equi
    ``keys``. Without this rewrite Spark plans a band predicate between
    two large tables as a broadcast-nested-loop / cartesian product —
    the classic O(n·m) scale killer. Bucketing by ``floor(v /
    max_diff)`` and expanding ONE side to its three adjacent buckets
    turns it into a plain equi-join on (keys…, bucket): candidates are
    bounded by per-bucket products, and the exact band predicate runs
    as a post-join filter.

    Both value columns must already be exact integers (scale floats to
    cents first) so bucket boundaries agree across engines. Columns
    come out prefixed ``l_``/``r_`` (keys keep their names).
    """
    if max_diff <= 0:
        raise ValueError("max_diff must be a positive integer")
    lb = F.floor(F.col(left_val) / max_diff).cast("long")
    rb = F.floor(F.col(right_val) / max_diff).cast("long")
    l_side = left.select(
        *keys,
        lb.alias("_band"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in keys],
    )
    r_side = right.select(
        *keys,
        F.explode(F.array(rb - 1, rb, rb + 1)).alias("_band"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in keys],
    )
    joined = l_side.join(r_side, [*keys, "_band"])
    return joined.filter(
        F.abs(F.col(f"l_{left_val}") - F.col(f"r_{right_val}")) <= max_diff
    ).drop("_band")

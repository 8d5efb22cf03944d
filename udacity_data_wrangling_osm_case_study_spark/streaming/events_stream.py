"""Structured Streaming variants of the engine's DAGs.

The reference's only streaming-ish construct is a bounded-memory XML
iterator (SURVEY.md §2.10) — there are no unbounded streams to port.
These operators are the engine's forward-looking stream surface over
the ``events`` table shape:

- ``windowed_event_counts``: watermarked tumbling-window aggregation
  (the streaming twin of the batch ``event_type_tumbling_5min`` query —
  same grouping, plus a late-data policy).
- ``clean_phones_stream``: the phone canonicalizer is stateless and
  narrow, so the SAME column expression used in batch runs per
  micro-batch unchanged — one cleaning implementation, two runtimes.
- ``running_user_counts``: custom stateful operator via
  ``applyInPandasWithState`` (Arrow-batched, partitioned by user).

Scale posture: state is keyed by user/window and lives in the state
store (RocksDB in production conf); watermarks bound it. No
driver-side state anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of event parquet files (schema pinned —
    streaming sources never infer)."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts+sums per event type. Late
    rows beyond the watermark are dropped; state per (window, type) is
    evicted once the watermark passes the window end.

    ``slide`` < ``window`` makes the windows hopping (each event lands
    in window/slide overlapping windows — the streaming twin of the
    ``event_type_sliding_10min`` batch query); state grows by the same
    factor, still watermark-bounded."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def clean_phones_stream(tags: DataFrame) -> DataFrame:
    """The batch phone canonicalizer applied per micro-batch — the
    expression is stateless, so it is literally the same Column."""
    from udacity_data_wrangling_osm_case_study_spark.functions import phones as P

    new_value = F.when(
        P.is_phone_key(F.col("key")), P.fix_phone_value(F.col("value"))
    ).otherwise(F.col("value"))
    return tags.select(
        "id",
        "key",
        new_value.alias("value"),
        "type",
        (~new_value.eqNullSafe(F.col("value"))).alias("changed"),
    )


RUNNING_COUNT_SCHEMA = "user_id bigint, n_events bigint"
RUNNING_COUNT_STATE = "n bigint"


def running_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count via
    ``applyInPandasWithState`` — state is one bigint per user, updated
    from Arrow batches, emitted each micro-batch (update mode)."""

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    # Project to the one column the function reads BEFORE the state
    # shuffle (round 14, guide §4): applyInPandasWithState is opaque to
    # Catalyst, so without this every event column crossed the
    # groupBy(user_id) exchange and the JVM→Arrow→Python boundary just
    # to be len()-counted.
    events = events.select("user_id")
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_COUNT_SCHEMA,
        stateStructType=RUNNING_COUNT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CMS_DEPTH, CMS_WIDTH = 4, 256
# Pairwise-independent hash family h_d(x) = ((a_d x + b_d) mod P) mod W.
# P is the Mersenne prime 2^31-1; a/b are fixed odd constants so the
# sketch is deterministic across runs and engines. Keys are reduced mod
# P first, so the int64 products below never overflow (a < 2^20,
# x mod P < 2^31 → product < 2^51).
_CMS_P = 2_147_483_647
_CMS_A = (823_117, 544_231, 921_023, 687_101)
_CMS_B = (105_943, 700_417, 331_777, 964_981)

CMS_OUTPUT_SCHEMA = "event_type string, user_id bigint, est_n bigint"
CMS_STATE_SCHEMA = "counts array<long>"


def cms_user_event_counts(events: DataFrame) -> DataFrame:
    """Per-event-type count-min sketch of user activity: a custom
    stateful streaming operator (``applyInPandasWithState``) whose
    state is one fixed CMS_DEPTH x CMS_WIDTH counter grid per event
    type — **constant-size state per key** no matter how many distinct
    users pass through, the trade a streaming pipeline makes when exact
    per-(type, user) counts would need unbounded state.

    Each micro-batch the sketch absorbs the batch's rows (vectorized
    numpy bincount per hash row — the Python work is O(batch), not
    O(batch x depth) scalar loops) and emits the current estimate for
    every user seen in that batch. CMS guarantees est >= true count,
    and est <= true + e/W * N with probability 1 - e^-depth — the
    parity test checks both bounds against the exact batch aggregate.
    """

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        counts = (
            np.array(state.get[0], dtype=np.int64).reshape(CMS_DEPTH, CMS_WIDTH)
            if state.exists
            else np.zeros((CMS_DEPTH, CMS_WIDTH), dtype=np.int64)
        )
        seen = []
        for pdf in pdfs:
            users = pdf["user_id"].to_numpy(dtype=np.int64)
            seen.append(users)
            um = users % _CMS_P
            for d in range(CMS_DEPTH):
                idx = ((_CMS_A[d] * um + _CMS_B[d]) % _CMS_P) % CMS_WIDTH
                counts[d] += np.bincount(idx, minlength=CMS_WIDTH)
        state.update((counts.ravel().tolist(),))
        probe = np.unique(np.concatenate(seen)) if seen else np.array([], dtype=np.int64)
        pm = probe % _CMS_P
        est = np.full(len(probe), np.iinfo(np.int64).max, dtype=np.int64)
        for d in range(CMS_DEPTH):
            idx = ((_CMS_A[d] * pm + _CMS_B[d]) % _CMS_P) % CMS_WIDTH
            est = np.minimum(est, counts[d][idx])
        yield pd.DataFrame(
            {"event_type": key[0], "user_id": probe, "est_n": est}
        )

    # Guide §4 (round 14): the sketch reads only (event_type, user_id);
    # project before the state shuffle so payload columns never cross
    # the exchange or the Arrow boundary (opaque to Catalyst pruning).
    events = events.select("event_type", "user_id")
    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=CMS_OUTPUT_SCHEMA,
        stateStructType=CMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KMV_K = 64
KMV_OUTPUT_SCHEMA = "event_type string, n_sk bigint, hk bigint, kmv_est bigint"
KMV_STATE_SCHEMA = "hashes array<long>"


def kmv_user_distinct(events: DataFrame) -> DataFrame:
    """Per-event-type KMV distinct-user sketch as a custom stateful
    streaming operator — the streaming twin of the batch
    ``kmv_distinct_sketch`` query: state is the sorted array of the
    KMV_K smallest 48-bit md5 hashes of the users seen so far
    (**constant-size state per key**, like the CMS operator above),
    and because KMV is ORDER-INSENSITIVE and deterministic, the final
    emitted estimate is bit-identical to running the batch sketch over
    the same rows — the parity test asserts exact equality, not a
    tolerance band.

    Each micro-batch hashes the batch's unique users (hashlib per
    unique user — uniques per key per batch are bounded; a
    vectorized md5 is the first change for a firehose deployment),
    merges them into the state's k-smallest set, and emits the
    current (n_sk, h_k, estimate) for the key.
    """

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import hashlib

        cur = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            for u in pdf["user_id"].unique():
                h = int(
                    hashlib.md5(f"kmv:{int(u)}".encode()).hexdigest()[:12], 16
                )
                cur.add(h)
        k_small = sorted(cur)[:KMV_K]
        state.update((k_small,))
        n_sk = len(k_small)
        hk = k_small[-1] if k_small else 0
        est = n_sk if n_sk < KMV_K else (KMV_K - 1) * (1 << 48) // hk
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_sk": [n_sk],
                "hk": [hk],
                "kmv_est": [est],
            }
        )

    # Guide §4 (round 14): same projection as the CMS operator — the
    # sketch reads only (event_type, user_id).
    events = events.select("event_type", "user_id")
    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_OUTPUT_SCHEMA = "user_id bigint, n_obs bigint, cusum_stat bigint, max_cusum bigint"
CUSUM_STATE_SCHEMA = "s bigint, mx bigint, n bigint"


def cusum_user_drift(events: DataFrame) -> DataFrame:
    """Streaming CUSUM drift detector — the stateful runtime of the
    batch ``event_value_cusum`` query, sharing its exact semantics:
    per user, ``S := max(0, S + (cents - target_c))`` over events in
    time order, with the peak statistic tracked across the stream.

    State is THREE bigints per user (current S, max S, n) — constant
    regardless of stream length. Each micro-batch is vectorized: the
    recursive clamp folds into the same prefix-sum identity the batch
    operator uses (``S_i = P_i - min(0, running_min(P))`` with ``P``
    seeded at the carried-in S — exact because S >= 0 always), so the
    Python work is one cumsum + one running-min per batch, never a
    scalar loop. Requires ``cents`` and ``target_c`` columns on the
    input (the per-user target joins in from a static frame upstream —
    a stream-static join); rows are ordered by (ts, event_id) within
    the batch, and cross-batch order follows source file order, same
    contract as the other per-key stateful operators here.
    """

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        s0, mx, n = state.get if state.exists else (0, 0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            d = (
                batch["cents"].to_numpy(dtype=np.int64)
                - batch["target_c"].to_numpy(dtype=np.int64)
            )
            prefix = s0 + np.cumsum(d)
            stat = prefix - np.minimum(np.minimum.accumulate(prefix), 0)
            s0 = int(stat[-1])
            mx = max(mx, int(stat.max()))
            n += len(batch)
        state.update((s0, mx, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_obs": [n],
                "cusum_stat": [s0],
                "max_cusum": [mx],
            }
        )

    # Guide §4 (round 14): the detector reads exactly these five
    # columns; project before the state shuffle (opaque to Catalyst).
    events = events.select("user_id", "ts", "event_id", "cents", "target_c")
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_OUTPUT_SCHEMA = "user_id bigint, n_obs bigint, ewma_micro bigint"
EWMA_STATE_SCHEMA = "tail array<long>, n bigint"
_EWMA_LOOKBACK = 16


def ewma_user_value(events: DataFrame) -> DataFrame:
    """Streaming EWMA — the stateful runtime of the batch
    ``event_value_ewma`` query with identical semantics: per user, the
    trailing power-of-two-weighted average over the last 16
    observations in time order. State is the trailing value window
    (≤16 bigints) plus a count — constant per key.

    Each micro-batch is vectorized: the carried tail concatenates with
    the batch's (ts, event_id)-sorted cents and every row's weighted
    numerator folds via one dot product against the 2^i kernel (numpy
    sliding windows), no per-row Python in the steady state. Emits
    each user's latest EWMA per batch (update mode); cross-batch
    order follows source file order, the same contract as the other
    stateful operators here. Requires a ``cents`` column upstream.
    """

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        tail, n = (list(state.get[0]), state.get[1]) if state.exists else ([], 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            xs = batch["cents"].to_numpy(dtype=np.int64)
            w = np.concatenate([np.array(tail, dtype=np.int64), xs])
            n += len(xs)
            tail = w[-_EWMA_LOOKBACK:].tolist()
        if tail:
            s = len(tail)
            kernel = 1 << np.arange(s, dtype=np.int64)  # oldest → 2^0
            num = int((np.array(tail, dtype=np.int64) * kernel).sum())
            den = (1 << s) - 1
            ewma_micro = num * 10000 // den
        else:
            ewma_micro = 0
        state.update((tail, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_obs": [n],
                "ewma_micro": [ewma_micro],
            }
        )

    # Guide §4 (round 14): the EWMA reads exactly these four columns;
    # project before the state shuffle (opaque to Catalyst).
    events = events.select("user_id", "ts", "event_id", "cents")
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def click_purchase_pairs(
    events: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: every (purchase, click) pair by the
    same user where the click happened within ``lookback`` BEFORE the
    purchase — the streaming face of the batch range-join attribution
    family (``plans/temporal_queries.py``).

    Both sides carry a watermark and the join condition bounds the
    event-time distance between them, so Spark derives a state-eviction
    horizon for BOTH join buffers: a click older than
    watermark + lookback can never match a future purchase and is
    dropped from state. Without the time-range predicate a
    stream-stream join would have to buffer every row forever — the
    interval bound is what makes this runnable on an unbounded stream.

    The same function works on batch frames (``withWatermark`` is only
    applied on streaming inputs), which is how the parity test pins the
    join semantics.
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    cond = (
        (purchases["user_id"] == clicks["user_id"])
        & (clicks["click_ts"] < purchases["purchase_ts"])
        & (
            clicks["click_ts"]
            >= purchases["purchase_ts"] - F.expr(f"INTERVAL {lookback}")
        )
    )
    return purchases.join(clicks, cond, "inner").select(
        purchases["user_id"], "purchase_id", "purchase_ts", "click_id", "click_ts"
    )


def run_to_memory_sink(
    stream: DataFrame, name: str, output_mode: str = "update"
) -> None:
    """Drain a finite stream into a memory table (test/demo harness):
    processes everything currently in the source, then stops."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_window_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native session windows: per user, events within ``gap`` of each
    other merge into one session; a session closes when the watermark
    passes its end. State is (user, open-session) — bounded by the
    watermark, evicted on close. Works identically on batch frames
    (no watermark needed there)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_events_stream(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: drop repeated event_ids arriving within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    training-pipeline ingest guard against replayed/duplicated source
    batches. State is one key per event inside the horizon, evicted as
    the watermark advances (bounded, unlike a naive distinct)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


DEBOUNCE_OUTPUT_SCHEMA = (
    "user_id bigint, event_type string, n_raw bigint, n_kept bigint, "
    "kept_id_checksum bigint"
)
DEBOUNCE_STATE_SCHEMA = "last_ts_us bigint, n_raw bigint, n_kept bigint, cks bigint"
_DEBOUNCE_GAP_US = 5_000_000


def debounce_user_events(events: DataFrame) -> DataFrame:
    """Streaming telemetry debounce — the stateful runtime of the batch
    ``telemetry_debounce`` query with identical burst semantics: an
    event within 5 s of its (user, type) PREDECESSOR is a double-fire
    artifact; only burst starts are kept. State per key is four
    bigints: the last raw event time (the burst anchor — kept or not),
    raw/kept counts, and the kept-id checksum, so cross-batch bursts
    that straddle a micro-batch boundary debounce exactly like the
    batch sort does.

    Vectorized per micro-batch: one sort + one ``np.diff`` against the
    carried anchor decides every row, no per-row Python. Emits the
    cumulative per-key report each batch (update mode)."""

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        last_ts, n_raw, n_kept, cks = (
            state.get if state.exists else (None, 0, 0, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            ts_us = (
                batch["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            )
            ids = batch["event_id"].to_numpy(dtype=np.int64)
            prev = np.concatenate(
                [[last_ts if last_ts is not None else np.iinfo(np.int64).min // 2],
                 ts_us[:-1]]
            )
            keep = (ts_us - prev) > _DEBOUNCE_GAP_US
            if last_ts is None:
                keep[0] = True  # first-ever event of the key always kept
            n_raw += len(batch)
            n_kept += int(keep.sum())
            cks += int(ids[keep].sum())
            last_ts = int(ts_us[-1])
        state.update((last_ts, n_raw, n_kept, cks))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "n_raw": [n_raw],
                "n_kept": [n_kept],
                "kept_id_checksum": [cks],
            }
        )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        update,
        outputStructType=DEBOUNCE_OUTPUT_SCHEMA,
        stateStructType=DEBOUNCE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

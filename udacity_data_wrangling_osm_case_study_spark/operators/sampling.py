"""Deterministic sampling & dataset splitting for training pipelines.

RNG-based sampling (``df.sample``) is engine- and partitioning-
dependent — a re-run or a different cluster layout yields a different
sample. Content-hash sampling is the reproducible alternative big
pipelines actually use: a row belongs to a sample/split purely as a
function of its key, stable across engines, runs, and repartitioning,
and trivially auditable (the same SQL reproduces it anywhere).

Bucket = first 8 hex digits of md5(salt || key) mod n_buckets —
uniform and portable (the same expression runs in any engine with md5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic uniform bucket in [0, n_buckets) from a key, salted
    ``split``."""
    h = F.md5(F.concat(F.lit("split"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets


def per_key_cap(
    df: DataFrame,
    key_col: str,
    id_col: str,
    cap: int,
    salt: str = "cap",
) -> DataFrame:
    """Frequency capping: keep at most ``cap`` rows per ``key_col``
    (per domain / source / site), chosen deterministically by content
    hash — the anti-overrepresentation guard of a web-corpus pipeline
    (one crawl-happy domain must not dominate the training mix).

    Selection order is md5(salt || id) with the id as tie-break, so
    the kept subset is a stable pseudo-random draw per key: stable
    across runs, engines, and partitionings, and re-salt-able for
    independent draws. One shuffle on the key (the window); at scale a
    skewed hot key is bounded by the cap itself — the window ranks and
    discards, state per key is O(1) beyond the sort.
    """
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(key_col).orderBy(h, id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def weighted_key_quota(
    df: DataFrame,
    key_col: str,
    id_col: str,
    total_target: int,
) -> DataFrame:
    """Temperature-balanced corpus mixing (alpha = 0.5, no
    replacement): draw ~``total_target`` rows with per-key quotas
    proportional to sqrt(n_key) — the standard rebalancing that
    upweights tail sources/languages relative to their raw share
    (a head key with 100x the docs gets only 10x the quota).

    Quota arithmetic is INTEGER end-to-end: weights are
    floor(sqrt(n)) (IEEE sqrt is correctly rounded, so floor is exact
    for perfect squares), quotas are (target * w) div sum(w) — no
    float share ever hits a rounding boundary, so the same rows are
    selected in any engine. A key whose quota exceeds its population
    just keeps everything (sampling is without replacement), so the
    realized total can undershoot ``total_target``.

    Selection within a key is the same stable hash draw as
    :func:`per_key_cap`. Scale shape: the quota table is one row per
    key (broadcast); the only corpus-wide work is the per-key window.
    """
    counts = df.groupBy(key_col).agg(F.count("*").alias("_n"))
    w = F.floor(F.sqrt(F.col("_n"))).cast("long")
    weights = counts.select(F.col(key_col), F.col("_n"), w.alias("_w"))
    total_w = weights.agg(F.sum("_w").alias("_sum_w"))
    quotas = (
        weights.crossJoin(F.broadcast(total_w))
        .select(
            key_col,
            F.expr(f"CAST({total_target} AS BIGINT) * _w div _sum_w").alias("_quota"),
        )
    )
    h = F.md5(F.concat(F.lit("mix"), F.col(id_col).cast("string")))
    win = Window.partitionBy(key_col).orderBy(h, id_col)
    return (
        df.join(F.broadcast(quotas), key_col)
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= F.col("_quota"))
        .drop("_rn", "_quota")
    )


def train_val_test_split(df: DataFrame, key_col: str) -> DataFrame:
    """Assign a stable split label per row: bucket < 10 → 'test', next
    10 → 'val', rest → 'train'. The same document always lands in the
    same split — the leakage guarantee training pipelines need."""
    b = hash_bucket(F.col(key_col), 100)
    label = (
        F.when(b < 10, "test")
        .when(b < 20, "val")
        .otherwise("train")
    )
    return df.withColumn("split", label)


def deterministic_shuffle(
    df: DataFrame, id_col: str, salt: str = "shuffle"
) -> DataFrame:
    """Global deterministic shuffle order for training output.

    Pretraining loaders want the corpus in a pseudo-random but
    *reproducible* global order (so a resumed or re-run job sees the
    same stream). Adds ``pos``: the row's 0-based rank in
    ``md5(salt || id)`` order — a content-keyed permutation, stable
    across engines, runs, and partitionings, re-salt-able per epoch.

    A naive ``row_number() OVER (ORDER BY hash)`` funnels the corpus
    through one partition; this reuses the packing module's two-phase
    distributed prefix sum (range-partition by the hash, rank within
    partitions, broadcast per-partition bases) — the same machinery a
    distributed sort uses, no single-node bottleneck.
    """
    from udacity_data_wrangling_osm_case_study_spark.operators.packing import (
        global_token_offsets,
    )

    keyed = df.withColumn(
        "_shuffle_key", F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    ).withColumn("_one", F.lit(1))
    ranked = global_token_offsets(keyed, order_col="_shuffle_key", ntok_col="_one")
    return (
        ranked.withColumn("pos", F.col("start"))
        .drop("_shuffle_key", "_one", "start")
    )


def stratified_sample_rate(
    df: DataFrame,
    strata_cols: list[str],
    id_col: str,
    rate_pct: int,
) -> DataFrame:
    """Proportional stratified sampling: keep ``rate_pct`` percent of
    EVERY stratum (floor(n x rate / 100) rows), so the sample preserves
    the strata mix exactly — unlike :func:`per_key_cap` (fixed ceiling,
    reshapes the mix) or a global hash-rate filter (per-stratum share
    only in expectation).

    Selection is the stable md5 draw ranked within the stratum; the
    keep rule is integer cross-multiplied (rank x 100 <= n x rate) so
    the same rows survive in any engine. One shuffle on the strata key;
    the per-stratum count rides the same window (no extra pass).
    """
    h = F.md5(F.concat(F.lit("strat"), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata_cols)
    wo = w.orderBy(h, id_col)
    return (
        df.withColumn("_rn", F.row_number().over(wo))
        .withColumn("_n", F.count("*").over(w))
        .filter(F.col("_rn") * 100 <= F.col("_n") * rate_pct)
        .drop("_rn", "_n")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """Near-dup-aware train/val/test split: a plain per-document hash
    split leaks whenever two near-duplicate documents land on opposite
    sides (the model "sees" eval text at train time). Here every
    connected near-dup cluster (``pairs`` from any dedup family →
    ``dedup.connected_components``) is collapsed to its cluster label
    first and the hash split keys on THAT — a cluster crosses the
    boundary as one unit, by construction. Singletons key on their own
    id (identical cost to the naive split).

    Returns (id, comp, split). Cost on top of the split itself is the
    component computation over the pair graph — edges ∝ near-dup pairs,
    never corpus².
    """
    from udacity_data_wrangling_osm_case_study_spark.operators import dedup

    comps = dedup.connected_components(pairs)
    base = df.select(F.col("doc_id").alias("id")).join(comps, "id", "left")
    labeled = base.select("id", F.coalesce("comp", F.col("id")).alias("comp"))
    return train_val_test_split(labeled, key_col="comp")


def weighted_bottom_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Weight-biased deterministic sample without replacement, in the
    SHAPE of an A-ES bottom-k reservoir (Efraimidis & Spiliopoulou:
    keep the k items with the best priority derived from one uniform
    draw per item). The priority here is ``md5_48('wsample' || id) div w``
    on BIGINTs — monotone decreasing in w for a fixed draw, so heavier
    items are selected more often, but NOT distributionally equivalent
    to the proportional u^(1/w) priority (pairwise win probability is
    1 − w_j/(2·w_i) for w_i ≥ w_j, not w_i/(w_i+w_j)). The integer
    form is chosen because floor division keeps the order bit-identical
    in any engine (the float pow formulation rides on libm); use a
    fixed-point u^(1/w) if calibrated proportional inclusion matters.
    One row-local hash + one TakeOrderedAndProject — no global sort, no
    RNG state.

    Returns the k sampled rows as (id, weight, priority), ascending
    priority.
    """
    pr = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsample"), F.col("id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("long").alias("weight"),
        )
        .filter(F.col("weight") > 0)
        .withColumn("priority", pr)
        .withColumn("priority", F.expr("priority div weight"))
        .orderBy("priority", "id")
        .limit(k)
    )


# 256-entry micro-nat table: _LN_TABLE[f] = round(ln(1 + (f + 0.5)/256) * 1e6)
# (midpoint of each mantissa cell, so quantization is centered). Module-level
# ints, NOT Columns — safe at import time.
_LN_TABLE = [
    round(__import__("math").log(1.0 + (f + 0.5) / 256.0) * 1_000_000)
    for f in range(256)
]
_LN2_MICRO = 693_147  # round(ln(2) * 1e6)


def negln_micro_48(hash48: Column) -> Column:
    """Exact-integer micro-nat approximation of ``-ln(u)`` for
    ``u = h / 2^48``, ``h`` a 48-bit hash draw (h=0 clamped to 1).

    Decomposition: with n = bit-length(h) and 8-bit mantissa cell
    f = floor(h·2^(9−n)) − 256, ``ln(h) ≈ (n−1)·ln2 + T[f]`` and
    ``-ln(u) = 48·ln2 − ln(h)``. Bit-length comes from the length of
    the binary string (the same engine-exact floor-log2 used by
    value_log2_histogram — float log2 is ulp-wrong at cell edges). The
    mantissa cell IS computed through doubles, but every step is
    IEEE-exact, not merely close: h < 2^48 fits the 53-bit mantissa,
    2^(9−n) is a power of two (scaling by it changes only the
    exponent), so h·2^(9−n) is the exact real value and floor of it is
    the exact shift — bit-identical in any engine. T is a 256-int
    literal array. Max quantization error is half a mantissa cell,
    ~0.2% relative.
    """
    h = F.greatest(hash48, F.lit(1))
    n = F.length(F.bin(h))  # bit length of h (h >= 1)
    f = (
        F.floor(
            h.cast("double") * F.pow(F.lit(2.0), (F.lit(9) - n).cast("double"))
        ).cast("long")
        - 256
    )
    tbl = F.array(*[F.lit(v) for v in _LN_TABLE])
    ln_h = (n - 1).cast("long") * _LN2_MICRO + F.element_at(
        tbl, f.cast("int") + 1
    )
    return F.lit(48 * _LN2_MICRO).cast("long") - ln_h


def weighted_bottom_k_aes(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "aes",
) -> DataFrame:
    """PROPORTIONAL weighted sample without replacement — true A-ES
    (Efraimidis & Spiliopoulou 2006) up to 8-bit mantissa quantization:
    keep the k items with the smallest ``-ln(u)/w``, the exponential-
    race formulation equivalent to max-k on u^(1/w), so pairwise
    selection odds are w_i/(w_i + w_j) (the calibrated property the
    ``weighted_bottom_k`` integer shortcut trades away).

    Engine portability: ``-ln(u)`` is the exact-integer micro-nat
    approximation (:func:`negln_micro_48` — binary-string bit-length +
    a 256-int literal table, no libm), and the only float op is ONE
    IEEE division of two exact integers (negln/w), identical in every
    engine; ties break on id. One row-local hash + one
    TakeOrderedAndProject; re-salt per epoch.

    Returns the k sampled rows as (id, weight, negln_micro).
    """
    h48 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col("id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("long").alias("weight"),
        )
        .filter(F.col("weight") > 0)
        .withColumn("negln_micro", negln_micro_48(h48))
    )
    return (
        base.orderBy(
            (F.col("negln_micro").cast("double") / F.col("weight").cast("double")),
            "id",
        )
        .limit(k)
        .select("id", "weight", "negln_micro")
    )

"""Skew-mitigation utilities: salted joins for pathological hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime by splitting oversized shuffle partitions. Manual salting still
matters when (a) a single join key exceeds one executor's memory even
after splitting, or (b) the skewed side feeds a stateful/streaming
operator AQE can't re-plan. The classic OSM example: the ``highway``
tag key is Zipfian (1,312 of 10,130 tags in the sample — SURVEY.md §4).

``salted_join`` replicates the small side N ways and scatters the big
side across the N replicas, turning one hot partition into N even ones
at the cost of N× the (broadcast-sized) small side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Join ``big`` to ``small`` on ``on`` with an N-way salt.

    The salt on the big side is derived from ``spark_partition_id`` +
    a per-row monotonic id — uniform, no data column needed, and the
    join RESULT is independent of the salt values (they only route
    rows), so nondeterminism in the id assignment is harmless.
    """
    big_salted = big.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int")
    )
    small_salted = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return big_salted.join(small_salted, on + ["_salt"], "inner").drop("_salt")


def salted_count_distinct(
    df: DataFrame, key: str, value: str, n_salts: int = 16
) -> DataFrame:
    """COUNT(DISTINCT value) per hot key in two stages: distinct within
    (key, salt-of-value) partitions first, then combine — the single
    hot key never lands on one reducer. Exact (salting by the VALUE
    hash keeps each distinct value in exactly one salt bucket)."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(value)), F.lit(n_salts)).cast("int")
    )
    partial = salted.groupBy(key, "_salt").agg(
        F.countDistinct(value).alias("_n")
    )
    return partial.groupBy(key).agg(F.sum("_n").cast("bigint").alias("n_distinct"))


def key_skew_report(df: DataFrame, key: str) -> DataFrame:
    """One-row skew diagnosis for a prospective join/shuffle key: key
    cardinality, total rows, the heaviest key's row count and share
    (basis points), and the Gini coefficient of the per-key row
    distribution (basis points) — the numbers that decide between a
    plain shuffle join, AQE skew splitting, and manual salting.

    All-integer: Gini uses the rank formulation ``(2·Σ(i·cᵢ) −
    (n+1)·Σc) / (n·Σc)`` over counts sorted ascending with a full
    (count, key) tie-break, so the report hashes identically across
    engines. Shape at scale: one map-side-combinable count per key,
    then the rank over the REDUCED per-key frame via the two-phase
    distributed prefix sum (never a single-partition window over keys),
    then one scalar aggregate.
    """
    from udacity_data_wrangling_osm_case_study_spark.operators.packing import (
        global_token_offsets,
    )

    counts = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("n"))
    # composite sortable key: ascending (n, k); keys are bigints far
    # below 1e7 in the shipped data — at real scale range-partition on
    # the (n, k) struct instead
    keyed = counts.withColumn(
        "_skey", F.col("n") * 10_000_000 + F.col("k")
    ).withColumn("_one", F.lit(1).cast("long"))
    ranked = global_token_offsets(keyed, order_col="_skey", ntok_col="_one")
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("total_rows"),
        F.max("n").cast("bigint").alias("max_n"),
        F.expr("max(n) * 10000 div sum(n)").alias("max_share_bp"),
        F.expr(
            "(2 * sum((start + 1) * n) - (count(*) + 1) * sum(n)) * 10000"
            " div (count(*) * sum(n))"
        ).alias("gini_bp"),
    )

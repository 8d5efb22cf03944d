"""Sequence-packing and corpus-mix queries (scale extensions):
concat-and-chunk training-sequence packing, per-source frequency caps.

Both drive ``operators.packing`` / ``operators.sampling``. The packing
oracle recomputes the global prefix sum with a plain windowed SUM —
fine in DuckDB at sf scale; the Spark side uses the distributed
two-phase prefix sum (``packing.global_token_offsets``) precisely
because the plain window is a single-partition funnel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import packing, sampling
from udacity_data_wrangling_osm_case_study_spark.plans.registry import TEXT_NORM, register, table

_NTOK = f"len(string_split({TEXT_NORM}, ' '))"

_SEQ_LEN = 512


@register(
    "sequence_packing",
    f"""
    WITH t AS (
        SELECT doc_id, {_NTOK} AS n_tokens FROM documents
    ),
    offs AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS start
        FROM t
    ),
    spans AS (
        SELECT doc_id, start, n_tokens,
               unnest(range(start // {_SEQ_LEN},
                            (start + n_tokens - 1) // {_SEQ_LEN} + 1)) AS seq_id
        FROM offs WHERE n_tokens > 0
    )
    SELECT seq_id, doc_id,
           greatest(start, seq_id * {_SEQ_LEN}) - seq_id * {_SEQ_LEN}
               AS seq_offset,
           least(start + n_tokens, (seq_id + 1) * {_SEQ_LEN})
               - greatest(start, seq_id * {_SEQ_LEN}) AS n_tokens
    FROM spans ORDER BY seq_id, doc_id
    """,
)
def sequence_packing(spark, sf_dir):
    """Concat-and-chunk packing of the documents table into 512-token
    training sequences: the doc -> (sequence, offset, length) placement
    map a pretraining loader consumes. Global offsets come from the
    distributed two-phase prefix sum — no single-partition window."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " "), " "
            )
        ).cast("long").alias("n_tokens"),
    )
    return packing.pack_sequences(docs, seq_len=_SEQ_LEN).orderBy(
        "seq_id", "doc_id"
    )


@register(
    "per_source_cap",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ),
    kept AS (SELECT doc_id AS kept_id, source FROM ranked WHERE rn <= 40)
    SELECT d.source,
           COUNT(*) AS n_docs,
           COUNT(k.kept_id) AS n_kept,
           CAST(MIN(k.kept_id) AS BIGINT) AS min_kept_id,
           CAST(SUM(k.kept_id) AS BIGINT) AS kept_id_sum
    FROM documents d
    LEFT JOIN kept k ON d.doc_id = k.kept_id AND d.source = k.source
    GROUP BY d.source ORDER BY d.source
    """,
)
def per_source_cap(spark, sf_dir):
    """Frequency capping audit: keep at most 40 docs per source
    (deterministic hash draw), report per-source kept counts plus an
    id checksum proving WHICH docs were kept matches the oracle."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    # The kept frame derives from docs (a self-join): rename BOTH its
    # columns so the join condition and grouping are unambiguous.
    kept = sampling.per_key_cap(docs, "source", "doc_id", cap=40).select(
        F.col("doc_id").alias("kept_id"), F.col("source").alias("kept_source")
    )
    return (
        docs.join(
            kept,
            (docs.doc_id == kept.kept_id) & (docs.source == kept.kept_source),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("kept_id").alias("n_kept"),
            F.min("kept_id").cast("bigint").alias("min_kept_id"),
            F.sum("kept_id").cast("bigint").alias("kept_id_sum"),
        )
        .orderBy("source")
    )


def _z_sql(cols: list[str], bits: int = 16) -> str:
    """DuckDB twin of ``layout.zorder_key`` (bit-identical)."""
    n = len(cols)
    terms = [
        f"(((CAST({c} AS BIGINT) >> {b}) & 1) << {b * n + (n - 1 - i)})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return " + ".join(terms)


@register(
    "zorder_locality",
    f"""
    WITH pts AS (
        SELECT event_id,
               user_id & 65535 AS x,
               CAST(floor(abs(value) * 100) AS BIGINT) & 65535 AS y
        FROM events
    ),
    keyed AS (SELECT event_id, x, y, {_z_sql(['x', 'y'])} AS zkey FROM pts)
    SELECT zkey >> 22 AS zbucket, COUNT(*) AS n,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM keyed GROUP BY zbucket
    ORDER BY n DESC, zbucket LIMIT 20
    """,
)
def zorder_locality(spark, sf_dir):
    """Z-order locality audit over events (user_id x value): per
    coarse Z-bucket, the row count and the min/max envelope of BOTH
    dimensions — the tight per-bucket envelopes are exactly what makes
    Z-ordered files skippable on either column's predicate
    (``layout.write_zordered`` is the write path)."""
    from udacity_data_wrangling_osm_case_study_spark.operators import layout

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").bitwiseAND(65535).alias("x"),
        F.floor(F.abs(F.col("value")) * 100)
        .cast("bigint")
        .bitwiseAND(65535)
        .alias("y"),
    )
    keyed = ev.withColumn("zkey", layout.zorder_key(["x", "y"], bits=16))
    return (
        keyed.select(F.shiftright("zkey", 22).alias("zbucket"), "x", "y")
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .orderBy(F.desc("n"), "zbucket")
        .limit(20)
    )


_MIX_TARGET = 600


@register(
    "source_temperature_mix",
    f"""
    WITH c AS (
        SELECT source, COUNT(*) AS n,
               CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS w
        FROM documents GROUP BY source
    ),
    q AS (
        SELECT source, n,
               CAST({_MIX_TARGET} AS BIGINT) * w
                   // (SELECT SUM(w) FROM c) AS quota
        FROM c
    ),
    ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('mix' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ),
    kept AS (
        SELECT r.doc_id, r.source
        FROM ranked r JOIN q USING (source) WHERE r.rn <= q.quota
    )
    SELECT q.source, q.n AS n_docs, CAST(q.quota AS BIGINT) AS quota,
           COUNT(k.doc_id) AS n_kept,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_sum
    FROM q LEFT JOIN kept k USING (source)
    GROUP BY q.source, q.n, q.quota ORDER BY q.source
    """,
)
def source_temperature_mix(spark, sf_dir):
    """Temperature-balanced mixing audit (alpha = 0.5): per-source
    sqrt-weighted quotas out of a 600-doc target, integer-exact
    arithmetic, hash-draw selection — with an id checksum proving the
    selected subset matches the oracle row-for-row."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    kept = sampling.weighted_key_quota(docs, "source", "doc_id", _MIX_TARGET).select(
        F.col("doc_id").alias("kept_id"), F.col("source").alias("kept_source")
    )
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = F.floor(F.sqrt(F.col("n_docs"))).cast("long")
    weights = counts.withColumn("_w", w)
    total_w = weights.agg(F.sum("_w").alias("_sum_w"))
    quotas = weights.crossJoin(F.broadcast(total_w)).select(
        "source",
        "n_docs",
        F.expr(f"CAST({_MIX_TARGET} AS BIGINT) * _w div _sum_w").alias("quota"),
    )
    return (
        quotas.join(kept, quotas.source == kept.kept_source, "left")
        .groupBy("source", "n_docs", "quota")
        .agg(
            F.count("kept_id").alias("n_kept"),
            F.coalesce(F.sum("kept_id"), F.lit(0)).cast("bigint").alias("kept_id_sum"),
        )
        .orderBy("source")
    )

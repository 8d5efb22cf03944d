"""Document fingerprinting via winnowing (rolling k-gram hash).

Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
algorithm) selects a bounded, position-robust subset of a document's
k-gram hashes: slide a window of ``w`` consecutive gram hashes and keep
the minimum of each window. Any shared substring of length >= k + w - 1
between two documents is then guaranteed to contribute at least one
shared fingerprint, so fingerprint overlap is a sound near-duplicate /
clone-detection signal with output size ~2/(w+1) of the gram count.

Spark-first shape: the whole selection is ROW-LOCAL — one pass of
higher-order array expressions (sequence → transform → slice →
array_min → array_distinct), zero shuffles until the pair search, which
is the same bounded inverted-index join as the shingle family
(``operators.dedup``). Gram hashes are a Rabin-Karp polynomial over
char codes mod the Mersenne prime 2^31-1 — pure integer arithmetic
that codegens to a handful of long ops per gram (measured 1.6x the
throughput of per-gram md5) and is engine-portable: the identical
fingerprint set is computable in ANSI SQL (DuckDB oracle) from
``ord(substr(...))``. Hash collisions (~n²/2^32 of the gram count)
are identical in every engine, so parity is exact; for winnowing they
only marginally dilute selectivity.

At 100 TB: fingerprinting is embarrassingly parallel (narrow, codegen);
the pair join's cost is sum of per-fingerprint df² — hot boilerplate
fingerprints are the skew risk, guarded by the same document-frequency
cap as shingles (``max_fp_df``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators.dedup import normalize_text

# Rabin-Karp parameters: base just above the char-code range, modulus
# the Mersenne prime 2^31-1. acc stays < 2^31, acc*BASE < 2^40 — no
# long overflow at any input.
HASH_BASE = 257
HASH_MOD = 2_147_483_647


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """(id, fps): the distinct winnowed fingerprint set per document.

    ``k`` is the character-gram width, ``w`` the winnow window (in
    grams). Guarantee threshold: matches of length >= k + w - 1 chars
    always share a fingerprint. A document with fewer than ``w`` grams
    contributes a single window over whatever grams it has; one with no
    grams (shorter than ``k`` chars) has an empty fingerprint set.
    """
    base = df.select(
        F.col("doc_id").alias("id"),
        normalize_text(F.col("text")).alias("t"),
    )
    n_grams = F.greatest(F.length("t") - (k - 1), F.lit(0))
    empty = F.array().cast("array<long>")

    # Rabin-Karp gram hash over the let-bound char-code array: k
    # element_at + mul/mod long ops per gram, all codegen — no md5, no
    # per-gram string allocation. The char codes are bound as a lambda
    # variable (1-element transform) so the O(n) split+ascii runs once
    # per row, immune to CollapseProject re-inlining.
    codes_expr = F.transform(F.split(F.col("t"), ""), lambda c: F.ascii(c))

    def poly(codes, i):
        acc = F.element_at(codes, i).cast("long")
        for j in range(1, k):
            acc = (acc * HASH_BASE + F.element_at(codes, i + j)) % HASH_MOD
        return acc

    def gram_hashes(codes):
        return F.when(
            n_grams > 0,
            F.transform(F.sequence(F.lit(1), n_grams), lambda i: poly(codes, i)),
        ).otherwise(empty)

    hashes = F.element_at(F.transform(F.array(codes_expr), gram_hashes), 1)

    # Let-binding via a 1-element transform: the gram-hash array must
    # evaluate ONCE per row, but a plain two-projection split collapses
    # under Catalyst's CollapseProject and the O(n) hash expression gets
    # re-inlined into EVERY window lambda — O(n²·w) md5 calls (measured
    # 250x slower at sf0.01). Binding it as a lambda variable makes the
    # single evaluation part of the expression semantics, immune to plan
    # rewrites.
    def winnow(hs):
        ng = F.size(hs)
        n_windows = (
            F.when(ng >= w, ng - (w - 1))
            .when(ng >= 1, F.lit(1))
            .otherwise(F.lit(0))
        )
        return F.when(
            n_windows > 0,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda j: F.array_min(F.slice(hs, j, w)),
                )
            ),
        ).otherwise(empty)

    fps = F.element_at(F.transform(F.array(hashes), winnow), 1)
    return base.select("id", fps.alias("fps"))


def fingerprint_sets(fingerprints: DataFrame) -> DataFrame:
    """Explode (id, fps) → one (id, fp) row per fingerprint."""
    return fingerprints.select("id", F.explode("fps").alias("fp"))


def cap_fingerprint_df(sets: DataFrame, max_df: int) -> DataFrame:
    """Drop fingerprints hotter than ``max_df`` docs — the boilerplate
    skew guard (same broadcast anti-join shape as
    ``dedup.cap_shingle_df``; hot fingerprints are few by construction).
    """
    hot = (
        sets.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("fp")
    )
    return sets.join(F.broadcast(hot), "fp", "left_anti")


def fingerprint_pairs(
    fingerprints: DataFrame,
    min_shared: int = 3,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowed fingerprints:
    (id_a, id_b, shared, size_a, size_b, overlap).

    ``overlap`` is containment — shared / min(|A|, |B|) — the right
    score for clone detection where a small doc may be wholly embedded
    in a large one. Inverted-index self-join on the fingerprint key:
    cost is sum of per-fingerprint df², never corpus².

    Caches the winnow output (never unpersisted — the returned frame's
    lazy lineage still reads it); in a long-lived session, clear with
    ``spark.catalog.clearCache()`` after materializing (the
    harness/bench convention) to release executor storage.
    """
    # Single cache point holding the winnow output (the dominant cost)
    # in its COMPACT (id, fps) array form. Every downstream branch —
    # the hot-fingerprint census, the capped probe, sizes, and both
    # join sides — re-derives the explode from this cache: a codegen
    # generator over ~1 cached array row per document costs far less
    # than writing and re-reading the one-row-per-fingerprint exploded
    # copy (~2/(w+1) rows per char of text) from executor storage
    # (guide §5: cache the narrow form, recompute the cheap expansion;
    # measured 1.5x end-to-end at sf0.1). Capping stays a broadcast
    # anti-join over the re-derived explode, census exchange deduped by
    # ReusedExchange across branches.
    fingerprints = fingerprints.cache()
    sets = fingerprint_sets(fingerprints)
    if max_fp_df is not None:
        sets = cap_fingerprint_df(sets, max_fp_df)
    sizes = sets.groupBy("id").agg(F.count("*").alias("sz"))
    shared = (
        sets.alias("a")
        .join(sets.alias("b"), "fp")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        shared.join(
            F.broadcast(
                sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a")
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "shared",
            "size_a",
            "size_b",
            F.round(
                F.col("shared") / F.least(F.col("size_a"), F.col("size_b")), 6
            ).alias("overlap"),
        )
    )

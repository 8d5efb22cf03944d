"""Exact-substring dedup queries (Lee et al. 2022 ExactSubstr shape).

Three registered views of :mod:`operators.substrings` over the
``documents`` table — the measurement (per-doc duplicated-span
coverage), the removal (cleaned text after excising every duplicated
span), and the audit (which boilerplate grams dominate). L = 6 tokens
here: the synthetic corpus averages ~54 tokens/doc, so 6 plays the
role the reference's 50-token threshold plays on real web documents
(the operator's default stays 50).

Oracle notes: the DuckDB twins recompute the whole gram → census →
span-merge → excise chain independently (string_split + lateral range
for the gram slide, window lag/sum for the interval merge), so a drift
anywhere — tokenizer, gram hashing, merge adjacency rule, excision
indexing — breaks the value match. Both engines key the census on
md5(gram) (not a truncated int), because a collision here would flip
an output row, not just nudge a count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import substrings
from udacity_data_wrangling_osm_case_study_spark.plans.registry import (
    TEXT_NORM,
    ensure_index,
    register,
    table,
)

_L = 6
_MIN_COUNT = 2

# Shared CTE chain: tokenized docs -> L-gram starts -> duplicated
# starts -> maximal merged spans (inclusive 1-based token ranges).
_SPANS_CTE = f"""
    bt AS (
        SELECT doc_id AS id, string_split({TEXT_NORM}, ' ') AS toks,
               len(string_split({TEXT_NORM}, ' ')) AS n_tokens
        FROM documents
    ),
    gr AS (
        SELECT id, CAST(p.i AS INT) AS pos,
               md5(array_to_string(
                   toks[CAST(p.i AS INT):CAST(p.i AS INT) + {_L - 1}],
                   ' ')) AS g
        FROM bt, LATERAL unnest(
            range(1, greatest(n_tokens - {_L - 1}, 0) + 1)) p(i)
    ),
    dup AS (SELECT g FROM gr GROUP BY g HAVING COUNT(*) >= {_MIN_COUNT}),
    ds AS (SELECT id, pos FROM gr WHERE g IN (SELECT g FROM dup)),
    fl AS (
        SELECT id, pos,
               CASE WHEN pos - LAG(pos) OVER (
                        PARTITION BY id ORDER BY pos) > {_L}
                    THEN 1 ELSE 0 END AS brk
        FROM ds
    ),
    sp AS (
        SELECT id, MIN(pos) AS s, MAX(pos) + {_L - 1} AS e
        FROM (SELECT id, pos,
                     SUM(brk) OVER (PARTITION BY id ORDER BY pos) AS sid
              FROM fl)
        GROUP BY id, sid
    )
"""


@register(
    "substring_span_coverage",
    f"""
    WITH {_SPANS_CTE},
    cov AS (SELECT id, SUM(e - s + 1) AS dup_tokens FROM sp GROUP BY id)
    SELECT bt.id AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(CAST(COALESCE(dup_tokens, 0) AS HUGEINT) * 10000
                // n_tokens AS BIGINT) AS share_bp
    FROM bt LEFT JOIN cov ON cov.id = bt.id
    ORDER BY doc_id
    """,
)
def substring_span_coverage(spark, sf_dir):
    """Per-document duplicated-span coverage — the ExactSubstr SIGNAL:
    how much of each doc is covered by >= L-token substrings that occur
    >= min_count times ANYWHERE in the corpus, self-repeats included
    (share in integer basis points). Companion to the round-5
    ``duplicated_span_share`` (strictly CROSS-document 5-grams, no span
    merge): this one measures exactly what ``substring_dedup_removal``
    will excise — same gram length, same within-doc counting, same
    merged-interval arithmetic — so coverage minus removal is an
    internal consistency invariant. One gram-census shuffle + one
    semi-join; span merge is per-doc local (operators/substrings.py)."""
    docs = table(spark, sf_dir, "documents")
    return (
        substrings.span_coverage(docs, l=_L, min_count=_MIN_COUNT)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


@register(
    "substring_dedup_removal",
    f"""
    WITH {_SPANS_CTE},
    tok_rows AS (
        SELECT id, CAST(i.i AS INT) AS i, toks[CAST(i.i AS INT)] AS tok
        FROM bt, LATERAL unnest(range(1, n_tokens + 1)) i(i)
    ),
    covered AS (
        SELECT DISTINCT id, CAST(u.i AS INT) AS i
        FROM sp, LATERAL unnest(range(s, e + 1)) u(i)
    ),
    kept AS (
        SELECT t.id, t.i, t.tok
        FROM tok_rows t LEFT JOIN covered c ON c.id = t.id AND c.i = t.i
        WHERE c.id IS NULL
    ),
    agg AS (
        SELECT id, COUNT(*) AS n_after,
               md5(string_agg(tok, ' ' ORDER BY i)) AS cleaned_md5
        FROM kept GROUP BY id
    )
    SELECT bt.id AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_before,
           -- NULL text has no token count at all (NULL, matching the
           -- engine); a real doc whose every token was excised is 0.
           CAST(CASE WHEN n_tokens IS NULL THEN NULL
                     ELSE COALESCE(n_after, 0) END AS BIGINT) AS n_after,
           CASE WHEN n_tokens IS NULL THEN NULL
                ELSE COALESCE(cleaned_md5, md5('')) END AS cleaned_md5
    FROM bt LEFT JOIN agg ON agg.id = bt.id
    ORDER BY doc_id
    """,
)
def substring_dedup_removal(spark, sf_dir):
    """ExactSubstr REMOVAL: excise every corpus-duplicated span (all
    occurrences, like the reference's default) and emit the cleaned
    text — reported as (doc_id, n_before, n_after, md5(cleaned)) so the
    oracle pins the exact cleaned string, not just its length. The
    excision itself is row-local (indexed filter lambda over the token
    array against the doc's collected span list); the oracle recomputes
    it relationally (position anti-join + ordered string_agg)."""
    docs = table(spark, sf_dir, "documents")
    out = substrings.remove_duplicated_spans(docs, l=_L, min_count=_MIN_COUNT)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_before").cast("long").alias("n_before"),
        F.col("n_after").cast("long").alias("n_after"),
        F.md5("cleaned").alias("cleaned_md5"),
    ).orderBy("doc_id")


def ensure_gram_index(spark, sf_dir: str) -> str:
    """The persisted corpus gram index over the corpus partition
    (doc_id % 7 != 0), built or rebuilt by ``registry.ensure_index``."""
    return ensure_index(
        spark,
        sf_dir,
        "spark_graft_gram_index",
        "documents",
        lambda docs, index_dir: substrings.build_gram_index(
            docs.filter(F.col("doc_id") % 7 != 0), index_dir, l=_L
        ),
        {"l": _L, "key": substrings.GRAM_KEY},
    )


@register(
    "incremental_substring_coverage",
    f"""
    WITH bt AS (
        SELECT doc_id AS id, string_split({TEXT_NORM}, ' ') AS toks,
               len(string_split({TEXT_NORM}, ' ')) AS n_tokens
        FROM documents
    ),
    gr AS (
        SELECT id, CAST(p.i AS INT) AS pos,
               md5(array_to_string(
                   toks[CAST(p.i AS INT):CAST(p.i AS INT) + {_L - 1}],
                   ' ')) AS g
        FROM bt, LATERAL unnest(
            range(1, greatest(n_tokens - {_L - 1}, 0) + 1)) p(i)
    ),
    idx AS (SELECT g, COUNT(*) AS ni FROM gr WHERE id % 7 <> 0 GROUP BY g),
    census AS (SELECT g, COUNT(*) AS nb FROM gr WHERE id % 7 = 0 GROUP BY g),
    dup AS (
        SELECT census.g FROM census LEFT JOIN idx USING (g)
        WHERE nb + COALESCE(ni, 0) >= {_MIN_COUNT}
    ),
    ds AS (SELECT id, pos FROM gr
           WHERE id % 7 = 0 AND g IN (SELECT g FROM dup)),
    fl AS (
        SELECT id, pos,
               CASE WHEN pos - LAG(pos) OVER (
                        PARTITION BY id ORDER BY pos) > {_L}
                    THEN 1 ELSE 0 END AS brk
        FROM ds
    ),
    sp AS (
        SELECT id, MIN(pos) AS s, MAX(pos) + {_L - 1} AS e
        FROM (SELECT id, pos,
                     SUM(brk) OVER (PARTITION BY id ORDER BY pos) AS sid
              FROM fl)
        GROUP BY id, sid
    ),
    cov AS (SELECT id, SUM(e - s + 1) AS dup_tokens FROM sp GROUP BY id)
    SELECT bt.id AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(CAST(COALESCE(dup_tokens, 0) AS HUGEINT) * 10000
                // n_tokens AS BIGINT) AS share_bp
    FROM bt LEFT JOIN cov ON cov.id = bt.id
    WHERE bt.id % 7 = 0
    ORDER BY doc_id
    """,
)
def incremental_substring_coverage(spark, sf_dir):
    """Incremental ExactSubstr measurement: the ingest batch
    (doc_id % 7 == 0) measures its duplicated-span coverage against the
    PERSISTED corpus gram index (operators.substrings.build_gram_index
    over doc_id % 7 != 0) plus itself — the corpus is never re-grammed
    at probe time, so the ingest job is sized by the batch (the
    substring twin of ``incremental_dedup``). The index side is one
    scan, semi-join-restricted to the batch's gram keys before any
    aggregation."""
    index_dir = ensure_gram_index(spark, sf_dir)
    batch = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return (
        substrings.incremental_span_coverage(
            batch, index_dir, min_count=_MIN_COUNT
        )
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


@register(
    "top_boilerplate_grams",
    f"""
    WITH bt AS (
        SELECT doc_id AS id, string_split({TEXT_NORM}, ' ') AS toks,
               len(string_split({TEXT_NORM}, ' ')) AS n_tokens
        FROM documents
    ),
    gr AS (
        SELECT id, array_to_string(
                   toks[CAST(p.i AS INT):CAST(p.i AS INT) + {_L - 1}],
                   ' ') AS gram
        FROM bt, LATERAL unnest(
            range(1, greatest(n_tokens - {_L - 1}, 0) + 1)) p(i)
    )
    SELECT gram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs
    FROM gr GROUP BY gram HAVING COUNT(*) >= {_MIN_COUNT}
    ORDER BY n_occurrences DESC, gram
    LIMIT 20
    """,
)
def top_boilerplate_grams(spark, sf_dir):
    """The boilerplate audit: the 20 most-repeated L-token grams with
    occurrence and document counts — "what text is the corpus full of",
    the report a curator reads to tune the span threshold before
    running the removal. Gram strings (not hashes) so the output is
    human-actionable; TakeOrderedAndProject keeps the top-k driver-side
    cost at k rows."""
    docs = table(spark, sf_dir, "documents")
    base = substrings.tokenized(docs)
    count = F.col("n_tokens") - (_L - 1)
    starts = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    grams = base.select(
        "id", F.explode(starts).alias("pos"), "toks"
    ).select(
        "id", F.array_join(F.slice("toks", F.col("pos"), _L), " ").alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= _MIN_COUNT)
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(20)
    )


def _profile_block(l: int) -> str:
    # One L's census→spans→corpus-coverage chain, CTE names suffixed by
    # L so three lengths coexist in a single oracle statement.
    return f"""
    gr{l} AS (
        SELECT id, CAST(p.i AS INT) AS pos,
               md5(array_to_string(
                   toks[CAST(p.i AS INT):CAST(p.i AS INT) + {l - 1}],
                   ' ')) AS g
        FROM bt, LATERAL unnest(
            range(1, greatest(n_tokens - {l - 1}, 0) + 1)) p(i)
    ),
    ds{l} AS (SELECT id, pos FROM gr{l}
              WHERE g IN (SELECT g FROM gr{l} GROUP BY g
                          HAVING COUNT(*) >= {_MIN_COUNT})),
    fl{l} AS (
        SELECT id, pos,
               CASE WHEN pos - LAG(pos) OVER (
                        PARTITION BY id ORDER BY pos) > {l}
                    THEN 1 ELSE 0 END AS brk
        FROM ds{l}
    ),
    sp{l} AS (
        SELECT id, MIN(pos) AS s, MAX(pos) + {l - 1} AS e
        FROM (SELECT id, pos, SUM(brk) OVER (
                     PARTITION BY id ORDER BY pos) AS sid
              FROM fl{l})
        GROUP BY id, sid
    ),
    cov{l} AS (SELECT COALESCE(SUM(e - s + 1), 0) AS dup FROM sp{l})
    """


_PROFILE_LS = (4, 6, 10)


@register(
    "substring_threshold_profile",
    "WITH bt AS (\n"
    f"    SELECT doc_id AS id, string_split({TEXT_NORM}, ' ') AS toks,\n"
    f"           len(string_split({TEXT_NORM}, ' ')) AS n_tokens\n"
    "    FROM documents\n"
    "),\n"
    "tot AS (SELECT SUM(n_tokens) AS total_tokens FROM bt),"
    + ",".join(_profile_block(l) for l in _PROFILE_LS)
    + "\nSELECT l, total_tokens, dup_tokens,\n"
    "       CAST(CAST(dup_tokens AS HUGEINT) * 10000 // total_tokens\n"
    "            AS BIGINT) AS share_bp\n"
    "FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({l} AS BIGINT) AS l,"
        f" CAST(total_tokens AS BIGINT) AS total_tokens,"
        f" CAST(dup AS BIGINT) AS dup_tokens FROM cov{l} CROSS JOIN tot"
        for l in _PROFILE_LS
    )
    + "\n) ORDER BY l",
)
def substring_threshold_profile(spark, sf_dir):
    """Threshold-sensitivity curve for ExactSubstr: corpus-level
    duplicated-span mass at gram lengths 4/6/10 — the report a curator
    reads to PICK the span threshold before running the removal
    (coverage falls as L rises; the knee is the operating point, the
    analysis behind Lee et al.'s 50-token choice on web text). The
    tokenized corpus is built ONCE and cached across the three census
    passes; each pass is the standard census shuffle at its own L."""
    docs = table(spark, sf_dir, "documents")
    base = substrings.tokenized(docs).cache()
    total = base.agg(F.sum("n_tokens").alias("total_tokens"))

    def level(l: int):
        starts = substrings.duplicated_starts(
            substrings.gram_starts(base, l), _MIN_COUNT
        )
        cov = substrings.merge_spans(starts, l).agg(
            F.coalesce(
                F.sum(F.col("span_end") - F.col("span_start") + 1), F.lit(0)
            ).alias("dup_tokens")
        )
        return cov.crossJoin(F.broadcast(total)).select(
            F.lit(l).cast("long").alias("l"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.expr(
                "cast(dup_tokens as decimal(38,0)) * 10000"
                " div cast(total_tokens as decimal(38,0))"
            )
            .cast("long")
            .alias("share_bp"),
        )

    out = level(_PROFILE_LS[0])
    for l in _PROFILE_LS[1:]:
        out = out.unionByName(level(l))
    return out.orderBy("l")


@register(
    "boilerplate_share_by_source",
    f"""
    WITH {_SPANS_CTE},
    cov AS (SELECT id, SUM(e - s + 1) AS dup_tokens FROM sp GROUP BY id),
    src AS (SELECT doc_id AS id, source FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(COALESCE(dup_tokens, 0)) AS BIGINT) AS dup_tokens,
           CAST(CAST(SUM(COALESCE(dup_tokens, 0)) AS HUGEINT) * 10000
                // SUM(n_tokens) AS BIGINT) AS share_bp
    FROM bt JOIN src USING (id) LEFT JOIN cov USING (id)
    GROUP BY source ORDER BY source
    """,
)
def boilerplate_share_by_source(spark, sf_dir):
    """Per-SOURCE duplicated-span mass — which feeds are recycling
    text: the readout that decides where the intake gate's
    max_dup_share_bp should bite, and the substring twin of
    ``near_dup_rate_by_source``. One coverage pass + a source
    re-attach; shares in integer basis points."""
    docs = table(spark, sf_dir, "documents")
    cov = substrings.span_coverage(docs, l=_L, min_count=_MIN_COUNT)
    src = docs.select(F.col("doc_id").alias("id"), "source")
    return (
        cov.join(src, "id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("dup_tokens").cast("long").alias("dup_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "dup_tokens",
            F.expr(
                "cast(dup_tokens as decimal(38,0)) * 10000"
                " div cast(total_tokens as decimal(38,0))"
            )
            .cast("long")
            .alias("share_bp"),
        )
        .orderBy("source")
    )


_INCR_ORACLE = f"""
    WITH bt AS (
        SELECT doc_id AS id, string_split({TEXT_NORM}, ' ') AS toks,
               len(string_split({TEXT_NORM}, ' ')) AS n_tokens
        FROM documents
    ),
    gr AS (
        SELECT id, CAST(p.i AS INT) AS pos,
               md5(array_to_string(
                   toks[CAST(p.i AS INT):CAST(p.i AS INT) + {_L - 1}],
                   ' ')) AS g
        FROM bt, LATERAL unnest(
            range(1, greatest(n_tokens - {_L - 1}, 0) + 1)) p(i)
    ),
    idx AS (SELECT g, COUNT(*) AS ni FROM gr WHERE id % 7 <> 0 GROUP BY g),
    census AS (SELECT g, COUNT(*) AS nb FROM gr WHERE id % 7 = 0 GROUP BY g),
    dup AS (
        SELECT census.g FROM census LEFT JOIN idx USING (g)
        WHERE nb + COALESCE(ni, 0) >= {_MIN_COUNT}
    ),
    ds AS (SELECT id, pos FROM gr
           WHERE id % 7 = 0 AND g IN (SELECT g FROM dup)),
    fl AS (
        SELECT id, pos,
               CASE WHEN pos - LAG(pos) OVER (
                        PARTITION BY id ORDER BY pos) > {_L}
                    THEN 1 ELSE 0 END AS brk
        FROM ds
    ),
    sp AS (
        SELECT id, MIN(pos) AS s, MAX(pos) + {_L - 1} AS e
        FROM (SELECT id, pos,
                     SUM(brk) OVER (PARTITION BY id ORDER BY pos) AS sid
              FROM fl)
        GROUP BY id, sid
    ),
    cov AS (SELECT id, SUM(e - s + 1) AS dup_tokens FROM sp GROUP BY id)
    SELECT bt.id AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(CAST(COALESCE(dup_tokens, 0) AS HUGEINT) * 10000
                // n_tokens AS BIGINT) AS share_bp
    FROM bt LEFT JOIN cov ON cov.id = bt.id
    WHERE bt.id % 7 = 0
    ORDER BY doc_id
    """


@register(
    "incremental_substring_coverage_bucketed",
    _INCR_ORACLE,
)
def incremental_substring_coverage_bucketed(spark, sf_dir):
    """The BUCKETED-layout twin of ``incremental_substring_coverage``
    (same oracle SQL verbatim — the layout must be result-invisible):
    the corpus gram census persists as a catalog table hash-bucketed by
    g (operators.substrings.build_gram_index_bucketed), so the probe's
    index side — semi-join restriction and per-gram count sum — reads
    bucket files with no exchange (plan asserted in
    tests/test_layout.py). Registered so the layout path carries
    driver-level oracle attestation, not just the unit-level parity
    test. The index rebuilds per call (seconds at correctness/bench
    SF); a deployment would build once per corpus version like the
    path-partitioned index."""
    import hashlib
    import os

    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    digest = hashlib.sha256(
        os.path.abspath(sf_dir.rstrip("/")).encode()
    ).hexdigest()[:12]
    tbl = f"gram_idx_bucketed_{digest}"
    substrings.build_gram_index_bucketed(corpus, tbl, l=_L, n_buckets=16)
    return (
        substrings.incremental_span_coverage_bucketed(
            batch, tbl, min_count=_MIN_COUNT
        )
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )

"""End-to-end corpus curation funnel: the operators composed as one
training-data pipeline, with a per-stage survivor audit.

This is the shape a real 100 TB pretraining-ingest job has — a chain
of independently-tested stages:

    input -> exact dedup -> MinHash near-dedup -> quality filter
          -> PII/denylist gate -> per-source frequency cap

The registered query reports the funnel (docs + tokens surviving each
stage), which is both the operational dashboard of a curation run and
a full-pipeline integration check: the DuckDB oracle recomputes every
stage independently, so a drift anywhere in the chain (shingling,
LSH banding, Jaccard verify, capping hash) breaks the value match.

Scale notes: each stage is the library operator documented in its own
module; the funnel adds no new shuffle shapes. The two survivor
frames that feed multiple downstream branches are cached, mirroring
``minhash_lsh_dupes``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import (
    dedup,
    packing,
    sampling,
)
from udacity_data_wrangling_osm_case_study_spark.plans.registry import (
    fan_out_scan,
    register,
    table,
)

_NORM = "regexp_replace(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')"

_MIN_TOKENS = 20
_MAX_DENY = 3
_CAP = 40
_DENY_PATTERN = r"\b(table|row|value)\b"

_FUNNEL_ORACLE = f"""
    WITH base AS (
        SELECT doc_id AS id, source, {_NORM} AS norm,
               len(string_split({_NORM}, ' ')) AS n_tokens
        FROM documents
    ),
    fp AS (SELECT id, md5(norm) AS fp FROM base),
    keep1 AS (SELECT MIN(id) AS id FROM fp GROUP BY fp),
    s2 AS (SELECT b.* FROM base b JOIN keep1 USING (id)),
    toks2 AS (SELECT id, string_split(norm, ' ') AS toks FROM s2),
    sh AS (
        SELECT DISTINCT id, unnest(list_transform(
            range(1, greatest(len(toks) - 2, 0) + 1),
            i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM toks2
    ),
    sigs AS (
        SELECT id, s.seed AS seed,
               MIN(md5(CAST(s.seed AS VARCHAR) || '#' || shingle)) AS minhash
        FROM sh, range(0, 8) s(seed) GROUP BY id, s.seed
    ),
    bands AS (
        SELECT id, CAST(seed // 2 AS INT) AS band,
               string_agg(minhash, '|' ORDER BY minhash) AS band_key
        FROM sigs GROUP BY id, CAST(seed // 2 AS INT)
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                    AND a.id < b.id
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    drops AS (
        SELECT DISTINCT i.id_b AS id
        FROM inter i
        JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
        JOIN sizes sa ON sa.id = i.id_a
        JOIN sizes sb ON sb.id = i.id_b
        WHERE ROUND(i.inter / (sa.sz + sb.sz - i.inter), 6) >= 0.5
    ),
    s3 AS (SELECT * FROM s2 WHERE id NOT IN (SELECT id FROM drops)),
    s4 AS (SELECT * FROM s3 WHERE n_tokens >= {_MIN_TOKENS}),
    s5 AS (
        SELECT * FROM s4
        WHERE len(regexp_extract_all(norm, '{_DENY_PATTERN}')) <= {_MAX_DENY}
    ),
    ranked AS (
        SELECT id, source, n_tokens,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('cap' || CAST(id AS VARCHAR)), id
               ) AS rn
        FROM s5
    ),
    s6 AS (SELECT id, source, n_tokens FROM ranked WHERE rn <= {_CAP})
    SELECT stage, n_docs, n_tokens FROM (
        SELECT '00_input' AS stage, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM base
        UNION ALL SELECT '01_exact_dedup', COUNT(*),
               CAST(SUM(n_tokens) AS BIGINT) FROM s2
        UNION ALL SELECT '02_near_dedup', COUNT(*),
               CAST(SUM(n_tokens) AS BIGINT) FROM s3
        UNION ALL SELECT '03_quality', COUNT(*),
               CAST(SUM(n_tokens) AS BIGINT) FROM s4
        UNION ALL SELECT '04_denylist', COUNT(*),
               CAST(SUM(n_tokens) AS BIGINT) FROM s5
        UNION ALL SELECT '05_source_cap', COUNT(*),
               CAST(SUM(n_tokens) AS BIGINT) FROM s6
    ) ORDER BY stage
    """


def _stage_flag_agg(marked, stages):
    """One aggregation pass over a flag-marked frame → the funnel rows:
    for each (stage, flag) pair, n_docs = Σflag and n_tokens =
    Σ(n_tokens where flag). Counts coalesce to 0 on an empty stage
    (matching COUNT(*) of the old per-stage agg branches); token sums
    stay NULL there (matching SUM over no rows)."""
    aggs = []
    for stage, flag in stages:
        aggs.append(
            F.coalesce(
                F.sum(F.when(flag, 1).otherwise(0)), F.lit(0)
            ).alias(f"nd_{stage}")
        )
        aggs.append(
            F.sum(F.when(flag, F.col("n_tokens")))
            .cast("bigint")
            .alias(f"nt_{stage}")
        )
    row = marked.agg(*aggs)
    out = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(stage).alias("stage"),
                    F.col(f"nd_{stage}").alias("n_docs"),
                    F.col(f"nt_{stage}").alias("n_tokens"),
                )
                for stage, _ in stages
            ]
        )
    ).alias("s")
    return row.select(out).select("s.stage", "s.n_docs", "s.n_tokens")


@register("corpus_curation_funnel", _FUNNEL_ORACLE)
def corpus_curation_funnel(spark, sf_dir):
    """Full curation pipeline over ``documents``, reported as a funnel:
    docs and tokens surviving each stage. Every stage is a library
    operator; see module docstring."""
    docs = table(spark, sf_dir, "documents")
    norm = dedup.normalize_text(F.col("text"))
    # Round 13: `text` is NOT carried — every downstream stage works on
    # the normalized form, so caching the raw bytes doubled the cache
    # footprint, and word_shingles re-ran the normalize regex over every
    # surviving doc (pre_normalized=True below reuses the cached norm).
    base = docs.select(
        "doc_id",
        "source",
        norm.alias("norm"),
        F.size(F.split(norm, " ")).alias("n_tokens"),
    ).cache()  # feeds the input stage agg, the keeper census, and s2

    # 1: exact dedup — keeper = min id per full-content fingerprint.
    # keepers and drops are cached as TINY id lists; the survivor
    # frames themselves are never cached or even built (round 13): the
    # old shape materialized s2 and s3 as two more near-full-corpus
    # caches and ran SIX separate aggregation branch jobs for the
    # funnel rows — the flag aggregation below reads the one base
    # cache once instead (guide §5, §2.3).
    keepers = (
        base.select("doc_id", F.md5("norm").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .cache()
    )
    s2 = base.join(keepers, "doc_id", "left_semi")

    # 2: MinHash-LSH near-dedup on the survivors — drop the larger id
    # of every verified pair (greedy keep-first, deterministic).
    # Persist points (round-7 audit): sh feeds 4 branches; bands feeds
    # both sides of the bucket self-join (the two sides project
    # different columns, so Spark never gives a ReusedExchange — without
    # the cache the minhash aggregation runs twice).
    sh = dedup.word_shingles(s2, text_col="norm", pre_normalized=True).cache()
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    bands = dedup.lsh_bands(sigs, rows_per_band=2).cache()
    cand = dedup.lsh_candidate_pairs(bands)
    verified = dedup.jaccard_pairs(sh, candidates=cand, min_jaccard=0.5)
    drops = verified.select(F.col("id_b").alias("doc_id")).distinct().cache()

    # 3-5: survival FLAGS per doc (quality floor, denylist, source
    # cap), all stages in one marked frame. The cap rank replays
    # sampling.per_key_cap's exact selection order — row_number among
    # s5 survivors by (md5('cap'||id), id) per source, expressed as a
    # running count of s5 rows over the same total order (ids are
    # unique, so the orders coincide row for row).
    k = keepers.withColumn("_k", F.lit(1))
    d = drops.withColumn("_d", F.lit(1))
    f2 = F.col("_k").isNotNull()
    f3 = f2 & F.col("_d").isNull()
    f4 = f3 & (F.col("n_tokens") >= _MIN_TOKENS)
    f5 = f4 & (
        F.regexp_count(F.col("norm"), F.lit(_DENY_PATTERN)) <= _MAX_DENY
    )
    cap_h = F.md5(F.concat(F.lit("cap"), F.col("doc_id").cast("string")))
    w_cap = (
        Window.partitionBy("source")
        .orderBy(cap_h, "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = (
        base.join(k, "doc_id", "left")
        .join(d, "doc_id", "left")
        .withColumn("f5", f5)
        .withColumn("cap_rn", F.sum(F.when(F.col("f5"), 1).otherwise(0)).over(w_cap))
        .select(
            "n_tokens",
            f2.alias("f2"),
            f3.alias("f3"),
            f4.alias("f4"),
            "f5",
            (F.col("f5") & (F.col("cap_rn") <= _CAP)).alias("f6"),
        )
    )
    funnel = _stage_flag_agg(
        marked,
        [
            ("00_input", F.lit(True)),
            ("01_exact_dedup", F.col("f2")),
            ("02_near_dedup", F.col("f3")),
            ("03_quality", F.col("f4")),
            ("04_denylist", F.col("f5")),
            ("05_source_cap", F.col("f6")),
        ],
    )
    return funnel.orderBy("stage")


@register(
    "training_order_shuffle",
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY md5('epoch0' || CAST(doc_id AS VARCHAR)))
                - 1 AS BIGINT) AS pos
    FROM documents ORDER BY doc_id
    """,
)
def training_order_shuffle(spark, sf_dir):
    """Reproducible global shuffle for training output: each doc's
    0-based position in md5('epoch0'||id) order. The oracle states the
    semantics as one ORDER BY; the engine computes the same permutation
    with the two-phase distributed prefix sum (range partition by hash,
    rank within partitions, broadcast bases) — no single-partition
    window at any scale. Re-salting the key gives independent epoch
    orders."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (
        sampling.deterministic_shuffle(docs, "doc_id", salt="epoch0")
        .select("doc_id", "pos")
        .orderBy("doc_id")
    )


_MANIFEST_SEQ_LEN = 256

_MANIFEST_ORACLE = f"""
    WITH base AS (
        SELECT doc_id AS id, source, {_NORM} AS norm,
               len(string_split({_NORM}, ' ')) AS n_tokens
        FROM documents
    ),
    k AS (SELECT MIN(id) AS id FROM base GROUP BY md5(norm)),
    s1 AS (SELECT b.* FROM base b JOIN k USING (id)),
    s2 AS (SELECT * FROM s1 WHERE n_tokens >= {_MIN_TOKENS}),
    ranked AS (
        SELECT id, source, n_tokens,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('cap' || CAST(id AS VARCHAR)), id
               ) AS rn
        FROM s2
    ),
    s3 AS (SELECT id, n_tokens FROM ranked WHERE rn <= {_CAP}),
    ordered AS (
        SELECT id, n_tokens,
               md5('epoch0' || CAST(id AS VARCHAR)) AS hk
        FROM s3
    ),
    offs AS (
        SELECT id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY hk, id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS start
        FROM ordered
    ),
    spans AS (
        SELECT id, start, n_tokens,
               unnest(range(start // {_MANIFEST_SEQ_LEN},
                            (start + n_tokens - 1) // {_MANIFEST_SEQ_LEN} + 1))
                   AS seq_id
        FROM offs WHERE n_tokens > 0
    ),
    cut AS (
        SELECT seq_id, id,
               greatest(start, seq_id * {_MANIFEST_SEQ_LEN})
                   - seq_id * {_MANIFEST_SEQ_LEN} AS seq_offset,
               least(start + n_tokens, (seq_id + 1) * {_MANIFEST_SEQ_LEN})
                   - greatest(start, seq_id * {_MANIFEST_SEQ_LEN}) AS ntok
        FROM spans
    )
    SELECT seq_id, COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS seq_tokens,
           CAST(SUM(id * (seq_offset + 1)) AS BIGINT) AS doc_checksum
    FROM cut GROUP BY seq_id ORDER BY seq_id
    """


@register("training_batch_manifest", _MANIFEST_ORACLE)
def training_batch_manifest(spark, sf_dir):
    """The OUTPUT side of the pipeline, end-to-end and value-checked:
    curation survivors (exact dedup -> token floor -> per-source cap)
    are laid out in a reproducible epoch shuffle order
    (md5('epoch0'||id)) and packed into 256-token training sequences;
    the manifest reports, per sequence, the doc count, token fill, and
    an (id x offset) checksum proving WHICH docs landed WHERE matches
    the oracle exactly.

    Scale shape: each curation stage is the library operator (one
    bounded shuffle each); the epoch order costs no separate pass —
    packing's distributed prefix sum simply runs ordered by the
    shuffle key; the manifest is one final groupBy on seq_id."""
    docs = table(spark, sf_dir, "documents")
    norm = dedup.normalize_text(F.col("text"))
    base = docs.select(
        "doc_id",
        "source",
        norm.alias("norm"),
        F.size(F.split(norm, " ")).cast("long").alias("n_tokens"),
    )
    keepers = (
        base.select("doc_id", F.md5("norm").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s2 = base.join(keepers, "doc_id", "left_semi").filter(
        F.col("n_tokens") >= _MIN_TOKENS
    )
    s3 = sampling.per_key_cap(s2, "source", "doc_id", cap=_CAP)
    keyed = s3.select(
        "doc_id",
        "n_tokens",
        F.md5(F.concat(F.lit("epoch0"), F.col("doc_id").cast("string"))).alias(
            "_hk"
        ),
    )
    packed = packing.pack_sequences(
        keyed, seq_len=_MANIFEST_SEQ_LEN,
        id_col="doc_id", ntok_col="n_tokens", order_col="_hk",
    )
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
            F.sum(F.col("doc_id") * (F.col("seq_offset") + 1))
            .cast("long")
            .alias("doc_checksum"),
        )
        .orderBy("seq_id")
    )


@register(
    "stratified_doc_sample",
    """
    WITH ranked AS (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY source, lang
                   ORDER BY md5('strat' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY source, lang) AS n
        FROM documents
    ),
    kept AS (SELECT doc_id, source, lang FROM ranked WHERE rn * 100 <= n * 10)
    SELECT r.source, r.lang,
           CAST(MAX(r.n) AS BIGINT) AS n_docs,
           COUNT(k.doc_id) AS n_kept,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_sum
    FROM ranked r
    LEFT JOIN kept k ON r.doc_id = k.doc_id
    GROUP BY r.source, r.lang ORDER BY r.source, r.lang
    """,
)
def stratified_doc_sample(spark, sf_dir):
    """Proportional stratified sampling audit: a deterministic 10%
    draw from EVERY (source, lang) stratum — the mix-preserving sample
    (vs per_source_cap's fixed ceiling, which reshapes the mix). The
    per-stratum kept-id checksum attests WHICH docs were drawn, not
    just how many. Integer cross-multiplied keep rule — engine-exact."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    kept = sampling.stratified_sample_rate(
        docs, ["source", "lang"], "doc_id", rate_pct=10
    ).select(F.col("doc_id").alias("kept_id"))
    return (
        docs.join(kept, docs.doc_id == kept.kept_id, "left")
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("kept_id").alias("n_kept"),
            F.coalesce(F.sum("kept_id"), F.lit(0))
            .cast("bigint")
            .alias("kept_id_sum"),
        )
        .orderBy("source", "lang")
    )


@register(
    "source_quantile_normalize",
    """
    WITH d AS (SELECT doc_id, source, n_chars FROM documents
               WHERE n_chars IS NOT NULL),
    ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY source) AS n_s,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gr
        FROM d
    ),
    tot AS (SELECT COUNT(*) AS n FROM d),
    mapped AS (
        SELECT doc_id, source, n_chars,
               ((2 * r - 1) * t.n + n_s) // (2 * n_s) AS g
        FROM ranked CROSS JOIN tot t
    )
    SELECT m.doc_id, m.source, m.n_chars,
           CAST(lk.n_chars AS BIGINT) AS norm_chars
    FROM mapped m
    JOIN ranked lk ON lk.gr = m.g
    ORDER BY m.doc_id
    """,
)
def source_quantile_normalize(spark, sf_dir):
    """Quantile normalization across sources — the batch-effect
    correction applied before per-source features are comparable: each
    doc's length is replaced by the value at the equivalent rank of
    the GLOBAL length distribution (midpoint rank mapping, all-integer
    DIV, so the mapping hashes identically across engines).

    Shape at scale: the global rank comes from the two-phase
    distributed prefix sum over a composite sortable key (never a
    single-partition window — operators.packing.global_token_offsets);
    per-source ranks are per-source ordered windows; the rank→value
    lookup is a shuffle join on the mapped rank. The oracle computes
    the identical mapping with plain SQL windows."""
    # A NULL length has no rank to normalize: excluded both sides.
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select("doc_id", "source", "n_chars")
    )
    # composite sortable key: unique, orders by (n_chars, doc_id);
    # doc_id stays < 1e7 at every shipped sf — at real scale range-
    # partition on the (n_chars, doc_id) struct instead
    keyed = docs.withColumn(
        "_skey", F.col("n_chars") * 10_000_000 + F.col("doc_id")
    ).withColumn("_one", F.lit(1).cast("long"))
    g_ranked = packing.global_token_offsets(
        keyed, order_col="_skey", ntok_col="_one"
    ).withColumn("gr", (F.col("start") + 1).cast("long"))
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = (
        g_ranked.withColumn("r", F.row_number().over(w_src))
        .withColumn("n_s", F.count("*").over(Window.partitionBy("source")))
    )
    tot = docs.agg(F.count("*").alias("n"))
    mapped = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "g", F.expr("((2 * r - 1) * n + n_s) div (2 * n_s)")
    )
    lookup = g_ranked.select("gr", F.col("n_chars").alias("norm_chars"))
    return (
        mapped.select("doc_id", "source", "n_chars", F.col("g").alias("gr"))
        .join(lookup, "gr")
        .select(
            "doc_id", "source", "n_chars",
            F.col("norm_chars").cast("bigint").alias("norm_chars"),
        )
        .orderBy("doc_id")
    )


@register(
    "source_slot_allocation",
    """
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    t AS (SELECT SUM(n) AS s, COUNT(*) AS n_groups FROM c),
    q AS (
        SELECT source, n,
               n * 1000 // t.s AS base,
               n * 1000 % t.s AS rem
        FROM c CROSS JOIN t
    ),
    r AS (
        SELECT source, n, base, rem,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
               1000 - SUM(base) OVER () AS extra
        FROM q
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
               AS slots
    FROM r ORDER BY source
    """,
)
def source_slot_allocation(spark, sf_dir):
    """Proportional quota allocation by the largest-remainder method:
    1000 sampling slots split across sources exactly proportionally —
    integer floor quotas first, then the leftover slots go to the
    largest remainders (source-name tie-break). Slots always sum to
    exactly 1000, which a rounded float allocation cannot guarantee.
    The per-group frame after the count is tiny (one row per source),
    so the remainder ranking is a driver-scale window; the only
    data-sized work is the map-side-combinable count."""
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("s"))
    q = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n",
        F.expr("n * 1000 div s").alias("base"),
        F.expr("n * 1000 % s").alias("rem"),
    )
    w_rank = Window.orderBy(F.desc("rem"), "source")
    w_all = Window.partitionBy()
    r = q.withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "extra", F.lit(1000) - F.sum("base").over(w_all)
    )
    return r.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        ).cast("bigint").alias("slots"),
    ).orderBy("source")


@register(
    "leakage_safe_split",
    """
    WITH RECURSIVE norm AS (
        SELECT doc_id AS id,
               string_split(regexp_replace(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'),
                            ' ') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT id, unnest(list_transform(
            range(1, greatest(len(toks) - 2, 0) + 1),
            i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM norm
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        WHERE 3 * inter >= sa.sz + sb.sz
    ),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    comps AS (SELECT s AS id, LEAST(s, MIN(d)) AS comp
              FROM reach GROUP BY s),
    labeled AS (
        SELECT d.doc_id AS id, COALESCE(c.comp, d.doc_id) AS comp
        FROM documents d LEFT JOIN comps c ON d.doc_id = c.id
    ),
    b AS (
        SELECT id, comp,
               CAST(('0x' || substr(md5('split' || CAST(comp AS VARCHAR)),
                                    1, 8)) AS BIGINT) % 100 AS bkt
        FROM labeled
    )
    SELECT id, comp,
           CASE WHEN bkt < 10 THEN 'test'
                WHEN bkt < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM b ORDER BY id
    """,
)
def leakage_safe_split(spark, sf_dir):
    """Near-dup-aware train/val/test split: the naive per-doc hash
    split leaks whenever near-duplicates straddle the boundary; here
    every connected near-dup cluster (Jaccard ≥ 0.5 pairs → transitive
    components) collapses to its cluster label and the stable hash
    split keys on that, so a cluster crosses the split as one unit by
    construction (operators.sampling.leakage_safe_split). Singletons
    cost exactly the naive split."""
    from udacity_data_wrangling_osm_case_study_spark.operators import dedup, sampling

    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    # Pair generation via the exact inverted-index pair join.
    pairs = dedup.similarity_pairs(sh, 1, 2).select("id_a", "id_b")
    return sampling.leakage_safe_split(docs, pairs).orderBy("id")


@register(
    "corpus_release_manifest",
    """
    WITH norm AS (
        SELECT doc_id,
               regexp_replace(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS norm
        FROM documents
    ),
    keepers AS (
        SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(norm)
    ),
    toks AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM norm),
    grams AS (
        SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(toks) - 4, 0) + 1),
            i -> md5(array_to_string(toks[i:i+4], ' ')))) AS gram
        FROM toks
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 11 = 0),
    contaminated AS (
        SELECT DISTINCT g.doc_id FROM grams g JOIN bench USING (gram)
        WHERE g.doc_id % 11 <> 0
    ),
    released AS (
        SELECT k.doc_id, len(t.toks) AS n_tokens
        FROM keepers k JOIN toks t USING (doc_id)
        WHERE k.doc_id % 11 <> 0
          AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    labeled AS (
        SELECT doc_id, n_tokens,
               CASE WHEN b < 10 THEN 'test'
                    WHEN b < 20 THEN 'val' ELSE 'train' END AS split
        FROM (SELECT doc_id, n_tokens,
                     CAST(('0x' || substr(md5('split'
                          || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                         % 100 AS b
              FROM released)
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum
    FROM labeled GROUP BY split ORDER BY split
    """,
)
def corpus_release_manifest(spark, sf_dir):
    """The training-corpus RELEASE pipeline end to end, attested as one
    query: exact dedup (content-fingerprint keepers) → benchmark
    decontamination (drop any doc sharing a 5-gram with the held-out
    set, and the benchmark docs themselves) → stable hash split → the
    per-split manifest (doc count, token count, id checksum) a training
    run consumes. Every stage is a registered operator family
    (dedup.exact_duplicate_groups / contamination_report /
    sampling.train_val_test_split); this composition attests they
    compose — the checksums pin the exact released doc SET, not just
    counts. Corpus-side work: one normalize pass feeds fingerprints,
    grams, and token counts; the benchmark gram set broadcasts."""
    from udacity_data_wrangling_osm_case_study_spark.operators import dedup, sampling
    from udacity_data_wrangling_osm_case_study_spark.operators.textstats import tokens

    docs = table(spark, sf_dir, "documents")
    keepers = (
        dedup.exact_duplicate_groups(docs)
        .select(F.col("keeper_id").alias("doc_id"))
    )
    contaminated = dedup.contamination_report(docs).select("doc_id")
    counted = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    released = (
        keepers.filter(F.col("doc_id") % 11 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .join(counted, "doc_id")
    )
    labeled = sampling.train_val_test_split(released, key_col="doc_id")
    return (
        labeled.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("doc_id").cast("long").alias("doc_id_checksum"),
        )
        .orderBy("split")
    )


@register(
    "dsir_importance_weights",
    f"""
    WITH norm AS (SELECT doc_id AS id,
                  string_split({_NORM}, ' ') AS toks FROM documents),
    tok AS (SELECT id, unnest(toks) AS tok FROM norm),
    feat AS (
        SELECT id,
               CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % 1024 AS f
        FROM tok
    ),
    stats AS (
        SELECT f,
               COUNT(*) FILTER (WHERE id % 11 = 0) AS ct,
               COUNT(*) FILTER (WHERE id % 11 <> 0) AS cr
        FROM feat GROUP BY f
    ),
    scored AS (
        SELECT id,
               CAST(SUM(len(CAST(ct + 1 AS VARCHAR))
                        - len(CAST(cr + 1 AS VARCHAR))) AS BIGINT) AS dsir_score,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM feat JOIN stats USING (f)
        WHERE id % 11 <> 0 GROUP BY id
    )
    SELECT id AS doc_id, dsir_score, n_tokens
    FROM scored ORDER BY dsir_score DESC, doc_id LIMIT 100
    """,
)
def dsir_importance_weights(spark, sf_dir):
    """DSIR-style importance resampling weights (Xie et al. 2023): each
    raw-pool document scored by how much more its HASHED unigram
    features look like the target distribution than the raw
    distribution — Σ over token occurrences of
    log p_target(f) − log p_raw(f), on the repo's integer digit-count
    log10 scale (same convention as ``unigram_surprisal``), with the
    eval-set stand-in (doc_id % 11) as the target. Hashing tokens into
    a FIXED 1024-bucket feature space is the DSIR scale trick: the
    per-feature stats table is 1024 rows regardless of corpus size, so
    the scoring join is a broadcast and the whole weighting is one
    corpus scan + one tiny aggregate. Top-100 by (score, id)."""
    from udacity_data_wrangling_osm_case_study_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(dedup.normalize_text(F.col("text")), " ")).alias("tok"),
    )
    feat = tok.select(
        "id",
        (F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long") % 1024)
        .alias("f"),
    )
    stats = feat.groupBy("f").agg(
        F.count_if(F.col("id") % 11 == 0).alias("ct"),
        F.count_if(F.col("id") % 11 != 0).alias("cr"),
    )
    digits = lambda c: F.length((c + 1).cast("string"))  # noqa: E731
    scored = (
        feat.filter(F.col("id") % 11 != 0)
        .join(F.broadcast(stats), "f")
        .groupBy("id")
        .agg(
            F.sum(digits(F.col("ct")) - digits(F.col("cr")))
            .cast("long")
            .alias("dsir_score"),
            F.count("*").cast("long").alias("n_tokens"),
        )
    )
    return (
        scored.select(F.col("id").alias("doc_id"), "dsir_score", "n_tokens")
        .orderBy(F.desc("dsir_score"), "doc_id")
        .limit(100)
    )


@register(
    "weighted_doc_sample",
    """
    WITH w AS (
        SELECT doc_id AS id, n_chars AS weight,
               CAST(('0x' || substr(md5('wsample' || CAST(doc_id AS VARCHAR)),
                                    1, 12)) AS BIGINT) // n_chars AS priority
        FROM documents WHERE n_chars > 0
    )
    SELECT id, CAST(weight AS BIGINT) AS weight,
           CAST(priority AS BIGINT) AS priority
    FROM w ORDER BY priority, id LIMIT 50
    """,
)
def weighted_doc_sample(spark, sf_dir):
    """Deterministic length-weighted sampling without replacement
    (operators.sampling.weighted_bottom_k — the integer A-ES
    bottom-k): keep the 50 documents with the smallest
    ``md5_48(salt||id) div n_chars`` priority, so longer documents are
    proportionally likelier while the draw stays reproducible and
    engine-portable (no RNG state, no float pow). One row-local hash
    + TakeOrderedAndProject — never a global sort; re-salting yields
    independent samples for successive epochs."""
    docs = table(spark, sf_dir, "documents")
    return sampling.weighted_bottom_k(docs, "doc_id", "n_chars", k=50)


@register(
    "negative_sampling_pairs",
    """
    WITH seen AS (
        SELECT DISTINCT o.o_custkey AS custkey, p.p_brand AS brand
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ),
    custs AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
    brands AS (SELECT DISTINCT p_brand AS brand FROM part
               WHERE p_brand IS NOT NULL),
    cand AS (
        SELECT c.custkey, b.brand
        FROM custs c CROSS JOIN brands b
        WHERE NOT EXISTS (
            SELECT 1 FROM seen s
            WHERE s.custkey = c.custkey AND s.brand = b.brand
        )
    ),
    ranked AS (
        SELECT custkey, brand,
               ROW_NUMBER() OVER (
                   PARTITION BY custkey
                   ORDER BY md5('neg' || CAST(custkey AS VARCHAR) || ':' || brand),
                            brand
               ) AS rnk
        FROM cand
    )
    SELECT custkey, brand AS neg_brand, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 2
    ORDER BY custkey, rnk
    """,
)
def negative_sampling_pairs(spark, sf_dir):
    """Deterministic negative sampling — the contrastive-training
    staple: for every customer, 2 pseudo-random brands they have NEVER
    purchased, drawn by salted-hash ranking so every engine (and every
    epoch re-salt) reproduces the same negatives with no RNG state.

    Scale shape: the positive set reduces to DISTINCT (entity, item)
    first; the candidate space is entity x item-VOCABULARY (brands —
    bounded and broadcast), never entity x item-instances; the
    anti-join removes positives; one per-entity hash-ranked window
    picks K. At 100 TB the item vocabulary stays dimension-sized, so
    the only big shuffles are the distinct and the window's hash
    partition — both map-side combinable or key-local. With a vocab
    too big to broadcast, the same plan runs as a shuffle anti-join;
    nothing else changes."""
    ords = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    seen = (
        ords.join(li, ords.o_orderkey == li.l_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("custkey", "brand")
        .distinct()
    )
    custs = ords.select("custkey").distinct()
    # A NULL brand is not a sampleable negative (and NULL order keys
    # sort differently across engines — Spark NULLS FIRST, most SQL
    # engines NULLS LAST — so it could never rank stably anyway).
    brands = part.filter(F.col("brand").isNotNull()).select("brand").distinct()
    cand = custs.crossJoin(F.broadcast(brands)).join(
        seen, ["custkey", "brand"], "left_anti"
    )
    rnk = F.row_number().over(
        Window.partitionBy("custkey").orderBy(
            F.md5(
                F.concat(
                    F.lit("neg"),
                    F.col("custkey").cast("string"),
                    F.lit(":"),
                    F.col("brand"),
                )
            ),
            "brand",
        )
    )
    return (
        cand.select("custkey", F.col("brand").alias("neg_brand"), rnk.alias("rnk"))
        .filter(F.col("rnk") <= 2)
        .orderBy("custkey", "rnk")
    )


@register(
    "feature_hash_crosses",
    """
    WITH crossed AS (
        SELECT event_type || ':' || CAST(date_part('hour', ts) AS VARCHAR)
                   AS cr
        FROM events
    ),
    hashed AS (
        SELECT cr,
               CAST(('0x' || substr(md5('fh' || cr), 1, 8)) AS BIGINT) % 64
                   AS bucket,
               CASE WHEN substr(md5('fh' || cr), 9, 1) BETWEEN '0' AND '7'
                    THEN 1 ELSE -1 END AS sgn
        FROM crossed
    )
    SELECT bucket,
           CAST(SUM(sgn) AS BIGINT) AS feat_val,
           CAST(COUNT(DISTINCT cr) AS BIGINT) AS n_crosses
    FROM hashed GROUP BY bucket ORDER BY bucket
    """,
)
def feature_hash_crosses(spark, sf_dir):
    """The hashing trick (Weinberger et al. 2009) over a categorical
    CROSS feature (event_type x hour-of-day): each cross hashes to one
    of D=64 buckets with a deterministic md5-derived sign, and the
    bucket value is the signed count — unbounded categorical
    vocabularies become a fixed-width vector with no dictionary to
    build, ship, or keep consistent across training runs. The signed
    hash makes collisions cancel in expectation (the property that
    lets D stay small).

    Scale shape: one row-local projection (hash + sign) then one
    64-group map-side-combinable aggregate — the feature vector of a
    100 TB event log costs exactly one scan; no vocabulary shuffle, no
    distinct. ``n_crosses`` per bucket exposes the collision load the
    sign trick is absorbing."""
    ev = table(spark, sf_dir, "events")
    cr = F.concat(
        F.col("event_type"), F.lit(":"), F.hour("ts").cast("string")
    )
    h = F.md5(F.concat(F.lit("fh"), cr))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 64).alias(
        "bucket"
    )
    sgn = F.when(F.substring(h, 9, 1) <= "7", F.lit(1)).otherwise(F.lit(-1))
    return (
        ev.select(cr.alias("cr"), bucket, sgn.alias("sgn"))
        .groupBy("bucket")
        .agg(
            F.sum("sgn").cast("long").alias("feat_val"),
            F.countDistinct("cr").cast("long").alias("n_crosses"),
        )
        .orderBy("bucket")
    )


@register(
    "l_diversity_report",
    """
    WITH labeled AS (
        SELECT c_mktsegment AS segment, c_nationkey AS nationkey,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
        FROM customer
    )
    SELECT segment, nationkey,
           CAST(COUNT(*) AS BIGINT) AS k_count,
           CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS l_distinct
    FROM labeled
    GROUP BY segment, nationkey
    ORDER BY segment, nationkey
    """,
)
def l_diversity_report(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al. 2007) — the privacy
    check one notch past k-anonymity (``k_anonymity_audit``): within
    every quasi-identifier group (segment, nation), how many DISTINCT
    sensitive values (account-balance band) appear. A group can be
    k-anonymous yet leak everything if all k members share one
    sensitive value; l_distinct is that leak's measure, and release
    tooling gates on min(l). Banding uses FLOOR division so negative
    balances band consistently in both engines.

    One groupBy over the quasi-identifier with a count + distinct-count
    — at 100 TB, the same two map-side-combinable aggregates as any
    profile query (countDistinct expands to a two-stage exact distinct
    under AQE; a sketch swap is one line if approximate l suffices)."""
    cust = table(spark, sf_dir, "customer")
    return (
        cust.select(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nationkey"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .groupBy("segment", "nationkey")
        .agg(
            F.count("*").cast("long").alias("k_count"),
            F.countDistinct("bal_band").cast("long").alias("l_distinct"),
        )
        .orderBy("segment", "nationkey")
    )


@register(
    "t_closeness_report",
    """
    WITH labeled AS (
        SELECT c_mktsegment AS segment, c_nationkey AS nationkey,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
        FROM customer
        WHERE c_acctbal IS NOT NULL
    ),
    gdist AS (SELECT bal_band, COUNT(*) AS q FROM labeled GROUP BY bal_band),
    tot AS (
        SELECT COUNT(*) AS n, COUNT(DISTINCT bal_band) AS m FROM labeled
    ),
    grp AS (
        SELECT segment, nationkey, bal_band, COUNT(*) AS c
        FROM labeled GROUP BY segment, nationkey, bal_band
    ),
    gtot AS (
        SELECT segment, nationkey, COUNT(*) AS n_g
        FROM labeled GROUP BY segment, nationkey
    ),
    grid AS (
        SELECT gt.segment, gt.nationkey, g.bal_band, g.q, gt.n_g,
               COALESCE(gr.c, 0) AS c
        FROM gtot gt CROSS JOIN gdist g
        LEFT JOIN grp gr ON gr.segment IS NOT DISTINCT FROM gt.segment
             AND gr.nationkey = gt.nationkey AND gr.bal_band = g.bal_band
    ),
    cum AS (
        SELECT segment, nationkey, n_g,
               SUM(c * (SELECT n FROM tot) - q * n_g)
                 OVER (PARTITION BY segment, nationkey
                       ORDER BY bal_band) AS cumd
        FROM grid
    ),
    s AS (
        SELECT segment, nationkey, n_g, SUM(ABS(cumd)) AS sabs
        FROM cum GROUP BY segment, nationkey, n_g
    )
    SELECT segment, nationkey,
           CAST(n_g AS BIGINT) AS k_count,
           CAST(sabs * 1000 // (n_g * (SELECT n FROM tot)
                * GREATEST((SELECT m FROM tot) - 1, 1)) AS BIGINT) AS emd_pm
    FROM s ORDER BY segment, nationkey
    """,
)
def t_closeness_report(spark, sf_dir):
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third rung of the release-privacy ladder after
    ``k_anonymity_audit`` and ``l_diversity_report``: a group can be
    k-anonymous AND l-diverse yet still leak (all its balance bands
    clustered at the top of the range), so t-closeness bounds the
    EARTH MOVER'S DISTANCE between each quasi-identifier group's
    sensitive-value distribution and the global one. For an ordered
    attribute with m equally-spaced values, EMD reduces to the mean
    |cumulative-difference|: Σᵢ|Cᵢ| / (n_g·n·(m−1)) with
    Cᵢ = Σ_{j≤i} (c_j·n − q_j·n_g) — all-integer fixed point
    (permille), so the report is bit-identical across engines (no
    float division anywhere).

    Scale shape: the global band distribution collapses to ONE row of
    parallel arrays (bands, counts — m is small by construction for a
    banded sensitive attribute) broadcast onto the per-group
    aggregates; the cumulative fold then runs ROW-LOCALLY as one
    higher-order ``aggregate`` per group — no per-band shuffle, no
    group×band grid frame ever materializes on the Spark side (the
    oracle builds the naive grid + window cumsum — a cross-algorithm
    equivalence attestation)."""
    cust = table(spark, sf_dir, "customer")
    # A NULL sensitive value cannot leak and cannot be a map key
    # (NULL_MAP_KEY): excluded from the distribution on both sides.
    labeled = cust.filter(F.col("c_acctbal").isNotNull()).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    glob = (
        labeled.groupBy("bal_band")
        .agg(F.count("*").alias("q"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("bal_band", "q"))
            ).alias("dist"),
            F.sum("q").alias("n"),
            F.count("*").alias("m"),
        )
    )
    # per-group band counts as a map for row-local lookup
    grp = (
        labeled.groupBy("segment", "nationkey", "bal_band")
        .agg(F.count("*").alias("c"))
        .groupBy("segment", "nationkey")
        .agg(
            F.sum("c").alias("n_g"),
            F.map_from_entries(
                F.collect_list(F.struct("bal_band", "c"))
            ).alias("cm"),
        )
    )
    folded = grp.crossJoin(F.broadcast(glob)).select(
        "segment",
        "nationkey",
        F.col("n_g").cast("long").alias("k_count"),
        F.aggregate(
            F.transform(
                "dist",
                lambda x: F.coalesce(
                    F.element_at("cm", x["bal_band"]), F.lit(0)
                )
                * F.col("n")
                - x["q"] * F.col("n_g"),
            ),
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(0).cast("long").alias("s"),
            ),
            lambda acc, d: F.struct(
                (acc["cum"] + d).alias("cum"),
                (acc["s"] + F.abs(acc["cum"] + d)).alias("s"),
            ),
            lambda acc: acc["s"],
        ).alias("sabs"),
        F.col("n_g"),
        F.col("n"),
        F.col("m"),
    )
    return folded.select(
        "segment",
        "nationkey",
        "k_count",
        F.expr("sabs * 1000 DIV (n_g * n * greatest(m - 1, 1L))")
        .cast("long")
        .alias("emd_pm"),
    ).orderBy("segment", "nationkey")


def _aes_oracle() -> str:
    # The oracle embeds the SAME 256-entry micro-nat table the operator
    # uses (imported, not copied), so the two cannot drift.
    from udacity_data_wrangling_osm_case_study_spark.operators.sampling import (
        _LN2_MICRO,
        _LN_TABLE,
    )

    tbl = ", ".join(str(v) for v in _LN_TABLE)
    return f"""
    WITH base AS (
        SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS weight,
               GREATEST(CAST(('0x' || substr(md5('aes'
                   || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT), 1) AS h
        FROM documents WHERE n_chars > 0
    ),
    m AS (SELECT id, weight, h, length(bin(h)) AS n FROM base),
    p AS (
        SELECT id, weight,
               CAST(48 * {_LN2_MICRO} AS BIGINT)
               - (CAST(n - 1 AS BIGINT) * {_LN2_MICRO}
                  + [{tbl}][CAST(FLOOR(CAST(h AS DOUBLE)
                        * POWER(2, 9 - n)) AS INT) - 255]) AS negln_micro
        FROM m
    )
    SELECT id, weight, negln_micro
    FROM p
    ORDER BY CAST(negln_micro AS DOUBLE) / CAST(weight AS DOUBLE), id
    LIMIT 50
    """


@register("weighted_doc_sample_aes", _aes_oracle())
def weighted_doc_sample_aes(spark, sf_dir):
    """PROPORTIONAL weighted corpus sample — true A-ES bottom-k
    (smallest -ln(u)/w ≡ largest u^(1/w)), the calibrated companion to
    ``weighted_doc_sample``'s integer shortcut: pairwise selection odds
    are w_i/(w_i+w_j), so token-weighted subcorpora stay unbiased.
    -ln(u) is the exact-integer micro-nat approximation
    (operators.sampling.negln_micro_48 — binary-string bit-length + a
    256-int table, no libm); the only float op is one IEEE division of
    two exact integers, identical in every engine. The oracle replays
    the same fixed-point pipeline from the same imported table."""
    docs = table(spark, sf_dir, "documents")
    return sampling.weighted_bottom_k_aes(docs, "doc_id", "n_chars", k=50)


# Poisson(1) inverse-CDF thresholds on 48-bit hash units: weight k is
# drawn when u48 < _POIS48[k] first fires (else 8). floor(cumP(k)·2^48)
# for k = 0..7 — hardcoded so the Spark and DuckDB expressions are
# literal-identical.
_POIS48 = (
    103548857136060,
    207097714272121,
    258872142840152,
    276130285696162,
    280444821410164,
    281307728552965,
    281451546410098,
    281472091818260,
)

_POIS_SQL_CASE = "CASE " + " ".join(
    f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS48)
) + " ELSE 8 END"


@register(
    "bootstrap_mean_ci",
    f"""
    WITH base AS (
        SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'click'
    ),
    drawn AS (
        SELECT r.b, base.v,
               CAST(('0x' || substr(md5('boot:' || CAST(r.b AS VARCHAR)
                       || ':' || CAST(event_id AS VARCHAR)), 1, 12))
                    AS BIGINT) AS u
        FROM base, LATERAL unnest(range(1, 201)) r(b)
    ),
    w AS (SELECT b, v, {_POIS_SQL_CASE} AS w FROM drawn),
    rep AS (SELECT b, SUM(w * v) AS swv, SUM(w) AS sw
            FROM w GROUP BY b HAVING SUM(w) > 0),
    means AS (SELECT b, ROUND(CAST(swv AS DOUBLE) / sw, 4) AS m FROM rep),
    ranked AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn
               FROM means),
    tot AS (SELECT COUNT(*) AS n, SUM(v) AS sv FROM base)
    SELECT CAST(n AS BIGINT) AS n,
           CAST((SELECT COUNT(*) FROM means) AS BIGINT) AS n_replicates,
           CAST(ROUND(CAST(sv AS DOUBLE) / n, 4) AS DOUBLE) AS mean_cents,
           (SELECT m FROM ranked WHERE rn = 5) AS ci_lo_cents,
           (SELECT m FROM ranked WHERE rn = 196) AS ci_hi_cents
    FROM tot
    """,
)
def bootstrap_mean_ci(spark, sf_dir):
    """Percentile-bootstrap 95% CI for the mean click value via the
    POISSON bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    for massive data streams" — the resampling scheme built for
    map-reduce): instead of drawing n indices per replicate (which
    needs a global row index and a shuffle per replicate), each row
    independently draws its multiplicity in replicate b as a
    Poisson(1) variate. Sum of per-row Poisson(1) counts = Poisson(n)
    ≈ the multinomial bootstrap for large n, and the draw is row-LOCAL:
    one md5 per (row, replicate), no coordination, so the 200-replicate
    resample is a single map + one groupBy(replicate) over n·B rows.
    The "randomness" is the salted-hash house standard (md5 48-bit
    units vs hardcoded inverse-CDF thresholds — engine-portable, no RNG
    state); replicate means are rounded 4 dp (one IEEE division of two
    exact BIGINTs) before the order-statistic pick, so both engines
    sort identical doubles. The 200-row replicate frame collapses to
    order statistics with one sort_array(collect_list()) — row-local,
    no global-rank window, no crossJoin."""
    ev = table(spark, sf_dir, "events")
    # fan_out_scan (round 13): the 200-way replicate explode + one md5
    # per (row, replicate) is the heaviest row-local stage in the
    # registry, and it sits directly on a single-split scan — measured
    # 4.1 s → 0.6 s at sf0.1 once the projected 2-column frame is
    # round-robined across the cluster before the explode (guide §2.5;
    # no-op when the scan itself supplies parallelism).
    base = fan_out_scan(
        ev.filter(F.col("event_type") == "click").select(
            "event_id", F.round(F.col("value") * 100).cast("long").alias("v")
        ),
        spark,
    )
    drawn = base.select(
        "v",
        F.explode(F.sequence(F.lit(1), F.lit(200))).alias("b"),
        F.col("event_id"),
    ).select(
        "b",
        "v",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("u"),
    )
    w = F.when(F.col("u") < _POIS48[0], 0)
    for k, t in enumerate(_POIS48[1:], start=1):
        w = w.when(F.col("u") < t, k)
    w = w.otherwise(8)
    rep = (
        drawn.select("b", "v", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("v")).alias("swv"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
    )
    means = rep.select(
        "b",
        F.round(F.col("swv").cast("double") / F.col("sw"), 4).alias("m"),
    )
    stats = means.agg(
        F.sort_array(F.collect_list(F.struct("m", "b"))).alias("ms"),
        F.count("*").alias("n_replicates"),
    ).select(
        "n_replicates",
        # try_element_at: with a degenerate sample (<196 surviving
        # replicates, or none at all) the order statistic is NULL,
        # matching the oracle's empty scalar subselect.
        F.try_element_at("ms", F.lit(5))["m"].alias("ci_lo_cents"),
        F.try_element_at("ms", F.lit(196))["m"].alias("ci_hi_cents"),
    )
    tot = base.agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
    return tot.crossJoin(F.broadcast(stats)).select(
        F.col("n").cast("long").alias("n"),
        F.col("n_replicates").cast("long").alias("n_replicates"),
        F.round(F.col("sv").cast("double") / F.col("n"), 4).alias(
            "mean_cents"
        ),
        "ci_lo_cents",
        "ci_hi_cents",
    )


def _dp_counts_oracle() -> str:
    # Embeds the same imported micro-nat ln table as the A-ES oracle so
    # the noise draws cannot drift between engines.
    from udacity_data_wrangling_osm_case_study_spark.operators.sampling import (
        _LN2_MICRO,
        _LN_TABLE,
    )

    tbl = ", ".join(str(v) for v in _LN_TABLE)
    negln = (
        "CAST(48 * {c} AS BIGINT) - (CAST(length(bin(GREATEST({h}, 1))) - 1 "
        "AS BIGINT) * {c} + [{t}][CAST(FLOOR(CAST(GREATEST({h}, 1) AS DOUBLE)"
        " * POWER(2, 9 - length(bin(GREATEST({h}, 1))))) AS INT) - 255])"
    )
    u = (
        "CAST(('0x' || substr(md5('{salt}:' || event_type), 1, 12)) "
        "AS BIGINT)"
    )
    g1 = negln.format(c=_LN2_MICRO, t=tbl, h=u.format(salt="dp1"))
    g2 = negln.format(c=_LN2_MICRO, t=tbl, h=u.format(salt="dp2"))
    return f"""
    WITH c AS (SELECT event_type, COUNT(*) AS n FROM events
               GROUP BY event_type),
    noised AS (
        SELECT event_type, n,
               ({g1}) // 1000000 - ({g2}) // 1000000 AS noise
        FROM c
    )
    SELECT event_type, CAST(n + noise AS BIGINT) AS noisy_count,
           CAST(noise AS BIGINT) AS noise
    FROM noised ORDER BY event_type
    """


@register("dp_event_type_counts", _dp_counts_oracle())
def dp_event_type_counts(spark, sf_dir):
    """ε=1 differentially-private event-type counts via the GEOMETRIC
    MECHANISM (Ghosh-Roughgarden-Sundararajan 2009 — the discrete,
    utility-optimal Laplace): noise = G₁ − G₂ where each Gᵢ =
    ⌊Exp(1)⌋ is geometric, and the exponential draws come from the
    engine's integer −ln over salted 48-bit hashes
    (operators.sampling.negln_micro_48) — the release is reproducible
    and engine-portable with no RNG state, completing the privacy
    ladder (k-anonymity → l-diversity → t-closeness → an actual DP
    release mechanism). All the distributed work is the one exact
    count aggregation; the noise attaches to the |types|-row frame
    map-locally. The raw ``noise`` column is exposed here because the
    driver attests determinism — a production release publishes
    ``noisy_count`` only. NOTE on the privacy accounting: a
    hash-seeded draw is pseudo-random, not random — real deployments
    must key the salt from a secret; the mechanism and its integer
    pipeline are what this operator demonstrates."""
    from udacity_data_wrangling_osm_case_study_spark.operators.sampling import (
        negln_micro_48,
    )

    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").alias("n"))

    def geom(salt: str):
        u = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col("event_type"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        # positive operands: double divide + floor == integer division,
        # and both micro-nat values are exact ints < 2^53
        return F.floor(negln_micro_48(u) / F.lit(1_000_000)).cast("long")

    noise = geom("dp1") - geom("dp2")
    return (
        c.select(
            "event_type",
            (F.col("n") + noise).cast("long").alias("noisy_count"),
            noise.cast("long").alias("noise"),
        )
        .orderBy("event_type")
    )

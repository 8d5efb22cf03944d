"""Deduplication queries (scale extensions, BASELINE.json north star).

Each query drives the library operators in ``operators.dedup``; the
oracle SQL reimplements the same semantics independently in DuckDB
(md5-hex minhashes make the fuzzy pipelines engine-portable and
deterministic). Cosines are exposed as basis points (int) so value
hashes never ride on float formatting.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import dedup
from udacity_data_wrangling_osm_case_study_spark.plans.registry import (
    TEXT_NORM,
    ensure_index,
    register,
    table,
)

_TOKS = f"string_split({TEXT_NORM}, ' ')"

# Shared CTE: distinct word 3-gram shingles per doc (DuckDB side).
_SHINGLES_CTE = f"""
    norm AS (SELECT doc_id AS id, {_TOKS} AS toks FROM documents),
    sh AS (
        SELECT DISTINCT id, unnest(list_transform(
            range(1, greatest(len(toks) - 2, 0) + 1),
            i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM norm
    )
"""


@register(
    "exact_dedup_prefix_groups",
    f"""
    WITH fp AS (
        SELECT doc_id AS id,
               md5(array_to_string(({_TOKS})[1:5], ' ')) AS fp
        FROM documents
    )
    SELECT fp, MIN(id) AS keeper_id, COUNT(*) AS group_size
    FROM fp GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp
    """,
)
def exact_dedup_prefix_groups(spark, sf_dir):
    """Exact (hash-groupBy) dedup on the 5-token content prefix —
    groups sharing a prefix with keeper id. One shuffle on a 16-byte
    key regardless of corpus size."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(dedup.normalize_text(F.col("text")), " ")
    fp = F.md5(F.array_join(F.slice(toks, 1, 5), " "))
    return (
        docs.select(F.col("doc_id").alias("id"), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("keeper_id"), F.count("*").alias("group_size"))
        .filter(F.col("group_size") > 1)
        .orderBy("fp")
    )


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(sa.sz AS BIGINT) AS size_a,
           CAST(sb.sz AS BIGINT) AS size_b,
           CAST(inter * 10000 // (sa.sz + sb.sz - inter) AS BIGINT) AS jaccard_bp
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE 3 * inter >= sa.sz + sb.sz
    ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (J ≥ 1/2, integer
    cross-multiplied) via the exact inverted-index pair join
    (operators.dedup.similarity_pairs), the same join the oracle
    runs; ``prefix_filter_jaccard_pairs`` is the cross-algorithm
    match. The shingle frame feeds several plan branches; cache it so
    the explode runs once."""
    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    return dedup.similarity_pairs(sh, 1, 2).orderBy("id_a", "id_b")


@register(
    "minhash_lsh_dupes",
    f"""
    WITH {_SHINGLES_CTE},
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
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
    FROM inter i
    JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE ROUND(i.inter / (sa.sz + sb.sz - i.inter), 6) >= 0.5
    ORDER BY i.id_a, i.id_b
    """,
)
def minhash_lsh_dupes(spark, sf_dir):
    """MinHash(8) + LSH(4 bands × 2 rows) candidate generation, then
    exact-Jaccard verification restricted to candidate docs — the
    sub-quadratic fuzzy-dedup path. Shingles and bands are cached:
    shingles feed multiple plan branches, and bands feeds both sides of
    the bucket self-join (differing projections defeat ReusedExchange,
    so uncached the minhash aggregation would run twice)."""
    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    bands = dedup.lsh_bands(sigs, rows_per_band=2).cache()
    cand = dedup.lsh_candidate_pairs(bands)
    verified = dedup.jaccard_pairs(sh, candidates=cand, min_jaccard=0.5)
    return verified.select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b")


# Shared CTE chain: 64-bit SimHash fingerprint per doc (DuckDB side).
# Bit b (0-based, MSB-first) lives in md5-hex digit b//4 with weight
# 2^(3 - b%4) — identical to operators.dedup.simhash64. The vote chain
# (tok frame → fingerprint) is tokenizer-agnostic and shared with the
# media/byte-gram fingerprints in plans.similarity_queries.
SIMHASH_VOTES_CTE = """
    h AS (SELECT id, md5(tok) AS h FROM toks),
    pos AS (SELECT id, CAST(b AS INT) AS b,
                   substr(h, CAST(b // 4 AS INT) + 1, 1) AS c
            FROM h, range(0, 64) t(b)),
    votes AS (
        SELECT id, b,
               CASE WHEN (((CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87
                            ELSE ascii(c) - 48 END)
                           >> (3 - (b % 4))) & 1) = 1
                    THEN 1 ELSE -1 END AS v
        FROM pos
    ),
    bits AS (SELECT id, b, CASE WHEN SUM(v) > 0 THEN '1' ELSE '0' END AS bt
             FROM votes GROUP BY id, b),
    fp AS (SELECT id, string_agg(bt, '' ORDER BY b) AS simhash
           FROM bits GROUP BY id)
"""

_SIMHASH64_CTE = f"""
    toks AS (SELECT doc_id AS id, unnest({_TOKS}) AS tok FROM documents),
{SIMHASH_VOTES_CTE}"""


@register(
    "simhash_clusters",
    f"""
    WITH {_SIMHASH64_CTE}
    SELECT simhash, COUNT(*) AS n_docs, MIN(id) AS first_doc
    FROM fp GROUP BY simhash HAVING COUNT(*) > 1 ORDER BY simhash
    """,
)
def simhash_clusters(spark, sf_dir):
    """SimHash(64-bit) fingerprint clustering: docs sharing an exact
    fingerprint (bit-majority over token md5 bits). 64 bits keeps the
    bucket space (2^64) far above any corpus size, so an equal
    fingerprint means near-identical token distributions, not a hash
    collision; near-(not exact-)duplicates are found by the banded
    Hamming search in ``simhash_near_pairs``."""
    docs = table(spark, sf_dir, "documents")
    fp = dedup.simhash64(docs)
    return (
        fp.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("first_doc"))
        .filter(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


@register(
    "simhash_near_pairs",
    f"""
    WITH {_SIMHASH64_CTE},
    bands AS (SELECT id, CAST(b AS INT) AS band,
                     substr(simhash, CAST(b AS INT) * 16 + 1, 16) AS band_key
              FROM fp, range(0, 4) t(b)),
    cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
             FROM bands l JOIN bands r USING (band, band_key)
             WHERE l.id < r.id),
    scored AS (
        SELECT c.id_a, c.id_b,
               len(list_filter(range(1, 65),
                   i -> substr(fa.simhash, CAST(i AS INT), 1)
                        <> substr(fb.simhash, CAST(i AS INT), 1))) AS hamming
        FROM cand c
        JOIN fp fa ON c.id_a = fa.id
        JOIN fp fb ON c.id_b = fb.id
    )
    SELECT id_a, id_b, hamming FROM scored
    WHERE hamming <= 3 ORDER BY id_a, id_b
    """,
)
def simhash_near_pairs(spark, sf_dir):
    """Banded Hamming search over 64-bit SimHash fingerprints: pairs
    within Hamming distance 3. Four 16-bit bands → any pair at distance
    < 4 shares a band (pigeonhole), so candidates come from four
    bounded-key bucket joins — never an all-pairs scan — and only the
    candidate set pays the exact 64-position Hamming verify."""
    docs = table(spark, sf_dir, "documents")
    fp = dedup.simhash64(docs)
    return (
        dedup.simhash_near_pairs(fp, n_bands=4, max_hamming=3)
        .select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


@register(
    "embedding_near_dupes",
    """
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (SELECT vec_id, label,
                 list_transform(v, x -> COALESCE(
                     x / NULLIF(sqrt(list_dot_product(v, v)), 0), 0)) AS u
          FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(ROUND(list_dot_product(a.u, b.u) * 10000) AS BIGINT) AS cosine_bp
    FROM n a JOIN n b ON a.label IS NOT DISTINCT FROM b.label AND a.vec_id < b.vec_id
    WHERE CAST(ROUND(list_dot_product(a.u, b.u) * 10000) AS BIGINT) >= 4000
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dupes(spark, sf_dir):
    """Embedding-cosine near-dup pairs, label-blocked (at scale the
    block key is an LSH bucket / coarse-quantizer cell so the self-join
    never goes quadratic). Vectors are unit-normalized AND MATERIALIZED
    before the self-join (operators.dedup.normalized_vectors) — left
    lazy, Catalyst would inline the normalization above the join and
    re-run the O(d) folds per pair (measured 2.8× slower). Per pair
    only the sequential-fold dot product remains; its addition order
    matches DuckDB's list_dot_product, so the IEEE op sequence stays
    identical. This is the strict-oracle expression path —
    embedding_near_dupes_arrow is the production path at 100 TB."""
    emb = table(spark, sf_dir, "embeddings")
    base = dedup.normalized_vectors(emb)
    a = base.select(F.col("id").alias("id_a"), F.col("u").alias("ua"), "blk")
    b = base.select(F.col("id").alias("id_b"), F.col("u").alias("ub"), "blk")
    dot = F.aggregate(
        F.zip_with(F.col("ua"), F.col("ub"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bp = F.round(dot * 10000).cast("bigint")
    # Null-safe block join: a missing label is still a block (matches
    # the Arrow path's groupBy and the oracle's IS NOT DISTINCT FROM)
    return (
        a.join(b, a["blk"].eqNullSafe(b["blk"]))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_bp", bp)
        .filter(F.col("cosine_bp") >= 4000)
        .select("id_a", "id_b", "cosine_bp")
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
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
    )
    SELECT s AS id, LEAST(s, MIN(d)) AS comp
    FROM reach GROUP BY s ORDER BY id
    """,
)
def dedup_clusters(spark, sf_dir):
    """Near-dup pairs → transitive clusters via iterative min-label
    propagation (each cluster labeled by its minimum doc id — the
    keeper). Pair generation goes through the exact inverted-index
    pair join (similarity_pairs). Oracle: recursive-CTE transitive
    closure over the same inverted-index pairs."""
    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    pairs = dedup.similarity_pairs(sh, 1, 2).select("id_a", "id_b")
    return dedup.connected_components(pairs).orderBy("id")


@register(
    "benchmark_contamination",
    f"""
    WITH norm AS (SELECT doc_id AS id, {_TOKS} AS toks FROM documents),
    sh AS (
        SELECT DISTINCT id, unnest(list_transform(
            range(1, greatest(len(toks) - 4, 0) + 1),
            i -> md5(array_to_string(toks[i:i+4], ' ')))) AS gram
        FROM norm
    ),
    bench AS (SELECT id AS bench_id, gram FROM sh WHERE id % 11 = 0),
    corpus AS (SELECT id, gram FROM sh WHERE id % 11 <> 0)
    SELECT corpus.id AS doc_id,
           COUNT(DISTINCT corpus.gram) AS n_shared_grams,
           COUNT(DISTINCT bench_id) AS n_benchmark_docs
    FROM corpus JOIN bench USING (gram)
    GROUP BY corpus.id ORDER BY doc_id
    """,
)
def benchmark_contamination(spark, sf_dir):
    """Decontamination: corpus docs sharing any word 5-gram with the
    held-out benchmark set (id % 11 == 0 stands in for the eval set).
    Grams are md5-hashed (fixed 16-byte join key); the benchmark side
    broadcasts, so the corpus-side probe is shuffle-free."""
    return (
        dedup.contamination_report(table(spark, sf_dir, "documents"))
        .orderBy("doc_id")
    )


@register(
    "dedup_survivors",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
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
    comp AS (SELECT s AS id, LEAST(s, MIN(d)) AS comp FROM reach GROUP BY s),
    sized AS (
        SELECT c.id, c.comp, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.id
    ),
    ranked AS (
        SELECT id, comp, n_chars,
               ROW_NUMBER() OVER (PARTITION BY comp
                                  ORDER BY n_chars DESC, id) AS rn
        FROM sized
    )
    SELECT comp, COUNT(*) AS n_docs,
           MAX(CASE WHEN rn = 1 THEN id END) AS keeper_id,
           MAX(CASE WHEN rn = 1 THEN n_chars END) AS keeper_chars
    FROM ranked GROUP BY comp ORDER BY comp
    """,
    scan_budget=2,  # connected-components label propagation loop
)
def dedup_survivors(spark, sf_dir):
    """Cluster-representative selection — the decision step a dedup
    pipeline runs AFTER clustering: per near-dup cluster keep the
    longest document (ties → smallest id), report cluster size and the
    keeper. Window rank inside the cluster partition + conditional
    aggregate; the only shuffle beyond clustering is one on the
    cluster label."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    pairs = dedup.similarity_pairs(sh, 1, 2).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    sized = comp.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    rn = F.row_number().over(
        Window.partitionBy("comp").orderBy(F.desc("n_chars"), "id")
    )
    ranked = sized.withColumn("rn", rn)
    return (
        ranked.groupBy("comp")
        .agg(
            F.count("*").alias("n_docs"),
            F.max(F.when(F.col("rn") == 1, F.col("id"))).alias("keeper_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias(
                "keeper_chars"
            ),
        )
        .orderBy("comp")
    )


def ensure_dedup_index(spark, sf_dir: str) -> str:
    """The persisted near-dup index over the corpus partition
    (doc_id % 5 != 0), built or rebuilt by ``registry.ensure_index``."""
    return ensure_index(
        spark,
        sf_dir,
        "spark_graft_dedup_index",
        "documents",
        lambda docs, index_dir: dedup.build_dedup_index(
            docs.filter(F.col("doc_id") % 5 != 0), index_dir
        ),
        dedup.INDEX_CONFIG,
    )


@register(
    "incremental_dedup",
    f"""
    WITH {_SHINGLES_CTE},
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
        SELECT DISTINCT n.id AS new_id, c.id AS index_id
        FROM bands n
        JOIN bands c ON n.band = c.band AND n.band_key = c.band_key
        WHERE n.id % 5 = 0 AND c.id % 5 <> 0
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS new_id, b.id AS index_id, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle
        WHERE a.id % 5 = 0 AND b.id % 5 <> 0
        GROUP BY a.id, b.id
    )
    SELECT i.new_id, i.index_id,
           ROUND(i.inter / (sn.sz + si.sz - i.inter), 6) AS jaccard
    FROM inter i
    JOIN cand c ON c.new_id = i.new_id AND c.index_id = i.index_id
    JOIN sizes sn ON sn.id = i.new_id
    JOIN sizes si ON si.id = i.index_id
    WHERE ROUND(i.inter / (sn.sz + si.sz - i.inter), 6) >= 0.5
    ORDER BY i.new_id, i.index_id
    """,
)
def incremental_dedup(spark, sf_dir):
    """Incremental ingest dedup: the batch (doc_id % 5 == 0) probes the
    PERSISTED corpus index (operators.dedup.build_dedup_index) — LSH
    bucket join for candidates, posting-restricted exact-Jaccard
    verify. The corpus is never re-shingled at probe time; at 100 TB
    that's the difference between an ingest job sized by the batch and
    one sized by the corpus."""
    index_dir = ensure_dedup_index(spark, sf_dir)
    new_docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return dedup.incremental_near_dupes(new_docs, index_dir).orderBy(
        "new_id", "index_id"
    )


@register(
    "embedding_near_dupes_arrow",
    """
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (SELECT vec_id, label,
                 list_transform(v, x -> COALESCE(
                     x / NULLIF(sqrt(list_dot_product(v, v)), 0), 0)) AS u
          FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(ROUND(list_dot_product(a.u, b.u) * 10000) AS BIGINT) AS cosine_bp
    FROM n a JOIN n b ON a.label IS NOT DISTINCT FROM b.label AND a.vec_id < b.vec_id
    WHERE CAST(ROUND(list_dot_product(a.u, b.u) * 10000) AS BIGINT) >= 4000
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dupes_arrow(spark, sf_dir):
    """The BLAS scale path for embedding near-dup: per block one Arrow
    batch, one numpy U@U.T matmul for the whole pair grid. Same oracle
    as the expression path (bp-rounding absorbs summation-order ulps on
    this data; parity-tested against the expression variant)."""
    return (
        dedup.embedding_near_duplicates_arrow(table(spark, sf_dir, "embeddings"))
        .orderBy("id_a", "id_b")
    )


@register(
    "chunk_dedup_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    chunks AS (
        SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(toks), 1) + 1, 20),
            s -> struct_pack(
                idx := (s - 1) // 20,
                txt := array_to_string(toks[s:least(s + 19, len(toks))], ' ')
            ))) AS c
        FROM t
    ),
    e AS (
        SELECT doc_id, c.idx AS idx, c.txt AS txt, md5(c.txt) AS h,
               lpad(CAST(doc_id AS VARCHAR), 19, '0') || ':'
                   || lpad(CAST(c.idx AS VARCHAR), 10, '0') AS enc
        FROM chunks
    ),
    k AS (SELECT h, MIN(enc) AS keeper FROM e GROUP BY h),
    f AS (SELECT e.*, (e.enc = k.keeper) AS kept FROM e JOIN k USING (h))
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           md5(coalesce(
               string_agg(CASE WHEN kept THEN txt END, ' ' ORDER BY idx),
               '')) AS clean_hash
    FROM f GROUP BY doc_id ORDER BY doc_id
    """,
)
def chunk_dedup_docs(spark, sf_dir):
    """Segment-level exact dedup with reassembly (the line/paragraph
    dedup of CCNet/RefinedWeb-style web pipelines, on 20-token disjoint
    segments): repeated boilerplate survives only in its first carrier
    doc; each doc is re-fingerprinted from its surviving segments in
    order. Two shuffles total (segment hash, then doc id)."""
    return dedup.segment_dedup(table(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "source_overlap_matrix",
    f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    seg AS (
        SELECT source, unnest(list_transform(
            range(1, greatest(len(toks), 1) + 1, 20),
            s -> md5(array_to_string(toks[s:least(s + 19, len(toks))], ' '))
        )) AS h
        FROM t
    ),
    d AS (SELECT DISTINCT source, h FROM seg)
    SELECT a.source AS src_a, b.source AS src_b,
           COUNT(*) AS shared_segments
    FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source ORDER BY src_a, src_b
    """,
)
def source_overlap_matrix(spark, sf_dir):
    """Cross-source content overlap: for each source pair, how many
    distinct 20-token segments both carry — the curation diagnostic
    that decides which sources must be deduped against each other
    (whole-doc hashes miss partial boilerplate reuse; segments catch
    it). Scale: segmentation is row-local; distinct (source, hash)
    bounds the join input by content volume, and a hash's fan-out is
    bounded by the number of sources, so the self-join on the 16-byte
    key never goes quadratic in docs."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    seg = (
        dedup.doc_segments(docs)
        .select("source", "seg_hash")
        .distinct()
    )
    a, b = seg.alias("a"), seg.alias("b")
    return (
        a.join(
            b,
            (F.col("a.seg_hash") == F.col("b.seg_hash"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("shared_segments"))
        .orderBy("src_a", "src_b")
    )


@register(
    "duplicated_span_share",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(toks) - 4, 0) + 1),
            s -> struct_pack(
                start := s,
                gh := md5(array_to_string(toks[s:s + 4], ' '))
            ))) AS c
        FROM t
    ),
    e AS (SELECT doc_id, c.start AS start, c.gh AS gh FROM g),
    dg AS (SELECT DISTINCT doc_id, gh FROM e),
    dup AS (SELECT gh FROM dg GROUP BY gh HAVING COUNT(*) >= 2),
    ds AS (SELECT DISTINCT doc_id, start FROM e JOIN dup USING (gh)),
    s AS (SELECT doc_id, list_sort(list(start)) AS spans FROM ds GROUP BY doc_id),
    cov AS (
        SELECT doc_id,
               CAST(coalesce(list_sum(list_transform(
                   range(1, len(spans)),
                   i -> least(5, spans[i + 1] - spans[i]))), 0) + 5 AS BIGINT)
                   AS covered
        FROM s
    ),
    nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
    SELECT nt.doc_id AS doc_id, n_tokens,
           CAST(coalesce(covered, 0) * 10000 // n_tokens AS BIGINT) AS dup_span_bp
    FROM nt LEFT JOIN cov USING (doc_id) ORDER BY doc_id
    """,
)
def duplicated_span_share(spark, sf_dir):
    """Substring-dedup decision signal (Lee et al.): per doc, basis
    points of tokens covered by a word 5-gram that also appears in
    another document — exact union-of-intervals arithmetic over the
    duplicate gram starts, all integers."""
    return dedup.duplicated_span_share(
        table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


@register(
    "semantic_dedup",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS cell, v AS centroid FROM v WHERE vec_id < 8),
    scored AS (
        SELECT v.vec_id AS id, c.cell,
               CAST(ROUND(COALESCE(list_dot_product(v.v, c.centroid) /
                    NULLIF(sqrt(list_dot_product(v.v, v.v))
                     * sqrt(list_dot_product(c.centroid, c.centroid)), 0)
                    , 0) * 10000) AS BIGINT) AS cos_bp
        FROM v, c
    ),
    best AS (
        SELECT id, cell,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY cos_bp DESC, cell) AS rn
        FROM scored
    ),
    assign AS (SELECT id, cell FROM best WHERE rn = 1),
    e AS (SELECT a.id, a.cell, v.v FROM assign a JOIN v ON v.vec_id = a.id),
    dropped AS (
        SELECT DISTINCT y.id
        FROM e x JOIN e y ON x.cell = y.cell AND x.id < y.id
        WHERE CAST(ROUND(COALESCE(list_dot_product(x.v, y.v) /
                   NULLIF(sqrt(list_dot_product(x.v, x.v))
                    * sqrt(list_dot_product(y.v, y.v)), 0)
                   , 0) * 10000) AS BIGINT) >= 4000
    )
    SELECT id, cell,
           CASE WHEN id IN (SELECT id FROM dropped) THEN 0 ELSE 1 END AS kept
    FROM assign ORDER BY id
    """,
)
def semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cell–blocked cosine
    near-dup pruning over embeddings — cluster with the 8 lowest-id
    seed centroids (deterministic, same quantizer as kmeans_step),
    then within each cell drop every vector with a smaller-id
    neighbor at >= 0.4 cosine. The all-pairs problem shrinks to k
    per-cell BLAS matmuls (operators.dedup.semantic_dedup)."""
    emb = table(spark, sf_dir, "embeddings")
    from udacity_data_wrangling_osm_case_study_spark.operators import similarity

    v = similarity.as_double_vec(F.col("embedding"))
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), v.alias("centroid")
    )
    return dedup.semantic_dedup(emb, seeds, threshold_bp=4000).orderBy("id")


@register(
    "lsh_tuning_report",
    f"""
    WITH {_SHINGLES_CTE},
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
    truth AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= 0.5
    ),
    m AS (
        SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM cand) AS n_candidates,
               (SELECT COUNT(*) FROM cand JOIN truth USING (id_a, id_b))
                   AS n_common
    )
    SELECT n_truth, n_candidates, n_common,
           CAST(n_common * 10000 // greatest(n_candidates, 1) AS BIGINT)
               AS precision_bp,
           CAST(n_common * 10000 // greatest(n_truth, 1) AS BIGINT)
               AS recall_bp
    FROM m
    """,
)
def lsh_tuning_report(spark, sf_dir):
    """The band/row tuning audit every LSH deployment runs: MinHash(8)
    4x2 candidate pairs vs the exact-Jaccard(>=0.5) truth set —
    candidate volume, precision (how much the verifier must discard),
    recall (what banding missed). Elevates the test-suite recall probe
    into a driver-attested query. Only three single-row aggregates
    cross the plan (broadcast), never the pair sets themselves."""
    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    truth = dedup.jaccard_pairs(sh, min_jaccard=0.5).select("id_a", "id_b")
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    cand = dedup.lsh_candidate_pairs(
        dedup.lsh_bands(sigs, rows_per_band=2)
    ).select("id_a", "id_b")
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_common = cand.join(truth, ["id_a", "id_b"]).agg(
        F.count("*").alias("n_common")
    )
    return (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_common))
        .select(
            "n_truth",
            "n_candidates",
            "n_common",
            F.expr("n_common * 10000 DIV greatest(n_candidates, 1)").alias(
                "precision_bp"
            ),
            F.expr("n_common * 10000 DIV greatest(n_truth, 1)").alias("recall_bp"),
        )
    )


@register(
    "prefix_filter_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
           CAST(inter * 10000 // (sa.sz + sb.sz - inter) AS BIGINT)
               AS jaccard_bp
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE 8 * inter >= 3 * (sa.sz + sb.sz)
    ORDER BY id_a, id_b
    """,
)
def prefix_filter_jaccard_pairs(spark, sf_dir):
    """Exact J ≥ 0.6 shingle-set pairs via PPJoin prefix filtering
    (operators.dedup.prefix_filter_pairs): only each doc's rarest
    ``|S| − ⌈0.6|S|⌉ + 1`` shingles are indexed, so candidates form on
    rare-token collisions, never on boilerplate. The oracle computes
    the same threshold from the FULL inverted index — a cross-ALGORITHM
    match attesting the prefix principle loses no pair (exact recall),
    not just that two copies of one implementation agree. Integer
    cross-multiplied threshold; jaccard reported in basis points."""
    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    return dedup.prefix_filter_pairs(sh, 3, 5).orderBy("id_a", "id_b")


@register(
    "containment_dupes",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT CASE WHEN sa.sz < sb.sz OR (sa.sz = sb.sz AND id_a < id_b)
                THEN id_a ELSE id_b END AS contained_id,
           CASE WHEN sa.sz < sb.sz OR (sa.sz = sb.sz AND id_a < id_b)
                THEN id_b ELSE id_a END AS container_id,
           CAST(inter AS BIGINT) AS inter,
           CAST(LEAST(sa.sz, sb.sz) AS BIGINT) AS contained_size,
           CAST(inter * 10000 // LEAST(sa.sz, sb.sz) AS BIGINT)
               AS containment_bp
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE 5 * inter >= 4 * LEAST(sa.sz, sb.sz)
    ORDER BY contained_id, container_id
    """,
)
def containment_dupes(spark, sf_dir):
    """Asymmetric containment near-dups: the smaller document's
    shingle set ≥ 80% inside the larger one (Broder's containment) —
    the excerpt/quote/boilerplate duplication Jaccard cannot see (a
    quote inside a 10× larger page has J ≈ 0.1 but C = 1.0). Same
    inverted-index pair statistics as ``ngram_jaccard_pairs``
    (operators.dedup.containment_pairs reuses the (inter, size, size)
    triple); only the projection and the integer threshold differ.
    Pairs come from the full inverted-index join, as in the oracle."""
    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    return dedup.containment_pairs(sh, 4, 5).orderBy(
        "contained_id", "container_id"
    )


@register(
    "bloom_prefilter_contamination",
    f"""
    WITH norm AS (SELECT doc_id AS id, {_TOKS} AS toks FROM documents),
    sh AS (
        SELECT DISTINCT id, unnest(list_transform(
            range(1, greatest(len(toks) - 4, 0) + 1),
            i -> md5(array_to_string(toks[i:i+4], ' ')))) AS gram
        FROM norm
    ),
    bench AS (SELECT DISTINCT gram FROM sh WHERE id % 11 = 0),
    corpus AS (SELECT id, gram FROM sh WHERE id % 11 <> 0),
    bpos AS (
        SELECT CAST(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || gram),
                                    1, 8)) AS BIGINT) % 8192 AS p
        FROM bench, range(0, 4) t(i)
    ),
    bits AS (SELECT p // 32 AS w,
                    bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
             FROM bpos GROUP BY p // 32),
    cpos AS (
        SELECT id, gram,
               CAST(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || gram),
                                    1, 8)) AS BIGINT) % 8192 AS p
        FROM corpus, range(0, 4) t(i)
    ),
    hits AS (
        SELECT id, gram
        FROM cpos LEFT JOIN bits ON cpos.p // 32 = bits.w
        GROUP BY id, gram
        HAVING COUNT(*) FILTER (WHERE
            (COALESCE(bits, 0)
             & (CAST(1 AS BIGINT) << CAST(p % 32 AS INT))) <> 0) = 4
    ),
    cand AS (SELECT id, COUNT(DISTINCT gram) AS n_candidates
             FROM hits GROUP BY id),
    ex AS (SELECT c.id, COUNT(DISTINCT c.gram) AS n_exact
           FROM corpus c JOIN bench b ON c.gram = b.gram GROUP BY c.id)
    SELECT cand.id AS doc_id,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact,
           CAST(n_candidates - COALESCE(n_exact, 0) AS BIGINT) AS n_false_pos
    FROM cand LEFT JOIN ex ON cand.id = ex.id
    ORDER BY doc_id
    """,
)
def bloom_prefilter_contamination(spark, sf_dir):
    """Bloom-prefiltered decontamination: the benchmark's 5-grams fold
    into an 8192-bit / 4-hash Bloom bitset built from md5 positions and
    bit_or words (dedup.bloom_prefilter_report); the corpus probe is a
    row-local forall over a ONE-ROW broadcast map — constant broadcast
    bytes regardless of benchmark size, zero corpus shuffle for
    candidate generation, and the report quantifies the price: per-doc
    Bloom candidates vs exact hits vs false positives (false negatives
    are impossible by construction). The exact-join path
    (``benchmark_contamination``) broadcasts every benchmark gram; this
    is what replaces it when the benchmark outgrows a broadcast."""
    return dedup.bloom_prefilter_report(
        table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


@register(
    "weighted_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    sinter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    cand AS (
        SELECT id_a, id_b FROM sinter
        JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        WHERE 10 * inter >= 3 * (sa.sz + sb.sz - inter)
    ),
    tok AS (SELECT doc_id AS id, unnest({_TOKS}) AS tok FROM documents),
    cnt AS (SELECT id, tok, COUNT(*) AS c FROM tok GROUP BY id, tok),
    tots AS (SELECT id, SUM(c) AS tot FROM cnt GROUP BY id),
    minsum AS (
        SELECT cand.id_a, cand.id_b, SUM(LEAST(a.c, b.c)) AS min_sum
        FROM cand
        JOIN cnt a ON a.id = cand.id_a
        JOIN cnt b ON b.id = cand.id_b AND b.tok = a.tok
        GROUP BY cand.id_a, cand.id_b
    )
    SELECT id_a, id_b,
           CAST(min_sum AS BIGINT) AS min_sum,
           CAST(ta.tot + tb.tot - min_sum AS BIGINT) AS max_sum,
           CAST(min_sum * 10000 // (ta.tot + tb.tot - min_sum) AS BIGINT)
               AS wjaccard_bp
    FROM minsum
    JOIN tots ta ON ta.id = id_a
    JOIN tots tb ON tb.id = id_b
    WHERE min_sum * 2 >= ta.tot + tb.tot - min_sum
    ORDER BY id_a, id_b
    """,
)
def weighted_jaccard_pairs(spark, sf_dir):
    """Weighted (multiset) Jaccard near-dup pairs: Σmin(cₐ,c_b) /
    Σmax(cₐ,c_b) over TOKEN MULTIPLICITIES — set Jaccard treats a
    token repeated 50× and once as identical; bag semantics catch the
    repetition-inflated near-dups set shingles dilute. A RAW-token
    inverted join would go quadratic in stop-token df (exactly the
    skew this module's df-cap guards against), so candidates come from
    the LOW-df set-shingle index first (J ≥ 0.3) and only candidate
    pairs pay the multiset verify — the same candidates-then-verify
    economics as MinHash-LSH. Σmax derives from per-doc totals
    (Σmax = totₐ + tot_b − Σmin): the max side never joins. Integer
    cross-multiplied threshold (≥ 1/2), basis-point output."""
    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    # Candidates via the exact inverted-index pair join at the SAME
    # integer threshold as the oracle's candidate CTE
    # (10·I ≥ 3·union) — no float ≥ 0.3 gate.
    cand = dedup.similarity_pairs(sh, 3, 10)

    def token_counts(d):
        # the token→count map and its total Σc (= the doc's token count)
        tok = d.select(
            "id",
            F.explode(F.split(dedup.normalize_text(F.col("text")), " ")).alias("tok"),
        )
        return (
            tok.groupBy("id", "tok")
            .agg(F.count("*").alias("c"))
            .groupBy("id")
            .agg(
                F.map_from_entries(F.collect_list(F.struct("tok", "c"))).alias("m"),
                F.sum("c").alias("t"),
            )
        )

    out = dedup.docvec_pairs(
        cand, docs.select(F.col("doc_id").alias("id"), "text"), token_counts
    )
    min_sum = F.aggregate(
        F.map_values(
            # least() SKIPS nulls, so a one-sided token would leak its
            # full count — guard both sides explicitly.
            F.map_zip_with(
                "ma",
                "mb",
                lambda _, a, b: F.when(
                    a.isNotNull() & b.isNotNull(), F.least(a, b)
                ).otherwise(F.lit(0)),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = out.withColumn("min_sum", min_sum)
    max_sum = F.col("ta") + F.col("tb") - F.col("min_sum")
    return (
        out.filter(F.col("min_sum") * 2 >= max_sum)
        .select(
            "id_a",
            "id_b",
            F.col("min_sum").cast("long").alias("min_sum"),
            max_sum.cast("long").alias("max_sum"),
            F.expr("min_sum * 10000 div (ta + tb - min_sum)").alias(
                "wjaccard_bp"
            ),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "near_dup_rate_by_source",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        WHERE 2 * inter >= sa.sz + sb.sz - inter
    ),
    duped AS (
        SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(dd.id) AS BIGINT) AS n_duped,
           CAST(COUNT(dd.id) * 10000 // COUNT(*) AS BIGINT) AS dup_rate_bp
    FROM documents d LEFT JOIN duped dd ON d.doc_id = dd.id
    GROUP BY d.source
    HAVING COUNT(dd.id) > 0
    ORDER BY d.source
    """,
)
def near_dup_rate_by_source(spark, sf_dir):
    """Dedup health KPI per corpus source: the share of each source's
    documents involved in any near-dup pair (J ≥ 0.5) — the number a
    pipeline tracks per feed to catch a source that started shipping
    recycled content. Pair detection reuses the inverted-index family;
    the per-source rollup is a semi-join flag + one groupBy, integer
    basis points."""
    docs = table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).cache()
    pairs = dedup.similarity_pairs(sh, 1, 2).select("id_a", "id_b")
    duped = dedup.pair_endpoints(pairs, out_col="doc_id").withColumn(
        "is_duped", F.lit(1)
    )
    return (
        docs.select("doc_id", "source")
        .join(duped, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.coalesce("is_duped", F.lit(0))).cast("long").alias("n_duped"),
        )
        .filter(F.col("n_duped") > 0)
        .select(
            "source",
            "n_docs",
            "n_duped",
            F.expr("n_duped * 10000 div n_docs").alias("dup_rate_bp"),
        )
        .orderBy("source")
    )

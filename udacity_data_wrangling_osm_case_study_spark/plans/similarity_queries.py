"""Similarity-search + multimodal queries (scale extensions).

Brute-force cosine top-k is the oracle-checked baseline; the IVF
variant demonstrates the partition-pruned scale path with the same
oracle. Cosines are basis points (int) — float formatting never touches
the value hash. The multimodal feature extraction runs through
``mapInPandas`` (Arrow batches) and is checked rows-only (not
SQL-expressible; the metadata projection has a full oracle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import layout, multimodal, similarity
from udacity_data_wrangling_osm_case_study_spark.plans.registry import (
    TEXT_NORM,
    ensure_index,
    register,
    table,
)

_COS_BP = (
    "CAST(ROUND(COALESCE(list_dot_product(e.v, q.q) / "
    "NULLIF(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.q, q.q)), 0)"
    ", 0) * 10000) AS BIGINT)"
)


@register(
    "knn_bruteforce",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
               WHERE vec_id = 0),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE vec_id <> 0)
    SELECT e.vec_id AS id, {_COS_BP} AS cosine_bp
    FROM e, q
    ORDER BY cosine_bp DESC, id LIMIT 10
    """,
)
def knn_bruteforce(spark, sf_dir):
    """Exact top-10 by cosine to vec 0. Query vector rides as a
    broadcast single-row frame — never collected to the driver, so the
    same plan works when the 'query' is itself a big table."""
    emb = table(spark, sf_dir, "embeddings")
    v = similarity.as_double_vec(F.col("embedding"))
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(v.alias("q"))
    )
    e = emb.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("id"), v.alias("v")
    )
    bp = F.round(
        similarity.cosine(F.col("v"), F.col("q")) * 10000
    ).cast("bigint")
    return (
        e.crossJoin(F.broadcast(q))
        .select("id", bp.alias("cosine_bp"))
        .orderBy(F.desc("cosine_bp"), "id")
        .limit(10)
    )


@register(
    "kmeans_step",
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
    assign AS (SELECT id, cell FROM best WHERE rn = 1)
    SELECT a.cell, COUNT(*) AS n_assigned,
           CAST(ROUND(AVG(v.v[1]) * 1000000) AS BIGINT) AS c0_micro
    FROM assign a JOIN v ON v.vec_id = a.id
    GROUP BY a.cell ORDER BY a.cell
    """,
    # A SINGLE Lloyd step reads the corpus in three fixed roles (seeds,
    # assignment, component-0) regardless of iteration count — the
    # looped trainer (train_quantizer) checkpoints per round and never
    # widens this.
    scan_budget=3,
)
def kmeans_step(spark, sf_dir):
    """One distributed k-means (Lloyd) iteration — how the IVF coarse
    quantizer is trained when no labels exist: deterministic seeds (the
    8 lowest-id vectors), quantized-cosine argmax assignment
    (operators.similarity.kmeans_assign), per-cell occupancy and the
    new centroid's first component (micro-units). The full iterative
    trainer is operators.similarity.train_quantizer (convergence
    unit-tested); one step is registered because it is exactly
    SQL-expressible."""
    emb = table(spark, sf_dir, "embeddings")
    v = similarity.as_double_vec(F.col("embedding"))
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), v.alias("centroid")
    )
    assigned = similarity.kmeans_assign(emb, seeds)
    comp0 = emb.select(
        F.col("vec_id").alias("id"),
        F.element_at(v, 1).alias("c0"),
    )
    return (
        assigned.join(comp0, "id")
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_assigned"),
            F.round(F.avg("c0") * 1000000).cast("bigint").alias("c0_micro"),
        )
        .orderBy("cell")
    )


@register(
    "pq_codes",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (
        SELECT vec_id AS id, CAST(t.s AS INT) AS s,
               v[CAST(t.s AS INT) * 16 + 1 : CAST(t.s AS INT) * 16 + 16] AS sv
        FROM v, range(0, 4) t(s)
    ),
    seeds AS (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cw
        FROM (SELECT DISTINCT vec_id AS id FROM embeddings ORDER BY id LIMIT 8)
    ),
    cb AS (SELECT sub.s, seeds.cw, sub.sv AS csv FROM sub JOIN seeds USING (id)),
    scored AS (
        SELECT sub.id, sub.s, cb.cw,
               CAST(ROUND(list_reduce(
                   list_transform(range(1, 17),
                       i -> (sub.sv[CAST(i AS INT)] - cb.csv[CAST(i AS INT)])
                            * (sub.sv[CAST(i AS INT)] - cb.csv[CAST(i AS INT)])),
                   (a, b) -> a + b) * 1000000) AS BIGINT) AS d2_micro
        FROM sub JOIN cb USING (s)
    ),
    best AS (
        SELECT id, s, cw,
               ROW_NUMBER() OVER (PARTITION BY id, s
                                  ORDER BY d2_micro, cw) AS rn
        FROM scored
    )
    SELECT id, CAST(SUM(cw * CAST(pow(8, s) AS BIGINT)) AS BIGINT) AS code
    FROM best WHERE rn = 1
    GROUP BY id ORDER BY id
    """,
)
def pq_codes(spark, sf_dir):
    """Product-quantization encoding: every 64-dim vector compresses
    to one integer of four 3-bit codeword digits (4 subspaces × 8
    deterministic codewords — operators.similarity.pq_encode). The
    compression arm of an IVF-PQ index: cells prune the scan
    (knn_ivf), codes shrink residency ~85× (64 floats → 12 bits)."""
    emb = table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebooks(emb, m=4, ksub=8)
    return similarity.pq_encode(emb, cb, m=4, ksub=8).orderBy("id")


def ensure_ivf_index(spark, sf_dir: str) -> str:
    """The persisted IVF index of the embeddings, built or rebuilt by
    ``registry.ensure_index``. An ANN index is a build-once artifact:
    without it, every kNN query pays two full-corpus shuffles to
    recompute the coarse quantizer."""
    return ensure_index(
        spark, sf_dir, "spark_graft_ivf", "embeddings", similarity.build_ivf_index
    )


@register(
    "knn_ivf",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
               WHERE vec_id = 0),
    comps AS (
        SELECT label AS cell,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    per_dim AS (
        SELECT cell, pos, ROUND(SUM(x) / COUNT(*), 6) AS m
        FROM comps GROUP BY cell, pos
    ),
    cents AS (
        SELECT cell, list(m ORDER BY pos) AS c FROM per_dim GROUP BY cell
    ),
    ranked AS (
        SELECT cell,
               CAST(ROUND(COALESCE(list_dot_product(c, q.q) /
                    NULLIF(sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(q.q, q.q)), 0)
                    , 0) * 10000) AS BIGINT) AS csim
        FROM cents, q
        ORDER BY csim DESC, cell LIMIT 3
    ),
    e AS (SELECT vec_id, label AS cell, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 0)
    SELECT e.vec_id AS id, {_COS_BP} AS cosine_bp
    FROM e, q
    WHERE e.cell IN (SELECT cell FROM ranked)
    ORDER BY cosine_bp DESC, id LIMIT 10
    """,
)
def knn_ivf(spark, sf_dir):
    """IVF-style ANN against the PERSISTED index
    (operators.similarity.build_ivf_index): centroids parquet ranks the
    probe cells; the vector scan reads only the 3 winning cells'
    cell-partitioned files (PartitionFilters — locked by a plan test).
    Only the n_probe winning cell ids cross to the driver (quantizer
    metadata, same role as Faiss's in-memory coarse quantizer); vectors
    never do."""
    index_dir = ensure_ivf_index(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    v = similarity.as_double_vec(F.col("embedding"))
    q = emb.filter(F.col("vec_id") == 0).select(v.alias("q"))

    cents = layout.read_parquet_or_empty(
        spark, f"{index_dir}/centroids", "cell int, centroid array<double>"
    )
    ranked = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cell",
            F.round(similarity.cosine(F.col("centroid"), F.col("q")) * 10000)
            .cast("bigint")
            .alias("csim"),
        )
        .orderBy(F.desc("csim"), "cell")
        .limit(3)
        .select("cell")
    )
    cells = [r.cell for r in ranked.collect()]
    vecs = (
        layout.read_parquet_or_empty(
            spark,
            f"{index_dir}/vectors",
            "id bigint, v array<double>, cell int, batch_id string",
        )
        .filter(F.col("cell").isin(cells))
        .filter(F.col("id") != 0)
    )
    bp = F.round(similarity.cosine(F.col("v"), F.col("q")) * 10000).cast("bigint")
    return (
        vecs.crossJoin(F.broadcast(q))
        .select("id", bp.alias("cosine_bp"))
        .orderBy(F.desc("cosine_bp"), "id")
        .limit(10)
    )


@register(
    "media_metadata",
    """
    SELECT doc_id AS media_id,
           'application/octet-stream' AS media_type,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS checksum
    FROM documents WHERE text IS NOT NULL ORDER BY media_id
    """,
)
def media_metadata(spark, sf_dir):
    """Multimodal plumbing: text payloads wrapped as opaque binary +
    typed metadata (schema path identical for real image/audio bytes)."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    return media.select("media_id", "media_type", "n_bytes", "checksum").orderBy(
        "media_id"
    )


@register(
    "media_features",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           ROUND(CAST(octet_length(encode(text)) AS DOUBLE), 4) AS f0,
           ROUND(CASE WHEN octet_length(encode(text)) = 0 THEN 0.0
                      ELSE CAST(CASE
                          WHEN unicode(text) < 128 THEN unicode(text)
                          WHEN unicode(text) < 2048
                              THEN 192 + unicode(text) // 64
                          WHEN unicode(text) < 65536
                              THEN 224 + unicode(text) // 4096
                          ELSE 240 + unicode(text) // 262144
                      END AS DOUBLE) END, 4) AS f1
    FROM documents WHERE text IS NOT NULL ORDER BY media_id
    """,
)
def media_features(spark, sf_dir):
    """Arrow-batched feature extraction over binary payloads
    (deterministic stub decode; see operators.multimodal). Exposes the
    first two feature components so the batch plumbing is observable —
    and value-checkable: the stub features are pure byte arithmetic
    (payload length, first byte), which the oracle recomputes from the
    utf-8 text without any BLOB functions."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media, decode_stub=True)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.col("feature")[0], 4).alias("f0"),
        F.round(F.col("feature")[1], 4).alias("f1"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# SRP-LSH ANN (random-hyperplane bucketed variant beside IVF)
# ---------------------------------------------------------------------------

_SRP_TABLES, _SRP_BITS, _SRP_DIM = 8, 4, 64
_PLANES = similarity.srp_hyperplanes(_SRP_TABLES, _SRP_BITS, _SRP_DIM)


def _sig_sql(vec_expr: str, planes) -> str:
    """DuckDB expression for one table's bit-string signature — the
    same literal hyperplanes the Spark plan carries."""
    cases = [
        "CASE WHEN list_dot_product({v}, [{h}]) >= 0 THEN '1' ELSE '0' END".format(
            v=vec_expr, h=",".join(str(x) for x in plane)
        )
        for plane in planes
    ]
    return " || ".join(cases)


_SRP_QSIG = "\n        UNION ALL ".join(
    f"SELECT {t} AS t, {_sig_sql('q.q', _PLANES[t])} AS sig FROM q"
    for t in range(_SRP_TABLES)
)
_SRP_CSIG = "\n        UNION ALL ".join(
    f"SELECT vec_id, {t} AS t, {_sig_sql('e.v', _PLANES[t])} AS sig FROM e"
    for t in range(_SRP_TABLES)
)


@register(
    "knn_srp_lsh",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
               WHERE vec_id = 0),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE vec_id <> 0),
    qsig AS ({_SRP_QSIG}),
    csig AS ({_SRP_CSIG}),
    cand AS (SELECT DISTINCT vec_id FROM csig JOIN qsig USING (t, sig))
    SELECT e.vec_id AS id, {_COS_BP} AS cosine_bp
    FROM e JOIN cand USING (vec_id), q
    ORDER BY cosine_bp DESC, id LIMIT 10
    """,
)
def knn_srp_lsh(spark, sf_dir):
    """LSH-bucketed ANN: sign-random-projection signatures (8 tables x
    4 Rademacher hyperplanes, deterministic literals in the plan),
    candidates = vectors sharing any bucket with the query, exact
    cosine re-rank. Bucketing is a narrow row-local map; the candidate
    probe is a broadcast semi-join on (table, signature) — per-query
    work scales with bucket occupancy, never the corpus."""
    emb = table(spark, sf_dir, "embeddings")
    v = similarity.as_double_vec(F.col("embedding"))
    q = emb.filter(F.col("vec_id") == 0).select(v.alias("q"))
    qb = q.select(
        F.posexplode(similarity.srp_all_signatures(F.col("q"), _PLANES)).alias(
            "t0", "sig"
        )
    ).select(F.col("t0").alias("t"), "sig")
    corpus = emb.filter(F.col("vec_id") != 0)
    cand = (
        similarity.srp_buckets(corpus, _PLANES)
        .join(F.broadcast(qb), ["t", "sig"], "left_semi")
        .select("id")
        .distinct()
    )
    bp = F.round(similarity.cosine(F.col("v"), F.col("q")) * 10000).cast("bigint")
    e = corpus.select(F.col("vec_id").alias("id"), v.alias("v"))
    return (
        e.join(cand, "id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select("id", bp.alias("cosine_bp"))
        .orderBy(F.desc("cosine_bp"), "id")
        .limit(10)
    )


@register(
    "media_frame_sample",
    """
    WITH m AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS L
        FROM documents WHERE text IS NOT NULL
    ),
    fr AS (
        SELECT media_id, f AS frame_idx,
               CASE WHEN L // 4 = 0 THEN L ELSE least(L // 4, 32) END
                   AS frame_len,
               CASE WHEN L // 4 = 0 THEN hx
                    ELSE substring(hx, f * (L // 4) * 2 + 1,
                                   2 * least(L // 4, 32)) END AS frame_hex
        FROM m, (SELECT unnest(range(0, 4)) AS f)
        WHERE L // 4 > 0 OR f = 0
    )
    SELECT media_id, frame_idx, CAST(frame_len AS INT) AS frame_len, frame_hex
    FROM fr ORDER BY media_id, frame_idx
    """,
)
def media_frame_sample(spark, sf_dir):
    """Frame sampling over binary media: 4 evenly-strided byte windows
    per payload via the one-to-many ``mapInPandas`` stage
    (operators.multimodal.sample_frames). The oracle reproduces the
    byte arithmetic on the hex encoding — DuckDB 1.0 has no BLOB
    substring — so the Arrow path's slicing is value-checked
    byte-for-byte."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    frames = multimodal.sample_frames(media, n_frames=4, frame_bytes=32)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame").cast("int").alias("frame_len"),
        F.hex("frame").alias("frame_hex"),
    ).orderBy("media_id", "frame_idx")


@register(
    "sq_codes",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    comps AS (
        SELECT vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM v
    ),
    stats AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM comps GROUP BY pos),
    codes AS (
        SELECT vec_id, pos,
               CASE WHEN mx = mn THEN 0
                    ELSE CAST(ROUND((x - mn) * 255 / (mx - mn)) AS INT) END AS code
        FROM comps JOIN stats USING (pos)
    )
    SELECT vec_id AS id,
           CAST(SUM(code) AS BIGINT) AS code_sum,
           CAST(COUNT(CASE WHEN code = 255 THEN 1 END) AS BIGINT) AS n_saturated,
           CAST(MAX(CASE WHEN pos = 1 THEN code END) AS INT) AS code0
    FROM codes GROUP BY vec_id ORDER BY id
    """,
)
def sq_codes(spark, sf_dir):
    """Scalar (int8-style) quantization of the embedding column:
    per-dimension global min/max train the affine grid
    (operators.similarity.sq_minmax — order-independent aggregates,
    no rounding games), then a map-only codegen pass rewrites every
    vector to 0..255 integer codes (sq_encode). Exposed per vector:
    code sum, saturated-code count, and the first code — all integers,
    value-checked against DuckDB recomputing the identical grid."""
    from udacity_data_wrangling_osm_case_study_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    stats = similarity.sq_minmax(emb)
    codes = similarity.sq_encode(emb, stats)
    return (
        codes.select(
            "id",
            F.aggregate(
                "codes", F.lit(0).cast("long"), lambda a, c: a + c
            ).alias("code_sum"),
            F.size(F.filter("codes", lambda c: c == 255)).cast("long").alias(
                "n_saturated"
            ),
            F.element_at("codes", 1).alias("code0"),
        )
        .orderBy("id")
    )


@register(
    "ann_recall_report",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
               WHERE vec_id = 0),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE vec_id <> 0),
    bf AS (
        SELECT e.vec_id AS id FROM e, q
        ORDER BY {_COS_BP} DESC, id LIMIT 10
    ),
    qsig AS ({_SRP_QSIG}),
    csig AS ({_SRP_CSIG}),
    cand AS (SELECT DISTINCT vec_id FROM csig JOIN qsig USING (t, sig)),
    ann AS (
        SELECT e.vec_id AS id FROM e JOIN cand USING (vec_id), q
        ORDER BY {_COS_BP} DESC, id LIMIT 10
    ),
    m AS (SELECT (SELECT COUNT(*) FROM ann) AS n_ann,
                 (SELECT COUNT(*) FROM bf JOIN ann USING (id)) AS n_common)
    SELECT 10 AS k, CAST(n_ann AS BIGINT) AS n_ann,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000 // 10 AS BIGINT) AS recall_pm
    FROM m
    """,
)
def ann_recall_report(spark, sf_dir):
    """ANN quality audit, driver-attested: recall@10 of the SRP-LSH
    index path against the exact brute-force top-10 for the same query
    vector — the number an ANN deployment tracks before trading scan
    cost for recall. Reuses both registered pipelines and joins their
    id sets; only single-row counts cross the plan."""
    bf = knn_bruteforce(spark, sf_dir).select("id")
    ann = knn_srp_lsh(spark, sf_dir).select("id")
    n_ann = ann.agg(F.count("*").alias("n_ann"))
    n_common = bf.join(ann, "id").agg(F.count("*").alias("n_common"))
    return (
        n_ann.crossJoin(F.broadcast(n_common))
        .select(
            F.lit(10).alias("k"),
            "n_ann",
            "n_common",
            F.expr("n_common * 1000 DIV 10").alias("recall_pm"),
        )
    )


@register(
    "knn_pq_adc",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (
        SELECT vec_id AS id, CAST(t.s AS INT) AS s,
               v[CAST(t.s AS INT) * 16 + 1 : CAST(t.s AS INT) * 16 + 16] AS sv
        FROM v, range(0, 4) t(s)
    ),
    seeds AS (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cw
        FROM (SELECT DISTINCT vec_id AS id FROM embeddings ORDER BY id LIMIT 8)
    ),
    cb AS (SELECT sub.s, seeds.cw, sub.sv AS csv FROM sub JOIN seeds USING (id)),
    scored AS (
        SELECT sub.id, sub.s, cb.cw,
               CAST(ROUND(list_reduce(
                   list_transform(range(1, 17),
                       i -> (sub.sv[CAST(i AS INT)] - cb.csv[CAST(i AS INT)])
                            * (sub.sv[CAST(i AS INT)] - cb.csv[CAST(i AS INT)])),
                   (a, b) -> a + b) * 1000000) AS BIGINT) AS d2_micro
        FROM sub JOIN cb USING (s)
    ),
    best AS (
        SELECT id, s, cw,
               ROW_NUMBER() OVER (PARTITION BY id, s
                                  ORDER BY d2_micro, cw) AS rn
        FROM scored
    ),
    codes AS (SELECT id, s, cw FROM best WHERE rn = 1),
    qs AS (SELECT s, sv AS qsv FROM sub WHERE id = 0),
    lut AS (
        SELECT cb.s, cb.cw,
               CAST(ROUND(list_reduce(
                   list_transform(range(1, 17),
                       i -> (qs.qsv[CAST(i AS INT)] - cb.csv[CAST(i AS INT)])
                            * (qs.qsv[CAST(i AS INT)] - cb.csv[CAST(i AS INT)])),
                   (a, b) -> a + b) * 1000000) AS BIGINT) AS d2
        FROM cb JOIN qs USING (s)
    ),
    approx AS (
        SELECT codes.id, SUM(lut.d2) AS ad
        FROM codes JOIN lut USING (s, cw)
        WHERE codes.id <> 0 GROUP BY codes.id
    ),
    short AS (SELECT id FROM approx ORDER BY ad, id LIMIT 30),
    q AS (SELECT v AS q FROM v WHERE vec_id = 0),
    e AS (SELECT vec_id, v FROM v WHERE vec_id <> 0)
    SELECT e.vec_id AS id,
           CAST(ROUND(COALESCE(list_dot_product(e.v, q.q) /
                NULLIF(sqrt(list_dot_product(e.v, e.v))
                 * sqrt(list_dot_product(q.q, q.q)), 0)
                , 0) * 10000) AS BIGINT) AS cosine_bp
    FROM e JOIN short ON short.id = e.vec_id, q
    ORDER BY cosine_bp DESC, id LIMIT 10
    """,
)
def knn_pq_adc(spark, sf_dir):
    """IVF-PQ's SEARCH half: asymmetric distance computation over the
    compressed codes (operators.similarity.pq_adc_topk — per query one
    m x ksub lookup table replaces all corpus vector arithmetic; the
    scan touches integer codes only), deterministic micro-quantized
    shortlist of 30, exact cosine re-rank to top-10. Completes the
    quantization family: pq_codes is the encoder, this is the query
    path an IVF-PQ deployment serves with."""
    emb = table(spark, sf_dir, "embeddings")
    v = similarity.as_double_vec(F.col("embedding"))
    cb = similarity.pq_codebooks(emb, m=4, ksub=8)
    q = emb.filter(F.col("vec_id") == 0).select(v.alias("q"))
    corpus = emb.filter(F.col("vec_id") != 0)
    return similarity.pq_adc_topk(corpus, cb, q)


@register(
    "embedding_covariance",
    """
    WITH m AS (
        SELECT {cols} FROM embeddings
    ),
    s AS (
        SELECT COUNT(*) AS n, {sums}
        FROM m
    ),
    e AS (SELECT n, unnest([{structs}]) AS p FROM s)
    SELECT p.i AS i, p.j AS j,
           CAST(n AS BIGINT) AS n,
           CAST(n * p.sxy - p.sx * p.sy AS BIGINT) AS cov_num
    FROM e ORDER BY i, j
    """.format(
        cols=", ".join(
            f"CAST(ROUND(embedding[{i}] * 1000) AS BIGINT) AS m{i}"
            for i in range(1, 9)
        ),
        sums=", ".join(
            [f"SUM(m{i} * m{j}) AS s{i}_{j}" for i in range(1, 9) for j in range(i, 9)]
            + [f"SUM(m{i}) AS s{i}" for i in range(1, 9)]
        ),
        structs=", ".join(
            f"struct_pack(i := {i}, j := {j}, sxy := s{i}_{j}, sx := s{i}, sy := s{j})"
            for i in range(1, 9)
            for j in range(i, 9)
        ),
    ),
)
def embedding_covariance(spark, sf_dir):
    """Feature co-moment (covariance) matrix over the first 8
    embedding dimensions — the one-pass sufficient-statistics reduce
    behind PCA/whitening in a training pipeline. Values are quantized
    to integer milli-units first, so every product and sum is exact
    BIGINT in both engines and the co-moment numerator ``n·Σxy −
    Σx·Σy`` hashes identically; n stays far inside BIGINT bounds
    (documented in the module header).

    Shape at scale: ONE map-side-combinable aggregate computes all 36
    upper-triangle pair sums plus the 8 marginals in a single pass
    over the data (no per-pair shuffle, no self-join); the pivot to
    (i, j) rows is a stack() over the 1-row result."""
    emb = table(spark, sf_dir, "embeddings")
    m = emb.select(
        *[
            F.round(F.element_at("embedding", i) * 1000)
            .cast("long")
            .alias(f"m{i}")
            for i in range(1, 9)
        ]
    )
    pairs = [(i, j) for i in range(1, 9) for j in range(i, 9)]
    s = m.agg(
        F.count("*").alias("n"),
        *[F.sum(F.col(f"m{i}") * F.col(f"m{j}")).alias(f"s{i}_{j}") for i, j in pairs],
        *[F.sum(f"m{i}").alias(f"s{i}") for i in range(1, 9)],
    )
    stack_args = ", ".join(
        f"{i}, {j}, n * s{i}_{j} - s{i} * s{j}" for i, j in pairs
    )
    return (
        s.select(
            F.expr(f"stack({len(pairs)}, {stack_args}) AS (i, j, cov_num)"),
            F.col("n"),
        )
        .select("i", "j", F.col("n").cast("bigint").alias("n"), "cov_num")
        .orderBy("i", "j")
    )


def _media_near_dupes_oracle() -> str:
    from udacity_data_wrangling_osm_case_study_spark.plans.dedup_queries import (
        SIMHASH_VOTES_CTE,
    )

    return f"""
    WITH m AS (SELECT doc_id AS id, hex(text) AS hx FROM documents),
    toks AS (SELECT id, substr(hx, CAST(p AS INT), 8) AS tok
             FROM m, LATERAL unnest(range(1, len(hx) - 6, 4)) t(p)
             WHERE len(hx) >= 8),
{SIMHASH_VOTES_CTE},
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
    """


@register("media_near_dupes", _media_near_dupes_oracle())
def media_near_dupes(spark, sf_dir):
    """Binary/media near-duplicate detection with NO tokenizer: opaque
    payloads → sliding 4-byte grams over the hex encoding
    (multimodal.payload_byte_grams) → the same 64-bit SimHash +
    banded-Hamming machinery the text path uses
    (dedup.simhash64_from_tokens / simhash_near_pairs). This is the
    dedup story for image/audio columns: byte-gram distributions stand
    in for word distributions, candidates come from four bounded-key
    band joins (never an all-pairs scan over payloads), and the whole
    pipeline — including hex()-level byte arithmetic — is value-checked
    against DuckDB. Payloads here wrap the documents table (no codec
    libs in this environment); real media bytes ride the identical
    plan."""
    from udacity_data_wrangling_osm_case_study_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    grams = multimodal.payload_byte_grams(media, gram_bytes=4, stride_bytes=2)
    fp = dedup.simhash64_from_tokens(grams)
    return (
        dedup.simhash_near_pairs(fp, n_bands=4, max_hamming=3)
        .select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


# Truncated RBO@10 with persistence p = 1/2, integer-exact: the depth-d
# contribution (1−p)·p^(d−1)/d scaled by 2^10·lcm(1..10)=2580480 gives
# integer weights w_d = 2^(10−d)·2520/d; a doc in both prefixes from
# rank m onward contributes the suffix sum S[m] = Σ_{d≥m} w_d. Perfect
# agreement sums to 2520·1023 = 2577960 (the normalizer).
_RBO_S = [1788440, 498200, 175640, 68120, 27800, 11672, 4952, 2072, 812, 252]
_RBO_DEN = 2577960


@register(
    "ann_rank_overlap_rbo",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
               WHERE vec_id = 0),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE vec_id <> 0),
    bf AS (
        SELECT id, ROW_NUMBER() OVER (ORDER BY cbp DESC, id) AS ra
        FROM (SELECT e.vec_id AS id, {_COS_BP} AS cbp FROM e, q)
        ORDER BY ra LIMIT 10
    ),
    qsig AS ({_SRP_QSIG}),
    csig AS ({_SRP_CSIG}),
    cand AS (SELECT DISTINCT vec_id FROM csig JOIN qsig USING (t, sig)),
    ann AS (
        SELECT id, ROW_NUMBER() OVER (ORDER BY cbp DESC, id) AS rb
        FROM (SELECT e.vec_id AS id, {_COS_BP} AS cbp
              FROM e JOIN cand USING (vec_id), q)
        ORDER BY rb LIMIT 10
    ),
    pairs AS (SELECT bf.id, GREATEST(ra, rb) AS m FROM bf JOIN ann USING (id)),
    agg AS (SELECT COUNT(*) AS n_common,
                   COALESCE(SUM(({_RBO_S})[m]), 0) AS rbo_num
            FROM pairs)
    SELECT 10 AS k, CAST(n_common AS BIGINT) AS n_common,
           CAST(rbo_num AS BIGINT) AS rbo_num,
           CAST(rbo_num * 1000 // {_RBO_DEN} AS BIGINT) AS rbo_pm
    FROM agg
    """,
)
def ann_rank_overlap_rbo(spark, sf_dir):
    """Rank-biased overlap (Webber et al. 2010) between the exact
    brute-force top-10 and the SRP-LSH ANN top-10 — the rank-weighted
    companion to ``ann_recall_report``: two lists with the same members
    but shuffled order score below 1, and agreement at the TOP of the
    ranking dominates (depth-d weight halves per step). With p = 1/2
    every weight is a dyadic rational, so the score is an exact integer
    num/den across engines — no float geometric series. Per-pair work
    is one array lookup of the precomputed suffix-sum table; the two
    10-row rankings join on id and reduce to a single row."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cosine_bp"), "id")
    bf = knn_bruteforce(spark, sf_dir).select(
        "id", F.row_number().over(w).alias("ra")
    )
    ann = knn_srp_lsh(spark, sf_dir).select(
        "id", F.row_number().over(w).alias("rb")
    )
    lut = F.array(*[F.lit(v) for v in _RBO_S])
    contrib = F.element_at(lut, F.greatest("ra", "rb").cast("int"))
    agg = bf.join(ann, "id").agg(
        F.count("*").alias("n_common"),
        F.coalesce(F.sum(contrib), F.lit(0)).cast("long").alias("rbo_num"),
    )
    return agg.select(
        F.lit(10).alias("k"),
        F.col("n_common").cast("long").alias("n_common"),
        "rbo_num",
        F.expr(f"rbo_num * 1000 div {_RBO_DEN}").alias("rbo_pm"),
    )


@register(
    "hard_negative_mining",
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
    pairs AS (
        SELECT a.id AS anchor_id, b.id AS negative_id,
               CAST(ROUND(COALESCE(list_dot_product(a.v, b.v) /
                    NULLIF(sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v)), 0)
                    , 0) * 10000) AS BIGINT) AS cosine_bp
        FROM e a JOIN e b ON a.cell = b.cell AND a.id <> b.id
        WHERE a.id % 10 = 0
    ),
    ranked AS (
        SELECT anchor_id, negative_id, cosine_bp,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY cosine_bp DESC, negative_id) AS rn
        FROM pairs WHERE cosine_bp < 4000
    )
    SELECT anchor_id, negative_id, cosine_bp
    FROM ranked WHERE rn = 1 ORDER BY anchor_id
    """,
)
def hard_negative_mining(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each anchor
    (every 10th vector), the MOST similar same-cell vector that is
    still below the near-dup threshold (cosine < 0.4) — close enough
    to be informative, far enough to be a true negative. The all-pairs
    problem is blocked by the same deterministic k-means cells
    semantic_dedup uses (candidates per anchor ∝ cell occupancy, never
    the corpus); top-1 is a map-side-combinable argmax aggregate over
    cell-local pairs. Basis-point cosines with id tie-breaks keep the
    mined pairs engine-exact."""
    emb = table(spark, sf_dir, "embeddings")
    v = similarity.as_double_vec(F.col("embedding"))
    base = emb.select(F.col("vec_id").alias("id"), v.alias("v"))
    seeds = base.filter(F.col("id") < 8).select(
        F.col("id").alias("cell"), F.col("v").alias("centroid")
    )
    assigned = similarity.kmeans_assign(emb, seeds).select("id", "cell")
    e = assigned.join(base, "id")
    a = e.filter(F.col("id") % 10 == 0).select(
        F.col("id").alias("anchor_id"), F.col("v").alias("va"), "cell"
    )
    b = e.select(F.col("id").alias("negative_id"), F.col("v").alias("vb"), "cell")
    bp = F.round(similarity.cosine(F.col("va"), F.col("vb")) * 10000).cast("bigint")
    pairs = (
        a.join(b, "cell")
        .filter(F.col("anchor_id") != F.col("negative_id"))
        .select("anchor_id", "negative_id", bp.alias("cosine_bp"))
        .filter(F.col("cosine_bp") < 4000)
    )
    # Top-1 as an argmax AGGREGATE, not a window (round 13, guide
    # §2.3): row_number shuffled and sorted the ENTIRE cell-local pair
    # stream by anchor, while max(struct) partial-aggregates to one
    # row per anchor per map task before the exchange — the shuffle
    # carries anchors, not pairs. Ordering contract preserved exactly:
    # max of (cosine_bp, -negative_id) == first row under
    # (desc cosine_bp, asc negative_id).
    best = F.max(
        F.struct(F.col("cosine_bp"), (-F.col("negative_id")).alias("nid"))
    ).alias("m")
    return (
        pairs.groupBy("anchor_id")
        .agg(best)
        .select(
            "anchor_id",
            (-F.col("m.nid")).alias("negative_id"),
            F.col("m.cosine_bp").alias("cosine_bp"),
        )
        .orderBy("anchor_id")
    )


@register(
    "embedding_standardize",
    """
    WITH ex AS (
        SELECT vec_id, CAST(t.p AS INT) AS pos,
               CAST(ROUND(CAST(embedding[CAST(t.p AS INT) + 1] AS DOUBLE)
                          * 1000000) AS BIGINT) AS m
        FROM embeddings, range(0, 64) t(p)
    ),
    stats AS (
        SELECT pos, COUNT(*) AS n, SUM(m) AS s, SUM(m * m) AS s2
        FROM ex GROUP BY pos
    ),
    z AS (
        SELECT ex.vec_id, ex.pos,
               -- z undefined at zero variance (single-row corpus):
               -- NULL, not a zero-division
               CAST(ROUND((ex.m - CAST(s AS DOUBLE) / n)
                   / NULLIF(sqrt((CAST(s2 AS DOUBLE)
                           - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)) / n),
                           0)
                   * 10000 / 1000000) AS BIGINT) AS z_bp
        FROM ex JOIN stats ON ex.pos = stats.pos
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM((pos + 1) * z_bp) AS BIGINT) AS z_checksum,
           CAST(MAX(ABS(z_bp)) AS BIGINT) AS max_abs_z_bp
    FROM z GROUP BY vec_id ORDER BY vec_id
    """,
)
def embedding_standardize(spark, sf_dir):
    """Feature standardization at scale: per-dimension z-score
    normalization of the embedding column — the preprocessing pass in
    front of quantizers and linear probes. Values quantize to integer
    micro-units FIRST, so the per-dim sufficient statistics (n, Σm,
    Σm²) are exact integers and the derived mean/std doubles are
    computed by the identical IEEE expression in both engines; the
    normalized vector is attested by a position-weighted checksum of
    its basis-point values. Scale shape: one 64-row stats aggregate
    broadcasts back onto the scan — the transform itself is map-only."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(similarity.as_double_vec(F.col("embedding"))).alias(
            "pos", "x"
        ),
    ).select(
        "vec_id", "pos", F.round(F.col("x") * 1_000_000).cast("long").alias("m")
    )
    stats = ex.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.sum("m").alias("s"),
        F.sum(F.col("m") * F.col("m")).alias("s2"),
    )
    z = ex.join(F.broadcast(stats), "pos").select(
        "vec_id",
        "pos",
        F.expr(
            "cast(round((m - cast(s as double) / n)"
            " / nullif(sqrt((cast(s2 as double)"
            "         - cast(s as double) * (cast(s as double) / n)) / n), 0d)"
            " * 10000 / 1000000) as bigint)"
        ).alias("z_bp"),
    )
    return (
        z.groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("n_dims"),
            F.sum((F.col("pos") + 1) * F.col("z_bp"))
            .cast("long")
            .alias("z_checksum"),
            F.max(F.abs("z_bp")).cast("long").alias("max_abs_z_bp"),
        )
        .orderBy("vec_id")
    )


@register(
    "media_shared_frames",
    """
    WITH m AS (
        SELECT doc_id AS media_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS L
        FROM documents WHERE text IS NOT NULL
    ),
    fr AS (
        SELECT media_id, f AS frame_idx,
               CASE WHEN L // 4 = 0 THEN hx
                    ELSE substring(hx, f * (L // 4) * 2 + 1,
                                   2 * least(L // 4, 32)) END AS frame_hex
        FROM m, (SELECT unnest(range(0, 4)) AS f)
        WHERE L // 4 > 0 OR f = 0
    ),
    h AS (SELECT media_id, frame_idx, md5(frame_hex) AS fh FROM fr)
    SELECT fh AS frame_hash,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(DISTINCT media_id) AS BIGINT) AS n_media,
           CAST(MIN(media_id) AS BIGINT) AS first_media
    FROM h GROUP BY fh HAVING COUNT(DISTINCT media_id) > 1
    ORDER BY frame_hash
    """,
)
def media_shared_frames(spark, sf_dir):
    """Scene-level media dedup: frames sampled from every payload
    (one-to-many Arrow stage) are hashed, and frames appearing in MORE
    THAN ONE media object expose shared segments — the multimodal
    analog of segment-level text dedup (``chunk_dedup_docs``): two
    videos sharing an intro, two images sharing a watermark strip.
    Hashing happens on the hex encoding so the oracle replays the
    byte arithmetic exactly; the groupBy key is a 16-byte hash, so
    cost is one shuffle on frame hashes regardless of payload size."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    frames = multimodal.sample_frames(media)
    h = frames.select(
        "media_id", F.md5(F.hex("frame")).alias("fh")
    )
    return (
        h.groupBy(F.col("fh").alias("frame_hash"))
        .agg(
            F.count("*").cast("long").alias("n_frames"),
            F.countDistinct("media_id").cast("long").alias("n_media"),
            F.min("media_id").cast("long").alias("first_media"),
        )
        .filter(F.col("n_media") > 1)
        .orderBy("frame_hash")
    )


# ---------------------------------------------------------------------------
# JL random projection (feature reduction beside the PQ/SQ compression arms)
# ---------------------------------------------------------------------------

_JL_K, _JL_DIM = 8, 64
_JL_SIGNS = similarity.jl_signs(_JL_K, _JL_DIM)

_JL_SIGNS_SQL = ", ".join(
    "({j}, [{row}])".format(j=j, row=",".join(str(x) for x in row))
    for j, row in enumerate(_JL_SIGNS)
)


@register(
    "embedding_random_projection",
    f"""
    WITH s AS (SELECT * FROM (VALUES {_JL_SIGNS_SQL}) AS t(j, srow))
    SELECT vec_id, CAST(j AS INT) AS j,
           CAST(list_sum(list_transform(range(1, len(embedding) + 1),
                i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                     * srow[i])) AS BIGINT) AS comp_milli
    FROM embeddings, s
    ORDER BY vec_id, j
    """,
)
def embedding_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss dimensionality reduction: every 64-dim
    embedding projected to 8 components through a deterministic
    Rademacher matrix (the cheap distance-preserving reduction a
    retrieval pipeline runs before clustering or coarse search; the
    same matrix family SRP-LSH uses for sign bits, here kept as full
    dot products). The matrix is an inline literal in BOTH the plan
    and the oracle — no RNG state, no artifact — and the projection is
    exact BIGINT arithmetic over milli-quantized components
    (operators.similarity.jl_project_milli), so values are
    bit-identical across engines. Row-local map, zero shuffle, scales
    with the scan."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.posexplode(
                similarity.jl_project_milli(F.col("embedding"), _JL_SIGNS)
            ).alias("j", "comp_milli"),
        )
        .orderBy("vec_id", "j")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical BM25 + vector cosine
# ---------------------------------------------------------------------------

@register(
    "hybrid_search_rrf",
    f"""
    WITH d AS (SELECT doc_id, string_split({TEXT_NORM}, ' ') AS toks
               FROM documents),
    dl AS (SELECT doc_id, len(toks) AS n_tokens FROM d),
    stats AS (SELECT COUNT(*) AS n_docs,
                     SUM(n_tokens) * 1000 // COUNT(*) AS avgdl_milli FROM dl),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        WHERE term IN ('spark', 'merge', 'window')
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    lex_scored AS (
        SELECT tf.doc_id,
               SUM(((s.n_docs - df.df) * 1000000 // df.df)
                   * (tf.tf * 1000)
                   // (tf.tf * 1000
                       + (1200 * (250 + (750 * (dl.n_tokens * 1000000
                                                // s.avgdl_milli)) // 1000))
                         // 1000)) AS score_scaled
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats s GROUP BY tf.doc_id
    ),
    lex AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id)
                   AS rnk
        FROM lex_scored QUALIFY rnk <= 50
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
          WHERE vec_id = 0),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE vec_id <> 0),
    sem_scored AS (
        SELECT e.vec_id AS doc_id, {_COS_BP} AS cosine_bp FROM e, q
    ),
    sem AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine_bp DESC, doc_id)
                   AS rnk
        FROM sem_scored QUALIFY rnk <= 50
    ),
    fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               CAST(COALESCE(1000000 // (60 + lex.rnk), 0)
                    + COALESCE(1000000 // (60 + sem.rnk), 0) AS BIGINT)
                   AS rrf_ppm,
               CAST(COALESCE(lex.rnk, 0) AS BIGINT) AS lex_rank,
               CAST(COALESCE(sem.rnk, 0) AS BIGINT) AS sem_rank
        FROM lex FULL JOIN sem USING (doc_id)
    )
    SELECT doc_id, rrf_ppm, lex_rank, sem_rank
    FROM fused ORDER BY rrf_ppm DESC, doc_id LIMIT 10
    """,
)
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval — the RAG-serving shape: a lexical BM25 ranking
    (operators.textstats.bm25_scores, fixed 3-term query) and a dense
    cosine ranking (query = vector 0, embeddings keyed by doc id) are
    fused with reciprocal-rank fusion, RRF(d) = Σ 1/(k + rank_d),
    k=60 (Cormack et al. 2009) — integer ppm floor division, so the
    fusion is exact in both engines and needs only RANKS, never
    cross-modality score calibration. Each arm is top-50 via
    TakeOrderedAndProject; the fusion is a full outer join of two
    ≤50-row frames — at scale the arms prune independently (posting
    lists / ANN index) and fusion cost stays O(k)."""
    from udacity_data_wrangling_osm_case_study_spark.operators import textstats
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    lex50 = (
        textstats.bm25_scores(docs, ["spark", "merge", "window"])
        .orderBy(F.desc("score_scaled"), "doc_id")
        .limit(50)
    )
    lex = lex50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_scaled"), "doc_id"))
        .alias("lex_rnk"),
    )
    emb = table(spark, sf_dir, "embeddings")
    v = similarity.as_double_vec(F.col("embedding"))
    q = emb.filter(F.col("vec_id") == 0).select(v.alias("q"))
    e = emb.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"), v.alias("v")
    )
    bp = F.round(similarity.cosine(F.col("v"), F.col("q")) * 10000).cast(
        "bigint"
    )
    sem50 = (
        e.crossJoin(F.broadcast(q))
        .select("doc_id", bp.alias("cosine_bp"))
        .orderBy(F.desc("cosine_bp"), "doc_id")
        .limit(50)
    )
    sem = sem50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine_bp"), "doc_id"))
        .alias("sem_rnk"),
    )
    rrf = lambda r: F.coalesce(  # noqa: E731
        F.expr(f"1000000 div (60 + {r})"), F.lit(0)
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        (rrf("lex_rnk") + rrf("sem_rnk")).cast("long").alias("rrf_ppm"),
        F.coalesce("lex_rnk", F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce("sem_rnk", F.lit(0)).cast("long").alias("sem_rank"),
    )
    return fused.orderBy(F.desc("rrf_ppm"), "doc_id").limit(10)


@register(
    "source_centroid_cosine",
    """
    WITH j AS (
        SELECT d.source,
               list_transform(CAST(e.embedding AS DOUBLE[]),
                              x -> CAST(ROUND(x * 1000) AS BIGINT)) AS q
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    ex AS (SELECT source, CAST(t.i AS INT) AS i, q[CAST(t.i AS INT)] AS val
           FROM j, LATERAL unnest(range(1, 65)) t(i)),
    sums AS (SELECT source, i, SUM(val) AS s FROM ex GROUP BY source, i),
    cent AS (SELECT source, list(CAST(s AS DOUBLE) ORDER BY i) AS c
             FROM sums GROUP BY source),
    p AS (SELECT a.source AS src_a, b.source AS src_b, a.c AS ca, b.c AS cb
          FROM cent a JOIN cent b ON a.source < b.source)
    SELECT src_a, src_b,
           CAST(ROUND(COALESCE(list_dot_product(ca, cb) /
                NULLIF(sqrt(list_dot_product(ca, ca))
                 * sqrt(list_dot_product(cb, cb)), 0), 0) * 10000) AS BIGINT)
               AS cos_bp
    FROM p ORDER BY src_a, src_b
    """,
)
def source_centroid_cosine(spark, sf_dir):
    """Corpus-drift fingerprint: the pairwise cosine similarity matrix
    between per-SOURCE embedding centroids — "which feeds look
    semantically alike", the cheap screen before per-document
    cross-source dedup and the standard mixture-monitoring readout.
    Centroids are computed as integer milli-unit SUM vectors (cosine is
    scale-invariant, so the mean's 1/n cancels and no float division
    enters the aggregation): one posexplode + per-(source, dim)
    map-side-combinable SUM — exact BIGINT in any summation order,
    the ``embedding_covariance`` quantization pattern. The k-row
    centroid bank then pairs with itself under a broadcast inequality
    join (k sources — driver-scale), and each pair's dot/norms fold
    ROW-LOCALLY in double. Engine-parity posture (audited after the
    gini crash): the fold is bit-identical across engines because both
    walk the 64-dim list left-to-right with the same IEEE adds — NOT
    because the math is exact; per-term products exceed 2⁵³ once a
    centroid component passes ~1.2×10⁷ milli-units, well inside large
    corpora, but the shared fold order keeps the two engines identical
    and the ~1e−13 relative fold error is absorbed by the basis-point
    rounding except at exact .5 boundaries (probability ~1e−9/pair).
    Verified against exact Python rational math at adversarial
    magnitudes in tests/test_overflow_margins.py."""
    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    j = docs.join(
        emb, docs.doc_id == emb.vec_id
    ).select(
        "source",
        F.transform(
            "embedding", lambda x: F.round(x * 1000).cast("long")
        ).alias("q"),
    )
    ex = j.select("source", F.posexplode("q").alias("i", "val"))
    sums = ex.groupBy("source", "i").agg(F.sum("val").alias("s"))
    cent = sums.groupBy("source").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))),
            lambda st: st["s"].cast("double"),
        ).alias("c")
    )
    a = cent.select(F.col("source").alias("src_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("source").alias("src_b"), F.col("c").alias("cb"))
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda u, v: u * v),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return pairs.select(
        "src_a",
        "src_b",
        # Zero-norm guard (round-13 s-fuzz find, seed 1s): a source
        # whose centroid sums to the zero vector (a singleton group
        # holding a zeroed embedding) made this the ONE cosine in the
        # file dividing bare — ANSI DIVIDE_BY_ZERO — while the oracle
        # already declared COALESCE(x / NULLIF(den, 0), 0). Same
        # guarded pattern as operators.similarity.cosine.
        F.round(
            F.coalesce(
                F.try_divide(
                    dot(F.col("ca"), F.col("cb")),
                    F.sqrt(dot(F.col("ca"), F.col("ca")))
                    * F.sqrt(dot(F.col("cb"), F.col("cb"))),
                ),
                F.lit(0.0),
            )
            * 10000
        )
        .cast("long")
        .alias("cos_bp"),
    ).orderBy("src_a", "src_b")

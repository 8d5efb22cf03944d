"""Unit tests for the scale-extension operators (dedup / similarity /
textstats / multimodal) on small in-memory frames with hand-computed
expectations."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import (
    dedup,
    multimodal,
    similarity,
    textstats,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "completely different words appear here today"),
    (4, "The  Quick Brown Fox jumps over the lazy dog"),  # exact after normalize
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicate_groups(docs):
    groups = {
        r.keeper_id: r.group_size
        for r in dedup.exact_duplicate_groups(docs).collect()
    }
    # doc 4 normalizes to doc 1's content → one group of 2, two singletons
    assert groups[1] == 2
    assert sum(groups.values()) == 4


def test_word_shingles(docs):
    sh = dedup.word_shingles(docs.filter("doc_id = 1"), n=3).collect()
    shingles = {r.shingle for r in sh}
    assert "the quick brown" in shingles
    assert len(shingles) == 7  # 9 tokens → 7 trigrams, all distinct


def test_jaccard_pairs(docs):
    sh = dedup.word_shingles(docs)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dedup.jaccard_pairs(sh).collect()}
    # docs 1/2 share 6 of 8 distinct trigrams → jaccard 0.75
    assert pairs[(1, 2)] == 0.75
    # docs 1/4 identical after normalization → jaccard 1.0
    assert pairs[(1, 4)] == 1.0


def test_minhash_lsh_finds_exact_dup(docs):
    sh = dedup.word_shingles(docs)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sigs, rows_per_band=2))
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (1, 4) in pairs  # identical docs always collide in every band


def test_incremental_dedup_probe(docs, spark, tmp_path):
    """Index docs 1-3, probe with doc 4 (normalizes to doc 1's exact
    content, and is a 0.75-Jaccard near-dup of doc 2): the probe must
    find exactly those two pairs and nothing for unrelated doc 3."""
    index_dir = str(tmp_path / "dedup_index")
    dedup.build_dedup_index(docs.filter("doc_id <= 3"), index_dir)
    hits = dedup.incremental_near_dupes(
        docs.filter("doc_id = 4"), index_dir, min_jaccard=0.5
    ).collect()
    assert {(r.new_id, r.index_id, r.jaccard) for r in hits} == {
        (4, 1, 1.0),
        (4, 2, 0.75),
    }


def test_simhash_identical_docs_equal(docs):
    fp = {r.id: r.simhash for r in dedup.simhash64(docs).collect()}
    assert fp[1] == fp[4]
    assert len(fp[1]) == 64 and set(fp[1]) <= {"0", "1"}


def test_simhash_near_pairs_banding(docs):
    fp = dedup.simhash64(docs)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_pairs(fp, n_bands=4, max_hamming=3).collect()
    }
    # identical docs (1, 4) → Hamming 0, found via every band
    assert pairs[(1, 4)] == 0
    # the near-dup pair (1, 2) differs by one token out of nine — its
    # distance may exceed the tight default band guarantee; widening
    # max_hamming with more bands must recover it
    wide = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_pairs(fp, n_bands=16, max_hamming=15).collect()
    }
    assert (1, 2) in wide
    assert wide[(1, 2)] > 0


def test_cosine_topk(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # identical → cosine 1
        (2, [0.0, 1.0, 0.0]),   # orthogonal → 0
        (3, [-1.0, 0.0, 0.0]),  # opposite → -1
        (4, [1.0, 1.0, 0.0]),   # 45° → √2/2
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    top = similarity.brute_force_topk(df.filter("vec_id <> 0"), [1.0, 0.0, 0.0], k=3)
    rows = top.collect()
    assert [r.id for r in rows] == [1, 4, 2]
    assert rows[0].cosine == 1.0
    assert rows[1].cosine == round(math.sqrt(2) / 2, 4)


def test_ivf_prunes_cells(spark):
    vecs = [
        (i, [float(i % 2), float(1 - i % 2)], i % 2) for i in range(1, 9)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"])
    got = similarity.ivf_topk(df, [1.0, 0.0], k=4, n_probe=1)
    rows = got.collect()
    # only the cell whose centroid points at the query is searched:
    # odd ids have embedding [1,0] (label 1), matching the query
    assert all(r.cosine == 1.0 for r in rows)
    assert {r.id for r in rows} == {1, 3, 5, 7}


def test_fuzzy_blocking_complete_for_deletions(spark):
    """Every single-char deletion of every name must recover its
    original through the two-block candidate join (pigeonhole: either
    the first or the last character survives the deletion)."""
    from udacity_data_wrangling_osm_case_study_spark.operators import fuzzy

    names = ["aurora", "borealis", "cascade"]
    canon = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], ["cid", "cname"]
    )
    typos = spark.createDataFrame(
        [
            (100 * i + p, n[:p] + n[p + 1 :])
            for i, n in enumerate(names)
            for p in range(len(n))
        ],
        ["tid", "tname"],
    )
    got = {
        (r.tid, r.cid)
        for r in fuzzy.fuzzy_match_pairs(
            typos, canon, max_distance=1, prefix_len=2  # names are 6-8 chars
        ).collect()
    }
    for i, n in enumerate(names):
        for p in range(len(n)):
            assert (100 * i + p, i) in got, f"deletion at {p} of {n} missed"


def test_pq_encode_codebook_fixed_points(spark):
    """Codebook-seed vectors must encode to themselves: vector j < ksub
    supplies codeword j in every subspace (self-distance 0), so its
    packed code is j * (1 + k + k² + k³)."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(10)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cb = similarity.pq_codebooks(df, m=4, ksub=4)
    codes = {r.id: r.code for r in similarity.pq_encode(df, cb, m=4, ksub=4).collect()}
    assert len(codes) == 10
    for j in range(4):
        assert codes[j] == j * (1 + 4 + 16 + 64)
    assert all(0 <= c < 4**4 for c in codes.values())


def test_kmeans_quantizer_converges(spark):
    """Two well-separated direction clusters, k=2, seeds one per
    cluster (ids 0 and 1): after training every vector must assign to
    its own cluster's centroid."""
    a = [(0, [1.0, 0.1, 0.0]), (2, [0.9, 0.2, 0.0]), (4, [1.1, 0.0, 0.1])]
    b = [(1, [0.0, 0.1, 1.0]), (3, [0.1, 0.0, 0.9]), (5, [0.0, 0.2, 1.1])]
    df = spark.createDataFrame(a + b, ["vec_id", "embedding"])
    cents = similarity.train_quantizer(df, k=2, n_iter=3)
    assert cents.count() == 2
    assigned = {
        r.id: r.cell for r in similarity.kmeans_assign(df, cents).collect()
    }
    groups = {assigned[0], assigned[2], assigned[4]}, {assigned[1], assigned[3], assigned[5]}
    assert len(groups[0]) == 1 and len(groups[1]) == 1
    assert groups[0] != groups[1]


def test_doc_profile_metrics(spark):
    df = spark.createDataFrame([(1, "the cat sat")], ["doc_id", "text"])
    row = textstats.doc_profile(df).collect()[0]
    assert row.n_tokens == 3
    assert row.stop_ratio_bp == 3333        # 1/3 stopwords
    assert row.avg_token_len_c == 300       # 9 chars / 3 tokens
    assert row.lang_guess == "en"


def test_multimodal_feature_plumbing(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "dddd")], ["doc_id", "text"])
    media = multimodal.documents_as_media(df)
    feats = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert feats[1].feature[0] == 3.0            # len('abc')
    assert feats[1].feature[1] == float(ord("a"))
    assert feats[2].n_bytes == 4
    assert len(feats[1].feature) == multimodal.FEATURE_DIM


@pytest.mark.skipif(
    multimodal.HAS_PIL, reason="with PIL installed the real branch runs instead"
)
def test_multimodal_stub_gate(spark):
    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    media = multimodal.documents_as_media(df)
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        multimodal.extract_features(media, decode_stub=False).collect()


def _tiny_png(r: int, g: int, b: int, w: int = 4, h: int = 2) -> bytes:
    """Hand-assembled valid solid-color RGB PNG (pure stdlib — the
    fixture stays real even on rigs without any codec library)."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + bytes([r, g, b]) * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


@pytest.mark.skipif(not multimodal.HAS_PIL, reason="PIL not installed")
def test_multimodal_real_decode_branch(spark):
    """decode_stub=False routes through PIL on a real PNG payload:
    the 8-dim descriptor must reflect actual decoded pixels, and the
    real resize branch must emit a decodable PNG with recomputed
    metadata."""
    png = _tiny_png(10, 200, 30)
    media = spark.createDataFrame(
        [(1, png, "image/png", len(png), "x")],
        "media_id long, payload binary, media_type string, n_bytes int, checksum string",
    )
    feats = {
        r.media_id: r.feature
        for r in multimodal.extract_features(media, decode_stub=False).collect()
    }
    w, h, ch, mr, mg, mb, _std, aspect = feats[1]
    assert (w, h, ch) == (4.0, 2.0, 3.0)
    assert (mr, mg, mb) == (10.0, 200.0, 30.0)
    assert aspect == 2.0
    out = multimodal.resize_media(media, target_bytes=12, decode_stub=False).collect()[0]
    assert out.payload[:8] == b"\x89PNG\r\n\x1a\n"
    assert out.n_bytes == len(out.payload)
    import hashlib

    assert out.checksum == hashlib.md5(bytes(out.payload)).hexdigest()


def test_word_shingles_short_doc_is_empty(spark):
    # Regression: a doc shorter than n tokens used to hit a descending
    # sequence and a 0-start slice (runtime error); it must simply
    # produce no shingles.
    df = spark.createDataFrame([(1, "just two"), (2, "one two three four")],
                               ["doc_id", "text"])
    out = dedup.word_shingles(df, n=3).collect()
    ids = {r.id for r in out}
    assert ids == {2}
    assert {r.shingle for r in out} == {"one two three", "two three four"}


def test_word_shingles_pre_normalized_equivalent(spark):
    # Round 13: pipelines that already materialize normalize_text output
    # may pass it back with pre_normalized=True to skip the second regex
    # pass. The shingle set must be IDENTICAL to the raw-text path —
    # including for inputs where normalize_text is not idempotent (a
    # leading tab: trim strips spaces only, so the first pass leaves a
    # leading space that a second pass would eat, shifting every token).
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "\tAlpha  beta\ngamma delta"), (2, "  x Y\fz w  ")],
        ["doc_id", "text"],
    )
    pre = df.select("doc_id", dedup.normalize_text(F.col("text")).alias("norm"))
    raw_sh = sorted(
        (r.id, r.shingle) for r in dedup.word_shingles(df, n=2).collect()
    )
    pre_sh = sorted(
        (r.id, r.shingle)
        for r in dedup.word_shingles(
            pre, text_col="norm", n=2, pre_normalized=True
        ).collect()
    )
    assert raw_sh == pre_sh and len(raw_sh) > 0


def test_hashed_linear_score(spark):
    """Score properties: bounded milli-range, exact mean for a
    one-token doc, identical docs (after normalization) score equal."""
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "Alpha  "), (3, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in textstats.hashed_linear_score(df).collect()}
    assert rows[1].score_milli == rows[2].score_milli  # normalize first
    assert all(0 <= r.score_milli <= 2000 for r in rows.values())
    assert rows[3].n_tokens == 4
    import hashlib

    w = int(hashlib.md5(b"alpha").hexdigest()[:4], 16) % 2001
    assert rows[1].score_milli == w
    assert rows[1].keep == (w >= 1000)


def test_scrub_terms(spark):
    df = spark.createDataFrame(
        [(1, "the table and the row"), (2, "nothing to hide")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in
            textstats.scrub_terms(df, ["table", "row"]).collect()}
    assert rows[1].n_scrubbed == 2
    assert rows[2].n_scrubbed == 0
    # whole-word only: 'rows' must not match 'row'
    df2 = spark.createDataFrame([(3, "rows are not row")], ["doc_id", "text"])
    assert textstats.scrub_terms(df2, ["row"]).collect()[0].n_scrubbed == 1


def test_repetition_profile(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # top token 4/4; bigrams: 'a a' x3 -> 2 dups of 3
            (2, "a b c d"),          # all unique
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in textstats.repetition_profile(df).collect()}
    assert rows[1].top_token_bp == 10000
    assert rows[1].dup_bigram_bp == (2 * 10000) // 3
    assert rows[2].top_token_bp == 2500
    assert rows[2].dup_bigram_bp == 0


def test_contamination_report(spark):
    # ids 0 and 11 are "benchmark" (id % 11 == 0); doc 1 copies doc 0's
    # text, doc 2 is clean.
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (11, "unrelated benchmark text entirely different words"),
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally clean document with fresh content here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in dedup.contamination_report(df).collect()}
    assert set(rows) == {1}
    assert rows[1].n_shared_grams == 2   # two 5-gram windows in a 6-token doc
    assert rows[1].n_benchmark_docs == 1


def test_arrow_cosine_parity_with_expression_path(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (i, rng.randn(16).astype(float).tolist(), int(i % 3)) for i in range(60)
    ]
    # plant a near-dup pair within one block
    rows.append((100, [x * 1.001 for x in rows[0][1]], 0))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    expr = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_duplicates(df, threshold=0.95).collect()
    }
    arrow = {
        (r.id_a, r.id_b): r.cosine_bp
        for r in dedup.embedding_near_duplicates_arrow(df, threshold_bp=9500).collect()
    }
    assert set(arrow) == set(expr)
    assert (0, 100) in arrow
    for k, bp in arrow.items():
        assert abs(bp - round(expr[k] * 10000)) <= 1


def test_arrow_cosine_tiled_matches_bruteforce_multichunk(spark):
    """Round-11 tiling fix: the blockwise matmul now runs in bounded
    row tiles (the full gram + triu-index materialization was O(n²)
    memory — ~24 GB per 32k-vector block at the 100x sweep, OOM at the
    next step). 3000 vectors in one block forces MULTIPLE tiles
    (chunk = 2048); the surviving pair set and every rounded
    basis-point value must equal the single-matrix brute force."""
    import numpy as np

    rng = np.random.RandomState(11)
    n, d = 3000, 4
    M = rng.randn(n, d)
    M[37] = M[12] * 1.7          # exact positive scaling: cosine 1.0
    M[2048] = M[2047] * 0.9      # a pair STRADDLING the tile boundary
    M[99] = 0.0                  # zero vector: cosine 0 with everyone
    df = spark.createDataFrame(
        [(i, M[i].tolist(), 0) for i in range(n)],
        ["vec_id", "embedding", "label"],
    ).coalesce(1)
    got = {
        (r.id_a, r.id_b): r.cosine_bp
        for r in dedup.embedding_near_duplicates_arrow(
            df, threshold_bp=9000
        ).collect()
    }
    nrm = np.linalg.norm(M, axis=1, keepdims=True)
    U = np.divide(M, nrm, out=np.zeros_like(M), where=nrm != 0)
    G = np.round(U @ U.T * 10000).astype("int64")
    iu = np.triu_indices(n, k=1)
    want = {
        (int(a), int(b)): int(G[a, b])
        for a, b in zip(iu[0], iu[1])
        if G[a, b] >= 9000
    }
    assert got == want
    assert (12, 37) in got and got[(12, 37)] == 10000
    assert (2047, 2048) in got


def test_connected_components_deep_chain(spark):
    # A 1000-edge chain is the worst case for one-hop label propagation
    # (diameter = vertex count). Pointer doubling must close it within
    # dedup.CC_MAX_ROUNDS (20) — and localCheckpoint keeps the per-round
    # lineage flat, so this also guards against analyzer blowup.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], ["id_a", "id_b"]
    )
    labels = dedup.connected_components(chain).collect()
    assert len(labels) == 1001
    assert {r.comp for r in labels} == {0}


def test_connected_components_raises_when_unconverged(spark, monkeypatch):
    # A 16-edge chain needs several doubling rounds; with one round
    # allowed the labels are still changing, which must raise rather
    # than return them.
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    chain = spark.createDataFrame([(i, i + 1) for i in range(16)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="still changing"):
        dedup.connected_components(chain)


def test_connected_components_multiple_clusters(spark):
    # Two chains and an isolated pair: min-reachable-id per component.
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (20, 21)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    comp = {r.id: r.comp for r in dedup.connected_components(df).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_simhash_recall_vs_jaccard_truth(spark):
    # Recall probe against exact n-gram Jaccard ground truth on the
    # driver documents table (same pattern as the MinHash probe):
    # near-identical docs (jaccard >= 0.95) must be recovered by the
    # banded Hamming search. Measured: 92% at hamming<=3, 100% once the
    # banding is widened — pinned loosely so data regeneration noise
    # doesn't flake the suite.
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = dedup.word_shingles(docs)
    truth = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(sh, min_jaccard=0.95).collect()
    }
    assert truth, "expected planted near-dup pairs in the documents table"
    fp = dedup.simhash64(docs)
    tight = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_pairs(fp, n_bands=4, max_hamming=3).collect()
    }
    recall = sum(1 for p in truth if p in tight) / len(truth)
    assert recall >= 0.8
    wide = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_pairs(fp, n_bands=16, max_hamming=15).collect()
    }
    assert all(p in wide for p in truth)


def test_max_shingle_df_kills_hot_shingle_blowup(spark):
    # 40 docs share one boilerplate trigram; without the cap the
    # inverted-index join forms all 780 co-shingle pairs through it
    # (quadratic in the corpus). With the cap the hot shingle is
    # dropped and only genuinely-overlapping docs pair up.
    rows = [(i, f"common header boilerplate unique{i} tail{i}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = dedup.jaccard_pairs(dedup.word_shingles(df, n=3))
    assert uncapped.count() == 40 * 39 // 2
    capped_sh = dedup.word_shingles(df, n=3, max_shingle_df=5)
    assert dedup.jaccard_pairs(capped_sh).count() == 0
    # per-doc unique shingles survive the cap
    assert capped_sh.count() > 0


def test_srp_lsh_topk_recall_vs_bruteforce(spark):
    # SRP-LSH candidates re-ranked by exact cosine must recover most of
    # the true top-10 — on this corpus the query's neighbors are only
    # moderately similar (cos ~0.37), the hardest regime for LSH, and
    # 8 tables x 4 bits still lands 80% (deterministic planes, pinned
    # loosely for data regeneration).
    from udacity_data_wrangling_osm_case_study_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") != 0)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    exact = [r.id for r in similarity.brute_force_topk(corpus, qvec).collect()]
    planes = similarity.srp_hyperplanes(8, 4, len(qvec))
    approx = [r.id for r in similarity.srp_lsh_topk(corpus, qvec, planes).collect()]
    assert len(set(exact) & set(approx)) >= 5
    # Exact parity of the candidate generation across formulations:
    # per-table signature == the all-tables nested-literal signature.
    one = corpus.select(
        similarity.srp_signature(
            similarity.as_double_vec(F.col("embedding")), planes[0]
        ).alias("sig")
    ).collect()
    allt = corpus.select(
        similarity.srp_all_signatures(
            similarity.as_double_vec(F.col("embedding")), planes
        )[0].alias("sig")
    ).collect()
    assert [r.sig for r in one] == [r.sig for r in allt]


def test_media_frame_sample_and_resize(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "x" * 100), (2, "abc"), (3, "")], ["doc_id", "text"]
    )
    media = multimodal.documents_as_media(docs)
    frames = multimodal.sample_frames(media, n_frames=4, frame_bytes=8).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    # 100 bytes → 4 frames of min(25, 8) = 8 bytes at stride 25.
    assert [r.frame_idx for r in sorted(by_id[1], key=lambda r: r.frame_idx)] == [0, 1, 2, 3]
    assert all(len(r.frame) == 8 for r in by_id[1])
    # Shorter than n_frames bytes → one whole-payload frame.
    assert len(by_id[2]) == 1 and bytes(by_id[2][0].frame) == b"abc"
    assert len(by_id[3]) == 1 and bytes(by_id[3][0].frame) == b""

    resized = {r.media_id: r for r in multimodal.resize_media(media, target_bytes=16).collect()}
    assert all(r.n_bytes == 16 for r in resized.values())
    assert bytes(resized[2].payload) == b"abc" + b"\0" * 13
    import hashlib
    assert resized[2].checksum == hashlib.md5(b"abc" + b"\0" * 13).hexdigest()
    # Schema is preserved: resized media flows back into any media stage.
    assert multimodal.extract_features(
        multimodal.resize_media(media)
    ).columns == ["media_id", "n_bytes", "feature"]


def test_fuzzy_blocking_property_random_words(spark):
    """Property (batched into one job): for 60 random ≥2k-length words
    and one random deletion each, the prefix/suffix blocking always
    recovers the original."""
    import random
    import string

    rng = random.Random(20260813)
    words, typos = [], []
    for i in range(60):
        n = rng.randint(8, 24)  # ≥ 2k for k=4
        w = "".join(rng.choice(string.ascii_lowercase) for _ in range(n))
        p = rng.randrange(n)
        words.append((i, w))
        typos.append((i, w[:p] + w[p + 1 :]))
    from udacity_data_wrangling_osm_case_study_spark.operators import fuzzy

    canon = spark.createDataFrame(words, ["cid", "cname"])
    t = spark.createDataFrame(typos, ["tid", "tname"])
    got = {
        (r.tid, r.cid)
        for r in fuzzy.fuzzy_match_pairs(t, canon, max_distance=1).collect()
    }
    missing = [i for i in range(60) if (i, i) not in got]
    assert not missing, f"deletions not recovered for ids {missing}"


def test_operators_tolerate_empty_inputs(spark):
    """Degenerate-input sweep: the core extension operators must return
    empty frames (not throw) on empty inputs — at 100 TB a partition,
    source, or day of data being empty is routine, not exceptional."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    empty_docs = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])
    )
    sh = dedup.word_shingles(empty_docs)
    assert sh.count() == 0
    assert dedup.minhash_signatures(sh).count() == 0
    assert dedup.jaccard_pairs(sh).count() == 0
    assert dedup.simhash64(empty_docs).count() == 0

    empty_pairs = spark.createDataFrame(
        [], StructType([
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
        ])
    )
    assert dedup.connected_components(empty_pairs).count() == 0

    empty_vecs = spark.createDataFrame(
        [], StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ])
    )
    assert similarity.brute_force_topk(empty_vecs, [1.0, 0.0]).count() == 0
    cb = similarity.pq_codebooks(empty_vecs, m=2, ksub=2)
    assert similarity.pq_encode(empty_vecs, cb, m=2, ksub=2).count() == 0
    assert textstats.hashed_linear_score(empty_docs).count() == 0


# ---------------------------------------------------------------- segments


def test_doc_segments_shapes(spark):
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    segs = dedup.doc_segments(df, segment_tokens=3).collect()
    by_idx = {r.seg_idx: r.seg_text for r in segs}
    assert by_idx == {0: "a b c", 1: "d e"}


def test_segment_dedup_reassembly(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),   # both segments unique (first carrier)
            (2, "a b c x y z"),   # seg0 duplicates doc1 seg0 → dropped
            (3, "x y z"),         # sole segment duplicates doc2 seg1 → dropped
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r for r in dedup.segment_dedup(df, segment_tokens=3).collect()
    }
    assert (out[1].n_segments, out[1].n_kept) == (2, 2)
    assert (out[2].n_segments, out[2].n_kept) == (2, 1)
    assert (out[3].n_segments, out[3].n_kept) == (1, 0)
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1].clean_hash == md5("a b c d e f")
    assert out[2].clean_hash == md5("x y z")   # survives only its unique tail
    assert out[3].clean_hash == md5("")        # fully deduplicated away


def test_segment_dedup_kept_hashes_globally_unique(spark):
    # Property: summing n_kept equals the number of distinct segment
    # hashes in the corpus (each distinct segment survives exactly once).
    rows = [(i, f"tok{i % 4} tok{i % 4} common common common") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.segment_dedup(df, segment_tokens=2).collect()
    distinct_segments = (
        dedup.doc_segments(df, segment_tokens=2).select("seg_hash").distinct().count()
    )
    assert sum(r.n_kept for r in out) == distinct_segments


# ----------------------------------------------------- unigram surprisal


def test_unigram_surprisal_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, " ".join(["a"] * 10)), (2, "a a b c")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in textstats.unigram_surprisal(df).collect()}
    # corpus: a=12, b=1, c=1, T=14 → digits(T)=2; s(a)=0, s(b)=s(c)=1
    assert (out[1].n_tokens, out[1].mean_surprisal_centi) == (10, 0)
    # doc2: (2*0 + 1 + 1) * 100 // 4 = 50
    assert (out[2].n_tokens, out[2].mean_surprisal_centi) == (4, 50)
    # no token has df < T/100 in a 14-token corpus
    assert out[1].rare_bp == 0 and out[2].rare_bp == 0


# ------------------------------------------------- deterministic shuffle


def test_deterministic_shuffle_is_md5_rank_and_partition_invariant(spark):
    import hashlib

    from udacity_data_wrangling_osm_case_study_spark.operators import sampling

    ids = list(range(100))
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    out = {
        r.doc_id: r.pos
        for r in sampling.deterministic_shuffle(df, "doc_id", salt="s").collect()
    }
    expect = {
        i: rank
        for rank, i in enumerate(
            sorted(ids, key=lambda i: hashlib.md5(f"s{i}".encode()).hexdigest())
        )
    }
    assert out == expect
    repart = {
        r.doc_id: r.pos
        for r in sampling.deterministic_shuffle(
            df.repartition(7), "doc_id", salt="s"
        ).collect()
    }
    assert repart == expect


def test_duplicated_span_share_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),        # grams abc..efg
            (2, "z z a b c d e y"),      # shares abc, bcd, cde with doc 1
            (3, "p q r s t u v"),        # nothing shared
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dedup.duplicated_span_share(df, n=3).collect()}
    # doc1: dup starts {1,2,3} → covers tokens 1..5 → 5/7
    assert (out[1].n_tokens, out[1].dup_span_bp) == (7, 5 * 10000 // 7)
    # doc2: dup starts {3,4,5} → covers tokens 3..7 → 5/8
    assert (out[2].n_tokens, out[2].dup_span_bp) == (8, 6250)
    assert (out[3].n_tokens, out[3].dup_span_bp) == (7, 0)


def test_duplicated_span_share_short_and_full_overlap(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "x y z"), (3, "x y z")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in dedup.duplicated_span_share(df, n=3).collect()}
    assert out[1].dup_span_bp == 0          # too short for any gram
    assert out[2].dup_span_bp == 10000      # fully duplicated
    assert out[3].dup_span_bp == 10000


def test_subword_vocab_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "abc abc ab x"), (2, "abc")], ["doc_id", "text"]
    )
    out = {r.gram: r.total_count for r in textstats.subword_vocab(df).collect()}
    # 'abc' appears 3 times, 'ab' word once; 'x' too short to gram
    assert out["ab"] == 4      # 3 from 'abc' + 1 from word 'ab'
    assert out["bc"] == 3
    assert out["abc"] == 3
    assert "x" not in out


def test_segment_dedup_properties_randomized(spark):
    """Randomized invariants: (1) kept segments across the corpus are
    exactly the distinct segment hashes; (2) a doc with fully unique
    text keeps everything and its clean_hash matches the normalized
    original; (3) replicating the corpus (new ids, same text) adds
    ZERO newly-kept segments — every replica deduplicates away."""
    import hashlib
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 17))))
        for i in range(40)
    ]
    rows.append((100, " ".join(f"unique{i}" for i in range(9))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    out = {r.doc_id: r for r in dedup.segment_dedup(df, segment_tokens=4).collect()}
    distinct = (
        dedup.doc_segments(df, segment_tokens=4).select("seg_hash").distinct().count()
    )
    assert sum(r.n_kept for r in out.values()) == distinct

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    u = out[100]
    assert u.n_kept == u.n_segments
    assert u.clean_hash == md5(" ".join(f"unique{i}" for i in range(9)))

    replicated = df.unionByName(
        df.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    out2 = dedup.segment_dedup(replicated, segment_tokens=4).collect()
    assert sum(r.n_kept for r in out2) == distinct  # replicas add nothing
    assert all(r.n_kept == 0 for r in out2 if r.doc_id >= 1000)


def test_ivf_append_routes_new_vectors(spark, tmp_path):
    """Index maintenance: appending new vectors to a persisted IVF
    index must (1) place each in its nearest existing cell, (2) leave
    old cells' contents untouched, and (3) make the new vector
    immediately reachable by the partition-pruned query path."""
    import math

    dim = 8
    base = [
        (i, [1.0 if d == (i % 4) else 0.0 for d in range(dim)], i % 4)
        for i in range(40)
    ]
    df = spark.createDataFrame(base, ["vec_id", "embedding", "label"])
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(df, idx)
    before = spark.read.parquet(f"{idx}/vectors").count()

    # a new vector almost parallel to cell 2's axis
    newv = [(1000, [0.1 if d < 2 else (0.99 if d == 2 else 0.0) for d in range(dim)], -1)]
    similarity.ivf_append(
        spark, spark.createDataFrame(newv, ["vec_id", "embedding", "label"]), idx
    )
    after = spark.read.parquet(f"{idx}/vectors")
    assert after.count() == before + 1
    placed = after.filter("id = 1000").collect()
    assert len(placed) == 1 and placed[0].cell == 2

    # reachable via the pruned query path, top hit for its own direction
    top = similarity.ivf_topk_indexed(
        spark, idx, newv[0][1], k=3, n_probe=1
    ).collect()
    assert top[0].id == 1000


def test_triangle_count_hand_computed(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    # K4 on {1,2,3,4} (4 triangles) plus a pendant edge and a dup/reversed
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (2, 1), (5, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert graph.triangle_count(df).collect()[0].n_triangles == 4
    # triangle-free graph (star)
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["src", "dst"])
    assert graph.triangle_count(star).collect()[0].n_triangles == 0


def test_triangle_count_hub_graph_matches_bruteforce(spark):
    import itertools
    import random

    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    rng = random.Random(5)
    nodes = list(range(40))
    edges = {(a, b) for a in nodes for b in nodes if a < b and rng.random() < 0.2}
    edges |= {(0, v) for v in nodes[1:]}  # vertex 0 is a hub
    eset = set(edges)
    expect = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    assert graph.triangle_count(df).collect()[0].n_triangles == expect


def test_ivf_append_retry_idempotent(spark, tmp_path):
    """Replaying an ivf_append with the same batch_id must leave the
    vector store byte-identical (dynamic overwrite of own partitions)."""
    dim = 8
    base = [
        (i, [1.0 if d == (i % 4) else 0.0 for d in range(dim)], i % 4)
        for i in range(20)
    ]
    df = spark.createDataFrame(base, ["vec_id", "embedding", "label"])
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(df, idx)
    newv = spark.createDataFrame(
        [(500, [0.0, 0.0, 1.0] + [0.0] * (dim - 3), -1)],
        ["vec_id", "embedding", "label"],
    )
    similarity.ivf_append(spark, newv, idx, batch_id="b1")
    first = sorted(
        (r.id, r.cell) for r in spark.read.parquet(f"{idx}/vectors").collect()
    )
    similarity.ivf_append(spark, newv, idx, batch_id="b1")  # retry
    again = sorted(
        (r.id, r.cell) for r in spark.read.parquet(f"{idx}/vectors").collect()
    )
    assert again == first and (500, 2) in {(i, c) for i, c in first}


def test_semantic_dedup_drops_within_cell_neighbor(spark):
    # Two orthogonal cells; ids 10/11 are near-identical in cell 0's
    # direction, 20 sits alone in cell 1's. Keeper = lowest id.
    # Seeds are corpus members too (cos(seed, member) ≈ .98 < thresh);
    # only the planted 10/11 pair clears the 0.995 bar.
    vecs = [
        (0, [1.0, 0.0, 0.0]),    # seed / centroid for cell 0
        (1, [0.0, 1.0, 0.0]),    # seed / centroid for cell 1
        (10, [10.0, 2.0, 0.0]),
        (11, [10.0, 2.01, 0.0]),  # cos to 10 ≈ 1 → dropped
        (20, [2.0, 8.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    seeds = df.filter("vec_id < 2").selectExpr(
        "vec_id AS cell", "transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid"
    )
    out = {r.id: (r.cell, r.kept) for r in dedup.semantic_dedup(df, seeds, threshold_bp=9950).collect()}
    assert out[10] == (0, 1)
    assert out[11] == (0, 0)   # near-dup of a smaller id in the same cell
    assert out[20][1] == 1     # alone in its cell
    # seeds assign to themselves and survive
    assert out[0] == (0, 1) and out[1] == (1, 1)


def test_semantic_dedup_never_crosses_cells(spark):
    # Identical vectors that quantize into DIFFERENT cells must both
    # survive — SemDeDup prunes within cells only.
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (10, [1.0, 0.9]),   # cell 0 (cos .743 vs .669)
        (11, [0.9, 1.0]),   # cell 1 — same direction-ish, other cell
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    seeds = df.filter("vec_id < 2").selectExpr(
        "vec_id AS cell", "transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid"
    )
    out = {r.id: r.kept for r in dedup.semantic_dedup(df, seeds, threshold_bp=9000).collect()}
    assert out[10] == 1 and out[11] == 1


def test_sq_encode_grid_endpoints(spark):
    # min maps to 0, max to 255, midpoint to 128 (round-half-up);
    # a constant dimension maps to 0.
    vecs = [
        (1, [0.0, 5.0, 7.0]),
        (2, [10.0, 5.0, 3.0]),
        (3, [5.0, 5.0, 5.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    stats = similarity.sq_minmax(df)
    codes = {r.id: r.codes for r in similarity.sq_encode(df, stats).collect()}
    assert codes[1] == [0, 0, 255]    # dim0 min, dim1 constant, dim2 max
    assert codes[2] == [255, 0, 0]
    assert codes[3] == [128, 0, 128]  # (5-0)/10*255 = 127.5 → 128


def test_cms_estimate_dominates_exact(spark):
    # CMS never underestimates; with w << distinct keys some key must
    # collide and strictly overestimate.
    from udacity_data_wrangling_osm_case_study_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["cms_heavy_hitters"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "top-k of a non-empty events table cannot be empty"
    assert all(r.est_n >= r.exact_n for r in rows)
    assert all(r.overcount == r.est_n - r.exact_n for r in rows)


def test_bigram_surprisal_hand_computed(spark):
    # corpus bigram counts: "a b"=3, "b a"=1, "b c"=1, "m n"=9, "m o"=1
    # prefixes: p(a)=3, p(b)=2, p(m)=10
    docs = [(1, "a b a b"), (2, "a b c"), (3, "solo")] + [
        (10 + i, "m n") for i in range(9)
    ] + [(30, "m o")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in textstats.bigram_surprisal(df).collect()}
    assert 3 not in out                      # <2 tokens → no bigram
    r1 = out[1]                              # bigrams: a b, b a, a b
    assert r1.n_bigrams == 3
    # s("a b") = digits(3)-digits(3) = 0; s("b a") = digits(2)-digits(1) = 0
    assert r1.mean_cond_surprisal_centi == 0
    assert r1.novel_bp == 1 * 10000 // 3     # only "b a" is corpus-unique
    r10 = out[10]                            # "m n": c=9, p(m)=10
    assert (r10.n_bigrams, r10.mean_cond_surprisal_centi, r10.novel_bp) == (
        1, 100, 0
    )
    r30 = out[30]                            # "m o": c=1, p(m)=10 → s=1, novel
    assert (r30.mean_cond_surprisal_centi, r30.novel_bp) == (100, 10000)


def test_hot_ngrams_cross_doc_only(spark):
    from udacity_data_wrangling_osm_case_study_spark.plans import registry

    shared = "one two three four five"
    docs = [
        (1, f"{shared} and some tail words"),
        (2, f"prefix words then {shared}"),
        (3, "entirely different text with no shared gram at all"),
        # intra-doc repetition only — must NOT count as hot (n_docs=1)
        (4, "rep gram here now yes rep gram here now yes"),
    ]
    spark.createDataFrame(docs, ["doc_id", "text"]).createOrReplaceTempView("_hot")
    registry.load_all()
    # drive the operator logic directly on the frame
    from pyspark.sql import functions as F

    base = spark.table("_hot").select(
        F.col("doc_id").alias("id"),
        F.split(dedup.normalize_text(F.col("text")), " ").alias("toks"),
    )
    grams = base.filter(F.size("toks") >= 5).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 4),
                lambda s: F.array_join(F.slice("toks", s, 5), " "),
            )
        ).alias("gram"),
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .collect()
    )
    assert {r.gram for r in hot} == {shared}


def test_pagerank_path_graph_hand_computed(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    r1 = {r.v: r.rank_micro for r in graph.pagerank(edges, n_iter=1).collect()}
    # degrees: 1,2 / r0 = 1e6 each
    # r1(end) = 150000 + 85% of (1e6 div 2) = 575000
    # r1(mid) = 150000 + 85% of (1e6 + 1e6)  = 1850000
    assert r1 == {1: 575000, 2: 1850000, 3: 575000}
    # more iterations keep the center on top and roughly conserve mass
    r3 = {r.v: r.rank_micro for r in graph.pagerank(edges, n_iter=3).collect()}
    assert r3[2] > r3[1] == r3[3]
    assert 0.97 * 3_000_000 <= sum(r3.values()) <= 3_000_000


def test_pagerank_star_hub_dominates(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], ["src", "dst"]
    )
    r = {x.v: x.rank_micro for x in graph.pagerank(edges, n_iter=3).collect()}
    assert all(r[0] > r[i] for i in range(1, 6))
    assert len({r[i] for i in range(1, 6)}) == 1  # leaves symmetric


def test_classifier_auc_matches_bruteforce_pairs(spark):
    """The windowed rank-sum AUC must equal the O(n²) pair count."""
    from udacity_data_wrangling_osm_case_study_spark.plans import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    row = registry.QUERIES["classifier_auc"](spark, sf).collect()[0]
    scores = registry.QUERIES["quality_classifier"](spark, sf).toPandas()
    docs = spark.read.parquet(f"{sf}/documents.parquet").toPandas()
    m = scores.merge(docs[["doc_id", "lang"]], on="doc_id")
    pos = m[m.lang == "en"].score_milli.to_numpy()
    neg = m[m.lang != "en"].score_milli.to_numpy()
    assert (row.n_pos, row.n_neg) == (len(pos), len(neg))
    u2 = 2 * (pos[:, None] > neg[None, :]).sum() + (
        pos[:, None] == neg[None, :]
    ).sum()
    assert row.auc_bp == 10000 * int(u2) // (2 * len(pos) * len(neg))
    assert 0 <= row.auc_bp <= 10000


def test_sq_encode_random_roundtrip_property(spark):
    """Randomized invariants (fixed seed): every code in [0, 255];
    dequantizing a code lands within half a grid step of the input;
    each dimension's min/max vectors hit code 0/255 exactly."""
    import random

    rng = random.Random(13)
    dim, n = 8, 40
    rows = [(i, [rng.uniform(-5, 5) for _ in range(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    stats = similarity.sq_minmax(df)
    codes = {r.id: r.codes for r in similarity.sq_encode(df, stats).collect()}
    mins = [min(r[1][j] for r in rows) for j in range(dim)]
    maxs = [max(r[1][j] for r in rows) for j in range(dim)]
    seen0 = [False] * dim
    seen255 = [False] * dim
    for i, vec in rows:
        for j, (x, c) in enumerate(zip(vec, codes[i])):
            assert 0 <= c <= 255
            step = (maxs[j] - mins[j]) / 255
            dequant = mins[j] + c * step
            assert abs(dequant - x) <= step / 2 + 1e-9
            seen0[j] |= c == 0
            seen255[j] |= c == 255
    assert all(seen0) and all(seen255)


def test_pagerank_duplicate_edges_and_self_loops_deduped(spark):
    """The round-13 adjacency fold moved pagerank's dedup from a
    pair-level .distinct() into the collect_set adjacency build; this
    pins the property that fold relies on: duplicate input edges (the
    same pair from several groups), reversed duplicates, and self
    loops must not change outdeg or any rank."""
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    clean = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    noisy = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (2, 3), (3, 2), (2, 2), (1, 1)],
        ["src", "dst"],
    )
    r_clean = sorted(graph.pagerank(clean, n_iter=3).collect())
    r_noisy = sorted(graph.pagerank(noisy, n_iter=3).collect())
    assert r_clean == r_noisy


def test_pagerank_supernode_adjacency_bounded(spark):
    """VERDICT r13 item 4: the round-13 adjacency fold packs a vertex's
    whole out-neighborhood into one collect_set array row, so a
    power-law hub's row is degree-sized on a single task. Prove the
    bound acceptable with a synthetic 10⁵-degree supernode: the star
    graph must complete under ordinary task memory and produce exact
    integer ranks matching the closed form (after symmetrization the
    hub has outdeg d, each leaf outdeg 1; the integer recurrence is
    replayed below). Any OOM/failure here means the array layout broke
    the memory bound."""
    from pyspark.sql import functions as F

    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    d = 100_000
    hub = 0
    leaves = spark.range(1, d + 1).select(
        F.lit(hub).alias("src"), F.col("id").alias("dst")
    )
    ranks = {
        r.v: r.rank_micro
        for r in graph.pagerank(leaves, n_iter=2).collect()
    }
    assert len(ranks) == d + 1
    # Closed form for the symmetrized star after 2 iterations (hub
    # outdeg d, leaf outdeg 1; integer arithmetic replayed exactly):
    # r'(leaf) = 150000 + 85 * (r(hub) DIV d) DIV 100
    # r'(hub)  = 150000 + 85 * (d * (r(leaf) DIV 1)) DIV 100
    leaf_r1 = 150_000 + 85 * (1_000_000 // d) // 100
    hub_r1 = 150_000 + 85 * (d * 1_000_000) // 100
    leaf_r2 = 150_000 + 85 * (hub_r1 // d) // 100
    hub_r2 = 150_000 + 85 * (d * leaf_r1) // 100
    assert ranks[hub] == hub_r2
    assert ranks[1] == leaf_r2 and ranks[d] == leaf_r2


def test_random_walks_duplicate_edges_deduped(spark):
    """part_random_walk_pairs dropped its caller-side pair
    .distinct() in round 13 because random_walks' collect_set
    adjacency dedups; pin that duplicated input edges leave every
    walk (and the walker count) unchanged."""
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)]
    clean = spark.createDataFrame(edges, ["src", "dst"])
    noisy = spark.createDataFrame(edges + edges + [(1, 2)], ["src", "dst"])
    a = sorted(graph.random_walks(clean, n_steps=3).collect())
    b = sorted(graph.random_walks(noisy, n_steps=3).collect())
    assert a == b


def test_pagerank_random_graph_invariants(spark):
    """Randomized invariants (fixed seed): rank mass is conserved up
    to integer-floor leakage; every vertex keeps at least the base
    (1-d) mass; result is partitioning-invariant."""
    import random

    rng = random.Random(29)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(30)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    r = {x.v: x.rank_micro for x in graph.pagerank(df, n_iter=4).collect()}
    n = len(r)
    assert all(v >= 150000 for v in r.values())
    assert 0.95 * n * 1_000_000 <= sum(r.values()) <= n * 1_000_000
    r2 = {
        x.v: x.rank_micro
        for x in graph.pagerank(df.repartition(7), n_iter=4).collect()
    }
    assert r == r2


def _bpe_reference(word_counts, n_merges, min_pair_count=2):
    """Pure-Python BPE mirror (greedy left-to-right merge application,
    lexicographic tie-break) for cross-checking the distributed trainer."""
    syms = {w: list(w) for w in word_counts}
    merges = []
    for step in range(n_merges):
        counts = {}
        for w, s in syms.items():
            for x, y in zip(s, s[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + word_counts[w]
        if not counts:
            break
        # lexicographic ASC tie-break on (a, b) at equal count
        top_c = max(counts.values())
        cands = sorted([p for p, c in counts.items() if c == top_c])
        a, b = cands[0]
        if top_c < min_pair_count:
            break
        merges.append((step, a, b, a + b, top_c))
        for w, s in syms.items():
            out = []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            syms[w] = out
    return merges, syms


def test_bpe_train_matches_reference(spark):
    docs = [
        (1, "low low low low low lower lower"),
        (2, "newest newest newest newest newest newest"),
        (3, "widest widest widest"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    merges_df, sym_df = textstats.bpe_train(df, n_merges=6)
    got_merges = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in merges_df.orderBy("step").collect()
    ]
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    want_merges, want_syms = _bpe_reference(counts, 6)
    assert got_merges == want_merges
    got_syms = {r.w: list(r.syms) for r in sym_df.collect()}
    assert got_syms == want_syms
    # merged symbols must reconstruct their words exactly
    assert all("".join(s) == w for w, s in got_syms.items())


def test_bpe_train_batched_matches_sequential(spark):
    """The merge_batch>1 fast path must be bit-identical to the
    sequential trainer — including the adversarial cases the batch
    rule exists for: self-pairs (aaa → merging (a,a) spawns (aa,a)
    pairs bounded by its own count), overlapping top pairs, count
    ties at the batch boundary, and string-aliased merged symbols
    (a candidate whose symbol equals another candidate's
    concatenation — (a,'bc') vs ('abc',d) — must not be batched as
    if disjoint)."""
    import random

    rng = random.Random(7)
    alphabet = "abcde"
    words = {}
    for _ in range(60):
        w = "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 8)))
        words[w] = words.get(w, 0) + rng.randrange(1, 5)
    # force the documented adversaries
    words["aaaa"] = 9
    words["aaab"] = 9
    words["abab"] = 7
    # string-aliasing pressure: once (b,c)→'bc' and (a,'bc')→'abc'
    # merge, candidates over 'abc' coexist with pairs whose
    # concatenation spells 'abc' from different splits
    words["abcd"] = 8
    words["eabc"] = 8
    words["bcbc"] = 6
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(sorted(words.items()))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    want_merges, want_syms = _bpe_reference(
        {w: c for w, c in words.items()}, 12
    )
    for batch in (1, 3, 8):
        merges_df, sym_df = textstats.bpe_train(df, n_merges=12, merge_batch=batch)
        got = [
            (r.step, r.left, r.right, r.merged, r.pair_count)
            for r in merges_df.orderBy("step").collect()
        ]
        assert got == want_merges, f"merge_batch={batch}"
        got_syms = {r.w: list(r.syms) for r in sym_df.collect()}
        assert got_syms == want_syms, f"merge_batch={batch}"


def test_new_operators_tolerate_empty_inputs(spark):
    """Degenerate-input sweep for this round's operators: empty in,
    empty (or empty-merge) out — never a throw."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from udacity_data_wrangling_osm_case_study_spark.operators import graph, temporal

    empty_docs = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])
    )
    empty_vecs = spark.createDataFrame(
        [], StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ])
    )
    empty_edges = spark.createDataFrame(
        [], StructType([
            StructField("src", LongType()),
            StructField("dst", LongType()),
        ])
    )
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0])], ["cell", "centroid"]
    ).selectExpr("cell", "transform(centroid, x -> CAST(x AS DOUBLE)) AS centroid")

    assert dedup.semantic_dedup(empty_vecs, seeds).count() == 0
    stats = similarity.sq_minmax(empty_vecs)
    assert similarity.sq_encode(empty_vecs, stats).count() == 0
    assert graph.pagerank(empty_edges).count() == 0
    assert graph.triangle_count(empty_edges).collect()[0].n_triangles == 0
    assert textstats.bigram_surprisal(empty_docs).count() == 0
    merges, syms = textstats.bpe_train(empty_docs, n_merges=3)
    assert merges.count() == 0 and syms.count() == 0
    empty_windows = spark.createDataFrame(
        [], StructType([
            StructField("event_type", StringType()),
            StructField("ws", LongType()),
            StructField("n", LongType()),
        ])
    )
    assert temporal.trailing_spikes(empty_windows, order_col="ws").count() == 0


def test_snapshot_diff_classifies_ops(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import upsert

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        ["k", "name", "val"],
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged → no row
         (2, "b", 21.0),        # value update
         (3, "c", 30.0),        # NULL → value is an update too
         (5, "e", 50.0)],       # insert; 4 missing → delete
        ["k", "name", "val"],
    )
    got = {
        (r.k, r.op)
        for r in upsert.snapshot_diff(old, new, "k", ["name", "val"]).collect()
    }
    assert got == {(2, "U"), (3, "U"), (4, "D"), (5, "I")}


def test_khop_reach_hand_computed(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    # path graph 1-2-3-4-5 plus an isolated edge 8-9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,), (3,), (8,)], ["seed"])
    got = {r.seed: r.n_reach for r in graph.khop_reach(edges, seeds, k=2).collect()}
    # from 1: {2, 3}; from 3: {1, 2, 4, 5}; from 8: {9}
    assert got == {1: 2, 3: 4, 8: 1}


def test_khop_reach_counts_each_vertex_once(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    # diamond: 1-2, 1-3, 2-4, 3-4 — vertex 4 reachable two ways from 1
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 4), (3, 4)], ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["seed"])
    got = {r.seed: r.n_reach for r in graph.khop_reach(edges, seeds, k=2).collect()}
    assert got == {1: 3}


def test_bfs_hops_min_distance_on_diamond_with_shortcut(spark):
    from pyspark.sql import functions as F

    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    # diamond 1-2, 1-3, 2-4, 3-4 plus shortcut 1-4 and a tail 4-5:
    # from 1 the diamond's far corner is at hop 1 (via the shortcut),
    # never relabeled to 2 by the longer paths; 5 is at hop 2.
    und = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (1, 4), (4, 5)], ["src", "dst"]
    )
    sym = und.unionAll(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = spark.createDataFrame([(1,), (5,)], ["seed"])
    got = {
        (r.seed, r.v): r.hop
        for r in graph.bfs_hops(sym, seeds, n_hops=2).collect()
    }
    assert got == {
        (1, 1): 0,
        (1, 2): 1,
        (1, 3): 1,
        (1, 4): 1,
        (1, 5): 2,
        (5, 5): 0,
        (5, 4): 1,
        (5, 1): 2,
        (5, 2): 2,
        (5, 3): 2,
    }


def test_histogram_median_matches_sorted_definition(spark):
    import random

    from udacity_data_wrangling_osm_case_study_spark.operators import stats

    rng = random.Random(3)
    rows = [(k, rng.randint(0, 9)) for k in ("a", "b") for _ in range(rng.choice([51, 52]))]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {r.k: (r.n, r.median) for r in stats.histogram_median(df, "k", "v").collect()}
    for k in ("a", "b"):
        vals = sorted(v for kk, v in rows if kk == k)
        assert got[k] == (len(vals), vals[(len(vals) + 1) // 2 - 1])


def test_histogram_median_heavy_ties(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import stats

    # one bucket holds the rank: 10x1, 5x2, 1x3 -> n=16, rank 8 -> value 1
    rows = [("k", 1)] * 10 + [("k", 2)] * 5 + [("k", 3)]
    df = spark.createDataFrame(rows, ["k", "v"])
    assert stats.histogram_median(df, "k", "v").collect()[0].median == 1


def _bpe_encode_reference(word: str, merges: list[tuple[str, str]]) -> list[str]:
    syms = list(word)
    for a, b in merges:
        out = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def test_bpe_encode_applies_merge_table_to_unseen_text(spark):
    merges = [("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t")]
    docs = [(1, "low lowest slow"), (2, "best low")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in textstats.bpe_encode(df, merges).collect()
    }
    def n_toks(text):
        return sum(len(_bpe_encode_reference(w, merges)) for w in text.split())
    want = {i: (len(t.split()), n_toks(t)) for i, t in docs}
    assert got == want
    # sanity: "low" collapses to one token; "slow" keeps the s prefix
    # but still benefits from the (l,o) and (lo,w) merges
    assert _bpe_encode_reference("low", merges) == ["low"]
    assert _bpe_encode_reference("slow", merges) == ["s", "low"]
    assert _bpe_encode_reference("lowest", merges) == ["low", "est"]


def test_histogram_median_weighted(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import stats

    # weights: value 1 w=3, value 5 w=2, value 9 w=2 -> W=7, target 4
    # cumulative: 3, 5, 7 -> first cum >= 4 is value 5
    rows = [("k", 1, 3), ("k", 5, 2), ("k", 9, 2)]
    df = spark.createDataFrame(rows, ["k", "v", "w"])
    got = stats.histogram_median(df, "k", "v", weight="w").collect()[0]
    assert (got.n, got.median) == (7, 5)
    # expanding weights to rows gives the same unweighted median
    expanded = spark.createDataFrame(
        [("k", v) for (_, v, w) in rows for _ in range(w)], ["k", "v"]
    )
    got2 = stats.histogram_median(expanded, "k", "v").collect()[0]
    assert (got2.n, got2.median) == (7, 5)


def test_prefix_filter_exact_recall_vs_full_index(docs):
    """Prefix filtering must recover EXACTLY the pairs the full
    inverted index finds at the same threshold (the PPJoin prefix
    principle is lossless)."""
    sh = dedup.word_shingles(docs)
    got = {
        (r.id_a, r.id_b): r.jaccard_bp
        for r in dedup.prefix_filter_pairs(sh, 3, 5).collect()
    }
    full = {
        (r.id_a, r.id_b): int(r.jaccard * 10000 // 1)
        for r in dedup.jaccard_pairs(sh, min_jaccard=0.0).collect()
        if 8 * r.inter >= 3 * (r.size_a + r.size_b)
    }
    assert set(got) == set(full)
    # docs 1/2 share 6/8 trigrams -> J=0.75 >= 0.6; docs 1/4 identical
    assert (1, 2) in got and (1, 4) in got
    assert got[(1, 4)] == 10000


def test_similarity_pairs_both_physical_paths_agree(docs):
    """The inverted-index front door and the PPJoin prefix filter are
    two exact algorithms for the same join: at the threshold the
    queries use they must return identical rows on all six columns."""
    sh = dedup.word_shingles(docs)
    via_inverted = {tuple(r) for r in dedup.similarity_pairs(sh, 1, 2).collect()}
    via_prefix = {tuple(r) for r in dedup.prefix_filter_pairs(sh, 1, 2).collect()}
    assert via_inverted == via_prefix
    assert via_inverted  # the fixture corpus has planted dup pairs


def test_set_similarity_front_doors_fire_no_job_while_building(spark, docs):
    """Building the pair plans is lazy: no job runs before an action
    (a plan-time probe would fire its job here)."""
    sc = spark.sparkContext
    sh = dedup.word_shingles(docs)  # uncached
    group = "front-doors-build"
    sc.setJobGroup(group, "build similarity_pairs and containment_pairs")
    try:
        dedup.similarity_pairs(sh, 1, 2)
        dedup.containment_pairs(sh, 4, 5)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()


def test_jaccard_pairs_candidate_docvec_matches_full(docs):
    """The round-13 docvec rewrite of jaccard_pairs' candidates path
    must reproduce the token-level inverted-index path exactly: with
    the candidate set equal to ALL co-shingled pairs, the verify-only
    path and the full path must return the same rows — including the
    implicit inter >= 1 behavior (pairs sharing no shingle never
    appear) and the float jaccard rounding."""
    sh = dedup.word_shingles(docs)
    full = dedup.jaccard_pairs(sh)
    all_pairs = full.select("id_a", "id_b")
    via_docvec = {
        tuple(r) for r in dedup.jaccard_pairs(sh, candidates=all_pairs).collect()
    }
    via_full = {tuple(r) for r in full.collect()}
    assert via_docvec == via_full
    assert via_full  # the fixture corpus has planted dup pairs
    # a candidate pair with NO shared shingle must stay absent — built
    # from two synthetic docs whose shingle sets are disjoint BY
    # CONSTRUCTION (ADVICE r13: the old first-two-real-docs pair was
    # guarded by `if disjoint.count()`, so the negative branch silently
    # never ran when those docs happened to co-shingle)
    spark_ = sh.sparkSession
    synth_sh = spark_.createDataFrame(
        [(900001, "alpha only shingle"), (900002, "beta only shingle")],
        ["id", "shingle"],
    )
    disjoint = spark_.createDataFrame([(900001, 900002)], ["id_a", "id_b"])
    got = dedup.jaccard_pairs(
        sh.unionAll(synth_sh), candidates=disjoint
    ).collect()
    assert got == []


def test_containment_adaptive_both_paths_agree(docs):
    """containment_pairs against a pure-Python brute force over the
    fixture's shingle sets: smaller side contained (ties → lower id),
    C = |A∩B|/|A| ≥ 4/5, basis points floored."""
    sh = dedup.word_shingles(docs)
    sets: dict[int, set[str]] = {}
    for r in sh.collect():
        sets.setdefault(r.id, set()).add(r.shingle)
    want = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            inter = len(sa & sb)
            if (len(sa), a) < (len(sb), b) and inter and 5 * inter >= 4 * len(sa):
                want.add((a, b, inter, len(sa), inter * 10000 // len(sa)))
    got = {tuple(r) for r in dedup.containment_pairs(sh, 4, 5).collect()}
    assert got == want
    assert got


def test_payload_byte_grams_positions_and_short_drop(spark):
    df = spark.createDataFrame(
        [(1, "abcdef"), (2, "abc")], ["doc_id", "text"]
    )
    media = multimodal.documents_as_media(df)
    grams = multimodal.payload_byte_grams(media, gram_bytes=4, stride_bytes=2)
    rows = sorted((r.id, r.tok) for r in grams.collect())
    # 'abcdef' -> hex 616263646566; 4-byte grams at byte strides of 2:
    # bytes[0:4]='abcd', bytes[2:6]='cdef'
    assert rows == [(1, "61626364"), (1, "63646566")]
    # doc 2 is 3 bytes < one gram -> no rows at all (no fingerprint)
    assert all(i == 1 for i, _ in rows)


def test_media_simhash_identical_payloads_collide(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "the same payload bytes"), (2, "the same payload bytes"),
         (3, "completely different content here")],
        ["doc_id", "text"],
    )
    media = multimodal.documents_as_media(df)
    fp = dedup.simhash64_from_tokens(
        multimodal.payload_byte_grams(media)
    )
    got = {r.id: r.simhash for r in fp.collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    assert len(got[1]) == 64 and set(got[1]) <= {"0", "1"}


def test_blocked_candidates_union_of_passes(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import linkage

    a = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20)], ["id", "blk1", "blk2"]
    )
    b = spark.createDataFrame(
        # 101 shares blk1 with 1; 102 shares only blk2 with 2;
        # 103 shares nothing
        [(101, "x", 99), (102, "z", 20), (103, "w", 77)],
        ["id", "blk1", "blk2"],
    )
    got = {
        (r.id_a, r.id_b)
        for r in linkage.blocked_candidates(
            a, b, "id", "id", passes=[["blk1"], ["blk2"]]
        ).collect()
    }
    assert got == {(1, 101), (2, 102)}


def test_record_linkage_recall_on_true_pairs(spark):
    from udacity_data_wrangling_osm_case_study_spark.plans.registry import load_all

    q, _ = load_all()
    out = q["record_linkage_matches"](spark, "/root/testdata/sf0.001").collect()
    true_matched = {r.id_a for r in out if r.id_a == r.id_b}
    n_cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count()
    # most corrupted copies disagree on few enough fields that one
    # blocking key survives and the score clears the threshold; only
    # multiply-corrupted records (several modulus classes at once) are
    # legitimately lost - the designed FS trade-off
    assert len(true_matched) >= 0.85 * n_cust
    # scores are bounded by the weight design
    assert all(35 <= r.score <= 90 for r in out)


def test_rbo_weight_table_identities():
    from udacity_data_wrangling_osm_case_study_spark.plans.similarity_queries import (
        _RBO_DEN,
        _RBO_S,
    )

    # S[m] is the suffix sum of w_d = 2^(10-d) * 2520 / d
    w = [2 ** (10 - d) * 2520 // d for d in range(1, 11)]
    assert all(2 ** (10 - d) * 2520 % d == 0 for d in range(1, 11))
    assert _RBO_S == [sum(w[m:]) for m in range(10)]
    # identical rankings contribute S[r] at every rank r -> exactly DEN
    assert sum(_RBO_S) == _RBO_DEN


def test_ann_rank_overlap_rbo_bounds(spark):
    from udacity_data_wrangling_osm_case_study_spark.plans.registry import load_all

    q, _ = load_all()
    row = q["ann_rank_overlap_rbo"](spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= row.n_common <= 10
    assert 0 <= row.rbo_pm <= 1000
    # identical 10-row rankings would give exactly 1000 permille; any
    # missing/reordered doc must strictly reduce the score
    if row.n_common < 10:
        assert row.rbo_pm < 1000


def test_containment_pairs_finds_quote_jaccard_misses(spark):
    quote = "to be or not to be that is the question"
    page = (
        "the prince wonders aloud " + quote +
        " and the court listens in silence while the play continues "
        "with many other lines entirely unrelated to the famous one "
        "spoken before the assembled audience of the danish court"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, page), (3, "nothing shared with those")],
        ["doc_id", "text"],
    )
    sh = dedup.word_shingles(df)
    got = {
        (r.contained_id, r.container_id): r.containment_bp
        for r in dedup.containment_pairs(sh, 4, 5).collect()
    }
    assert got == {(1, 2): 10000}  # quote fully contained, nothing else
    # jaccard on the same pair is far below any dedup threshold
    j = {
        (r.id_a, r.id_b): r.jaccard for r in dedup.jaccard_pairs(sh).collect()
    }[(1, 2)]
    assert j < 0.3


def test_bloom_prefilter_no_false_negatives(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep = dedup.bloom_prefilter_report(docs).collect()
    # every exact contamination hit must appear among bloom candidates
    assert all(r.n_candidates >= r.n_exact for r in rep)
    assert all(r.n_false_pos == r.n_candidates - r.n_exact for r in rep)
    exact_docs = {
        r.doc_id for r in dedup.contamination_report(docs).collect()
    }
    bloom_docs = {r.doc_id for r in rep}
    assert exact_docs <= bloom_docs


def test_leakage_safe_split_keeps_clusters_together(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = dedup.word_shingles(docs).cache()
    pairs = dedup.jaccard_pairs(sh, min_jaccard=0.5).select("id_a", "id_b")
    out = sampling.leakage_safe_split(docs, pairs)
    split_of = {r.id: r.split for r in out.collect()}
    plist = pairs.collect()
    assert len(plist) > 0
    # the leakage guarantee: every near-dup pair lands on ONE side
    for p in plist:
        assert split_of[p.id_a] == split_of[p.id_b]
    # and the split still covers every document with sane proportions
    assert len(split_of) == docs.count()
    from collections import Counter

    c = Counter(split_of.values())
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_session7_operators_tolerate_empty_inputs(spark):
    """Degenerate-input sweep for this session's operators: empty
    frames in, empty frames (or all-zero reports) out — never a throw."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from udacity_data_wrangling_osm_case_study_spark.operators import (
        linkage,
        sampling,
        temporal,
        validation,
    )

    empty_docs = spark.createDataFrame(
        [], StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ])
    )
    sh = dedup.word_shingles(empty_docs)
    assert dedup.containment_pairs(sh).count() == 0
    assert dedup.bloom_prefilter_report(empty_docs).count() == 0
    media = multimodal.documents_as_media(empty_docs)
    grams = multimodal.payload_byte_grams(media)
    assert grams.count() == 0
    assert dedup.simhash64_from_tokens(grams).count() == 0

    empty_ev = spark.createDataFrame(
        [], StructType([
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("cents", LongType()),
        ])
    )
    assert temporal.resample_interp(
        empty_ev, key="user_id", time_col="ts", value_col="cents",
        bucket_seconds=3600,
    ).count() == 0

    empty_kv = spark.createDataFrame(
        [], StructType([
            StructField("g", LongType()),
            StructField("id", LongType()),
            StructField("v", LongType()),
        ])
    )
    assert temporal.value_band_join(
        empty_kv, empty_kv, keys=["g"], left_val="v", right_val="v",
        max_diff=10,
    ).count() == 0
    assert validation.bucket_digest(empty_kv, [F.col("id"), F.col("v")]).count() == 0
    assert linkage.blocked_candidates(
        empty_kv, empty_kv, "id", "id", passes=[["g"], ["v"]]
    ).count() == 0

    empty_pairs = spark.createDataFrame(
        [], StructType([
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
        ])
    )
    # no near-dup pairs -> every doc is its own cluster; split still total
    docs_one = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    out = sampling.leakage_safe_split(docs_one, empty_pairs).collect()
    assert len(out) == 1 and out[0].comp == 1


def test_random_walks_deterministic_and_edge_valid(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (4, 1), (1, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = graph.random_walks(df, n_steps=3)
    rows = {(r.anchor, r.step): r.context for r in out.collect()}
    # one walker per vertex, one position per step
    assert len(rows) == 4 * 3 and out.count() == 12
    # every step follows an actual edge of the graph
    edge_set = set(edges)
    pos = {a: a for a in (1, 2, 3, 4)}
    for step in (1, 2, 3):
        for a in (1, 2, 3, 4):
            nxt = rows[(a, step)]
            assert (pos[a], nxt) in edge_set, (a, step, pos[a], nxt)
            pos[a] = nxt
    # partitioning-invariant (salted hash, no RNG state)
    rows2 = {
        (r.anchor, r.step): r.context
        for r in graph.random_walks(df.repartition(5), n_steps=3).collect()
    }
    assert rows == rows2
    # re-salting yields a different (still edge-valid) corpus
    rows3 = {
        (r.anchor, r.step): r.context
        for r in graph.random_walks(df, n_steps=3, salt="epoch2").collect()
    }
    assert rows3 != rows


def test_negln_micro_48_tracks_real_log(spark):
    """The integer micro-nat -ln(u) must track math.log within the
    documented half-mantissa-cell bound (~0.2% relative) across the
    full 48-bit range, including the n<9 small-h regime and h=0."""
    import math

    from udacity_data_wrangling_osm_case_study_spark.operators import sampling as s

    hs = [0, 1, 2, 3, 255, 256, 257, 65535, 2**24 + 12345,
          2**47 - 1, 2**47, 2**48 - 1, 987654321987]
    df = spark.createDataFrame([(h,) for h in hs], ["h"])
    got = {
        r.h: r.v
        for r in df.select(
            "h", s.negln_micro_48(F.col("h")).alias("v")
        ).collect()
    }
    for h in hs:
        hh = max(h, 1)
        want = -math.log(hh / 2.0**48) * 1_000_000
        # absolute slack of ln(1 + 1/512)*1e6 ≈ 1951 micro-nats
        assert abs(got[h] - want) <= 1960, (h, got[h], want)


def test_weighted_bottom_k_aes_deterministic(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import sampling as s

    rows = [(i, (i % 7) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    a = [r.id for r in s.weighted_bottom_k_aes(df, "doc_id", "w", 20).collect()]
    b = [
        r.id
        for r in s.weighted_bottom_k_aes(
            df.repartition(7), "doc_id", "w", 20
        ).collect()
    ]
    assert a == b and len(a) == 20
    c = [
        r.id
        for r in s.weighted_bottom_k_aes(df, "doc_id", "w", 20, salt="e2").collect()
    ]
    assert set(c) != set(a)  # re-salt draws an independent sample


def test_random_walks_partition_validation_and_reliable_checkpoint(
    spark, tmp_path
):
    """The corpus does not depend on the input partitioning, and the
    reliable-checkpoint mode for executor-churn clusters (a session
    checkpoint directory) yields the identical corpus as the
    local-checkpoint path."""
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])

    def corpus(frame):
        return {
            (r.anchor, r.step): r.context
            for r in graph.random_walks(frame, n_steps=2).collect()
        }

    had_dir = spark.sparkContext.getCheckpointDir()
    local = corpus(df)
    assert corpus(df.repartition(3)) == local
    # The checkpoint directory is session-wide and flips EVERY
    # superstep operator to reliable snapshots, so restore the shared
    # fixture session's setting or later tests inherit reliable mode.
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = corpus(df)
    finally:
        if had_dir is None:
            spark.sparkContext._jsc.sc().setCheckpointDir(None)
        else:
            spark.sparkContext.setCheckpointDir(had_dir)
    assert local == reliable and len(local) == 3 * 2


def test_clustering_coefficient_hand_graph(spark):
    """Triangle 1-2-3 plus pendant 4-1: cc(1)=2/6, cc(2)=cc(3)=1,
    vertex 4 (deg 1) excluded; wedge-only vertex graphs get cc 0."""
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], ["src", "dst"]
    )
    got = {
        r.v: (r.deg, r.n_tri, r.cc_pm)
        for r in graph.clustering_coefficient(edges).collect()
    }
    assert got == {1: (3, 1, 333), 2: (2, 1, 1000), 3: (2, 1, 1000)}

    path = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    got2 = {
        r.v: (r.deg, r.n_tri, r.cc_pm)
        for r in graph.clustering_coefficient(path).collect()
    }
    assert got2 == {2: (2, 0, 0)}


def test_clustering_coefficient_assume_canonical_matches_default(spark):
    """assume_canonical=True on an already-canonical frame (src < dst,
    unique, no self-loops) must be row-identical to the default path —
    the opt-in only skips the normalize+distinct re-shuffle. The frame
    mixes triangles, a bridge, and a pendant so degrees, triangle
    counts and the deg>=2 filter are all exercised."""
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    canonical = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6), (6, 7)],
        ["src", "dst"],
    )
    default = {
        tuple(r) for r in graph.clustering_coefficient(canonical).collect()
    }
    fast = {
        tuple(r)
        for r in graph.clustering_coefficient(
            canonical, assume_canonical=True
        ).collect()
    }
    assert default == fast and len(default) == 6


def test_label_propagation_two_triangles(spark):
    """Two triangles {1,2,3} and {4,5,6} bridged by 3-4: after 3
    deterministic supersteps (mode of neighbor labels, ties -> min)
    each triangle converges to one community; result is partitioning-
    invariant."""
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    und = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, ["src", "dst"])
    got = {r.v: r.lbl for r in graph.label_propagation(df, n_iter=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    got2 = {
        r.v: r.lbl
        for r in graph.label_propagation(df.repartition(7), n_iter=3).collect()
    }
    assert got2 == got


def test_kcore_peel_hand_graph(spark):
    """Triangle {1,2,3} + chain 3-4-5: 2-core peeling removes 5
    (deg 1) in round 1, then 4 (deg dropped to 1) in round 2 — the
    exact 2-core {1,2,3} with in-core degree 2 each. Result is
    partitioning-invariant."""
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    und = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, ["src", "dst"])
    got = {r.v: r.core_deg for r in graph.kcore_peel(df, k=2, n_rounds=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    got2 = {
        r.v: r.core_deg
        for r in graph.kcore_peel(df.repartition(5), k=2, n_rounds=3).collect()
    }
    assert got2 == got
    # k higher than any degree empties the graph
    assert graph.kcore_peel(df, k=4, n_rounds=2).count() == 0


def test_mannwhitney_matches_bruteforce_midranks(spark):
    import numpy as np

    from udacity_data_wrangling_osm_case_study_spark.plans.window_queries import (
        mannwhitney_click_view,
    )

    sf_dir = "/root/testdata/sf0.001"
    row = mannwhitney_click_view(spark, sf_dir).collect()[0]
    pdf = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "event_type", "cast(round(value * 100) as long) as v"
        )
        .filter("event_type in ('click', 'view')")
        .toPandas()
    )
    a = pdf[pdf.event_type == "click"].v.to_numpy()
    b = pdf[pdf.event_type == "view"].v.to_numpy()
    both = np.concatenate([a, b])
    # midranks via double-rank trick: 2*midrank = rank_min + rank_max
    order = np.argsort(both, kind="stable")
    ranks_lo = np.empty(len(both))
    ranks_lo[order] = np.arange(1, len(both) + 1)
    vals, inv = np.unique(both, return_inverse=True)
    mid2 = np.zeros(len(vals))
    for i in range(len(vals)):
        r = ranks_lo[inv == i]
        mid2[i] = r.min() + r.max()
    r2a = int(mid2[inv[: len(a)]].sum())
    assert row.n_a == len(a) and row.n_b == len(b)
    assert row.r2_a == r2a
    assert row.u2_a == r2a - len(a) * (len(a) + 1)


def test_gini_matches_bruteforce_sorted_definition(spark):
    from udacity_data_wrangling_osm_case_study_spark.plans.exploration import (
        customer_spend_gini,
    )

    sf_dir = "/root/testdata/sf0.001"
    row = customer_spend_gini(spark, sf_dir).collect()[0]
    spend = sorted(
        r.c
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2))) * 100 as long)"
            ).alias("c")
        )
        .collect()
    )
    n = len(spend)
    sx = sum(spend)
    i2x = sum(2 * (i + 1) * x for i, x in enumerate(spend))
    assert row.n == n
    assert row.total_cents == sx
    assert row.gini_permille == (i2x - (n + 1) * sx) * 1000 // (n * sx)


def test_feature_propagation_hand_computed(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    # path 1-2-3 (symmetric), features 100/0/100:
    # step1: h(1) = (100 + 0//1)//2 = 50, h(3) = 50,
    #        h(2) = (0 + (100+100)//2)//2 = 50
    # step2: h(1) = (50 + 50//1)//2 = 50, h(3) = 50,
    #        h(2) = (50 + (50+50)//2)//2 = 50
    und = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    from pyspark.sql import functions as F

    sym = und.unionAll(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    feats = spark.createDataFrame([(1, 100), (2, 0), (3, 100)], ["v", "h"])
    one = {
        r.v: r.h
        for r in graph.feature_propagation(sym, feats, n_iter=1).collect()
    }
    assert one == {1: 50, 2: 50, 3: 50}
    two = {
        r.v: r.h
        for r in graph.feature_propagation(sym, feats, n_iter=2).collect()
    }
    assert two == {1: 50, 2: 50, 3: 50}


def test_feature_propagation_isolated_vertex_keeps_feature(spark):
    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    feats = spark.createDataFrame([(1, 10), (2, 30), (9, 77)], ["v", "h"])
    got = {
        r.v: r.h
        for r in graph.feature_propagation(edges, feats, n_iter=1).collect()
    }
    # 1: (10 + 30//1)//2 = 20; 2: (30 + 10//1)//2 = 20; 9 untouched
    assert got == {1: 20, 2: 20, 9: 77}


def test_bellman_ford_cheap_detour_beats_direct_edge(spark):
    from pyspark.sql import functions as F

    from udacity_data_wrangling_osm_case_study_spark.operators import graph

    # direct 1-3 costs 10; detour 1-2-3 costs 2+2=4. BFS would stop at
    # the 1-hop edge; Bellman-Ford must improve 3's distance in round 2.
    und = spark.createDataFrame(
        [(1, 3, 10), (1, 2, 2), (2, 3, 2)], ["src", "dst", "w"]
    )
    sym = und.unionAll(
        und.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    seeds = spark.createDataFrame([(1,)], ["seed"])
    got = {
        r.v: r.d
        for r in graph.bellman_ford(sym, seeds, n_rounds=3).collect()
    }
    assert got == {1: 0, 2: 2, 3: 4}
    one_round = {
        r.v: r.d
        for r in graph.bellman_ford(sym, seeds, n_rounds=1).collect()
    }
    assert one_round[3] == 10  # before the detour relaxes it

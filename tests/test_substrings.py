"""Semantics tests for exact substring dedup (operators/substrings.py).

Hand-crafted corpora pin the ExactSubstr behaviors the oracle-parity
check can't isolate: span merging vs splitting at the adjacency
boundary, within-document self-repeats, sub-threshold docs, and
full-document excision.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import layout, substrings

L = 4


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _spans(spark, rows):
    return {
        (r.id, r.span_start, r.span_end)
        for r in substrings.duplicated_spans(
            _docs(spark, rows), l=L, min_count=2
        ).collect()
    }


def test_cross_doc_shared_run_marks_both_sides(spark):
    rows = [
        (1, "u1 u2 sh1 sh2 sh3 sh4 sh5 a9"),
        (2, "v1 sh1 sh2 sh3 sh4 sh5 v7 v8"),
    ]
    # 5-token shared run, L=4: two overlapping dup grams per doc merge
    # into one maximal span covering exactly the shared run.
    assert _spans(spark, rows) == {(1, 3, 7), (2, 2, 6)}
    cov = {
        r.id: (r.n_tokens, r.dup_tokens, r.share_bp)
        for r in substrings.span_coverage(
            _docs(spark, rows), l=L, min_count=2
        ).collect()
    }
    assert cov == {1: (8, 5, 6250), 2: (8, 5, 6250)}


def test_abutting_runs_merge_into_one_span(spark):
    rows = [
        (1, "r1 r2 r3 r4 q1 q2 q3 q4"),  # dup starts 1 and 5: abut
        (2, "x r1 r2 r3 r4 y"),
        (3, "z q1 q2 q3 q4 w"),
    ]
    spans_1 = {s for s in _spans(spark, rows) if s[0] == 1}
    assert spans_1 == {(1, 1, 8)}  # [1,4] + [5,8] -> one span
    cleaned = {
        r.id: (r.n_before, r.n_after, r.cleaned)
        for r in substrings.remove_duplicated_spans(
            _docs(spark, rows), l=L, min_count=2
        ).collect()
    }
    assert cleaned[1] == (8, 0, "")  # full-document excision


def test_gapped_runs_stay_separate_spans(spark):
    rows = [
        (1, "s1 s2 s3 s4 f1 t1 t2 t3 t4"),  # dup starts 1 and 6: gap
        (2, "x s1 s2 s3 s4 y"),
        (3, "z t1 t2 t3 t4 w"),
    ]
    spans_1 = {s for s in _spans(spark, rows) if s[0] == 1}
    assert spans_1 == {(1, 1, 4), (1, 6, 9)}
    cleaned = {
        r.id: (r.n_before, r.n_after, r.cleaned)
        for r in substrings.remove_duplicated_spans(
            _docs(spark, rows), l=L, min_count=2
        ).collect()
    }
    assert cleaned[1] == (9, 1, "f1")  # only the gap token survives


def test_self_repeat_within_one_doc_is_duplicated(spark):
    rows = [(1, "m1 m2 m3 m4 zz m1 m2 m3 m4")]
    assert _spans(spark, rows) == {(1, 1, 4), (1, 6, 9)}
    row = substrings.remove_duplicated_spans(
        _docs(spark, rows), l=L, min_count=2
    ).first()
    assert (row.n_before, row.n_after, row.cleaned) == (9, 1, "zz")


def test_short_docs_and_non_duplicated_docs_untouched(spark):
    rows = [(1, "aa bb"), (2, "c1 c2 c3 c4 c5"), (3, "d1 d2 d3 d4 d5")]
    assert _spans(spark, rows) == set()
    got = {
        r.id: (r.n_tokens, r.dup_tokens, r.share_bp)
        for r in substrings.span_coverage(
            _docs(spark, rows), l=L, min_count=2
        ).collect()
    }
    assert got == {1: (2, 0, 0), 2: (5, 0, 0), 3: (5, 0, 0)}
    cleaned = {
        r.id: r.cleaned
        for r in substrings.remove_duplicated_spans(
            _docs(spark, rows), l=L, min_count=2
        ).collect()
    }
    assert cleaned == {1: "aa bb", 2: "c1 c2 c3 c4 c5", 3: "d1 d2 d3 d4 d5"}


def test_min_count_threshold(spark):
    rows = [
        (1, "p1 p2 p3 p4 x"),
        (2, "p1 p2 p3 p4 y"),
        (3, "p1 p2 p3 p4 z"),
    ]
    # gram occurs 3 times: min_count=4 finds nothing, =3 finds all.
    none = substrings.duplicated_spans(
        _docs(spark, rows), l=L, min_count=4
    ).count()
    assert none == 0
    assert len(_spans(spark, rows)) == 3  # default min_count=2


def test_gram_index_lifecycle(spark, tmp_path):
    idx = str(tmp_path / "gidx")
    corpus = _docs(
        spark, [(10, "c1 c2 c3 c4 tail1"), (11, "other words here now")]
    )
    substrings.build_gram_index(corpus, idx, l=L)

    batch = _docs(spark, [(1, "c1 c2 c3 c4 zz"), (2, "n1 n2 n3 n4 n5")])
    got = {
        r.id: (r.dup_tokens, r.share_bp)
        for r in substrings.incremental_span_coverage(batch, idx).collect()
    }
    # doc 1 shares a corpus gram (1 index + 1 batch occurrence = dup);
    # doc 2's grams are corpus-unseen and batch-unique.
    assert got == {1: (4, 8000), 2: (0, 0)}

    # Appending an accepted batch makes LATER batches dedup against it.
    substrings.gram_index_append(
        _docs(spark, [(20, "n1 n2 n3 n4 yy")]), idx, "b1"
    )
    got2 = {
        r.id: r.dup_tokens
        for r in substrings.incremental_span_coverage(batch, idx).collect()
    }
    assert got2 == {1: 4, 2: 4}

    # Retried append (same batch_id) overwrites only itself — counts
    # must NOT double.
    substrings.gram_index_append(
        _docs(spark, [(20, "n1 n2 n3 n4 yy")]), idx, "b1"
    )
    got3 = {
        r.id: r.dup_tokens
        for r in substrings.incremental_span_coverage(batch, idx).collect()
    }
    assert got3 == got2

    # Batch-internal self-repeat flags with no index support at all.
    row = substrings.incremental_span_coverage(
        _docs(spark, [(3, "q1 q2 q3 q4 xx q1 q2 q3 q4")]), idx
    ).first()
    assert (row.dup_tokens, row.n_tokens) == (8, 9)


def test_intake_substring_gate_rejects_boilerplate_wrappers(
    spark, tmp_path
):
    """The ExactSubstr intake gate catches what the LSH probe cannot: a
    doc that is MOSTLY recycled spans but below whole-doc Jaccard 0.5.
    A control intake without the gram index accepts the same docs —
    proving the rejection comes from the substring gate, not the
    near-dup probe."""
    from udacity_data_wrangling_osm_case_study_spark.operators import dedup
    from udacity_data_wrangling_osm_case_study_spark.streaming import (
        corpus_intake,
    )

    seed = _docs(
        spark, [(100, "b1 b2 b3 b4 b5 b6 b7 b8 f1 f2 f3 f4 f5 f6 f7 f8")]
    ).withColumn("source", F.lit("seed"))

    def setup(tag):
        d = {k: str(tmp_path / tag / k) for k in ("acc", "idx", "gidx")}
        dedup.build_dedup_index(seed.select("doc_id", "text"), d["idx"])
        substrings.build_gram_index(
            seed.select("doc_id", "text"), d["gidx"], l=L
        )
        return d

    gated, control = setup("gated"), setup("control")
    # doc 1 wraps the seed's 8-token boilerplate run in fresh text:
    # shingle Jaccard vs the seed is 6/20 = 0.30 (< 0.5, LSH passes)
    # but span share is 8/14 = 5714 bp (> 5000, gate rejects).
    # doc 2 is clean.
    batch1 = _docs(
        spark,
        [
            (1, "b1 b2 b3 b4 b5 b6 b7 b8 u1 u2 u3 u4 u5 u6"),
            (2, "n1 n2 n3 n4 n5 n6 n7"),
        ],
    ).withColumn("source", F.lit("feed"))
    # doc 3 reuses 6 of doc 2's tokens inside fresh text: Jaccard vs
    # doc 2 is 4/10 = 0.40 (LSH passes) but span share vs the GROWN
    # gram index (doc 2 appended by batch 1) is 6/11 = 5454 bp.
    batch2 = _docs(
        spark, [(3, "n1 n2 n3 n4 n5 n6 z1 z2 z3 z4 z5")]
    ).withColumn("source", F.lit("feed"))

    for d, gidx in ((gated, gated["gidx"]), (control, None)):
        corpus_intake.intake_batch(
            batch1, 1, d["acc"], d["idx"],
            gram_index_dir=gidx, max_dup_share_bp=5000,
        )
        corpus_intake.intake_batch(
            batch2, 2, d["acc"], d["idx"],
            gram_index_dir=gidx, max_dup_share_bp=5000,
        )

    accepted = lambda d: {  # noqa: E731
        r.doc_id for r in spark.read.parquet(d["acc"]).collect()
    }
    assert accepted(control) == {1, 2, 3}  # LSH alone passes all three
    assert accepted(gated) == {2}  # the gate drops both wrappers


def test_randomized_consistency_vs_python_bruteforce(spark):
    """Third-implementation check (beyond the DuckDB oracle): on a
    seeded random corpus with heavy gram collisions, span detection,
    coverage, and removal must all agree with a direct Python
    reimplementation, and with each other (dup_tokens ==
    n_before - n_after exactly — removal excises precisely the
    covered tokens)."""
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(6)]  # tiny alphabet → many dups
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15))))
        for i in range(40)
    ]

    # Python brute force: gram census, duplicated starts, interval
    # merge per doc.
    toks = {i: t.split(" ") for i, t in rows}
    census: dict[tuple, int] = {}
    for ts in toks.values():
        for p in range(len(ts) - L + 1):
            g = tuple(ts[p : p + L])
            census[g] = census.get(g, 0) + 1
    expect = {}
    for i, ts in toks.items():
        starts = [
            p + 1
            for p in range(len(ts) - L + 1)
            if census[tuple(ts[p : p + L])] >= 2
        ]
        spans, covered = [], set()
        for p in starts:
            if spans and p - spans[-1][0] <= L:
                spans[-1] = (p, spans[-1][1])  # extend (track last start)
            else:
                spans.append((p, p))
        total = 0
        for last_start, first_start in spans:
            lo, hi = first_start, last_start + L - 1
            total += hi - lo + 1
            covered.update(range(lo, hi + 1))
        kept = [t for j, t in enumerate(ts, start=1) if j not in covered]
        expect[i] = (len(ts), total, " ".join(kept))

    docs = _docs(spark, rows)
    cov = {
        r.id: (r.n_tokens, r.dup_tokens)
        for r in substrings.span_coverage(docs, l=L, min_count=2).collect()
    }
    rem = {
        r.id: (r.n_before, r.n_after, r.cleaned)
        for r in substrings.remove_duplicated_spans(
            docs, l=L, min_count=2
        ).collect()
    }
    assert any(v[1] > 0 for v in expect.values())  # non-vacuous corpus
    for i, (n, dup, cleaned) in expect.items():
        assert cov[i] == (n, dup), f"doc {i}"
        assert rem[i] == (n, n - dup, cleaned), f"doc {i}"


def test_gram_index_meta_guards_probe_compat(spark, tmp_path):
    """The index manifest pins gram length and key encoding; a probe
    against an index built at a different L must measure at the
    INDEX's L (never the caller's default), and the registered
    ensure-helper rebuilds when the manifest doesn't match the engine's
    current encoding (a stale string-keyed index would silently probe
    empty against binary batch grams)."""
    from udacity_data_wrangling_osm_case_study_spark.plans import substring_queries as sq

    idx = str(tmp_path / "gidx")
    substrings.build_gram_index(
        _docs(spark, [(10, "a b c d e f g h")]), idx, l=3
    )
    meta = layout.read_index_meta(idx)
    assert meta == {"l": 3, "key": substrings.GRAM_KEY}
    # probe grams at the index's L=3: the 3-token overlap flags even
    # though the module-level default L is larger.
    row = substrings.incremental_span_coverage(
        _docs(spark, [(1, "x a b c y z")]), idx
    ).first()
    assert row.dup_tokens == 3

    # ensure-helper: a manifest with a foreign key encoding triggers a
    # rebuild (exercised for real when round 7 switched hex -> binary).
    import json
    import os
    import shutil

    sfd = str(tmp_path / "sf")
    os.makedirs(sfd)
    docs = _docs(spark, [(i, f"w{i} w w w") for i in range(8)])
    docs.write.parquet(os.path.join(sfd, "documents.parquet"))
    d1 = sq.ensure_gram_index(spark, sfd)
    with open(os.path.join(d1, "meta.json"), "w") as f:
        json.dump({"l": 999, "key": "legacy"}, f)
    d2 = sq.ensure_gram_index(spark, sfd)
    assert d1 == d2
    assert layout.read_index_meta(d2)["key"] == substrings.GRAM_KEY
    shutil.rmtree(d1, ignore_errors=True)


@pytest.mark.parametrize("text", ["", "one"])
def test_degenerate_documents(spark, text):
    row = substrings.remove_duplicated_spans(
        _docs(spark, [(1, text)]), l=L, min_count=2
    ).first()
    assert row.cleaned == text.strip()
    assert row.n_after == row.n_before

"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-conscious:

- **Exact**: content-hash groupBy — one shuffle on a 16-byte key.
- **MinHash + LSH**: shingle → K minhashes → B bands → bucket join.
  Hashes are md5-hex *strings* (engine-portable, deterministic) rather
  than murmur ints; the min over hex strings is a uniform permutation
  surrogate. Candidate pairs only ever form inside an LSH bucket, so
  the self-join never goes quadratic in the corpus size.
- **SimHash**: 64-bit fingerprint via per-bit majority over token md5
  bits. Near-dup docs land in equal/close fingerprints; exact-match
  clustering is a groupBy on the fingerprint, near-match search is a
  banded Hamming join (``simhash_near_pairs``).
- **N-gram Jaccard**: inverted-index (shingle) join → pair intersection
  counts → exact Jaccard. The shingle join is the scalable path: cost
  scales with sum of per-shingle df², not corpus².

At 100 TB: every stage is groupBy/join on bounded keys; no driver
collection, no UDFs. Skewed shingles (stop-phrases, boilerplate) are
dropped via the document-frequency cap (:func:`cap_shingle_df`,
``word_shingles(..., max_shingle_df=...)``) — that's the skew guard
for this operator family.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators.iterative import (
    snap_eager,
    snap_lazy,
)

HEX = "0123456789abcdef"
# Round bound of connected_components: pointer doubling closes a
# component of diameter d in ~log2(d) rounds, so 20 rounds cover
# diameters up to about 2^20; running out of rounds raises.
CC_MAX_ROUNDS = 20


def normalize_text(col):
    """Whitespace-collapse + lowercase; the canonical content form."""
    return F.regexp_replace(F.lower(F.trim(col)), "\\s+", " ")


def content_fingerprint(col):
    """128-bit content hash of the normalized text (doc fingerprint)."""
    return F.md5(normalize_text(col))


def pair_endpoints(pairs: DataFrame, out_col: str = "id") -> DataFrame:
    """Distinct endpoint ids of an (id_a, id_b) pair frame, in ONE
    pass: explode a 2-element array row-locally. The naive
    union-of-two-projections places the pair-BUILD subtree (an LSH
    self-join, a similarity join) in the plan twice — the same hazard
    graph.symmetrize removes for edge lists."""
    return (
        pairs.select(
            F.explode(F.array("id_a", "id_b")).alias(out_col)
        ).distinct()
    )


def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Exact dedup: group by content hash; keeper = min id per group."""
    return (
        df.select(F.col("doc_id").alias("id"), content_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("id").alias("keeper_id"),
            F.count("*").alias("group_size"),
        )
    )


def cap_shingle_df(shingles: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    Stop-phrases and boilerplate (license headers, nav text) appear in
    a huge fraction of a web corpus; in the inverted-index join their
    per-shingle pair count grows as df², so one hot shingle can make
    ``lsh_candidate_pairs``/``jaccard_pairs`` quadratic in the corpus —
    this cap is the skew guard for the whole shingle family. Hot
    shingles are by construction FEW (heavy-tail head), so the filter
    is a broadcast anti-join: one aggregation pass to find them, zero
    extra shuffle on the shingle frame.
    """
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return shingles.join(F.broadcast(hot), "shingle", "left_anti")


def word_shingles(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = None,
    pre_normalized: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Built with higher-order array functions (transform over a slide of
    the token array) — stays in codegen, no UDF. ``max_shingle_df``
    applies :func:`cap_shingle_df` to the result — set it when feeding
    LSH/Jaccard pipelines on corpora with boilerplate skew.

    ``pre_normalized=True`` declares that ``text_col`` ALREADY holds
    :func:`normalize_text` output and skips re-normalizing (round-13
    optimization: pipelines that materialize the normalized form for
    other stages were paying the regex pass twice per document). Do NOT
    set it for raw text: normalize_text is not idempotent at the
    byte level (trim strips spaces only, so a leading tab normalizes
    to a leading space once but to '' twice), so the flag must only
    assert a fact, never substitute for the first pass.
    """
    # Materialize the token array in its OWN projection before the
    # higher-order slide: an expression captured inside a lambda is
    # re-evaluated per array element, so inlining the split would run
    # the tokenizer once per shingle position (measured 9.5x slower at
    # sf0.1).
    norm_col = (
        F.col(text_col) if pre_normalized else normalize_text(F.col(text_col))
    )
    base = df.select(
        F.col("doc_id").alias("id"),
        F.split(norm_col, " ").alias("toks"),
    )
    tokens = F.col("toks")
    count = F.size(tokens) - (n - 1)
    # A doc shorter than n tokens has no shingles: guard with an empty
    # array — sequence(1, 0) would be DESCENDING ([1, 0]), and a slice
    # start of 0 is a runtime error.
    starts = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    slides = F.transform(starts, lambda i: F.array_join(F.slice(tokens, i, n), " "))
    out = base.select(
        "id", F.explode(F.array_distinct(slides)).alias("shingle")
    )
    if max_shingle_df is not None:
        out = cap_shingle_df(out, max_shingle_df)
    return out


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """K minhash values per doc as WIDE columns (id, h0..h{K-1}):
    min of md5(seed || shingle) per seed.

    md5-hex strings order uniformly, so the per-seed min is a
    permutation-min surrogate that is bit-identical across engines.
    Wide aggregation matters at scale: K mins in ONE groupBy pass over
    the shingle frame instead of exploding it K× and shuffling
    (id, seed) pairs — the shuffle volume is the doc count, not
    K × shingle instances.
    """
    mins = [
        F.min(
            F.md5(F.concat(F.lit(f"{s}#"), F.col("shingle")))
        ).alias(f"h{s}")
        for s in range(num_hashes)
    ]
    return shingles.groupBy("id").agg(*mins)


def lsh_bands(
    signatures: DataFrame, rows_per_band: int = 2
) -> DataFrame:
    """Slice the wide signature into bands: (id, band, band_key).

    band_key = the band's minhashes sorted and '|'-joined (order inside
    a band is irrelevant to bucket identity)."""
    hash_cols = [c for c in signatures.columns if c != "id"]
    n_bands = len(hash_cols) // rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.array_join(
                    F.array_sort(
                        F.array(
                            *[
                                F.col(hash_cols[b * rows_per_band + r])
                                for r in range(rows_per_band)
                            ]
                        )
                    ),
                    "|",
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Docs sharing any band bucket: (id_a, id_b), id_a < id_b.

    The join key is (band, band_key) — candidates never cross buckets,
    which is what keeps this sub-quadratic at corpus scale.

    ``max_bucket_size`` is the adversarial-skew guard for the bucket
    SELF-join: a bucket of b docs forms b²/2 pairs, so one giant bucket
    reintroduces the quadratic term LSH exists to avoid. Buckets that
    large are usually exact-duplicate clusters (identical text
    collides in EVERY band), which the linear exact pass
    (:func:`exact_duplicate_groups`) already collapses — the curation
    pipelines run it first. The cap is lossy for the remainder: a
    NON-identical near-duplicate that lands in a dropped hot bucket
    loses that bucket's candidate pairs, and the exact pass does not
    recover them (it only catches byte-identical text); it is only
    recovered if the pair also collides in a surviving band. Use the
    cap as a throughput guard under identical-document skew, not as a
    recall-preserving rewrite. Measured (tests/test_skew_stress.py): a
    shared boilerplate SENTENCE does NOT make a hot bucket (band keys
    hash whole signature slices, so only docs similar overall collide)
    — the cap matters only under identical-document skew, and salting
    the band key would not help there (identical docs collide under any
    salt that preserves the LSH guarantee). Default None: the
    strict-oracle registered queries keep full semantics."""
    if max_bucket_size is not None:
        hot = (
            bands.groupBy("band", "band_key")
            .agg(F.count("*").alias("b"))
            .filter(F.col("b") > max_bucket_size)
            .select("band", "band_key")
        )
        bands = bands.join(
            F.broadcast(hot), ["band", "band_key"], "left_anti"
        )
    left = bands.select(
        F.col("band"), F.col("band_key"), F.col("id").alias("id_a")
    )
    right = bands.select(
        F.col("band"), F.col("band_key"), F.col("id").alias("id_b")
    )
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def docvec_pairs(
    candidates: DataFrame,
    items: DataFrame,
    per_doc: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Merge-verify step shared by every candidate-generation family
    (MinHash-LSH, PPJoin prefix filter, weighted Jaccard): each
    candidate pair with one per-doc row joined onto both sides.

    ``candidates``: DISTINCT (id_a, id_b) pairs — what
    :func:`lsh_candidate_pairs` and the prefix-filter candidate stage
    emit. A duplicated row would duplicate its output row; rows with
    id_a >= id_b are dropped.
    ``items``: rows keyed by ``id`` (shingle hashes, raw documents).
    ``per_doc(items)`` builds one row per doc: ``id`` plus the inputs of
    the caller's measure (a hash list and its size, a token→count map
    and its total). Each per-doc column ``c`` arrives twice, as
    ``c + "a"`` and ``c + "b"`` (``id`` as ``id_a`` and ``id_b``).

    The candidate frame is snapshotted once, through
    :func:`~.iterative.snap_lazy`: the endpoint semi-join and the pair
    frame both read it, and Spark shares no subplan across DAG
    branches. ``items`` are semi-joined to the candidate docs BEFORE
    ``per_doc``, so the pass scales with the candidate set, not the
    corpus. The per-doc rows are cached, as both pair-join sides read
    them. The pair frame then joins these two doc-keyed relations and
    the caller computes its measure row-locally: no token-level row
    ever enters the pair join's shuffle.
    """
    cand = (
        candidates.select("id_a", "id_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .transform(snap_lazy)
    )
    docvecs = per_doc(items.join(pair_endpoints(cand), "id", "left_semi")).cache()

    def side(s: str) -> DataFrame:
        return docvecs.select(
            *[
                F.col(c).alias(f"id_{s}" if c == "id" else c + s)
                for c in docvecs.columns
            ]
        )

    return cand.join(side("a"), "id_a").join(side("b"), "id_b")


def _set_overlap(candidates: DataFrame, hashed: DataFrame) -> DataFrame:
    """(id_a, id_b, inter, size_a, size_b) of each candidate pair over
    the (id, g) shingle-hash sets: :func:`docvec_pairs` with each doc's
    hash list, intersected row-locally."""
    pairs = docvec_pairs(
        candidates,
        hashed,
        lambda d: d.groupBy("id").agg(
            F.collect_list("g").alias("v"),
            F.count("*").alias("size_"),  # → size_a, size_b
        ),
    )
    return pairs.withColumn(
        "inter", F.size(F.array_intersect("va", "vb")).cast("long")
    )


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact word-shingle Jaccard per pair via the inverted-index join.

    (id_a, id_b, inter, size_a, size_b, jaccard). If ``candidates`` is
    given, only those pairs are scored (the LSH-verify path,
    :func:`docvec_pairs`, same contract); otherwise all co-shingled
    pairs are scored (the :func:`similarity_pairs` and
    :func:`containment_pairs` path).
    """
    # Join on a 60-bit hash of the shingle, not the string: the
    # inverted-index shuffle carries 8-byte keys instead of ~20-char
    # strings and the probe compares longs (measured 1.5x on the pair
    # join at sf0.1). Collisions (~n²/2^61) are identical in every
    # engine — the oracle hashes the same way — and cannot create a
    # pair on their own, only nudge an intersection count. One
    # divergence under an INTRA-doc collision: the ``candidates`` path
    # (and prefix_filter_pairs, which verifies the same way) dedups
    # hash values per doc (array_intersect over the collect_list),
    # while the full inverted-index path counts join-row multiplicity
    # — so if two distinct shingles of one doc collide into one 60-bit
    # value, a candidate-verified pair can differ from the full path
    # by 1 on inter/jaccard. Acceptably rare (and absent from every
    # tested corpus — the docvec-vs-full and prefix-vs-full tests
    # would catch it); noted so that failure mode is documented
    # rather than mysterious.
    hashed = shingles.select("id", shingle_hash().alias("g"))
    if candidates is not None:
        # inter >= 1: the inverted-index path only emits co-shingled pairs
        scored = _set_overlap(candidates, hashed).filter(F.col("inter") >= 1)
    else:
        sizes = shingles.groupBy("id").agg(F.count("*").alias("sz"))
        a = hashed.select(F.col("id").alias("id_a"), "g")
        b = hashed.select(F.col("id").alias("id_b"), "g")
        inter = (
            a.join(b, "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
        # sizes is one row per doc — always broadcast-sized relative to
        # the pair frame (docs ≪ pairs); hint it so neither join
        # shuffles inter.
        scored = inter.join(
            F.broadcast(
                sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a")
            ),
            "id_a",
        ).join(
            F.broadcast(
                sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b")
            ),
            "id_b",
        )
    scored = scored.withColumn(
        "jaccard",
        F.round(
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
            6,
        ),
    )
    return scored.filter(F.col("jaccard") >= min_jaccard).select(
        "id_a", "id_b", "inter", "size_a", "size_b", "jaccard"
    )


def shingle_hash():
    """60-bit integer surrogate of the ``shingle`` string (join-key form)."""
    return F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")


# Shingling and banding of the persisted near-dup index, written to its
# meta.json (the defaults of word_shingles, minhash_signatures and
# lsh_bands).
_INDEX_CONFIG = {"num_hashes": 8, "rows_per_band": 2, "n": 3, "max_shingle_df": None}


def build_dedup_index(
    docs: DataFrame,
    index_dir: str,
) -> None:
    """Persist the near-dup index of a curated corpus as a build-once
    artifact, so each new ingest batch is deduplicated against the
    corpus WITHOUT re-shingling it (at 100 TB the corpus-side pass is
    the cost; an ingest batch is orders of magnitude smaller):

    - ``{index_dir}/bands``: (id, band, band_key) LSH bucket postings —
      the probe side joins these on (band, band_key).
    - ``{index_dir}/postings``: (id, g) hashed-shingle postings for the
      exact-Jaccard verify of candidate pairs.
    - ``{index_dir}/sizes``: (id, sz) shingle-set sizes.

    All three are plain parquet: on a cluster they'd be written
    bucketed by their join key so the probe joins are shuffle-free on
    the index side (see operators.layout for the bucketed writer).

    Each relation is partitioned by ``batch_id`` (the full build writes
    partition ``base``): :func:`dedup_index_append` adds an ingest
    batch as its own partition, and a RETRIED batch dynamically
    overwrites only its own partition — exactly-once index maintenance
    under at-least-once stream semantics.

    Publish protocol (stage-then-rename, the same discipline as
    ``substrings.build_gram_index_bucketed``): the whole index is
    written to a UNIQUE sibling staging directory and atomically
    renamed into place. Two sessions rebuilding the same ``index_dir``
    in place were measured leaving a 2x ``bands`` relation (both
    static-overwrite jobs committed part files into the shared
    directory — tests/test_index_concurrency.py); with staging, racing
    builders touch disjoint directories, one directory rename
    publishes, and the loser's equivalent build is discarded. A crash
    at any point leaves the index absent or the previous/new build
    complete, never a mix (orphaned ``.stage-``/``.old-`` siblings are
    retriable garbage, invisible to readers). The os-level rename
    targets the local-FS artifact this builder writes (meta.json
    already rides a local ``open()``); a cluster deployment on object
    storage would publish through a table format's atomic snapshot
    commit instead.
    """
    import json
    import os
    import shutil
    import uuid

    index_dir = index_dir.rstrip("/")
    stage = f"{index_dir}.stage-{uuid.uuid4().hex[:12]}"
    sh = word_shingles(docs)
    sh = sh.persist()
    try:
        _write_index_batch(
            sh,
            stage,
            "base",
            _INDEX_CONFIG["num_hashes"],
            _INDEX_CONFIG["rows_per_band"],
            overwrite_mode="static",
        )
    finally:
        sh.unpersist()
    # Persist the build configuration beside the relations: appends and
    # probes MUST use the same shingling/banding parameters or the
    # index partitions become mutually inconsistent (asymmetric
    # postings corrupt Jaccard; mismatched bands miss candidates).
    with open(os.path.join(stage, "meta.json"), "w") as f:
        json.dump(_INDEX_CONFIG, f)
    try:
        # fast path: target absent — one atomic rename publishes
        os.rename(stage, index_dir)
        return
    except OSError:
        pass
    # Rebuild over an existing index (or a race already published):
    # move the live index aside, rename the stage in; a loser whose
    # second rename ALSO fails discards its own stage — the winner's
    # published build is equivalent (same input) and stays intact.
    old = f"{index_dir}.old-{uuid.uuid4().hex[:12]}"
    try:
        os.rename(index_dir, old)
    except FileNotFoundError:
        pass
    try:
        os.rename(stage, index_dir)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
        if not os.path.isdir(index_dir):
            raise
    shutil.rmtree(old, ignore_errors=True)


def read_index_meta(index_dir: str) -> dict:
    """Load the build configuration persisted by :func:`build_dedup_index`
    (empty dict for pre-manifest indexes — callers fall back to their
    own defaults, matching the old behavior)."""
    import json
    import os

    path = os.path.join(index_dir, "meta.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _write_index_batch(
    sh: DataFrame,
    index_dir: str,
    batch_id: str,
    num_hashes: int,
    rows_per_band: int,
    overwrite_mode: str,
) -> None:
    """Write one batch's bands/postings/sizes partitions. ``static``
    overwrite wipes the whole relation (full rebuild); ``dynamic``
    replaces ONLY this batch's partition — the idempotence mechanism
    for retried micro-batches."""
    tag = F.lit(batch_id).alias("batch_id")

    def write(df, rel):
        (
            df.select("*", tag)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", overwrite_mode)
            .partitionBy("batch_id")
            .parquet(f"{index_dir}/{rel}")
        )

    sigs = minhash_signatures(sh, num_hashes)
    write(lsh_bands(sigs, rows_per_band), "bands")
    write(sh.select("id", shingle_hash().alias("g")), "postings")
    write(sh.groupBy("id").agg(F.count("*").alias("sz")), "sizes")


def dedup_index_append(
    docs: DataFrame,
    index_dir: str,
    batch_id: str,
) -> None:
    """Index MAINTENANCE: add an accepted ingest batch to an existing
    :func:`build_dedup_index` artifact so later batches dedup against
    it too — the growing-corpus half of streaming ingestion. The batch
    lands as partition ``batch_id``; a retry overwrites only itself.

    Shingling/banding parameters (incl. the ``max_shingle_df`` skew
    cap) come from the index's own persisted manifest — an append can
    never drift from the base build's configuration, which would make
    partitions mutually inconsistent (asymmetric postings corrupt the
    probe's Jaccard; mismatched bands silently miss candidates)."""
    meta = read_index_meta(index_dir)
    sh = word_shingles(
        docs,
        n=meta.get("n", 3),
        max_shingle_df=meta.get("max_shingle_df"),
    ).persist()
    try:
        _write_index_batch(
            sh,
            index_dir,
            batch_id,
            meta.get("num_hashes", 8),
            meta.get("rows_per_band", 2),
            overwrite_mode="dynamic",
        )
    finally:
        sh.unpersist()


def incremental_near_dupes(
    new_docs: DataFrame,
    index_dir: str,
    min_jaccard: float = 0.5,
    materialize: bool = False,
) -> DataFrame:
    """Near-dup pairs (new_id, index_id, jaccard) between an ingest
    batch and a :func:`build_dedup_index` artifact.

    The batch is shingled/banded fresh (it is small); the corpus side
    is read from the index. Candidates form only inside shared LSH
    buckets, and the exact-Jaccard verify touches only index postings
    of candidate docs (semi-join restriction before the posting join) —
    so probe cost scales with the batch and its bucket overlap, never
    with the corpus.

    ``materialize=True`` eagerly localCheckpoints the result and drops
    the two internal caches before returning — REQUIRED for callers
    that probe repeatedly in one session (the intake stream calls this
    every micro-batch; leaked caches would accumulate in executor
    storage for the stream's lifetime). The default keeps the plan
    lazy/inspectable; its caches live until the next catalog clear.
    """
    spark = new_docs.sparkSession
    # Probe parameters are the index's persisted build config —
    # shingling the batch differently than the corpus was shingled
    # would silently miss candidates / skew Jaccard.
    meta = read_index_meta(index_dir)
    sh_new = word_shingles(new_docs, n=meta.get("n", 3)).persist()
    sigs = minhash_signatures(sh_new, meta.get("num_hashes", 8))
    bands_new = lsh_bands(sigs, meta.get("rows_per_band", 2))
    # Inference-or-empty read-backs: an index built from an EMPTY
    # corpus has no part files, and inference would fail where an
    # empty index is a valid state (nothing to dedup against); with
    # data present, inference keeps the builder's caller-typed ids.
    from udacity_data_wrangling_osm_case_study_spark.operators.similarity import (
        read_parquet_or_empty,
    )

    bands_idx = read_parquet_or_empty(
        spark,
        f"{index_dir}/bands",
        "id bigint, band int, band_key string, batch_id string",
    )
    cand = (
        bands_new.select("band", "band_key", F.col("id").alias("new_id"))
        .join(
            bands_idx.select("band", "band_key", F.col("id").alias("index_id")),
            ["band", "band_key"],
        )
        .select("new_id", "index_id")
        .distinct()
    ).persist()

    post_new = sh_new.select(F.col("id").alias("new_id"), shingle_hash().alias("g"))
    post_new = post_new.join(
        cand.select("new_id").distinct(), "new_id", "left_semi"
    )
    post_idx = read_parquet_or_empty(
        spark, f"{index_dir}/postings", "id bigint, g bigint, batch_id string"
    ).select(F.col("id").alias("index_id"), "g")
    post_idx = post_idx.join(
        cand.select("index_id").distinct(), "index_id", "left_semi"
    )
    inter = (
        post_new.join(post_idx, "g")
        .groupBy("new_id", "index_id")
        .agg(F.count("*").alias("inter"))
        .join(cand, ["new_id", "index_id"], "left_semi")
    )
    sizes_new = sh_new.groupBy("id").agg(F.count("*").alias("size_new"))
    sizes_idx = read_parquet_or_empty(
        spark, f"{index_dir}/sizes", "id bigint, sz bigint, batch_id string"
    ).select(F.col("id").alias("index_id"), F.col("sz").alias("size_index"))
    scored = (
        inter.join(
            F.broadcast(sizes_new.withColumnRenamed("id", "new_id")), "new_id"
        )
        .join(F.broadcast(sizes_idx), "index_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("size_new") + F.col("size_index") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("new_id", "index_id", "jaccard")
    )
    if materialize:
        out = scored.transform(snap_eager)
        sh_new.unpersist()
        cand.unpersist()
        return out
    return scored


def simhash64(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: majority vote per bit of each token's
    md5 prefix (16 hex digits × 4 bits) across all token occurrences.

    Output: (id, simhash) with simhash a 64-char '0'/'1' string —
    engine-portable (the same fingerprint is computable in ANSI SQL
    from md5 hex digits, no binary types needed).

    Wide-aggregate formulation: 64 conditional sums in ONE groupBy over
    the token frame — no 64× position explode, no second shuffle (same
    shuffle-shape win as the wide minhash signatures). A 16-bit
    fingerprint caps the bucket space at 65,536 — pure collisions at
    corpus scale; 64 bits keeps exact-fingerprint groups meaningful at
    10⁹+ docs and supports banded Hamming search
    (:func:`simhash_near_pairs`).
    """
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    )
    return simhash64_from_tokens(toks)


def simhash64_from_tokens(toks: DataFrame) -> DataFrame:
    """SimHash core over an already-tokenized (id, tok) frame — shared
    by word-token text fingerprints (:func:`simhash64`) and byte-gram
    binary/media fingerprints (``multimodal.payload_byte_grams``). Same
    wide-aggregate single-shuffle shape regardless of tokenizer."""
    hashed = toks.select("id", F.md5("tok").alias("h"))
    # Decode the 16-hex-digit prefix ONCE per token into two 32-bit
    # ints; each of the 64 votes is then a shift/AND on an int instead
    # of a substring+ascii decode (measured 3.4× faster at sf0.1 —
    # the per-bit work is the hot path, tokens × 64).
    packed = hashed.select(
        "id",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("lo"),
    )

    # Majority via ones-counts: sum(bit) per position plus ONE shared
    # row count — bit b is set iff 2*ones_b > n (identical to the ±1
    # vote sum being positive; ties are 0 either way). Half the per-row
    # arithmetic of summing ±1 votes, and every aggregate is built as a
    # parsed SQL string: the 64-expression tree was costing more in
    # py4j Column construction + analysis than the whole JVM execution
    # (measured ~1.5 s of a 2.7 s wall at sf0.1).
    def ones(b: int) -> str:
        src, shift = ("hi", 31 - b) if b < 32 else ("lo", 63 - b)
        return f"sum(shiftright({src}, {shift}) & 1) AS c{b}"

    sums = packed.groupBy("id").agg(
        F.expr("count(*) AS n"), *[F.expr(ones(b)) for b in range(64)]
    )
    bit_str = ", ".join(f"if(2 * c{b} > n, '1', '0')" for b in range(64))
    return sums.select("id", F.expr(f"concat({bit_str}) AS simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame, n_bands: int = 4, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs by banded Hamming search over 64-bit
    SimHash fingerprints: (id_a, id_b, hamming).

    Pigeonhole guarantee: with ``n_bands`` equal slices, any pair at
    Hamming distance < n_bands matches exactly on at least one band —
    so candidates are found by ``n_bands`` equality self-joins on
    16-bit segments (each a bounded-key bucket join, never an all-pairs
    scan), then verified with an exact Hamming count. Cost scales with
    per-bucket df², the same sub-quadratic shape as MinHash LSH.
    ``max_hamming`` defaults to n_bands - 1, the largest distance the
    banding is complete for.
    """
    assert 64 % n_bands == 0, "bands must evenly slice the 64-bit fingerprint"
    width = 64 // n_bands
    # The fingerprint frame is referenced three times below (bands +
    # both verify sides); left lazy each reference would recompute the
    # full 64-vote aggregation. One row per doc — materialize once,
    # with the bit string also packed into two 32-bit ints so the
    # Hamming verify is two XOR+popcounts instead of 64 interpreted
    # substring compares (measured 40× faster on a 188k-candidate set).
    fp = fingerprints.select(
        "id",
        "simhash",
        F.conv(F.substring("simhash", 1, 32), 2, 10).cast("long").alias("w_hi"),
        F.conv(F.substring("simhash", 33, 32), 2, 10).cast("long").alias("w_lo"),
    ).transform(snap_eager)
    bands = fp.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("simhash", b * width + 1, width).alias(
                            "band_key"
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key"))
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), ["band", "band_key"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    fa = fp.select(
        F.col("id").alias("id_a"),
        F.col("w_hi").alias("a_hi"),
        F.col("w_lo").alias("a_lo"),
    )
    fb = fp.select(
        F.col("id").alias("id_b"),
        F.col("w_hi").alias("b_hi"),
        F.col("w_lo").alias("b_lo"),
    )
    hamming = F.bit_count(
        F.col("a_hi").bitwiseXOR(F.col("b_hi"))
    ) + F.bit_count(F.col("a_lo").bitwiseXOR(F.col("b_lo")))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def normalized_vectors(df: DataFrame) -> DataFrame:
    """(id, blk, u): unit-normalized double vectors blocked on
    ``label``, MATERIALIZED.

    The normalization is linear work and must stay linear: left lazy,
    Catalyst inlines the projection above the pair self-join and
    re-evaluates the O(d) normalize per PAIR (measured 2.8x slower at
    sf0.1). ``localCheckpoint`` materializes once and cuts the lineage;
    storage is released by the context cleaner when the frame drops out
    of scope.
    """
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = df.select(
        F.col("vec_id").alias("id"), v.alias("v"), F.col("label").alias("blk")
    )
    # Materialize the norm in its own projection: captured inside the
    # transform lambda the O(d) fold would re-run per vector element.
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    # Zero-safe: a zero vector normalizes to the zero vector (cosine 0
    # to everything) instead of an ANSI division-by-zero error — the
    # same convention as similarity.cosine and the SQL oracles.
    return (
        base.withColumn("nrm", norm)
        .select(
            "id",
            "blk",
            F.transform(
                F.col("v"),
                lambda x: F.coalesce(
                    F.try_divide(x, F.col("nrm")), F.lit(0.0)
                ),
            ).alias("u"),
        )
        .transform(snap_eager)
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Near-dup pairs by cosine similarity, blocked to avoid the full
    cross product. The blocking key is the ``label`` column (at scale:
    an LSH bucket or coarse-quantizer cell).

    Vectors are unit-normalized and MATERIALIZED before the self-join
    (:func:`normalized_vectors`), so per pair only the sequential-fold
    dot product remains. The fold is an interpreted higher-order
    function: this path is the strict-oracle expression formulation
    (bit-reproducible addition order, engine-portable SQL twin); the
    BLAS/Arrow variant (:func:`embedding_near_duplicates_arrow`) is the
    production path at 100 TB -- one SIMD matmul per block instead of
    O(pairs x dim) interpreted folds. (An unrolled 64-term codegen sum
    was measured SLOWER: the generated method blows past JVM JIT
    limits and runs as interpreted bytecode.)

    Output: (id_a, id_b, cosine) with cosine rounded to 4dp.
    """
    base = normalized_vectors(df)
    a = base.select(F.col("id").alias("id_a"), F.col("u").alias("ua"), "blk")
    b = base.select(F.col("id").alias("id_b"), F.col("u").alias("ub"), "blk")
    dot = F.aggregate(
        F.zip_with(F.col("ua"), F.col("ub"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # Null-safe block join: a missing blocking label is still a block
    # (docs must not escape dedup by lacking a label) — matches the
    # Arrow path's groupBy(block), which keeps the NULL group.
    pairs = (
        a.join(b, a["blk"].eqNullSafe(b["blk"]))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot, 4))
    )
    return pairs.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def connected_components(pairs: DataFrame) -> DataFrame:
    """Transitive closure of the duplicate-pair graph: (id, comp) where
    comp is the minimum id reachable from id — the canonical keeper of
    each near-dup cluster.

    Min-label propagation with pointer doubling: each round every
    vertex adopts the smallest label among itself and its neighbors
    (one hop), then adopts its label's label (path compression). The
    doubling step makes deep components converge in O(log diameter)
    rounds instead of O(diameter) — a 1000-edge chain closes in ~10
    rounds, not 1000 (same round bound as the small-star/large-star
    formulation, one fewer join per round for min-label semantics).

    Every round's frame is eagerly snapshotted (see
    ``operators.iterative``): the round materializes once, its lineage
    is CUT (the planner never re-analyzes a k-deep join DAG), and
    superseded round storage is released by the context cleaner when
    the previous frame goes out of scope — no cache pinning across
    rounds. The driver loop only ever sees a changed-count per round;
    label data never leaves the executors. A graph that has not
    converged within ``CC_MAX_ROUNDS`` rounds raises instead of
    returning unconverged labels. On clusters with executor churn (or
    long sessions under block-shedding memory pressure — the round-9
    30x sweep's failure mode), give the session a checkpoint directory
    (``spark.checkpoint.dir``) so each round snapshots to reliable
    storage instead of executor-local blocks.
    """
    from udacity_data_wrangling_osm_case_study_spark.operators.graph import (
        symmetrize,
    )

    edges = pairs.select("id_a", "id_b")
    # The symmetric edge frame is probed every round — materialize it
    # once with truncated lineage instead of re-shuffling the distinct.
    # symmetrize (row-local explode) rather than union-of-swap: pairs
    # is often an expensive similarity join (leakage_safe_split), and
    # the swap branch would place that build in the materialization job
    # twice.
    # (A probe-key pre-partition of sym — the label_propagation posture
    # — was A/B-measured here in round 13 and LOST ~0.8 s on
    # leakage_safe_split: the CC graph is near-dup-pair-sized, so the
    # per-round edge re-shuffle it would remove is already tiny, and
    # the pinned partition count beat AQE's coalescing locally.)
    sym = (
        symmetrize(edges, "id_a", "id_b")
        .distinct()
        .transform(snap_eager)
    )
    # Fused first hop (round 14): initialize comp(id) = min(id, min
    # neighbor) instead of comp(id) = id. The identity init spent the
    # whole first loop round (join + groupBy + doubling join + count
    # job) computing exactly this one-hop minimum; folding it into the
    # init's aggregation replaces the old vertex-distinct (same
    # exchange, groupBy(id_a) instead of distinct) and saves one full
    # round on every input. Measured at sf0.1 (leakage pair graph):
    # rounds 2 → 1, driver jobs 30 → 21, 2.9-5.7 s → 2.6-3.0 s with
    # every interleaved pair ordered; labels bit-identical. The
    # invariant comp(id) <= id still holds from the first snapshot.
    labels = (
        sym.groupBy("id_a")
        .agg(F.least(F.min("id_b"), F.col("id_a")).alias("comp"))
        .withColumnRenamed("id_a", "id")
        .transform(snap_eager)
    )
    for _ in range(CC_MAX_ROUNDS):
        neighbor_min = (
            sym.join(labels, sym.id_b == labels.id)
            .groupBy("id_a")
            .agg(F.min("comp").alias("nmin"))
            .withColumnRenamed("id_a", "id")
        )
        # One-hop step: smallest label among self and neighbors.
        # Invariant comp(id) <= id holds throughout (init comp = id).
        stepped = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                "hop"
            ),
            F.col("comp").alias("old_comp"),
        )
        # Doubling step: adopt the label of our label. parent's comp is
        # <= parent, so the jump only ever lowers the label.
        parents = stepped.select(
            F.col("id").alias("pid"), F.col("hop").alias("pcomp")
        )
        # Lazy: the changed-count action below materializes the snapshot
        # and reads the count in one job; an eager snapshot would add a
        # second driver job per round (3.1 s measured for a 256-edge run
        # at 32 shuffle partitions).
        updated = (
            stepped.join(parents, stepped.hop == parents.pid, "left")
            .select(
                "id",
                F.coalesce(F.col("pcomp"), F.col("hop")).alias("new_comp"),
                "old_comp",
            )
            .transform(snap_lazy)
        )
        changed = updated.filter(F.col("new_comp") != F.col("old_comp")).count()
        labels = updated.select("id", F.col("new_comp").alias("comp"))
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components: labels still changing after {CC_MAX_ROUNDS} rounds"
    )


# Benchmark stand-in shared by the two contamination reports: docs with
# ``id % 11 == 0`` are "the eval set"; overlap is a shared 5-token
# shingle.
_BENCH_MOD = 11
_BENCH_NGRAM = 5


def contamination_report(df: DataFrame) -> DataFrame:
    """Benchmark-contamination detection: which corpus docs share a
    word n-gram with the held-out benchmark set, and how much.

    The decontamination step of a training-data pipeline: a doc whose
    text overlaps an eval benchmark must be dropped before training.
    Benchmark membership here is ``id % 11 == 0`` (a stand-in for "the
    eval set"); overlap is any shared 5-token shingle.

    Scale shape: shingles are md5-hashed so the join key is a fixed
    16-byte value; the benchmark side (eval sets are
    thousands of prompts, the corpus is billions of docs) is broadcast,
    making the probe a map-side BroadcastHashJoin — zero shuffle on the
    corpus side; only the tiny per-doc aggregate shuffles.
    """
    sh = word_shingles(df, n=_BENCH_NGRAM).select(
        "id", F.md5("shingle").alias("gram")
    )
    bench = sh.filter(F.col("id") % _BENCH_MOD == 0).select(
        F.col("id").alias("bench_id"), "gram"
    )
    corpus = sh.filter(F.col("id") % _BENCH_MOD != 0)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
        .withColumnRenamed("id", "doc_id")
    )


def embedding_near_duplicates_arrow(
    df: DataFrame,
    threshold_bp: int = 4000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Blockwise-matmul variant of :func:`embedding_near_duplicates`:
    per block, one Arrow batch crosses to pandas and the whole pair
    grid is a single numpy ``U @ U.T`` — the BLAS path for dense
    vectors.

    This is the realistic 100 TB shape: per-block O(n²·d) work runs as
    one SIMD matmul instead of n²/2 codegen'd fold expressions, and the
    Python boundary is crossed once per block, not per pair. Blocks are
    LSH buckets / quantizer cells at scale, so each fits executor
    memory. Numerics note: numpy's pairwise summation can differ from a
    sequential fold in the last ulp; at 4-digit basis-point rounding the
    two paths agree exactly on this data (parity-tested vs the
    expression path), but a pair sitting exactly on a rounding boundary
    could in principle flip — the expression path is the strict-oracle
    variant.
    """
    import pandas as pd  # noqa: F401 (Arrow path dependency)

    def _pairs(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_bp": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine_bp": "int64"}
            )
        M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        # Zero-safe like the expression path: a zero vector normalizes
        # to the zero vector (cosine 0), not a 0/0 NaN that numpy
        # would propagate silently into the pair grid.
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        U = np.divide(M, nrm, out=np.zeros_like(M), where=nrm != 0)
        # Row-TILED U @ U.T: the full gram matrix plus triu index
        # arrays is O(n²) MEMORY per block — ~24 GB at a 32k-vector
        # block (the 100x GANN sweep's block size; time-per-pair grew
        # 3.7x there from allocation/cache pressure alone, and the
        # next scale step OOMs). Each tile is one (chunk x n) BLAS
        # matmul filtered to survivors immediately, so peak memory is
        # bounded by the tile, not the block, and the FLOPs and
        # results are bit-identical (same dot products, same rounding).
        n = len(ids)
        chunk = max(1, min(2048, (64 << 20) // max(n * 8, 1)))
        cols = np.arange(n)
        out_a, out_b, out_bp = [], [], []
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            bp = np.round((U[s:e] @ U.T) * 10000).astype("int64")
            keep = (cols[None, :] > np.arange(s, e)[:, None]) & (
                bp >= threshold_bp
            )
            li, j = np.nonzero(keep)
            a, b = ids[li + s], ids[j]
            out_a.append(np.minimum(a, b))
            out_b.append(np.maximum(a, b))
            out_bp.append(bp[li, j])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine_bp": np.concatenate(out_bp),
            }
        )

    return df.groupBy(block_col).applyInPandas(
        _pairs, schema="id_a long, id_b long, cosine_bp long"
    )


def doc_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_tokens: int = 20,
) -> DataFrame:
    """Explode docs into disjoint ``segment_tokens``-token segments.

    Row-local (one explode, no shuffle): the segmentation primitive
    shared by segment-level dedup and cross-source overlap analysis.
    Returns ``(id, seg_idx, seg_text, seg_hash)``; extra input columns
    (e.g. ``source``) pass through.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(segment_tokens)
    )
    segs = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / segment_tokens).cast("long").alias("seg_idx"),
            F.array_join(F.slice(toks, s, segment_tokens), " ").alias("seg_text"),
        ),
    )
    passthrough = [c for c in df.columns if c not in (id_col, text_col)]
    return (
        df.select(
            F.col(id_col).alias("id"), *passthrough, F.explode(segs).alias("s")
        )
        .select(
            "id",
            *passthrough,
            F.col("s.seg_idx").alias("seg_idx"),
            F.col("s.seg_text").alias("seg_text"),
        )
        .withColumn("seg_hash", F.md5("seg_text"))
    )


def segment_dedup(
    df: DataFrame,
    segment_tokens: int = 20,
) -> DataFrame:
    """Segment-level exact dedup with in-place reassembly.

    The line/paragraph-granularity dedup of web-corpus pipelines
    (CCNet / RefinedWeb / Dolma dedupe paragraphs, not whole docs):
    repeated boilerplate — headers, footers, license blocks — is
    removed from every document except the first one that carries it,
    while the unique remainder of each document survives. The corpus
    here is single-line token text, so "paragraphs" are disjoint
    ``segment_tokens``-token windows — same operator shape, different
    delimiter.

    Per document returns ``(id, n_segments, n_kept, clean_hash)``
    where ``clean_hash`` fingerprints the document reassembled from
    its surviving segments in original order. Ids must be
    non-negative (the first-occurrence key is a zero-padded decimal
    encoding).

    Scale shape: segmentation is row-local (one explode); the global
    first-occurrence choice is ONE shuffle on the 16-byte segment
    hash (map-side-combinable min); reassembly is one shuffle back on
    the doc id with an order-restoring ``sort_array`` — no windows, no
    driver state. A boilerplate segment shared by millions of docs is
    a single hot reduce key carrying an 8-byte min, not a data blob —
    skew-safe by construction.
    """
    exploded = doc_segments(
        df.select("doc_id", "text"), "doc_id", "text", segment_tokens
    ).withColumn(
        # One sortable scalar (doc, segment) key: min() is then a plain
        # map-side-combinable aggregate in both engines (struct-min is
        # not portable to the oracle). Zero-padded decimal, so string
        # order == (id, seg_idx) order with NO overflow or collision
        # for any non-negative int64 id / any segment count — an
        # arithmetic id*K+idx encoding silently wraps for large ids
        # and collides for docs with >= K segments.
        "enc",
        F.concat(
            F.lpad(F.col("id").cast("string"), 19, "0"),
            F.lit(":"),
            F.lpad(F.col("seg_idx").cast("string"), 10, "0"),
        ),
    )
    keepers = exploded.groupBy("seg_hash").agg(F.min("enc").alias("keeper_enc"))
    flagged = exploded.join(keepers, "seg_hash").withColumn(
        "kept", F.col("enc") == F.col("keeper_enc")
    )
    kept_struct = F.when(
        F.col("kept"), F.struct(F.col("seg_idx"), F.col("seg_text"))
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(kept_struct)),
                        lambda s: s.seg_text,
                    ),
                    " ",
                )
            ).alias("clean_hash"),
        )
        .withColumnRenamed("id", "doc_id")
    )


def duplicated_span_share(
    df: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Inter-document duplicated-span mass per document.

    The measurement behind substring-level dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): a
    token is *duplicated* if it sits inside any word ``n``-gram that
    also appears in at least one other document. Reports per doc the
    share of duplicated tokens — the signal that decides whether a
    corpus needs substring dedup at all, and which docs are mostly
    recycled text. (``repetition_profile`` is the intra-doc cousin;
    this one is cross-corpus.)

    Output: ``(id, n_tokens, dup_span_bp)`` — basis points of tokens
    covered by some cross-document n-gram.

    Scale shape: gram explode is row-local; the cross-doc test is one
    groupBy on the 16-byte gram hash over *doc-distinct* grams (map-
    side combinable) and one semi-join back; coverage is an exact
    union-of-intervals fold over each doc's sorted duplicate starts —
    row-local arithmetic, no window. A boilerplate gram in millions of
    docs is a hot groupBy key carrying only a count, and the semi-join
    fans out one flag per occurrence — skew-safe.
    """
    toks = F.split(normalize_text(F.col("text")), " ")
    base = df.select(F.col("doc_id").alias("id"), toks.alias("toks"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("toks") - (n - 1), F.lit(0)))
    grams = (
        base.filter(F.size("toks") >= n)
        .select(
            "id",
            F.explode(
                F.transform(
                    starts,
                    lambda s: F.struct(
                        s.alias("start"),
                        F.md5(F.array_join(F.slice("toks", s, n), " ")).alias("gh"),
                    ),
                )
            ).alias("g"),
        )
        .select("id", F.col("g.start").alias("start"), F.col("g.gh").alias("gh"))
    )
    dup_grams = (
        grams.select("id", "gh")
        .distinct()
        .groupBy("gh")
        .count()
        .filter(F.col("count") >= 2)
        .select("gh")
    )
    dup_starts = grams.join(dup_grams, "gh", "left_semi").select("id", "start").distinct()
    covered = (
        dup_starts.groupBy("id")
        .agg(F.sort_array(F.collect_set("start")).alias("S"))
        .select(
            "id",
            F.when(F.size("S") == 1, F.lit(n))
            .otherwise(
                F.expr(
                    f"aggregate(sequence(1, size(S) - 1), 0L,"
                    f" (acc, i) -> acc + least({n},"
                    f" element_at(S, i + 1) - element_at(S, i))) + {n}"
                )
            )
            .alias("covered"),
        )
    )
    return (
        base.select("id", F.size("toks").cast("long").alias("n_tokens"))
        .join(covered, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.expr("coalesce(covered, 0) * 10000 DIV n_tokens").alias(
                "dup_span_bp"
            ),
        )
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold_bp: int = 4000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-quantize the embedding space with
    k-means cells, then prune cosine-near-duplicate pairs WITHIN each
    cell only — the all-pairs O(n²) problem becomes k independent
    per-cell problems sized by the quantizer.

    ``centroids`` is a (cell, centroid) frame (train with
    :func:`similarity.train_quantizer`, or pass deterministic seeds);
    it broadcasts, so assignment is a map-only scored pass + one
    argmax shuffle. Within-cell pairs run through the blockwise-matmul
    Arrow path (:func:`embedding_near_duplicates_arrow`) — one BLAS
    ``U @ U.T`` per cell. Keeper policy is lowest-id-wins: a vector is
    dropped iff some same-cell neighbor with a smaller id clears the
    threshold (pairs are emitted id_a < id_b, so dropped == appears as
    id_b).

    Output: ``(id, cell, kept)`` with kept ∈ {0, 1} — the per-item
    prune verdict a curation pipeline filters on.

    Scale shape: at 100 TB the quantizer's k is chosen so each cell's
    vectors fit one executor's memory (the paper uses ~0.1% of corpus
    size); assignment shuffles ids+cells only, and the pair stage
    never crosses cells.
    """
    from udacity_data_wrangling_osm_case_study_spark.operators import similarity

    assign = similarity.kmeans_assign(df, centroids)
    vecs = df.select(
        F.col("vec_id").alias("id"),
        similarity.as_double_vec(F.col("embedding")).alias("v"),
    ).join(assign.select("id", "cell"), "id")
    pairs = embedding_near_duplicates_arrow(
        vecs, threshold_bp=threshold_bp, id_col="id", vec_col="v", block_col="cell"
    )
    dropped = pairs.select(F.col("id_b").alias("id")).distinct().withColumn(
        "_dropped", F.lit(1)
    )
    return (
        assign.select("id", "cell")
        .join(dropped, "id", "left")
        .select(
            "id",
            "cell",
            F.when(F.col("_dropped").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
        )
    )


def dedup_index_compact(spark, index_dir: str) -> None:
    """Index lifecycle step 3 for the LSH dedup index (build → append*
    → COMPACT): fold every streamed ``batch_id`` partition of the
    bands / postings / sizes relations back into one ``base``
    partition with a bounded file count.

    Without this, a long-running ingest stream leaves one file set per
    micro-batch in each relation and probes go file-open bound. The
    rewrite is atomic per relation (``layout.rewrite_partitioned_inplace``)
    and probe-invariant: the same postings land in the same relations,
    only the physical layout changes. The persisted ``meta.json``
    (shingling/banding config) is untouched — compaction never changes
    the index's logical content.
    """
    from udacity_data_wrangling_osm_case_study_spark.operators import layout

    for rel in ("bands", "postings", "sizes"):
        layout.rewrite_partitioned_inplace(
            spark,
            f"{index_dir}/{rel}",
            ["batch_id"],
            transform=lambda df: df.withColumn("batch_id", F.lit("base")),
            n_files=4,
        )


def prefix_filter_pairs(
    sh: DataFrame, threshold_num: int = 3, threshold_den: int = 5
) -> DataFrame:
    """Set-similarity self-join via PPJoin-style prefix filtering — the
    fourth candidate-generation family beside MinHash-LSH, the full
    inverted index, and sorted-neighborhood. For Jaccard threshold
    ``t = num/den``, each document indexes only its ``|S| − ⌈t·|S|⌉ +
    1`` RAREST shingles (global (df, shingle) order): two sets meeting
    the threshold must share a prefix token under any common total
    order, so candidates shrink to rare-token collisions while recall
    stays exactly 100% — boilerplate-heavy shingles never generate
    pairs, the failure mode a plain inverted index needs df-caps for.

    ``sh``: distinct (id, shingle). Returns (id_a, id_b, inter,
    size_a, size_b, jaccard_bp) for pairs with J ≥ t — verified with
    exact intersection counts restricted to candidates (integer
    cross-multiplied threshold, no float compare).

    Every stage after the first projection works on a 60-bit hash of
    the shingle, not the string: the df join, the per-doc rank sort,
    the candidate join, and both verify joins then shuffle 8-byte longs
    instead of ~20-char strings (the same trick — and the same
    collision analysis — as :func:`jaccard_pairs`; the (df, g) order is
    just as valid a common total order as (df, shingle)).
    """
    from pyspark.sql import Window

    hashed = sh.select("id", shingle_hash().alias("g"))
    dfreq = hashed.groupBy("g").agg(F.count("*").alias("df"))
    ranked = hashed.join(dfreq, "g")
    w = Window.partitionBy("id").orderBy("df", "g")
    wn = Window.partitionBy("id")
    pref = ranked.withColumn("rn", F.row_number().over(w)).withColumn(
        "sz", F.count("*").over(wn)
    )
    # Probing prefix (t-based) and the SHORTER indexing prefix
    # (t' = 2t/(1+t), PPJoin): a qualifying pair's MINIMUM shared token
    # sits inside the larger doc's probing prefix AND the smaller doc's
    # indexing prefix (pigeonhole on each side's required overlap), so
    # joining probe-prefix × index-prefix in both directions keeps
    # recall exactly 100% while the index side indexes ~(1−t′)·|S|
    # tokens instead of ~(1−t)·|S| — quadratically fewer collisions.
    num, den = threshold_num, threshold_den
    p_lp = F.col("sz") - F.expr(f"({num} * sz + {den} - 1) div {den}") + 1
    p_li = (
        F.col("sz")
        - F.expr(f"(2 * {num} * sz + {num} + {den} - 1) div ({num} + {den})")
        + 1
    )
    probe = pref.filter(F.col("rn") <= p_lp).select("id", "g", "rn", "sz")
    index = pref.filter(F.col("rn") <= p_li).select("id", "g", "rn", "sz")
    # PPJoin length filter at the collision stage: J ≥ t forces
    # I ≥ t/(1+t)·(szₐ+sz_b) and I ≤ min(szₐ, sz_b), so any pair with
    # num·(szₐ+sz_b) > (num+den)·min(szₐ, sz_b) can never qualify —
    # mismatched-size collisions are dropped before the dedup and the
    # verify joins ever see them (integer cross-multiplied, exact).
    size_ok = threshold_num * (F.col("sz_a") + F.col("sz_b")) <= (
        threshold_num + threshold_den
    ) * F.least("sz_a", "sz_b")
    # Positional filter: after the matched token, only
    # min(szₐ−rnₐ, sz_b−rn_b) tokens can still intersect, so the
    # overlap is ≤ 1 + that. ubound is largest at the minimum shared
    # token — which is guaranteed to be a matched row — so dropping
    # rows whose ubound falls below the required overlap
    # ⌈t/(1+t)·(szₐ+sz_b)⌉ before the dedup cannot drop a qualifying
    # pair (integer cross-multiplied, exact).
    pos_ok = (threshold_num + threshold_den) * (
        1 + F.least(F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b"))
    ) >= threshold_num * (F.col("sz_a") + F.col("sz_b"))
    cand = (
        probe.select(
            F.col("id").alias("pid"), "g",
            F.col("rn").alias("prn"), F.col("sz").alias("psz"),
        )
        .join(
            index.select(
                F.col("id").alias("iid"), "g",
                F.col("rn").alias("irn"), F.col("sz").alias("isz"),
            ),
            "g",
        )
        .filter(F.col("pid") != F.col("iid"))
        .select(
            F.least("pid", "iid").alias("id_a"),
            F.greatest("pid", "iid").alias("id_b"),
            F.when(F.col("pid") < F.col("iid"), F.col("prn"))
            .otherwise(F.col("irn")).alias("rn_a"),
            F.when(F.col("pid") < F.col("iid"), F.col("irn"))
            .otherwise(F.col("prn")).alias("rn_b"),
            F.when(F.col("pid") < F.col("iid"), F.col("psz"))
            .otherwise(F.col("isz")).alias("sz_a"),
            F.when(F.col("pid") < F.col("iid"), F.col("isz"))
            .otherwise(F.col("psz")).alias("sz_b"),
        )
        .filter(size_ok & pos_ok)
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_bp(_set_overlap(cand, hashed), threshold_num, threshold_den)


def _jaccard_bp(pairs: DataFrame, threshold_num: int, threshold_den: int) -> DataFrame:
    """(id_a, id_b, inter, size_a, size_b, jaccard_bp) for the pairs
    with J ≥ num/den — integer cross-multiplied threshold, no float
    compare; Jaccard in basis points."""
    keep = (threshold_den + threshold_num) * F.col("inter") >= threshold_num * (
        F.col("size_a") + F.col("size_b")
    )
    return pairs.filter(keep).select(
        "id_a",
        "id_b",
        "inter",
        "size_a",
        "size_b",
        F.expr("inter * 10000 div (size_a + size_b - inter)").alias("jaccard_bp"),
    )


def similarity_pairs(
    sh: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Exact set-similarity self-join — the front door for the
    J ≥ num/den pair queries: the full inverted-index join
    (:func:`jaccard_pairs`) under the integer cross-multiplied
    threshold. Building the plan fires no job.

    Returns (id_a, id_b, inter, size_a, size_b, jaccard_bp), the
    :func:`prefix_filter_pairs` schema.

    The inverted index's collision count is Σ_s df(s)²: optimal on
    low-skew corpora, quadratic once one boilerplate shingle goes hot.
    On such a corpus call :func:`prefix_filter_pairs` (PPJoin prefix
    filtering, exact, same schema) instead, or cap the shingle df at
    the source with ``word_shingles(max_shingle_df=)``.
    """
    return _jaccard_bp(jaccard_pairs(sh), threshold_num, threshold_den)


def containment_pairs(
    shingles: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """Asymmetric set-containment near-dup detection: pairs where the
    SMALLER document's shingles are mostly inside the larger one —
    C(A→B) = |A∩B| / |A| ≥ num/den. Jaccard misses these (a 50-shingle
    quote inside a 500-shingle page has J ≈ 0.1 but C = 1.0); excerpt/
    quote/boilerplate duplication in a training corpus is exactly this
    shape (Broder's containment, 1997).

    Reuses the inverted-index pair statistics (:func:`jaccard_pairs`'
    (inter, size_a, size_b) triple); containment is a different
    projection of that triple, integer cross-multiplied. Output names the direction:
    (contained_id, container_id, inter, contained_size,
    containment_bp); equal sizes break toward the lower id.
    """
    pairs = jaccard_pairs(shingles)
    small = F.least("size_a", "size_b")
    a_is_small = (F.col("size_a") < F.col("size_b")) | (
        (F.col("size_a") == F.col("size_b")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        pairs.filter(threshold_den * F.col("inter") >= threshold_num * small)
        .select(
            F.when(a_is_small, F.col("id_a")).otherwise(F.col("id_b")).alias(
                "contained_id"
            ),
            F.when(a_is_small, F.col("id_b")).otherwise(F.col("id_a")).alias(
                "container_id"
            ),
            "inter",
            small.alias("contained_size"),
            F.expr("inter * 10000 div least(size_a, size_b)").alias(
                "containment_bp"
            ),
        )
    )


_BLOOM_BITS = 8192
_BLOOM_HASHES = 4


def bloom_prefilter_report(df: DataFrame) -> DataFrame:
    """Bloom-filter prefilter for benchmark decontamination, built from
    engine-portable primitives (md5 positions + bit_or words — no
    engine-private sketch types, so the whole filter is value-checkable
    in ANSI SQL).

    The benchmark's 5-grams (the :func:`contamination_report` stand-in)
    populate an 8192-bit Bloom bitset (4 seeded md5 positions per gram,
    OR-reduced into 32-bit words); the corpus probe is then a ROW-LOCAL
    membership test — the bitset rides to every task as a one-row
    broadcast array, each corpus gram checks its 4 positions with a
    ``forall`` over a map lookup, and no corpus row ever shuffles for
    candidate generation. That is the 100 TB posture: the exact-join
    contamination check (:func:`contamination_report`) broadcasts every
    benchmark gram (16 bytes × |grams|); the Bloom prefilter broadcasts
    1 KiB TOTAL regardless of benchmark size and pays for it with a
    measurable false-positive rate — the report quantifies
    exactly that trade (per-doc candidates vs exact hits vs false
    positives). No false negatives by construction.
    """
    sh = word_shingles(df, n=_BENCH_NGRAM).select(
        "id", F.md5("shingle").alias("gram")
    )
    bench = sh.filter(F.col("id") % _BENCH_MOD == 0)
    corpus = sh.filter(F.col("id") % _BENCH_MOD != 0)

    def pos(i, gram_col):
        h = F.md5(F.concat(F.lit(f"{i}:"), gram_col))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _BLOOM_BITS

    # build: distinct benchmark grams → k positions each → 32-bit words
    bits = (
        bench.select("gram")
        .distinct()
        .select(
            F.explode(
                F.array(*[pos(i, F.col("gram")) for i in range(_BLOOM_HASHES)])
            ).alias("p")
        )
        .groupBy((F.col("p") / 32).cast("long").alias("w"))
        .agg(F.expr("bit_or(shiftleft(cast(1 as long), cast(p % 32 as int)))").alias("bits"))
    )
    # one-row broadcast bank: word → bits map (256 entries)
    bank = bits.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("bloom")
    )
    # the per-element shift amount is itself an expression, which the
    # PySpark shiftleft wrapper does not accept — the probe predicate
    # is therefore built as a parsed SQL string (SQL shiftleft takes
    # any int expression)
    ps_sql = "array(" + ", ".join(
        f"cast(conv(substring(md5(concat('{i}:', gram)), 1, 8), 16, 10)"
        f" as bigint) % {_BLOOM_BITS}"
        for i in range(_BLOOM_HASHES)
    ) + ")"
    hit_sql = (
        "forall(_ps, p -> (coalesce(element_at(bloom, p div 32),"
        " cast(0 as bigint))"
        " & shiftleft(cast(1 as bigint), cast(p % 32 as int))) != 0)"
    )
    probe = corpus.crossJoin(F.broadcast(bank)).withColumn("_ps", F.expr(ps_sql))
    cand = probe.withColumn("bloom_hit", F.expr(hit_sql)).filter("bloom_hit")
    per_doc_cand = cand.groupBy("id").agg(
        F.countDistinct("gram").alias("n_candidates")
    )
    exact = (
        corpus.join(F.broadcast(bench.select("gram").distinct()), "gram", "left_semi")
        .groupBy("id")
        .agg(F.countDistinct("gram").alias("n_exact"))
    )
    return (
        per_doc_cand.join(exact, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_candidates",
            F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"),
            (F.col("n_candidates") - F.coalesce("n_exact", F.lit(0)))
            .cast("long")
            .alias("n_false_pos"),
        )
    )

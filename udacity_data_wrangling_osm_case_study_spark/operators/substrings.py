"""Exact substring deduplication (ExactSubstr, Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better").

The reference method builds a corpus-wide suffix array and removes
every substring of >= 50 tokens that occurs twice anywhere in the
corpus. A suffix array is a single-machine data structure; the
Spark-first equivalent used here is the standard fixed-length-gram
decomposition of the same predicate:

    a maximal duplicated span of length >= L is exactly a maximal run
    of overlapping L-token grams each of which occurs >= min_count
    times in the corpus

so the pipeline is: slide an L-gram window over every document
(row-local, higher-order array functions), count gram occurrences
corpus-wide (ONE shuffle on a fixed-width 32-char md5 key — map-side
combinable), mark the starts whose gram is duplicated (semi-join on
the same key), merge overlapping starts into maximal spans (per-doc
window — each partition key is one document, never global), and
either report coverage or excise the covered tokens (row-local
``filter`` with index lambda — no per-token shuffle).

Differences from suffix-array ExactSubstr, stated rather than hidden:
grams are length-exactly-L windows, so duplicated spans are detected
at L-token granularity (a duplicated run of length L+k is found in
full; one of length < L is not found at all) — same guarantee the
reference's ``length-threshold`` gives, quantized to the gram grid.
ALL occurrences of a duplicated span are removed (the reference's
default deletes every copy too; keep-one-copy policies belong to the
pair-ranked near-dup family in :mod:`operators.dedup`).

At 100 TB: gram census and semi-join are the only shuffles, both on
bounded md5 keys with partial aggregation; span merge and excision are
per-document local. Boilerplate skew concentrates in hot grams, which
is the gram census's groupBy — hot keys are counted, never joined
pairwise (no df² term anywhere, unlike the pair-forming dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import layout
from udacity_data_wrangling_osm_case_study_spark.operators.dedup import normalize_text


def tokenized(docs: DataFrame) -> DataFrame:
    """(id, toks, n_tokens) — normalized token array per document.

    Materialized in its own projection so downstream higher-order
    lambdas never capture (and re-run) the tokenizer per element — the
    same pitfall guard as :func:`operators.dedup.word_shingles`.
    """
    return docs.select(
        F.col("doc_id").alias("id"),
        F.split(normalize_text(F.col("text")), " ").alias("toks"),
    ).select("id", "toks", F.size("toks").alias("n_tokens"))


# Gram-key encoding version, persisted in index manifests: probes must
# key grams exactly like the index build did or census joins silently
# miss. Bump when gram_starts' key changes shape.
GRAM_KEY = "md5-binary-v2"


def gram_starts(base: DataFrame, l: int) -> DataFrame:
    """(id, pos, g): every L-token gram start position, 1-based, with
    the gram's key — the FULL 16-byte binary md5 digest (unhex of the
    hex form). Full-width, not a 60-bit int surrogate, because the
    duplicated/not-duplicated decision must be bit-identical to the
    DuckDB oracle's; a truncated-hash collision would MARK a unique
    span as duplicated, which (unlike the Jaccard family, where a
    collision only nudges a count) flips an output row. Binary, not the
    32-char hex string, because this key rides the family's dominant
    shuffle (the corpus-wide census groupBy) and binary halves its key
    bytes; grouping semantics are identical since unhex is injective
    on md5 output."""
    count = F.col("n_tokens") - (l - 1)
    starts = F.when(count > 0, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return base.select(
        "id", F.explode(starts).alias("pos"), F.col("toks")
    ).select(
        "id",
        "pos",
        F.unhex(
            F.md5(F.array_join(F.slice("toks", F.col("pos"), l), " "))
        ).alias("g"),
    )


def duplicated_starts(grams: DataFrame, min_count: int = 2) -> DataFrame:
    """(id, pos) of gram starts whose gram occurs >= min_count times
    corpus-wide (counting repeats inside one document, like the
    reference: a doc that repeats its own boilerplate is deduplicated
    against itself).

    One pass, one exchange (guide §2.4 — operations keyed the same way
    share a shuffle): the corpus-wide census and the membership probe
    are the SAME partitioning by ``g``, so a whole-partition window
    count replaces the old census-groupBy + semi-join pair. That shape
    shuffled the gram frame TWICE (once into the census aggregate, once
    into the probe join) and had to persist it against double
    evaluation; the window shuffles it once and the persist — and its
    storage write of every gram row — disappears. Skew posture is
    unchanged: a hot gram lands in one task either way, and the
    min_count censuses here are near-unique-key. The STREAMING probe
    path (:func:`incremental_span_coverage`) keeps its own join shape —
    its census side is a prebuilt index, not this frame."""
    w = Window.partitionBy("g")
    return (
        grams.withColumn("n", F.count("*").over(w))
        .filter(F.col("n") >= min_count)
        .select("id", "pos")
    )


def merge_spans(starts: DataFrame, l: int) -> DataFrame:
    """Merge duplicated L-gram starts into maximal covered spans.

    A start p covers tokens [p, p+L-1]; two starts merge when their
    coverage overlaps or abuts (gap <= L). Fixed L makes coverage ends
    monotone in pos, so a lag(pos) comparison is the full interval
    merge — no running-max window. The window partitions BY DOCUMENT
    (bounded rows per key), not globally.

    Returns (id, span_start, span_end) — inclusive 1-based token range.
    """
    w = Window.partitionBy("id").orderBy("pos")
    flagged = starts.select(
        "id",
        "pos",
        F.when(
            F.col("pos") - F.lag("pos").over(w) > l, 1
        ).otherwise(0).alias("brk"),
    ).withColumn("span_id", F.sum("brk").over(w))
    return (
        flagged.groupBy("id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (l - 1)).alias("span_end"),
        )
        .select("id", "span_start", "span_end")
    )


def duplicated_spans(
    docs: DataFrame,
    l: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """(id, span_start, span_end): maximal corpus-duplicated spans per
    document. ``l`` defaults to the reference's 50-token threshold;
    the registered queries use a smaller L suited to the synthetic
    corpus's ~54-token documents."""
    base = tokenized(docs)
    return merge_spans(
        duplicated_starts(gram_starts(base, l), min_count), l
    )


def _coverage_report(base: DataFrame, starts: DataFrame, l: int) -> DataFrame:
    """(id, n_tokens, dup_tokens, share_bp) from a duplicated-start
    frame — the shared tail of :func:`span_coverage` and
    :func:`incremental_span_coverage`. Share in integer basis points
    (dup·10⁴ div n, cleared through DECIMAL(38,0) so the projection
    survives any document length); docs with no duplicated span report
    0/0bp (left join)."""
    cov = (
        merge_spans(starts, l)
        .groupBy("id")
        .agg(
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
                "dup_tokens"
            )
        )
    )
    return base.join(cov, "id", "left").select(
        "id",
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.expr(
            "cast(coalesce(dup_tokens, 0) as decimal(38,0)) * 10000"
            " div cast(n_tokens as decimal(38,0))"
        )
        .cast("long")
        .alias("share_bp"),
    )


def span_coverage(
    docs: DataFrame,
    l: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage:
    (id, n_tokens, dup_tokens, share_bp)."""
    base = tokenized(docs)
    return _coverage_report(
        base, duplicated_starts(gram_starts(base, l), min_count), l
    )


def build_gram_index(
    docs: DataFrame,
    index_dir: str,
    l: int = 50,
) -> None:
    """Persist the corpus gram census as a build-once artifact —
    ``{index_dir}/grams``: (g, n) occurrence counts of EVERY L-gram —
    so each ingest batch measures its duplicated-span share against the
    corpus WITHOUT re-gramming it (the substring twin of
    :func:`operators.dedup.build_dedup_index`; at 100 TB the
    corpus-side pass is the cost, a batch is orders of magnitude
    smaller). Counts below min_count are kept: one corpus occurrence
    plus one batch occurrence IS a duplicate, so the index must record
    singletons. Partitioned by ``batch_id`` (full build writes
    ``base``); :func:`gram_index_append` adds accepted batches as
    their own partitions with dynamic overwrite (retried batches
    replace only themselves). For the cluster layout — the relation
    bucketed by ``g`` so probe joins are shuffle-free on the index
    side — use :func:`build_gram_index_bucketed`.

    The gram length persists in ``meta.json``, published together with
    the census by ``layout.publish`` (stage, then rename — racing
    builders never mix their files): probes and appends MUST gram at
    the index's own L or counts are meaningless across partitions."""
    layout.publish(
        index_dir,
        lambda stage: _write_gram_batch(tokenized(docs), stage, l, "base"),
        {"l": l, "key": GRAM_KEY},
    )


def _write_gram_batch(
    base: DataFrame, index_dir: str, l: int, batch_id: str
) -> None:
    census = (
        gram_starts(base, l)
        .groupBy("g")
        .agg(F.count("*").alias("n"))
        .select("g", "n", F.lit(batch_id).alias("batch_id"))
    )
    layout.write_batch(census, f"{index_dir}/grams", ["batch_id"])


def gram_index_append(
    docs: DataFrame,
    index_dir: str,
    batch_id: str,
) -> None:
    """Index MAINTENANCE: record an accepted ingest batch's gram census
    as partition ``batch_id`` so later batches dedup against it too.
    The gram length comes from the index manifest — an append can never
    drift from the base build's L. A retried batch dynamically
    overwrites only its own partition through ``layout.write_batch``
    (exactly-once maintenance under at-least-once stream semantics).
    Probes SUM counts across partitions,
    so appends never need to merge with base; a periodic compaction
    (re-run :func:`build_gram_index` over the accepted corpus) folds
    partitions back to one."""
    _write_gram_batch(
        tokenized(docs),
        index_dir,
        layout.read_index_meta(index_dir).get("l", 50),
        batch_id,
    )


def incremental_span_coverage(
    new_docs: DataFrame,
    index_dir: str,
    min_count: int = 2,
) -> DataFrame:
    """Duplicated-span coverage of an ingest batch measured against a
    :func:`build_gram_index` artifact PLUS the batch itself:
    (id, n_tokens, dup_tokens, share_bp). A gram is duplicated when its
    batch count plus its summed index count reaches ``min_count`` —
    so one corpus occurrence + one batch occurrence flags, and
    batch-internal repeats flag even for corpus-unseen grams (the batch
    is self-contained, like :func:`span_coverage` on the union would
    be, without ever re-gramming the corpus).

    Probe cost: the index side is ONE scan semi-join-restricted to the
    batch's gram keys before any aggregation — per-gram counts are
    summed only for grams the batch actually contains; everything else
    (census, merge, share) is batch-sized."""
    spark = new_docs.sparkSession
    l = layout.read_index_meta(index_dir).get("l", 50)
    base = tokenized(new_docs)
    # Inference-or-empty: an index built from an EMPTY corpus has no
    # part files, and schema inference would fail where an empty index
    # is a perfectly valid state (every probe gram is corpus-unseen).
    index = layout.read_parquet_or_empty(
        spark, f"{index_dir}/grams", "g binary, n bigint, batch_id string"
    )
    return _probe_coverage(base, index, l, min_count)


def _probe_coverage(
    base: DataFrame, index: DataFrame, l: int, min_count: int
) -> DataFrame:
    """Shared probe body for the path-partitioned and bucketed index
    layouts: batch census, index semi-join-restricted to batch grams,
    duplicated-start marking, span merge (see
    :func:`incremental_span_coverage` for the counting semantics)."""
    grams = gram_starts(base, l)
    census = grams.groupBy("g").agg(F.count("*").alias("nb"))
    idx = (
        index
        .join(census.select("g"), "g", "left_semi")
        .groupBy("g")
        .agg(F.sum("n").alias("ni"))
    )
    dup = (
        census.join(idx, "g", "left")
        .filter(
            F.col("nb") + F.coalesce(F.col("ni"), F.lit(0)) >= min_count
        )
        .select("g")
    )
    starts = grams.join(dup, "g", "left_semi").select("id", "pos")
    return _coverage_report(base, starts, l)


def build_gram_index_bucketed(
    docs: DataFrame,
    table_name: str,
    l: int = 50,
    n_buckets: int = 64,
) -> None:
    """The cluster layout :func:`build_gram_index`'s docstring promises:
    the gram census persisted as a catalog table HASH-BUCKETED (and
    sorted) by ``g``, so every probe's index-side work — the semi-join
    restriction and the per-gram count sum — reads bucket files
    directly with NO exchange; only the (orders-of-magnitude smaller)
    batch census shuffles, into the index's own bucket layout. At
    100 TB the index is corpus-sized, so the exchange this removes is
    the probe's dominant cost. The gram length and key version ride
    table properties (the manifest role meta.json plays for the
    path-partitioned layout).

    Publish protocol (stage-then-rename): the census is written to a
    UNIQUE staging table, then atomically renamed over ``table_name``.
    A direct overwrite-in-place is not crash- or race-safe: two
    sessions building concurrently (separate metastores, one
    warehouse) can BOTH commit files into the shared location and the
    survivor reads a ~2x census — measured by
    tests/test_index_concurrency.py before this protocol landed. With
    staging, the racing writers touch disjoint directories and only
    the directory RENAME (atomic on local FS and HDFS) publishes; a
    loser's failed rename leaves the winner intact. The index is
    therefore always absent or complete, never half."""
    import os
    import shutil
    import uuid
    from urllib.parse import urlparse

    spark = docs.sparkSession
    stage = f"{table_name}_stage_{uuid.uuid4().hex[:12]}"
    census = (
        gram_starts(tokenized(docs), l)
        .groupBy("g")
        .agg(F.count("*").alias("n"))
    )
    (
        census.write.mode("overwrite")
        .bucketBy(n_buckets, "g")
        .sortBy("g")
        .format("parquet")
        .saveAsTable(stage)
    )
    spark.sql(
        f"ALTER TABLE {stage} SET TBLPROPERTIES"
        f" ('gram_l'='{l}', 'gram_key'='{GRAM_KEY}')"
    )
    # Clear any prior incarnation. Orphan-location cleanup is a
    # LOCAL-warehouse remedy only: on a remote warehouse (hdfs://,
    # s3a://) shutil cannot reach the location, and on a shared
    # metastore deleting by guessed path could clobber a directory
    # another catalog still references — act only when the warehouse
    # URI scheme says local filesystem and the name is unqualified
    # (managed location = <wh>/<name>).
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    wh_uri = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh_uri.scheme in ("", "file") and wh_uri.path and "." not in table_name:
        shutil.rmtree(
            os.path.join(wh_uri.path, table_name.lower()), ignore_errors=True
        )
    try:
        spark.sql(f"ALTER TABLE {stage} RENAME TO {table_name}")
    except Exception:
        # A rename failure is only benign when it means "lost the
        # publish race" — a concurrent builder renamed first, so the
        # target exists and our staged build (same input) is
        # redundant. Verify that before swallowing: if the target is
        # NOT in the catalog the failure is a real error (destination
        # dir not removable, invalid name, metastore fault) and
        # swallowing it would report success with nothing published.
        # Either way the stage is discarded — it must not leak.
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
        if wh_uri.scheme in ("", "file") and wh_uri.path:
            shutil.rmtree(
                os.path.join(wh_uri.path, stage.lower()), ignore_errors=True
            )
        if not spark.catalog.tableExists(table_name):
            raise


def _bucketed_gram_l(spark, table_name: str) -> int:
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
    }
    return int(props.get("gram_l", 50))


def incremental_span_coverage_bucketed(
    new_docs: DataFrame,
    table_name: str,
    min_count: int = 2,
) -> DataFrame:
    """:func:`incremental_span_coverage` against a
    :func:`build_gram_index_bucketed` catalog table — identical
    semantics, shuffle-free index side (asserted by the layout plan
    test)."""
    spark = new_docs.sparkSession
    l = _bucketed_gram_l(spark, table_name)
    base = tokenized(new_docs)
    return _probe_coverage(base, spark.table(table_name), l, min_count)


def remove_duplicated_spans(
    docs: DataFrame,
    l: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Excise every corpus-duplicated span, emitting cleaned text:
    (id, n_before, n_after, cleaned). The excision is ROW-LOCAL — the
    merged spans collect to a per-doc array (bounded: spans per doc <=
    n_tokens/L) and an indexed ``filter`` lambda drops covered tokens —
    so the cleaning pass adds zero shuffles beyond the span detection.
    """
    base = tokenized(docs)
    spans = (
        merge_spans(duplicated_starts(gram_starts(base, l), min_count), l)
        .groupBy("id")
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("spans"))
    )
    empty = F.array().cast(
        "array<struct<span_start:int,span_end:int>>"
    )
    joined = base.join(spans, "id", "left").select(
        "id", "toks", "n_tokens", F.coalesce("spans", empty).alias("spans")
    )
    kept = F.filter(
        "toks",
        lambda t, i: ~F.exists(
            "spans",
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return joined.select(
        "id",
        F.col("n_tokens").alias("n_before"),
        F.size(kept).alias("n_after"),
        F.array_join(kept, " ").alias("cleaned"),
    )

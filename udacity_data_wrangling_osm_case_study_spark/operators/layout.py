"""Physical data-layout utilities: partitioned and bucketed storage.

At 100 TB the table layout IS the query plan:

- **Partitioning** (directory-level): queries filtering on the
  partition column scan only matching directories — partition pruning
  shows as ``PartitionFilters`` in explain, and the pruned files are
  never opened.
- **Bucketing** (file-level hash layout): two tables bucketed by the
  same key into the same bucket count join WITHOUT a shuffle — the
  exchange disappears from the plan. This is how the orders⋈lineitem
  class of fact-fact joins survives scale: pay the shuffle once at
  write time, never again per query.

Bucketed tables go through the session catalog (``saveAsTable``) —
bucket metadata lives in the metastore, which is what lets the planner
trust the layout.

The persisted indexes (near-dup LSH, substring gram, IVF) and the
stream sinks share one store protocol, kept here: :func:`write_batch`
(idempotent batch write), :func:`publish` (atomic directory publish
with the ``meta.json`` manifest), :func:`read_index_meta` and
:func:`read_parquet_or_empty` (read-back). ``plans.registry.
ensure_index`` locates and (re)builds them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Directory-partitioned parquet: one directory per distinct
    partition-column tuple; readers prune by directory."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
) -> None:
    """Hash-bucketed catalog table. Joins and aggregations on
    ``bucket_col`` between tables sharing the layout run shuffle-free."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def dataset_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes of a dataset directory, via the Hadoop
    FileSystem API — the same call works on HDFS/S3A paths on a
    cluster, not just local disk."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    return fs.getContentSummary(p).getLength()


def compact_dataset(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite ``src`` into
    ``ceil(total_bytes / target_file_bytes)`` files at ``dst``.

    Streaming ingest and fine-grained partitioning both leave datasets
    as thousands of KB-scale files; at 100 TB the per-file open/footer
    cost then dominates scans and the NameNode/listing pressure is its
    own incident. Periodic compaction to scan-sized files is the
    standard fix (Delta OPTIMIZE / Iceberg rewrite_data_files — this is
    the plain-parquet form).

    Sizing uses the actual on-disk byte total (not a row-count guess),
    and the rewrite is one round-robin ``repartition`` — a full
    shuffle, but of exactly the data being rewritten, which is the
    floor for a rewrite. Returns the file count written.
    """
    import math

    total = dataset_bytes(spark, src)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src)
    df.repartition(n_files).write.mode("overwrite").parquet(dst)
    return n_files


def zorder_key(cols: list[str], bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    column — rows close in the key are close in EVERY dimension.

    Sorting/range-partitioning by this key before writing gives each
    parquet file a tight min/max envelope on ALL the interleaved
    columns at once, so predicate pushdown skips row groups for
    filters on any of them — the single-sort-column layout can only
    serve its leading column. This is the same layout trick Delta/
    Iceberg expose as OPTIMIZE ZORDER BY; here it is ~60 codegen'd
    shift/mask ops (built as one parsed SQL string — the py4j tree
    for bits x cols terms is plan-construction-bound otherwise).

    Inputs must already be non-negative ints; callers bucket/rank raw
    values first (``bits`` x len(cols) must stay <= 63).
    """
    n = len(cols)
    assert n * bits <= 63, "interleaved key must fit a signed long"
    terms = [
        f"shiftleft(shiftright(CAST({c} AS BIGINT), {b}) & 1, {b * n + (n - 1 - i)})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return F.expr(" + ".join(terms))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Write parquet range-partitioned on the Z-order key of ``cols``:
    ``n_files`` output splits, each covering one compact Z-range, so
    per-file column statistics are tight on every interleaved column.
    """
    keyed = df.withColumn("_z", zorder_key(cols, bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_batch(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """The one batch write of every persisted index and stream sink:
    partitioned parquet with DYNAMIC partition overwrite, so the write
    replaces only the partitions ``df`` carries. A batch tagged by its
    own partition value (``batch_id``) is therefore idempotent: an
    at-least-once retry replaces its own rows and leaves every other
    batch intact. Into a fresh directory (a build's stage) it writes
    exactly what a static overwrite would."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def publish(path: str, write, manifest: dict | None = None) -> None:
    """The one directory publish: ``write(stage)`` fills a UNIQUE
    sibling staging directory (plus ``meta.json`` when a ``manifest``
    is given, so data and manifest appear together), then a directory
    rename puts it at ``path``. Readers see the previous directory, or
    none, or the new one complete — never a partial write or a mix.

    Two writers publishing one ``path`` at once touch disjoint stages,
    and only the renames publish: in-place overwrites were measured
    leaving a 2x relation when both jobs committed part files into the
    shared directory (tests/test_index_concurrency.py). A crash leaves
    the path absent or a complete build; orphaned ``.stage-``/``.old-``
    siblings are retriable garbage no reader opens. The rename targets
    the local-FS artifacts these builders write; on object storage the
    publish becomes a table format's snapshot commit or a pointer flip
    (``streaming/cdc_apply.py``).
    """
    import json
    import os
    import shutil
    import uuid

    path = path.rstrip("/")
    stage = f"{path}.stage-{uuid.uuid4().hex[:12]}"
    write(stage)
    if manifest is not None:
        with open(os.path.join(stage, "meta.json"), "w") as f:
            json.dump(manifest, f)
    try:
        # fast path: target absent — one atomic rename publishes
        os.rename(stage, path)
        return
    except OSError:
        pass
    # Replace an existing directory (or a race already published): move
    # the live one aside, rename the stage in; a loser whose second
    # rename ALSO fails discards its own stage — the winner's published
    # directory is equivalent (same input) and stays intact.
    old = f"{path}.old-{uuid.uuid4().hex[:12]}"
    try:
        os.rename(path, old)
    except FileNotFoundError:
        pass
    try:
        os.rename(stage, path)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
        if not os.path.isdir(path):
            raise
    shutil.rmtree(old, ignore_errors=True)


def read_index_meta(index_dir: str) -> dict:
    """The build configuration an index published with its ``meta.json``
    (empty dict when there is none — callers fall back to their own
    defaults). Appends and probes read it, so they can never drift from
    the base build's parameters."""
    import json
    import os

    path = os.path.join(index_dir, "meta.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def read_parquet_or_empty(spark: SparkSession, path: str, fallback_schema: str):
    """Read a persisted index relation, tolerating ONLY the
    EMPTY-build state: an index built from zero rows writes a
    directory with no part files, where schema inference fails
    (UNABLE_TO_INFER_SCHEMA) but "empty relation" is the correct
    answer. Every other analysis error — above all PATH_NOT_FOUND
    from a deleted or typo'd index_dir — re-raises: silently treating
    a missing index as empty would disable dedup/ANN without a trace
    (zero duplicates / zero neighbors reported as a clean result).
    With data present, inference keeps the builder's actual types
    (id/cell columns are caller-typed — a pinned schema here would
    reject legitimate builds)."""
    from pyspark.sql.utils import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        getter = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        cls = getter() if getter else None
        if cls == "UNABLE_TO_INFER_SCHEMA" or (
            cls is None and "UNABLE_TO_INFER_SCHEMA" in str(e)
        ):
            return spark.createDataFrame([], fallback_schema)
        raise


def rewrite_partitioned_inplace(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    transform=None,
    repartition_cols: list[str] | None = None,
    n_files: int | None = None,
) -> None:
    """Atomically rewrite a partitioned parquet relation IN PLACE: the
    rewrite is written to a stage and swapped in by :func:`publish`, so
    readers see the old relation or the new one, never a partial write,
    and two compactions of one path never share a stage. This is the
    plain-parquet form of the atomic-swap step inside Delta OPTIMIZE /
    Iceberg rewrite_data_files.

    ``transform`` edits the frame before the write (e.g. folding all
    append batches into one ``base`` partition); ``repartition_cols``
    aligns output files with the partition layout (one file per
    partition value instead of one per shuffle task); ``n_files``
    round-robins to a fixed file count for unpartitioned-ish tails.
    """
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    if repartition_cols:
        df = df.repartition(*repartition_cols)
    elif n_files:
        df = df.repartition(n_files)
    publish(path, lambda stage: write_batch(df, stage, partition_cols))

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


def rewrite_partitioned_inplace(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    transform=None,
    repartition_cols: list[str] | None = None,
    n_files: int | None = None,
) -> None:
    """Atomically rewrite a partitioned parquet relation IN PLACE.

    The rewrite lands in a sibling ``__compacting`` directory first
    (the parquet commit protocol guarantees it is complete before we
    touch the live path), then two directory renames swap it in —
    readers see either the old relation or the new one, never a
    partial write. This is the plain-parquet form of the atomic-swap
    step inside Delta OPTIMIZE / Iceberg rewrite_data_files; on an
    object store the renames become a manifest pointer flip (see
    ``streaming/cdc_apply.py`` for the pointer-file variant).

    ``transform`` edits the frame before the write (e.g. folding all
    append batches into one ``base`` partition); ``repartition_cols``
    aligns output files with the partition layout (one file per
    partition value instead of one per shuffle task); ``n_files``
    round-robins to a fixed file count for unpartitioned-ish tails.
    """
    import os
    import shutil

    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    if repartition_cols:
        df = df.repartition(*repartition_cols)
    elif n_files:
        df = df.repartition(n_files)
    base = path.rstrip("/")
    tmp, old = base + "__compacting", base + "__old"
    shutil.rmtree(tmp, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old, ignore_errors=True)

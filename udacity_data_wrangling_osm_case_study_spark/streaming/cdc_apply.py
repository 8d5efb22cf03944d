"""Streaming CDC consumer: a change stream MERGEd into a versioned
parquet snapshot, one micro-batch at a time.

This closes the CDC loop the engine already has both halves of — the
OSM ETL *produces* an audit/change feed (``update_history``,
reference ``parse_clean_and_csv.py:206-290``) and
``operators.upsert.merge_upsert`` *applies* a change set — by running
the apply side continuously under Structured Streaming:

- Within each micro-batch, changes collapse to the LATEST row per key
  (window over the sequence column) before the merge — a batch that
  inserts then deletes a key must net out to the delete.
- The merged snapshot is written to a NEW versioned directory
  (``{target}/v{batch_id}``) and a pointer file flips last. A batch
  retried after a mid-write crash rewrites its own version directory
  and re-flips the pointer to the same content — the MERGE of the same
  change set into the same parent snapshot is idempotent, so the
  at-least-once foreachBatch contract yields an exactly-once snapshot.
- Snapshots never rewrite in place: readers of version N are never
  invalidated by the arrival of N+1 (the poor-man's form of a table
  format's snapshot isolation; with Delta/Iceberg this function body
  becomes MERGE INTO).

Scale: each batch costs one key-shuffle join between the snapshot and
the (usually tiny) change set — with a bucketed snapshot layout
(operators/layout.py) the snapshot side stops shuffling entirely.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import upsert

_POINTER = "_LATEST"


def snapshot_version(target_dir: str) -> int | None:
    """Current snapshot version (None before the first commit)."""
    path = os.path.join(target_dir, _POINTER)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return int(fh.read().strip())


def read_snapshot(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Latest committed snapshot, or None before the first batch."""
    version = snapshot_version(target_dir)
    if version is None:
        return None
    return spark.read.parquet(os.path.join(target_dir, f"v{version}"))


def collapse_changes(batch_df: DataFrame, key: str) -> DataFrame:
    """Collapse a change batch to the LATEST row per key (highest
    ``seq``) — the within-batch netting rule: a batch that updates
    then deletes a key must net out to the delete. Pure function; the
    streaming sink and the batch twin query share it."""
    w = Window.partitionBy(key).orderBy(F.desc("seq"))
    return (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "seq")
    )


def apply_cdc_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    target_dir: str,
    key: str,
    tombstone_col: str | None = None,
) -> None:
    """Merge one change batch into the snapshot (the foreachBatch body,
    callable directly for tests/backfills)."""
    latest = collapse_changes(batch_df, key)
    target = read_snapshot(spark, target_dir)
    if target is None:
        # First batch: an empty snapshot with the change-row schema
        # (minus the tombstone marker).
        target = latest.limit(0)
        if tombstone_col is not None:
            target = target.drop(tombstone_col)
    merged = upsert.merge_upsert(target, latest, key, tombstone_col)
    out = os.path.join(target_dir, f"v{batch_id}")
    merged.write.mode("overwrite").parquet(out)
    tmp = os.path.join(target_dir, f"{_POINTER}.tmp.{batch_id}")
    with open(tmp, "w") as fh:
        fh.write(str(batch_id))
    os.replace(tmp, os.path.join(target_dir, _POINTER))


def apply_cdc_stream(
    changes: DataFrame,
    target_dir: str,
    key: str,
    tombstone_col: str | None = None,
) -> None:
    """Drain a (finite) change stream into the versioned snapshot —
    ``foreachBatch`` + :func:`apply_cdc_batch`, availableNow trigger."""
    spark = changes.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            spark, batch_df, batch_id, target_dir, key, tombstone_col
        )

    q = (
        changes.writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(target_dir, "_checkpoint"))
        .start()
    )
    q.awaitTermination()

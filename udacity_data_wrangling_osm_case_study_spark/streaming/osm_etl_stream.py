"""Streaming OSM ETL: the batch cleaning DAG over ARRIVING XML shards.

The reference processes one finished file; at scale, exports arrive
continuously (diff dumps, tile drops). This module runs the SAME
shape→clean→repair operators over a file-source stream of element-
aligned shards (sources/osm_split.py makes them):

- nodes/ways stream from the shard directory (Spark's XML source works
  as a streaming file format; schema pinned).
- Phone cleaning is stateless → identical column expression.
- Street-name repair is per-way (every <way> carries its whole tag
  array in one element), so it is micro-batch-local by construction —
  ``foreachBatch`` reuses the exact per-element batch operators with
  the static one-row street dictionary (stream-static broadcast). No
  cross-batch state, no watermark needed for correctness.

Each micro-batch writes the same parquet tables the batch ETL writes —
the outputs converge to the batch result once the source drains
(asserted in tests/test_osm_etl_stream.py). Writes are IDEMPOTENT per
micro-batch: foreachBatch is at-least-once (a batch retried after a
mid-write failure re-runs), so every sink is partitioned by the
engine-stable ``_batch_id`` and dynamically overwrites only that
partition — a replay replaces its own output instead of duplicating it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark import schemas
from udacity_data_wrangling_osm_case_study_spark.operators import (
    cleaning,
    official_streets,
    pipeline,
)


def write_batch_idempotent(df: DataFrame, path: str, batch_key: str) -> None:
    """Idempotent micro-batch parquet sink: partition by the
    checkpointed batch id and dynamically overwrite ONLY that
    partition, so an at-least-once replay of a batch replaces its own
    rows instead of appending duplicates. ``batch_key`` is the stream
    name + batch id (two streams share the update_history sink)."""
    (
        df.withColumn("_batch_id", F.lit(batch_key))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def _read_stream(spark: SparkSession, shard_dir: str, row_tag: str, schema) -> DataFrame:
    return (
        spark.readStream.format("xml")
        .option("rowTag", row_tag)
        .option("attributePrefix", "_")
        .schema(schema)
        .load(shard_dir)
    )


def run_streaming_etl(
    spark: SparkSession,
    shard_dir: str,
    psi_path: str,
    out_dir: str,
) -> None:
    """Stream shards → the 5-table model + CDC, appending parquet.
    Drains whatever shards exist and stops (``availableNow`` trigger).
    """
    dictionary = official_streets.load_street_dictionary(spark, psi_path).cache()
    dictionary.count()  # materialize once; broadcast into every batch

    nodes_stream = _read_stream(spark, shard_dir, "node", schemas.OSM_NODE_SCHEMA)
    ways_stream = _read_stream(spark, shard_dir, "way", schemas.OSM_WAY_SCHEMA)

    def _write(df: DataFrame, table: str, batch_id: int, stream: str) -> None:
        write_batch_idempotent(df, f"{out_dir}/{table}", f"{stream}-{batch_id}")

    def process_nodes(batch: DataFrame, batch_id: int) -> None:
        nodes = pipeline.clean_nodes(batch)
        for table, df in pipeline.node_tables(nodes).items():
            _write(df, table, batch_id, "n")
        phone_ids = cleaning.changed_ids(nodes, "_phone_changed")
        empty = phone_ids.limit(0)
        _write(
            cleaning.update_history(phone_ids, empty, empty),
            "update_history",
            batch_id,
            "n",
        )

    def process_ways(batch: DataFrame, batch_id: int) -> None:
        ways = pipeline.clean_ways(batch, dictionary)
        for table, df in pipeline.way_tables(ways).items():
            _write(df, table, batch_id, "w")
        phone_ids = cleaning.changed_ids(ways, "_phone_changed")
        _write(
            cleaning.update_history(
                phone_ids.limit(0), phone_ids, cleaning.changed_ids(ways, "_name_changed")
            ),
            "update_history",
            batch_id,
            "w",
        )

    queries = [
        nodes_stream.writeStream.foreachBatch(process_nodes)
        .option("checkpointLocation", f"{out_dir}/_ckpt_nodes")
        .trigger(availableNow=True)
        .start(),
        ways_stream.writeStream.foreachBatch(process_ways)
        .option("checkpointLocation", f"{out_dir}/_ckpt_ways")
        .trigger(availableNow=True)
        .start(),
    ]
    for q in queries:
        q.awaitTermination()

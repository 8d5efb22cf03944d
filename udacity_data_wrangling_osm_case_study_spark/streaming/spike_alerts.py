"""Streaming rate-anomaly alerts: the production runtime of the batch
``event_spikes`` query.

Pipeline: watermarked tumbling-window counts (append mode — a window
row is emitted exactly once, when the watermark finalizes it) →
``foreachBatch`` sink that

1. appends the finalized windows to a persisted window store,
   partitioned by ``batch_id`` and written by ``layout.write_batch``
   (dynamic partition overwrite) — a RETRIED micro-batch overwrites
   only itself, as in the corpus-intake and streaming-ETL sinks;
2. recomputes the alert table with the SAME
   ``operators.temporal.trailing_spikes`` the batch query uses — one
   anomaly definition, two runtimes. Recomputing over the full store
   is simplest-correct (alerts are a pure function of the store); at
   scale the recompute prunes to each key's last 4 + new windows, since finalized windows are immutable and append-only.

State posture: the only streaming state is the windowed-count
aggregation, watermark-bounded; the trailing comparison runs over the
already-reduced window store (5 event types × window count rows), not
raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import layout, temporal
from udacity_data_wrangling_osm_case_study_spark.streaming.events_stream import (
    windowed_event_counts,
)


def read_alerts(spark: SparkSession, state_dir: str) -> DataFrame:
    return spark.read.parquet(f"{state_dir}/alerts")


def spike_alerts_stream(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str | None = None,
    num: int = 3,
) -> None:
    """Run the alert pipeline over ``events`` until the source drains
    (``availableNow`` trigger); the alert table lands at
    ``{state_dir}/alerts``."""
    counts = windowed_event_counts(events)

    def apply(batch_df, batch_id):
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            # The first micro-batch finalizes nothing (the watermark
            # only advances at batch end); writing an empty frame would
            # leave a schemaless store directory.
            return
        layout.write_batch(
            batch_df.select("event_type", "window_start", "n").withColumn(
                "batch_id", F.lit(str(batch_id))
            ),
            f"{state_dir}/windows",
            ["batch_id"],
        )
        hist = spark.read.parquet(f"{state_dir}/windows")
        alerts = temporal.trailing_spikes(
            hist, order_col="window_start", num=num
        )
        alerts.write.mode("overwrite").parquet(f"{state_dir}/alerts")

    writer = counts.writeStream.outputMode("append").foreachBatch(apply)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()

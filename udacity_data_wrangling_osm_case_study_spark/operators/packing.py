"""Sequence packing: concatenate documents into fixed-length training
sequences.

The last mile of an LLM data pipeline: tokenized documents are
concatenated in a deterministic order and the token stream is chopped
into fixed ``seq_len`` blocks (the "concat-and-chunk" packing used for
pretraining). The output is the doc -> sequence placement map: which
sequence(s) each document lands in, at what offset, contributing how
many tokens — exactly what a loader needs to build attention-mask /
document-boundary info.

Scale shape: the only global computation is the prefix sum of token
counts in document order. A naive ``Window.orderBy(doc)`` cumulative
sum funnels the whole corpus through ONE partition — the classic
single-partition-window scale killer. Instead this uses the
distributed two-phase prefix sum:

1. range-partition by the order key (``repartitionByRange`` — the same
   machinery as a distributed sort),
2. per-partition cumulative sums (window PARTITIONED by the physical
   partition id — parallel),
3. per-partition totals (#partitions rows, driver-size) cumsum'd and
   broadcast back as each partition's base offset.

Every row then knows its global token offset without any single node
ever seeing more than its partition. Placement explode is row-local.

No reference analog (the reference predates LLM pipelines); the
operator follows the public concat-and-chunk packing described in
T5/GPT-style data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_token_offsets(
    df: DataFrame,
    order_col: str = "doc_id",
    ntok_col: str = "n_tokens",
    num_range_partitions: int | None = None,
) -> DataFrame:
    """Add ``start``: each row's exclusive prefix sum of ``ntok_col``
    in ``order_col`` order, computed with the two-phase distributed
    prefix sum (no single-partition window)."""
    ranged = (
        df.repartitionByRange(num_range_partitions, order_col)
        if num_range_partitions
        else df.repartitionByRange(order_col)
    )
    # Cached: _part feeds BOTH the in-partition cumsum and the
    # partition-totals branch. Beyond saving a recompute of the whole
    # upstream per branch, the cache pins ONE materialization of the
    # range partitioning — repartitionByRange samples its bounds, so
    # letting each branch re-derive partition ids is a consistency
    # hazard, not just a cost.
    part = ranged.withColumn("_part", F.spark_partition_id()).cache()
    w_in = Window.partitionBy("_part").orderBy(order_col)
    within = part.withColumn(
        "_cum_in", F.sum(ntok_col).over(w_in) - F.col(ntok_col)
    )
    # Partition totals: one row per physical partition — driver-scale
    # regardless of corpus size. The cumsum over partition ids is a
    # single-partition window over that tiny frame, then broadcast back.
    totals = (
        part.groupBy("_part")
        .agg(F.sum(ntok_col).alias("_tot"))
        .withColumn(
            "_base",
            F.coalesce(
                F.sum("_tot").over(
                    Window.orderBy("_part").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_part", "_base")
    )
    return (
        within.join(F.broadcast(totals), "_part")
        .withColumn("start", (F.col("_base") + F.col("_cum_in")).cast("long"))
        .drop("_part", "_cum_in", "_base")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    order_col: str | None = None,
) -> DataFrame:
    """Doc -> training-sequence placement map.

    Documents are laid head-to-tail in ``id_col`` order; the stream is
    cut into ``seq_len``-token sequences. A document whose span crosses
    a cut appears once per sequence it touches (its tail continues in
    the next sequence — standard pretraining packing; no padding, no
    document loss).

    Output: (seq_id, doc_id, seq_offset, n_tokens) — the doc
    contributes ``n_tokens`` tokens starting at ``seq_offset`` within
    sequence ``seq_id``. Invariants (property-tested): per-sequence
    contributions sum to exactly ``seq_len`` (except the final
    sequence) and per-doc contributions sum to the doc's token count.

    ``order_col`` lays the stream in a different order than the id
    (e.g. a deterministic epoch-shuffle hash) while the placement map
    still reports ``id_col`` — no join-back needed.
    """
    offs = global_token_offsets(df, order_col=order_col or id_col)
    start, n = F.col("start"), F.col("n_tokens")
    end = start + n  # exclusive
    first_seq = F.floor(start / seq_len).cast("long")
    last_seq = F.floor((end - 1) / seq_len).cast("long")
    spans = offs.filter(n > 0).select(
        F.col(id_col),
        start,
        n,
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * seq_len
    lo = F.greatest(F.col("start"), seq_start)
    hi = F.least(F.col("start") + F.col("n_tokens"), seq_start + seq_len)
    return spans.select(
        "seq_id",
        F.col(id_col),
        (lo - seq_start).cast("long").alias("seq_offset"),
        (hi - lo).cast("long").alias("n_tokens"),
    )

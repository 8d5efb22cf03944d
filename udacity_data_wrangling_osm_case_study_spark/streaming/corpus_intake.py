"""Streaming corpus intake: continuous document ingestion with
online deduplication against a growing persisted index.

The ingest half of a production pretraining pipeline: documents
arrive continuously (crawl drops, partner feeds); each micro-batch is

1. exact-deduplicated WITHIN the batch (content-fingerprint keeper),
2. gated on a token-count quality floor,
3. fuzzy-probed against the persisted LSH index
   (:func:`operators.dedup.incremental_near_dupes` — the corpus side
   is never re-shingled), and
4. survivors are appended to the accepted-corpus sink AND to the
   index (:func:`operators.dedup.dedup_index_append`), so every later
   batch dedups against everything accepted before it.

Exactly-once posture under Structured Streaming's at-least-once
``foreachBatch``: both sinks are partitioned by ``batch_id`` and
written with DYNAMIC partition overwrite — a retried batch replaces
exactly its own partition, byte-for-byte idempotent. (Reference has
no streaming; SURVEY.md §2.10. This composes the batch operators
unchanged — one implementation, two runtimes.)

Scale notes: per-batch cost is the batch's own shingling plus
bucket-overlap joins against the index (probe cost scales with the
batch, not the corpus); index growth is one new partition per batch —
compaction back into ``base`` is a periodic `build_dedup_index`
rebuild, the same maintain/compact split as the IVF index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import dedup
from udacity_data_wrangling_osm_case_study_spark.sources.jsonl import (
    DOCUMENTS_SCHEMA,
)

# One documents contract for the whole engine: the stream schema IS the
# batch JSONL/parquet schema (sources.jsonl) — imported, so the two
# ingestion paths cannot drift.
DOCS_STREAM_SCHEMA = DOCUMENTS_SCHEMA


def read_docs_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of document parquet drops, one file per
    micro-batch (schema pinned — streaming never infers)."""
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def read_docs_stream_jsonl(
    spark: SparkSession, path: str
) -> DataFrame:
    """JSONL variant of the document stream — crawl/partner drops land
    as .jsonl shards far more often than parquet; same pinned schema,
    same one-shard-per-micro-batch default, so everything downstream
    (intake dedup, quality gate, index append) is source-agnostic."""
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )


def intake_batch(
    batch_df: DataFrame,
    batch_id: int,
    accepted_dir: str,
    index_dir: str,
    gram_index_dir: str | None = None,
    max_dup_share_bp: int = 8000,
) -> None:
    """Process ONE ingest batch (the foreachBatch body, callable
    directly for batch backfills): dedup, gate, probe, append.

    With ``gram_index_dir`` (a :func:`operators.substrings.
    build_gram_index` artifact) the intake adds the ExactSubstr gate
    the LSH probe cannot express: a document that is MOSTLY recycled
    spans but below the whole-document Jaccard threshold (boilerplate
    page wrapping a little fresh text) passes the near-dup probe yet
    gets rejected when its duplicated-span share vs the gram index
    exceeds ``max_dup_share_bp``. Survivors' gram census is appended to
    the gram index under the same batch_id discipline (dynamic
    partition overwrite — retries replace only themselves), so later
    batches measure against everything accepted before them."""
    norm = dedup.normalize_text(F.col("text"))
    base = batch_df.select(
        "doc_id",
        "text",
        "source",
        F.md5(norm).alias("fp"),
        F.size(F.split(norm, " ")).cast("long").alias("n_tokens"),
    )
    keepers = base.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    gated = (
        base.join(keepers, "doc_id", "left_semi")
        .filter(F.col("n_tokens") >= 5)
        .cache()
    )
    matches = dedup.incremental_near_dupes(
        gated.select("doc_id", "text"), index_dir,
        # one probe per micro-batch for the stream's lifetime: drop the
        # probe's internal caches as soon as the result is materialized
        materialize=True,
    )
    accepted = gated.join(
        matches.select(F.col("new_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    ).cache()
    # Both gate branches (the span-coverage probe and the survivors
    # anti-join) read `accepted`; its cache only helps if it stays
    # registered until the parquet write/index appends run, so the
    # pre-gate handle is unpersisted at the END with the others.
    pre_gate = accepted
    if gram_index_dir is not None:
        from udacity_data_wrangling_osm_case_study_spark.operators import (
            substrings,
        )

        recycled = (
            substrings.incremental_span_coverage(
                accepted.select("doc_id", "text"), gram_index_dir
            )
            .filter(F.col("share_bp") > max_dup_share_bp)
            .select(F.col("id").alias("doc_id"))
        )
        accepted = accepted.join(recycled, "doc_id", "left_anti").cache()
    (
        accepted.select(
            "doc_id", "text", "source", "n_tokens",
            F.lit(str(batch_id)).alias("batch_id"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(accepted_dir)
    )
    dedup.dedup_index_append(
        accepted.select("doc_id", "text"), index_dir, batch_id=str(batch_id)
    )
    if gram_index_dir is not None:
        substrings.gram_index_append(
            accepted.select("doc_id", "text"),
            gram_index_dir,
            batch_id=str(batch_id),
        )
    accepted.unpersist()
    if pre_gate is not accepted:
        pre_gate.unpersist()
    gated.unpersist()


def start_corpus_intake(
    spark: SparkSession,
    src_dir: str,
    accepted_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    gram_index_dir: str | None = None,
):
    """Start the intake stream (availableNow: drain what's there, then
    stop — the replayable-batch trigger used by the parity tests)."""
    stream = read_docs_stream(spark, src_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        intake_batch(
            batch_df, batch_id, accepted_dir, index_dir,
            gram_index_dir=gram_index_dir,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; decode / feature-extraction happens in Arrow-batched
``mapInPandas`` stages so the Python boundary is crossed once per
record batch, not per row.

The codec step routes by availability: ``decode_stub=True`` (the
default everywhere the registry's oracle queries run) produces a
deterministic fake feature vector from the payload bytes;
``decode_stub=False`` decodes for real through PIL when it is
importable — the skipif-guarded test exercises that branch on a real
PNG — and raises ``NotImplementedError`` otherwise (audio/video would
route through torchaudio/ffmpeg the same way). The Spark-side plumbing
— schema, partitioning, Arrow batch shape, UDF signature — is real and
tested in both modes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # codec detection at import; the stub is the fallback, never the mask
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # pragma: no cover - exercised in codec-less rigs
    _PILImage = None
    HAS_PIL = False

FEATURE_DIM = 8

MEDIA_SCHEMA = (
    "media_id bigint, payload binary, media_type string, n_bytes int, checksum string"
)
FEATURE_SCHEMA = f"media_id bigint, n_bytes int, feature array<double>"


def documents_as_media(df: DataFrame) -> DataFrame:
    """Wrap a text column as an opaque binary payload + metadata struct
    (the testdata has no true image bytes; the column type and
    everything downstream is what matters)."""
    # Ingest contract: a media row HAS a payload — NULL text produces
    # no media row (downstream byte loops would otherwise crash on a
    # NULL payload; oracles carry the same IS NOT NULL guard).
    df = df.filter(F.col("text").isNotNull())
    payload = F.encode(F.col("text"), "utf-8")
    return df.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("checksum"),
    )


def extract_features(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` keeps each partition as an iterator of pandas
    batches — the decode loop below is where a real image/audio decode
    would run, one batch at a time, bounded memory per executor.
    """

    def _decode_real(payload: bytes) -> list[float]:
        # Real image decode: 8-dim deterministic descriptor
        # (w, h, channels, mean R/G/B, pixel std, aspect).
        import io

        import numpy as np

        img = _PILImage.open(io.BytesIO(payload)).convert("RGB")
        arr = np.asarray(img, dtype=np.float64)
        h, w = arr.shape[0], arr.shape[1]
        means = arr.reshape(-1, 3).mean(axis=0)
        return [
            float(w),
            float(h),
            3.0,
            float(means[0]),
            float(means[1]),
            float(means[2]),
            float(arr.std()),
            float(w) / float(h),
        ]

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not decode_stub and not HAS_PIL:
                raise NotImplementedError(
                    "real media decode requires codec libraries (PIL/ffmpeg) "
                    "not present in this environment"
                )
            if decode_stub:
                feats = [
                    [float(len(p)), float(p[0] if len(p) else 0)]
                    + [
                        float(p[i % len(p)]) if len(p) else 0.0
                        for i in range(FEATURE_DIM - 2)
                    ]
                    for p in pdf["payload"]
                ]
            else:
                feats = [_decode_real(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame, n_frames: int = 4, frame_bytes: int = 32
) -> DataFrame:
    """One-to-many Arrow stage: evenly-strided byte windows stand in
    for video frame extraction (one row in → ``n_frames`` rows out).

    The real part is the batch-explosion plumbing — mapInPandas lets a
    batch yield MORE rows than it received with bounded memory, which
    is exactly the shape of frame sampling / audio chunking at 100 TB
    (the decode itself would sit in the slice loop; stride math and
    schema stay unchanged). A payload shorter than ``n_frames`` bytes
    yields a single whole-payload frame.
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame": []}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(p)
                seg = len(p) // n_frames
                if seg == 0:
                    picks = [(0, p)]
                else:
                    w = min(seg, frame_bytes)
                    picks = [(f, p[f * seg : f * seg + w]) for f in range(n_frames)]
                for f, fr in picks:
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["frame"].append(fr)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        _sample, schema="media_id bigint, frame_idx int, frame binary"
    )


def resize_media(
    media: DataFrame, target_bytes: int = 64, decode_stub: bool = True
) -> DataFrame:
    """Decode → resize → re-encode plumbing, preserving MEDIA_SCHEMA so
    resized media flows into any stage that reads media tables.

    The stub 'resize' truncates-or-zero-pads the payload to
    ``target_bytes`` (deterministic); a real implementation decodes,
    resamples, re-encodes in the same loop — batch shape, metadata
    recompute (n_bytes, checksum) and schema are the real contract.
    """
    import hashlib

    def _resize_real(payload: bytes) -> bytes:
        # Real path: decode, downsample to a square thumbnail whose
        # uncompressed RGB size approximates target_bytes, re-encode
        # PNG (deterministic: PIL's PNG writer is compress-level
        # stable for a fixed input).
        import io

        edge = max(1, int((target_bytes / 3) ** 0.5))
        img = _PILImage.open(io.BytesIO(payload)).convert("RGB")
        out = io.BytesIO()
        img.resize((edge, edge)).save(out, format="PNG")
        return out.getvalue()

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not decode_stub and not HAS_PIL:
                raise NotImplementedError(
                    "real media resize requires codec libraries (PIL/ffmpeg) "
                    "not present in this environment"
                )
            if decode_stub:
                resized = [
                    bytes(p)[:target_bytes].ljust(target_bytes, b"\0")
                    for p in pdf["payload"]
                ]
            else:
                resized = [_resize_real(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": resized,
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(r) for r in resized],
                    "checksum": [hashlib.md5(r).hexdigest() for r in resized],
                }
            )

    return media.mapInPandas(_resize, schema=MEDIA_SCHEMA)


def payload_byte_grams(
    media: DataFrame,
    gram_bytes: int = 4,
    stride_bytes: int = 2,
) -> DataFrame:
    """Sliding byte n-grams over an opaque binary payload, as an
    (id, tok) frame ready for fingerprinting (``dedup.
    simhash64_from_tokens``) — the content-defined analog of word
    shingles for media columns, where no tokenizer exists. Works on the
    hex encoding so the very same grams are computable in ANSI SQL
    (DuckDB ``hex()``; both engines emit uppercase) — binary near-dup
    pipelines stay value-checkable across engines.

    Row-local: hex() is projected once per row, then one explode over
    gram start positions and a substring each — no Python, no shuffle.
    Payloads shorter than one gram produce no rows (and therefore no
    fingerprint), the same contract as an empty document.
    """
    gh, sh = gram_bytes * 2, stride_bytes * 2  # hex chars
    hx = media.select(
        F.col("media_id").alias("id"), F.hex("payload").alias("hx")
    ).filter(F.length("hx") >= gh)
    return hx.select(
        "id",
        F.explode(
            F.sequence(F.lit(1), F.length("hx") - (gh - 1), F.lit(sh))
        ).alias("p"),
        "hx",
    ).select("id", F.expr(f"substring(hx, p, {gh})").alias("tok"))

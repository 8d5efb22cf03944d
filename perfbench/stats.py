"""Pure arithmetic of the benchmark: rates, per-op medians, core
utilisation and order-insensitive result fingerprints."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import statistics
from collections.abc import Iterable, Mapping, Sequence


def ratio(num: float, den: float) -> float:
    """``num / den``, 0 when the denominator is 0."""
    return num / den if den else 0.0


def per_minute(n_ops: int, seconds: float) -> float:
    return ratio(60.0 * n_ops, seconds)


def op_medians(samples: Mapping[str, Sequence[float]]) -> dict[str, float]:
    """Each op's median latency over the timed passes of a run."""
    return {op: statistics.median(v) for op, v in samples.items()}


def core_util(task_s: float, wall_s: float, cores: int) -> float:
    """Share of the cores' wall time spent running tasks."""
    return ratio(task_s, wall_s * cores)


def _norm(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        # 12 significant digits: identical plans may sum doubles in a
        # different order from run to run.
        return f"{float(v):.12g}"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def fingerprint(columns: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Hash of a result that ignores row order but not row multiplicity."""
    digests = sorted(
        hashlib.sha1("\x1f".join(_norm(v) for v in row).encode()).hexdigest()
        for row in rows
    )
    h = hashlib.sha1(("\x1f".join(c.lower() for c in columns)).encode())
    for d in digests:
        h.update(d.encode())
    return h.hexdigest()

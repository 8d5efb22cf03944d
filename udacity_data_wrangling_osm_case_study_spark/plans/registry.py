"""Driver-facing query registry.

Every implemented operator from SURVEY.md §2 (plus the scale
extensions) registers here as a named query: a Spark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, an
equivalent ANSI-SQL oracle string for DuckDB. ``__spark_entry__.py``
exposes this registry to the driver.

Determinism rules (the driver hash-compares values order-insensitively):

- Every computed column is aliased identically in Spark and SQL.
- Monetary aggregates sum exact DECIMALs and only then cast to DOUBLE —
  float addition order can differ between engines, decimal addition
  cannot.
- Remaining DOUBLE outputs are rounded (4-6 dp) far below both
  engines' error bounds.
- Top-k queries always carry a unique tie-break column in the ORDER BY.
- No raw arrays/maps/timestamps in outputs: arrays are joined to
  strings, instants are exposed as year/month ints or formatted text.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

# DuckDB twin of ``operators.dedup.normalize_text`` (trim, lowercase,
# collapse whitespace) — the text normalisation every oracle of the
# text queries starts from.
TEXT_NORM = "regexp_replace(lower(trim(text, ' ')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')"

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# Multi-superstep (loop-carried) queries declare a parquet-scan-node
# budget at registration; tests/test_plans.py derives its scan-budget
# sweep from this map, so a new iterative operator is enrolled in the
# loop-recompute guard by construction (it cannot be forgotten the way
# a hand-maintained test list can).
SCAN_BUDGETS: dict[str, int] = {}

_QUERY_MODULES = (
    "udacity_data_wrangling_osm_case_study_spark.plans.exploration",
    "udacity_data_wrangling_osm_case_study_spark.plans.join_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.window_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.temporal_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.cleaning_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.dedup_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.fingerprint_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.similarity_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.text_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.packing_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.curation_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.udtf_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.substring_queries",
    "udacity_data_wrangling_osm_case_study_spark.plans.tpch_shapes",
)

_loaded = False


def register(
    name: str, oracle: str | None = None, scan_budget: int | None = None
):
    """Decorator: add a query (and optionally its DuckDB oracle SQL).

    ``scan_budget`` marks a multi-superstep operator: the maximum number
    of parquet-scan NODES its final physical plan may retain after the
    loop's checkpoint lineage cuts (see SCAN_BUDGETS above). Every query
    whose implementation loops over a frame it rebuilds per step MUST
    pass one — the plan test sweeps the map.
    """

    def deco(fn):
        if name in QUERIES:
            # A silent overwrite would shadow an attested query with a
            # different-semantics newcomer (nearly shipped in round 7:
            # a second "duplicated_span_share") — fail loudly instead.
            raise ValueError(
                f"query name {name!r} is already registered"
                f" (by {QUERIES[name].__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if scan_budget is not None:
            SCAN_BUDGETS[name] = scan_budget
        return fn

    return deco


def fan_out_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition for a frame whose source cannot supply
    enough input splits to fill the cluster — single-row-group parquet
    (the driver testdata's physical layout), unsplittable codecs, tiny
    files (guide §2.5: "repartition immediately after the read").

    Scale-adaptive by construction: a no-op whenever the frame already
    carries at least half the session's default parallelism in
    partitions, so at production scale — where a fact scan yields
    thousands of row-group splits — the exchange never exists. Apply it
    ONLY above heavy row-local compute (per-row hashing, wide decimal
    aggregates, pair expansion): for cheap-per-row aggregate-first
    plans the extra round-robin exchange of raw rows costs more than
    the single-core scan stage it parallelizes (measured on the graph
    edge build and five aggregate queries, round 13)."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(par // 2, 2):
        return df.repartition(par)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-testdata parquet table.

    ``events.ts`` has shipped in two physical shapes across driver
    testdata generations — TIMESTAMP(NANOS) (scan as int64 nanos via
    ``spark.sql.legacy.parquet.nanosAsLong``) and timezone-naive
    TIMESTAMP(MICROS) (scans as TIMESTAMP_NTZ). Both are normalized to
    TIMESTAMP_LTZ under a UTC session zone so every downstream plan
    sees one type and the wall clock matches DuckDB's naive read of the
    same file.
    """
    if name == "events":
        # The harness may hand us a vanilla session; bring it into the
        # engine's documented conf contract (no-op for get_spark
        # sessions — see session._SESSION_CONTRACT).
        from udacity_data_wrangling_osm_case_study_spark.session import ensure_session_contract

        ensure_session_contract(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # These tables ship as ONE small parquet file (one row group →
        # one input split), so every row-local heavy stage downstream
        # (shingle explode, per-token md5, vector math) would run on a
        # single core until the first shuffle. Fan the scan out when it
        # yields fewer splits than cores — the exact repartition a
        # cluster job does after a skinny-file scan. At real scale the
        # scan produces thousands of splits and this is a no-op.
        df = fan_out_scan(df, spark)
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # TIMESTAMP(NANOS) read as raw nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # naive micros
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def index_dir(sf_dir: str, root: str) -> str:
    """Where the persisted index of ``sf_dir`` lives under the temp
    root ``root``: keyed by basename plus a hash of the ABSOLUTE path,
    so two datasets that share a basename (two checkouts' ``sf0.01``)
    never share, and silently reuse, one index."""
    import hashlib
    import os
    import tempfile

    abs_dir = os.path.abspath(sf_dir.rstrip("/"))
    digest = hashlib.sha256(abs_dir.encode()).hexdigest()[:12]
    name = f"{os.path.basename(abs_dir)}-{digest}"
    return os.path.join(tempfile.gettempdir(), root, name)


def ensure_index(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    source: str,
    build: Callable[[DataFrame, str], None],
    manifest: dict | None = None,
) -> str:
    """Return :func:`index_dir`, first (re)building the index with
    ``build(table(spark, sf_dir, source), index_dir)`` when it is absent,
    older than the source table (the data can be regenerated in place
    between runs), or carries a ``meta.json`` other than ``manifest``,
    the one its builder writes. Builders publish atomically
    (``operators.layout.publish``), so an index is present exactly when
    its directory exists, and it is complete then."""
    import os

    from udacity_data_wrangling_osm_case_study_spark.operators.layout import (
        read_index_meta,
    )

    path = index_dir(sf_dir, root)
    src = os.path.join(sf_dir, f"{source}.parquet")
    if (
        not os.path.isdir(path)
        or (os.path.exists(src) and os.path.getmtime(path) < os.path.getmtime(src))
        or (manifest is not None and read_index_meta(path) != manifest)
    ):
        build(table(spark, sf_dir, source), path)
    return path


def _last_attested() -> dict[str, int]:
    """Per-name last-driver-attested round from the committed
    ATTESTATION.json (repo root; regenerated by tools/attestation.py).
    Missing file or missing name -> round 0, which sorts FIRST — a
    brand-new query is by definition the least recently attested."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))),
        "ATTESTATION.json",
    )
    try:
        with open(path) as f:
            return json.load(f)["last_attested_round"]
    except (OSError, ValueError, KeyError):
        return {}


def load_all() -> tuple[dict, dict]:
    """Import every query module once; return (QUERIES, ORACLES).

    Order — which IS the driver's attestation priority, since its
    correctness harness hash-checks the first ~50 names each round:
    least-recently-attested first per the committed ATTESTATION.json
    (regenerated by tools/attestation.py from the CORRECTNESS_r*.json
    archives), stable on registration order within a round. Each
    round's driver sample thus covers the stalest tail, and the
    regenerated ATTESTATION.json rotates it to the back.
    """
    global _loaded
    if not _loaded:
        for mod in _QUERY_MODULES:
            import_module(mod)
        last = _last_attested()
        # sorted() is stable, so ties keep registration order
        order = sorted(QUERIES, key=lambda n: last.get(n, 0))
        reordered = {n: QUERIES[n] for n in order}
        QUERIES.clear()
        QUERIES.update(reordered)
        _loaded = True
    return QUERIES, ORACLES

"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` expose the engine's registered operator
queries (udacity_data_wrangling_osm_case_study_spark.plans.registry): the full
SURVEY.md §2 inventory mapped onto the driver testdata, plus the scale
extensions (dedup / similarity / multimodal / text analysis).
``entry`` runs the flagship pricing-summary aggregate at sf0.001.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _registry():
    from udacity_data_wrangling_osm_case_study_spark.plans import registry

    return registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    queries, _ = _registry()
    return queries["pricing_summary"](spark, "/root/testdata/sf0.001")


def _fresh_cache(fn: Callable[[SparkSession, str], DataFrame]):
    """Start each driver query from a clean cache.

    Several registered queries cache shared intermediate frames
    (shingles, candidate pairs, canonical tag unions) that stay
    referenced for the life of the session; a harness that runs all
    253 queries in one session would otherwise accumulate every dead
    cache and trade executor memory for GC pressure. bench.py clears
    between queries itself (keeping its intentional warm second run);
    this wrapper gives the correctness harness the same hygiene.
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _fresh_cache(fn) for name, fn in _registry()[0].items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query — every registered query has
    one (binary/approximate pipelines are value-checked via hex
    arithmetic / tolerance-verdict columns)."""
    return dict(_registry()[1])

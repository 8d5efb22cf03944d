"""Volume correctness: the sharded ETL on a 10× replicated input must
produce exactly 10× every golden count (including CDC rows — id offsets
keep the copies distinct)."""

from __future__ import annotations

import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, "tools")
from replicate_osm import replicate  # noqa: E402

from udacity_data_wrangling_osm_case_study_spark.operators import pipeline
from tests.conftest import OSM_SAMPLE, PSI_SAMPLE, needs_sample

pytestmark = needs_sample(OSM_SAMPLE, PSI_SAMPLE)

GOLDEN = {
    "nodes": 13676,
    "nodes_tags": 1841,
    "ways": 1958,
    "ways_nodes": 16547,
    "ways_tags": 7040,
    "update_history": 8,
}


@pytest.mark.slow
def test_sharded_etl_at_10x(spark):
    big = tempfile.mktemp(suffix=".osm")
    shards = tempfile.mkdtemp(prefix="rep_shards_")
    try:
        replicate(OSM_SAMPLE, big, 10)
        tables = pipeline.build_tables(
            spark, big, PSI_SAMPLE, shard_dir=shards, shard_bytes=4 * 1024 * 1024
        )
        for name, expect in GOLDEN.items():
            assert tables[name].count() == expect * 10, name
    finally:
        shutil.rmtree(shards, ignore_errors=True)
        import os

        if os.path.exists(big):
            os.remove(big)


@pytest.mark.slow
def test_audits_scale_exactly_at_10x(spark):
    """Both reference audits at 10x input must report exactly 10x
    their 1x rows (each id-offset copy contributes its own audit
    findings) — the per-copy invariant the round-9 100x city-scale run
    (NOTES_r9) measured, pinned here at 10x so the suite guards it."""
    from udacity_data_wrangling_osm_case_study_spark.plans import audits

    big = tempfile.mktemp(suffix=".osm")
    try:
        replicate(OSM_SAMPLE, big, 10)
        names = audits.audit_bilingual_street_names(spark, big, PSI_SAMPLE)
        assert names.count() == 2 * 10
        phones = audits.audit_phone_numbers(spark, big)
        assert phones.count() == 11 * 10
    finally:
        import os

        if os.path.exists(big):
            os.remove(big)

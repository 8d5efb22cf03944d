"""S3 sink fidelity: write the 6 tables to CSV, read them back with the
contract schemas, and get identical relations."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from udacity_data_wrangling_osm_case_study_spark.operators import pipeline
from udacity_data_wrangling_osm_case_study_spark.sources import csv_io
from tests.conftest import OSM_SAMPLE, PSI_SAMPLE, needs_sample

pytestmark = needs_sample(OSM_SAMPLE, PSI_SAMPLE)


@pytest.fixture(scope="module")
def roundtrip(spark):
    tables = pipeline.build_tables(spark, OSM_SAMPLE, PSI_SAMPLE)
    out = tempfile.mkdtemp(prefix="osmspark_csv_")
    pipeline.write_csv(tables, out)
    yield tables, out
    shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize(
    "name", ["nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes", "update_history"]
)
def test_csv_roundtrip_identical(spark, roundtrip, name):
    tables, out = roundtrip
    back = csv_io.read_output_table(spark, out, name)
    orig = tables[name]
    # nullability flags differ by construction (posexplode outputs are
    # non-null; CSV reads are nullable) — names and types must match
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in orig.schema
    ]
    a = sorted(map(tuple, orig.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


@pytest.fixture(scope="module")
def parquet_out(spark, roundtrip):
    tables, _ = roundtrip
    out = tempfile.mkdtemp(prefix="osmspark_parquet_")
    pipeline.write_parquet(tables, out)
    yield tables, out
    shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize(
    "name", ["nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes", "update_history"]
)
def test_parquet_roundtrip_identical(spark, parquet_out, name):
    tables, out = parquet_out
    orig = tables[name]
    # partitionBy moves the partition column last on read — restore the
    # contract column order before comparing
    back = spark.read.parquet(f"{out}/{name}").select(*orig.columns)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in orig.schema
    ]
    assert sorted(map(tuple, orig.collect())) == sorted(map(tuple, back.collect()))


def test_parquet_tag_sink_partition_pruned(spark, parquet_out):
    # A type filter on the partitioned tag sink must prune directories
    # (PartitionFilters), not scan-and-filter.
    import contextlib
    import io

    _, out = parquet_out
    df = spark.read.parquet(f"{out}/ways_tags").filter("type = 'regular'")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "type" in p.split("PartitionFilters", 1)[1].splitlines()[0]


def test_stage_dir_mode_matches_persist_mode(spark, tmp_path):
    """Parquet staging (the bounded-memory posture for city-scale
    inputs) must be a pure storage-strategy swap: all six tables
    row-identical to the default persist mode."""
    from udacity_data_wrangling_osm_case_study_spark.operators import pipeline
    from tests.conftest import OSM_SAMPLE, PSI_SAMPLE

    staged = pipeline.build_tables(
        spark, OSM_SAMPLE, PSI_SAMPLE, stage_dir=str(tmp_path / "stage")
    )
    cached = pipeline.build_tables(spark, OSM_SAMPLE, PSI_SAMPLE)
    assert set(staged) == set(cached)
    for name in staged:
        a = sorted(map(tuple, staged[name].collect()))
        b = sorted(map(tuple, cached[name].collect()))
        assert a == b, name
    spark.catalog.clearCache()

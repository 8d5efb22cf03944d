"""Constraint validation over the ETL outputs: the clean sample must
produce a zero-violation report, and injected dirt must be caught."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import pipeline, validation
from tests.conftest import OSM_SAMPLE, PSI_SAMPLE, needs_sample


@pytest.fixture(scope="module")
def tables(spark):
    return pipeline.build_tables(spark, OSM_SAMPLE, PSI_SAMPLE)


@needs_sample(OSM_SAMPLE, PSI_SAMPLE)
def test_sample_is_fully_valid(tables):
    report = validation.validate_osm_tables(tables)
    assert report.count() == 11  # every rule reports exactly once
    assert report.filter(F.col("n_violations") > 0).count() == 0
    validation.assert_valid(tables)  # must not raise


@needs_sample(OSM_SAMPLE, PSI_SAMPLE)
def test_injected_violations_caught(spark, tables):
    dirty = dict(tables)
    bad_rows = spark.createDataFrame(
        [(999, "relation", "color")],
        ["id", "element_type", "field_updated"],
    )
    dirty["update_history"] = tables["update_history"].unionByName(bad_rows)
    report = {
        (r.table, r.rule): r.n_violations
        for r in validation.validate_osm_tables(dirty).collect()
    }
    assert report[("update_history", "field_domain")] == 1
    assert report[("update_history", "element_domain")] == 1
    with pytest.raises(ValueError, match="field_domain"):
        validation.assert_valid(dirty)


@needs_sample(OSM_SAMPLE, PSI_SAMPLE)
def test_fk_orphans_detected(spark, tables):
    dirty = dict(tables)
    orphan = spark.createDataFrame([(123456789, 1, 0)], ["id", "node_id", "position"])
    dirty["ways_nodes"] = tables["ways_nodes"].unionByName(orphan)
    report = {
        (r.table, r.rule): r.n_violations
        for r in validation.validate_osm_tables(dirty).collect()
    }
    assert report[("ways_nodes", "fk_way_exists")] == 1


def test_bucket_digest_partitioning_invariant_and_row_sensitive(spark):
    from pyspark.sql import functions as F

    base = spark.range(500).select(
        F.col("id"), (F.col("id") * 7 % 113).alias("v")
    )
    cols = [F.col("id"), F.col("v")]

    def digest_map(df):
        return {
            r.bucket: (r.n_rows, r.xor48, r.sum48)
            for r in validation.bucket_digest(df, cols).collect()
        }

    d1 = digest_map(base.repartition(16))
    d2 = digest_map(base.repartition(3, "v").sortWithinPartitions("v"))
    assert d1 == d2  # any layout, same digest

    # one changed field flips exactly that row's bucket triple
    changed = base.withColumn(
        "v", F.when(F.col("id") == 250, F.lit(999)).otherwise(F.col("v"))
    )
    d3 = digest_map(changed)
    diff = {b for b in set(d1) | set(d3) if d1.get(b) != d3.get(b)}
    assert 1 <= len(diff) <= 2  # old row's bucket and/or new row's bucket
    # total row count is unchanged even though digests differ
    assert sum(t[0] for t in d1.values()) == sum(t[0] for t in d3.values())

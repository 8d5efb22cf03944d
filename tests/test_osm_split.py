"""The XML sharder must preserve every element exactly and unlock
multi-partition scans."""

from __future__ import annotations

import glob
import shutil
import tempfile

import pytest

from udacity_data_wrangling_osm_case_study_spark.sources import osm_split, osm_xml
from tests.conftest import OSM_SAMPLE, needs_sample

pytestmark = needs_sample(OSM_SAMPLE)


@pytest.fixture(scope="module")
def shards(spark):
    d = tempfile.mkdtemp(prefix="osm_shards_")
    paths = osm_split.split_osm_xml(OSM_SAMPLE, d, target_bytes=512 * 1024)
    yield d, paths
    shutil.rmtree(d, ignore_errors=True)


def test_sharding_preserves_all_elements(spark, shards):
    d, paths = shards
    assert len(paths) > 1  # 3.9 MB at 512 KB target → several shards
    nodes = osm_xml.read_nodes_raw(spark, f"{d}/*.osm")
    ways = osm_xml.read_ways_raw(spark, f"{d}/*.osm")
    assert nodes.count() == 13676
    assert ways.count() == 1958
    # ids survive exactly (no element split across shards)
    single = osm_xml.read_nodes_raw(spark, OSM_SAMPLE)
    assert (
        sorted(r._id for r in nodes.select("_id").collect())
        == sorted(r._id for r in single.select("_id").collect())
    )


def test_sharded_scan_parallelizes(spark, shards):
    d, paths = shards
    nodes = osm_xml.read_nodes_raw(spark, f"{d}/*.osm")
    # one partition per shard (files are below maxPartitionBytes)
    assert nodes.rdd.getNumPartitions() >= len(paths)

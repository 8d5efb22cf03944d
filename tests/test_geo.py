"""Spatial proximity join: grid-bucketed pairs must EXACTLY match the
brute-force O(n²) answer (the grid is a candidate generator, never a
filter of true pairs), on synthetic grids and on real OSM nodes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import geo
from tests.conftest import OSM_SAMPLE, PSI_SAMPLE, needs_sample


def _brute(rows, radius_m):
    out = set()
    for i, (ia, la, lo) in enumerate(rows):
        for ib, lb, lo2 in rows[i + 1:]:
            rad = math.pi / 180
            dlat, dlon = (lb - la) * rad / 2, (lo2 - lo) * rad / 2
            a = (
                math.sin(dlat) ** 2
                + math.cos(la * rad) * math.cos(lb * rad) * math.sin(dlon) ** 2
            )
            d = 2 * geo.EARTH_RADIUS_M * math.asin(math.sqrt(a))
            if d <= radius_m:
                out.add((min(ia, ib), max(ia, ib)))
    return out


def test_points_within_radius_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    # clustered points around Sha Tin plus far-away singletons
    rows = [
        (i, 22.38 + rng.uniform(-0.004, 0.004), 114.19 + rng.uniform(-0.004, 0.004))
        for i in range(120)
    ] + [(1000, 22.9, 114.9), (1001, 21.9, 113.9)]
    df = spark.createDataFrame(rows, ["id", "lat", "lon"])
    got = {
        (r.id_a, r.id_b)
        for r in geo.points_within_radius(df, 100.0).collect()
    }
    assert got == _brute(rows, 100.0)
    assert all(i < 1000 for pair in got for i in pair)  # isolated points pair with nothing


def test_points_within_radius_cell_border_pairs(spark):
    # two points ~90 m apart straddling a cell border must still pair
    rows = [(1, 22.380000, 114.190000), (2, 22.380810, 114.190000)]
    df = spark.createDataFrame(rows, ["id", "lat", "lon"])
    got = geo.points_within_radius(df, 100.0).collect()
    assert len(got) == 1 and abs(got[0].distance_m - 90.17) < 1


@needs_sample(OSM_SAMPLE, PSI_SAMPLE)
def test_osm_nodes_proximity(spark):
    """Real OSM coordinates: every returned pair is within the radius
    and matches brute force on the sample."""
    from udacity_data_wrangling_osm_case_study_spark.operators import pipeline

    tables = pipeline.build_tables(spark, OSM_SAMPLE, PSI_SAMPLE)
    nodes = (
        tables["nodes"]
        .select(F.col("id"), F.col("lat"), F.col("lon"))
        .orderBy("id")
        .limit(400)
    )
    pairs = geo.points_within_radius(nodes, 25.0, ref_lat_deg=22.4)
    rows = [(r.id, float(r.lat), float(r.lon)) for r in nodes.collect()]
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == _brute(rows, 25.0)
    assert len(got) > 0  # the sample really contains near pairs

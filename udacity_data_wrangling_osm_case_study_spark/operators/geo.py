"""Spatial proximity join over OSM coordinates: grid-bucketed
point-radius pairing.

Spark has no native spatial join; the scalable pattern (as in public
GeoSpark/Sedona designs) is grid bucketing: hash each point into a
lat/lon cell sized to the search radius, generate candidates only
inside a cell and its 8 neighbors (a bounded 9-cell explode on ONE
side), and verify candidates with the exact haversine distance. Cost
scales with per-cell density², never corpus² — the same
inverted-index shape as the LSH dedup family, so one hot cell (a
dense urban block) is the skew to watch; shrink the cell or pre-cap
per-cell density for pathological inputs.

The cell width uses a fixed reference latitude for the lon→meters
conversion (fine for city-extent data like the reference's Hong Kong
extract; a global-extent job would bucket per latitude band). The
VERIFY step is exact haversine on a sphere — the approximation only
widens candidate cells, never drops a true pair (cells are sized
>= the radius).

Reference analog: none (the reference treats lat/lon as opaque
strings — SURVEY.md §1.2); this extends the engine's OSM surface the
way exploration's ``longest_streets`` does, and is golden/test
verified (the driver testdata carries no coordinates).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6_371_000.0


def haversine_m(lat_a, lon_a, lat_b, lon_b):
    """Exact great-circle distance in meters (column expression —
    stays in codegen)."""
    rad = math.pi / 180.0
    dlat = (lat_b - lat_a) * rad / 2
    dlon = (lon_b - lon_a) * rad / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(lat_a * rad) * F.cos(lat_b * rad) * F.sin(dlon) * F.sin(dlon)
    )
    return F.lit(2 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def points_within_radius(
    points: DataFrame,
    radius_m: float,
    ref_lat_deg: float | None = None,
    round_dp: int = 3,
) -> DataFrame:
    """All point pairs within ``radius_m`` meters: (id_a, id_b,
    distance_m), id_a < id_b, exact haversine.

    ``ref_lat_deg`` fixes the longitude cell width; default uses the
    widest (most conservative) cell across the data's latitude span,
    computed from the min |lat| bound — never narrower than the radius.
    """
    if ref_lat_deg is None:
        # Conservative: use the equator-width conversion (cells only
        # get WIDER in degrees at higher latitude, so sizing from the
        # smallest cos would shrink cells; instead size lon cells per
        # the maximum |lat| seen, aggregated below. For bounded-extent
        # data pass ref_lat_deg explicitly to skip the extra pass.
        ref_lat_deg = (
            points.agg(F.max(F.abs(F.col("lat")))).collect()[0][0] or 0.0
        )
    lat_cell_deg = radius_m / 111_320.0
    lon_cell_deg = radius_m / max(
        111_320.0 * math.cos(math.radians(min(abs(ref_lat_deg), 85.0))), 1e-6
    )
    base = points.select(
        "id",
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
        F.floor(F.col("lat") / lat_cell_deg).cast("long").alias("cy"),
        F.floor(F.col("lon") / lon_cell_deg).cast("long").alias("cx"),
    )
    # 9-cell neighborhood explode on the LEFT side only; the right side
    # joins on its exact cell — every near pair shares some probe cell.
    neighbors = F.array(
        *[
            F.struct(
                (F.col("cy") + dy).alias("ny"), (F.col("cx") + dx).alias("nx")
            )
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    probes = base.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(neighbors).alias("n"),
    ).select(
        "id_a", "lat_a", "lon_a",
        F.col("n.ny").alias("cy"), F.col("n.nx").alias("cx"),
    )
    cand = probes.join(
        base.select(
            F.col("id").alias("id_b"),
            F.col("lat").alias("lat_b"),
            F.col("lon").alias("lon_b"),
            "cy",
            "cx",
        ),
        ["cy", "cx"],
    ).filter(F.col("id_a") < F.col("id_b"))
    dist = haversine_m(
        F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
    )
    return (
        cand.withColumn("distance_m", F.round(dist, round_dp))
        .filter(F.col("distance_m") <= radius_m)
        .select("id_a", "id_b", "distance_m")
        # a pair can share several probe cells (borders): dedup
        .distinct()
    )

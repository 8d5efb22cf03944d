"""EXTENSION coverage: <relation> elements (routes/multipolygons).

The reference requests only node/way from its parser
(parse_clean_and_csv.py:250) and silently drops relations — VERDICT r3
lists them as the one OSM surface a full engine would add. Goldens
below were counted directly from shatin.osm (242 <relation>, 10,094
<member>, 1,249 <tag> children).
"""

from __future__ import annotations

from udacity_data_wrangling_osm_case_study_spark.operators import pipeline, shape
from udacity_data_wrangling_osm_case_study_spark.sources import osm_xml
from tests.conftest import OSM_SAMPLE, PSI_SAMPLE, needs_sample


@needs_sample(OSM_SAMPLE)
def test_relation_tables_golden_counts(spark):
    raw = osm_xml.read_relations_raw(spark, OSM_SAMPLE)
    rels = shape.shape_relations(raw)
    members = shape.shape_relation_members(raw)
    tags = shape.shape_tags(raw)
    assert rels.count() == 242
    assert members.count() == 10094
    # tag table drops problem-char keys, so <= raw tag children
    assert 0 < tags.count() <= 1249
    # document order: each relation's positions are exactly 0..n-1
    from pyspark.sql import functions as F

    bad = (
        members.groupBy("id")
        .agg(
            F.count("*").alias("n"),
            F.min("position").alias("lo"),
            F.max("position").alias("hi"),
        )
        .filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1))
        .count()
    )
    assert bad == 0
    # members reference real element types only
    types = {r.member_type for r in members.select("member_type").distinct().collect()}
    assert types <= {"node", "way", "relation"}


@needs_sample(OSM_SAMPLE, PSI_SAMPLE)
def test_pipeline_include_relations(spark):
    tables = pipeline.build_tables(
        spark, OSM_SAMPLE, PSI_SAMPLE, include_relations=True
    )
    assert set(tables) >= {"relations", "relations_members", "relations_tags"}
    assert tables["relations"].count() == 242
    # default contract unchanged: exactly the reference's six tables
    default = pipeline.build_tables(spark, OSM_SAMPLE, PSI_SAMPLE)
    assert set(default) == {
        "nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags",
        "update_history",
    }

"""The §2.9 exploration SQL over the OSM views, checked against facts
measured on the shatin.osm goldens."""

from __future__ import annotations

import pytest

from udacity_data_wrangling_osm_case_study_spark.operators import pipeline
from udacity_data_wrangling_osm_case_study_spark.plans import osm_exploration
from tests.conftest import OSM_SAMPLE, PSI_SAMPLE, needs_sample

pytestmark = needs_sample(OSM_SAMPLE, PSI_SAMPLE)


@pytest.fixture(scope="module")
def views(spark):
    tables = pipeline.build_tables(spark, OSM_SAMPLE, PSI_SAMPLE)
    pipeline.register_views(tables)
    return spark


def test_row_counts(views):
    rows = dict(
        (r.tbl, r.n)
        for r in views.sql(osm_exploration.EXPLORATION_SQL["row_counts"]).collect()
    )
    assert rows == {
        "nodes": 13676,
        "ways": 1958,
        "nodes_tags": 1841,
        "ways_tags": 7040,
        "ways_nodes": 16547,
        "update_history": 8,
    }


def test_cleaning_summary(views):
    rows = {
        (r.element_type, r.field_updated): r.n
        for r in views.sql(
            osm_exploration.EXPLORATION_SQL["cleaning_summary"]
        ).collect()
    }
    assert rows == {("node", "phone"): 1, ("way", "phone"): 5, ("way", "name"): 2}


def test_all_queries_run(views):
    for name, sql in osm_exploration.EXPLORATION_SQL.items():
        result = views.sql(sql)
        assert result.columns, name
        result.collect()


def test_top_amenities_shape(views):
    rows = views.sql(osm_exploration.EXPLORATION_SQL["top_amenities"]).collect()
    assert rows[0].value == "parking" and rows[0].n == 12


@pytest.fixture(scope="module")
def relation_views(spark):
    tables = pipeline.build_tables(
        spark, OSM_SAMPLE, PSI_SAMPLE, include_relations=True
    )
    pipeline.register_views(tables)
    return spark


def test_relations_exploration_against_goldens(relation_views):
    """The EXTENSION relation tables are query-reachable through the S6
    views; censuses reconcile with the counted shatin.osm goldens
    (242 relations / 10,094 members — tests/test_relations.py)."""
    sql = osm_exploration.RELATIONS_EXPLORATION_SQL
    type_rows = relation_views.sql(sql["relation_type_census"]).collect()
    assert sum(r.n_relations for r in type_rows) == 242
    types = {r.relation_type for r in type_rows}
    assert "multipolygon" in types  # shatin has building/landuse outlines

    role_rows = relation_views.sql(sql["relation_member_roles"]).collect()
    assert sum(r.n_members for r in role_rows) == 10094
    assert {r.member_type for r in role_rows} <= {"node", "way", "relation"}
    # every census row's type appeared in the type census too
    assert {r.relation_type for r in role_rows} <= types

    big = relation_views.sql(sql["largest_relations"]).collect()
    assert len(big) == 10
    ns = [r.n_members for r in big]
    assert ns == sorted(ns, reverse=True) and ns[0] >= ns[-1] >= 1

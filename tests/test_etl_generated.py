"""The paper's ETL end to end on generated OSM extracts.

``perfbench/gen_osm.py`` writes a seeded extract covering every
dirty-data class of FIXTURES.md §2 plus an oracle computed by a direct
Python reading of the reference's cleaning rules. Batch ETL (persisted
and staged), the CSV sink, both audits and the streaming ETL are checked
against that oracle, so the paper core is exercised without the Sha Tin
sample. A hand-written extract pins the edge cases row by row.
"""

from __future__ import annotations

import csv
import glob
import importlib.util
import os
import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import (
    pipeline,
    shape,
    street_repair,
)
from udacity_data_wrangling_osm_case_study_spark.plans import audits
from udacity_data_wrangling_osm_case_study_spark.sources import osm_split, osm_xml
from udacity_data_wrangling_osm_case_study_spark.streaming import osm_etl_stream

_GEN_OSM = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "gen_osm.py")
_spec = importlib.util.spec_from_file_location("gen_osm", _GEN_OSM)
gen_osm = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gen_osm)

TABLES = ["nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags", "update_history"]
SCALE = 0.05
SHARD_BYTES = 32 * 1024  # several shards per extract, so the parse is multi-partition


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def _history(rows) -> list[list]:
    """update_history rows in the oracle's order."""
    return sorted(([int(i), t, f] for i, t, f in rows), key=lambda r: (r[1], r[2], r[0]))


@pytest.fixture(scope="module", params=[1, 2, 3], ids=lambda s: f"seed{s}")
def extract(request, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"gen_osm_seed{request.param}")
    oracle = gen_osm.generate(str(d), request.param, SCALE)
    shards = str(d / "shards")
    osm_split.split_osm_xml(str(d / "extract.osm"), shards, target_bytes=SHARD_BYTES)
    return {
        "dir": d,
        "osm": str(d / "extract.osm"),
        "psi": str(d / "psi.xml"),
        "shards": shards,
        "oracle": oracle,
    }


@pytest.fixture(scope="module")
def batch(spark, extract):
    tables = pipeline.build_tables(spark, f"{extract['shards']}/*.osm", extract["psi"])
    yield tables
    spark.catalog.clearCache()


def _check_oracle(tables, oracle) -> None:
    assert {t: tables[t].count() for t in TABLES} == oracle["row_counts"]
    assert _history(tables["update_history"].collect()) == oracle["update_history"]


def test_persisted_tables_match_oracle(batch, extract):
    _check_oracle(batch, extract["oracle"])


def test_staged_tables_equal_persisted(spark, batch, extract):
    staged = pipeline.build_tables(
        spark, extract["osm"], extract["psi"], persist=False,
        stage_dir=str(extract["dir"] / "stage"),
    )
    _check_oracle(staged, extract["oracle"])
    for t in TABLES:
        assert _rows(staged[t]) == _rows(batch[t]), t


def test_csv_sink_matches_oracle(batch, extract):
    out = str(extract["dir"] / "csv")
    pipeline.write_csv(batch, out)
    counts, history = {}, []
    for t in TABLES:
        rows = []
        for part in sorted(glob.glob(f"{out}/{t}/part-*.csv")):
            with open(part, newline="", encoding="utf-8") as f:
                rows += list(csv.reader(f))[1:]
        counts[t] = len(rows)
        if t == "update_history":
            history = _history(rows)
    assert counts == extract["oracle"]["row_counts"]
    assert history == extract["oracle"]["update_history"]


def test_ways_tags_keep_parse_partitioning(spark, batch, extract):
    parse = osm_xml.read_ways_raw(spark, f"{extract['shards']}/*.osm")
    n = parse.rdd.getNumPartitions()
    assert n > 1
    assert batch["ways_tags"].rdd.getNumPartitions() == n


def test_audits_match_oracle(spark, extract):
    streets = audits.audit_bilingual_street_names(
        spark, extract["osm"], extract["psi"]
    ).collect()
    phones = audits.audit_phone_numbers(spark, extract["osm"]).collect()
    assert len(streets) == extract["oracle"]["audit_street_names"]
    assert [r.id for r in streets] == sorted(r.id for r in streets)
    assert len(phones) == extract["oracle"]["audit_phone_numbers"]


def test_stream_matches_oracle_and_batch(spark, batch, extract):
    out = str(extract["dir"] / "stream_out")
    osm_etl_stream.run_streaming_etl(spark, extract["shards"], extract["psi"], out)
    streamed = {t: spark.read.parquet(f"{out}/{t}").select(batch[t].columns) for t in TABLES}
    _check_oracle(streamed, extract["oracle"])
    for t in TABLES:
        assert _rows(streamed[t]) == _rows(batch[t]), t


def test_row_local_variants_match_generator(spark, extract):
    """The row-local A5 variants equal gen_osm.variants() way by way."""
    want = {}
    for way in ET.parse(extract["osm"]).getroot().iter("way"):
        names = gen_osm.variants([(t.get("k"), t.get("v")) for t in way.iter("tag")])
        if names is not None:
            want[int(way.get("id"))] = sorted(names)
    tag = F.col("tag")
    got = (
        shape.shape_elements(osm_xml.read_ways_raw(spark, extract["osm"]))
        .filter(street_repair.is_street(tag))
        .select("id", F.array_compact(F.array(*street_repair.name_variants(tag))).alias("v"))
        .collect()
    )
    assert {r.id: sorted(r.v) for r in got} == want
    assert sum(map(len, want.values())) > 50


# --- Edge cases on a hand-written extract -------------------------------
_PSI = [("SHA TIN ROAD", "沙田路"), ("TAI PO ROAD", "大埔路")]
_NODES = [
    {"id": 1, "tags": [("contact:phone", "2345 6789")]},
    {"id": 2, "tags": [("bad key:phone", "2345 6789"), ("amenity", "cafe")]},
]
_WAYS = [
    {"id": 10, "nds": [1, 2], "tags": [
        ("highway", "residential"), ("name:en", "Tai Po Road"),
        ("name:en", "Sha Tin Road"), ("name:zh", "沙田路")]},
    {"id": 11, "nds": [2, 1], "tags": [("highway", "primary"), ("name:en", "Tai Po Road")]},
]


def _write_edge_extract(d) -> tuple[str, str]:
    def tags(el):
        return "".join(f'<tag k="{k}" v="{v}"/>' for k, v in el["tags"])

    meta = 'user="u" uid="1" version="1" changeset="1" timestamp="2017-01-01T00:00:00Z"'
    lines = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    lines += [f'<node id="{n["id"]}" lat="22.4" lon="114.2" {meta}>{tags(n)}</node>'
              for n in _NODES]
    lines += [f'<way id="{w["id"]}" {meta}>'
              + "".join(f'<nd ref="{r}"/>' for r in w["nds"]) + f"{tags(w)}</way>"
              for w in _WAYS]
    (d / "edge.osm").write_text("\n".join(lines + ["</osm>"]) + "\n", encoding="utf-8")
    rows = "".join(f"<Row><English_Street_Name>{e}</English_Street_Name>"
                   f"<Chinese_Street_Name>{c}</Chinese_Street_Name></Row>" for e, c in _PSI)
    (d / "psi.xml").write_text(f"<Data>{rows}</Data>\n", encoding="utf-8")
    return str(d / "edge.osm"), str(d / "psi.xml")


def test_edge_cases(spark, tmp_path):
    osm, psi = _write_edge_extract(tmp_path)
    tables = pipeline.build_tables(spark, osm, psi)
    oracle = gen_osm.compute_oracle(_NODES, _WAYS, _PSI)
    _check_oracle(tables, oracle)
    # contact:phone is a phone key after the first-colon split: fixed
    # and logged; the problem-character key is dropped, not logged.
    assert _rows(tables["nodes_tags"]) == [
        (1, "phone", "+852 23456789", "contact"),
        (2, "amenity", "cafe", "regular"),
    ]
    # The repeated name:en keeps its LAST value (Sha Tin Road), so the
    # way matches one official row and every name:en is overwritten;
    # way 11 lacks name:zh and name, which are appended.
    way_names = [r for r in _rows(tables["ways_tags"]) if r[1] != "highway"]
    assert way_names == sorted([
        (10, "en", "Sha Tin Road", "name"),
        (10, "en", "Sha Tin Road", "name"),
        (10, "zh", "沙田路", "name"),
        (10, "name", "沙田路 Sha Tin Road", "regular"),
        (11, "en", "Tai Po Road", "name"),
        (11, "zh", "大埔路", "name"),
        (11, "name", "大埔路 Tai Po Road", "regular"),
    ], key=repr)
    assert _history(tables["update_history"].collect()) == [
        [1, "node", "phone"], [10, "way", "name"], [11, "way", "name"],
    ]
    spark.catalog.clearCache()

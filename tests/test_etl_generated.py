"""The paper's ETL end to end on generated OSM extracts.

``perfbench/gen_osm.py`` writes a seeded extract covering every
dirty-data class of FIXTURES.md §2 plus an oracle computed by a direct
Python reading of the reference's cleaning rules. Batch ETL (persisted
and staged), the CSV sink, both audits and the streaming ETL are checked
against that oracle, so the paper core is exercised without the Sha Tin
sample. A hand-written extract pins the edge cases row by row. The last
tests pin the street dictionary against its relational reference, its
plan shape (one PSI scan, one probe site), and the reuse of generated
code when the same op runs again.
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
    official_streets,
    pipeline,
    shape,
    street_repair,
)
from udacity_data_wrangling_osm_case_study_spark.plans import audits
from udacity_data_wrangling_osm_case_study_spark.plans.osm_exploration import EXPLORATION_SQL
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
        spark, extract["osm"], extract["psi"],
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


def _psi_rows(path: str) -> list[tuple[str, str | None]]:
    return [
        (r.findtext("English_Street_Name"), r.findtext("Chinese_Street_Name"))
        for r in ET.parse(path).getroot().iter("Row")
    ]


def test_audits_match_oracle(spark, extract):
    streets = audits.audit_bilingual_street_names(
        spark, extract["osm"], extract["psi"]
    ).collect()
    phones = audits.audit_phone_numbers(spark, extract["osm"]).collect()
    assert len(streets) == extract["oracle"]["audit_street_names"]
    assert len(phones) == extract["oracle"]["audit_phone_numbers"]
    # Row by row against a direct reading: the audit probes the
    # UNCORRECTED list and reports ways with exactly one matched row
    # and a missing or unmatched variant, in id order.
    official = gen_osm.official_list(_psi_rows(extract["psi"]), corrected=False)
    look = gen_osm.lookup_of(official)
    want = []
    for way in ET.parse(extract["osm"]).getroot().iter("way"):
        names = gen_osm.variants([(t.get("k"), t.get("v")) for t in way.iter("tag")])
        if names is None:
            continue
        hits = {look[n] for n in names if n in look}
        if len(hits) == 1 and (len(names) < 4 or any(n not in look for n in names)):
            want.append((int(way.get("id")), *official[hits.pop()]))
    assert [(r.id, r.official_eng, r.official_chi) for r in streets] == sorted(want)


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
    return str(d / "edge.osm"), _write_psi(d, _PSI)


def _write_psi(d, psi) -> str:
    rows = "".join(f"<Row><English_Street_Name>{e}</English_Street_Name>"
                   f"<Chinese_Street_Name>{c}</Chinese_Street_Name></Row>" for e, c in psi)
    (d / "psi.xml").write_text(f"<Data>{rows}</Data>\n", encoding="utf-8")
    return str(d / "psi.xml")


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


def test_street_dictionary_collisions_match_lookup_table(spark, tmp_path):
    """Names that land on two official rows keep the max(idx) row, as in
    name_lookup_table. gen_osm.lookup_of rejects such lists, so only a
    hand-written one has them."""
    psi = _write_psi(tmp_path, [
        ("TAI WAI ROAD", "大圍路"),
        ("FOO ROAD", "Tai Wai Road"),  # cross-language homonym of the row above
        ("ABERDEENT TUNTNTEL", "香港仔隧道"),  # corrected to Aberdeen Tunnel ...
        ("ABERDEEN TUNNEL", "鴨脷洲隧道"),  # ... which this row already is
        ("SHA TIN ROAD", "沙田路"),
    ])
    official = official_streets.clean_official_streets(
        osm_xml.read_official_streets_raw(spark, psi)
    )
    rows = official.collect()
    lookup = {r.name: r.idx for r in official_streets.name_lookup_table(official).collect()}
    assert len(rows) == 5 and len(lookup) == 2 * 5 - 2  # two collisions
    got = official_streets.street_dictionary(official).collect()[0]
    assert got.name_to_idx == lookup
    assert {k: tuple(v) for k, v in got.idx_to_name.items()} == {
        r.idx: (r.eng, r.chi) for r in rows
    }


# --- Plan shape and generated-code reuse ---------------------------------
@pytest.fixture(scope="module")
def small(tmp_path_factory):
    d = tmp_path_factory.mktemp("gen_osm_small")
    gen_osm.generate(str(d), 1, SCALE)
    return {"dir": d, "osm": str(d / "extract.osm"), "psi": str(d / "psi.xml")}


def _final_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def _psi_scans(plan: str) -> int:
    return sum("FileScan xml" in line and "psi.xml" in line for line in plan.splitlines())


def test_street_list_scanned_and_probed_once(spark, small):
    """One PSI scan per dictionary, one name_to_idx probe site per way,
    and no range-partitioning pass in the street audit."""
    probe = "element_at(name_to_idx"
    dictionary = official_streets.street_dictionary(
        official_streets.clean_official_streets(
            osm_xml.read_official_streets_raw(spark, small["psi"])
        )
    )
    assert _psi_scans(_final_plan(dictionary)) == 1

    audit = _final_plan(audits.audit_bilingual_street_names(spark, small["osm"], small["psi"]))
    assert audit.count(probe) == 1
    assert "rangepartitioning" not in audit.lower()

    ways = shape.shape_elements(osm_xml.read_ways_raw(spark, small["osm"]))
    repaired, _ = street_repair.repair_street_names(ways, dictionary)
    plan = _final_plan(repaired)
    assert plan.count(probe) == 1
    assert _psi_scans(plan) == 1


def test_repeated_etl_op_reuses_generated_code(spark, small, tmp_path):
    """The generated-extract op (six CSV sinks, both audits, the
    exploration SQL) run three times: the codegen cache holds its whole
    working set, so repeats compile (almost) nothing."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    osm, psi = small["osm"], small["psi"]

    def op(n: int) -> int:
        before = compiled.getCount()
        tables = pipeline.build_tables(spark, osm, psi)
        pipeline.write_csv(tables, str(tmp_path / f"csv{n}"))
        audits.audit_bilingual_street_names(spark, osm, psi).collect()
        audits.audit_phone_numbers(spark, osm).collect()
        pipeline.register_views(tables)
        for q in EXPLORATION_SQL.values():
            spark.sql(q).collect()
        spark.catalog.clearCache()
        return compiled.getCount() - before

    first, second, third = op(1), op(2), op(3)
    assert second <= first / 10, (first, second)
    assert third == 0, (first, second, third)

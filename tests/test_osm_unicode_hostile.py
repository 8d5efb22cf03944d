"""String-encoding attacks on the OSM XML SOURCE layer (round-13 s
campaign, extended): the parquet fuzzer attacks the ten driver tables,
but the XML scan (S1), the element-aligned splitter, and the streaming
drain never see its variants. This synthesizes a small .osm whose tag
keys/values carry the s-pool's hazard classes — astral-plane 4-byte
UTF-8, zero-width characters, NFC/NFD normalization twins, Zs-class
edge spaces, bidi controls — and pins:

1. value FIDELITY through the XML scan: what the parser lands in
   nodes_tags must be codepoint-exact, including zero-width chars and
   the normalization form (no implicit NFC anywhere);
2. the splitter stays element-aligned on multi-byte content (a byte
   scanner that assumed ASCII structure could cut a 4-byte char);
3. the streaming drain converges to the batch tables row-for-row on
   this input (the exactly-once claim is encoding-independent);
4. the first-colon key split (P3) is codepoint-safe when the key
   itself is astral CJK.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from udacity_data_wrangling_osm_case_study_spark.operators import pipeline
from udacity_data_wrangling_osm_case_study_spark.sources import osm_split
from udacity_data_wrangling_osm_case_study_spark.streaming import osm_etl_stream
from tests.conftest import PSI_SAMPLE, needs_sample

pytestmark = needs_sample(PSI_SAMPLE)

NFD_NAME = "Café \U00020000\U00020001 Street"   # decomposed é + CJK Ext-B
NFC_NAME = "Café \U00020000\U00020001 Street"    # precomposed twin
ZW_VALUE = "zero​width‌key‍"
EDGE_SPACE_VALUE = " pad　"
BIDI_VALUE = "‮mirror‬ text"
ASTRAL_KEY = "name:\U00020000\U00020001"

_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<osm version="0.6" generator="test">\n'
    ' <bounds minlat="22.0" minlon="114.0" maxlat="22.4" maxlon="114.3"/>\n'
)


def _node(i: int, tags: dict[str, str]) -> str:
    head = (
        f' <node id="{i}" visible="true" version="1" changeset="1"'
        f' timestamp="2017-07-01T14:31:00Z" user="u" uid="1"'
        f' lat="22.39" lon="114.19"'
    )
    if not tags:
        return head + "/>\n"
    body = "".join(f'  <tag k="{k}" v="{v}"/>\n' for k, v in tags.items())
    return head + ">\n" + body + " </node>\n"


def _way(i: int, refs: list[int], tags: dict[str, str]) -> str:
    body = "".join(f'  <nd ref="{r}"/>\n' for r in refs)
    body += "".join(f'  <tag k="{k}" v="{v}"/>\n' for k, v in tags.items())
    return (
        f' <way id="{i}" visible="true" version="1" changeset="1"'
        f' timestamp="2017-07-01T14:31:00Z" user="u" uid="1">\n'
        + body + " </way>\n"
    )


@pytest.fixture(scope="module")
def hostile_osm():
    # enough filler nodes that the splitter has to cut INSIDE the
    # multi-byte content region at a small target_bytes
    parts = [_HEADER]
    for i in range(1, 120):
        parts.append(_node(i, {}))
    parts.append(_node(200, {"name": NFD_NAME, ASTRAL_KEY: ZW_VALUE}))
    parts.append(_node(201, {"name": NFC_NAME, "phone": "+852 2697 5177"}))
    parts.append(_node(202, {"note": EDGE_SPACE_VALUE, "alt": BIDI_VALUE}))
    for i in range(300, 420):
        parts.append(_node(i, {}))
    parts.append(_way(500, [200, 201, 202],
                      {"name": NFD_NAME, "highway": "residential"}))
    parts.append(_way(501, [1, 2], {ASTRAL_KEY: EDGE_SPACE_VALUE}))
    parts.append("</osm>\n")
    d = tempfile.mkdtemp(prefix="hostile_osm_")
    path = os.path.join(d, "hostile.osm")
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(parts))
    yield path
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def tables(spark, hostile_osm):
    return pipeline.build_tables(spark, hostile_osm, PSI_SAMPLE)


def test_tag_values_are_codepoint_exact(tables):
    """XML scan fidelity: zero-width chars survive, normalization form
    is preserved (NFD and NFC names stay DISTINCT values), Zs-class
    edge spaces and bidi controls are untouched."""
    rows = {
        (r["id"], r["key"]): r["value"]
        for r in tables["nodes_tags"].collect()
    }
    assert rows[(200, "name")] == NFD_NAME
    assert rows[(201, "name")] == NFC_NAME
    assert rows[(200, "name")] != rows[(201, "name")]  # forms distinct
    assert rows[(202, "note")] == EDGE_SPACE_VALUE
    assert rows[(202, "alt")] == BIDI_VALUE


def test_astral_key_first_colon_split(tables):
    """P3 on an astral key: 'name:<CJK-ExtB>' must split at the FIRST
    colon into type='name', key='<CJK-ExtB>' — a byte-oriented split
    would corrupt the 4-byte sequences."""
    rows = [
        (r["type"], r["key"], r["value"])
        for r in tables["nodes_tags"].collect()
        if r["id"] == 200 and r["value"] == ZW_VALUE
    ]
    assert rows == [("name", "\U00020000\U00020001", ZW_VALUE)]


def test_splitter_is_element_aligned_on_multibyte(spark, hostile_osm, tables):
    """Split at a tiny target so cuts land inside the hostile region,
    then re-parse every shard: total node/way rows must equal the
    unsplit parse (a mid-codepoint or mid-element cut would drop or
    corrupt rows)."""
    shards = tempfile.mkdtemp(prefix="hostile_shards_")
    try:
        osm_split.split_osm_xml(hostile_osm, shards, target_bytes=4 * 1024)
        n_shards = len(os.listdir(shards))
        assert n_shards >= 3, "target too large to exercise splitting"
        got_nodes = 0
        got_tags = 0
        for s in sorted(os.listdir(shards)):
            t = pipeline.build_tables(
                spark, os.path.join(shards, s), PSI_SAMPLE
            )
            got_nodes += t["nodes"].count()
            got_tags += t["nodes_tags"].count()
        assert got_nodes == tables["nodes"].count()
        assert got_tags == tables["nodes_tags"].count()
    finally:
        shutil.rmtree(shards, ignore_errors=True)


def test_stream_converges_on_hostile_input(spark, hostile_osm, tables):
    """The availableNow drain must land the SAME six tables row-for-row
    on hostile-encoding input — the exactly-once/convergence claim is
    encoding-independent."""
    shards = tempfile.mkdtemp(prefix="hostile_stream_shards_")
    out = tempfile.mkdtemp(prefix="hostile_stream_out_")
    try:
        osm_split.split_osm_xml(hostile_osm, shards, target_bytes=4 * 1024)
        osm_etl_stream.run_streaming_etl(spark, shards, PSI_SAMPLE, out)
        for name in ("nodes", "nodes_tags", "ways", "ways_nodes",
                     "ways_tags", "update_history"):
            got = spark.read.parquet(f"{out}/{name}")
            batch = tables[name]
            a = sorted(map(tuple, got.select(batch.columns).collect()))
            b = sorted(map(tuple, batch.collect()))
            assert a == b, f"stream != batch on {name}"
    finally:
        shutil.rmtree(shards, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)

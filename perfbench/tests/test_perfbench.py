"""Tests of the benchmark's own parts.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import random
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import gen_osm  # noqa: E402
import gen_tables  # noqa: E402
from run import tree_cpu_s  # noqa: E402
from stats import core_util, fingerprint, op_medians, per_minute, ratio  # noqa: E402


def test_osm_generator_is_deterministic(tmp_path):
    a = gen_osm.generate(str(tmp_path / "a"), seed=5, scale=0.05)
    b = gen_osm.generate(str(tmp_path / "b"), seed=5, scale=0.05)
    c = gen_osm.generate(str(tmp_path / "c"), seed=6, scale=0.05)
    for f in ("extract.osm", "psi.xml", "oracle.json"):
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False)
    assert a == b
    assert not filecmp.cmp(tmp_path / "a" / "extract.osm", tmp_path / "c" / "extract.osm",
                           shallow=False)
    assert c["row_counts"]["nodes"] == a["row_counts"]["nodes"]


def test_table_generator_is_deterministic():
    a = gen_tables.build_tables(0.001, seed=3)
    b = gen_tables.build_tables(0.001, seed=3)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500


def test_oracle_covers_every_dirty_class(tmp_path):
    gen_osm.generate(str(tmp_path), seed=2, scale=0.3)
    osm = (tmp_path / "extract.osm").read_text(encoding="utf-8")
    psi = (tmp_path / "psi.xml").read_text(encoding="utf-8")
    for needle in ("＋852", "0755-", "; ", 'k="operator"', 'k="source"', 'k="contact:phone"',
                   'k="addr street"', 'k="name:zh:yue"', 'k="highway" v="service"',
                   'k="name:en"', "<relation "):
        assert needle in osm, needle
    assert psi.count("<Row>") == gen_osm.PSI_ROWS
    assert "D&apos;AGUILAR STREET" in psi or "D'AGUILAR STREET" in psi
    assert all(name in psi for name in gen_osm.SZ_NAMES)


def test_phone_rules():
    assert gen_osm.fix_phone("+852 2345 6789") == "+852 23456789"
    assert gen_osm.fix_phone("＋852 2345-6789") == "+852 23456789"
    assert gen_osm.fix_phone("13812345678") == "+86 13812345678"
    assert gen_osm.fix_phone("0755-8123-4567") == "+86 755 81234567"
    assert gen_osm.fix_phone("2345 6789; 9876 5432") == "+852 23456789;+852 98765432"
    assert gen_osm.fix_phone("2345 6789; call office") == "+852 23456789"
    assert gen_osm.fix_phone("ext. 123") == "ext. 123"


def test_rates_and_core_util():
    assert ratio(3, 4) == 0.75 and ratio(1, 0) == 0.0
    assert per_minute(10, 30.0) == 20.0
    # 6 task-seconds over 3 s of wall on 4 cores: half the cores busy
    assert core_util(6.0, 3.0, 4) == 0.5


def test_op_medians():
    # one slow pass (a host hiccup) does not move an op's median
    assert op_medians({"a": [1.0, 9.0, 2.0], "b": [4.0], "c": [3.0, 1.0]}) == {
        "a": 2.0, "b": 4.0, "c": 2.0}


def test_tree_cpu_counts_child_processes():
    """A child's CPU time counts while it runs and after it has ended."""

    def children_s():
        own = os.times()
        return tree_cpu_s() - own.user - own.system

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
    before = children_s()
    child = subprocess.Popen([sys.executable, "-c", burn + "input()"], stdin=subprocess.PIPE)
    deadline = time.monotonic() + 30
    while children_s() - before < 0.25:  # the live child is counted
        assert time.monotonic() < deadline
        time.sleep(0.02)
    child.communicate(b"\n")
    assert children_s() - before >= 0.25  # and kept once it is waited for


def test_fingerprint_ignores_row_order_but_not_content():
    rows = [(1, "a", 0.5), (2, None, 1.25), (2, None, 1.25), (3, "c", None)]
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    cols = ["id", "s", "x"]
    assert fingerprint(cols, rows) == fingerprint(cols, shuffled)
    assert fingerprint(cols, rows) != fingerprint(cols, rows[:-1])
    assert fingerprint(cols, rows) != fingerprint(cols, rows[1:] + [(1, "a", 0.51)])
    assert fingerprint(cols, rows) != fingerprint(["id", "s", "y"], rows)
    # the last bits of a double sum may differ between identical plans
    assert fingerprint(["x"], [(0.1 + 0.2,)]) == fingerprint(["x"], [(0.3,)])


@pytest.mark.slow
def test_tiny_etl_matches_generator_oracle(tmp_path, monkeypatch):
    """The six tables, the audits and row_counts of a real ETL run equal
    the generator's oracle."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    import workloads
    from spans import Tracer

    from udacity_data_wrangling_osm_case_study_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test")
    wl = workloads.OsmEtl(seed=11, work=str(tmp_path), scale=0.05)
    wl.prepare()
    result = wl.run(spark, Tracer(spark, "osm_etl"))
    assert wl.check("timed", result)
    assert result["phones_fixed"] == wl.oracles["timed"]["phones_fixed"] > 0
    assert result["names_fixed"] == wl.oracles["timed"]["names_fixed"] > 0

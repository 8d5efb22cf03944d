"""The A/B tool's summary: per-metric quartiles of each side, pair wins
in each metric's own direction, and the change in median."""

from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "ab.py")
_spec = importlib.util.spec_from_file_location("ab", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


@pytest.mark.guard
def test_summarize_quartiles_wins_and_delta():
    metrics = [
        {"name": "op_cpu_s", "better": "lower"},
        {"name": "ops_per_cpu_min", "better": "higher"},
        {"name": "setup_s", "better": "lower"},  # absent from every run
    ]
    a = [{"op_cpu_s": v, "ops_per_cpu_min": 10.0} for v in (1.0, 2.0, 3.0, 4.0, 5.0)]
    b = [{"op_cpu_s": v, "ops_per_cpu_min": w}
         for v, w in ((0.5, 11.0), (2.5, 9.0), (2.0, 10.0), (3.0, 12.0), (6.0, 13.0))]
    rows = {r["metric"]: r for r in ab.summarize(a, b, metrics)}
    assert set(rows) == {"op_cpu_s", "ops_per_cpu_min"}
    cpu = rows["op_cpu_s"]
    assert cpu["a"] == (2.0, 3.0, 4.0)
    assert cpu["b"] == (2.0, 2.5, 3.0)
    assert (cpu["b_wins"], cpu["pairs"]) == (3, 5)  # lower wins; ties do not
    assert cpu["delta_median"] == pytest.approx(-0.5)
    rate = rows["ops_per_cpu_min"]
    assert (rate["b_wins"], rate["pairs"]) == (3, 5)  # higher wins; 10 == 10 does not
    assert rate["delta_median"] == pytest.approx(1.0)
    assert ab.parse_seeds("801-803") == [801, 802, 803]
    assert ab.parse_seeds("7") == [7]

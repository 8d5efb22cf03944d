"""The sharded suite runner balances shards by per-file durations read
from pytest's junitxml; each case must map back to its test file."""

from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "run_suite_sharded.py")
_spec = importlib.util.spec_from_file_location("run_suite_sharded", _PATH)
sharded = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(sharded)


@pytest.mark.guard
@pytest.mark.parametrize("classname", ["tests.test_demo", "tests.test_demo.TestB"])
def test_junit_classname_maps_to_its_file(classname):
    assert sharded.case_file(classname) == "test_demo.py"

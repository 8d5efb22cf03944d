"""Row-level parity of the full ETL against the reference's outputs.

The fixtures under ``tests/golden/`` are the six CSVs the reference
pipeline itself emits on ``shatin.osm`` + the PSI street list (Py2→3
shim, logic unchanged; counts equal BASELINE.md's measured goldens:
nodes 13,676 / nodes_tags 1,841 / ways 1,958 / ways_nodes 16,547 /
ways_tags 7,040 / update_history 8). The engine must reproduce every
table row-for-row, order-insensitive.
"""

from __future__ import annotations

import gzip
import os

import pandas as pd
import pytest

from udacity_data_wrangling_osm_case_study_spark.operators import pipeline
from tests.conftest import OSM_SAMPLE, PSI_SAMPLE, needs_sample

pytestmark = needs_sample(OSM_SAMPLE, PSI_SAMPLE)

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")
GOLDEN_COUNTS = {
    "nodes": 13676,
    "nodes_tags": 1841,
    "ways": 1958,
    "ways_nodes": 16547,
    "ways_tags": 7040,
    "update_history": 8,
}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.fillna("")
    return df.astype(str).sort_values(list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def tables(spark):
    return pipeline.build_tables(spark, OSM_SAMPLE, PSI_SAMPLE)


@pytest.mark.parametrize("name", list(GOLDEN_COUNTS))
def test_table_matches_reference(tables, name):
    mine = tables[name].toPandas()
    with gzip.open(os.path.join(GOLDEN_DIR, f"{name}.csv.gz"), "rt") as fh:
        ref = pd.read_csv(fh, dtype=str, keep_default_na=False)
    assert len(mine) == GOLDEN_COUNTS[name]
    for c in mine.columns:
        if str(mine[c].dtype).startswith(("int", "Int")):
            ref[c] = ref[c].replace("", "-1").astype("int64")
            mine[c] = mine[c].fillna(-1).astype("int64")
        elif str(mine[c].dtype).startswith("float"):
            ref[c] = pd.to_numeric(ref[c], errors="coerce")
    a, b = _normalize(mine), _normalize(ref)
    assert list(a.columns) == list(b.columns)
    pd.testing.assert_frame_equal(a, b)


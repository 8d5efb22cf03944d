from __future__ import annotations

import os

import pytest

from udacity_data_wrangling_osm_case_study_spark.session import get_spark

OSM_SAMPLE = "/root/reference/shatin.osm"
PSI_SAMPLE = "/root/reference/PSI_Street Name_062017.xml"
SF_DIR = "/root/testdata/sf0.001"


def needs_sample(*paths: str) -> pytest.MarkDecorator:
    """Skip unless every Sha Tin sample file in ``paths`` exists; the
    reason names the missing ones."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"Sha Tin sample missing: {', '.join(missing)}"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s

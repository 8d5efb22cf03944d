"""Audit plans vs. the reference audit scripts' outputs on shatin.osm.

Golden facts measured from the shimmed reference runs this session:
- bilingual street audit: exactly 2 flagged streets — Fung Wo Lane
  (official: Fung Wo Lane / 豐禾里) and Sha Kok Stret [sic]
  (official: Sha Kok Street / 沙角街).
- phone audit: 11 tags (8 phone + 3 fax), character census
  {+, 8, 5, 2, ' ', 6, 9, 7, 1, 4, 0, 3}.
"""

from __future__ import annotations

import pytest

from udacity_data_wrangling_osm_case_study_spark.plans import audits
from tests.conftest import OSM_SAMPLE, PSI_SAMPLE, needs_sample


@pytest.fixture(scope="module")
def phone_tags(spark):
    return audits.audit_phone_numbers(spark, OSM_SAMPLE).cache()


@needs_sample(OSM_SAMPLE, PSI_SAMPLE)
def test_bilingual_street_audit_golden(spark):
    rows = audits.audit_bilingual_street_names(
        spark, OSM_SAMPLE, PSI_SAMPLE
    ).collect()
    assert len(rows) == 2
    by_eng = {r.official_eng: r for r in rows}
    assert set(by_eng) == {"Fung Wo Lane", "Sha Kok Street"}
    fung = by_eng["Fung Wo Lane"]
    assert fung.zh_only == "豐和里" and fung.official_chi == "豐禾里"
    sha = by_eng["Sha Kok Street"]
    assert sha.en_only == "Sha Kok Stret" and sha.official_chi == "沙角街"


@needs_sample(OSM_SAMPLE)
def test_phone_audit_golden(phone_tags):
    rows = phone_tags.collect()
    assert len(rows) == 11
    assert {r.key for r in rows} == {"phone", "fax"}


@needs_sample(OSM_SAMPLE)
def test_phone_key_counts(spark, phone_tags):
    counts = {r.key: r.n for r in audits.phone_key_counts(phone_tags).collect()}
    assert counts == {"phone": 8, "fax": 3}


@needs_sample(OSM_SAMPLE)
def test_phone_char_census(spark, phone_tags):
    chars = {r.ch for r in audits.phone_char_census(phone_tags).collect()}
    assert chars == set("+852 6971403")

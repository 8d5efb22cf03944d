"""Audit query plans — the reference's two exploratory entry points as
single declarative DataFrame queries.

§3.2 ``audit_bilingual_street_names`` (reference
audit_bilingual_street_names.py:230-278): streets whose up-to-4 name
variants resolve to exactly one official street yet disagree with it
(any variant unmatched, or fewer than 4 variants present). NB the
reference audits against the UNCORRECTED official list — no typo-fix /
blacklist step (SURVEY.md §2.12); reproduced via
``apply_corrections=False``.

§3.3 ``audit_phone_numbers`` (audit_phone_numbers.py:129-187): every
tag whose key is phone/fax or whose ;-split value segments match the
tolerant phone shapes, plus the key frequency count and the character
census that justified the cleaner's strip-regex.

Documented divergence: the reference appends a tag once PER matching
;-segment (audit_phone_numbers.py:154-161 has no break), so a value
with two phone-like segments would produce a duplicate report row;
this implementation reports each tag once. No tag in the shipped
sample has multiple matching segments, so the golden outputs agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import (
    official_streets,
    shape,
    street_repair,
)
from udacity_data_wrangling_osm_case_study_spark.sources import osm_xml

# Tolerant (pre-strip) phone shapes — the audit's probe regexes
# (audit_phone_numbers.py:30-55). The cleaner's strict post-strip
# regexes live in functions.phones; these accept separators in place.
HK_TOLERANT_RE = "^[＋+(]{0,2}[ ]?(852)?\\)?[- ]?([0-9]{4})[- ]?([0-9]{4})$"
SZ_TOLERANT_RE = (
    "^[＋+(]?(86)?\\)?[- ]?\\(?0?(755)\\)?[- ]?([0-9]{3,4})[- ]?([0-9]{3,4})$"
)
PRC_TOLERANT_RE = "^[＋+(]?(86)?\\)?[- ]?(1[3-9][0-9])[- ]?([0-9]{4})[- ]?([0-9]{4})$"


def audit_bilingual_street_names(
    spark: SparkSession, osm_path: str, psi_path: str
) -> DataFrame:
    """Streets with a unique-but-imperfect official match.

    Output: (id, en_only, zh_only, reg_eng, reg_chi, official_eng,
    official_chi) — the reference's report columns plus the way id and
    the match split into explicit language columns.
    """
    dictionary = official_streets.load_street_dictionary(
        spark, psi_path, apply_corrections=False
    )
    ways = shape.shape_elements(osm_xml.read_ways_raw(spark, osm_path))
    matched = street_repair.match_variants(ways, dictionary)
    flagged = (F.size("matches") == 1) & (
        (F.col("not_found") > 0) | (F.col("n_variants") < 4)
    )
    report = F.struct(
        "id", *street_repair.VARIANTS, street_repair.official_match().alias("official")
    )
    # The gate lives inside the row (a 0/1-element array exploded), not
    # in a row-level Filter: a Filter is pushed into the broadcast join
    # with every column it reads inlined, which probes the dictionary
    # once per reference instead of once per way.
    kept = matched.select(
        F.explode(F.filter(F.array(report), lambda _: flagged)).alias("_r")
    ).select(
        *(f"_r.{c}" for c in ["id", *street_repair.VARIANTS]),
        F.col("_r.official.eng").alias("official_eng"),
        F.col("_r.official.chi").alias("official_chi"),
    )
    # At most one row per street way, collected by the caller: one
    # partition sorted in place needs no range-bounds sampling job
    # (which would run the whole upstream a second time).
    return kept.coalesce(1).sortWithinPartitions("id")


def _tolerant_phone_segment(seg) -> F.Column:
    return (
        seg.rlike(HK_TOLERANT_RE)
        | seg.rlike(SZ_TOLERANT_RE)
        | seg.rlike(PRC_TOLERANT_RE)
    )


def audit_phone_numbers(spark: SparkSession, osm_path: str) -> DataFrame:
    """Phone-like tags across nodes and ways.

    A tag qualifies if its key is phone/fax, or if any ``;``-split
    segment of its value matches a tolerant phone shape. Output:
    (id, key, value, type, element_type).
    """
    node_tags = shape.shape_tags(osm_xml.read_nodes_raw(spark, osm_path)).withColumn(
        "element_type", F.lit("node")
    )
    way_tags = shape.shape_tags(osm_xml.read_ways_raw(spark, osm_path)).withColumn(
        "element_type", F.lit("way")
    )
    tags = node_tags.unionByName(way_tags)
    phone_like = F.col("key").isin("phone", "fax") | F.exists(
        F.split(F.col("value"), ";"), _tolerant_phone_segment
    )
    return tags.filter(phone_like).select(
        "id", "key", "value", "type", "element_type"
    )


def phone_key_counts(phone_tags: DataFrame) -> DataFrame:
    """A1/O1: frequency of keys among phone-like tags, descending."""
    return (
        phone_tags.groupBy("key")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "key")
    )


def phone_char_census(phone_tags: DataFrame) -> DataFrame:
    """A3: distinct characters in phone-like values (the census that
    justified the strip-regex). The reference preserves first-seen
    order, an artifact of its single-threaded scan; distributed, the
    census is the set with each char's minimum element id."""
    chars = phone_tags.select(
        "id", F.explode(F.regexp_extract_all(F.col("value"), F.lit("."), 0)).alias("ch")
    )
    return chars.groupBy("ch").agg(F.min("id").alias("first_id")).orderBy("ch")

"""Street-name repair — the reference's hardest operator, Spark-first.

Parity target: ``is_street`` / ``get_street_names`` / ``name_look_up`` /
``fix_street_names`` (reference parse_clean_and_csv.py:380-485):

1. P5 street gate: a way qualifies iff it has a ``highway`` tag whose
   value is one of 12 street classes.
2. A5 variants: up to 4 name variants per way — ``name:en``,
   ``name:zh``, and the English/Chinese runs regex-split out of the
   combined ``name`` value. The reference builds a per-way dict, so a
   repeated variant keeps the LAST tag ("dict overwrite").
3. J1 lookup: probe every variant into the official list keyed by BOTH
   languages; collect the set of matched rows and count misses.
4. Exactly-one-match gate: only an unambiguous way is repaired.
5. F5 overwrite-or-insert: set ``name:en`` / ``name:zh`` / ``name``
   (= ``chi + ' ' + eng``) to the canonical values, appending any
   missing tag; flag the way as updated if anything changed.

Scale shape: every step is ROW-LOCAL on the way's own shaped tag array
— the reference's per-way dict, as higher-order array functions. The
official list (a few-thousand-row dimension) arrives as a one-row
dictionary of two maps (official_streets.street_dictionary: one scan of
the PSI file, one aggregation), broadcast and cross-joined onto the
ways. The variants are probed into ``name_to_idx`` at one site in the
plan, once per way, like the reference's dict lookups. The way side
never shuffles and never explodes: the repaired frame keeps the parse's
partitioning, and the EAV rows come out only at the sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.functions import names as N
from udacity_data_wrangling_osm_case_study_spark.operators.cleaning import (
    changed_ids,
    rewrite_tags,
)
from udacity_data_wrangling_osm_case_study_spark.operators.shape import tag_struct

# Highway classes that make a way a government-named street
# (reference STREET_VALUES, parse_clean_and_csv.py:72-76).
STREET_VALUES = [
    "motorway", "trunk", "primary", "secondary", "tertiary",
    "residential", "living_street", "pedestrian", "track",
    "road", "steps", "path",
]

VARIANTS = ["en_only", "zh_only", "reg_eng", "reg_chi"]

# (type, key) of the three name tags the repair writes.
EN, ZH, REG = ("name", "en"), ("name", "zh"), ("regular", "name")


def _is(t: Column, shape: tuple[str, str]) -> Column:
    return (t["type"] == shape[0]) & (t["key"] == shape[1])


def _has(tag: Column, shape: tuple[str, str]) -> Column:
    return F.exists(tag, lambda t: _is(t, shape))


def is_street(tag: Column) -> Column:
    """P5 on a shaped tag array (the raw key is exactly ``highway``)."""
    return F.exists(
        tag, lambda t: _is(t, ("regular", "highway")) & t["value"].isin(STREET_VALUES)
    )


def name_variants(tag: Column) -> list[Column]:
    """A5 on a shaped tag array: the :data:`VARIANTS` as columns, NULL
    when absent. ``name:en``/``name:zh`` take the last such tag; the
    ``name`` splits take the last non-NULL extraction."""

    def last(values: Column) -> Column:
        return F.try_element_at(values, F.lit(-1))

    def values(shape: tuple[str, str]) -> Column:
        return F.transform(F.filter(tag, lambda t: _is(t, shape)), lambda t: t["value"])

    def last_extract(extract) -> Column:
        return last(F.array_compact(F.transform(values(REG), extract)))

    return [
        last(values(EN)),
        last(values(ZH)),
        last_extract(N.extract_english_name),
        last_extract(N.extract_chinese_name),
    ]


def match_variants(ways: DataFrame, dictionary: DataFrame) -> DataFrame:
    """J1 + A4 row-locally: adds the :data:`VARIANTS` columns (NULL off
    the street gate), the dictionary's columns, ``matches`` (distinct
    official idx hit), ``not_found`` and ``n_variants``."""
    street = F.col("_street")
    probed = (
        ways.withColumn("_street", is_street(F.col("tag")))
        .withColumns(
            {v: F.when(street, c) for v, c in zip(VARIANTS, name_variants(F.col("tag")))}
        )
        .crossJoin(F.broadcast(dictionary))
        .withColumn(
            "_idx",
            F.transform(
                F.array_compact(F.array(*VARIANTS)),
                lambda v: F.try_element_at(F.col("name_to_idx"), v),
            ),
        )
    )
    idx = F.col("_idx")
    return probed.withColumns(
        {
            "matches": F.array_distinct(F.array_compact(idx)),
            "not_found": F.size(F.filter(idx, lambda i: i.isNull())),
            "n_variants": F.size(idx),
        }
    ).drop("_street", "_idx")


def official_match() -> Column:
    """Exactly-one-match gate + J3: the struct(eng, chi) of the single
    matched official row, else NULL. ``F.get`` (not ``matches[0]``):
    the optimizer may evaluate the index before the size gate."""
    return F.when(
        F.size("matches") == 1,
        F.try_element_at(F.col("idx_to_name"), F.get(F.col("matches"), 0)),
    )


def repair_street_names(
    ways: DataFrame, dictionary: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """F5 overwrite-or-insert on each way's shaped ``tag`` array.
    Returns ``(repaired, updated_ids)``.

    ``repaired`` is ``ways`` with ``tag`` rewritten and a per-way
    ``_name_changed`` flag; ``updated_ids`` has one ``id`` row per way
    whose names changed — the 'name' CDC feed (S4).
    """
    canon = (
        match_variants(ways, dictionary)
        .withColumn("_canon", official_match())
        .select(*ways.columns, "_canon")
    )
    eng, chi = F.col("_canon.eng"), F.col("_canon.chi")
    want = [(EN, eng), (ZH, chi), (REG, F.concat(chi, F.lit(" "), eng))]
    tag = F.col("tag")

    def overwrite(t: Column) -> Column:
        value = t["value"]
        for shape, new in want:
            value = F.when(_is(t, shape), new).otherwise(value)
        return tag_struct(t["key"], value, t["type"])

    appended = F.array_compact(
        F.array(
            *(
                F.when(~_has(tag, shape), tag_struct(F.lit(shape[1]), new, F.lit(shape[0])))
                for shape, new in want
            )
        )
    )
    new_tag = F.when(
        F.col("_canon").isNotNull(), F.concat(F.transform(tag, overwrite), appended)
    ).otherwise(tag)
    repaired = rewrite_tags(canon, new_tag, "_name_changed").drop("_canon")
    return repaired, changed_ids(repaired, "_name_changed")

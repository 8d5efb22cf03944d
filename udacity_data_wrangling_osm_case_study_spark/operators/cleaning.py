"""Phone-tag cleaning on each element's tag array + CDC derivation (F4/P6/S4)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.functions import phones as P
from udacity_data_wrangling_osm_case_study_spark.operators import shape


def changed_ids(elements: DataFrame, flag: str) -> DataFrame:
    """One ``id`` row per element whose per-element ``flag`` is set."""
    return elements.filter(F.col(flag)).select("id")


def rewrite_tags(elements: DataFrame, new_tag: Column, flag: str) -> DataFrame:
    """Replace each element's ``tag`` array by ``new_tag`` and set the
    boolean column ``flag`` where the array changed."""
    return (
        elements.withColumn("_new_tag", new_tag)
        .withColumn(flag, ~F.col("tag").eqNullSafe(F.col("_new_tag")))
        .drop("tag")
        .withColumnRenamed("_new_tag", "tag")
    )


def fix_phones_in_tags(elements: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Canonicalize phone-key tag values inside each element's shaped
    ``tag`` array. Returns ``(cleaned, updated_ids)``.

    ``cleaned`` carries a per-element ``_phone_changed`` flag;
    ``updated_ids`` has one ``id`` row per element where any phone-key
    value changed. The reference's per-tag flag overwrite
    (parse_clean_and_csv.py:531-533) can lose an earlier update when a
    later phone-key tag is unchanged; we use OR semantics — documented
    intentional divergence (SURVEY.md §4 risk 4; identical on the
    sample data).
    """
    fixed = F.transform(
        F.col("tag"),
        lambda t: shape.tag_struct(
            t["key"],
            F.when(P.is_phone_key(t["key"]), P.fix_phone_value(t["value"])).otherwise(
                t["value"]
            ),
            t["type"],
        ),
    )
    cleaned = rewrite_tags(elements, fixed, "_phone_changed")
    return cleaned, changed_ids(cleaned, "_phone_changed")


def update_history(
    node_phone_ids: DataFrame, way_phone_ids: DataFrame, way_name_ids: DataFrame
) -> DataFrame:
    """S4 CDC table ``update_history(id, element_type, field_updated)``."""

    def _rows(ids: DataFrame, element_type: str, field: str) -> DataFrame:
        return ids.select(
            "id",
            F.lit(element_type).alias("element_type"),
            F.lit(field).alias("field_updated"),
        )

    return (
        _rows(node_phone_ids, "node", "phone")
        .unionByName(_rows(way_phone_ids, "way", "phone"))
        .unionByName(_rows(way_name_ids, "way", "name"))
    )

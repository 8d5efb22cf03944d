"""Element shaping: raw XML DataFrames → the 5-table relational model.

Parity target: ``shape_element`` (reference parse_clean_and_csv.py:115-166)
— attribute whitelist projection (P1), problem-key filter (P2),
first-colon key split (P3), and the ``position`` ordinal for way→node
edges (W1, via ``posexplode`` so document order is preserved without a
window/shuffle).

All shaping is narrow (project/explode/filter) — it fuses into one
whole-stage-codegen pass over the scan, the Spark equivalent of the
reference's single hand-fused loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.functions import keys as K

NODE_FIELDS = ["id", "lat", "lon", "user", "uid", "version", "changeset", "timestamp"]
WAY_FIELDS = ["id", "user", "uid", "version", "changeset", "timestamp"]

# Contract types per output column; shaping try_casts so a lenient
# (all-strings) read degrades malformed values to NULL instead of
# failing the scan — validation then reports them.
_FIELD_TYPES = {
    "id": "bigint", "lat": "double", "lon": "double", "user": "string",
    "uid": "bigint", "version": "int", "changeset": "bigint",
    "timestamp": "string",
}


def _typed(field: str):
    return F.expr(f"try_cast(_{field} AS {_FIELD_TYPES[field]})").alias(field)


def shape_nodes(nodes_raw: DataFrame) -> DataFrame:
    """``nodes(id, lat, lon, user, uid, version, changeset, timestamp)``."""
    return nodes_raw.select(*[_typed(f) for f in NODE_FIELDS])


def shape_ways(ways_raw: DataFrame) -> DataFrame:
    """``ways(id, user, uid, version, changeset, timestamp)``."""
    return ways_raw.select(*[_typed(f) for f in WAY_FIELDS])


def shape_way_nodes(ways_raw: DataFrame) -> DataFrame:
    """``ways_nodes(id, node_id, position)`` — ``posexplode`` keeps the
    XML document order as the ordinal with zero shuffle (W1)."""
    return ways_raw.select(
        F.expr("try_cast(_id AS bigint)").alias("id"),
        F.posexplode("nd").alias("position", "nd"),
    ).select(
        "id",
        F.expr("try_cast(nd._ref AS bigint)").alias("node_id"),
        "position",
    )


def shape_relations(relations_raw: DataFrame) -> DataFrame:
    """``relations(id, user, uid, version, changeset, timestamp)`` —
    EXTENSION (the reference drops <relation> elements); same attribute
    whitelist as ways."""
    return relations_raw.select(*[_typed(f) for f in WAY_FIELDS])


def shape_relation_members(relations_raw: DataFrame) -> DataFrame:
    """``relations_members(id, member_type, member_ref, role,
    position)`` — the relation analog of ``ways_nodes``: ``posexplode``
    preserves member document order (role semantics like route stop
    sequence depend on it) with zero shuffle."""
    return relations_raw.select(
        F.expr("try_cast(_id AS bigint)").alias("id"),
        F.posexplode("member").alias("position", "m"),
    ).select(
        "id",
        F.col("m._type").alias("member_type"),
        F.expr("try_cast(m._ref AS bigint)").alias("member_ref"),
        F.col("m._role").alias("role"),
        "position",
    )


def tag_struct(key: Column, value: Column, type_: Column) -> Column:
    """One shaped tag: ``struct<key, value, type>``, the element type of
    every shaped ``tag`` array."""
    return F.struct(key.alias("key"), value.alias("value"), type_.alias("type"))


def shape_tag_array(tag: Column) -> Column:
    """P2 + P3 on one element's raw ``tag`` array: drop tags whose raw
    key contains problem characters, split ``type:key`` at the first
    colon. Returns ``array<struct<key, value, type>>`` in document
    order (NULL for an element without tags)."""
    return F.transform(
        F.filter(tag, lambda t: ~K.has_problem_chars(t["_k"])),
        lambda t: tag_struct(K.key_remainder(t["_k"]), t["_v"], K.key_type(t["_k"])),
    )


def shape_elements(raw: DataFrame) -> DataFrame:
    """Element frame: a typed ``id``, the raw attribute and child
    columns, and ``tag`` shaped by :func:`shape_tag_array`. Cleaning
    and repair rewrite ``tag`` per element; sinks explode it."""
    return raw.select(
        F.expr("try_cast(_id AS bigint)").alias("id"),
        *[c for c in raw.columns if c != "tag"],
        shape_tag_array(F.col("tag")).alias("tag"),
    )


def explode_tags(elements: DataFrame) -> DataFrame:
    """EAV tags table ``(id, key, value, type)`` of an element frame."""
    return elements.select("id", F.inline("tag"))


def shape_tags(raw: DataFrame) -> DataFrame:
    """EAV tags table ``(id, key, value, type)`` for raw nodes, ways or
    relations."""
    return explode_tags(shape_elements(raw))

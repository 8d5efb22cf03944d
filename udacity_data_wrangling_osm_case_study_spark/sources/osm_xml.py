"""OSM / PSI XML sources — Spark 4 native XML data source.

The reference streams XML once with ``ET.iterparse`` and frees each
subtree for bounded memory (parse_clean_and_csv.py:168-175). Spark's
built-in XML source is itself a partitionable StAX stream: at cluster
scale a single city-dump splits across executors, which the reference's
single-process generator cannot do. One read per rowTag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from udacity_data_wrangling_osm_case_study_spark import schemas


def _read_xml(
    spark: SparkSession, path: str, row_tag: str, schema
) -> DataFrame:
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("attributePrefix", "_")
        .schema(schema)
        .load(path)
    )


def read_nodes_raw(
    spark: SparkSession, osm_path: str, lenient: bool = False
) -> DataFrame:
    """Raw <node> elements: attribute columns + nested tag array (S1).

    ``lenient=True`` reads every attribute as a string (dirty exports:
    one malformed number fails a typed ANSI scan outright); shaping
    then try_casts and operators/validation.py flags the casualties.
    """
    schema = schemas.OSM_NODE_SCHEMA_LENIENT if lenient else schemas.OSM_NODE_SCHEMA
    return _read_xml(spark, osm_path, "node", schema)


def read_ways_raw(spark: SparkSession, osm_path: str) -> DataFrame:
    """Raw <way> elements; nd array order is the document order (S1/W1)."""
    return _read_xml(spark, osm_path, "way", schemas.OSM_WAY_SCHEMA)


def read_relations_raw(spark: SparkSession, osm_path: str) -> DataFrame:
    """Raw <relation> elements: attributes + nested member/tag arrays.

    EXTENSION: the reference requests only node/way from its parser
    (parse_clean_and_csv.py:250) and drops relations on the floor;
    this read gives routes/multipolygons the same one-pass, pinned-
    schema scan as the other element types.
    """
    return _read_xml(spark, osm_path, "relation", schemas.OSM_RELATION_SCHEMA)


def read_official_streets_raw(spark: SparkSession, psi_path: str) -> DataFrame:
    """The PSI official bilingual street list, one row per <Row> (S2).

    Dimension table (~4.5k rows) — downstream always broadcasts it.
    """
    return _read_xml(spark, psi_path, "Row", schemas.PSI_ROW_SCHEMA)

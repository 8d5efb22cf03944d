"""End-to-end ETL: OSM XML + PSI list → 5 relational tables + CDC audit.

Spark rendering of the reference's ``process_map`` single pass
(parse_clean_and_csv.py:206-290,536-539). The reference fuses
shape→clean→write into one loop; here each stage is a declarative frame
and Catalyst fuses the narrow ones. The multi-sink economics differ on
purpose (SURVEY.md §4): the shared upstream (one shaped + cleaned frame
per element type) is persisted once so the six sinks don't re-scan the
XML.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from udacity_data_wrangling_osm_case_study_spark.operators import (
    cleaning,
    official_streets,
    shape,
    street_repair,
)
from udacity_data_wrangling_osm_case_study_spark.sources import osm_xml


def clean_nodes(raw: DataFrame) -> DataFrame:
    """The per-node chain: shape, then phone-clean. The result carries
    the ``_phone_changed`` flag the CDC table reads."""
    nodes, _ = cleaning.fix_phones_in_tags(shape.shape_elements(raw))
    return nodes


def clean_ways(raw: DataFrame, dictionary: DataFrame) -> DataFrame:
    """The per-way chain: shape, phone-clean, then repair street names
    against the one-row ``dictionary``
    (:func:`official_streets.load_street_dictionary`). The result
    carries the ``_phone_changed`` and ``_name_changed`` flags."""
    ways, _ = cleaning.fix_phones_in_tags(shape.shape_elements(raw))
    ways, _ = street_repair.repair_street_names(ways, dictionary)
    return ways


def node_tables(nodes: DataFrame) -> dict[str, DataFrame]:
    """The node-side output tables of cleaned nodes."""
    return {"nodes": shape.shape_nodes(nodes), "nodes_tags": shape.explode_tags(nodes)}


def way_tables(ways: DataFrame) -> dict[str, DataFrame]:
    """The way-side output tables of cleaned ways."""
    return {
        "ways": shape.shape_ways(ways),
        "ways_nodes": shape.shape_way_nodes(ways),
        "ways_tags": shape.explode_tags(ways),
    }


def build_tables(
    spark: SparkSession,
    osm_path: str,
    psi_path: str,
    shard_dir: str | None = None,
    shard_bytes: int = 128 * 1024 * 1024,
    include_relations: bool = False,
    stage_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Returns the 6-table dict: nodes, nodes_tags, ways, ways_nodes,
    ways_tags, update_history.

    The ETL is ROW-LOCAL: each ``<node>``/``<way>`` row keeps its own
    tag array, shaped, phone-cleaned and (ways) street-repaired in
    place, like the reference's per-element loop. The official street
    list arrives as one broadcast dictionary row. The persist point is
    one cleaned frame per element type; all six tables are narrow
    projections of those two frames (the tag tables explode the
    array), so the sinks share one parse and the way side never
    shuffles.

    Without the persist, six sinks re-parse the XML per action — the
    multi-sink economics of SURVEY.md §4. ``shard_dir`` routes the
    input through the element-aligned splitter first
    (sources/osm_split.py): Spark's XML source doesn't split within one
    file, so sharding is what makes the parse scale with
    cores/executors.

    ``stage_dir`` swaps the block-manager cache for PARQUET STAGING:
    each cleaned element frame is written once to
    ``{stage_dir}/<name>`` and read back, so the six sinks share it
    through the filesystem instead of executor storage. This is the
    city-scale-and-up memory posture: the round-9 100x run peaked at
    11.0 GB tree RSS (~27x the input) because the cached parses
    (nested tag arrays, columnar batches) plus six concurrent sink
    jobs all lived in one heap, and at corpus scale a cache of
    input-sized frames only guarantees eviction churn. Staged frames cost two extra file round-trips but bound
    executor storage at zero, prune columns on every downstream
    re-read (the cache always rehydrates whole batches), and a lost
    executor re-reads files instead of re-parsing XML. Measured at
    100x (NOTES_r10): peak RSS drops ~3x for the same wall time.

    ``include_relations=True`` adds three EXTENSION tables the
    reference drops on the floor (it requests only node/way —
    parse_clean_and_csv.py:250): relations, relations_members
    (document-ordered, like ways_nodes), relations_tags (same
    problem-key filter and first-colon split as the other tag tables).
    Off by default so the default output stays byte-comparable to the
    reference's six-table contract.
    """
    if shard_dir is not None:
        from udacity_data_wrangling_osm_case_study_spark.sources import osm_split

        osm_split.split_osm_xml(osm_path, shard_dir, target_bytes=shard_bytes)
        osm_path = f"{shard_dir}/*.osm"

    def _keep(df: DataFrame, name: str) -> DataFrame:
        if stage_dir is not None:
            # Small row groups: the default 128 MB parquet write buffer,
            # held per concurrent task, made the staging write itself
            # the peak-RSS driver (measured 12.7 GB vs 6.7 GB cached at
            # 100x before this option; scratch staging has no
            # scan-efficiency reason to want big row groups).
            (
                df.write.mode("overwrite")
                .option("parquet.block.size", 8 * 1024 * 1024)
                .parquet(f"{stage_dir}/{name}")
            )
            return spark.read.parquet(f"{stage_dir}/{name}")
        return df.persist(StorageLevel.MEMORY_AND_DISK)

    dictionary = official_streets.load_street_dictionary(spark, psi_path)
    nodes = clean_nodes(osm_xml.read_nodes_raw(spark, osm_path))
    ways = clean_ways(osm_xml.read_ways_raw(spark, osm_path), dictionary)
    # The CDC table reads the flags of the KEPT frames, so it hits the
    # cache (or the staged files) rather than re-cleaning.
    nodes, ways = _keep(nodes, "nodes"), _keep(ways, "ways")

    tables = {
        **node_tables(nodes),
        **way_tables(ways),
        "update_history": cleaning.update_history(
            cleaning.changed_ids(nodes, "_phone_changed"),
            cleaning.changed_ids(ways, "_phone_changed"),
            cleaning.changed_ids(ways, "_name_changed"),
        ),
    }
    if include_relations:
        rel_raw = _keep(osm_xml.read_relations_raw(spark, osm_path), "relations_raw")
        tables["relations"] = shape.shape_relations(rel_raw)
        tables["relations_members"] = shape.shape_relation_members(rel_raw)
        tables["relations_tags"] = shape.shape_tags(rel_raw)
    return tables


def write_csv(tables: dict[str, DataFrame], out_dir: str) -> None:
    """S3: CSV sinks, header + utf-8, one directory per table."""
    for name, df in tables.items():
        df.write.mode("overwrite").option("header", True).csv(f"{out_dir}/{name}")


# Tag tables are directory-partitioned by tag type: the audits and the
# SQL exploration filter on type ('regular' vs namespaced classes), so
# the partition prunes at directory level before any file opens.
_PARQUET_PARTITIONS = {"nodes_tags": ["type"], "ways_tags": ["type"]}


def write_parquet(tables: dict[str, DataFrame], out_dir: str) -> None:
    """Scale-out sink beside the CSV parity path: columnar, compressed,
    splittable — what the 100 TB deployment writes (the reference's
    CSV→SQL import step, README.md:5, collapses into reading these
    files directly). Layouts via operators.layout."""
    from udacity_data_wrangling_osm_case_study_spark.operators import layout

    for name, df in tables.items():
        cols = _PARQUET_PARTITIONS.get(name)
        if cols:
            layout.write_partitioned(df, f"{out_dir}/{name}", cols)
        else:
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}")


def register_views(tables: dict[str, DataFrame]) -> None:
    """S6: expose the relational model to Spark SQL exploration."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)

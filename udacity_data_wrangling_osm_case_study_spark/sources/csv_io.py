"""CSV source/sink helpers (S3/S6): the engine's outputs are readable
back with their contract schemas — the 'import into a SQL database'
step (README.md:5) is a schema-on-read CSV scan + view registration."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from udacity_data_wrangling_osm_case_study_spark import schemas

TABLE_SCHEMAS = {
    "nodes": schemas.NODES_SCHEMA,
    "nodes_tags": schemas.TAGS_SCHEMA,
    "ways": schemas.WAYS_SCHEMA,
    "ways_tags": schemas.TAGS_SCHEMA,
    "ways_nodes": schemas.WAY_NODES_SCHEMA,
    "update_history": schemas.UPDATE_HISTORY_SCHEMA,
}


def read_output_table(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """Read one engine CSV output back with its contract schema."""
    return (
        spark.read.option("header", True)
        .schema(TABLE_SCHEMAS[name])
        .csv(f"{out_dir}/{name}")
    )


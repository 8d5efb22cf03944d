"""Explicit schema-on-read StructTypes for every source.

Why explicit: schema inference is a second full scan on a 100 TB input,
and inference can demote ``tag`` from array<struct> to struct when an
element has exactly one child. Pinning the schema keeps one streaming
pass per read and stable downstream plans.

Logical types follow the reference's implied model (SURVEY.md §1.2;
reference field lists at parse_clean_and_csv.py:61-68): ids are int64,
coordinates are double, ``position`` is the 0-based document-order
ordinal of ``<nd>`` refs inside a way.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Nested <tag k=".." v=".."/> child of both <node> and <way>.
TAG_CHILD = StructType(
    [
        StructField("_k", StringType(), True),
        StructField("_v", StringType(), True),
    ]
)

# Nested <nd ref=".."/> child of <way>; array order is semantic (W1).
ND_CHILD = StructType([StructField("_ref", LongType(), True)])

# rowTag='node' over OSM XML. Attribute columns use the '_' prefix.
OSM_NODE_SCHEMA = StructType(
    [
        StructField("_id", LongType(), True),
        StructField("_lat", DoubleType(), True),
        StructField("_lon", DoubleType(), True),
        StructField("_user", StringType(), True),
        StructField("_uid", LongType(), True),
        StructField("_version", IntegerType(), True),
        StructField("_changeset", LongType(), True),
        StructField("_timestamp", StringType(), True),
        StructField("tag", ArrayType(TAG_CHILD), True),
    ]
)

# rowTag='way'.
OSM_WAY_SCHEMA = StructType(
    [
        StructField("_id", LongType(), True),
        StructField("_user", StringType(), True),
        StructField("_uid", LongType(), True),
        StructField("_version", IntegerType(), True),
        StructField("_changeset", LongType(), True),
        StructField("_timestamp", StringType(), True),
        StructField("nd", ArrayType(ND_CHILD), True),
        StructField("tag", ArrayType(TAG_CHILD), True),
    ]
)

# Nested <member type=".." ref=".." role=".."/> child of <relation>.
MEMBER_CHILD = StructType(
    [
        StructField("_type", StringType(), True),
        StructField("_ref", LongType(), True),
        StructField("_role", StringType(), True),
    ]
)

# rowTag='relation'. EXTENSION beyond the reference, which requests only
# node/way elements (parse_clean_and_csv.py:250) and silently drops
# relations — a full OSM engine needs routes/multipolygons, so the
# engine models them as three more tables mirroring the way family.
OSM_RELATION_SCHEMA = StructType(
    [
        StructField("_id", LongType(), True),
        StructField("_user", StringType(), True),
        StructField("_uid", LongType(), True),
        StructField("_version", IntegerType(), True),
        StructField("_changeset", LongType(), True),
        StructField("_timestamp", StringType(), True),
        StructField("member", ArrayType(MEMBER_CHILD), True),
        StructField("tag", ArrayType(TAG_CHILD), True),
    ]
)

# rowTag='Row' over the PSI official bilingual street list
# (child *elements*, so no attribute prefix).
PSI_ROW_SCHEMA = StructType(
    [
        StructField("English_Street_Name", StringType(), True),
        StructField("Chinese_Street_Name", StringType(), True),
        StructField("District_Code", StringType(), True),
    ]
)

# Output contract — 5 relational tables + CDC audit table
# (reference: parse_clean_and_csv.py:61-68).
NODES_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("user", StringType(), True),
        StructField("uid", LongType(), True),
        StructField("version", IntegerType(), True),
        StructField("changeset", LongType(), True),
        StructField("timestamp", StringType(), True),
    ]
)
TAGS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("key", StringType(), True),
        StructField("value", StringType(), True),
        StructField("type", StringType(), True),
    ]
)
WAYS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("user", StringType(), True),
        StructField("uid", LongType(), True),
        StructField("version", IntegerType(), True),
        StructField("changeset", LongType(), True),
        StructField("timestamp", StringType(), True),
    ]
)
WAY_NODES_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("node_id", LongType(), False),
        StructField("position", IntegerType(), False),
    ]
)
UPDATE_HISTORY_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("element_type", StringType(), False),
        StructField("field_updated", StringType(), False),
    ]
)

# Lenient (everything-as-strings) variants: a single malformed numeric
# attribute fails a typed scan outright under ANSI; dirty planet-scale
# exports read as strings and try_cast downstream, with
# operators/validation.py flagging the casualties. This matches the
# reference's own model — it carries everything as strings end-to-end
# (SURVEY.md §1.2).
OSM_NODE_SCHEMA_LENIENT = StructType(
    [
        StructField(f.name, StringType(), True)
        for f in OSM_NODE_SCHEMA.fields
        if f.name != "tag"
    ]
    + [StructField("tag", ArrayType(TAG_CHILD), True)]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

"""Schema/constraint validation — the engine's answer to the
reference's cerberus hook (``validate_element``,
parse_clean_and_csv.py:177-186, wired but off at :539).

Row-at-a-time document validation doesn't scale; the Spark-native
equivalent is (a) schema-on-read StructTypes (schemas.py — malformed
values become nulls at the scan) plus (b) declarative constraint-check
frames: each rule is a filter counting violations in one pass, all
rules unioned into a single violations report. Zero rows = valid, and
the report itself is queryable/auditable output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _rule(df: DataFrame, table: str, rule: str, predicate) -> DataFrame:
    """One constraint → a one-row frame counting rows that FAIL the
    predicate (nulls count as failures)."""
    return (
        df.filter(~F.coalesce(predicate, F.lit(False)))
        .agg(F.count("*").alias("n_violations"))
        .select(
            F.lit(table).alias("table"), F.lit(rule).alias("rule"), "n_violations"
        )
    )


def validate_osm_tables(tables: dict[str, DataFrame]) -> DataFrame:
    """Constraint report over the 5-table model + CDC table.

    Mirrors the Udacity-standard cerberus schema's intent: required
    ids, coordinate ranges, non-null EAV fields, referential integrity
    of the edge table, CDC enum domains.
    """
    nodes, ways = tables["nodes"], tables["ways"]
    nodes_tags, ways_tags = tables["nodes_tags"], tables["ways_tags"]
    ways_nodes, history = tables["ways_nodes"], tables["update_history"]

    checks = [
        _rule(nodes, "nodes", "id_not_null", F.col("id").isNotNull()),
        _rule(nodes, "nodes", "lat_range", F.col("lat").between(-90.0, 90.0)),
        _rule(nodes, "nodes", "lon_range", F.col("lon").between(-180.0, 180.0)),
        _rule(
            nodes,
            "nodes",
            "timestamp_iso8601",
            F.col("timestamp").rlike(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$"),
        ),
        _rule(ways, "ways", "id_not_null", F.col("id").isNotNull()),
        _rule(
            nodes_tags,
            "nodes_tags",
            "key_value_not_null",
            F.col("key").isNotNull() & F.col("value").isNotNull(),
        ),
        _rule(
            ways_tags,
            "ways_tags",
            "type_not_empty",
            F.col("type").isNotNull() & (F.col("type") != ""),
        ),
        _rule(ways_nodes, "ways_nodes", "position_non_negative", F.col("position") >= 0),
        _rule(
            history,
            "update_history",
            "field_domain",
            F.col("field_updated").isin("phone", "name"),
        ),
        _rule(
            history,
            "update_history",
            "element_domain",
            F.col("element_type").isin("node", "way"),
        ),
    ]
    report = checks[0]
    for c in checks[1:]:
        report = report.unionByName(c)

    # Referential integrity: every way_nodes.id must be a known way
    # (left anti join — the orphan count).
    orphans = (
        ways_nodes.join(ways.select("id"), "id", "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .select(
            F.lit("ways_nodes").alias("table"),
            F.lit("fk_way_exists").alias("rule"),
            "n_violations",
        )
    )
    return report.unionByName(orphans)


def assert_valid(tables: dict[str, DataFrame]) -> None:
    """Raise if any constraint is violated (the validate=True path)."""
    bad = validate_osm_tables(tables).filter(F.col("n_violations") > 0).collect()
    if bad:
        detail = ", ".join(f"{r.table}.{r.rule}={r.n_violations}" for r in bad)
        raise ValueError(f"constraint violations: {detail}")


def bucket_digest(df: DataFrame, cols: list) -> DataFrame:
    """Order-insensitive per-bucket table digest for cross-engine /
    cross-cluster reconciliation (the anti-entropy check a replication
    or migration pipeline runs instead of row-by-row diffing).

    Each row is serialized canonically (callers pass integer-exact
    column expressions — cents, not floats), md5-hashed, and routed to
    one of 256 buckets by its 2-hex-digit hash prefix; per bucket the
    digest is (row count, XOR of the 48-bit hash tail, exact decimal
    SUM of the same) — all order-insensitive, so any partitioning or
    shuffle order produces the identical report, and a single differing
    row flips its bucket's digest. Cost: one map-side hash + one
    groupBy on a tiny key space; the comparison between two tables is
    then 256 rows, not N.

    XOR alone cancels on duplicate-pair insertions; COUNT+SUM alone
    miss swapped field values that preserve totals — together they are
    the standard reconciliation triple.

    NULLs serialize as the sentinel ``\\N`` (concat_ws would silently
    SKIP a null column, making rows that differ only in which column is
    null hash identically — and diverging from engines whose ``||``
    null-propagates).
    """
    sentinel = F.lit("\\N")
    canon = [F.coalesce(F.col(c).cast("string") if isinstance(c, str)
                        else c.cast("string"), sentinel) for c in cols]
    h = F.md5(F.concat_ws("|", *canon))
    val48 = F.conv(F.substring(h, 3, 12), 16, 10).cast("long")
    return (
        df.select(
            F.substring(h, 1, 2).alias("bucket"),
            val48.alias("_v"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr("bit_xor(_v)").cast("long").alias("xor48"),
            F.sum(F.col("_v").cast("decimal(38,0)")).cast("string").alias("sum48"),
        )
    )

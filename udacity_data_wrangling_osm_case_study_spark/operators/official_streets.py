"""Official bilingual street list — dimension-table pipeline.

Parity target: ``get_official_name_list`` + ``update_official_list``
(reference parse_clean_and_csv.py:310-356): capwords the English name
(F1), drop null names (P8), drop exact duplicate pairs (A2), eliminate
XOR-ambiguous rows (J2), apply the typo fix map (F2), drop Shenzhen
homonyms (P9).

Scale note (J2 rewrite): the reference runs an O(n²) nested loop over
the list. "Drop row i if some j shares exactly one of (eng, chi)" is,
after exact-pair dedup, equivalent to "keep rows whose eng is globally
unique AND whose chi is globally unique" — two window counts instead of
a self cross-join. Same result, linear.

The list is a ~4.5k-row dimension that downstream always broadcasts, so
it is built on ONE partition: the dedup and the two window counts need
no shuffle. The repair and the street audit receive it as a one-row
dictionary (:func:`street_dictionary`) built by one aggregation over
one scan of the PSI file; :func:`name_lookup_table` is the relational
form of its name map, kept as the reference the tests compare with.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.functions import names as N
from udacity_data_wrangling_osm_case_study_spark.sources import osm_xml


def clean_official_streets(raw: DataFrame, apply_corrections: bool = True) -> DataFrame:
    """PSI rows → ``official(idx, eng, chi)``.

    ``apply_corrections=False`` reproduces the reference audit scripts'
    drift (they skip ``update_official_list`` — SURVEY.md §2.12).
    """
    df = raw.coalesce(1).select(
        N.capwords(F.col("English_Street_Name")).alias("eng"),
        F.col("Chinese_Street_Name").alias("chi"),
    )
    # P8 null-drop, then A2 exact-pair dedup.
    df = df.dropna(subset=["eng", "chi"]).dropDuplicates(["eng", "chi"])
    # J2 rewrite: keep rows whose eng AND chi are globally unique.
    w_eng = Window.partitionBy("eng")
    w_chi = Window.partitionBy("chi")
    df = (
        df.withColumn("_n_eng", F.count("*").over(w_eng))
        .withColumn("_n_chi", F.count("*").over(w_chi))
        .filter((F.col("_n_eng") == 1) & (F.col("_n_chi") == 1))
        .drop("_n_eng", "_n_chi")
    )
    if apply_corrections:
        # F2 typo/case remap on both columns, then P9 blacklist.
        df = df.select(
            N.remap_values(F.col("eng"), N.OFFICIAL_NAME_FIXES).alias("eng"),
            N.remap_values(F.col("chi"), N.OFFICIAL_NAME_FIXES).alias("chi"),
        ).filter(~F.col("chi").isin(N.SZ_STREET_NAMES))
    # Stable surrogate index (reference enumerates list order; any
    # deterministic unique id works — only used as a join key).
    return df.withColumn(
        "idx", F.xxhash64(F.col("eng"), F.col("chi"))
    ).select("idx", "eng", "chi")


def name_lookup_table(official: DataFrame) -> DataFrame:
    """Melt both language columns into one probe table ``(name, idx)`` —
    the broadcast build side of J1 (reference ``create_lookups``,
    parse_clean_and_csv.py:358-374, keys one dict by both languages).

    One idx per name, like the dict: a name that lands twice (e.g. a
    typo correction colliding with an existing row, or a cross-language
    homonym) is collapsed to a single winner, mirroring the reference's
    dict-overwrite — otherwise the repair join would count 2 matches
    and skip a way the reference repairs. The winner is max(idx)
    (deterministic surrogate) where the reference keeps last list
    order; both are arbitrary picks among colliding rows (documented
    divergence, no collision exists in the shipped sample)."""
    eng = official.select(F.col("eng").alias("name"), "idx")
    chi = official.select(F.col("chi").alias("name"), "idx")
    return eng.unionByName(chi).groupBy("name").agg(F.max("idx").alias("idx"))


def street_dictionary(official: DataFrame) -> DataFrame:
    """The official list as ONE row of two maps, for a broadcast
    cross join onto the ways: ``name_to_idx`` (name → idx) and
    ``idx_to_name`` (idx → struct(eng, chi)).

    One scan, one aggregation: both maps come from a single
    ``collect_list`` of the rows. ``name_to_idx`` applies
    :func:`name_lookup_table`'s max(idx) rule inside the array: the
    (name, idx) entries of both languages are sorted, and the last
    entry of each name run (its largest idx) is kept."""
    rows = official.agg(
        F.collect_list(F.struct("idx", F.struct("eng", "chi").alias("row"))).alias("_rows")
    )

    def entries(lang: str) -> Column:
        return F.transform("_rows", lambda r: F.struct(r["row"][lang].alias("name"), r["idx"]))

    # The sort is materialized in its own projection: the filter below
    # reads the array at two positions per element, and an inlined
    # array_sort would be re-evaluated for every read.
    entries_sorted = rows.select(
        "_rows", F.array_sort(F.concat(entries("eng"), entries("chi"))).alias("_entries")
    )
    e = F.col("_entries")
    last_of_run = F.filter(
        e, lambda x, i: (i + 1 == F.size(e)) | (F.get(e, i + 1)["name"] != x["name"])
    )
    return entries_sorted.select(
        F.map_from_entries(last_of_run).alias("name_to_idx"),
        F.map_from_entries("_rows").alias("idx_to_name"),
    )


def load_street_dictionary(
    spark: SparkSession, psi_path: str, apply_corrections: bool = True
) -> DataFrame:
    """Read the PSI list at ``psi_path``, clean it
    (:func:`clean_official_streets`) and return its one-row
    :func:`street_dictionary` — the ETL's repair dictionary, or with
    ``apply_corrections=False`` the street audit's."""
    return street_dictionary(
        clean_official_streets(
            osm_xml.read_official_streets_raw(spark, psi_path), apply_corrections
        )
    )

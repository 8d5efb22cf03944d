"""Witness tests for the round-10 ADVICE fixes.

- layout.read_parquet_or_empty must tolerate ONLY the empty-build
  state (directory exists, no part files → UNABLE_TO_INFER_SCHEMA);
  a missing/typo'd index path (PATH_NOT_FOUND) must raise, not
  silently become "zero duplicates / zero neighbors".
- substrings.build_gram_index_bucketed's publish-rename except branch
  must only swallow the lost-race case (target table exists); a real
  rename failure with nothing published must re-raise.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.utils import AnalysisException

from udacity_data_wrangling_osm_case_study_spark.operators.layout import read_parquet_or_empty


class TestReadParquetOrEmpty:
    def test_missing_path_raises(self, spark, tmp_path):
        with pytest.raises(AnalysisException):
            read_parquet_or_empty(
                spark, str(tmp_path / "no_such_index"), "id bigint"
            )

    def test_empty_build_dir_falls_back(self, spark, tmp_path):
        # the exact artifact a zero-row index build leaves: the output
        # directory with a committer _SUCCESS marker and no part files
        d = tmp_path / "empty_index"
        d.mkdir()
        (d / "_SUCCESS").touch()
        got = read_parquet_or_empty(spark, str(d), "id bigint, n bigint")
        assert got.count() == 0
        assert got.columns == ["id", "n"]

    def test_data_present_reads_normally(self, spark, tmp_path):
        d = str(tmp_path / "real_index")
        spark.range(3).write.parquet(d)
        assert read_parquet_or_empty(spark, d, "id bigint").count() == 3

    def test_missing_index_dir_fails_loudly_in_near_dupes(self, spark, tmp_path):
        # end-to-end: the dedup probe against a deleted index must
        # surface the error, not report a clean zero-duplicate result
        from udacity_data_wrangling_osm_case_study_spark.operators import dedup

        probe = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id bigint, text string",
        )
        with pytest.raises(AnalysisException):
            dedup.incremental_near_dupes(
                probe, str(tmp_path / "deleted_index"), min_jaccard=0.5
            ).collect()


class TestPublishRenameGuard:
    def test_real_rename_failure_reraises(self, spark, tmp_path):
        """Block the rename destination with a plain FILE at the
        managed location: the rename fails, the target is NOT in the
        catalog, so the builder must raise — success-with-nothing-
        published is the bug the guard exists for."""
        from urllib.parse import urlparse

        from udacity_data_wrangling_osm_case_study_spark.operators.substrings import (
            build_gram_index_bucketed,
        )

        docs = spark.createDataFrame(
            [(1, "abcdefabcdef")], "doc_id bigint, text string"
        )
        name = "advice_r10_blocked_target"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
        blocker = os.path.join(wh, name)
        # a FILE where the managed table directory would go: rmtree
        # (dir-only) leaves it, the metastore rename then fails
        with open(blocker, "w") as f:
            f.write("not a table directory")
        try:
            with pytest.raises(Exception):
                build_gram_index_bucketed(docs, name, l=4, n_buckets=2)
            assert not spark.catalog.tableExists(name)
            # and no orphaned stage table left registered
            stale = [
                t.name
                for t in spark.catalog.listTables()
                if t.name.startswith(f"{name}_stage_")
            ]
            assert stale == []
        finally:
            os.remove(blocker)
            for t in spark.catalog.listTables():
                if t.name.startswith(name):
                    spark.sql(f"DROP TABLE IF EXISTS {t.name}")

"""Concurrency / crash stress for the persisted indexes (round-9,
VERDICT item 4).

Commit 95e81f4 fixed one INSTANCE of the stale-warehouse class (a
cross-session LOCATION_ALREADY_EXISTS on the bucketed gram index);
these tests exercise the CLASS:

- two real sessions (separate JVM subprocesses) building the bucketed
  gram index under the same warehouse, and appending different batches
  to the LSH dedup index concurrently;
- two sessions racing the full build of each directory-published index
  (LSH dedup, gram, IVF — all staged, then renamed into place);
- a crash mid-append, simulated by the exact artifacts an uncommitted
  FileOutputCommitter attempt leaves behind (files under a
  ``_temporary`` attempt dir — a SIGKILL before commit never promotes
  them), asserting the index reads back COMPLETE-or-absent, never
  half; and that the batch retry converges to the clean result.

The subprocess harness costs one JVM startup per session (~8 s each);
the whole file stays under ~2.5 min.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_py(code: str, env_extra: dict | None = None):
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    env.update(env_extra or {})
    return subprocess.Popen(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=REPO,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
    )


def test_concurrent_bucketed_gram_index_builds(spark, tmp_path):
    """Two sessions race to build the SAME bucketed index table under
    one shared warehouse. Both inputs are identical, so whichever
    commit wins, the surviving table must read back with the correct
    per-gram census (complete — never a half-table, never a stale
    LOCATION_ALREADY_EXISTS wreck)."""
    warehouse = str(tmp_path / "wh")
    code = f"""
    import sys
    sys.path.insert(0, {REPO!r})
    from udacity_data_wrangling_osm_case_study_spark.session import get_spark
    from udacity_data_wrangling_osm_case_study_spark.operators import substrings
    spark = get_spark(
        app_name="race-" + sys.argv[0],
        shuffle_partitions=4,
        extra_conf={{"spark.sql.warehouse.dir": {warehouse!r}}},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    substrings.build_gram_index_bucketed(docs, "race_gram_idx", l=6, n_buckets=4)
    print("BUILT-OK")
    """
    p1, p2 = _run_py(code), _run_py(code)
    out1, out2 = p1.communicate(timeout=300)[0], p2.communicate(timeout=300)[0]
    # At least one build must fully succeed; a loser may fail on the
    # concurrent DROP/CREATE race, but must not corrupt the winner.
    assert b"BUILT-OK" in out1 or b"BUILT-OK" in out2, (out1[-2000:], out2[-2000:])

    # The suite session validates the surviving table end to end.
    # (Do NOT call get_spark here: getOrCreate applies its default
    # runtime confs to the EXISTING fixture session — a direct call
    # silently flipped the whole suite to 32 shuffle partitions and
    # planner-disabled bucketed scans in test_layout.)
    from udacity_data_wrangling_osm_case_study_spark.operators import substrings

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # Table lives in the subprocess warehouse — register it here.
    files = f"{warehouse}/race_gram_idx"
    got = (
        spark.read.schema("g binary, n bigint").parquet(files)
        .agg(F.sum("n"), F.count("*"))
        .collect()[0]
    )
    want = (
        substrings.gram_starts(substrings.tokenized(docs), 6)
        .groupBy("g").agg(F.count("*").alias("n"))
        .agg(F.sum("n"), F.count("*"))
        .collect()[0]
    )
    assert tuple(got) == tuple(want), (got, want)


def test_concurrent_dedup_index_appends_land_both_batches(spark, tmp_path):
    """Two sessions append DIFFERENT batch_ids to one LSH dedup index
    concurrently (dynamic partition overwrite): afterwards both
    partitions must be present and the probe must see both batches'
    docs — concurrent writers touch disjoint partition directories."""
    from udacity_data_wrangling_osm_case_study_spark.operators import dedup

    idx = str(tmp_path / "dedup_idx")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    dedup.build_dedup_index(base, idx)

    def append_code(tag: str, mod: int) -> str:
        return f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from udacity_data_wrangling_osm_case_study_spark.session import get_spark
        from udacity_data_wrangling_osm_case_study_spark.operators import dedup
        spark = get_spark(app_name="append-{tag}", shuffle_partitions=4)
        spark.sparkContext.setLogLevel("ERROR")
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        batch = docs.filter(F.col("doc_id") % 3 == {mod})
        dedup.dedup_index_append(batch, {idx!r}, "b{tag}")
        print("APPEND-OK")
        """

    p1 = _run_py(append_code("one", 1))
    p2 = _run_py(append_code("two", 2))
    out1 = p1.communicate(timeout=300)[0]
    out2 = p2.communicate(timeout=300)[0]
    assert b"APPEND-OK" in out1, out1[-2000:]
    assert b"APPEND-OK" in out2, out2[-2000:]

    parts = set(os.listdir(os.path.join(idx, "bands")))
    assert {"batch_id=base", "batch_id=bone", "batch_id=btwo"} <= parts
    # the probe sees docs from BOTH appended batches
    probe = docs.limit(50)
    pairs = dedup.incremental_near_dupes(probe, idx, min_jaccard=0.0)
    seen = {
        r.index_id % 3
        for r in pairs.select("index_id").distinct().collect()
    }
    assert {0, 1, 2} <= seen  # base + both concurrent batches


def test_crash_mid_append_leaves_index_complete(spark, tmp_path):
    """A killed append never half-commits: FileOutputCommitter stages
    every task file under ``_temporary`` and only the job commit
    promotes them. Simulate the post-SIGKILL state (staged files, no
    commit) and assert the index reads back EXACTLY its pre-append
    content; then retry the batch and assert convergence to the clean
    result."""
    from udacity_data_wrangling_osm_case_study_spark.operators import substrings

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    idx = str(tmp_path / "gidx")
    substrings.build_gram_index(base, idx, l=6)
    probe_before = sorted(
        map(tuple, substrings.incremental_span_coverage(batch, idx).collect())
    )

    # Crash artifacts: a task attempt staged under _temporary plus an
    # in-progress partition dir holding ONLY staged (dot-prefixed)
    # files — the states visible after SIGKILL at any point pre-commit.
    grams = os.path.join(idx, "grams")
    staged = os.path.join(
        grams, "_temporary", "0", "_temporary", "attempt_000", "batch_id=crash"
    )
    os.makedirs(staged, exist_ok=True)
    with open(os.path.join(staged, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00" * 128)  # garbage — must never be read
    half = os.path.join(grams, "batch_id=crash")
    os.makedirs(half, exist_ok=True)
    with open(os.path.join(half, ".part-00001.parquet.crc"), "wb") as f:
        f.write(b"\x00" * 8)

    probe_after_crash = sorted(
        map(tuple, substrings.incremental_span_coverage(batch, idx).collect())
    )
    assert probe_after_crash == probe_before  # nothing half-visible

    # Retry the same batch id cleanly: dynamic overwrite replaces the
    # crashed partition; result equals a never-crashed append.
    substrings.gram_index_append(batch, idx, "crash")
    got = sorted(
        map(tuple, substrings.incremental_span_coverage(batch, idx).collect())
    )
    clean_idx = str(tmp_path / "gidx_clean")
    substrings.build_gram_index(base, clean_idx, l=6)
    substrings.gram_index_append(batch, clean_idx, "crash")
    want = sorted(
        map(tuple,
            substrings.incremental_span_coverage(batch, clean_idx).collect())
    )
    assert got == want


@pytest.mark.parametrize(
    "module, builder, table, kwargs",
    [
        ("dedup", "build_dedup_index", "documents", {}),
        ("substrings", "build_gram_index", "documents", {"l": 6}),
        ("similarity", "build_ivf_index", "embeddings", {}),
    ],
    ids=["dedup", "gram", "ivf"],
)
def test_concurrent_dedup_index_builds_read_complete(
    spark, tmp_path, module, builder, table, kwargs
):
    """Two sessions race the full BUILD (not appends) of one
    directory-published index on identical input. Before the
    stage-then-rename protocol the survivor read a 2x bands relation
    (both static-overwrite jobs committed into the shared directory —
    measured 4000 vs 2000 rows); now the published index must
    census-match a clean solo build, for each of the three
    directory-published builders."""
    from importlib import import_module

    from udacity_data_wrangling_osm_case_study_spark.operators import dedup, layout

    idx = str(tmp_path / "race_build_idx")
    src_path = f"{SF_DIR}/{table}.parquet"
    code = f"""
    import sys
    sys.path.insert(0, {REPO!r})
    from importlib import import_module
    from udacity_data_wrangling_osm_case_study_spark.session import get_spark
    spark = get_spark(app_name="race-{module}-build", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    mod = import_module("udacity_data_wrangling_osm_case_study_spark.operators.{module}")
    src = spark.read.parquet({src_path!r})
    mod.{builder}(src, {idx!r}, **{kwargs!r})
    print("BUILD-OK")
    """
    p1, p2 = _run_py(code), _run_py(code)
    out1 = p1.communicate(timeout=300)[0]
    out2 = p2.communicate(timeout=300)[0]
    assert b"BUILD-OK" in out1 or b"BUILD-OK" in out2, (out1[-800:], out2[-800:])

    build = getattr(
        import_module(f"udacity_data_wrangling_osm_case_study_spark.operators.{module}"),
        builder,
    )
    src = spark.read.parquet(src_path)
    clean = str(tmp_path / "clean_idx")
    build(src, clean, **kwargs)
    rels = sorted(d for d in os.listdir(clean) if not d.endswith(".json"))
    assert rels and sorted(
        d for d in os.listdir(idx) if not d.endswith(".json")
    ) == rels
    for rel in rels:
        raced = spark.read.parquet(f"{idx}/{rel}").count()
        want = spark.read.parquet(f"{clean}/{rel}").count()
        assert raced == want, (rel, raced, want)
    assert layout.read_index_meta(idx) == layout.read_index_meta(clean)
    # no stage/old orphans published as siblings a reader could open
    sibs = [d for d in os.listdir(tmp_path) if d.startswith("race_build_idx.")]
    assert sibs == [], sibs
    if module == "dedup":
        # and the artifact is probe-ready end to end
        assert layout.read_index_meta(idx)["num_hashes"] == 8
        probe = src.limit(20)
        assert dedup.incremental_near_dupes(probe, idx, min_jaccard=0.0).count() > 0


def _cdc_base(spark):
    from pyspark.sql import functions as F  # noqa: F811

    return spark.range(1, 101).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("val"),
    )


def _cdc_batch(spark, which: str):
    if which == "A":
        return spark.range(1, 101).filter(F.col("id") % 2 == 0).select(
            F.col("id").alias("k"),
            F.lit(1).cast("long").alias("val"),
            F.lit(False).alias("dead"),
            F.lit(1).alias("seq"),
        )
    return spark.range(1, 101).filter(F.col("id") % 3 == 0).select(
        F.col("id").alias("k"),
        F.lit(2).cast("long").alias("val"),
        (F.col("id") == 3).alias("dead"),
        F.lit(1).alias("seq"),
    )


def _cdc_expected_outcomes(spark):
    """The four linearizable outcomes of two racing single-batch
    writers: each applies over v0, or over the other's result
    (depending on who flipped the pointer first)."""
    from udacity_data_wrangling_osm_case_study_spark.streaming import cdc_apply
    from udacity_data_wrangling_osm_case_study_spark.operators import upsert

    base = _cdc_base(spark)

    def apply(parent, which):
        latest = cdc_apply.collapse_changes(_cdc_batch(spark, which), "k")
        return upsert.merge_upsert(parent, latest, "k", "dead")

    outcomes = []
    for program in ("A", "B", "AB", "BA"):
        snap = base
        for w in program:
            snap = apply(snap, w)
        outcomes.append(sorted(map(tuple, snap.select("k", "val").collect())))
    return outcomes


def test_concurrent_cdc_snapshot_writers_absent_or_complete(spark, tmp_path):
    """Two sessions each MERGE a different change batch into one
    versioned CDC snapshot target concurrently. The versioned-dir +
    atomic pointer-flip protocol must leave the pointer naming a
    COMPLETE snapshot equal to one of the four linearizable outcomes —
    never a half-written directory, never a mix of both merges."""
    from udacity_data_wrangling_osm_case_study_spark.streaming import cdc_apply

    target = str(tmp_path / "cdc_target")
    os.makedirs(target)
    base = _cdc_base(spark).withColumn("dead", F.lit(False)).withColumn(
        "seq", F.lit(0)
    )
    cdc_apply.apply_cdc_batch(spark, base, 0, target, "k", tombstone_col="dead")
    assert cdc_apply.snapshot_version(target) == 0

    def writer_code(which: str, batch_id: int) -> str:
        return f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from udacity_data_wrangling_osm_case_study_spark.session import get_spark
        from udacity_data_wrangling_osm_case_study_spark.streaming import cdc_apply
        import tests.test_index_concurrency as tic
        spark = get_spark(app_name="cdc-{which}", shuffle_partitions=4)
        spark.sparkContext.setLogLevel("ERROR")
        cdc_apply.apply_cdc_batch(
            spark, tic._cdc_batch(spark, {which!r}), {batch_id},
            {target!r}, "k", tombstone_col="dead",
        )
        print("CDC-OK")
        """

    p1 = _run_py(writer_code("A", 1))
    p2 = _run_py(writer_code("B", 2))
    out1 = p1.communicate(timeout=300)[0]
    out2 = p2.communicate(timeout=300)[0]
    assert b"CDC-OK" in out1, out1[-800:]
    assert b"CDC-OK" in out2, out2[-800:]

    v = cdc_apply.snapshot_version(target)
    assert v in (1, 2)
    got = sorted(
        map(
            tuple,
            cdc_apply.read_snapshot(spark, target).select("k", "val").collect(),
        )
    )
    assert got in _cdc_expected_outcomes(spark)


def test_crash_mid_cdc_snapshot_write_keeps_previous(spark, tmp_path):
    """A writer killed mid-snapshot-write never moves the pointer: the
    crashed version directory holds only staged committer files, the
    pointer still names the previous COMPLETE version, and the batch
    retry (same batch_id, same parent) converges to the clean merge —
    the exactly-once contract under at-least-once delivery."""
    from udacity_data_wrangling_osm_case_study_spark.streaming import cdc_apply

    target = str(tmp_path / "cdc_crash")
    os.makedirs(target)
    base = _cdc_base(spark).withColumn("dead", F.lit(False)).withColumn(
        "seq", F.lit(0)
    )
    cdc_apply.apply_cdc_batch(spark, base, 0, target, "k", tombstone_col="dead")
    before = sorted(
        map(
            tuple,
            cdc_apply.read_snapshot(spark, target).select("k", "val").collect(),
        )
    )

    # SIGKILL mid-write artifacts: v1 exists with only staged committer
    # files (no _SUCCESS, no data promoted), pointer never flipped
    staged = os.path.join(
        target, "v1", "_temporary", "0", "_temporary", "attempt_000"
    )
    os.makedirs(staged)
    with open(os.path.join(staged, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00" * 128)
    assert cdc_apply.snapshot_version(target) == 0
    assert (
        sorted(
            map(
                tuple,
                cdc_apply.read_snapshot(spark, target)
                .select("k", "val")
                .collect(),
            )
        )
        == before
    )

    # retry the batch: same id, same parent — overwrite replaces the
    # crash debris; the pointer flips; result equals a never-crashed run
    cdc_apply.apply_cdc_batch(
        spark, _cdc_batch(spark, "A"), 1, target, "k", tombstone_col="dead"
    )
    assert cdc_apply.snapshot_version(target) == 1
    got = sorted(
        map(
            tuple,
            cdc_apply.read_snapshot(spark, target).select("k", "val").collect(),
        )
    )
    assert got == _cdc_expected_outcomes(spark)[0]  # the "A over v0" merge

"""Block-loss survival for the superstep operators (round-10, VERDICT
item 1).

The round-9 30x GANN sweep died at query 25/32 with "Block rdd_N does
not exist": ``localCheckpoint`` truncates lineage, so losing its
executor-local blocks (executor death, dynamic-allocation scale-down,
block-manager shedding under long-session memory pressure) makes the
frame unrecoverable — routine on a 1000-executor cluster.

These tests simulate exactly that loss — ``spark.catalog.clearCache()``
plus unpersisting EVERY persistent RDD, injected MID-ITERATION before
each superstep snapshot — and prove:

- in the default local mode the loss is lethal (the witness that the
  simulation reproduces the r9 failure mode, not a no-op);
- with a session checkpoint directory set (Spark's
  ``setCheckpointDir``, the one switch), the same operators
  complete under the same kills AND return the same answers (each
  round's snapshot re-reads reliable checkpoint files).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from udacity_data_wrangling_osm_case_study_spark.operators import dedup, graph
from udacity_data_wrangling_osm_case_study_spark.operators import iterative
from udacity_data_wrangling_osm_case_study_spark.plans import registry


def _kill_all_blocks(spark):
    """Simulate executor block loss: drop the SQL cache and unpersist
    every persistent RDD (localCheckpoint storage included)."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)


class _KillingSnapshots:
    """Wrap iterative._snapshot so every snapshot call first kills all
    stored blocks — the worst-case schedule (loss before every
    superstep materialization)."""

    def __init__(self, spark):
        self.spark = spark
        self.kills = 0
        self._real = iterative._snapshot

    def __call__(self, df, eager):
        _kill_all_blocks(self.spark)
        self.kills += 1
        return self._real(df, eager)


def _clear_checkpoint_dir(spark):
    # setCheckpointDir(null) clears it (Option(null) = None)
    spark.sparkContext._jsc.sc().setCheckpointDir(None)


@pytest.fixture(autouse=True)
def _pristine_checkpoint_state(spark):
    """These tests assert against the DEFAULT snapshot mode, so any
    session-wide checkpoint dir another test left behind must be
    cleared first and restored after — it would otherwise flip every
    snapshot to reliable mode by accident."""
    had = spark.sparkContext.getCheckpointDir()
    _clear_checkpoint_dir(spark)
    try:
        yield
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(had)


@pytest.fixture
def reliable(spark, tmp_path):
    """Reliable-checkpoint mode for the duration of one test, fully
    undone after (the session fixture is shared)."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        yield
    finally:
        _clear_checkpoint_dir(spark)


def _pairs(spark):
    # a 4-chain plus a disjoint pair: comp(1..4)=1, comp(10,11)=10
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )


EXPECTED_COMPS = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_local_mode_block_kill_is_lethal(spark, monkeypatch):
    """Witness that the kill harness reproduces the r9 failure mode:
    in default local-checkpoint mode, losing blocks mid-iteration
    makes connected_components unrecoverable."""
    assert spark.sparkContext.getCheckpointDir() is None  # default mode
    killer = _KillingSnapshots(spark)
    monkeypatch.setattr(iterative, "_snapshot", killer)
    with pytest.raises(Exception) as e:
        dedup.connected_components(_pairs(spark)).collect()
    assert "heckpoint" in str(e.value) or "lock" in str(e.value)
    assert killer.kills >= 2  # the loss landed mid-iteration


def test_reliable_mode_survives_block_kill_mid_iteration(
    spark, monkeypatch, reliable
):
    killer = _KillingSnapshots(spark)
    monkeypatch.setattr(iterative, "_snapshot", killer)
    got = {
        r.id: r.comp
        for r in dedup.connected_components(_pairs(spark)).collect()
    }
    assert got == EXPECTED_COMPS
    assert killer.kills >= 3  # init + >=2 rounds, each preceded by loss


def test_reliable_mode_graph_ops_survive_and_match_local(
    spark, monkeypatch, tmp_path
):
    """bfs_hops and pagerank under reliable mode + mid-iteration kills
    return exactly the default-mode answers (snapshot mode must never
    change results, only recoverability)."""
    edges = graph.symmetrize(
        spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5)], "src bigint, dst bigint"
        )
    )
    seeds = spark.createDataFrame([(1,)], "seed bigint")
    want_bfs = sorted(
        (r.seed, r.v, r.hop)
        for r in graph.bfs_hops(edges, seeds, n_hops=3).collect()
    )
    want_pr = {
        r.v: r.rank_micro for r in graph.pagerank(edges, n_iter=3).collect()
    }

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt2"))
    killer = _KillingSnapshots(spark)
    monkeypatch.setattr(iterative, "_snapshot", killer)
    try:
        got_bfs = sorted(
            (r.seed, r.v, r.hop)
            for r in graph.bfs_hops(edges, seeds, n_hops=3).collect()
        )
        got_pr = {
            r.v: r.rank_micro
            for r in graph.pagerank(edges, n_iter=3).collect()
        }
    finally:
        _clear_checkpoint_dir(spark)
    assert got_bfs == want_bfs
    assert got_pr == want_pr
    assert killer.kills >= 4


def test_post_hoc_block_loss_rereads_checkpoint_files(spark, reliable):
    """A frame returned by a superstep operator stays usable after ALL
    its blocks are gone: the reliable snapshot re-reads files, so a
    second action (the sweep's rows+nulls pass after the first) cannot
    hit 'Block rdd_N does not exist'."""
    comps = dedup.connected_components(_pairs(spark))
    first = {r.id: r.comp for r in comps.collect()}
    _kill_all_blocks(spark)
    second = {r.id: r.comp for r in comps.collect()}
    assert first == second == EXPECTED_COMPS


def _part_files(root):
    return [f for _, _, fs in os.walk(root) for f in fs if f.startswith("part-")]


class TestResolutionOrder:
    """The session's checkpoint directory is the one switch for the
    snapshot mode of ``snap_eager``/``snap_lazy``."""

    def test_default_is_local(self, spark, tmp_path):
        """Without a checkpoint directory a snapshot keeps
        executor-local blocks and writes no file."""
        frame = spark.range(0, 100, 1, 2)
        assert spark.sparkContext.getCheckpointDir() is None
        assert iterative.snap_eager(frame).count() == 100
        assert iterative.snap_lazy(frame).count() == 100
        assert not _part_files(tmp_path)

    def test_app_checkpoint_dir_is_honored(self, spark, tmp_path):
        """An app-level ``setCheckpointDir`` makes the same calls write
        checkpoint files under that directory (lazily for snap_lazy)."""
        frame = spark.range(0, 100, 1, 2)
        spark.sparkContext.setCheckpointDir(str(tmp_path / "eager"))
        try:
            assert iterative.snap_eager(frame).count() == 100
            assert _part_files(tmp_path / "eager")
            spark.sparkContext.setCheckpointDir(str(tmp_path / "lazy"))
            lazy = iterative.snap_lazy(frame)
            assert not _part_files(tmp_path / "lazy")  # no job at call time
            assert lazy.count() == 100
            assert _part_files(tmp_path / "lazy")
        finally:
            _clear_checkpoint_dir(spark)


def test_snapshot_jobs_fired_at_call(spark):
    """Jobs a snapshot fires while the plan is built (local mode, AQE
    on). A lazy snapshot of a narrow frame runs nothing, but of a
    shuffled frame it runs the map stage: ``localCheckpoint(eager=
    False)`` plans the physical RDD, and AQE executes the exchange to
    do so. The eager one adds its materializing job; ``.cache()``
    stays lazy."""
    import itertools

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    groups = itertools.count()

    def jobs(build) -> int:
        group = f"snapshot-jobs-at-call-{next(groups)}"
        sc.setJobGroup(group, "build one snapshot")
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def narrow():
        return spark.range(0, 1000, 1, 4).withColumn("snap_y", F.col("id") * 2)

    def shuffled():
        return spark.range(0, 1000, 1, 4).groupBy(
            (F.col("id") % 7).alias("snap_k")
        ).count()

    assert jobs(lambda: iterative.snap_lazy(narrow())) == 0
    assert jobs(lambda: iterative.snap_eager(narrow())) == 1
    assert jobs(lambda: iterative.snap_lazy(shuffled())) == 1
    assert jobs(lambda: iterative.snap_eager(shuffled())) == 2
    cached = shuffled()
    try:
        assert jobs(cached.cache) == 0
    finally:
        cached.unpersist()


def test_env_var_sets_spark_checkpoint_dir(monkeypatch):
    """``SPARK_GRAFT_CHECKPOINT_DIR`` reaches Spark as
    ``spark.checkpoint.dir`` at session build, and nothing sets it
    without the variable."""
    from pyspark.sql import SparkSession

    from udacity_data_wrangling_osm_case_study_spark import session

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    assert "spark.checkpoint.dir" not in session.get_spark()
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", "/ckpt")
    assert session.get_spark()["spark.checkpoint.dir"] == "/ckpt"


def test_checkpoint_files_reclaimed_in_long_sessions(spark, tmp_path):
    """A weeks-long session in reliable mode writes one file snapshot
    per superstep; the session factory therefore enables
    spark.cleaner.referenceTracking.cleanCheckpoints so a dead
    iteration's files are reclaimed once nothing references its RDD.
    Assert the conf is on in engine sessions, and that a checkpoint
    taken and dropped is eventually deleted by the ContextCleaner
    while a LIVE frame's files stay readable."""
    import gc
    import os
    import time

    assert (
        spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints")
        == "true"
    )

    ckpt = str(tmp_path / "ckpt_gc")
    prior = spark.sparkContext.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        def dir_count():
            n = 0
            for _, _, files in os.walk(ckpt):
                n += sum(1 for f in files if not f.startswith("."))
            return n

        dead = spark.range(0, 1000, 1, 4).checkpoint(eager=True)
        live = spark.range(1000, 2000, 1, 4).checkpoint(eager=True)
        assert dir_count() > 0
        dead_jrdd = dead._jdf.queryExecution().toRdd()  # pin id for debug
        del dead, dead_jrdd

        # The cleaner runs off JVM weak references: drive both GCs and
        # poll. Bounded by WALL time with a generous ceiling (ADVICE
        # r10: a fixed 30x1s loop flakes when a loaded rig delays the
        # cleaner past the window) — the deadline only costs time when
        # the test is about to fail anyway.
        deleted = False
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            gc.collect()
            spark._jvm.System.gc()
            time.sleep(1)
            if dir_count() <= 1 * 4 + 1:  # ~one rdd's parts (+meta slack)
                deleted = True
                break
        assert deleted, f"checkpoint files not reclaimed: {dir_count()}"
        assert live.count() == 1000
    finally:
        if prior is None:
            # clear, don't just repoint: a lingering dir flips every
            # later superstep operator to reliable mode under
            # full-suite ordering — the module's established restore
            _clear_checkpoint_dir(spark)
        else:
            spark.sparkContext.setCheckpointDir(prior)


@pytest.mark.parametrize(
    "name",
    ["event_markov_stationary", "part_price_smoothing", "weighted_jaccard_pairs"],
)
def test_query_lineage_cuts_write_checkpoint_files(
    spark, monkeypatch, tmp_path, name
):
    """The registry queries' lineage cuts go through the session's
    snapshot mode too: in reliable mode each writes checkpoint files
    and, with every stored block lost before each snapshot, the query
    still returns the local-mode rows."""
    query = registry.load_all()[0][name]
    want = sorted(map(tuple, query(spark, SF_DIR).collect()))
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    killer = _KillingSnapshots(spark)
    monkeypatch.setattr(iterative, "_snapshot", killer)
    try:
        got = sorted(map(tuple, query(spark, SF_DIR).collect()))
    finally:
        _clear_checkpoint_dir(spark)
    files = [f for _, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")]
    assert got == want
    assert files, f"{name}: no checkpoint files under {ckpt}"
    assert killer.kills >= 1

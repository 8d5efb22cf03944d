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
- with ``spark.graft.reliableCheckpointDir`` set, the same operators
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

CONF = iterative.CONF_KEY


def _kill_all_blocks(spark):
    """Simulate executor block loss: drop the SQL cache and unpersist
    every persistent RDD (localCheckpoint storage included)."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)


class _KillingSnapshots:
    """Wrap iterative.snapshotter so every snapshot call first kills
    all stored blocks — the worst-case schedule (loss before every
    superstep materialization)."""

    def __init__(self, spark):
        self.spark = spark
        self.kills = 0
        self._real = iterative.snapshotter

    def __call__(self, sess, explicit_dir=None, eager=False):
        snap = self._real(sess, explicit_dir, eager=eager)

        def killing_snap(df):
            _kill_all_blocks(self.spark)
            self.kills += 1
            return snap(df)

        return killing_snap


@pytest.fixture(autouse=True)
def _pristine_checkpoint_state(spark):
    """These tests assert against the DEFAULT snapshot mode, so any
    session-wide checkpoint dir another test left behind (random_walks
    sets one when asked for reliable mode) must be cleared first and
    restored after — resolution rule 4 would otherwise flip the module
    to reliable mode by accident."""
    had = spark.sparkContext.getCheckpointDir()
    spark.sparkContext._jsc.sc().setCheckpointDir(None)
    try:
        yield
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(had)


@pytest.fixture
def reliable(spark, tmp_path):
    """Reliable-checkpoint mode for the duration of one test, fully
    undone after (the session fixture is shared)."""
    spark.conf.set(CONF, str(tmp_path / "ckpt"))
    had_dir = spark.sparkContext.getCheckpointDir()
    try:
        yield
    finally:
        spark.conf.unset(CONF)
        if had_dir is None:
            # setCheckpointDir(null) clears it (Option(null) = None)
            spark.sparkContext._jsc.sc().setCheckpointDir(None)


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
    assert iterative.reliable_dir(spark) is None  # default mode
    killer = _KillingSnapshots(spark)
    monkeypatch.setattr(iterative, "snapshotter", killer)
    with pytest.raises(Exception) as e:
        dedup.connected_components(_pairs(spark)).collect()
    assert "heckpoint" in str(e.value) or "lock" in str(e.value)
    assert killer.kills >= 2  # the loss landed mid-iteration


def test_reliable_mode_survives_block_kill_mid_iteration(
    spark, monkeypatch, reliable
):
    killer = _KillingSnapshots(spark)
    monkeypatch.setattr(iterative, "snapshotter", killer)
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

    spark.conf.set(CONF, str(tmp_path / "ckpt2"))
    had_dir = spark.sparkContext.getCheckpointDir()
    killer = _KillingSnapshots(spark)
    monkeypatch.setattr(graph, "snapshotter", killer)
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
        spark.conf.unset(CONF)
        if had_dir is None:
            spark.sparkContext._jsc.sc().setCheckpointDir(None)
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


class TestResolutionOrder:
    def test_default_is_local(self, spark):
        assert iterative.reliable_dir(spark) is None

    def test_explicit_beats_conf(self, spark, tmp_path):
        spark.conf.set(CONF, "/conf/dir")
        try:
            assert iterative.reliable_dir(spark, "/explicit") == "/explicit"
            assert iterative.reliable_dir(spark) == "/conf/dir"
        finally:
            spark.conf.unset(CONF)

    def test_env_var_enables(self, spark, monkeypatch):
        monkeypatch.setenv(iterative.ENV_KEY, "/env/dir")
        assert iterative.reliable_dir(spark) == "/env/dir"

    def test_app_checkpoint_dir_is_honored(self, spark, tmp_path):
        had = spark.sparkContext.getCheckpointDir()
        assert had is None
        spark.sparkContext.setCheckpointDir(str(tmp_path / "appdir"))
        try:
            assert str(iterative.reliable_dir(spark)).endswith(
                str(tmp_path.name) + "/appdir"
            ) or "appdir" in str(iterative.reliable_dir(spark))
        finally:
            spark.sparkContext._jsc.sc().setCheckpointDir(None)


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
            # later superstep operator to reliable mode (rule 4) under
            # full-suite ordering — the module's established restore
            spark.sparkContext._jsc.sc().setCheckpointDir(None)
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
    spark.conf.set(CONF, str(ckpt))
    killer = _KillingSnapshots(spark)
    monkeypatch.setattr(iterative, "snapshotter", killer)
    monkeypatch.setattr(graph, "snapshotter", killer)
    try:
        got = sorted(map(tuple, query(spark, SF_DIR).collect()))
    finally:
        spark.conf.unset(CONF)
    files = [f for _, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")]
    assert got == want
    assert files, f"{name}: no checkpoint files under {ckpt}"
    assert killer.kills >= 1

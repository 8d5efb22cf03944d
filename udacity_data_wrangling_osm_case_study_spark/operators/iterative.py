"""Shared lineage-cut snapshots for loop-carried (superstep) operators.

Every iterative operator in this engine — BFS / PageRank / label
propagation / k-core / random walks / Bellman-Ford (graph.py),
connected components and LSH candidate frames (dedup.py), Lloyd steps
(similarity.py), BPE merge rounds (textstats.py) — rebuilds a frame
per step and must cut lineage so k supersteps never recompute the
prefix (Spark has no cross-branch common-subplan elimination; the
round-6 audit measured 18 fact scans for a 3-step walk without the
cut).

``localCheckpoint`` is the cheap default: executor-local
MEMORY_AND_DISK blocks, no shared storage needed. Its documented
failure mode is equally real: the blocks are non-replicated and the
lineage is TRUNCATED, so losing them — executor death, dynamic
allocation scale-down, preemption, or (measured in the round-9 30x
sweep, which died at query 25/32 with "Block rdd_N does not exist")
block-manager shedding after ~10 min of heavy queries in one session —
makes the frame unrecoverable: routine on a 1000-executor cluster.

One fact picks the snapshot kind: Spark's own checkpoint directory
(``sparkContext.getCheckpointDir()``). With a directory set, every
snapshot is a RELIABLE ``checkpoint()`` (files on shared storage
survive any block loss; lineage re-reads them); without one, it is
the cheap local path, so single-node and static-allocation callers
pay nothing. The directory is Spark's setting, set once per session:
``spark.checkpoint.dir`` at session build (``session.get_spark`` maps
``SPARK_GRAFT_CHECKPOINT_DIR`` onto it) or
``sparkContext.setCheckpointDir`` by the application. No operator
takes a storage argument, and nothing in this module writes the
setting.

Reliable mode costs one extra computation of each snapshotted frame
(Spark writes checkpoint files by re-running the RDD after the
materializing job — the documented ``RDD.checkpoint`` behavior) plus a
file round-trip per step; that is the price of surviving block loss,
and the checkpoint files are reclaimed by the ContextCleaner only
under ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` — long
sweeps should point the directory at scratch space.

Both snapshot kinds produce the same plan leaf (``LogicalRDD``, which
preserves the child's output partitioning and ordering), so plan
shapes, scan budgets, and the alias-aware no-re-exchange guarantees
the operator docstrings rely on are identical in either mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _snapshot(df: DataFrame, eager: bool) -> DataFrame:
    """Cut ``df``'s lineage: reliable ``checkpoint`` when the session
    has a checkpoint directory, else ``localCheckpoint``."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def snap_eager(df: DataFrame) -> DataFrame:
    """Eager snapshot, for loops that read the frame in the same round
    (a convergence count): ``frame.transform(snap_eager)``."""
    return _snapshot(df, eager=True)


def snap_lazy(df: DataFrame) -> DataFrame:
    """Lazy snapshot: the blocks or files are written by the caller's
    first action. The call itself runs no job for a frame without an
    exchange; for a shuffled frame it runs the map stages, because
    planning the physical RDD under AQE executes each exchange. It
    still saves the materializing job an eager snapshot adds (pinned
    by ``test_snapshot_jobs_fired_at_call``)."""
    return _snapshot(df, eager=False)

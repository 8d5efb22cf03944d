"""SparkSession factory tuned for the engine.

Scale posture (100 TB north star): AQE on (runtime re-plan, skew-join
splitting, shuffle-partition coalescing), broadcast threshold raised so
dimension tables (official street list, nation/region) always hash-join
broadcast-side, Arrow enabled for the few pandas boundaries, UTC session
timezone for deterministic timestamp semantics across engines.

Generated code stays warm: Spark keeps the Janino classes it compiles
for each plan in a cache of ``spark.sql.codegen.cache.maxEntries``
entries (default 100). The working set of one ETL op is about 280
classes (six sinks, both audits, the 12 exploration statements) and of
one ``query_mix`` pass about 150, so at 100 every repeated op evicted
its own classes and compiled all of them again. The cache is sized at
:data:`CODEGEN_CACHE_ENTRIES`.
The cache is keyed by the generated source, and by default Spark puts
the whole-stage codegen id into the class name. Under AQE that id
depends on the order in which a query's stages finish, so a repeat of
the same plan could miss the cache and compile again (``row_counts``,
a six-way ``UNION ALL`` of counts, did so on 6 of 40 repeats).
``spark.sql.codegen.useIdInClassName=false`` leaves the id out of the
name, and a repeated op compiles nothing.

Locally this runs ``local[<usable cores>]`` (what ``nproc`` prints)
unless ``SPARK_GRAFT_CPUS`` says otherwise; on a real cluster the same
declarative plans scale out — nothing here hand-schedules execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
# Measured working set: ~280 classes per ETL op, ~150 per query_mix pass.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "osm-case-study-spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so the driver's
    bench harness and pytest share one configuration path, and
    ``SPARK_GRAFT_CHECKPOINT_DIR`` as Spark's ``spark.checkpoint.dir``
    (reliable lineage cuts, see ``operators/iterative.py``).

    One call per process: ``getOrCreate`` applies this call's RUNTIME
    confs (shuffle partitions etc.) onto an already-existing session,
    so a second call with different arguments silently reconfigures
    the first caller's session (it flipped the pytest fixture to 32
    shuffle partitions once — round-9 notes). In-process callers that
    need the session should receive it, not re-create it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = str(
        shuffle_partitions
        or os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    checkpoint_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: driver JVM hosts the executors — size it for the
        # rig (default 1g OOMs once several frames are cached).
        .config("spark.driver.memory", driver_mem)
        # --- Catalyst / AQE: let the optimizer do the physical planning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # Dimension tables here are ≤ a few MB; always broadcast them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Python boundary: Arrow-vectorized when we must cross it ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- Scan sizing: 128 MB splits keep partitions executor-sized ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Static conf: the codegen cache reads it once, when it is built.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Driver testdata's events.ts is TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects; read as raw int64 nanos and
        # convert at the source (registry.table) — lossless, the data
        # carries no sub-microsecond residue.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Progress bars interleave with stdout when piped and can
        # visually swallow result lines — keep output clean.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        # Reliable-checkpoint mode (operators/iterative.py) writes one
        # file snapshot per superstep; without this a weeks-long
        # session accumulates every dead iteration's files until the
        # checkpoint volume fills. With it the ContextCleaner reclaims
        # a checkpoint's files once no live plan references its RDD —
        # safe for the superstep chain because each step's lineage is
        # truncated AT its own file (step N+1 re-reads step N's file,
        # never step N-1's). Context-level conf: applies to sessions
        # built here; foreign sessions keep their own policy.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if checkpoint_dir:
        builder = builder.config("spark.checkpoint.dir", checkpoint_dir)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


# Session-wide contract: every session running this engine's plans MUST
# have these two runtime confs. ``get_spark`` bakes them in at build
# time; foreign sessions (the driver's harness hands us vanilla ones)
# are brought into contract by ``ensure_session_contract`` exactly once
# per differing key. No other code in the package writes session confs.
_SESSION_CONTRACT = {
    # UTC makes NTZ→LTZ casts a wall-clock identity and matches the
    # DuckDB oracle's naive reading of the same parquet files.
    "spark.sql.session.timeZone": "UTC",
    # Some driver-testdata generations write events.ts as
    # TIMESTAMP(NANOS), which the vectorized parquet reader rejects;
    # reading as raw int64 nanos (converted losslessly at the source)
    # is safe for the MICROS generation too, where it is a no-op.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_session_contract(spark: SparkSession) -> None:
    """Idempotently bring a session into the engine's conf contract.

    Sessions built by :func:`get_spark` already satisfy it (the writes
    below are skipped); only foreign sessions are mutated, and only for
    keys whose current value differs.
    """
    for key, want in _SESSION_CONTRACT.items():
        if spark.conf.get(key, None) != want:
            spark.conf.set(key, want)

"""One-pass completion sweep of the benched queries
(``bench.bench_names``) at a replicated scale (see tools/replicate_sf.py).

This is NOT an oracle comparison — at 10x the bench SF the point is
"does the plan survive the next decade of volume": no overflow-nulled
aggregates, no OOM, no runaway stage. Per query it records wall
seconds, row count, and per-column null counts; a numeric output
column that is 100% null at scale but non-null at sf0.1 is the
signature of a silent arithmetic overflow (Spark wraps/nulls outside
ANSI mode — exactly how the round-6 gini bug would have surfaced had
anything swept above bench SF).

Usage:
    python3 tools/scale_sweep.py [sf_dir] [out_json] [name ...]
    # default sf_dir /tmp/spark_graft_sf1x10, out SCALE_SWEEP.json
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def sized_shuffle_partitions(sf_dir: str) -> int:
    """Size ``spark.sql.shuffle.partitions`` from the INPUT, not a
    constant (VERDICT r11 item 6 / NOTES_r11 §5): the r11 100× GANN
    sweep read the graph family ~2× above linear at the fixed default
    32, and re-running pagerank/price_smoothing at 128 partitions made
    them linear/sublinear — the excess was per-partition sort/spill
    pressure, the standard cluster knob. Target ≈12 MB of compressed
    parquet per shuffle partition (~40-50 MB in-memory at typical 3-4×
    parquet compression), clamped to [32, 1024]; AQE coalesces DOWN
    from this ceiling at runtime but never grows past it, so the
    ceiling must scale with the data. 1.7 GB (the 100× GANN dirs)
    → ~142; the sf0.1 bench dirs stay at the floor of 32.
    Override with SPARK_GRAFT_SWEEP_PARTITIONS."""
    env = os.environ.get("SPARK_GRAFT_SWEEP_PARTITIONS")
    if env:
        try:
            return int(env)
        except ValueError:
            raise ValueError(
                "SPARK_GRAFT_SWEEP_PARTITIONS must be an integer, got "
                f"{env!r}"
            ) from None
    # tables may be single files (driver testdata) or Spark-written
    # directories of part files (the replicated sweep dirs) — walk.
    # Only *.parquet data files count toward the ceiling: sweep dirs
    # accumulate JSON sidecars and logs over rounds, and the ceiling
    # must be sized from the DATA the shuffles will carry (ADVICE r12).
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_")) and f.endswith(".parquet")
        )
    return int(min(1024, max(32, total // (12 * 1024 * 1024))))


def main() -> int:
    import bench
    from udacity_data_wrangling_osm_case_study_spark.plans import registry
    from udacity_data_wrangling_osm_case_study_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1x10"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "SCALE_SWEEP.json"
    queries, _ = registry.load_all()
    names = sys.argv[3:] or bench.bench_names(queries)

    spark = get_spark(
        app_name="scale_sweep",
        shuffle_partitions=sized_shuffle_partitions(sf_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries["table_counts"](spark, sf_dir).collect()  # warm-up

    results: dict[str, dict] = {}
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            # one job: rows + per-column null counts
            counts = df.select(
                F.count(F.lit(1)).alias("__rows"),
                *[
                    F.sum(F.col(c).isNull().cast("long")).alias(c)
                    for c in df.columns
                ],
            ).collect()[0]
            rows = counts["__rows"]
            nulls = {c: counts[c] for c in df.columns if counts[c]}
            all_null = sorted(
                c for c in df.columns if rows and counts[c] == rows
            )
            results[name] = {
                "sec": round(time.time() - t0, 3),
                "rows": rows,
                "null_counts": nulls,
                "all_null_cols": all_null,
            }
            flag = " ALL-NULL:" + ",".join(all_null) if all_null else ""
            print(
                f"OK    {name}: {rows} rows [{results[name]['sec']}s]{flag}"
            )
        except Exception as e:  # noqa: BLE001 — sweep must not stop
            failures += 1
            results[name] = {
                "sec": round(time.time() - t0, 3),
                "error": f"{type(e).__name__}: {e}"[:500],
            }
            print(f"FAIL  {name}: {type(e).__name__}: {str(e)[:200]}")
            traceback.print_exc(limit=2)
        finally:
            spark.catalog.clearCache()
            # Reliable-checkpoint mode (a checkpoint directory, e.g.
            # from SPARK_GRAFT_CHECKPOINT_DIR — how a long sweep session
            # survives block shedding, see operators/iterative.py): purge the finished query's
            # checkpoint files so 30+ heavy queries don't accumulate
            # GBs of dead snapshots (the ContextCleaner only reclaims
            # them under cleanCheckpoints=true, and only on GC).
            ckpt = spark.sparkContext.getCheckpointDir()
            if ckpt and ckpt.startswith("file:"):
                import shutil
                from urllib.parse import urlparse

                for sub in os.listdir(urlparse(ckpt).path):
                    shutil.rmtree(
                        os.path.join(urlparse(ckpt).path, sub),
                        ignore_errors=True,
                    )

    n_all_null = sum(1 for r in results.values() if r.get("all_null_cols"))
    summary = {
        "sf_dir": sf_dir,
        "n": len(names),
        "failed": failures,
        "with_all_null_cols": n_all_null,
        "total_sec": round(sum(r["sec"] for r in results.values()), 1),
        # the knob that decides whether a fixed-config sweep reads
        # linear at scale (the r11 100x GANN analysis: pagerank read
        # 2x-above-linear at 32 partitions, linear at 128 — size
        # shuffle partitions to the data before blaming the plan)
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "master": spark.sparkContext.master,
    }
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "results": results}, f, indent=1,
                  sort_keys=True)
    print(json.dumps(summary))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

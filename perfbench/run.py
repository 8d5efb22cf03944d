"""osmspark benchmark: one workload, one seed, one fresh process.

Usage (from the repository root):

    python3 perfbench/run.py --workload osm_etl|query_mix \
        --seed N --seconds S --trace 0|1

The run generates its inputs from the seed, starts a Spark session on
``local[<half the cores>]``, runs one untimed cold op (the end of
set-up), checks every distinct op against its oracle in an untimed pass,
then runs whole timed passes of ops until ``--seconds`` of op time are
measured, and at least the workload's ``min_passes``. The latency
metrics come from each op's median over the passes. Every timed op is
checked outside the timed window. ``--trace 1`` alternates untraced and
traced passes, reports the per-layer metrics of the traced ones, and
writes the spans and per-op Spark counters to
``.perfbench_out/trace-<workload>-seed<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "udacity_data_wrangling_osm_case_study_spark"
MAX_RUN_S = 120  # no optional pass starts after this much process time

END_TO_END = {"setup_s": "s", "ops_per_cpu_min": "1/cpu-min", "op_cpu_s": "cpu-s"}

# Span name -> per-layer metric that receives the span's self time.
SELF_TIME = {
    "sources.osm_split": "sources.osm_split.s",
    "sources.osm_xml.parse": "sources.osm_xml.parse_s",
    "operators.official_streets": "operators.official_streets.s",
    "operators.shape": "operators.shape.s",
    "operators.cleaning": "operators.cleaning.s",
    "operators.street_repair": "operators.street_repair.s",
    "operators.pipeline.sink": "operators.pipeline.sink_s",
    "plans.audits": "plans.audits.s",
    "plans.osm_exploration": "plans.osm_exploration.s",
    "plans.registry.table": "plans.registry.table_s",
    "operators.iterative.snapshot": "operators.iterative.snapshot_s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.cold_op_s": "s",
    **{m: "s" for m in SELF_TIME.values()},
    "sources.osm_split.shards": "count",
    "sources.osm_xml.parse_tasks": "count",
    "operators.cleaning.phones_fixed": "count",
    "operators.street_repair.names_fixed": "count",
    "operators.pipeline.rows_written": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.registry.table_jobs": "count",
    "plans.catalyst_s": "s",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "operators.iterative.snapshots": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_s": "s",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_records": "count",
    "operators.spill_mb": "MB",
    "operators.storage_peak_mb": "MB",
    "operators.failed_tasks": "count",
    "operators.core_util": "ratio",
    "session.jvm_hwm_mb": "MB",
    "trace.overhead_s": "s",
}


def parse_args():
    ap = argparse.ArgumentParser(description="osmspark benchmark run")
    ap.add_argument("--workload", required=True, choices=("osm_etl", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def pin_environment(work: str) -> tuple[int, int]:
    """Everything the session reads from the environment, set here.

    Spark gets half the host's cores. The other half is left to the
    JVM's compiler and GC threads and the Python driver, so that a core
    the shared host takes away for a while does not stall the tasks.
    """
    host_cpus = len(os.sched_getaffinity(0))
    cpus = max(1, host_cpus // 2)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Every JVM the session starts keeps its temporary files in the run
    # directory too (no hsperfdata files under /tmp).
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    for var in ("SPARK_MASTER", "SPARK_DRIVER_MEMORY", "SPARK_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_CHECKPOINT_DIR"):
        os.environ.pop(var, None)
    return cpus, host_cpus


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants:
    the Python driver, the JVM and the Python workers the JVM starts.

    The kernel charges time the shared host takes from a core to steal,
    not to the process, so this clock does not run slow when the host
    is busy, which wall time does.
    """
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has just ended
            continue
        parent[int(pid)] = int(fields[1])
        # own user + system time, plus that of ended children it waited for
        cpu[int(pid)] = sum(int(x) for x in fields[11:15]) / tick
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo += [c for c, p in parent.items() if p == pid]
    return total


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def op_layers(tracer, op: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced op from its spans."""
    from stats import core_util

    spans = [s for s in tracer.spans if s["op"] == op["op"]]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def subtree(s):
        yield s
        for c in children[s["id"]]:
            yield from subtree(c)

    m: dict[str, float] = defaultdict(float)
    for s in spans:
        s["self_s"] = dur(s) - sum(dur(c) for c in children[s["id"]])
        name = s["name"]
        if name in SELF_TIME:
            m[SELF_TIME[name]] += s["self_s"]
        if name == "sources.osm_split":
            m["sources.osm_split.shards"] += s["shards"]
        elif name == "sources.osm_xml.parse":
            m["sources.osm_xml.parse_tasks"] += tracer.counters(s["jobs"])["tasks"]
        elif name == "plans.registry.table":
            m["plans.registry.table_jobs"] += len(s["jobs"])
        elif name == "operators.iterative.snapshot":
            m["operators.iterative.snapshots"] += 1
        elif name in ("plans.build", "plans.exec"):
            # inclusive: from the call until the DataFrame / rows return
            m[f"{name}_s"] += dur(s)
            m[f"{name}_jobs"] += sum(len(x["jobs"]) for x in subtree(s))
        m["plans.catalyst_s"] += s.get("catalyst_ms", 0) / 1e3
    counters = tracer.counters([j for s in spans for j in s["jobs"]])
    for k, v in counters.items():
        m[f"operators.{k}"] = v
    m["operators.core_util"] = core_util(counters["task_s"], op["latency_s"], cores)
    result = op["result"] if isinstance(op["result"], dict) else {}
    for key, metric in (("phones_fixed", "operators.cleaning.phones_fixed"),
                        ("names_fixed", "operators.street_repair.names_fixed"),
                        ("rows_written", "operators.pipeline.rows_written")):
        if key in result:
            m[metric] = result[key]
    op["layers"] = dict(m)
    return m


def run(args, root: str, work: str) -> int:
    cpus, host_cpus = pin_environment(work)
    import workloads
    from spans import Tracer

    wl = workloads.make(args.workload, args.seed, work)
    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    from udacity_data_wrangling_osm_case_study_spark.plans import registry
    from udacity_data_wrangling_osm_case_study_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark, args.workload)
        if args.trace:
            tracer.install()
        t = time.perf_counter()
        cold = wl.cold_op(spark, tracer)
        spark.catalog.clearCache()
        cold_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - gen_s

        problems = wl.verify(spark, tracer, cold)
        for p in problems:
            print(f"perfbench: oracle mismatch: {p}", file=sys.stderr)

        ops: list[dict] = []
        measured = 0.0
        pass_no = 0
        while True:
            traced = bool(args.trace) and pass_no % 2 == 1
            for item in wl.pass_items(pass_no):
                op = {"op": len(ops), "item": item, "traced": traced, "result": None}
                tracer.op_id, tracer.active = op["op"], traced
                cpu = tree_cpu_s()
                t = time.perf_counter()
                try:
                    with tracer.span("op"):
                        op["result"] = wl.run(spark, tracer, item)
                except Exception as e:  # a failed op is counted, not fatal
                    print(f"perfbench: op {item} failed: {e}", file=sys.stderr)
                op["latency_s"] = time.perf_counter() - t
                op["cpu_s"] = tree_cpu_s() - cpu
                tracer.active = False
                op["ok"] = op["result"] is not None and wl.check(item, op["result"])
                spark.catalog.clearCache()
                measured += op["latency_s"]
                ops.append(op)
            pass_no += 1
            # a traced run always holds one untraced and one traced pass
            late = time.perf_counter() - T_START > MAX_RUN_S
            if pass_no >= max(wl.min_passes, 1 + args.trace) and (
                    measured >= args.seconds or late):
                break

        failed = sum(not o["ok"] for o in ops)
        if args.trace:
            traced_ops = [o for o in ops if o["traced"]]
            untraced = [o["latency_s"] for o in ops if not o["traced"]]
            per_op = [op_layers(tracer, o, cpus) for o in traced_ops]
            metrics = {m: statistics.fmean(p.get(m, 0.0) for p in per_op) for m in PER_LAYER}
            metrics.update({
                "session.start_s": start_s,
                "session.cold_op_s": cold_s,
                "operators.storage_peak_mb": tracer.storage_peak_mb,
                "session.jvm_hwm_mb": tracer.jvm_heap_peak_mb(),
                "trace.overhead_s": statistics.fmean(o["latency_s"] for o in traced_ops)
                - statistics.fmean(untraced),
            })
            units = PER_LAYER
        else:
            from stats import op_medians, per_minute, ratio

            ok_share = ratio(len(ops) - failed, len(ops))
            median = {}
            for clock in ("cpu_s", "latency_s"):
                samples = defaultdict(list)
                for o in ops:
                    samples[o["item"]].append(o[clock])
                median[clock] = op_medians(samples)
            metrics = {
                "setup_s": setup_s,
                # a pass at each op's median cost, counting correct ops only
                "ops_per_cpu_min": per_minute(len(median["cpu_s"]),
                                              sum(median["cpu_s"].values())) * ok_share,
                "op_cpu_s": statistics.geometric_mean(median["cpu_s"].values()),
            }
            # wall-clock figures, for reading only: they follow the host's load
            wall = {
                "ops_per_min": per_minute(len(median["latency_s"]),
                                          sum(median["latency_s"].values())) * ok_share,
                "op_gmean_s": statistics.geometric_mean(median["latency_s"].values()),
            }
            units = END_TO_END
        info = {
            "workload": args.workload, "seed": args.seed, "n_ops": len(ops),
            "cpus": cpus, "host_cpus": host_cpus, "master": spark.sparkContext.master,
            "spark_version": spark.version, "input_gen_s": round(gen_s, 3),
        }
        if not args.trace:
            info["wall"] = {k: round(v, 4) for k, v in wall.items()}
        else:
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            info["trace_file"] = os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(info["trace_file"], "w") as f:
                json.dump({**info, "metrics": metrics, "spans": tracer.spans, "ops": [
                    {k: v for k, v in o.items() if k != "result"} for o in ops
                ]}, f, indent=1, default=str)
    finally:
        stop_spark(spark)

    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def main() -> int:
    args = parse_args()
    root = os.getcwd()
    needed = (os.path.join(root, PKG, "__init__.py"), os.path.join(root, "tools", "check_oracle.py"))
    if not all(os.path.isfile(p) for p in needed):
        print("perfbench: run from the repository root (package or tools/ missing)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root, os.path.join(root, "tools")]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())

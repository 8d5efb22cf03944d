"""Run the pytest suite as N concurrent shards (VERDICT r10 item 6).

The suite is dominated by independent SparkSession-scoped modules
(~21 min single-process at r10); pytest-xdist is not installed in this
environment, so this runner shards BY FILE across subprocess pytest
invocations instead — each shard is its own Python process with its own
JVM, which is exactly the isolation xdist's --forked would buy. Cross-
shard safety: the shared mutable surfaces are the repo
spark-warehouse, whose table names are content-hashed and published
via the stage-then-atomic-rename protocol, and the temp-dir index roots
(spark_graft_dedup_index, spark_graft_gram_index, spark_graft_ivf)
that every shard's registry queries build into. Those indexes are keyed
by the absolute dataset path and published with ``layout.publish``
(stage, then rename), so racing shards never mix their files (both
race-proven by tests/test_index_concurrency.py); tests/test_layout.py
uses its own mkdtemp warehouse.

Shards are balanced by recorded per-file durations
(TEST_DURATIONS.json, refreshed on every run from pytest's junitxml),
falling back to file size for new files. Each shard gets
SPARK_GRAFT_CPUS = os.cpu_count()//shards (at least 2) so the host is
not oversubscribed.

Usage: python tools/run_suite_sharded.py [--shards 4] [extra pytest args]
Exit code: 0 iff every shard passed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import xml.etree.ElementTree as ET

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(REPO, "tests")
DURATIONS = os.path.join(REPO, "TEST_DURATIONS.json")


def _weights(files: list[str]) -> dict[str, float]:
    try:
        recorded = json.load(open(DURATIONS))
    except (OSError, ValueError):
        recorded = {}
    out = {}
    for f in files:
        base = os.path.basename(f)
        if base in recorded:
            out[f] = max(recorded[base], 1.0)
        else:  # new file: assume cost scales with size until measured
            out[f] = max(os.path.getsize(f) / 1000.0, 1.0)
    return out


def case_file(classname: str) -> str:
    """File name of a junit test case: pytest's classname is
    ``tests.test_x`` or ``tests.test_x.TestC``, the file is the
    ``test_*`` component (a classname without one is kept as is)."""
    return next((p + ".py" for p in classname.split(".")
                 if p.startswith("test_")), classname)


def _partition(files: list[str], weights: dict[str, float],
               n: int) -> list[list[str]]:
    """Greedy longest-processing-time-first bin packing."""
    shards: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for f in sorted(files, key=lambda f: -weights[f]):
        i = min(range(n), key=lambda i: shards[i][0])
        shards[i] = (shards[i][0] + weights[f], shards[i][1] + [f])
    return [s[1] for s in shards if s[1]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--shards", type=int,
                    default=int(os.environ.get("SUITE_SHARDS", "4")))
    ap.add_argument("--cpus", type=int, default=0,
                    help="SPARK_GRAFT_CPUS per shard (default cpu_count/shards)")
    ap.add_argument("pytest_args", nargs="*")
    args = ap.parse_args()

    files = sorted(
        os.path.join(TESTS, f) for f in os.listdir(TESTS)
        if f.startswith("test_") and f.endswith(".py")
    )
    if not files:  # ADVICE r11: empty tests dir would ZeroDivide below
        print(f"no test_*.py files under {TESTS}", file=sys.stderr)
        return 1
    weights = _weights(files)
    shards = _partition(files, weights, args.shards)
    cpus = args.cpus or max((os.cpu_count() or 32) // len(shards), 2)

    t0 = time.time()
    procs = []
    for i, shard in enumerate(shards):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        xml_out = os.path.join(REPO, f".shard_{i}.junit.xml")
        cmd = [sys.executable, "-m", "pytest", "-q",
               f"--junitxml={xml_out}", *args.pytest_args, *shard]
        procs.append((i, xml_out, subprocess.Popen(
            cmd, cwd=REPO, env=env,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        )))
        est = sum(weights[f] for f in shard)
        print(f"shard {i}: {len(shard)} files, est {est:.0f}s, "
              f"cpus={cpus}", flush=True)

    rc = 0
    new_durations: dict[str, float] = {}
    totals = {"tests": 0, "failures": 0, "errors": 0, "skipped": 0}
    for i, xml_out, p in procs:
        out, _ = p.communicate()
        tail = "\n".join(out.strip().splitlines()[-12:])
        print(f"---- shard {i} rc={p.returncode} ----\n{tail}", flush=True)
        if p.returncode != 0:
            rc = 1
        try:
            root = ET.parse(xml_out).getroot()
            suite = root if root.tag == "testsuite" else root.find("testsuite")
            if suite is None:  # ADVICE r11: parseable XML, no testsuite
                raise ET.ParseError("junitxml has no <testsuite> element")
            for k in totals:
                totals[k] += int(suite.get(k, 0))
            per_file: dict[str, float] = {}
            for case in suite.iter("testcase"):
                src = case_file(case.get("classname", ""))
                per_file[src] = per_file.get(src, 0.0) + float(
                    case.get("time", 0.0))
            new_durations.update(
                {k: round(v, 1) for k, v in per_file.items()})
        except (OSError, ET.ParseError) as e:
            print(f"shard {i}: junitxml unreadable ({e})")
            rc = 1
        finally:
            try:
                os.remove(xml_out)
            except OSError:
                pass

    wall = time.time() - t0
    if new_durations and rc == 0:
        # refresh the balance map only on a fully green run (a failed
        # shard under-reports its files and would skew the packing)
        try:
            prior = json.load(open(DURATIONS))
        except (OSError, ValueError):
            prior = {}
        prior.update(new_durations)
        with open(DURATIONS, "w") as f:
            json.dump(prior, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps({"wall_sec": round(wall, 1),
                      "shards": len(shards), "cpus_per_shard": cpus,
                      **totals, "rc": rc}))
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

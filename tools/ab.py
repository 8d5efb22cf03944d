"""ABBA-ordered A/B run of the benchmark between two git revisions.

Each revision is checked out in a temporary ``git worktree`` (removed
afterwards). For each seed, both sides run
``python3 perfbench/run.py --workload W --seed S --seconds 5 --trace 0``
in a fresh process from their own worktree, and the side that runs
first alternates from seed to seed (A B, B A, A B, ...), so a drift in
host load falls on both sides alike.

For each end-to-end metric of ``BENCHMARK.json`` it prints the median
and Q1–Q3 of each side, how many seed pairs B won, and the change in
median (B − A). The exit code is non-zero if any run was not
``correct``.

Usage (from the repository root):

    python3 tools/ab.py A_REV B_REV --workload query_mix --seeds 801-805
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3), inclusive method; one value is its own quartiles."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(a_runs: list[dict], b_runs: list[dict], metrics: list[dict]) -> list[dict]:
    """One row per end-to-end metric from the paired runs.

    ``a_runs[i]`` and ``b_runs[i]`` are the metric values ({name: value})
    of the same seed; ``metrics`` are BENCHMARK.json's ``end_to_end``
    entries (``name``, ``better``). ``b_wins`` counts the pairs where B
    is strictly better; pairs missing the metric on either side are
    skipped.
    """
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(a[name], b[name]) for a, b in zip(a_runs, b_runs) if name in a and name in b]
        if not pairs:
            continue
        a_vals, b_vals = [p[0] for p in pairs], [p[1] for p in pairs]
        a_q, b_q = quartiles(a_vals), quartiles(b_vals)
        rows.append({
            "metric": name,
            "a": a_q,
            "b": b_q,
            "b_wins": sum((b < a) if lower else (b > a) for a, b in pairs),
            "pairs": len(pairs),
            "delta_median": b_q[1] - a_q[1],
        })
    return rows


def run_once(tree: str, workload: str, seed: int) -> dict:
    """One fresh-process benchmark run; its last stdout line, or a
    not-correct result when the run fails."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "5", "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-2000:])
        return {"correct": False, "metrics": {}}


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a_rev")
    ap.add_argument("b_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="N or N-M (inclusive)")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    base = tempfile.mkdtemp(prefix="ab-")
    trees = {side: os.path.join(base, side) for side in ("a", "b")}
    runs: dict[str, list[dict]] = {"a": [], "b": []}
    all_correct = True
    try:
        for side, rev in (("a", args.a_rev), ("b", args.b_rev)):
            subprocess.run(["git", "worktree", "add", "--detach", trees[side], rev],
                           cwd=REPO, check=True, capture_output=True)
        for i, seed in enumerate(parse_seeds(args.seeds)):
            for side in ("a", "b") if i % 2 == 0 else ("b", "a"):
                out = run_once(trees[side], args.workload, seed)
                all_correct &= bool(out.get("correct"))
                values = {k: v["value"] for k, v in out.get("metrics", {}).items()}
                runs[side].append(values)
                print(json.dumps({"seed": seed, "side": side,
                                  "correct": out.get("correct"), **values}), flush=True)
    finally:
        for tree in trees.values():
            subprocess.run(["git", "worktree", "remove", "--force", tree],
                           cwd=REPO, capture_output=True)
        shutil.rmtree(base, ignore_errors=True)
        subprocess.run(["git", "worktree", "prune"], cwd=REPO, capture_output=True)

    print(f"{args.workload}: A={args.a_rev} B={args.b_rev}, "
          f"median (Q1–Q3), B wins / pairs")
    for r in summarize(runs["a"], runs["b"], metrics):
        a, b = r["a"], r["b"]
        print(f"  {r['metric']:16} A {a[1]:.4g} ({a[0]:.4g}–{a[2]:.4g})  "
              f"B {b[1]:.4g} ({b[0]:.4g}–{b[2]:.4g})  "
              f"B wins {r['b_wins']}/{r['pairs']}  Δ median {r['delta_median']:+.4g}")
    if not all_correct:
        print("ab: at least one run was not correct", file=sys.stderr)
    return 0 if all_correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""Regenerate ATTESTATION.json from the driver's CORRECTNESS_r*.json
archives (VERDICT r10 item 3).

The driver's correctness harness hash-checks the FIRST ~50 names of
``queries()`` each round. Through round 9 that order was a
hand-maintained hoist list plus registration order, so the same names
kept being re-attested while others aged (84 of 253 names were last
driver-attested in rounds 1-2 as of r10 — though, contrary to VERDICT
r10's "~150 never attested", the union of CORRECTNESS_r1-r10 covers all
253 names at least once; this tool prints the audit).

``registry.load_all`` now orders every query LEAST-RECENTLY-ATTESTED
first (stable on registration order), from the committed
ATTESTATION.json this tool writes and nothing else: each round the
driver attests the stalest 50, this file is regenerated from the new
CORRECTNESS_r*.json, and those names rotate to the back — a
self-advancing rotation with no per-round hand edits.

Usage: python tools/attestation.py        # rewrites ATTESTATION.json
       python tools/attestation.py --check  # exit 1 if stale
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "ATTESTATION.json")


def build(only_rounds: list[int] | None = None) -> dict:
    last: dict[str, int] = {}
    rounds: list[int] = []
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        if only_rounds is not None and rnd not in only_rounds:
            continue
        rounds.append(rnd)
        d = json.load(open(f))
        names = list(d) if isinstance(d, dict) else [x["name"] for x in d]
        for n in names:
            last[n] = max(last.get(n, 0), rnd)
    return {
        "rounds_seen": rounds,
        "last_attested_round": dict(sorted(last.items())),
    }


def main() -> int:
    if "--check" in sys.argv[1:]:
        # Honesty check: the committed file must faithfully reflect the
        # rounds it CLAIMS to cover. A newer CORRECTNESS file the driver
        # dropped after this file was generated is expected between
        # rounds (the next builder regenerates first thing) — warn,
        # don't fail, so the suite stays green on a tree the driver
        # just appended to.
        try:
            current = json.load(open(OUT))
        except (OSError, json.JSONDecodeError):
            print(f"STALE: {OUT} missing or unreadable")
            return 1
        claimed = current.get("rounds_seen", [])
        if current != build(only_rounds=claimed):
            print(f"STALE: rerun python tools/attestation.py ({OUT})")
            return 1
        newer = [r for r in build()["rounds_seen"] if r not in claimed]
        if newer:
            print(f"note: CORRECTNESS rounds {newer} not yet folded in — "
                  "regenerate at the start of the next round")
        print("ATTESTATION.json up to date for its claimed rounds")
        return 0
    data = build()
    with open(OUT, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    import collections

    by_round = collections.Counter(data["last_attested_round"].values())
    print(f"wrote {OUT}: {len(data['last_attested_round'])} names; "
          f"last-attested histogram {dict(sorted(by_round.items()))}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

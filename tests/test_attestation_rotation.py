"""Driver-attestation rotation (VERDICT r10 item 3).

The driver's correctness harness hash-checks the first ~50 names of
``queries()``; that order is every query least-recently-attested first,
per the committed ATTESTATION.json alone (no hand-maintained hoist). The
driver sample therefore lands on the names attested longest ago — the
old hand-maintained hoist left some stale for 9+ rounds.

No SparkSession needed: order is a pure function of the registry and
the committed JSON.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from udacity_data_wrangling_osm_case_study_spark.plans import registry

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _attestation() -> dict:
    return json.load(open(os.path.join(_REPO, "ATTESTATION.json")))


def test_attestation_file_matches_correctness_archives():
    """ATTESTATION.json is generated, not hand-edited: --check
    regenerates from the CORRECTNESS_r*.json archives and diffs."""
    r = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "attestation.py"),
         "--check"],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_order_is_hoist_then_least_recently_attested():
    """No hoist (length 0): the whole order is least-recently-attested
    first."""
    queries, oracles = registry.load_all()
    names = list(queries)
    last = _attestation()["last_attested_round"]
    rounds = [last.get(n, 0) for n in names]
    assert rounds == sorted(rounds), (
        "order must be least-recently-attested first"
    )


def test_driver_window_covers_the_stalest_tail():
    """The ~50-name driver budget must land on the least-recently
    attested names: every name in the window must be staler than every
    name after the window."""
    queries, _ = registry.load_all()
    names = list(queries)
    last = _attestation()["last_attested_round"]
    worst_in_window = max(last.get(n, 0) for n in names[:50])
    best_after = min(last.get(n, 0) for n in names[50:])
    assert worst_in_window <= best_after


def test_every_registered_query_is_tracked():
    """Every registry name has an attestation record (all 253 were
    driver-attested at least once in r1-r10 — the union of the
    CORRECTNESS archives covers the registry; a new query without a
    record sorts to round 0, i.e. to the very front, by design)."""
    queries, _ = registry.load_all()
    last = _attestation()["last_attested_round"]
    untracked = sorted(set(queries) - set(last))
    # new queries registered this round may legitimately be untracked —
    # but they must then lead the rotation, which load_all guarantees;
    # here we only pin that nothing TRACKED was dropped from the registry
    stale_records = sorted(set(last) - set(queries))
    assert not stale_records, f"attested names no longer registered: {stale_records}"
    names = list(queries)
    for n in untracked:
        # ADVICE r11: the old `or last.get(n) is None` arm was vacuously
        # true for every untracked name — assert the position directly:
        # an unattested query must lead the rotation, before any
        # attested name.
        assert names.index(n) < len(untracked), (
            f"untracked query {n!r} not at rotation front "
            f"(index {names.index(n)}, untracked {len(untracked)})"
        )

"""The workloads: their inputs, their op, and the check of every op.

A workload object offers ``prepare`` (generate inputs and the oracle),
``cold_op`` (the untimed first op that ends set-up), ``verify`` (the
untimed oracle check of every distinct op), ``pass_items`` (the ops of
one timed pass, in seeded order), ``min_passes`` (the fewest timed
passes of a run), ``run`` (one op; what it returns is checked outside
the timed window) and ``check``.
"""

from __future__ import annotations

import csv
import glob
import os
import random
import shutil
import sys

from gen_osm import generate as generate_osm
from gen_tables import write_tables
from stats import fingerprint

# Three timed passes must fit the per-run time budget on a 4-core host
# (perfbench/README.md). The first name is the cold op.
QUERY_MIX = [
    "region_rollup",
    # driver-orchestrated: eager snapshots, lineage cuts, the Arrow boundary
    "leakage_safe_split",
    "embedding_near_dupes_arrow",
    "cogrouped_entity_profile",
    # single-plan relational shapes
    "pricing_summary",
    "shipping_priority",
    "user_sessions",
    "phone_canonicalization",
]
TABLES_SF = 0.01
TABLES_SEED = 7
OSM_SCALE = 1.0
# The cold op only has to compile every stage once, so it runs on a small
# extract and set-up is not spent on data.
COLD_OSM_SCALE = 0.05
ETL_TABLES = ("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags", "update_history")


class QueryMix:
    """One op = one registered query, built and then collected."""

    # a query's median over three passes drops one pass slowed by the host
    min_passes = 3

    def __init__(self, names: list[str], seed: int, work: str):
        self.names = names
        self.seed = seed
        self.work = work
        self.sf_dir = os.path.join(work, "tables")
        self.verified: dict[str, str] = {}
        self.problems: dict[str, str] = {}
        self.duck = None

    def prepare(self) -> None:
        write_tables(self.sf_dir, TABLES_SF, TABLES_SEED)

    def run(self, spark, tracer, name: str):
        from udacity_data_wrangling_osm_case_study_spark.plans import registry

        queries, _ = registry.load_all()
        with tracer.span("plans.build"):
            df = queries[name](spark, self.sf_dir)
        with tracer.span("plans.exec") as rec:
            rows = df.collect()
        if rec is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            rec["catalyst_ms"] = sum(
                phases.get(p).get().durationMs()
                for p in ("analysis", "optimization", "planning")
                if phases.get(p).isDefined()
            )
        return df.columns, rows

    def cold_op(self, spark, tracer):
        return self.names[0], self.run(spark, tracer, self.names[0])

    def verify(self, spark, tracer, cold) -> list[str]:
        """Check the cold op, then run and check every other query once:
        the untimed pass that also warms each query's plans."""
        results = [cold]
        for name in self.names[1:]:
            results.append((name, self.run(spark, tracer, name)))
            spark.catalog.clearCache()
        return [f"{n}: {self.problems[n]}" for n, r in results if not self.check(n, r)]

    def pass_items(self, pass_no: int) -> list[str]:
        order = list(self.names)
        random.Random(self.seed * 1000 + pass_no).shuffle(order)
        return order

    def check(self, name: str, result) -> bool:
        """The first result of each query is compared with its DuckDB
        oracle; every later one with the fingerprint of that result."""
        if name not in self.verified and name not in self.problems:
            import pandas as pd
            from check_oracle import compare, duck_connection

            from udacity_data_wrangling_osm_case_study_spark.plans import registry

            if self.duck is None:
                self.duck = duck_connection(self.sf_dir)
            columns, rows = result
            mine = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
            bad = compare(mine, self.duck.execute(registry.load_all()[1][name]).fetchdf())
            if bad:
                self.problems[name] = "; ".join(bad)
                print(f"perfbench: {name} differs from its oracle: {self.problems[name]}",
                      file=sys.stderr)
            else:
                self.verified[name] = fingerprint(columns, rows)
                return True
        return self.verified.get(name) == fingerprint(*result)


class OsmEtl:
    """One op = the paper's full run: six tables written as CSV, both
    audits, and the SQL exploration."""

    min_passes = 1

    def __init__(self, seed: int, work: str, scale: float = OSM_SCALE):
        self.seed = seed
        self.work = work
        self.scales = {"cold": COLD_OSM_SCALE, "timed": scale}
        self.oracles: dict[str, dict] = {}
        self.n = 0

    def prepare(self) -> None:
        for item, scale in self.scales.items():
            self.oracles[item] = generate_osm(self.input_dir(item), self.seed, scale)

    def input_dir(self, item: str) -> str:
        return os.path.join(self.work, f"osm-{item}")

    def run(self, spark, tracer, item: str = "timed"):
        from udacity_data_wrangling_osm_case_study_spark.operators import pipeline
        from udacity_data_wrangling_osm_case_study_spark.plans import audits
        from udacity_data_wrangling_osm_case_study_spark.plans.osm_exploration import (
            EXPLORATION_SQL)

        self.n += 1
        out = os.path.join(self.work, f"etl-{self.n}")
        inp = self.input_dir(item)
        osm, psi = os.path.join(inp, "extract.osm"), os.path.join(inp, "psi.xml")
        tables = pipeline.build_tables(spark, osm, psi, shard_dir=os.path.join(out, "shards"))
        with tracer.span("operators.pipeline.sink"):
            pipeline.write_csv(tables, os.path.join(out, "csv"))
        with tracer.span("plans.audits"):
            streets = audits.audit_bilingual_street_names(spark, osm, psi).collect()
            phones = audits.audit_phone_numbers(spark, osm).collect()
        with tracer.span("plans.osm_exploration"):
            pipeline.register_views(tables)
            explored = {k: spark.sql(q).collect() for k, q in EXPLORATION_SQL.items()}
        return {
            "dir": out,
            "audit_street_names": len(streets),
            "audit_phone_numbers": len(phones),
            "row_counts": {r["tbl"]: r["n"] for r in explored["row_counts"]},
        }

    def cold_op(self, spark, tracer):
        return "cold", self.run(spark, tracer, "cold")

    def verify(self, spark, tracer, cold) -> list[str]:
        return [] if self.check(*cold) else ["cold ETL op differs from the oracle"]

    def pass_items(self, pass_no: int) -> list[str]:
        return ["timed"]

    def written(self, out: str) -> tuple[dict[str, int], list[list]]:
        """Row count of each CSV table and the update_history rows."""
        counts, history = {}, []
        for t in ETL_TABLES:
            n = 0
            for part in sorted(glob.glob(os.path.join(out, "csv", t, "part-*.csv"))):
                with open(part, newline="", encoding="utf-8") as f:
                    rows = list(csv.reader(f))[1:]
                n += len(rows)
                if t == "update_history":
                    history += [[int(r[0]), r[1], r[2]] for r in rows]
            counts[t] = n
        history.sort(key=lambda r: (r[1], r[2], r[0]))
        return counts, history

    def check(self, item: str, result) -> bool:
        counts, history = self.written(result["dir"])
        shutil.rmtree(result["dir"], ignore_errors=True)
        result["rows_written"] = sum(counts.values())
        result["phones_fixed"] = sum(r[2] == "phone" for r in history)
        result["names_fixed"] = sum(r[2] == "name" for r in history)
        want = self.oracles[item]
        ok = (
            counts == want["row_counts"]
            and result["row_counts"] == want["row_counts"]
            and history == want["update_history"]
            and result["audit_street_names"] == want["audit_street_names"]
            and result["audit_phone_numbers"] == want["audit_phone_numbers"]
        )
        if not ok:
            print(f"osm_etl mismatch: csv={counts} sql={result['row_counts']} "
                  f"audits=({result['audit_street_names']}, {result['audit_phone_numbers']}) "
                  f"want={ {k: v for k, v in want.items() if k != 'update_history'} }",
                  file=sys.stderr)
        return ok


def make(name: str, seed: int, work: str):
    if name == "osm_etl":
        return OsmEtl(seed, work)
    if name == "query_mix":
        return QueryMix(QUERY_MIX, seed, work)
    raise ValueError(f"unknown workload {name!r}")

"""Span tracer for the traced run.

It times and counts the calls into each layer from outside the package:
layer entry points are wrapped at run time (by identity, in every module
that imported them), each span runs under its own Spark job group, and
Spark's job, stage and task counters are joined to the spans through
those groups. Spans stay in memory until the run writes them out.

With tracing inactive every wrapper is a plain pass-through.
"""

from __future__ import annotations

import itertools
import sys
import time
from contextlib import contextmanager

from pyspark.storagelevel import StorageLevel

PKG = "udacity_data_wrangling_osm_case_study_spark"

COUNTERS = ("stages", "tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
            "shuffle_records", "spill_mb", "failed_tasks")


def _persist_count(df):
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()


def _force_tagged_ways(result):
    cleaned, _ = result
    if "pos" in cleaned.columns:  # the way tags the pipeline persists
        _persist_count(cleaned)


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.active = False
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self.storage_peak_mb = 0.0
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._t0 = time.perf_counter()

    # ---- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None, "op": self.op_id,
               "workload": self.workload, "start": time.perf_counter() - self._t0}
        rec["group"] = f"perfbench-{self.workload}-{rec['id']}"
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                self.sc._jsc.clearJobGroup()
            rec["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
            self.spans.append(rec)
            self._sample_storage()

    def _sample_storage(self) -> None:
        ex = self.sc._jsc.sc().statusStore().executorList(True)
        used = sum(ex.apply(i).memoryUsed() for i in range(ex.size()))
        self.storage_peak_mb = max(self.storage_peak_mb, used / 1e6)

    # ---- wrapping the layers ---------------------------------------------
    def _wrap(self, fn, name: str, force=None, on_result=None):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if force is not None:
                    force(out)
                if on_result is not None:
                    on_result(rec, out)
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _replace(self, module, attr: str, wrapper) -> None:
        """Point ``module.attr`` and every alias of it inside the
        package at ``wrapper``."""
        original = getattr(module, attr)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PKG):
                for k, v in list(vars(mod).items()):
                    if v is original:
                        setattr(mod, k, wrapper)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from udacity_data_wrangling_osm_case_study_spark.operators import (
            cleaning, official_streets, shape, street_repair)
        from udacity_data_wrangling_osm_case_study_spark.plans import registry
        from udacity_data_wrangling_osm_case_study_spark.sources import osm_split, osm_xml

        def shards(rec, out):
            rec["shards"] = len(out)

        targets = [
            (osm_split, "split_osm_xml", "sources.osm_split", None, shards),
            (osm_xml, "read_nodes_raw", "sources.osm_xml.parse", _persist_count, None),
            (osm_xml, "read_ways_raw", "sources.osm_xml.parse", _persist_count, None),
            (osm_xml, "read_official_streets_raw", "sources.osm_xml.parse", _persist_count, None),
            (official_streets, "clean_official_streets", "operators.official_streets",
             _persist_count, None),
            (official_streets, "name_lookup_table", "operators.official_streets", None, None),
            (shape, "shape_nodes", "operators.shape", None, None),
            (shape, "shape_ways", "operators.shape", None, None),
            (shape, "shape_way_nodes", "operators.shape", None, None),
            (shape, "shape_tags", "operators.shape", None, None),
            (cleaning, "fix_phones_in_tags", "operators.cleaning", _force_tagged_ways, None),
            (cleaning, "update_history", "operators.cleaning", None, None),
            (street_repair, "repair_street_names", "operators.street_repair",
             lambda out: out[0].count(), None),
            (registry, "table", "plans.registry.table", None, None),
        ]
        for module, attr, name, force, on_result in targets:
            self._replace(module, attr, self._wrap(getattr(module, attr), name, force, on_result))
        # Every lineage cut, bare or through operators/iterative.py.
        for attr in ("localCheckpoint", "checkpoint"):
            setattr(DataFrame, attr,
                    self._wrap(getattr(DataFrame, attr), "operators.iterative.snapshot"))

    # ---- Spark counters ------------------------------------------------------
    def counters(self, job_ids) -> dict[str, float]:
        """Stage/task counters summed over the stages of ``job_ids``."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict.fromkeys(COUNTERS, 0.0)
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # evicted from the status store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["failed_tasks"] += sd.numFailedTasks()
            c["task_s"] += sd.executorRunTime() / 1e3
            c["task_cpu_s"] += sd.executorCpuTime() / 1e9
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            c["shuffle_records"] += sd.shuffleWriteRecords()
            c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        return c

    def jvm_heap_peak_mb(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(
            p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
        ) / 1e6

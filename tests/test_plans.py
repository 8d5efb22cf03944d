"""Physical-plan regression tests: the scale-critical plan shapes must
survive refactors — filter pushdown into the parquet scan, column
pruning, broadcast dimension joins (never sort-merge for dims), and
true top-k (TakeOrderedAndProject, no global sort)."""

from __future__ import annotations

import contextlib
import io

import pytest

from udacity_data_wrangling_osm_case_study_spark.plans import registry
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    queries, _ = registry.load_all()
    df = queries[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark):
    p = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # 6 of 11 lineitem columns read — projection reached the scan
    schema_line = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in schema_line and "l_quantity" in schema_line
    # partial + final hash aggregation (map-side combine)
    assert p.count("HashAggregate") >= 2


def test_dimension_joins_broadcast(spark):
    p = _plan(spark, "region_rollup")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_topk_is_take_ordered(spark):
    for name in ("top_contributors", "top_parts_by_revenue", "knn_bruteforce", "keyword_search_topk"):
        p = _plan(spark, name)
        assert "TakeOrderedAndProject" in p, name


def test_whole_stage_codegen_covers_cleaning(spark):
    # The phone canonicalizer must stay JVM-side: no Python eval nodes
    # anywhere in the plan (AQE's formatted explain hides codegen
    # annotations pre-execution, so assert via the codegen explain).
    p = _plan(spark, "phone_canonicalization")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    queries, _ = registry.load_all()
    df = queries["phone_canonicalization"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen subtrees" in buf.getvalue()


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's InjectRuntimeFilter must add a bloom-filter semi-join
    reduction on the fact side of a selective non-broadcast join. At
    sf0.1 the application-side scan is below the default 10 GB
    threshold (injection correctly does NOT fire); at cluster scale it
    does — pinned here by lowering the threshold, with results
    unchanged."""
    from pyspark.sql import functions as F

    def _join():
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )

    def _optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    conf = spark.conf
    old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert "bloom" not in _optimized(_join()).lower()  # below scan threshold
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        filtered = _join()
        assert "bloom_filter_agg" in _optimized(filtered)
        rows = {r.o_orderpriority: r["count"] for r in filtered.collect()}
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
    baseline = {r.o_orderpriority: r["count"] for r in _join().collect()}
    assert rows == baseline


def test_unpivot_is_single_scan_expand(spark):
    """The unpivot query must rewrite to ONE fact scan with an Expand
    node — four stacked self-unions would read lineitem four times."""
    import re

    p = _plan(spark, "lineitem_metric_unpivot")
    assert "Expand" in p
    # one scan NODE (formatted explain prints each node in the tree
    # and again in the details list — count unique node entries)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_kmeans_assign_broadcasts_centroids(spark):
    """The k-means assignment must broadcast the centroid set (k rows)
    against the corpus scan — a shuffled join here would move the whole
    corpus per iteration."""
    p = _plan(spark, "kmeans_step")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p.split("== Physical Plan ==")[-1].split(
        "HashAggregate"
    )[0]


def test_incremental_dedup_no_corpus_reshingle(spark):
    """The incremental probe must read the persisted index postings,
    never re-shingle the corpus: the only explode (shingling) in the
    plan belongs to the new-batch side, and the index sides are plain
    parquet scans."""
    from udacity_data_wrangling_osm_case_study_spark.plans import dedup_queries

    dedup_queries.ensure_dedup_index(spark, SF_DIR)
    p = _plan(spark, "incremental_dedup")
    # bands + postings + sizes read from the index artifact
    assert p.count("spark_graft_dedup_index") >= 3
    # shingling (Generate/explode) only for the probe batch: the
    # documents scans carry the % 5 == 0 pushed filter
    assert "Generate explode" in p or "Generate" in p


def test_no_cartesian_products_anywhere(spark):
    """Full-registry sweep: every registered query's physical plan must
    build cleanly and contain no CartesianProduct. The only
    BroadcastNestedLoopJoins allowed are the intentional broadcasts of
    a tiny keyless frame — a 1-row query vector / corpus total or a
    k-row centroid bank — against a scan; anything else joining two
    big sides without keys is a plan bug."""
    allowed_bnlj = {
        "kmeans_step",        # k-row centroid bank
        "knn_bruteforce",     # 1-row query vector
        "knn_ivf",            # 1-row query vector
        "knn_srp_lsh",        # 1-row query vector
        "tfidf_top_terms",    # 1-row corpus doc-count frame
        "source_temperature_mix",  # 1-row total-weight frame
        "unigram_surprisal",  # 1-row corpus token-total frame
        "semantic_dedup",     # k-row centroid bank (kmeans_assign)
        "sq_codes",           # 1-row per-dimension min/max grid
        "lsh_tuning_report",  # 1-row truth/candidate/common count frames
        "pmi_collocations",   # 1-row corpus token-total frame
        "ann_recall_report",  # 1-row query vector + count frames
        "knn_pq_adc",         # 1-row LUT bank + query vector
        "part_association_rules",  # 1-row order-count frame
        "keyword_search_topk",     # 1-row corpus doc-count/avgdl frame
        "source_quantile_normalize",  # 1-row corpus total frame
        "source_slot_allocation",     # 1-row corpus total frame
        "order_price_tiers",          # 4-row tier dim, interval predicate
        "ann_rank_overlap_rbo",       # 1-row query vector (both rankings)
        "bloom_prefilter_contamination",  # 1-row broadcast bloom bank
        "hard_negative_mining",       # k-row centroid bank (kmeans_assign)
        "recency_weighted_user_value",  # 1-row as-of instant frame
        "event_value_ks_test",          # 1-row sample-size frames
        "source_distinctive_terms",     # 1-row corpus token-total frame
        "customer_rfm_segments",        # 1-row as-of instant frame
        "hybrid_search_rrf",            # 1-row query vector + BM25 stats
        "negative_sampling_pairs",      # 25-row brand-vocabulary dim
        "t_closeness_report",           # 1-row global band-distribution frame
        "event_type_hour_chisq",        # 1-row total + 24-row hour marginals
        "mannwhitney_click_view",       # 1-row sample-size frame
        "bootstrap_mean_ci",            # 1-row replicate-order-stats frame
        "source_centroid_cosine",       # k-row centroid bank, inequality pair join
        "daily_count_autocorr",         # 1-row series-total frame
        "idle_rich_customers",          # 1-row global-average frame (Q22)
        "important_stock_parts",        # 1-row total+count frame (Q11)
        "substring_threshold_profile",  # 1-row corpus token-total frame
    }
    queries, _ = registry.load_all()
    offenders, bnlj_offenders = [], []
    for name, fn in queries.items():
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        if "CartesianProduct" in p:
            offenders.append(name)
        if "BroadcastNestedLoopJoin" in p and name not in allowed_bnlj:
            bnlj_offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"
    assert not bnlj_offenders, f"unexpected keyless joins in: {bnlj_offenders}"


def test_ivf_index_scan_partition_pruned(spark):
    # The kNN probe must read only the n_probe winning cells' files
    # from the persisted index — visible as a PartitionFilters IN-list
    # on the cell partition column (not a post-scan Filter).
    import re

    p = _plan(spark, "knn_ivf")
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)\]", p)
    assert m, f"no partition IN-filter on the index scan:\n{p}"
    assert len(m.group(1).split(",")) == 3  # n_probe cells exactly


def test_segment_dedup_shuffle_budget(spark):
    """Segment dedup is TWO data shuffles (segment hash, then doc id)
    plus the loader's scan fan-out — a third data shuffle would mean
    the reassembly regressed to a window or an extra exchange."""
    import re

    p = _plan(spark, "chunk_dedup_docs")
    # Distinct exchange NODES (formatted explain lists each node twice:
    # tree + details): the segment frame feeds two branches off the
    # loader repartition (2× fan-out exchange), one keeper aggregation
    # shuffle, one reassembly shuffle, the final orderBy range exchange,
    # and the keepers' broadcast. More than that means a regression.
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 5, p


def test_unigram_surprisal_single_token_fact_shuffle(spark):
    """Token facts shuffle once (doc,token rollup); vocab and the
    corpus total ride broadcasts/small shuffles — the token-level
    frame must never join another token-level frame."""
    p = _plan(spark, "unigram_surprisal")
    assert "SortMergeJoin" not in p, p


def test_training_order_shuffle_no_single_partition_window(spark):
    """The global rank must come from the two-phase prefix sum: every
    window in the plan is partitioned (no 'Window [... ORDER BY' over
    an unpartitioned frame funneling the corpus through one task)."""
    p = _plan(spark, "training_order_shuffle")
    # The corpus-sized cumsum window must be PARTITIONED by the physical
    # partition id; the only unpartitioned window allowed is the cumsum
    # over the #partitions-row totals frame (identified by _tot).
    specs = [s.split(")")[0] for s in p.split("windowspecdefinition(")[1:]]
    assert specs, p
    for spec in specs:
        # Both legitimate windows reference _part (the corpus cumsum is
        # PARTITIONED by it; the tiny totals cumsum ORDERS by it). A
        # naive global rank over the shuffle hash would contain neither.
        assert "_part" in spec, spec


def test_sweepline_and_skyline_no_single_partition_window(spark):
    """The interval sweep and the skyline prefix-max must use the
    two-phase distributed pattern: every corpus-scale window in the
    plan is partitioned by the physical partition id (the only
    unpartitioned windows run over the #partitions-row totals frame)."""
    for name in ("session_peak_concurrency", "part_pareto_frontier"):
        p = _plan(spark, name)
        specs = [s.split(")")[0] for s in p.split("windowspecdefinition(")[1:]]
        assert specs, name
        for spec in specs:
            # sessionization windows partition by user_id; prefix-sum /
            # prefix-max windows partition (or order, for the tiny
            # totals frame) by _part. An unpartitioned ORDER BY over
            # the full boundary/level frame would contain neither.
            assert "_part" in spec or "user_id" in spec, (name, spec)


def test_trend_sufficient_stats_plan(spark):
    """event_value_trend must broadcast the per-group epoch-origin
    frame (5 rows) and reduce with partial aggregation — a sort-merge
    join or single-stage agg here would shuffle raw events twice."""
    p = _plan(spark, "event_value_trend")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("HashAggregate") >= 2


def test_ewma_single_sort_window(spark):
    """The EWMA fold must run inside ONE ordered window pass: a single
    per-key Sort/Window pair, no second exchange after the window."""
    import re

    p = _plan(spark, "event_value_ewma")
    assert len(re.findall(r"\(\d+\) Window", p)) == 1


def test_iterative_operators_scan_budget(spark):
    """Multi-superstep operators must checkpoint their loop-carried
    frames: Spark has no cross-branch common-subplan elimination, so an
    un-persisted k-step loop re-executes its whole upstream once per
    branch (random_walks regressed exactly this way — 18 fact scans in
    a 3-step plan). After the lineage cut, the final plan's leaves are
    checkpointed RDD blocks; the number of parquet-scan NODES left in
    the plan bounds how much upstream any branch can recompute. Budget
    2 covers the one legitimate pre-checkpoint subtree a plan may
    retain (e.g. an edge build whose two union branches scan the fact
    twice before AQE exchange reuse); anything above means a loop
    stopped checkpointing. kmeans_step's budget is 3: a SINGLE Lloyd
    step reads the corpus in three fixed roles (seeds, assignment,
    component-0) regardless of iteration count — the looped trainer
    (train_quantizer) checkpoints per round and never widens this."""
    import re

    registry.load_all()
    assert registry.SCAN_BUDGETS, "no scan budgets registered"
    for name, budget in registry.SCAN_BUDGETS.items():
        p = _plan(spark, name)
        n = len(re.findall(r"\(\d+\) Scan parquet", p))
        assert n <= budget, f"{name}: {n} parquet scan nodes — loop recompute?"


@pytest.mark.guard
def test_scan_budget_tags_cover_known_loops():
    """Meta-assertion over the registry's scan_budget tags: the known
    multi-superstep operators must stay enrolled (untagging one quietly
    drops it from the loop-recompute sweep above), budgets are sane,
    and every tagged name is a real registered query."""
    registry.load_all()
    known_loops = {
        "part_pagerank",
        "kmeans_step",
        "dedup_survivors",
        "part_random_walk_pairs",
        "subword_vocab",
    }
    tagged = set(registry.SCAN_BUDGETS)
    assert known_loops <= tagged, sorted(known_loops - tagged)
    assert tagged <= set(registry.QUERIES), sorted(
        tagged - set(registry.QUERIES)
    )
    assert all(1 <= b <= 4 for b in registry.SCAN_BUDGETS.values())


@pytest.mark.guard
def test_lineage_cuts_only_through_iterative():
    """Every lineage cut in the package goes through operators/
    iterative.py, so reliable-checkpoint mode covers all of them: a bare
    ``.localCheckpoint(`` or ``.checkpoint(`` call anywhere else would
    keep executor-local blocks whose loss is unrecoverable."""
    import ast
    import pathlib

    pkg = pathlib.Path(registry.__file__).resolve().parents[1]
    assert pkg.name == "udacity_data_wrangling_osm_case_study_spark"
    bare = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "operators" / "iterative.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                bare.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert bare == [], bare


# Where each store-protocol primitive may appear in the package: the one
# batch write, directory publish and manifest in operators/layout.py, the
# one index locator in plans/registry.py.
_STORE_PROTOCOL_HOME = {
    "partitionOverwriteMode": "operators/layout.py",
    "meta.json": "operators/layout.py",
    "os.rename": "operators/layout.py",
    "os.replace": "operators/layout.py",
    "tempfile.gettempdir": "plans/registry.py",
    "getmtime": "plans/registry.py",
}
_STORE_PROTOCOL_ALLOWED = {
    ("streaming/cdc_apply.py", "os.replace"): (
        "pointer-file flip of the versioned CDC snapshot: the object-store"
        " form of publish, one file replaced, no directory renamed"
    ),
}


@pytest.mark.guard
def test_one_store_protocol():
    """The persisted indexes and stream sinks share one store protocol:
    ``layout.write_batch`` (the one dynamic-overwrite batch write),
    ``layout.publish`` (the one stage-then-rename directory publish),
    ``layout.read_index_meta`` (the one ``meta.json`` reader),
    ``layout.read_parquet_or_empty`` and ``registry.index_dir`` /
    ``registry.ensure_index`` (the one index locator). A per-family copy
    regrows exactly these primitives outside their home, which this AST
    scan reports."""
    import ast
    import pathlib

    pkg = pathlib.Path(registry.__file__).resolve().parents[1]
    stray, dynamic, defs = [], [], {}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, []).append(rel)
                continue
            used = None
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value == "meta.json":
                    used = "meta.json"
                elif node.value.endswith("partitionOverwriteMode"):
                    used = "partitionOverwriteMode"
            elif isinstance(node, ast.Attribute):
                owner = getattr(node.value, "id", None)
                if f"{owner}.{node.attr}" in _STORE_PROTOCOL_HOME:
                    used = f"{owner}.{node.attr}"
                elif node.attr == "getmtime":
                    used = "getmtime"
            if used and _STORE_PROTOCOL_HOME[used] != rel:
                if (rel, used) not in _STORE_PROTOCOL_ALLOWED:
                    stray.append(f"{rel}:{node.lineno} {used}")
            if used == "partitionOverwriteMode":
                dynamic.append(rel)
    assert stray == [], stray
    assert dynamic == ["operators/layout.py"], dynamic
    for name, home in {
        "write_batch": "operators/layout.py",
        "publish": "operators/layout.py",
        "read_index_meta": "operators/layout.py",
        "read_parquet_or_empty": "operators/layout.py",
        "index_dir": "plans/registry.py",
        "ensure_index": "plans/registry.py",
    }.items():
        assert defs.get(name) == [home], (name, defs.get(name))
    for gone in (
        "_dedup_index_dir",
        "_ivf_index_dir",
        "_gram_index_dir",
        "read_gram_index_meta",
        "write_batch_idempotent",
    ):
        assert gone not in defs, (gone, defs[gone])


@pytest.mark.guard
def test_same_basename_datasets_get_distinct_indexes(tmp_path, monkeypatch):
    """Two datasets with one basename (``a/sf0.01``, ``b/sf0.01``) must
    get distinct index directories for every persisted index kind: an
    index keyed by basename alone is silently reused for the other
    dataset, because the staleness check only compares mtimes. The
    source tables, their column expressions and the builders are
    stubbed, so no SparkSession starts and no index is written."""
    from importlib import import_module
    from unittest import mock

    from udacity_data_wrangling_osm_case_study_spark.operators import (
        dedup,
        similarity,
        substrings,
    )

    for owner, builder in (
        (dedup, "build_dedup_index"),
        (substrings, "build_gram_index"),
        (similarity, "build_ivf_index"),
    ):
        monkeypatch.setattr(owner, builder, lambda *a, **kw: None)
    fake = mock.MagicMock()
    monkeypatch.setattr(registry, "table", lambda *a: fake)
    shared = []
    for module, ensure in (
        ("dedup_queries", "ensure_dedup_index"),
        ("substring_queries", "ensure_gram_index"),
        ("similarity_queries", "ensure_ivf_index"),
    ):
        mod = import_module(
            f"udacity_data_wrangling_osm_case_study_spark.plans.{module}"
        )
        monkeypatch.setattr(mod, "table", lambda *a: fake)
        monkeypatch.setattr(mod, "F", fake)
        a, b = (
            getattr(mod, ensure)(None, str(tmp_path / d / "sf0.01"))
            for d in ("a", "b")
        )
        if a == b:
            shared.append((ensure, a))
    assert shared == [], shared


# Deployment settings: the caller's environment picks them, so they
# stay settable even though nothing in the repository passes them.
UNPASSED_ALLOWED = {
    ("get_spark", "master"): "cluster URL of the deployment",
    ("get_spark", "extra_conf"): "per-deployment Spark settings",
    ("main", "argv"): "CLI entry point; None reads sys.argv",
    ("start_corpus_intake", "gram_index_dir"): "optional index artifact path",
}


def _after_close(text: str, i: int) -> int:
    """Offset just past the bracket that closes ``text[i]``; tokenized,
    so brackets inside strings do not count."""
    import io
    import tokenize

    for size in (4000, len(text)):
        lines = text[i:i + size].splitlines(keepends=True)
        depth = 0
        try:
            for t in tokenize.generate_tokens(io.StringIO("".join(lines)).readline):
                if t.type != tokenize.OP:
                    continue
                depth += (t.string in "([{") - (t.string in ")]}")
                if depth == 0:
                    return i + sum(map(len, lines[: t.end[0] - 1])) + t.end[1]
        except (tokenize.TokenError, SyntaxError):
            continue
    raise ValueError(f"no closing bracket for offset {i}")


@pytest.mark.guard
def test_every_defaulted_parameter_is_passed_somewhere():
    """A defaulted parameter of a module-level public package function
    that no call in the repository passes (by keyword or position) is
    an option with one value in use: it belongs in the body as a
    constant. Calls are matched by function name across the package,
    tests/, tools/, perfbench/ and bench.py; a ``*args``/``**kwargs``
    call counts as passing everything. Only signatures and call
    argument lists are parsed, which keeps the guard run fast."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(registry.__file__).resolve().parents[1]
    root = pkg.parent
    paths = [*pkg.rglob("*.py"), root / "bench.py"]
    for d in ("tests", "tools", "perfbench"):
        paths += (root / d).rglob("*.py")
    texts = {p: p.read_text() for p in paths}

    defaulted = {}  # name -> {param: positional index, None if kw-only}
    for p, text in texts.items():
        if pkg not in p.parents:
            continue
        for m in re.finditer(r"^def ([A-Za-z]\w*)\(", text, re.M):
            header = text[m.start():_after_close(text, m.end() - 1)] + ": pass"
            a = ast.parse(header).body[0].args
            pos = a.posonlyargs + a.args
            params = defaulted.setdefault(m.group(1), {})
            for i in range(len(pos) - len(a.defaults), len(pos)):
                params[pos[i].arg] = i
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    params[arg.arg] = None

    passed = set()
    for text in texts.values():
        for m in re.finditer(r"(?<!def )\b(\w+)\(", text):
            if not defaulted.get(m.group(1)):
                continue
            try:
                call = ast.parse(
                    "f" + text[m.end() - 1:_after_close(text, m.end() - 1)],
                    mode="eval",
                ).body
            except (SyntaxError, ValueError):
                continue  # prose in a docstring or comment, not a call
            kws = {k.arg for k in call.keywords}
            star = any(isinstance(x, ast.Starred) for x in call.args)
            for param, idx in defaulted[m.group(1)].items():
                if (
                    None in kws
                    or param in kws
                    or (idx is not None and (star or idx < len(call.args)))
                ):
                    passed.add((m.group(1), param))
    unpassed = {
        (n, p) for n, ps in defaulted.items() for p in ps
    } - passed - set(UNPASSED_ALLOWED)
    assert sorted(unpassed) == []
    assert all(p in defaulted.get(n, ()) for n, p in UNPASSED_ALLOWED), (
        "stale allowlist entry"
    )


def test_kmv_windows_are_keyed(spark):
    """The KMV k-smallest selection must stay two-phase: every window
    in the plan is partitioned by the sketch key (event_type — the
    local phase adds the physical partition id), so no task ever sorts
    a full audience."""
    p = _plan(spark, "kmv_distinct_sketch")
    specs = [s.split(")")[0] for s in p.split("windowspecdefinition(")[1:]]
    assert specs, p
    for spec in specs:
        assert "event_type" in spec, spec


def test_disjunctive_predicates_push_to_both_scans(spark):
    """Q19 shape: the mixed OR spans both join sides, but Catalyst must
    push each side's INFERRED disjunction into its own parquet scan —
    quantity ranges to lineitem, brand/size to part — so both prune
    before the join."""
    import re

    p = _plan(spark, "disjunctive_promo_revenue")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", p)
    li = [s for s in pushed if "l_quantity" in s]
    pt = [s for s in pushed if "p_brand" in s]
    assert li and "Or(" in li[0], li
    assert pt and "Or(" in pt[0], pt


def test_register_rejects_duplicate_names():
    """A duplicate @register name must fail loudly — a silent overwrite
    shadows an attested query with different semantics (nearly shipped
    in round 7 as a second duplicated_span_share)."""
    registry.load_all()
    existing = next(iter(registry.QUERIES))
    with pytest.raises(ValueError, match="already registered"):

        @registry.register(existing)
        def _dup(spark, sf_dir):  # pragma: no cover
            raise AssertionError

    # and the original registration is untouched
    assert registry.QUERIES[existing].__name__ != "_dup"


def _bench():
    import importlib.util
    import os

    bench_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
    )
    spec = importlib.util.spec_from_file_location("bench_manifest", bench_path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


@pytest.mark.guard
def test_bench_manifest_covers_registry():
    """The bench times every registered query not in BENCH_EXCLUDED, so
    a new registry entry joins the bench by construction; every
    exclusion must name a registered query and carry a reason."""
    bench = _bench()
    queries, _ = registry.load_all()
    excluded = set(bench.BENCH_EXCLUDED)
    assert excluded - set(queries) == set(), (
        f"stale bench names: {sorted(excluded - set(queries))}"
    )
    assert all(bench.BENCH_EXCLUDED.values()), "empty exclusion reason"
    assert bench.bench_names(queries), "the bench times no query"


@pytest.mark.guard
@pytest.mark.parametrize("durations, n_runs, concordant, discords", [
    ([1.0, 1.5, 1.05], 3, True, 1),
    ([1, 2, 3, 4], 4, False, 3),
    ([1.0, 1.05], 2, True, 0),
], ids=["third_run_agrees", "never_agrees", "first_pair_agrees"])
def test_bench_time_query_stops_on_concordant_pair(
    durations, n_runs, concordant, discords
):
    """The bench's one timing rule: run until the two fastest runs agree
    within 10% (2 to 4 runs), record the min, and breathe after each
    discordant pair."""
    it, breathers = iter(durations), []
    t = _bench().time_query(lambda: next(it),
                            on_discord=lambda: breathers.append(1))
    assert t == {"runs": durations[:n_runs], "concordant": concordant,
                 "best": min(durations)}
    assert len(breathers) == discords


def test_q2_min_cost_supplier_window_decorrelation(spark):
    """Q2 shape: the correlated per-part MIN must decorrelate to ONE
    window over the region-restricted partsupp — no groupBy + join-back
    (two shuffles) and no correlated re-scan. The LIMIT must lower to
    TakeOrderedAndProject, and the supplier/nation/region and part dims
    must broadcast."""
    p = _plan(spark, "min_cost_supplier")
    assert p.count(" Window ") + p.count("Window\n") >= 1
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    # lineitem is scanned once for the pair census — the decorrelation
    # must not re-derive partsupp for the subquery side
    assert p.count("lineitem.parquet") == 1


def test_q11_having_over_global_scalar_broadcasts(spark):
    """Q11 shape: the HAVING threshold (global total + part count) must
    arrive as a broadcast 1-row frame (BroadcastNestedLoopJoin over a
    singleton aggregate), never a shuffled join or a recompute of the
    per-part branch into a second lineitem scan pair."""
    p = _plan(spark, "important_stock_parts")
    assert "BroadcastNestedLoopJoin" in p
    # both branches scan the same pair census: 2 scans, not more
    assert p.count("lineitem.parquet") == 2


def test_q20_semi_join_and_q9_broadcast_dims(spark):
    """Q20's IN-chain must lower to a LEFT SEMI into the supplier dim;
    Q9's part filter and supplier->nation dim must broadcast around the
    two genuine fact shuffles (pair join, orders join)."""
    p20 = _plan(spark, "promotable_part_suppliers")
    assert "LeftSemi" in p20
    p9 = _plan(spark, "nation_profit_rollup")
    assert p9.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in p9 and "ArrowEvalPython" not in p9


# ---------------------------------------------------------------------------
# Post-AQE executed-plan assertions at BENCH scale (round-10, VERDICT
# item 6). PLAN_BUDGETS.json gates the INITIAL plan at sf0.001; AQE's
# runtime broadcast conversions at sf0.1 were assumed, not asserted.
# These execute the top-10 most expensive bench queries at sf0.1 and
# read queryExecution().executedPlan() AFTER the action: every
# adaptive plan must be finalized, and the final sections must show
# the joins AQE was trusted to produce.

BENCH_DIR = "/root/testdata/sf0.1"


def _final_plan(spark, name: str) -> str:
    """Executed (post-AQE) plan text, INITIAL-plan sections removed:
    AdaptiveSparkPlanExec prints '== Final Plan ==' and
    '== Initial Plan ==' blocks — a SortMergeJoin in the initial block
    that AQE converted must not trip a final-plan assertion."""
    queries, _ = registry.load_all()
    df = queries[name](spark, BENCH_DIR)
    df.collect()  # materialize: finalizes every adaptive subtree
    raw = df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    keep, out = True, []
    for line in raw.splitlines():
        if "== Initial Plan ==" in line:
            keep = False
        elif "== Final Plan ==" in line or "AdaptiveSparkPlan" in line:
            keep = True
        if keep:
            out.append(line)
    return "\n".join(out)


# query -> (must_contain, must_not_contain) in the FINAL plan
_AQE_EXPECTATIONS = {
    # dim/cell lookups: AQE must materialize broadcast hash joins
    "fingerprint_near_pairs": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # composite pipeline: dim lookups must broadcast, but its corpus-
    # sized pair self-join may legitimately stay sort-merge (fact-fact;
    # whether AQE converts it depends on runtime partition stats)
    "corpus_curation_funnel": (["BroadcastHashJoin"], []),
    # initial plan carries a SortMergeJoin; AQE converts it at sf0.1
    "leakage_safe_split": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "part_price_smoothing": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "part_clustering_coeff": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "prefix_filter_jaccard_pairs": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # the deliberate tiny-replica cross join, and nothing heavier
    "bootstrap_mean_ci": (
        ["BroadcastNestedLoopJoin"],
        ["SortMergeJoin", "ShuffledHashJoin"],
    ),
    # round-13 optimization: the per-key Arrow cogroup was retired for
    # the built-in-aggregate plan (shared with entity_profile_native) —
    # the full-outer join of two pre-aggregated sides must carry ZERO
    # Python dispatch nodes.
    "cogrouped_entity_profile": (
        ["SortMergeJoin", "FullOuter"],
        ["FlatMapCoGroupsInArrow", "ArrowEvalPython", "BatchEvalPython"],
    ),
    # superstep results: checkpoint leaves + unions — join-free finals
    "part_cheapest_path": ([], ["Join"]),
    "part_bfs_hops": ([], ["Join"]),
}


@pytest.mark.parametrize("name", sorted(_AQE_EXPECTATIONS))
def test_executed_plan_aqe_shapes_at_bench_scale(spark, name):
    import os

    if not os.path.isdir(BENCH_DIR):
        pytest.skip("bench-scale testdata absent")
    p = _final_plan(spark, name)
    assert "isFinalPlan=true" in p, name
    assert "isFinalPlan=false" not in p, name
    assert "CartesianProduct" not in p, name
    want, forbid = _AQE_EXPECTATIONS[name]
    for op in want:
        assert op in p, (name, f"expected {op} in final plan")
    for op in forbid:
        assert op not in p, (name, f"forbidden {op} in final plan")

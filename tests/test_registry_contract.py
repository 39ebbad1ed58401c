"""The driver contract itself: registry consistency + plan hygiene."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tools.scan_audit import plan_nodes, subtree_end


def test_registry_consistent_without_session():
    # imports and builds WITHOUT touching any SparkSession
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert len(qs) >= 70
    assert set(os_) <= set(qs)  # every oracle belongs to a query
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in os_.values())
    rows_only = set(qs) - set(os_)
    # rows-only is the exception, not the rule: approximate ANN (ivf/lsh/
    # pq/semdedup), sketches, iterative fixpoints (pagerank), procedural
    # packing, pandas-UDF/UDAF paths, incremental streaming. Each one has
    # a recall/golden/invariant pytest instead.
    assert len(rows_only) <= 13, rows_only
    # and the oracle-checked majority keeps growing, never shrinks
    assert len(os_) >= 100
    # the paper's core (movie, merge, jsonl) sits in the driver's
    # correctness window: the first 50 entries
    from movie_data_transformer_spark.operators import (
        jsonl_queries,
        merge_queries,
        movie_queries,
    )

    window = set(list(qs)[:50])
    for mod in (movie_queries, merge_queries, jsonl_queries):
        assert set(mod.QUERIES) <= window, (mod.__name__, set(mod.QUERIES) - window)


REPO = Path(__file__).resolve().parents[1]

#: Top-level package definitions that no non-test code references, kept
#: on purpose. Methods (SnapshotTable.vacuum, DataSourceWriter.abort) are
#: outside the scan, and decorated definitions (the atexit hook
#: harness._cleanup_owned) count as reached.
KEPT_UNREACHED = {
    "engine.MovieEngine": "the package's SQL entry point for library users",
    "fixtures.edge_movies": "reference-semantics fixture the tests and the perfbench "
    "oracle compare against",
    "sources.jsonl.corrupt_records": "the paper's op-15 view of dropped lines",
}


def _names(tree: ast.AST) -> Counter:
    """Every identifier a tree references: names and attribute names. A
    package's own `__all__` is a declaration, not a use, so its strings
    do not count."""
    out: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out[node.id] += 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] += 1
    return out


PKG = REPO / "movie_data_transformer_spark"


def _package_modules() -> dict[str, ast.Module]:
    """Every package module, parsed, by dotted name below the package."""
    return {
        ".".join(p.relative_to(PKG).with_suffix("").parts): ast.parse(p.read_text())
        for p in sorted(PKG.rglob("*.py"))
    }


def _outside_package() -> list[ast.Module]:
    """The code outside the package that is not a test: tools/,
    perfbench/ (not perfbench/tests), bench.py and __spark_entry__.py."""
    paths = list((REPO / "tools").rglob("*.py"))
    paths += [
        p for p in (REPO / "perfbench").rglob("*.py")
        if "tests" not in p.relative_to(REPO / "perfbench").parts
    ]
    paths += [REPO / "bench.py", REPO / "__spark_entry__.py"]
    return [ast.parse(p.read_text()) for p in paths]


def test_package_code_is_reached_outside_tests():
    """Every top-level function or class of the package is referenced by
    code that is not a test: the package outside the definition's own
    body, tools/, perfbench/ (not perfbench/tests), bench.py or
    __spark_entry__.py. Code only tests reach is deleted or wired in;
    the few kept on purpose are named in KEPT_UNREACHED."""
    modules = _package_modules()
    reached: Counter = Counter()
    for tree in [*modules.values(), *_outside_package()]:
        reached.update(_names(tree))

    unreached = set()
    for mod, tree in modules.items():
        for d in tree.body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if d.decorator_list:
                continue
            # references inside the definition itself (recursion, a
            # class naming itself) do not count
            if reached[d.name] - _names(d)[d.name] <= 0:
                unreached.add(f"{mod}.{d.name}")
    assert unreached == set(KEPT_UNREACHED), {
        "reached only by tests": sorted(unreached - set(KEPT_UNREACHED)),
        "allowlisted but reached": sorted(set(KEPT_UNREACHED) - unreached),
    }


def test_package_modules_have_no_unused_imports():
    """Every name a package module imports at top level is used in that
    module or re-exported through its `__all__`. `__init__` modules are
    skipped: their imports are the package's exports."""
    unused = []
    for p in sorted((REPO / "movie_data_transformer_spark").rglob("*.py")):
        if p.name == "__init__.py":
            continue
        tree = ast.parse(p.read_text())
        used = _names(tree)
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                used.update(e.value for e in ast.walk(node.value) if isinstance(e, ast.Constant))
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    if not used[bound]:
                        unused.append(f"{p.relative_to(REPO)}:{node.lineno} {bound}")
    assert not unused, unused


#: Defaulted package parameters that every caller outside the tests
#: passes one value, kept because the named test sets another one.
KEPT_TEST_KNOBS = {
    "operators.analytics_queries.pagerank(n_iter)":
        "test_graph_analytics.py::test_pagerank_matches_numpy_power_iteration",
    "operators.bpe.learn_bpe_merges(n_merges)": "test_bpe.py::test_bpe_classic_golden",
    "operators.dedup.containment_pairs(max_shingle_df)":
        "test_dedup.py::test_containment_df_cap_is_conservative",
    "operators.dedup.containment_pairs(threshold)":
        "test_dedup.py::test_containment_df_cap_is_conservative",
    "operators.dedup.exact_substr_runs(window)":
        "test_dedup.py::test_exact_substr_runs_golden_islands",
    "operators.dedup.ngram_jaccard_pairs(threshold)":
        "test_dedup.py::test_containment_catches_jaccard_blind_embedding",
    "operators.dedup.simhash_near_pairs(max_bucket_size)":
        "test_dedup.py::test_simhash_mega_bucket_cap_routes_to_exact_dedup",
    "operators.graph_extras_queries.cowatch_user_edges(max_watchers)":
        "test_graph_analytics.py::test_blockbuster_cap_excludes_hub_title_from_edges",
    "operators.graph_extras_queries.kcore_peel(max_peels)":
        "test_recsys_mixing.py::test_kcore_converges_within_bound_and_peels_the_chain",
    "operators.layout_queries.small_files_inventory(glob)":
        "test_dedup.py::test_streaming_dedup_compaction_bounds_file_count",
    "operators.layout_queries.small_files_inventory(recursive)":
        "test_dedup.py::test_streaming_dedup_compaction_bounds_file_count",
    "operators.linkpred_queries.predicted_links(max_degree)":
        "test_r8_properties.py::test_link_prediction_nonadjacent_and_hub_cap",
    "operators.ml_queries.train_lr(iters)":
        "test_graph_analytics.py::test_lr_trainer_learns_the_label_bucket",
    "operators.ordered_stats.attach_order_stats(n_buckets)":
        "test_r13_opt_plans.py::test_ordered_stats_descending_and_small_n",
    "operators.recsys_queries.item_similarities(max_watchlist)":
        "test_recsys_mixing.py::test_whale_cap_excludes_mega_watcher_from_model",
    "operators.similarity.semdedup_pairs(k)":
        "test_similarity.py::test_semdedup_finds_planted_pairs",
    "operators.similarity.semdedup_pairs(n_iter)":
        "test_similarity.py::test_semdedup_finds_planted_pairs",
    "operators.similarity.semdedup_pairs(threshold)":
        "test_similarity.py::test_semdedup_finds_planted_pairs",
    "operators.text.chunk_documents(chunk_tokens)":
        "test_text_multimodal.py::test_chunk_udtf_matches_expression_form",
    "operators.text.chunk_documents_sliding(stride)":
        "test_text_multimodal.py::test_sliding_chunks_cover_and_overlap",
    "operators.text.chunk_documents_sliding(window)":
        "test_text_multimodal.py::test_sliding_chunks_cover_and_overlap",
    "streaming.ann_stream.run_streaming_ann_ingest(max_files_per_trigger)":
        "test_similarity.py::test_streaming_ann_ingest_slicing_invariant_and_batch_sized",
    "streaming.dedup_stream.run_streaming_incremental_dedup(compact_after)":
        "test_dedup.py::test_streaming_dedup_compaction_bounds_file_count",
    "streaming.dedup_stream.run_streaming_incremental_dedup(max_bucket_size)":
        "test_dedup.py::test_streaming_incremental_dedup_matches_batch_any_slicing",
    "streaming.dedup_stream.run_streaming_incremental_dedup(max_files_per_trigger)":
        "test_dedup.py::test_streaming_incremental_dedup_matches_batch_any_slicing",
}


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _passed(call: ast.Call, name: str, index: int | None) -> ast.expr | None:
    """What `call` passes for parameter `name` (positional `index`): the
    argument, or None when it is omitted. A `*args` or `**kwargs` that
    could supply it is returned as the call itself."""
    for k in call.keywords:
        if k.arg == name:
            return k.value
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            return call
        if i == index:
            return a
    if any(k.arg is None for k in call.keywords):
        return call
    return None


def _literal_text(expr: ast.expr) -> str | None:
    """The source text of a literal or an UPPER_CASE name, else None."""
    if isinstance(expr, ast.Name) and expr.id.isupper():
        return expr.id
    try:
        ast.literal_eval(expr)
    except ValueError:
        return None
    return ast.unparse(expr)


def test_package_parameters_take_a_second_value():
    """A setting with one value in use is a constant. Every defaulted
    parameter of a top-level package function receives at least two
    distinct values across its calls in the reach guard's scan set
    (tests are not callers). An omitted argument counts as the default;
    a literal or an UPPER_CASE name counts as its source text; any other
    expression (a variable, a call) holds whatever its caller computes,
    so a parameter that receives one passes. Functions with no call site
    (the reach guard's job) and names the package defines twice are
    skipped. The parameters a test sets to another value are named in
    KEPT_TEST_KNOBS with that test."""
    defs: dict[str, list] = {}
    for mod, tree in _package_modules().items():
        for d in tree.body:
            if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(d.name, []).append((mod, d))
    calls: dict[str, list] = {}
    for tree in [*_package_modules().values(), *_outside_package()]:
        for c in ast.walk(tree):
            if isinstance(c, ast.Call) and _called_name(c) in defs:
                calls.setdefault(_called_name(c), []).append(c)

    single = set()
    for name, found in defs.items():
        if len(found) > 1 or name not in calls:
            continue
        mod, d = found[0]
        a = d.args
        pos = a.posonlyargs + a.args
        params = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
        params += [(p, v) for p, v in zip(a.kwonlyargs, a.kw_defaults) if v is not None]
        for p, default in params:
            index = pos.index(p) if p in pos else None
            values = set()
            for c in calls[name]:
                v = _passed(c, p.arg, index)
                values.add(_literal_text(default if v is None else v))
            if None not in values and len(values) < 2:
                single.add(f"{mod}.{name}({p.arg})")
    assert single == set(KEPT_TEST_KNOBS), {
        "one value in use": sorted(single - set(KEPT_TEST_KNOBS)),
        "allowlisted but set twice": sorted(set(KEPT_TEST_KNOBS) - single),
    }
    for knob, test in KEPT_TEST_KNOBS.items():
        path, _, test_name = test.partition("::")
        fn = knob.split("(")[0].rsplit(".", 1)[1]
        tree = ast.parse((REPO / "tests" / path).read_text())
        tests = [d for d in tree.body if getattr(d, "name", None) == test_name]
        assert any(
            isinstance(c, ast.Call) and _called_name(c) == fn
            for t in tests
            for c in ast.walk(t)
        ), (knob, test)


#: The environment variables the package may read: deployment settings
#: of the session, not switches of an operator.
DEPLOYMENT_ENV_VARS = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM"}


def _is_environ(e: ast.expr) -> bool:
    return (isinstance(e, ast.Name) and e.id == "environ") or (
        isinstance(e, ast.Attribute) and e.attr == "environ"
    )


def test_package_reads_only_deployment_env_vars():
    """An environment variable is a setting no caller sees. The package
    reads (os.environ[...], os.environ.get, os.getenv, `in os.environ`)
    only the deployment settings in DEPLOYMENT_ENV_VARS; a key that is
    not a string literal fails the check too."""
    read = set()
    for mod, tree in _package_modules().items():
        for node in ast.walk(tree):
            key = None
            if isinstance(node, ast.Subscript) and _is_environ(node.value):
                key = node.slice
            elif isinstance(node, ast.Compare) and _is_environ(node.comparators[-1]):
                key = node.left
            elif isinstance(node, ast.Call) and node.args and (
                _called_name(node) == "getenv"
                or (_called_name(node) == "get" and _is_environ(node.func.value))
            ):
                key = node.args[0]
            if key is not None:
                name = key.value if isinstance(key, ast.Constant) else ast.unparse(key)
                read.add((name, mod))
    assert {n for n, _ in read} <= DEPLOYMENT_ENV_VARS, sorted(
        r for r in read if r[0] not in DEPLOYMENT_ENV_VARS
    )


#: The one module that starts a stream, and the one that decodes JSONL
#: as a stream.
STREAM_RUNNER = "streaming.harness"
JSONL_STREAM_READER = "sources.jsonl"


def test_streams_start_and_read_jsonl_in_one_place():
    """Every stream of the package runs through
    `streaming/harness.run_available_now`: `.trigger(` and
    `awaitTermination` appear only in that module. Every JSON file
    stream reads through `sources/jsonl.stream_jsonl`: a function that
    names `readStream` and calls `.json(` appears only in that module."""
    starts, json_streams = set(), set()
    for mod, tree in _package_modules().items():
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and _called_name(node) == "trigger") or (
                isinstance(node, ast.Attribute) and node.attr == "awaitTermination"
            ):
                starts.add(mod)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names = _names(node)
                if names["readStream"] and any(
                    isinstance(c, ast.Call) and _called_name(c) == "json"
                    for c in ast.walk(node)
                ):
                    json_streams.add(mod)
    stray = {
        "starts a stream": sorted(starts - {STREAM_RUNNER}),
        "reads JSON as a stream": sorted(json_streams - {JSONL_STREAM_READER}),
    }
    assert stray == {"starts a stream": [], "reads JSON as a stream": []}, stray


def test_capture_plans_writes_only_to_its_out_dir(spark, sf_dir, tmp_path, monkeypatch):
    """tools/capture_plans.py writes each plan it captures into the
    directory its first argument names, and leaves the checked-in
    plans/ evidence as it is."""
    import sys

    from tools import capture_plans

    plans = {p: p.stat().st_mtime_ns for p in (REPO / "plans").rglob("*")}
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(sys, "argv", ["capture_plans.py", str(tmp_path), "before", "movies_kv"])
    assert capture_plans.main() == 0
    assert {p: p.stat().st_mtime_ns for p in (REPO / "plans").rglob("*")} == plans
    assert (tmp_path / "movies_kv_before.txt").read_text().startswith("== movies_kv (before")


#: sf0.001 row-count floors for every rows-only registry entry (round-3
#: VERDICT item 5): the driver's rows-only check cannot catch a silent
#: collapse to fewer/zero rows, so pytest pins each entry's minimum here
#: (and tools/check_oracle.py independently fails on zero). Floors are
#: ~half the observed count — loose enough for parameter drift, tight
#: enough that a broken bucket join / empty stream / dead UDF path fails.
ROWS_ONLY_FLOORS = {
    "pack_sequences": 350,  # observed 705
    "graph_pagerank": 5,  # exactly the movie-graph node count
    "events_gmean_udaf": 5,  # exactly the event-type count
    "movies_incremental_merge": 75,  # exactly the merged key count
    "sim_ivf_topk": 50,  # exactly n_queries x k
    "sim_pq_topk": 50,
    "sim_lsh_topk": 25,  # observed 50; sparse buckets may under-fill
    "semdedup_pairs": 25,  # observed 50 (planted near-dups)
    "agg_approx_sketches": 3,  # one row per region bucket
    "agg_hll_mergeable": 3,  # exactly one row per returnflag
    "bpe_learn_merges": 6,  # exactly n_merges=12 on any non-trivial corpus
    "agg_kll_quantiles": 5,  # exactly one row per event_type
    "lr_train_quality": 33,  # exactly DIM=32 weights + the bias row
}


def test_rows_only_entries_meet_row_floors(spark, sf_dir):
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    rows_only = set(qs) - set(os_)
    # every rows-only entry must have a pinned floor (adding a new
    # rows-only query without one fails here by design)
    assert rows_only == set(ROWS_ONLY_FLOORS), rows_only ^ set(ROWS_ONLY_FLOORS)
    for name, floor in ROWS_ONLY_FLOORS.items():
        n = qs[name](spark, sf_dir).count()
        assert n >= floor, f"{name}: {n} rows < floor {floor}"


def test_q6_pushes_filters_to_scan(spark, sf_dir):
    from movie_data_transformer_spark.operators.tpch_queries import q_tpch_q6_forecast_revenue

    df = q_tpch_q6_forecast_revenue(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # discount/quantity predicates must reach the parquet scan
    assert "PushedFilters: [" in plan
    assert "l_discount" in plan.split("PushedFilters: [", 1)[1][:300]


def test_plan_shapes_hold(spark, sf_dir):
    """Plan-regression pins for the designs the engine's scale story
    rests on. These are the properties a refactor could silently lose
    while oracles stay green (correctness is plan-independent; cost is
    not)."""
    import __spark_entry__ as e

    qs = e.queries()

    def plan_of(name):
        # persists that earlier tests' entries left registered would be
        # substituted into this plan (and change its size estimates);
        # pin the plan the entry builds on its own
        spark.catalog.clearCache()
        return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    # join_multiway: every dimension side broadcasts; the fact table is
    # the only shuffled input
    p = plan_of("join_multiway")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p

    # brute-force ANN: the broadcast side is the QUERY set — the corpus
    # must never hash-shuffle before scoring (only the (q x k) local
    # top-k rows move through the ranking window)
    p = plan_of("sim_brute_topk")
    assert "BroadcastNestedLoopJoin" in p  # by design: that IS brute force
    assert "CartesianProduct" not in p

    # incremental dedup: equi-joins only — a lost join condition would
    # silently turn candidate generation into a cross product
    for name in ("dedup_incremental_minhash", "dedup_apply_filter"):
        p = plan_of(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name

    # simhash pair expansion: single-shuffle bucket-group form — the
    # bucket aggregation plus the final distinct, and no self-join of the
    # band table (which would add a third hash exchange chain)
    p = plan_of("dedup_simhash_pairs")
    assert "CartesianProduct" not in p
    assert p.count("SortMergeJoin") == 0

    # skyline (r13): a per-cents max-day aggregate, ordered_stats'
    # running max over that one-row-per-cents table, and a broadcast
    # join-back on cents. No global window may run at the order-row grain
    # (the old dense_rank + RANGE pair funneled every order through
    # Exchange SinglePartition twice).
    p = plan_of("orders_skyline")
    nodes = plan_nodes(p)
    texts = [t for _, t in nodes]
    (join,) = [i for i, t in enumerate(texts) if t.startswith("BroadcastHashJoin [cents")]
    build = next(
        i for i in range(join + 1, subtree_end(nodes, join)) if texts[i].startswith("BroadcastExchange")
    )
    build_side = texts[build : subtree_end(nodes, build)]
    assert any(t.startswith("HashAggregate(keys=[cents") for t in build_side), build_side
    assert any(t.startswith("Window") for t in build_side), build_side
    for i, t in enumerate(texts):
        if t.startswith("Window"):
            k = i + 1
            while texts[k].startswith("Sort"):
                k += 1
            if texts[k].startswith("Exchange SinglePartition"):
                assert texts[k + 1].startswith("HashAggregate(keys=[cents"), texts[k + 1]
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in p, bad

    # r7 single-exchange operators: FIFO matching (the window and the agg
    # REUSE the user_id partitioning — one exchange total), CDC apply (one
    # sort-free max_by fold), hash sampling (map-side predicate + one
    # report agg). A second Exchange creeping in means the partitioning
    # reuse broke.
    for name in (
        "events_fifo_match",
        "cdc_apply_tombstones",
        "sample_hash_threshold_report",
    ):
        p = plan_of(name)
        assert p.count("Exchange") == 1, name
        for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
            assert bad not in p, (name, bad)

    # r8 single-exchange operators: ranking eval (BOTH rank windows and
    # the per-query agg share the one source-keyed exchange), preference
    # pairs (both rank windows + the self-join ride the user_id
    # partitioning — the join of two rank-1 slices of the SAME
    # partitioned frame must not re-shuffle), span corruption (one
    # doc-keyed island window; the zero-mask left join is doc-grain on
    # the same key).
    p = plan_of("search_ndcg_at_k")
    assert p.count("Exchange") == 1, "search_ndcg_at_k"
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in p, ("search_ndcg_at_k", bad)
    p = plan_of("search_mrr_map")
    assert p.count("Exchange") == 1, "search_mrr_map"
    p = plan_of("pref_pairs_build")
    assert p.count("Exchange hashpartitioning") == 1, "pref_pairs_build"
    assert "CartesianProduct" not in p
    # purchase filter must reach the parquet scan
    assert "PushedFilters: [" in p and "purchase" in p, "pref_pairs_build"

    # r8 map-side operators: readability scoring and PSI binning are
    # scan + (at most) one small-domain agg — a join or window creeping
    # in means the fused-projection design broke
    for name in ("text_readability_scores", "score_psi_bins"):
        p = plan_of(name)
        for bad in ("SortMergeJoin", "CartesianProduct", "Window"):
            assert bad not in p, (name, bad)

    # nearest as-of: the sort-merge-asof shape — ONE user shuffle, both
    # fill windows on it, and NO view x purchase join ever forms
    p = plan_of("asof_nearest_view_purchase")
    assert p.count("Exchange hashpartitioning") == 1
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in p, ("asof_nearest_view_purchase", bad)

    # fertility: lang/n_chars carry through the encode projection — one
    # scan, one agg, ZERO joins (a join back to documents would ship the
    # whole dimension at scale)
    p = plan_of("bpe_fertility_by_lang")
    assert p.count("Scan parquet") == 1
    for bad in ("Join", "Window"):
        assert bad not in p, ("bpe_fertility_by_lang", bad)

    # r9 additions to the pin set (r08 VERDICT advice #3 — deepen
    # evidence on the r8 families that lacked a plan pin):
    # DSIR selection: the <=1024-row LLR weight table comes back as ONE
    # broadcast — a shuffle join here would re-partition the whole corpus
    # by hash bucket (the exact skew the broadcast design avoids)
    p = plan_of("dsir_topk_selection")
    assert p.count("BroadcastHashJoin") == 1, "dsir_topk_selection"
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in p, ("dsir_topk_selection", bad)

    # Hill tail index: the rank window must keep its WindowGroupLimit —
    # that's the map-side top-(k+1) pruning the docstring's scale story
    # rests on (losing it ships EVERY row per type through the shuffle)
    p = plan_of("stats_hill_tail_index")
    assert "WindowGroupLimit" in p, "stats_hill_tail_index"
    assert "SortMergeJoin" not in p, "stats_hill_tail_index"

    # S-stemmer: a pure Catalyst CASE chain — any Python evaluation node
    # means the no-UDF design regressed to the slow path
    p = plan_of("text_sstem_vocab_reduction")
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert bad not in p, ("text_sstem_vocab_reduction", bad)

    # Markov typicality + entropy rate: the tiny model table (transition
    # matrix / per-type ln constants) broadcasts back to the big side
    for name in ("events_markov_user_typicality", "text_entropy_rate_by_lang"):
        p = plan_of(name)
        assert p.count("BroadcastHashJoin") == 1, name
        assert "SortMergeJoin" not in p, name

    # r10 additions to the pin set (r9 VERDICT advice #3 — pin the r7
    # families entering the driver window this round):
    # stratified quota sampling: ONE stratum shuffle carries both the
    # rank window and the quota window — no join anywhere (a join-based
    # quota lookup would ship the stratum table per-row at scale)
    p = plan_of("sample_stratified_exact_quota")
    assert p.count("Exchange hashpartitioning") == 1, "sample_stratified"
    assert "Join" not in p, "sample_stratified_exact_quota"

    # equi-depth histogram: the documented exact-order-statistic choice —
    # one global-order exchange, one window, zero joins (SCALE.md's KLL
    # swap note applies at extreme SF; the SHAPE must not silently grow
    # a join or a second exchange)
    p = plan_of("stats_equidepth_histogram")
    assert p.count("Exchange") == 1, "stats_equidepth_histogram"
    assert "Join" not in p, "stats_equidepth_histogram"

    # TTL throttle (r13): one user shuffle into ONE collect_list group
    # (partial + final), whose greedy kept-chain is a JVM `aggregate`
    # fold — no Python worker anywhere (the old applyInPandas form paid
    # per-group Python overhead) and no join (state lives in the fold)
    p = plan_of("events_throttle_ttl")
    assert p.count("Exchange hashpartitioning") == 1, "events_throttle_ttl"
    assert p.count("ObjectHashAggregate(keys=[user_id") == 2, "events_throttle_ttl"
    assert "aggregate(_evs" in p, "events_throttle_ttl"
    for bad in ("Python", "Pandas", "Join"):
        assert bad not in p, ("events_throttle_ttl", bad)

    # Fellegi-Sunter linkage + Kendall concordance: every join
    # broadcasts (m/u weight tables are parameter-sized; the concordance
    # fold joins only a per-year scalar) — a SortMergeJoin appearing
    # means a model table started shuffling the fact side
    for name in ("er_fellegi_sunter", "stats_kendall_by_year"):
        p = plan_of(name)
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name

    # rolling-origin backtest: the day grain collapses BEFORE the single
    # ordered window — one day-grain exchange plus the (|days|-row)
    # global sort only
    p = plan_of("forecast_backtest_daily")
    assert p.count("Exchange hashpartitioning") == 1, "forecast_backtest"
    assert "Join" not in p, "forecast_backtest_daily"

    # item-item top-k: the rank windows must keep their map-side
    # WindowGroupLimit pruning (losing it ships every candidate pair
    # through the shuffle instead of k per item)
    p = plan_of("movies_item_item_topk")
    assert "WindowGroupLimit" in p, "movies_item_item_topk"
    assert "CartesianProduct" not in p, "movies_item_item_topk"


@pytest.fixture(scope="module")
def registry_failures(spark, sf_dir):
    """Build every registry entry's DataFrame ONCE and collect the
    failures of the three registry-wide contracts below (column names,
    container columns, plan shapes); each test asserts its own list.
    One pass instead of three: building an entry runs its fixtures and
    streams, so each extra pass cost minutes."""
    import re

    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as e

    scalar_batch_eval = re.compile(r"BatchEvalPython(?!UDTF)")
    out = {"columns": [], "containers": [], "cartesian": [], "row_udf": []}
    for name, fn in e.queries().items():
        df = fn(spark, sf_dir)
        cols = df.columns
        if len(cols) != len({c.lower() for c in cols}):
            out["columns"].append(f"{name}: {cols}")
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                out["containers"].append(f"{name}.{f.name}: {f.dataType.simpleString()}")
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            out["cartesian"].append(name)
        if scalar_batch_eval.search(plan):
            out["row_udf"].append(name)
    return out


def test_all_queries_have_lowercase_unique_columns(registry_failures):
    """Column-name discipline: the driver sorts by name before hashing —
    duplicated or case-colliding names would corrupt the comparison."""
    assert registry_failures["columns"] == []


def test_no_registered_query_returns_container_columns(registry_failures):
    """Driver-canon schema contract (r06 VERDICT item 1): the driver
    canonicalizes results with pandas `sort_values`, which raises
    `TypeError: unhashable type: 'list'` on list/dict cells — proven
    twice (r01 agg_approx_sketches, r06 emb_int8_quantize). So NO
    registered query may expose a top-level ArrayType/MapType/StructType
    column: serialize containers (array_join / to_json) at the registry
    surface and keep typed arrays on the library functions."""
    assert registry_failures["containers"] == []


def test_no_query_plans_a_cartesian_product(registry_failures):
    """Registry-WIDE scale guarantees over each entry's executed plan:

    1. No entry's physical plan may contain CartesianProduct — the one
       join shape that cannot survive a 100x scale-up
       (BroadcastNestedLoopJoin is deliberately allowed: the brute-force
       ANN and scalar-bound theta joins broadcast a SMALL side by
       design). First run as an ad-hoc sweep in r8, promoted to a
       contract test so a lost join condition anywhere fails loudly
       rather than at 100 TB.
    2. (r9) No entry may plan a scalar BatchEvalPython — the pickled
       row-at-a-time Python UDF path. Every scalar Python touchpoint in
       the registry is Arrow-batched (ArrowEvalPython / mapInPandas /
       FlatMapGroupsInPandas / SCALAR_ITER), including the deliberate
       scalar-UDF surface demo (useArrow=True). A BatchEvalPython node
       means someone added a bare @udf to a hot path. The
       BatchEvalPythonUDTF node is excluded: Python UDTFs are row-based
       by Spark's spec, and the three UDTF entries are declared surface
       demos (text_chunks_udtf, udtf_table_partitioned,
       udtf_polymorphic_columns), not hot-path operators.
    """
    assert registry_failures["cartesian"] == []
    assert registry_failures["row_udf"] == []

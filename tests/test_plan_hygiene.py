"""Catalog-wide physical-plan guards (verify flow #5): Python may appear
only as Arrow-batched group/map pandas nodes at the sanctioned sites —
row-at-a-time ``BatchEvalPython`` is banned everywhere (AP: UDFs are the
slow path), and the W7/HMM/Laguerre Arrow passes must not leak into
entries that don't need them."""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from rangebar_patterns_spark.plan_shape import signature

#: entries whose plans legitimately contain Arrow pandas nodes
ARROW_SANCTIONED = {
    "nolookahead_thresholds",  # streaming quantile kernel
    "champion_nolookahead",
    "formation_counts",
    "temporal_yearly",
    "triple_barrier_trades",
    "barrier_mode_trades",
    "combined_barrier_metrics",
    "barrier_profile_metrics",
    "gen720_wl1d_metrics",
    "sweep_panel",
    "sweep_gen500_1008cfg",
    "sweep_gen600_fullgrid",
    "sweep_nfeature_metrics",
    "regime_labels",
    "multimodal_byte_features",
    "streaming_hourly_counts",
    # downstream consumers of the champion-trades chain (the trades
    # relation is built from the streaming-quantile featurization)
    "eval_moments_dsr", "eval_tail_tamrs",
    "cutoff_ou_panel",
    "mergeable_quantiles",  # r12: corpus-merge collapse on summary-sized input
    "eval_bootstrap_synthesis",
    "eval_spearman", "wf_fold_metrics", "wf_topk",
    "cpcv_pbo", "gt_composite_mbb", "wf_fold_objectives",
    "probe_panel", "config_skip_done",
    "sketch_distinct",  # r11: q-digest compress is a bounded applyInPandas
    "gen800_rolling_rdd", "crossasset_panel",
    "bars_adapter", "genx_hypotheses",
}


@pytest.fixture(scope="module")
def catalog_plans(spark):
    """Every gate entry built once, unexecuted: ``{name: (signature, plan
    text)}``.  The catalog checks below all read this one pass."""
    from rangebar_patterns_spark.plans.catalog import QUERIES

    plans = {}
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        text = df._jdf.queryExecution().executedPlan().toString()
        plans[name] = (signature(df), text)
    return plans


def _has(sig, token):
    """Whether any operator of the whole tree, cached plans included,
    has ``token`` in its class name."""
    return any(token in name for name in sig.nodes)


def test_python_placement_across_catalog(catalog_plans):
    arrow_nodes = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython")
    row_udfs, leaked = [], []
    for n, (sig, _) in catalog_plans.items():
        if _has(sig, "BatchEvalPython"):
            row_udfs.append(n)
        if any(_has(sig, a) for a in arrow_nodes) and n not in ARROW_SANCTIONED:
            leaked.append(n)
    assert not row_udfs, f"row-at-a-time Python UDFs in: {row_udfs}"
    assert not leaked, f"unexpected Python in: {leaked}"


def test_scan_column_pruning(spark):
    """Projections must reach the parquet scans: the bars adapter reads
    only the event columns it uses (not user_id/props), and a narrow
    documents projection prunes to the selected columns."""
    from rangebar_patterns_spark.sources.bars import bars_from_events
    from rangebar_patterns_spark.sources.tables import load_table

    plan = (
        bars_from_events(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "user_id" not in plan and "props" not in plan

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    dplan = docs._jdf.queryExecution().executedPlan().toString()
    import re

    rs = re.search(r"ReadSchema: struct<([^>]*)>", dplan)
    assert rs is not None
    cols = {c.split(":")[0] for c in rs.group(1).split(",")}
    assert cols == {"doc_id", "n_chars"}, cols


def test_join_strategies_across_catalog(catalog_plans):
    """No unbroadcast cartesian product may appear anywhere (every
    config-grid cross join must ship the grid side), and the explicitly
    hinted dimension joins plan as broadcast: the n-gram Jaccard verify
    (shingle-array side) and the barrier-grid cross join."""
    cartesian = [
        n for n, (sig, _) in catalog_plans.items()
        if _has(sig, "CartesianProduct")
    ]
    assert not cartesian, f"unbroadcast cross joins in: {cartesian}"

    jac, _ = catalog_plans["dedup_neardup_pairs"]
    assert _has(jac, "BroadcastHashJoin"), "jaccard verify should broadcast arrs"

    trades, _ = catalog_plans["triple_barrier_trades"]
    assert _has(trades, "BroadcastNestedLoopJoin") or _has(
        trades, "BroadcastExchange"
    ), "barrier grid cross join should broadcast the grid side"


#: entries allowed to carry Window nodes with an EMPTY partition spec —
#: all of them rank/scan across the config grain (~symbols × grid rows,
#: set by the grid, not the data), where a single-partition window is the
#: semantics.  A global window over bar/event grain funnels the whole
#: dataset through one task and must never appear.
#: entry -> MAX allowed unpartitioned-window count (ADVICE r5: a boolean
#: allowlist over-sanctions — several formerly listed entries now have
#: ZERO global windows, and growth within a sanctioned entry must fail
#: too).  All are config-grain relations (~symbols x grid rows).
GLOBAL_WINDOW_SANCTIONED = {
    "eval_moments_dsr": 3,  # e-BH rank + GROW ordering + fold ranks (merged e-values side)
    "eval_tail_tamrs": 2,  # TOPSIS ideal-point scalars (merged ranking side)
    "cutoff_ou_panel": 2,  # per-candidate ranking over the metric grid
    # the corpus-merge collapse: its '__all__' literal partition key is
    # constant-folded away (the q-digest precedent below) and its input
    # is the checkpointed union of per-source summaries (<= 5*MRL_M
    # weighted items) replayed per consumer — bounded at any scale
    "mergeable_quantiles": 8,
    "eval_bootstrap_synthesis": 2,  # RW config-id axis + critical value
    "eval_spearman": 6,  # 2 rank windows x 3 metric pairs
    "sketch_heavy_hitters": 1,  # rank over the 32-row top-N probe panel
    "reservoir_sample": 1,  # rank over the 64-row post-limit sample
    # the merged q-digest ground-truth cumsum: its '__all__' literal
    # partition key is constant-folded away, and the input is the value
    # histogram — bounded by the QD_U=4096 universe at ANY corpus size
    "sketch_distinct": 1,
}


def test_global_windows_only_on_config_grain_entries(catalog_plans):
    """Walk every catalog entry's physical plan (cached subtrees excluded
    — their shape is pinned where they're built) and flag any Window node
    with an empty PARTITION BY outside the sanctioned config-grain set."""
    leaked = [
        (name, sig.global_windows)
        for name, (sig, _) in catalog_plans.items()
        if sig.global_windows > GLOBAL_WINDOW_SANCTIONED.get(name, 0)
    ]
    assert not leaked, (
        f"unpartitioned windows above the per-entry pins: {leaked} "
        f"(update GLOBAL_WINDOW_SANCTIONED only for config-grain relations)"
    )


def test_fullgrid_funnel_plan_stays_broadcast_shaped(spark):
    """The headline sweep's consumer plan must stay: one exact-count
    threshold shuffle feeding the Arrow pass (inside the persisted
    relation), broadcast-only joins for the config fan-out, no sort-merge
    join and no cartesian anywhere.  Generous upper bounds — AQE may
    restructure details — but a config-grain shuffle or an unbroadcast
    fan-out join is exactly the regression this pins out."""
    from rangebar_patterns_spark.plans.catalog import QUERIES

    df = QUERIES["sweep_gen600_fullgrid"](spark, SF_DIR)
    df.count()
    names = signature(df).outside
    assert names["SortMergeJoinExec"] == 0
    assert names["CartesianProductExec"] == 0
    assert names["ShuffleExchangeExec"] <= 2, names["ShuffleExchangeExec"]


def test_gen800_plan_is_join_free_past_the_bar_lookup(spark):
    """The gen800 chain once self-joined against grouped copies of its
    own output three times (span bounds, ratio extremes, TOPSIS
    norms/extremes), re-evaluating the explode/window subtree per join
    side — 31 broadcast joins in the executed plan.  Pin the rewrite:
    the only join left is the exit-bar equi-join; everything grouped is
    a window aggregate over the same partition key."""
    from rangebar_patterns_spark.plans.catalog import QUERIES

    df = QUERIES["gen800_rolling_rdd"](spark, SF_DIR)
    df.count()  # resolve AQE so the final plan is the one that ran
    names = signature(df).outside
    n_joins = sum(
        names[n]
        for n in (
            "BroadcastHashJoinExec",
            "SortMergeJoinExec",
            "ShuffledHashJoinExec",
            "BroadcastNestedLoopJoinExec",
        )
    )
    assert n_joins <= 1, f"gen800 grew {n_joins} joins (expected 1: bar lookup)"


def test_reset_plan_caches_covers_every_module_cache(spark):
    """bench.py relies on reset_plan_caches to make repeat passes cold.
    Every side cache lives in the one catalog registry ``_SIDE_CACHE``
    keyed by session object, so: no package module defines another
    module-level *_CACHE dict, no package source keys anything on the
    session's numeric id, and reset empties the registry in place (the
    benchmark's cache probe holds the dict object itself)."""
    import importlib
    import pathlib
    import pkgutil
    import re

    import rangebar_patterns_spark as pkg
    import rangebar_patterns_spark.plans.catalog as cat

    caches = [
        f"{m.name}.{n}"
        for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
        for n, v in vars(importlib.import_module(m.name)).items()
        if n.endswith("_CACHE") and isinstance(v, dict)
    ]
    assert caches == [f"{cat.__name__}._SIDE_CACHE"], caches
    root = pathlib.Path(pkg.__file__).parent
    id_keyed = [
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if re.search(r"\bid\(\s*spark", p.read_text())
    ]
    assert not id_keyed, id_keyed

    registry = cat._SIDE_CACHE
    registry[("__sentinel__",)] = None
    cat.reset_plan_caches(spark)
    assert cat._SIDE_CACHE is registry and not registry


def test_side_cache_builds_once_per_session_dir_and_args(spark):
    """The registry builds once per (session, sf_dir, args), reuses the
    result on a repeat call, and rebuilds after the reset clears it."""
    import rangebar_patterns_spark.plans.catalog as cat

    builds = []

    @cat._side_cached
    def _probe(session, sf_dir, *args):
        builds.append((session, sf_dir, args))
        return object()

    s1, s2 = object(), object()
    calls = [(s1, "a"), (s2, "a"), (s1, "b"), (s1, "a", "x"), (s1, "a", "y")]
    first = [_probe(*c) for c in calls]
    assert len(builds) == len(calls)
    assert all(_probe(*c) is f for c, f in zip(calls, first))
    assert len(builds) == len(calls)
    cat.reset_plan_caches(spark)
    assert _probe(s1, "a") is not first[0]
    assert len(builds) == len(calls) + 1
    cat._SIDE_CACHE.pop(("_probe", s1, "a"))


def test_every_persist_is_held_or_released_in_place():
    """Every ``.persist(`` in the package is either the one inside
    ``session.hold`` or is assigned to a name that the same function
    also ``.unpersist()``s.  A persist that outlives its function must
    go through ``hold``, or ``reset_plan_caches`` cannot release it."""
    import ast
    import pathlib

    import rangebar_patterns_spark as pkg

    def method_calls(node, attr):
        return [
            n for n in ast.walk(node)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
        ]

    root = pathlib.Path(pkg.__file__).parent
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for call in method_calls(tree, "persist"):
            fn = parent[call]
            while fn is not None and not isinstance(fn, ast.FunctionDef):
                fn = parent.get(fn)
            if fn is not None and (rel, fn.name) == ("session.py", "hold"):
                continue
            assign = parent[call]
            target = (
                assign.targets[0].id
                if isinstance(assign, ast.Assign)
                and len(assign.targets) == 1
                and isinstance(assign.targets[0], ast.Name)
                else None
            )
            released = fn is not None and any(
                isinstance(c.func.value, ast.Name) and c.func.value.id == target
                for c in method_calls(fn, "unpersist")
            )
            if not released:
                bad.append(f"{rel}:{call.lineno}")
    assert not bad, f"persists neither held nor released in place: {bad}"


def test_no_package_code_sets_a_session_conf():
    """No module in the package calls ``.conf.set(``: a session conf is
    shared by every query planned on the session, so a count one plan
    needs belongs in that plan (an explicit ``repartition``), not in a
    scoped mutation that assumes one query at a time."""
    import pathlib
    import re

    import rangebar_patterns_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    setters = [
        f"{path.relative_to(root).as_posix()}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.conf\s*\.\s*set\(", line)
    ]
    assert not setters, f"session-conf mutations: {setters}"


def test_reset_releases_only_the_packages_caches(spark):
    """``reset_plan_caches`` unpersists what the package held and nothing
    else: a frame the caller cached survives it, and is then the only
    entry in Spark's cache.  The entries cover the sweep's threshold
    relation, the decontamination panel's bench side, the distinct
    sketch's hash relation, the CC edges and the eval layers."""
    import rangebar_patterns_spark.plans.catalog as cat
    from pyspark import StorageLevel

    cat.reset_plan_caches(spark)
    spark.catalog.clearCache()
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData
    user = spark.range(100).selectExpr("id * 7 AS v").persist()
    user.count()
    for name in (
        "sweep_gen500_1008cfg",
        "decontamination_overlap",
        "sketch_distinct",
        "dedup_clusters",
        "eval_tail_tamrs",
    ):
        cat.QUERIES[name](spark, SF_DIR).collect()
    assert cached().size() > 1
    cat.reset_plan_caches(spark)
    try:
        assert user.storageLevel != StorageLevel.NONE
        assert cached().size() == 1
    finally:
        user.unpersist()


def test_sweep_entries_run_the_one_fused_threshold_path(catalog_plans):
    """The catalog's sweep entries all take the fused threshold path: each
    executed plan carries the fused kernel's ``pair_id`` key and never the
    layered reference's ``partner`` key, and no plans module names the
    layered reference at all (it exists for tests only)."""
    import pathlib

    import rangebar_patterns_spark.plans as plans_pkg

    for name in ("sweep_panel", "sweep_gen500_1008cfg", "sweep_gen600_fullgrid"):
        _, text = catalog_plans[name]
        assert "pair_id" in text, name
        assert "partner" not in text, name
    root = pathlib.Path(plans_pkg.__file__).parent
    callers = [
        p.name
        for p in root.rglob("*.py")
        if "with_signalset_quantiles" in p.read_text()
    ]
    assert not callers, callers

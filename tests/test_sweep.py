"""Sweep-engine-specific checks (the oracle parity itself is covered by
test_queries_oracle's parametrized sweep over the catalog)."""

from __future__ import annotations

from rangebar_patterns_spark.plans.catalog import QUERIES

from conftest import SF_DIR


def test_sweep_funnel_counts_consistent(spark):
    """signals <= candidates, hits <= signals, and at least one config
    fires at the smallest fixture (population sanity)."""
    pdf = QUERIES["sweep_panel"](spark, SF_DIR).toPandas()
    assert (pdf.n_signals <= pdf.n_candidates).all()
    assert (pdf.hits <= pdf.n_signals).all()
    assert pdf.n_signals.sum() > 0


def test_sweep_scan_count_independent_of_config_count(spark):
    """The shared-scan amortization that replaces the reference's
    per-config query storm (BASELINE.md): the number of source scans in
    the funnel plan must NOT grow with the config-grid size.  (The exact
    scan count is not asserted — CacheManager substitution and AQE change
    the rendering between runs — but a per-config scan storm would scale
    linearly with the grid.)"""
    from rangebar_patterns_spark.operators.sweep import (
        default_sweep_grid,
        sweep_candidates_with_thresholds,
        sweep_funnel,
    )
    from rangebar_patterns_spark.operators.windows import (
        with_bar_features,
        with_gate_quantiles,
    )
    from rangebar_patterns_spark.plans.catalog import SWEEP_FEATURES, SWEEP_ROLLING, WARMUP
    from rangebar_patterns_spark.sources.bars import bars_from_events

    def n_scans(grid) -> tuple[int, int]:
        feat = with_gate_quantiles(
            with_bar_features(
                bars_from_events(spark, SF_DIR), rolling_window=SWEEP_ROLLING
            )
        )
        df = sweep_funnel(
            sweep_candidates_with_thresholds(
                feat, spark, grid, SWEEP_FEATURES, WARMUP
            )
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("FileScan parquet") + plan.count("InMemoryTableScan")

    import dataclasses

    small = default_sweep_grid()
    # 2x the configs (q1=0.51 is not in the default grid, so ids are unique)
    big = small + [dataclasses.replace(c, q1=0.51) for c in small]
    ns, nb = n_scans(small), n_scans(big)
    assert ns == nb, f"scan count grew with configs: {ns} -> {nb}"
    # the absolute count is a plan artifact (the cached threshold
    # relation renders its own scan inside the InMemoryTableScan) — what
    # must never happen is scans scaling with the config grid, asserted
    # above
    assert ns > 0


def _hand_cand(spark, rows):
    """A hand-built candidate relation: one tuple per row in
    ``_CAND_COLUMNS`` order."""
    from rangebar_patterns_spark.operators.sweep import _CAND_COLUMNS

    return spark.createDataFrame(
        rows,
        "config_id string, formation string, feature1 string, q1 double, "
        "dir1 string, feature2 string, q2 double, dir2 string, side string, "
        "symbol string, rn long, close_time_ms long, "
        "threshold_decimal_bps int, entry_price double, next_dir int, "
        "f1_val double, f2_val double",
    ).select(*_CAND_COLUMNS)


def test_feature_quantile_trap_partner_nulls(spark):
    """Regression for the Feature Quantile Trap: two configs sharing
    (formation, feature1, q1) but with different feature2 must get
    feature1 thresholds computed over their OWN candidate sequence when
    the partner feature has post-warmup NULLs (a NULL partner drops the
    row from one config's candidate set but not the other's)."""
    import numpy as np

    from rangebar_patterns_spark.functions.series_quantile import (
        excl_quantile_stream,
    )
    from rangebar_patterns_spark.operators.sweep import with_signalset_quantiles

    # candidate stream for two configs: cfgA pairs f1 with "dense" (all
    # rows survive), cfgB pairs f1 with "sparse" (every 3rd row dropped
    # upstream by the non-NULL filter)
    f1_vals = [float(((i * 37) % 101)) for i in range(60)]
    rows = []
    for i, v in enumerate(f1_vals):
        rows.append(
            ("cfgA", "form", "f1", 0.5, ">", "dense", 0.5, ">", "long", "S",
             i + 1, 1000 + i, 250, 100.0, 1, v, 1.0)
        )
        if i % 3 != 0:
            rows.append(
                ("cfgB", "form", "f1", 0.5, ">", "sparse", 0.5, ">", "long",
                 "S", i + 1, 1000 + i, 250, 100.0, 1, v, 1.0)
            )
    cand = _hand_cand(spark, rows)

    out = with_signalset_quantiles(cand, lookback=10).toPandas()
    for cfg, seq in [
        ("cfgA", f1_vals),
        ("cfgB", [v for i, v in enumerate(f1_vals) if i % 3 != 0]),
    ]:
        expected = excl_quantile_stream(np.array(seq), 0.5, 10)
        got = (
            out[out.config_id == cfg]
            .sort_values("rn")["f1_thr"]
            .to_numpy("float64", na_value=np.nan)
        )
        assert len(got) == len(expected), cfg
        assert np.array_equal(got, expected, equal_nan=True), cfg


def test_multi_q_sharing_guard_compares_values(spark):
    """Two q's of one (formation, feature, partner, symbol) key that share
    rn but carry different f1_val must each get thresholds over their own
    values: the layered reference streams every q-run on its own (it once
    shared one series across a key's q's behind an rn/value guard)."""
    import numpy as np

    from rangebar_patterns_spark.functions.series_quantile import (
        excl_quantile_stream,
    )
    from rangebar_patterns_spark.operators.sweep import with_signalset_quantiles

    seqs = {
        ("cfgA", 0.5): [float((i * 37) % 101) for i in range(60)],
        ("cfgB", 0.9): [float((i * 53) % 97) for i in range(60)],
    }
    rows = [
        (cfg, "form", "f1", q, ">", "dense", 0.5, ">", "long", "S",
         i + 1, 1000 + i, 250, 100.0, 1, v, 1.0)
        for (cfg, q), seq in seqs.items()
        for i, v in enumerate(seq)
    ]
    cand = _hand_cand(spark, rows)

    out = with_signalset_quantiles(cand, lookback=10).toPandas()
    for (cfg, q), seq in seqs.items():
        expected = excl_quantile_stream(np.array(seq), q, 10)
        got = (
            out[out.config_id == cfg]
            .sort_values("rn")["f1_thr"]
            .to_numpy("float64", na_value=np.nan)
        )
        assert np.array_equal(got, expected, equal_nan=True), cfg


def test_gen600_fullgrid_funnel_matches_bulk_oracle(spark, duck):
    """Full-width gen600 grid (22 formations x 38 cross-features x 4
    combos = 3,344 configs) funnel vs the side-aware bulk DuckDB twin at
    fixture scale, via the LAYERED path — the gate's
    ``sweep_gen600_fullgrid`` entry runs the same comparison through the
    fused path at sf0.01, so this keeps the layered reference shape
    independently pinned at full width."""
    from rangebar_patterns_spark.operators.crossfeatures import (
        CROSS_FEATURES,
        cross_feat_cte,
        with_cross_features,
    )
    from rangebar_patterns_spark.operators.sweep import (
        gen600_full_grid,
        grid_formations,
        sweep_candidates,
        sweep_funnel,
        sweep_grid_to_spark,
        with_signalset_quantiles,
    )
    from rangebar_patterns_spark.plans.catalog import (
        WARMUP,
        _featg,
        _featg_ctes,
        _materialize,
    )
    from rangebar_patterns_spark.plans.sweep_oracle import sweep_funnel_oracle_bulk
    from rangebar_patterns_spark.sources.bars import BARS_DUCKDB_CTE

    from conftest import SF_DIR, compare_frames

    grid = gen600_full_grid(("ofi",))
    assert len(grid) == 22 * 38 * 4
    features = sorted({"ofi", *CROSS_FEATURES})
    candq = with_signalset_quantiles(
        sweep_candidates(
            with_cross_features(_featg(spark, SF_DIR)),
            sweep_grid_to_spark(spark, grid),
            features,
            WARMUP,
            formations=grid_formations(grid),
        )
    )
    sp = sweep_funnel(candq)
    sql = _materialize(
        f"""
WITH {BARS_DUCKDB_CTE},
{_featg_ctes()},
{cross_feat_cte(source="featg", name="featx")},
{sweep_funnel_oracle_bulk(grid, WARMUP, features, feat_relation="featx")}
""",
        "bars", "feat", "featg",
    )
    du = duck.execute(sql).df()
    compare_frames(sp, du)


def test_nfeature_faithful_oracle_subgrid(spark, duck):
    """The gate entry's 432-config grid is checked against the set-deduped
    bulk twin; this test keeps the *faithful* per-config template
    expansion (sweep_oracle.nfeature_metrics_oracle — the reference's sed
    shape) exercised on a mixed 3f/4f subgrid."""
    from rangebar_patterns_spark.config import gen400_profile
    from rangebar_patterns_spark.operators.barriers import (
        with_entry_and_forward,
    )
    from rangebar_patterns_spark.operators.sweep import (
        nfeature_grid,
        nfeature_signals,
        sweep_trades,
    )
    from rangebar_patterns_spark.operators.barriers import barrier_metrics
    from rangebar_patterns_spark.config import grid_to_spark, max_bars_cap
    from rangebar_patterns_spark.plans.catalog import (
        WARMUP,
        _featg,
        _featg_ctes,
        _materialize,
    )
    from rangebar_patterns_spark.plans.sweep_oracle import (
        nfeature_metrics_oracle,
    )
    from rangebar_patterns_spark.sources.bars import BARS_DUCKDB_CTE

    from conftest import SF_DIR, compare_frames

    full = nfeature_grid()
    # every 29th config: 15 configs spanning both 3f and 4f shapes
    sub = full[::29]
    assert {len(c.features) for c in sub} == {3, 4}
    sigs = nfeature_signals(_featg(spark, SF_DIR), spark, sub, WARMUP)
    fwd = with_entry_and_forward(
        _featg(spark, SF_DIR), cap=max_bars_cap(gen400_profile())
    )
    trades = sweep_trades(sigs, fwd, grid_to_spark(spark, gen400_profile()))
    sp = barrier_metrics(trades, group_cols=["config_id", "symbol", "barrier_id"])
    sql = _materialize(
        f"""
WITH {BARS_DUCKDB_CTE},
{_featg_ctes()},
{nfeature_metrics_oracle(sub, gen400_profile(), WARMUP, feat_relation="featg")}
""",
        "bars", "feat", "featg", "fwdarr",
    )
    du = duck.execute(sql).df()
    compare_frames(sp, du)


def test_fused_candq_equivalent_to_layered(spark):
    """sweep_candidates_with_thresholds (the grid-scale fused pair-grain
    path the catalog runs) must produce exactly
    with_signalset_quantiles(sweep_candidates(...)) — same rows, same
    thresholds — on the 44-config default grid."""
    from rangebar_patterns_spark.operators.sweep import (
        default_sweep_grid,
        grid_formations,
        sweep_candidates,
        sweep_candidates_with_thresholds,
        sweep_grid_to_spark,
        with_signalset_quantiles,
    )
    from rangebar_patterns_spark.plans.catalog import (
        SWEEP_FEATURES,
        WARMUP,
        _featg,
    )

    grid = default_sweep_grid()
    feat = _featg(spark, SF_DIR)
    layered = with_signalset_quantiles(
        sweep_candidates(
            feat, sweep_grid_to_spark(spark, grid), SWEEP_FEATURES, WARMUP,
            formations=grid_formations(grid),
        )
    )
    fused = sweep_candidates_with_thresholds(
        feat, spark, grid, SWEEP_FEATURES, WARMUP
    )
    cols = sorted(layered.columns)
    assert cols == sorted(fused.columns)
    lp = layered.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    fp = fused.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(lp, fp)


def test_gen600_complete_reference_matrix_runs(spark):
    """The reference's COMPLETE per-asset gen600 matrix — 22 templates ×
    9 bar features × 38 cross features × 4 quantile combos = 30,096
    configs (scripts/gen600/generate.sh full enumeration) — executes as
    one plan.  Correctness of the machinery is pinned at 22×38×4 against
    the bulk oracle above; this pins that the full width *runs* and obeys
    the funnel invariants at fixture scale."""
    from rangebar_patterns_spark.operators.crossfeatures import (
        CROSS_FEATURES,
        with_cross_features,
    )
    from rangebar_patterns_spark.operators.sweep import (
        gen600_full_grid,
        sweep_candidates_with_thresholds,
        sweep_funnel,
    )
    from rangebar_patterns_spark.plans.catalog import WARMUP, _featg

    bar9 = (
        "ofi", "aggression_ratio", "turnover_imbalance", "price_impact",
        "vwap_close_deviation", "volume_per_trade", "aggregation_density",
        "duration_us", "opposite_wick_pct",
    )
    grid = gen600_full_grid(bar9)
    assert len(grid) == 22 * 9 * 38 * 4
    features = sorted({*bar9, *CROSS_FEATURES})
    candq = sweep_candidates_with_thresholds(
        with_cross_features(_featg(spark, SF_DIR)), spark, grid, features,
        WARMUP,
    )
    pdf = sweep_funnel(candq).toPandas()
    assert len(pdf) > 0
    assert (pdf.n_signals <= pdf.n_candidates).all()
    assert (pdf.hits <= pdf.n_signals).all()
    assert pdf.config_id.nunique() > 10_000


def test_threshold_shuffle_ceiling_reaches_cached_plan(spark, monkeypatch):
    """The derived threshold-shuffle count must reach the cached plan as
    an explicit repartition, without touching the session conf: a count
    that never reaches the cached shuffle silently reintroduces the sf1
    OOM the sizing exists to prevent.  One row per partition with a
    ceiling of 7 forces the derived count to 7; assert it appears on the
    one ``_bkt`` exchange inside the cached plan, and that the grouped
    pandas call adds no second exchange."""
    import re

    from rangebar_patterns_spark.operators import sweep as SW
    from rangebar_patterns_spark.plan_shape import walk
    from rangebar_patterns_spark.plans import catalog as C

    monkeypatch.setattr(SW, "THRESHOLD_ROWS_PER_PARTITION", 1)
    monkeypatch.setattr(SW, "THRESHOLD_MAX_PARTITIONS", 7)
    conf_before = spark.conf.get("spark.sql.shuffle.partitions")
    candq = SW.sweep_candidates_with_thresholds(
        C._featg(spark, SF_DIR),
        spark,
        SW.default_sweep_grid(),
        C.SWEEP_FEATURES,
        C.WARMUP,
    )
    executed = candq._jdf.queryExecution().executedPlan()
    plan = executed.toString()
    hits = set(re.findall(r"hashpartitioning\(_bkt[^)]*, (\d+)\)", plan))
    assert hits == {"7"}, f"ceiling did not reach the cached shuffle: {hits}"
    bkt_exchanges = [
        head
        for head in (
            n.toString().splitlines()[0]
            for _, n, _ in walk(executed)
            if n.nodeName() == "Exchange"
        )
        if "(_bkt" in head
    ]
    # the cached plan has run, so the walk visits its final and its
    # initial tree: the one exchange appears once in each, under its own
    # plan id
    assert len(bkt_exchanges) == 2, bkt_exchanges
    assert len({re.sub(r"\[plan_id=\d+\]", "", h) for h in bkt_exchanges}) == 1
    # the count lives in the plan: the session conf is never written
    assert spark.conf.get("spark.sql.shuffle.partitions") == conf_before


def test_fused_path_rejects_same_feature_configs(spark):
    """The fused path keys series orientation by feature < partner, so a
    same-feature config (feature1 == feature2) would silently vanish from
    its output.  It must refuse the grid instead, naming the config."""
    import pytest

    from rangebar_patterns_spark.operators.sweep import (
        SweepConfig,
        default_sweep_grid,
        sweep_candidates_with_thresholds,
    )
    from rangebar_patterns_spark.plans import catalog as C

    base = default_sweep_grid()
    poison = SweepConfig(
        **{**base[0].__dict__, "feature2": base[0].feature1, "q2": 0.5}
    )
    with pytest.raises(ValueError, match=poison.config_id):
        sweep_candidates_with_thresholds(
            C._featg(spark, SF_DIR), spark, base + [poison],
            C.SWEEP_FEATURES, C.WARMUP,
        )


def test_fused_mixed_q_width_padding(spark):
    """Pairs in one grid may need different q-counts per orientation; the
    kernel pads its wide threshold columns to the grid-wide max and the
    JVM decode slices each pair's real q-list back off.  No catalog grid
    mixes widths uniformly, so pin fused == layered on a grid where one
    pair carries 3 q's and another carries 1."""
    import pandas as pd

    from rangebar_patterns_spark.operators.sweep import (
        SweepConfig,
        grid_formations,
        sweep_candidates,
        sweep_candidates_with_thresholds,
        sweep_grid_to_spark,
        with_signalset_quantiles,
    )
    from rangebar_patterns_spark.plans import catalog as C

    grid = [
        # pair (ofi, price_impact): 3 distinct q's on each orientation
        SweepConfig("2down", "ofi", 0.25, ">", "price_impact", 0.50, ">"),
        SweepConfig("2down", "ofi", 0.50, "<", "price_impact", 0.75, ">"),
        SweepConfig("2down", "ofi", 0.75, ">", "price_impact", 0.25, "<"),
        # same pair, reversed orientation (exercises f1_is_a=False)
        SweepConfig("2down", "price_impact", 0.50, ">", "ofi", 0.25, ">"),
        # pair (aggression_ratio, turnover_imbalance): a single q each
        SweepConfig(
            "3down", "aggression_ratio", 0.50, ">", "turnover_imbalance", 0.50, "<"
        ),
    ]
    feat = C._featg(spark, SF_DIR)
    layered = with_signalset_quantiles(
        sweep_candidates(
            feat, sweep_grid_to_spark(spark, grid), C.SWEEP_FEATURES, C.WARMUP,
            formations=grid_formations(grid),
        )
    )
    fused = sweep_candidates_with_thresholds(
        feat, spark, grid, C.SWEEP_FEATURES, C.WARMUP
    )
    cols = sorted(layered.columns)
    assert cols == sorted(fused.columns)
    lp = layered.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    fp = fused.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(lp, fp)


def test_threshold_partitions_scale_with_fanout(spark):
    """The threshold-shuffle sizing must be (a) clamped below by the
    session shuffle-partition count, (b) monotone in the grid's pair
    fan-out, (c) capped at THRESHOLD_MAX_PARTITIONS — so no caller at any
    SF inherits a host-tuned constant."""
    from rangebar_patterns_spark.operators.sweep import (
        THRESHOLD_MAX_PARTITIONS,
        default_sweep_grid,
        estimate_pair_rows,
        grid_formations,
        grid_pairs_per_formation,
        partitions_from_pair_rows,
    )
    from rangebar_patterns_spark.plans.catalog import WARMUP, _featg

    feat = _featg(spark, SF_DIR)
    grid = default_sweep_grid()
    session_default = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # tiny fixture grid: the estimate lands under one partition's rows,
    # so the session default is the floor
    n_small = partitions_from_pair_rows(
        estimate_pair_rows(feat, WARMUP, grid_pairs_per_formation(grid)), spark
    )
    assert n_small == session_default

    formations = grid_formations(grid)
    # same candidate counts, thousandfold fan-out: must grow, stay capped
    big = {f: 5_000 for f in formations}
    n_big = partitions_from_pair_rows(estimate_pair_rows(feat, WARMUP, big), spark)
    assert n_big > n_small
    assert n_big <= THRESHOLD_MAX_PARTITIONS

    huge = {f: 10_000_000 for f in formations}
    n_huge = partitions_from_pair_rows(
        estimate_pair_rows(feat, WARMUP, huge), spark
    )
    assert n_huge == THRESHOLD_MAX_PARTITIONS


def test_candidate_grain_kernel_matches_pair_grain(spark, monkeypatch):
    """The candidate-grain Arrow kernel (dispatched for wide grids over
    long candidate streams) must produce bit-identical rows to the
    default pair-grain kernel — the dispatch may change the plan, never
    a value.  Forced via the dispatch constants on the gen500 grid
    (multi-pair fan-out exercises the formation-local slot layout, the
    in-kernel mask memo and the post-kernel broadcast slot decode)."""
    import pandas as pd

    from rangebar_patterns_spark.operators import sweep as SW
    from rangebar_patterns_spark.plans.catalog import (
        SWEEP_FEATURES,
        WARMUP,
        _featg,
    )

    grid = SW.gen500_grid()
    feat = _featg(spark, SF_DIR)
    pair = SW.sweep_candidates_with_thresholds(
        feat, spark, grid, SWEEP_FEATURES, WARMUP
    )
    cols = sorted(pair.columns)
    pp = pair.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    monkeypatch.setattr(SW, "SWEEP_CANDGRAIN_MIN_FANOUT", 1)
    monkeypatch.setattr(SW, "SWEEP_CANDGRAIN_MIN_PAIR_ROWS", 0)
    cand = SW.sweep_candidates_with_thresholds(
        feat, spark, grid, SWEEP_FEATURES, WARMUP
    )
    cp = cand.toPandas()[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(pp, cp)

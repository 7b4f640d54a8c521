"""DuckDB oracle twin of the sweep engine (operators/sweep.py).

Where Spark evaluates all configs in one parameterized plan, the oracle
does what the *reference* does — textually instantiates the per-config CTE
chain (gen600_2down_template.sql:66-138) once per config and UNION ALLs
the results.  That asymmetry is the point: the oracle stays an independent
implementation (template-expanded SQL, like generate.sh) while the engine
under test is config-as-data.
"""

from __future__ import annotations

from ..config import BarrierConfig, grid_to_duckdb_values, max_bars_cap
from ..functions.quantiles import duck_q6_expr
from ..operators.sweep import SIGNALSET_LOOKBACK, SweepConfig
from . import fragments as frag
from .barrier_oracle import barrier_metrics_select, fwd_cte, trades_chain_ctes

from ..operators.signals import FORMATIONS, base_eligibility_sql


def _base_where(formation: str, warmup: int, f1: str, f2: str) -> str:
    """Per-config candidate WHERE: the formation's own pattern ∧ gate
    (signals.FORMATIONS — wl* formations carry no ti/kyle gate, matching
    the reference templates) plus the shared warmup/entry/feature checks."""
    return (
        f"{FORMATIONS[formation].signal_sql()}"
        f" AND {base_eligibility_sql(warmup)}"
        f" AND {f1} IS NOT NULL AND {f2} IS NOT NULL"
    )


def _config_cand_cte(
    i: int, c: SweepConfig, warmup: int, feat_relation: str = "feat"
) -> str:
    """cand_i: candidates with W7 signal-set quantile thresholds and the
    pass flag for one config.  ``feat_relation`` must provide the gate
    threshold columns the formation reads (``featg`` for exhaustion /
    high-volume / VWAP gates)."""
    win = (
        "PARTITION BY symbol ORDER BY rn "
        f"ROWS BETWEEN {SIGNALSET_LOOKBACK} PRECEDING AND 1 PRECEDING"
    )
    q1 = duck_q6_expr(f"list(f1_val) OVER ({win})", c.q1)
    q2 = duck_q6_expr(f"list(f2_val) OVER ({win})", c.q2)
    return f"""cand_{i} AS (
    SELECT '{c.config_id}' AS config_id, symbol, rn, close_time_ms,
        threshold_decimal_bps, entry_price, next_dir,
        {c.feature1} AS f1_val, {c.feature2} AS f2_val
    FROM {feat_relation}
    WHERE {_base_where(c.formation, warmup, c.feature1, c.feature2)}
),
candq_{i} AS (
    SELECT *, {q1} AS f1_thr, {q2} AS f2_thr
    FROM cand_{i}
),
candp_{i} AS (
    SELECT *,
        (f1_thr IS NOT NULL AND f2_thr IS NOT NULL
         AND f1_val {c.dir1} f1_thr AND f2_val {c.dir2} f2_thr) AS passed
    FROM candq_{i}
)"""


def _funnel_unions(grid: list[SweepConfig]) -> str:
    # a hit is the next bar moving in the formation's trade direction:
    # next_dir = 1 (up) for LONG templates, 0 (down) for SHORT ones —
    # baked per config, the way each sed-expanded template hardcodes it
    return "\nUNION ALL\n".join(
        f"""SELECT config_id, symbol,
    count(*) AS n_candidates,
    CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_signals,
    CAST(sum(CASE WHEN passed AND next_dir = {hd} THEN 1 ELSE 0 END) AS BIGINT) AS hits,
    sum(CASE WHEN passed AND next_dir = {hd} THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE), 0.0) AS hit_rate,
    sum(CASE WHEN passed AND next_dir = {hd} THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE), 0.0) - 0.5 AS edge_pct,
    (sum(CASE WHEN passed AND next_dir = {hd} THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE), 0.0) - 0.5)
        / sqrt(0.25 / nullif(CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE), 0.0)) AS z_score
FROM candp_{i}
GROUP BY config_id, symbol"""
        for i, hd in (
            (j, 0 if FORMATIONS[c.formation].side == "short" else 1)
            for j, c in enumerate(grid)
        )
    )


#: metrics columns the consolidated panel carries next to the funnel ones
#: (barrier_oracle.BARRIER_METRICS_SELECT output minus the group keys)
_PANEL_METRIC_COLS = (
    "barrier_id", "n_trades", "n_tp", "n_sl", "n_time", "win_rate",
    "profit_factor", "avg_win", "avg_loss", "risk_reward",
    "expected_value", "avg_bars_held", "kelly_fraction",
)


def sweep_panel_oracle(
    grid: list[SweepConfig],
    profiles: list[BarrierConfig],
    warmup: int,
    feat_relation: str = "feat",
) -> str:
    """Consolidated sweep panel: the per-(config, symbol) funnel LEFT
    JOINed to the per-(config, symbol, barrier) trade metrics — one row
    per (config, symbol, barrier) with the funnel columns repeated, NULL
    metric columns for configs whose signals produced no trades.  The
    faithful per-config template expansion (one candidate CTE chain per
    config, shared by the funnel and the trades); matches the engine's
    ``sweep_funnel(candq) LEFT JOIN barrier_metrics(trades)`` shape —
    the exact output shape of the full-width gen600 headline query."""
    mcols = ",\n    ".join(f"m.{c}" for c in _PANEL_METRIC_COLS)
    return f"""{sweep_trades_ctes(grid, profiles, warmup, feat_relation)},
funnel AS (
{_funnel_unions(grid)}
),
metrics AS (
{barrier_metrics_select(("config_id", "symbol", "barrier_id"))}
)
SELECT f.*,
    {mcols}
FROM funnel f LEFT JOIN metrics m USING (config_id, symbol)"""


def sweep_trades_ctes(
    grid: list[SweepConfig],
    profiles: list[BarrierConfig],
    warmup: int,
    feat_relation: str = "feat",
) -> str:
    """CTE chain ending in ``trades`` (with config_id) for the barrier
    stage of the sweep: surviving signals of every config UNION ALLed
    (each carrying its formation's trade side), joined to shared forward
    arrays, through the shared side-aware trade chain."""
    cand_ctes = ",\n".join(
        _config_cand_cte(i, c, warmup, feat_relation) for i, c in enumerate(grid)
    )
    surv = "\nUNION ALL\n".join(
        f"SELECT config_id, symbol, rn, close_time_ms, threshold_decimal_bps,"
        f" entry_price, '{FORMATIONS[c.formation].side}' AS side"
        f" FROM candp_{i} WHERE passed"
        for i, c in enumerate(grid)
    )
    return f"""{cand_ctes},
{grid_to_duckdb_values(profiles)},
{fwd_cte(max_bars_cap(profiles), feat_relation=feat_relation, name="fwdarr")},
surv AS (
{surv}
),
sigs AS (
    SELECT s.*, f.fwd_highs, f.fwd_lows, f.fwd_opens, f.fwd_closes
    FROM surv s JOIN fwdarr f USING (symbol, rn)
),
{trades_chain_ctes(("config_id", "symbol"), side_expr="s.side")}"""


def nfeature_metrics_oracle(
    grid,
    profiles: list[BarrierConfig],
    warmup: int,
    feat_relation: str = "featg",
) -> str:
    """Twin of the gen400 n-feature sweep (operators/sweep.nfeature_signals
    → barrier metrics): per-config template expansion exactly like the
    reference's sed harness — one candidate/quantile/pass CTE chain per
    config with N window-quantile columns, UNION ALLed survivors through
    the shared trade chain (reference gen400_3feature_template.sql /
    gen400_4feature_template.sql CTEs 4-5 + trade outcome SELECT)."""
    win = (
        "PARTITION BY symbol ORDER BY rn "
        f"ROWS BETWEEN {SIGNALSET_LOOKBACK} PRECEDING AND 1 PRECEDING"
    )
    base_where = (
        f"{frag.CHAMPION_SIGNAL} AND {frag.eligibility(warmup)}"
        f" AND {base_eligibility_sql(warmup)}"
    )
    ctes = []
    for i, c in enumerate(grid):
        nn = " AND ".join(f"{f} IS NOT NULL" for f in c.features)
        vals = ", ".join(f"{f} AS v{j}" for j, f in enumerate(c.features))
        qs = ",\n        ".join(
            f"{duck_q6_expr(f'list(v{j}) OVER ({win})', q)} AS t{j}"
            for j, q in enumerate(c.qs)
        )
        passes = " AND ".join(
            f"t{j} IS NOT NULL AND v{j} {d} t{j}"
            for j, d in enumerate(c.dirs)
        )
        ctes.append(f"""nfc_{i} AS (
    SELECT '{c.config_id}' AS config_id, symbol, rn, close_time_ms,
        threshold_decimal_bps, entry_price, {vals}
    FROM {feat_relation}
    WHERE {base_where} AND {nn}
),
nfq_{i} AS (
    SELECT *, {qs}
    FROM nfc_{i}
),
nfp_{i} AS (
    SELECT config_id, symbol, rn, close_time_ms, threshold_decimal_bps,
        entry_price
    FROM nfq_{i} WHERE {passes}
)""")
        # NB: the reference's champion_signals CTE carries entry validity
        # and all-N-features-non-NULL before any quantile window — matched
        # in base_where/nn above so window contents equal the engine's
    surv = "\nUNION ALL\n".join(
        f"SELECT * FROM nfp_{i}" for i in range(len(grid))
    )
    cte_block = ",\n".join(ctes)
    return f"""{cte_block},
{grid_to_duckdb_values(profiles)},
{fwd_cte(max_bars_cap(profiles), feat_relation=feat_relation, name="fwdarr")},
surv AS (
{surv}
),
sigs AS (
    SELECT s.*, f.fwd_highs, f.fwd_lows, f.fwd_opens, f.fwd_closes
    FROM surv s JOIN fwdarr f USING (symbol, rn)
),
{trades_chain_ctes(("config_id", "symbol"))}{barrier_metrics_select(("config_id", "symbol", "barrier_id"))}"""


# re-export for catalog composition
FEAT_CTE_SWEEP = frag.feat_cte  # rolling feat twin builder


def _funnel_bulk_ctes(
    grid: list[SweepConfig],
    warmup: int,
    features: list[str],
    feat_relation: str = "feat",
) -> str:
    """CTE chain of the grid-scale funnel oracle, ending at ``candp``
    (per-(config, candidate) pass flags) — shared by the bulk funnel
    select and the bulk panel (funnel + barrier metrics) twin."""
    formations = sorted({c.formation for c in grid})
    qs = sorted({q for c in grid for q in (c.q1, c.q2)})
    win = (
        "PARTITION BY formation, feature, partner, symbol ORDER BY rn "
        f"ROWS BETWEEN {SIGNALSET_LOOKBACK} PRECEDING AND 1 PRECEDING"
    )

    grid_rows = ",\n        ".join(
        f"('{c.config_id}', '{c.formation}', '{c.feature1}', CAST({c.q1!r} AS DOUBLE), "
        f"'{c.dir1}', '{c.feature2}', CAST({c.q2!r} AS DOUBLE), '{c.dir2}', "
        f"'{FORMATIONS[c.formation].side}')"
        for c in grid
    )
    fmap1 = " ".join(f"WHEN '{f}' THEN {f}" for f in features)
    cand0 = "\n    UNION ALL\n    ".join(
        f"SELECT '{name}' AS formation, * FROM {feat_relation}"
        f" WHERE {FORMATIONS[name].signal_sql()} AND {base_eligibility_sql(warmup)}"
        for name in formations
    )
    thr_cols = ",\n        ".join(
        f"{duck_q6_expr(f'list(val) OVER ({win})', q)} AS thr_{int(q * 100):02d}"
        for q in qs
    )
    pick1 = " ".join(
        f"WHEN {q!r} THEN t1.thr_{int(q * 100):02d}" for q in qs
    )
    pick2 = " ".join(
        f"WHEN {q!r} THEN t2.thr_{int(q * 100):02d}" for q in qs
    )
    return f"""sweep_grid AS (
    SELECT * FROM (VALUES
        {grid_rows}
    ) AS t(config_id, formation, feature1, q1, dir1, feature2, q2, dir2, side)
),
cand0 AS (
    {cand0}
),
candc AS (
    SELECT g.config_id, g.formation, g.feature1, g.q1, g.dir1,
        g.feature2, g.q2, g.dir2, g.side,
        c.symbol, c.rn, c.close_time_ms, c.threshold_decimal_bps,
        c.entry_price, c.next_dir,
        CASE g.feature1 {fmap1} END AS f1_val,
        CASE g.feature2 {fmap1} END AS f2_val
    FROM cand0 c JOIN sweep_grid g ON g.formation = c.formation
),
candn AS (
    SELECT * FROM candc WHERE f1_val IS NOT NULL AND f2_val IS NOT NULL
),
thrin AS (
    SELECT DISTINCT formation, feature1 AS feature, feature2 AS partner,
        symbol, rn, f1_val AS val
    FROM candn
    UNION
    SELECT DISTINCT formation, feature2, feature1, symbol, rn, f2_val
    FROM candn
),
thr AS (
    SELECT formation, feature, partner, symbol, rn,
        {thr_cols}
    FROM thrin
),
candp AS (
    SELECT c.*,
        CASE c.q1 {pick1} END AS f1_thr,
        CASE c.q2 {pick2} END AS f2_thr,
        (CASE c.q1 {pick1} END IS NOT NULL
         AND CASE c.q2 {pick2} END IS NOT NULL
         AND CASE WHEN c.dir1 = '>' THEN c.f1_val > CASE c.q1 {pick1} END
                  ELSE c.f1_val < CASE c.q1 {pick1} END END
         AND CASE WHEN c.dir2 = '>' THEN c.f2_val > CASE c.q2 {pick2} END
                  ELSE c.f2_val < CASE c.q2 {pick2} END END) AS passed
    FROM candn c
    JOIN thr t1 ON t1.formation = c.formation AND t1.feature = c.feature1
        AND t1.partner = c.feature2 AND t1.symbol = c.symbol AND t1.rn = c.rn
    JOIN thr t2 ON t2.formation = c.formation AND t2.feature = c.feature2
        AND t2.partner = c.feature1 AND t2.symbol = c.symbol AND t2.rn = c.rn
)"""


#: final select of the bulk funnel twin, grouped over ``candp``
_FUNNEL_BULK_SELECT = """SELECT config_id, symbol,
    count(*) AS n_candidates,
    CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_signals,
    CAST(sum(CASE WHEN passed AND next_dir = (CASE WHEN side = 'short' THEN 0 ELSE 1 END) THEN 1 ELSE 0 END) AS BIGINT) AS hits,
    sum(CASE WHEN passed AND next_dir = (CASE WHEN side = 'short' THEN 0 ELSE 1 END) THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE), 0.0) AS hit_rate,
    sum(CASE WHEN passed AND next_dir = (CASE WHEN side = 'short' THEN 0 ELSE 1 END) THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE), 0.0) - 0.5 AS edge_pct,
    (sum(CASE WHEN passed AND next_dir = (CASE WHEN side = 'short' THEN 0 ELSE 1 END) THEN 1 ELSE 0 END)
        / nullif(CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE), 0.0) - 0.5)
        / sqrt(0.25 / nullif(CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE), 0.0)) AS z_score
FROM candp
GROUP BY config_id, symbol"""


def sweep_funnel_oracle_bulk(
    grid: list[SweepConfig],
    warmup: int,
    features: list[str],
    feat_relation: str = "feat",
) -> str:
    """Grid-scale funnel oracle (the gen500 1,008-config workload).

    The per-config template expansion above is the faithful reference
    shape but O(configs) window passes — DuckDB needs >10 min at 1,008
    configs.  This variant keeps the arithmetic identical while exploiting
    the same structural fact the engine's threshold dedup uses: configs
    sharing (formation, ordered feature pair) share a candidate sequence,
    so each rolling threshold series is computed ONCE per
    (formation, feature, partner, symbol) and every requested quantile is
    a projection over the same window list.  Still an independent DuckDB
    implementation (window lists + CASE feature map vs Spark's Arrow
    stream kernel + map lookup); values are bit-identical.
    """
    return (
        _funnel_bulk_ctes(grid, warmup, features, feat_relation)
        + "\n"
        + _FUNNEL_BULK_SELECT
    )


def sweep_panel_oracle_bulk(
    grid: list[SweepConfig],
    profiles: list[BarrierConfig],
    warmup: int,
    features: list[str],
    feat_relation: str = "feat",
) -> str:
    """Grid-scale PANEL twin: the bulk funnel LEFT JOINed to the barrier
    metrics over every surviving signal — the oracle of the full-width
    ``sweep_gen600_fullgrid_panel`` demo (funnel shape identical to
    ``sweep_funnel_oracle_bulk``; the trades chain and metrics aggregate
    are byte-identical to the faithful ``sweep_panel_oracle``'s, fed from
    the bulk ``candp`` survivors instead of per-config CTEs)."""
    mcols = ",\n    ".join(f"m.{c}" for c in _PANEL_METRIC_COLS)
    return f"""{_funnel_bulk_ctes(grid, warmup, features, feat_relation)},
funnel AS (
{_FUNNEL_BULK_SELECT}
),
{grid_to_duckdb_values(profiles)},
{fwd_cte(max_bars_cap(profiles), feat_relation=feat_relation, name="fwdarr")},
surv AS (
    SELECT config_id, symbol, rn, close_time_ms, threshold_decimal_bps,
        entry_price, side
    FROM candp WHERE passed
),
sigs AS (
    SELECT s.*, f.fwd_highs, f.fwd_lows, f.fwd_opens, f.fwd_closes
    FROM surv s JOIN fwdarr f USING (symbol, rn)
),
{trades_chain_ctes(("config_id", "symbol"), side_expr="s.side")},
metrics AS (
{barrier_metrics_select(("config_id", "symbol", "barrier_id"))}
)
SELECT f.*,
    {mcols}
FROM funnel f LEFT JOIN metrics m USING (config_id, symbol)"""


def nfeature_metrics_oracle_bulk(
    grid,
    profiles: list[BarrierConfig],
    warmup: int,
    feat_relation: str = "featg",
) -> str:
    """Grid-scale twin of the gen400 n-feature sweep (the 432-config
    reference enumeration).  The faithful per-config expansion above is
    O(configs × slots) window passes — DuckDB needs ~90 s at sf0.01 for
    432 configs; this variant exploits the same structural fact the
    engine's feature-set dedup uses (configs sharing a feature SET share a
    candidate sequence, so each (set, feature) rolling series is computed
    once and every quantile is a projection over the same window list)
    while staying an independent implementation (window lists + CASE maps
    vs Spark's Arrow stream kernel).  The faithful per-config twin keeps
    being exercised on a subgrid in tests/test_sweep.py."""
    base_where = (
        f"{frag.CHAMPION_SIGNAL} AND {frag.eligibility(warmup)}"
        f" AND {base_eligibility_sql(warmup)}"
    )
    feature_cols = sorted({f for c in grid for f in c.features})
    qs = sorted({q for c in grid for q in c.qs})

    def set_id(c) -> str:
        return "+".join(sorted(c.features))

    sets = sorted({set_id(c): sorted(c.features) for c in grid}.items())
    cand0 = "\n    UNION ALL\n    ".join(
        f"SELECT '{sid}' AS set_id, * FROM {feat_relation}"
        f" WHERE {base_where} AND "
        + " AND ".join(f"{f} IS NOT NULL" for f in fs)
        for sid, fs in sets
    )
    slot_rows = ",\n        ".join(
        f"('{c.config_id}', '{set_id(c)}', {i}, '{f}', CAST({q!r} AS DOUBLE), '{d}')"
        for c in grid
        for i, (f, q, d) in enumerate(zip(c.features, c.qs, c.dirs))
    )
    fmap = " ".join(f"WHEN '{f}' THEN {f}" for f in feature_cols)
    win = (
        "PARTITION BY set_id, feature, symbol ORDER BY rn "
        f"ROWS BETWEEN {SIGNALSET_LOOKBACK} PRECEDING AND 1 PRECEDING"
    )
    thr_cols = ",\n        ".join(
        f"{duck_q6_expr(f'list(val) OVER ({win})', q)} AS thr_{int(q * 100):02d}"
        for q in qs
    )
    pick = " ".join(f"WHEN {q!r} THEN t.thr_{int(q * 100):02d}" for q in qs)
    return f"""cand0 AS (
    {cand0}
),
slot_grid AS (
    SELECT * FROM (VALUES
        {slot_rows}
    ) AS t(config_id, set_id, slot, feature, q, dir)
),
thrin AS (
    SELECT c.set_id, s.feature, c.symbol, c.rn, c.close_time_ms,
        c.threshold_decimal_bps, c.entry_price,
        CASE s.feature {fmap} END AS val
    FROM cand0 c
    JOIN (SELECT DISTINCT set_id, feature FROM slot_grid) s USING (set_id)
),
thrv AS (
    SELECT *,
        {thr_cols}
    FROM thrin
),
slotp AS (
    SELECT s.config_id, t.symbol, t.rn, t.close_time_ms,
        t.threshold_decimal_bps, t.entry_price,
        CASE WHEN (CASE s.q {pick} END) IS NOT NULL
             AND CASE WHEN s.dir = '>' THEN t.val > (CASE s.q {pick} END)
                      ELSE t.val < (CASE s.q {pick} END) END
             THEN 1 ELSE 0 END AS passed
    FROM thrv t
    JOIN slot_grid s ON s.set_id = t.set_id AND s.feature = t.feature
),
surv AS (
    SELECT config_id, symbol, rn, close_time_ms, threshold_decimal_bps,
        entry_price
    FROM slotp
    GROUP BY config_id, symbol, rn, close_time_ms, threshold_decimal_bps,
        entry_price
    HAVING min(passed) = 1
),
{grid_to_duckdb_values(profiles)},
{fwd_cte(max_bars_cap(profiles), feat_relation=feat_relation, name="fwdarr")},
sigs AS (
    SELECT s.*, f.fwd_highs, f.fwd_lows, f.fwd_opens, f.fwd_closes
    FROM surv s JOIN fwdarr f USING (symbol, rn)
),
{trades_chain_ctes(("config_id", "symbol"))}{barrier_metrics_select(("config_id", "symbol", "barrier_id"))}"""

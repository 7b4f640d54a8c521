"""Bar-pipeline window stack (SURVEY.md §2.5 W1–W9, §2.2 P1–P6).

Every window here partitions by ``symbol`` (≡ (symbol, threshold) in the
reference, threshold being constant in the adapter).  That is the scale
contract: within a partition a series is ≤ ~1.5M bars (reference
BASELINE.md cardinality), so a single-task ordered window is bounded; the
100 TB story is the *number* of (symbol × threshold) partitions running in
parallel, never a global ORDER BY (SURVEY.md §7.2 "Global Window.orderBy
serializes").

Lag convention is the reference's AP-15: the *current row is the last
pattern bar* — a 2-down formation at row i means dir[i-1]=0 and dir[i]=0,
and the trade enters at bar i+1's open (``lead(open, 1)``).
Reference: sql/gen111_true_nolookahead.sql:55-70,
.claude/skills/clickhouse-antipatterns AP-15.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.quantiles import rolling_excl_quantile

def bar_window():
    """Canonical per-series window — all bar analytics hang off this spec."""
    return Window.partitionBy("symbol").orderBy("rn")


def with_bar_features(
    df: DataFrame,
    p: float = 0.95,
    rolling_window: int | None = None,
    n_lags: int = 2,
    quantile_engine: str = "stream",
) -> DataFrame:
    """Direction, lag chain, no-lookahead quantile threshold, next-bar
    outcome and entry price.

    ``rolling_window=None`` → expanding threshold (gen111 semantics:
    UNBOUNDED PRECEDING .. 1 PRECEDING); an int w → rolling w-bar
    threshold (gen600 Rolling Window Policy: w PRECEDING .. 1 PRECEDING).

    ``quantile_engine``: "stream" (default) = O(n log n) Arrow-batched
    two-heap pass per series (functions/series_quantile.py — the scale
    path); "expr" = pure-Catalyst sort_array(collect_list) expression
    (O(n·w log w); only sane for bounded windows / tiny fixtures).  Both
    produce bit-identical values (tests/test_quantile_engines.py).
    """
    w = bar_window()
    direction = F.when(F.col("close") > F.col("open"), 1).otherwise(0)
    # opposite wick %: DOWN bar (close <= open) → upper wick share,
    # UP bar → lower wick share (gen600_2down_template.sql:37-41)
    hl = F.nullif(F.col("high") - F.col("low"), F.lit(0.0))
    wick_pct = F.when(
        F.col("close") <= F.col("open"), (F.col("high") - F.col("open")) / hl
    ).otherwise((F.col("open") - F.col("low")) / hl)

    if quantile_engine == "stream":
        from ..functions.series_quantile import with_series_excl_quantiles

        df = with_series_excl_quantiles(
            df, {"ti_p95_prior": ("trade_intensity", p)}, lookback=rolling_window
        )
        thresh = F.col("ti_p95_prior")
    else:
        thresh = rolling_excl_quantile(
            F.col("trade_intensity"),
            p,
            w,
            None if rolling_window is None else -rolling_window,
        )
    out = (
        df.withColumn("direction", direction)
        .withColumn("opposite_wick_pct", wick_pct)
        .withColumn("bar_count", F.col("rn"))
        .withColumn("ti_p95_prior", thresh)
    )
    for i in range(1, n_lags + 1):
        out = out.withColumn(f"dir_{i}", F.lag("direction", i).over(w))
        out = out.withColumn(f"wick_{i}", F.lag("opposite_wick_pct", i).over(w))
    out = (
        out.withColumn("next_dir", F.lead("direction", 1).over(w))
        .withColumn("entry_price", F.lead("open", 1).over(w))
    )
    return out


def with_forward_arrays(df: DataFrame, max_bars: int) -> DataFrame:
    """Per-bar forward OHLC vectors (W5 / AP-14): the window-based
    replacement for the historical forward self-join.

    ``slice(collect_list(x) OVER (CURRENT ROW .. max_bars FOLLOWING), 2, max_bars)``
    — element k is bar (current + k).  Incomplete tails yield short arrays;
    the barrier simulator filters those as INCOMPLETE.

    Memory note (AP-01): apply this *after* filtering to signals whenever
    the signal set is sparse, or keep max_bars bounded — 4 arrays × 8 B ×
    max_bars per row is the dominant intermediate
    (reference anti-patterns.md AP-01: 2.36 GB → 1.6 MB after
    signals-first rewrite).  See ``operators/barriers.py`` for the
    signals-first composition.
    """
    w = bar_window().rowsBetween(Window.currentRow, max_bars)
    for src, dst in [
        ("high", "fwd_highs"),
        ("low", "fwd_lows"),
        ("open", "fwd_opens"),
        ("close", "fwd_closes"),
    ]:
        df = df.withColumn(dst, F.slice(F.collect_list(src).over(w), 2, max_bars))
    return df


def with_gate_quantiles(
    df: DataFrame,
    names: tuple[str, ...] | None = None,
    rolling_window: int = 999,
) -> DataFrame:
    """Rolling no-lookahead gate thresholds for the non-ti formation gates
    (signals.GATE_QUANTILES): exhaustion p75s, high-volume p90, VWAP
    p10/p90 — each ``quantileExactExclusive(p)(col) OVER (... ROWS BETWEEN
    999 PRECEDING AND 1 PRECEDING)`` per the gen600 running_stats CTEs
    (reference sql/gen600_exh_l_template.sql:68-79 etc.).

    ``ti_p95_prior`` is excluded by default — ``with_bar_features`` already
    computes it.  All requested thresholds run in ONE Arrow pass per
    series (functions/series_quantile.with_series_excl_quantiles).
    """
    from ..functions.series_quantile import with_series_excl_quantiles
    from .signals import GATE_QUANTILES

    wanted = {
        out: GATE_QUANTILES[out]
        for out in (names if names is not None else GATE_QUANTILES)
        if out != "ti_p95_prior"
    }
    if not wanted:
        return df
    return with_series_excl_quantiles(df, wanted, lookback=rolling_window)

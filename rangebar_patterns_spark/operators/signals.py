"""Formation (pattern) predicates — SURVEY.md §2.2 P3, §2.10 E27.

All 22 gen600 formations (11 LONG, 11 SHORT), each a pure boolean Column
pair over the lag chain produced by ``with_bar_features`` (AP-15
convention: current row = last pattern bar):

  * ``pattern`` — the dir/wick shape block (e.g. ``dir_1=0 AND dir_0=0``);
  * ``gate`` — the formation-specific entry gate.  Four gate families in
    the reference templates: trade-intensity/Kyle (directional runs),
    none (``_ng`` "no gate" variants and wickless formations), exhaustion
    (``intra_mdd``/``intra_mru`` vs their rolling p75), high-volume
    (``volume_per_trade`` vs rolling p90) and VWAP deviation
    (``vwap_close_deviation`` vs rolling p10/p90).

Semantics mirror the reference's per-template ``champion_signals`` WHERE
blocks (sql/gen600_*_template.sql:100-115 in each; Python twins
backtest/backtesting_py/gen600_strategy.py:61-148).  SHORT formations
(``side="short"``) invert the barrier geometry downstream
(operators/barriers.py): TP below entry scanning forward lows, SL above
scanning forward highs.

Each predicate also carries its DuckDB SQL twin so oracle modules never
re-derive (and silently fork) the semantics.

Formations are *data*, not code, to the sweep engine: registry names
become rows of a config DataFrame (see operators/sweep.py), which is how
the reference's 22-template × sed-substitution harness collapses into one
parameterized plan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

_WICKLESS_EPS = 0.001

#: rolling-quantile gate thresholds: out_col -> (source col, quantile p).
#: Frame is always ROWS BETWEEN <lookback> PRECEDING AND 1 PRECEDING over
#: the bar sequence (gen600 running_stats CTEs, e.g. exh_l:71-78), NULLs
#: skipped inside the frame (ClickHouse window-quantile semantics).
GATE_QUANTILES: dict[str, tuple[str, float]] = {
    "ti_p95_prior": ("trade_intensity", 0.95),
    "mdd_p75_prior": ("intra_mdd", 0.75),
    "mru_p75_prior": ("intra_mru", 0.75),
    "vpt_p90_prior": ("volume_per_trade", 0.90),
    "vcd_p10_prior": ("vwap_close_deviation", 0.10),
    "vcd_p90_prior": ("vwap_close_deviation", 0.90),
}


def _d(i: int) -> Column:
    return F.col("direction") if i == 0 else F.col(f"dir_{i}")


def _wickless(i: int) -> Column:
    wick = F.col("opposite_wick_pct") if i == 0 else F.col(f"wick_{i}")
    return wick.isNotNull() & (wick < _WICKLESS_EPS)


def _dirs(*seq: int) -> Callable[[], Column]:
    """Pattern factory: seq is (…, dir_2, dir_1, dir_0)."""

    def pred() -> Column:
        out = F.lit(True)
        for lag, want in enumerate(reversed(seq)):
            out = out & (_d(lag) == want)
        return out

    return pred


def _dirs_sql(*seq: int) -> str:
    parts = []
    for lag, want in enumerate(reversed(seq)):
        col = "direction" if lag == 0 else f"dir_{lag}"
        parts.append(f"{col} = {want}")
    return " AND ".join(reversed(parts))


def _wick_sql(i: int) -> str:
    col = "opposite_wick_pct" if i == 0 else f"wick_{i}"
    return f"{col} IS NOT NULL AND {col} < {_WICKLESS_EPS}"


# --- gate families (Spark Column + SQL twin + required threshold cols) ---

def _gate_none() -> Column:
    return F.lit(True)


def _gate_ti_kyle(sign: int) -> Callable[[], Column]:
    def g() -> Column:
        kyle = F.col("kyle_lambda_proxy")
        return (
            (F.col("trade_intensity") > F.col("ti_p95_prior"))
            & ((kyle > 0) if sign > 0 else (kyle < 0))
            & F.col("ti_p95_prior").isNotNull()
            & (F.col("ti_p95_prior") > 0)
        )

    return g


def _gate_ti_kyle_sql(sign: int) -> str:
    op = ">" if sign > 0 else "<"
    return (
        "trade_intensity > ti_p95_prior AND kyle_lambda_proxy " + op + " 0"
        " AND ti_p95_prior IS NOT NULL AND ti_p95_prior > 0"
    )


def _gate_exh(col: str, thr: str) -> Callable[[], Column]:
    def g() -> Column:
        return (
            F.col(col).isNotNull()
            & (F.col(col) > F.col(thr))
            & F.col(thr).isNotNull()
        )

    return g


def _gate_exh_sql(col: str, thr: str) -> str:
    return f"{col} IS NOT NULL AND {col} > {thr} AND {thr} IS NOT NULL"


def _gate_notnull(col: str) -> Callable[[], Column]:
    def g() -> Column:
        return F.col(col).isNotNull()

    return g


def _gate_hv() -> Column:
    return (
        (F.col("volume_per_trade") > F.col("vpt_p90_prior"))
        & F.col("vpt_p90_prior").isNotNull()
        & (F.col("vpt_p90_prior") > 0)
    )


_GATE_HV_SQL = (
    "volume_per_trade > vpt_p90_prior"
    " AND vpt_p90_prior IS NOT NULL AND vpt_p90_prior > 0"
)


def _gate_vwap(op: str, thr: str) -> Callable[[], Column]:
    def g() -> Column:
        v = F.col("vwap_close_deviation")
        cmp = v < F.col(thr) if op == "<" else v > F.col(thr)
        return cmp & F.col(thr).isNotNull()

    return g


def _gate_vwap_sql(op: str, thr: str) -> str:
    return f"vwap_close_deviation {op} {thr} AND {thr} IS NOT NULL"


@dataclass(frozen=True)
class Formation:
    """One gen600 formation: pattern shape + entry gate + trade side."""

    name: str
    side: str  # "long" | "short"
    pattern: Callable[[], Column]
    gate: Callable[[], Column]
    pattern_sql: str
    gate_sql: str  # "TRUE" when ungated
    gate_cols: tuple[str, ...] = ()  # GATE_QUANTILES columns the gate reads

    def signal(self) -> Column:
        return self.pattern() & self.gate()

    def signal_sql(self) -> str:
        return f"{self.pattern_sql} AND {self.gate_sql}"


def _wick_pattern(side_dir: int, n: int) -> Callable[[], Column]:
    def pred() -> Column:
        out = F.lit(True)
        for i in range(n):
            out = out & (_d(i) == side_dir) & _wickless(i)
        return out

    return pred


def _wick_pattern_sql(side_dir: int, n: int) -> str:
    parts = [f"{'direction' if i == 0 else f'dir_{i}'} = {side_dir}" for i in range(n)]
    parts += [_wick_sql(i) for i in range(n)]
    return " AND ".join(parts)


FORMATIONS: dict[str, Formation] = {
    f.name: f
    for f in [
        # --- LONG ---
        Formation(
            "2down", "long", _dirs(0, 0), _gate_ti_kyle(+1),
            _dirs_sql(0, 0), _gate_ti_kyle_sql(+1), ("ti_p95_prior",),
        ),
        Formation(
            "2down_ng", "long", _dirs(0, 0), _gate_none,
            _dirs_sql(0, 0), "TRUE",
        ),
        Formation(
            "3down", "long", _dirs(0, 0, 0), _gate_ti_kyle(+1),
            _dirs_sql(0, 0, 0), _gate_ti_kyle_sql(+1), ("ti_p95_prior",),
        ),
        Formation(
            "udd", "long", _dirs(1, 0, 0), _gate_ti_kyle(+1),
            _dirs_sql(1, 0, 0), _gate_ti_kyle_sql(+1), ("ti_p95_prior",),
        ),
        Formation(
            "dud", "long", _dirs(0, 1, 0), _gate_ti_kyle(+1),
            _dirs_sql(0, 1, 0), _gate_ti_kyle_sql(+1), ("ti_p95_prior",),
        ),
        Formation(
            "wl1d", "long", _wick_pattern(0, 1), _gate_none,
            _wick_pattern_sql(0, 1), "TRUE",
        ),
        Formation(
            "wl2d", "long", _wick_pattern(0, 2), _gate_none,
            _wick_pattern_sql(0, 2), "TRUE",
        ),
        Formation(
            "exh_l", "long", _dirs(0), _gate_exh("intra_mdd", "mdd_p75_prior"),
            _dirs_sql(0), _gate_exh_sql("intra_mdd", "mdd_p75_prior"),
            ("mdd_p75_prior",),
        ),
        Formation(
            "exh_l_ng", "long", _dirs(0), _gate_notnull("intra_mdd"),
            _dirs_sql(0), "intra_mdd IS NOT NULL",
        ),
        Formation(
            "hvd", "long", _dirs(0), _gate_hv,
            _dirs_sql(0), _GATE_HV_SQL, ("vpt_p90_prior",),
        ),
        Formation(
            "vwap_l", "long", _dirs(0), _gate_vwap("<", "vcd_p10_prior"),
            _dirs_sql(0), _gate_vwap_sql("<", "vcd_p10_prior"),
            ("vcd_p10_prior",),
        ),
        # --- SHORT ---
        Formation(
            "2up_s", "short", _dirs(1, 1), _gate_ti_kyle(-1),
            _dirs_sql(1, 1), _gate_ti_kyle_sql(-1), ("ti_p95_prior",),
        ),
        Formation(
            "2up_ng_s", "short", _dirs(1, 1), _gate_none,
            _dirs_sql(1, 1), "TRUE",
        ),
        Formation(
            "3up_s", "short", _dirs(1, 1, 1), _gate_ti_kyle(-1),
            _dirs_sql(1, 1, 1), _gate_ti_kyle_sql(-1), ("ti_p95_prior",),
        ),
        Formation(
            "duu_s", "short", _dirs(0, 1, 1), _gate_ti_kyle(-1),
            _dirs_sql(0, 1, 1), _gate_ti_kyle_sql(-1), ("ti_p95_prior",),
        ),
        Formation(
            "udu_s", "short", _dirs(1, 0, 1), _gate_ti_kyle(-1),
            _dirs_sql(1, 0, 1), _gate_ti_kyle_sql(-1), ("ti_p95_prior",),
        ),
        Formation(
            "wl1u_s", "short", _wick_pattern(1, 1), _gate_none,
            _wick_pattern_sql(1, 1), "TRUE",
        ),
        Formation(
            "wl2u_s", "short", _wick_pattern(1, 2), _gate_none,
            _wick_pattern_sql(1, 2), "TRUE",
        ),
        Formation(
            "exh_s", "short", _dirs(1), _gate_exh("intra_mru", "mru_p75_prior"),
            _dirs_sql(1), _gate_exh_sql("intra_mru", "mru_p75_prior"),
            ("mru_p75_prior",),
        ),
        Formation(
            "exh_s_ng", "short", _dirs(1), _gate_notnull("intra_mru"),
            _dirs_sql(1), "intra_mru IS NOT NULL",
        ),
        Formation(
            "hvu_s", "short", _dirs(1), _gate_hv,
            _dirs_sql(1), _GATE_HV_SQL, ("vpt_p90_prior",),
        ),
        Formation(
            "vwap_s", "short", _dirs(1), _gate_vwap(">", "vcd_p90_prior"),
            _dirs_sql(1), _gate_vwap_sql(">", "vcd_p90_prior"),
            ("vcd_p90_prior",),
        ),
    ]
}

#: the gen500 sweep's formation subset (reference gen500 grid shape)
SWEEP_FORMATION_NAMES = ("2down", "3down", "udd", "dud", "wl1d", "wl2d")


# legacy single-formation helpers (champion path and scenario tests)

def f_2down() -> Column:
    return FORMATIONS["2down"].pattern()


def eligibility(warmup: int) -> Column:
    """Warmup/NULL eligibility gate applied before aggregation (P4):
    lag chain filled, no-lookahead threshold warmed up and positive,
    ``bar_count > warmup`` (gen111_true_nolookahead.sql:92-96)."""
    return (
        F.col("dir_1").isNotNull()
        & F.col("ti_p95_prior").isNotNull()
        & (F.col("ti_p95_prior") > 0)
        & (F.col("bar_count") > warmup)
    )


def base_eligibility(warmup: int) -> Column:
    """The gate-independent part of every gen600 ``champion_signals``
    WHERE block: warmup passed and a valid next-bar entry exists
    (gen600_*_template.sql: ``rn > 1000 AND entry_price IS NOT NULL AND
    entry_price > 0``).  Gate-specific NULL checks live in each
    formation's ``gate``."""
    return (
        (F.col("bar_count") > warmup)
        & F.col("entry_price").isNotNull()
        & (F.col("entry_price") > 0)
    )


def base_eligibility_sql(warmup: int) -> str:
    return (
        f"bar_count > {warmup}"
        " AND entry_price IS NOT NULL AND entry_price > 0"
    )


def champion_signal() -> Column:
    """The reference's champion predicate (gen111): 2-down formation +
    trade_intensity above the no-lookahead expanding p95 + positive Kyle
    lambda.  Apply together with :func:`eligibility`.

    Reference: sql/gen111_true_nolookahead.sql:80-96.
    """
    return (
        f_2down()
        & (F.col("trade_intensity") > F.col("ti_p95_prior"))
        & (F.col("kyle_lambda_proxy") > 0)
    )

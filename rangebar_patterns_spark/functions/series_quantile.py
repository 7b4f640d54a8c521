"""Scalable per-series exact exclusive quantile (the W3/W4 primitive).

The expression form in :mod:`.quantiles` (``sort_array(collect_list ...)``
per row) is exact but O(n·w·log w) per series — fine for oracle-scale
cross-checks, quadratic-and-dead for the expanding variant on real series
(1.5M bars → 10^12 element copies).  This module is the production path:
an Arrow-batched ``applyInPandas`` per (symbol) group running a streaming
two-heap order-statistics algorithm — O(n log n) per series, C-speed
``heapq``, embarrassingly parallel across the (symbol × threshold) grid.

This is the ONE primitive in the engine that genuinely cannot be expressed
efficiently with built-in operators (SURVEY.md §7.2: "sliding exact
exclusive quantile ... optionally a custom Aggregator with an
order-statistics tree later"); everything around it stays JVM-side.

Semantics are identical to ``quantiles.q6_from_sorted_array`` (Hyndman–Fan
type 6, ClickHouse ``quantileExactExclusive``), frame ``ROWS BETWEEN
<lookback|UNBOUNDED> PRECEDING AND 1 PRECEDING``, NULL/NaN values skipped
(ClickHouse window-quantile NULL-skipping, reference backtest/CLAUDE.md
"NaN handling").  Interpolation arithmetic uses the same IEEE operation
order as the expression/DuckDB twins, so all three agree bit-for-bit.

Algorithm: two heaps split the live window multiset into the m smallest
(``low``, max-heap) and the rest (``high``, min-heap); the physical
invariant every(low) <= every(high) is preserved because elements only
ever cross via top-moves, and lazy deletion (value-count markers pruned at
tops) makes rolling eviction O(log w) amortized.
"""

from __future__ import annotations

import heapq
from bisect import bisect_left, insort

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (re-export convenience)
from pyspark.sql.types import DoubleType, StructField, StructType


#: frames at or below this width use the sorted-list kernel: bisect's
#: C-level search + an O(w) memmove beat the two-heap's Python-level
#: push/pop bookkeeping until the memmove dominates (measured 2.1×
#: faster at w=1000, the W4/W7 production frame)
_SORTED_KERNEL_MAX_LOOKBACK = 8192


def _excl_quantile_rolling_sorted(
    values: np.ndarray, p: float, lookback: int
) -> np.ndarray:
    """Bounded-frame twin of the two-heap kernel: one sorted window list,
    quantile picks by direct index.  IDENTICAL interpolation arithmetic
    (same h/k expressions over the same k-th order statistics), so the
    outputs are bit-equal — pinned in tests/test_quantile_engines.py.

    Thin wrapper over the multi-q kernel: there is exactly ONE copy of the
    window-maintenance + pick/interpolation arithmetic, so the
    single-q/multi-q bit-equality contract holds by construction rather
    than by convention (ADVICE r5)."""
    return _excl_quantile_rolling_sorted_multi(values, (p,), lookback)[0]


def _excl_quantile_rolling_sorted_multi(
    values: np.ndarray, ps: tuple[float, ...], lookback: int
) -> list[np.ndarray]:
    """Multi-quantile variant of the sorted-list kernel: the window's
    sorted buffer — whose O(w) insert/evict memmoves dominate the kernel —
    is maintained ONCE per series, and each requested p costs only its
    O(1) order-statistic pick per row.  Pick arithmetic is byte-for-byte
    the single-q kernel's, so each output array is bit-equal to the
    corresponding ``excl_quantile_stream(values, p, lookback)`` (pinned in
    tests/test_quantile_engines.py).  The sweep's pair-grain Arrow pass
    calls this with the pair's whole per-orientation q-list: at the gen600
    grid shape (2 q's per orientation) it nearly halves threshold-kernel
    time."""
    n_rows = len(values)
    outs = [np.full(n_rows, np.nan) for _ in ps]
    buf: list[float] = []
    vals_l = values.tolist()
    isnan_l = np.isnan(values).tolist()
    for i in range(n_rows):
        n = len(buf)
        if n > 0:
            for oi, p in enumerate(ps):
                h = p * (n + 1.0)
                if h <= 1.0:
                    outs[oi][i] = buf[0]
                elif h >= n:
                    outs[oi][i] = buf[-1]
                else:
                    k = int(h)
                    lo_v = buf[k - 1]
                    outs[oi][i] = lo_v + (h - float(k)) * (buf[k] - lo_v)
        if not isnan_l[i]:
            insort(buf, vals_l[i])
        j = i - lookback
        if j >= 0 and not isnan_l[j]:
            del buf[bisect_left(buf, vals_l[j])]
    return outs


def excl_quantile_stream_multi(
    values: np.ndarray, ps: tuple[float, ...], lookback: int | None = None
) -> list[np.ndarray]:
    """Per-row type-6 exclusive quantiles over the preceding frame, every
    requested ``p`` from ONE pass of window maintenance where the frame is
    bounded (the sorted-list kernel); expanding/wide frames fall back to
    one two-heap stream per p (the heap layout is shaped by its single
    target rank, so its maintenance cannot be shared)."""
    if not ps:
        return []
    if lookback is not None and lookback <= _SORTED_KERNEL_MAX_LOOKBACK:
        return _excl_quantile_rolling_sorted_multi(values, tuple(ps), lookback)
    return [excl_quantile_stream(values, p, lookback) for p in ps]


def excl_quantile_stream(
    values: np.ndarray, p: float, lookback: int | None = None
) -> np.ndarray:
    """Per-row type-6 exclusive quantile over the preceding frame.

    ``out[i]`` = quantile of ``values[max(0, i-lookback) .. i-1]`` (NaNs
    skipped); ``lookback=None`` → expanding from the series start (the
    two-heap path — an expanding frame would make the sorted list's
    per-insert memmove O(series), exactly the blowup this module
    exists to avoid).
    """
    if lookback is not None and lookback <= _SORTED_KERNEL_MAX_LOOKBACK:
        return _excl_quantile_rolling_sorted(values, p, lookback)
    n_rows = len(values)
    out = np.full(n_rows, np.nan)
    low: list[float] = []  # negated max-heap: the m smallest live values
    high: list[float] = []  # min-heap: the rest
    low_size = high_size = 0  # live counts
    dead_low: dict[float, int] = {}
    dead_high: dict[float, int] = {}

    def prune_low() -> None:
        while low:
            v = -low[0]
            c = dead_low.get(v, 0)
            if not c:
                return
            heapq.heappop(low)
            if c == 1:
                del dead_low[v]
            else:
                dead_low[v] = c - 1

    def prune_high() -> None:
        while high:
            v = high[0]
            c = dead_high.get(v, 0)
            if not c:
                return
            heapq.heappop(high)
            if c == 1:
                del dead_high[v]
            else:
                dead_high[v] = c - 1

    def rebalance(m: int) -> None:
        nonlocal low_size, high_size
        while low_size > m:
            prune_low()
            heapq.heappush(high, -heapq.heappop(low))
            low_size -= 1
            high_size += 1
        while low_size < m:
            prune_high()
            heapq.heappush(low, -heapq.heappop(high))
            high_size -= 1
            low_size += 1

    isnan = np.isnan(values)
    for i in range(n_rows):
        n = low_size + high_size
        if n > 0:
            # identical arithmetic to quantiles.q6_from_sorted_array
            h = p * (n + 1.0)
            if h <= 1.0:
                rebalance(1)
                prune_low()
                out[i] = -low[0]
            elif h >= n:
                rebalance(n - 1)
                prune_high()
                out[i] = high[0]
            else:
                k = int(h)
                rebalance(k)
                prune_low()
                prune_high()
                lo_v = -low[0]
                out[i] = lo_v + (h - float(k)) * (high[0] - lo_v)
        if not isnan[i]:
            x = float(values[i])
            prune_low()
            if low and x <= -low[0]:
                heapq.heappush(low, -x)
                low_size += 1
            else:
                heapq.heappush(high, x)
                high_size += 1
        if lookback is not None:
            j = i - lookback  # leaves the frame of row i+1
            if j >= 0 and not isnan[j]:
                y = float(values[j])
                prune_low()
                if low and y <= -low[0]:
                    dead_low[y] = dead_low.get(y, 0) + 1
                    low_size -= 1
                else:
                    dead_high[y] = dead_high.get(y, 0) + 1
                    high_size -= 1
    return out


def with_series_excl_quantiles(
    df: DataFrame,
    specs: dict[str, tuple[str, float]],
    lookback: int | None = None,
    order_col: str = "rn",
    partition_cols: tuple[str, ...] = ("symbol",),
) -> DataFrame:
    """Attach ``quantileExactExclusive(p)(src) OVER (PARTITION BY
    partition_cols ORDER BY order_col ROWS BETWEEN <lookback|UNBOUNDED>
    PRECEDING AND 1 PRECEDING)`` for every ``specs`` entry (out_col ->
    (source col, p)); ALL thresholds are computed in ONE Arrow-batched
    pass per series (one shuffle instead of len(specs)) — the
    formation-gate stack (signals.GATE_QUANTILES) needs five of these per
    bar, the bar-feature ti gate one.

    Scale contract: one pandas group per (symbol[, threshold]) series —
    bounded at ~1.5M rows (reference cardinality, BASELINE.md), O(n log n)
    compute, parallel across series.  At 100 TB the series count is the
    parallelism axis, exactly like every window in :mod:`..operators.windows`.
    """
    schema = StructType(
        df.schema.fields
        + [StructField(out_col, DoubleType()) for out_col in specs]
    )
    names = [f.name for f in schema.fields]

    def compute(pdf):
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        for out_col, (src, p) in specs.items():
            vals = pdf[src].to_numpy(dtype="float64", na_value=np.nan)
            pdf[out_col] = excl_quantile_stream(vals, p, lookback)
        return pdf[names]

    return df.groupBy(*partition_cols).applyInPandas(compute, schema)

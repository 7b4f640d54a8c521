"""E23 Stage-4 stability synthesis: per-fold Pareto objectives, exact 3D
hypervolume, and discrete Vorob'ev expectation/deviation across WFO folds
(reference eval/walk_forward.py:715-904, build_stability_matrix /
compute_vorob_stability).

Two tiers, mirroring the reference's own split:

* ``fold_objectives`` — Spark: the (barrier_id, fold) × (omega, rachev,
  total_return) stability matrix.  Distributional metrics only — the
  reference excludes order-dependent CDaR/max_drawdown and >3D columns
  (walk_forward.py:713-737).  Fully SQL-expressible → oracled catalog
  entry.
* ``vorob_stability`` — numpy on the collected matrix (≤ configs × folds
  rows — driver-side tiny, exactly where the reference runs moocore).
  moocore is not in this environment, so the geometry is implemented
  here from the definitions, exactly and deterministically:

  - ``hypervolume_3d``: exact minimization hypervolume by z-sweep over
    2D staircase areas.
  - attainment level sets L_k (region attained by ≥ k folds) via the
    union/intersection DP  U_j^m = U_{j-1}^m ∪ (U_{j-1}^{m-1} ∩ A_j)
    on staircase regions represented by their minimal points (upper sets
    are closed under ∪ and ∩; ∩ of point-generated upper sets is
    generated by pairwise componentwise maxima).
  - Vorob'ev expectation = smallest level set with volume ≥ the mean
    per-fold volume (the discrete quantization of Binois et al. 2015's
    volume-matching threshold; moocore's vorob_t does the same over the
    EAF).  Deviation = mean hypervolume of the symmetric difference
    Q Δ A_i = HV(Q ∪ A_i) − HV(Q ∩ A_i).

  The exactness invariant Σ_k HV(L_k) = Σ_i HV(A_i) (each attained point
  is counted once per fold attaining it) is pinned in
  tests/test_stability.py.

Benefit metrics are negated before the geometry (minimization
convention, ref = origin) — reference walk_forward.py:843-849; points
not strictly better than the reference in every objective are discarded,
matching moocore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import detsum as _det
from .eval_metrics import MIN_TRADES_RACHEV, RACHEV_ALPHA, _fold_mean
from .wfo import KEYS, N_FOLDS, PURGE_TRADES, _omega0, _with_tn

#: objective columns of the stability matrix, all benefit (higher=better)
OBJECTIVES = ("omega", "rachev_ratio", "total_return")


def fold_objectives(
    trades: DataFrame, k: int = N_FOLDS, purge: int = PURGE_TRADES
) -> DataFrame:
    """Per-(symbol, barrier_id, fold) TEST-set stability objectives.

    Fold split is identical to ``wfo.wf_fold_metrics`` (contiguous test
    blocks over trade number); only test rows are scored — the matrix
    feeds cross-fold comparison, so train-side values are never used.
    ``purge`` is accepted for signature parity but does not affect the
    test partition.  Omega and Rachev use the exact conventions of
    ``eval_metrics.tail_metrics`` (value-sorted fold sums, cap 10, min 20
    trades); total_return is the tn-ordered deterministic sum.
    """
    t = _with_tn(trades).withColumn(
        "fold",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(k - 1).cast("long"))),
    )
    tsz = (F.col("n_total") / k).cast("int")
    test_lo = F.col("fold") * tsz
    test_hi = F.when(F.col("fold") == k - 1, F.col("n_total")).otherwise(
        (F.col("fold") + 1) * tsz
    )
    t = t.filter((F.col("tn") > test_lo) & (F.col("tn") <= test_hi))
    n = F.count("*")
    nd = n.cast("double")
    sorted_r = F.sort_array(F.collect_list("return_pct"))
    k_tail = F.greatest(F.lit(1), F.floor(nd * F.lit(RACHEV_ALPHA)).cast("int"))
    cvar_up = _fold_mean(F.slice(F.reverse(sorted_r), F.lit(1), k_tail), k_tail)
    cvar_lo_abs = F.abs(_fold_mean(F.slice(sorted_r, F.lit(1), k_tail), k_tail))
    rachev = (
        F.when(n < MIN_TRADES_RACHEV, F.lit(None).cast("double"))
        .when(cvar_lo_abs < 1e-12, F.lit(None).cast("double"))
        .otherwise(F.least(cvar_up / cvar_lo_abs, F.lit(10.0)))
    )
    return t.groupBy(*KEYS, "fold").agg(
        n.cast("long").alias("test_n"),
        F.round(_omega0(sorted_r), 6).alias("omega"),
        F.round(rachev, 6).alias("rachev_ratio"),
        # + 0.0 flushes IEEE -0.0 to +0.0 (signed-zero hash hazard; see the
        # matching + 0.0 in plans/wfo_oracle.py wf_objectives_select).
        (F.round(_det.osum(F.col("tn"), F.col("return_pct")), 6) + F.lit(0.0)).alias(
            "total_return"
        ),
    )


# ---------------------------------------------------------------------------
# driver-side exact geometry (minimization convention, points <= ref)
# ---------------------------------------------------------------------------


def _prune(points: list[tuple]) -> list[tuple]:
    """Minimal points of an upper set: drop p if some q <= p (q != p
    dominates it, or q == p duplicates it).  Sorted for determinism."""
    pts = sorted(set(points))
    out: list[tuple] = []
    for p in pts:
        if not any(all(q[i] <= p[i] for i in range(len(p))) for q in out):
            out.append(p)
    return out


def _union(a: list[tuple], b: list[tuple]) -> list[tuple]:
    return _prune(a + b)


def _intersect(a: list[tuple], b: list[tuple]) -> list[tuple]:
    return _prune(
        [tuple(max(p[i], q[i]) for i in range(len(p))) for p in a for q in b]
    )


def _area2d(pts: list[tuple], rx: float, ry: float) -> float:
    """Area of ∪ [x_p, rx] × [y_p, ry] for minimization points."""
    pts = sorted({(x, y) for x, y in pts if x <= rx and y <= ry})
    if not pts:
        return 0.0
    area = 0.0
    prev_x: float | None = None
    min_y = ry
    for x, y in pts:
        if prev_x is not None and x > prev_x:
            area += (x - prev_x) * (ry - min_y)
            prev_x = x
        elif prev_x is None:
            prev_x = x
        min_y = min(min_y, y)
    area += (rx - prev_x) * (ry - min_y)
    return area


def hypervolume_3d(points: list[tuple], ref: tuple) -> float:
    """Exact hypervolume of ∪ [p, ref] (minimization): z-sweep
    accumulating 2D staircase areas over z-slabs.  Points with any
    coordinate beyond the reference are discarded (moocore convention)."""
    pts = [p for p in points if all(p[i] <= ref[i] for i in range(3))]
    if not pts:
        return 0.0
    zs = sorted({p[2] for p in pts})
    hv = 0.0
    for j, z in enumerate(zs):
        z_hi = zs[j + 1] if j + 1 < len(zs) else ref[2]
        layer = [(p[0], p[1]) for p in pts if p[2] <= z]
        hv += _area2d(layer, ref[0], ref[1]) * (z_hi - z)
    return hv


def attainment_levels(fold_sets: list[list[tuple]]) -> list[list[tuple]]:
    """[L_1, ..., L_n]: minimal points of the region attained by ≥ k of
    the n fold regions, via U_j^m = U_{j-1}^m ∪ (U_{j-1}^{m-1} ∩ A_j)."""
    u: dict[int, list[tuple]] = {}
    for j, a in enumerate(fold_sets, 1):
        a = _prune(a)
        nxt: dict[int, list[tuple]] = {}
        for m in range(1, j + 1):
            gained = a if m == 1 else _intersect(u.get(m - 1, []), a)
            nxt[m] = _union(u.get(m, []), gained)
        u = nxt
    return [u.get(k, []) for k in range(1, len(fold_sets) + 1)]


def vorob_stability(
    rows: list[tuple[int, float, float, float]],
    ref: tuple = (0.0, 0.0, 0.0),
) -> dict:
    """Vorob'ev stability summary over (fold_id, omega, rachev,
    total_return) benefit rows (reference compute_vorob_stability).

    Negates the benefit objectives (minimization, ref = origin by
    default), groups points per fold, and returns::

        vorob_threshold  k*/n for the volume-matching level k*
        vorob_deviation  mean HV(Q Δ A_i), Q = L_{k*}
        avg_hyp          mean per-fold hypervolume
        hv_per_fold      per-fold hypervolumes (fold_id asc)
        hv_cv            population std / mean of hv_per_fold

    Rows with a NULL/NaN objective are dropped (the reference's matrix is
    built from complete fold rows only).
    """
    import math

    folds: dict[int, list[tuple]] = {}
    for fid, *obj in rows:
        if any(v is None or (isinstance(v, float) and math.isnan(v)) for v in obj):
            continue
        folds.setdefault(int(fid), []).append(tuple(-float(v) for v in obj))
    if not folds:
        return {
            "vorob_threshold": None,
            "vorob_deviation": None,
            "avg_hyp": None,
            "hv_per_fold": [],
            "hv_cv": None,
        }
    fold_ids = sorted(folds)
    fold_sets = [_prune(folds[f]) for f in fold_ids]
    hv = [hypervolume_3d(s, ref) for s in fold_sets]
    avg_hyp = sum(hv) / len(hv)
    levels = attainment_levels(fold_sets)
    lvl_hv = [hypervolume_3d(lv, ref) for lv in levels]
    # smallest (deepest) level set whose volume still >= the mean volume;
    # HV(L_1) >= max(hv) >= avg guarantees existence
    k_star = max(k + 1 for k, v in enumerate(lvl_hv) if v >= avg_hyp)
    q = levels[k_star - 1]
    dev = 0.0
    for s in fold_sets:
        dev += hypervolume_3d(_union(q, s), ref) - hypervolume_3d(
            _intersect(q, s), ref
        )
    dev /= len(fold_sets)
    mean = avg_hyp
    var = sum((v - mean) ** 2 for v in hv) / len(hv)
    std = var**0.5
    return {
        "vorob_threshold": k_star / len(fold_sets),
        "vorob_deviation": dev,
        "avg_hyp": avg_hyp,
        "hv_per_fold": hv,
        "hv_cv": (std / mean) if mean > 1e-12 else float("inf"),
    }

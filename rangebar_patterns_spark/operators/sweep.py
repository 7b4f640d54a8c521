"""The sweep engine: (formation × feature-filter × quantile × barrier)
configs as *data*, one parameterized plan (SURVEY.md §7.1 step 5).

The reference instantiates 301,040 sed-substituted SQL files
(scripts/gen600/generate.sh:104-175) — 22 formation templates × 9 bar
features × 38 cross features × 4 quantile combos × 10 asset/thresholds —
and schedules them 16-wide through pueue.  Here the same sweep is ONE
DataFrame pipeline: the config grid is a broadcast DataFrame, the feature
dimension becomes a map lookup (feature name → column value), and every
config shares a single bar scan + window stack instead of recomputing it
301K times.  That shared-scan amortization is the headline Spark win
(BASELINE.md: 1,008 configs × 8 s serial vs one shared pass).

Per-config semantics (sql/gen600_2down_template.sql:66-138):

1. candidate = formation bars with trade_intensity above the rolling
   (999 PRECEDING .. 1 PRECEDING) no-lookahead p95, positive Kyle lambda,
   warmup passed, valid entry, both feature values non-NULL;
2. feature1/feature2 rolling signal-set quantiles (W7 — computed over the
   *candidate sequence*, not the bar sequence: the "Feature Quantile
   Trap", semantic not optimizable); both quantiles run over the SAME
   candidate set, filters apply afterwards;
3. signal = candidate passing ``feature_i <dir_i> q_i`` for both features;
4. signals × barrier profiles → trades → per-config metrics.

Scale notes: the exploded candidate stream is (configs × candidate rate ×
bars) rows but only ~10 narrow columns — filters and the formation
explode run JVM-side; the per-(config, symbol) W7 quantile pass reuses the
streaming two-heap kernel (functions/series_quantile.py).  Forward OHLC
arrays are attached to *surviving* signals only, by an equi-join back to
the bar table (AP-01 signals-first discipline: reference anti-patterns.md
documents a 2.36 GB → 1.6 MB difference).
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.series_quantile import (
    excl_quantile_stream,
    excl_quantile_stream_multi,
)
from ..session import hold
from .signals import FORMATIONS, base_eligibility

#: W7 rolling window over the candidate sequence (gen600: 999 PRECEDING .. 1 PRECEDING)
SIGNALSET_LOOKBACK = 999


@dataclass(frozen=True)
class SweepConfig:
    formation: str
    feature1: str
    q1: float
    dir1: str  # ">" or "<"
    feature2: str
    q2: float
    dir2: str

    @property
    def config_id(self) -> str:
        d = {">": "gt", "<": "lt"}
        return (
            f"{self.formation}_{self.feature1}_{d[self.dir1]}{int(self.q1 * 100):02d}"
            f"_{self.feature2}_{d[self.dir2]}{int(self.q2 * 100):02d}"
        )


def default_sweep_grid() -> list[SweepConfig]:
    """Demo-scale grid with the reference's combinatorial shape
    (generate.sh:104-175), now spanning ALL 22 gen600 formation templates
    including the 11 SHORT ones (generate.sh runs every template through
    the same feature × quantile substitutions): 22 formations × 1 feature
    pair × 2 quantile combos = 44 configs.  Production grids just pass
    longer lists."""
    combos = [
        (0.75, ">", 0.75, ">"),
        (0.25, "<", 0.75, ">"),
    ]
    return [
        SweepConfig(f, f1, q1, d1, f2, q2, d2)
        for f in FORMATIONS
        for f1, f2 in (("ofi", "price_impact"),)
        for q1, d1, q2, d2 in combos
    ]


def gen500_grid() -> list[SweepConfig]:
    """The reference's gen500-scale sweep: 1,008 configs (6 formations ×
    12 ordered feature pairs × 14 quantile combos) — the workload
    BASELINE.md prices at 1,008 queries × (1-8)s / 16-way on ClickHouse.
    Here it is one shared plan (see :func:`sweep_candidates_with_thresholds`
    for the threshold dedup that makes the Python pass O(formations ×
    feature pairs × qs), not O(configs))."""
    from .signals import SWEEP_FORMATION_NAMES

    feats = ["ofi", "price_impact", "turnover_imbalance", "aggression_ratio"]
    qc = [
        (q1, d1, q2, d2)
        for q1 in (0.25, 0.5, 0.75)
        for d1 in (">", "<")
        for q2 in (0.25, 0.5, 0.75)
        for d2 in (">", "<")
    ][:14]
    return [
        SweepConfig(f, f1, q1, d1, f2, q2, d2)
        for f in SWEEP_FORMATION_NAMES
        for f1 in feats
        for f2 in feats
        if f1 != f2
        for q1, d1, q2, d2 in qc
    ]


def gen600_full_grid(
    bar_features: tuple[str, ...] = ("ofi",),
) -> list[SweepConfig]:
    """The full-width gen600 hybrid sweep: ALL 22 formation templates ×
    (bar-feature × 38 cross-features) × 4 quantile combos — the reference's
    generate.sh matrix (scripts/gen600/generate.sh:104-175; Phase-1 grid is
    p50-only, 2 directions per side = 4 combos per pair).  With the default
    single bar feature that is 22 × 38 × 4 = 3,344 configs per
    asset/threshold, the per-asset width of the reference's 301K-file
    harness; the reference's full 9-bar-feature matrix is
    ``gen600_full_grid(bar_features=BAR_FEATURES)`` — same one plan."""
    from .crossfeatures import CROSS_FEATURES

    combos = [
        (0.5, d1, 0.5, d2)
        for d1 in (">", "<")
        for d2 in (">", "<")
    ]
    return [
        SweepConfig(f, f1, q1, d1, f2, q2, d2)
        for f in FORMATIONS
        for f1 in bar_features
        for f2 in CROSS_FEATURES
        for q1, d1, q2, d2 in combos
    ]


SWEEP_GRID_SCHEMA = (
    "config_id string, formation string, feature1 string, q1 double, dir1 string, "
    "feature2 string, q2 double, dir2 string, side string"
)


def sweep_grid_to_spark(spark: SparkSession, grid: list[SweepConfig]) -> DataFrame:
    rows = [
        (
            c.config_id,
            c.formation,
            c.feature1,
            c.q1,
            c.dir1,
            c.feature2,
            c.q2,
            c.dir2,
            FORMATIONS[c.formation].side,
        )
        for c in grid
    ]
    return spark.createDataFrame(rows, SWEEP_GRID_SCHEMA)


def grid_formations(grid: list[SweepConfig]) -> tuple[str, ...]:
    """Formation names a grid actually sweeps — pass to
    :func:`sweep_candidates` so the explode only evaluates predicates the
    config join can keep (broadcast-join semantics drop the rest anyway,
    but not exploding them saves the intermediate rows)."""
    return tuple(sorted({c.formation for c in grid}))


def base_candidate_filter(warmup: int) -> F.Column:
    """The gate-INDEPENDENT part of every gen600 config's candidate
    predicate: warmup passed and a valid next-bar entry.  Entry gates (ti
    above rolling p95 + Kyle sign, exhaustion/volume/VWAP thresholds, or
    none for ``_ng``/wickless formations) are per-formation and applied in
    the formation explode — the reference's wl1d/wl2d templates carry NO
    ti/kyle gate (sql/gen600_wl1d_template.sql champion_signals WHERE)."""
    return base_eligibility(warmup)


def _formation_explode(formations: tuple[str, ...]) -> F.Column:
    """One row per (bar, formation whose full signal predicate holds) —
    the formation explode every sweep path and the row estimate share."""
    formation_arr = F.array(
        *[F.when(FORMATIONS[name].signal(), F.lit(name)) for name in formations]
    )
    return F.explode(F.filter(formation_arr, lambda x: x.isNotNull()))


_CAND_COLUMNS = [
    "config_id",
    "formation",
    "feature1",
    "q1",
    "dir1",
    "feature2",
    "q2",
    "dir2",
    "side",
    "symbol",
    "rn",
    "close_time_ms",
    "threshold_decimal_bps",
    "entry_price",
    "next_dir",
    "f1_val",
    "f2_val",
]


def sweep_candidates(
    feat: DataFrame,
    configs: DataFrame,
    feature_cols: list[str],
    warmup: int,
    formations: tuple[str, ...] | None = None,
) -> DataFrame:
    """Candidate rows per config: formation-explode × config-join × feature
    map lookup, all JVM-side.  ``feat`` is ``with_bar_features(...,
    rolling_window=...)`` output (plus ``with_gate_quantiles`` when a swept
    formation's gate needs non-ti thresholds).  Each formation's full
    signal predicate (pattern ∧ its own gate) decides membership.
    ``formations`` defaults to ALL 22 registry formations (safe: the
    config join drops unswept ones); pass :func:`grid_formations` to skip
    evaluating predicates the grid can't keep."""
    if formations is None:
        formations = tuple(FORMATIONS)
    cand = (
        feat.filter(base_candidate_filter(warmup))
        .withColumn("formation", _formation_explode(formations))
        .join(F.broadcast(configs), "formation")
    )
    fmap = F.create_map(*chain.from_iterable((F.lit(c), F.col(c)) for c in feature_cols))
    cand = (
        cand.withColumn("f1_val", F.element_at(fmap, F.col("feature1")))
        .withColumn("f2_val", F.element_at(fmap, F.col("feature2")))
        .filter(F.col("f1_val").isNotNull() & F.col("f2_val").isNotNull())
    )
    return cand.select(*_CAND_COLUMNS)


def with_signalset_quantiles(
    cand: DataFrame, lookback: int = SIGNALSET_LOOKBACK
) -> DataFrame:
    """W7 test reference: rolling exclusive quantiles of feature1/feature2
    over the per-config candidate sequence, in the layered shape
    (candidates first, thresholds joined back).  It has no production
    caller — the catalog runs :func:`sweep_candidates_with_thresholds`,
    and tests/test_sweep.py pins that path against this one.

    Key sweep-scale property: a config's *candidate set* is fully
    determined by (formation, feature pair) — the base filter and the
    formation predicate don't involve the paired features, but candidate
    membership does require BOTH features non-NULL (sweep_candidates), so
    two configs share a candidate sequence iff they share the formation
    and the (unordered) feature pair.  The dedup key therefore includes
    the *partner* feature: thresholds run once per distinct
    (formation, feature, q, partner, symbol) group —
    O(formations × feature-pairs × qs) Python groups instead of
    O(configs) — and remain bit-identical to the per-config computation
    even when a feature has post-warmup NULLs (the "Feature Quantile
    Trap" this module documents: dropping a row for one config but not
    another shifts the rolling-999 window contents).  At the reference's
    301K-config scale this is still a ~100× reduction in streaming
    quantile passes; values are verified by the oracle suite, which
    models the per-config semantics."""
    thr_schema = StructType(
        [
            StructField("formation", cand.schema["formation"].dataType),
            StructField("feature", cand.schema["feature1"].dataType),
            StructField("q", DoubleType()),
            StructField("partner", cand.schema["feature2"].dataType),
            StructField("symbol", cand.schema["symbol"].dataType),
            StructField("rn", cand.schema["rn"].dataType),
            StructField("thr", DoubleType()),
        ]
    )

    # round 13 (§4, VERDICT r12 #5): the Arrow pass groups by a HASH
    # BUCKET of the series key instead of the raw
    # (formation, feature, q, partner, symbol) key — the grouped-pandas
    # runner pays a fixed per-group cost (frame assembly + schema
    # conversion), so many small groups serialize on overhead; one
    # bucketed frame sorts once and walks contiguous key runs with numpy
    # boundary detection (the same shape the fused kernels use).  Each
    # (formation, feature, partner, symbol, q) run is one plain
    # excl_quantile_stream — the reference stays per-series simple; the
    # fused kernels own the multi-q window sharing.
    def compute(pdf):
        pdf = pdf.sort_values(
            ["formation", "feature", "partner", "symbol", "q", "rn"],
            kind="mergesort",
        ).reset_index(drop=True)
        n = len(pdf)
        out = np.empty(n, dtype="float64")
        fm = pdf["formation"].to_numpy()
        ft = pdf["feature"].to_numpy()
        pt = pdf["partner"].to_numpy()
        sy = pdf["symbol"].to_numpy()
        qv = pdf["q"].to_numpy("float64")
        vals = pdf["val"].to_numpy("float64", na_value=np.nan)
        if n:
            change = (
                np.flatnonzero(
                    (fm[1:] != fm[:-1])
                    | (ft[1:] != ft[:-1])
                    | (pt[1:] != pt[:-1])
                    | (sy[1:] != sy[:-1])
                    | (qv[1:] != qv[:-1])
                )
                + 1
            )
            bounds = np.concatenate(([0], change, [n]))
            for s, e in zip(bounds[:-1], bounds[1:]):
                out[s:e] = excl_quantile_stream(vals[s:e], float(qv[s]), lookback)
        pdf["thr"] = out
        return pdf[["formation", "feature", "q", "partner", "symbol", "rn", "thr"]]

    sides = [
        cand.select(
            "formation",
            F.col(f"feature{i}").alias("feature"),
            F.col(f"q{i}").alias("q"),
            F.col(f"feature{3 - i}").alias("partner"),
            "symbol",
            "rn",
            F.col(f"f{i}_val").alias("val"),
        )
        for i in (1, 2)
    ]
    thr_input = sides[0].unionByName(sides[1]).dropDuplicates(
        ["formation", "feature", "q", "partner", "symbol", "rn"]
    )
    # referenced by both join sides below — persist so the Arrow quantile
    # pass runs once (the relation is small: one row per deduped
    # (formation, feature, q, partner) candidate)
    spark = cand.sparkSession
    n_buckets = 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    thr = hold(
        thr_input.withColumn(
            "_bkt",
            F.pmod(
                F.hash("formation", "feature", "partner", "symbol"),
                F.lit(n_buckets),
            ).cast("int"),
        )
        .groupBy("_bkt")
        .applyInPandas(compute, thr_schema)
    )
    out = cand.join(
        thr.withColumnsRenamed(
            {"feature": "feature1", "q": "q1", "partner": "feature2", "thr": "f1_thr"}
        ),
        ["formation", "feature1", "q1", "feature2", "symbol", "rn"],
    ).join(
        thr.withColumnsRenamed(
            {"feature": "feature2", "q": "q2", "partner": "feature1", "thr": "f2_thr"}
        ),
        ["formation", "feature2", "q2", "feature1", "symbol", "rn"],
    )
    return out.select(*_CAND_COLUMNS, "f1_thr", "f2_thr")


#: Arrow-frame sizing target for the threshold shuffle: ~64K side-relation
#: rows per partition keeps each Python worker's pandas frames tens of MB
#: (the sf1 lesson: the session default of one-partition-per-core put
#: multi-million-row frames in each worker — OOM-killed), while staying
#: coarse enough that the map side doesn't fan out thousands of shuffle
#: files (a ~2K-partition grouping-count ceiling measured ~2.5× slower at
#: sf0.1 in map-side overhead)
THRESHOLD_ROWS_PER_PARTITION = 65_536

#: partition-count ceiling for the derived sizing — beyond this the
#: per-partition shuffle-file fan-out dominates; at 100 TB a cluster
#: deployment would raise it along with executor count
THRESHOLD_MAX_PARTITIONS = 4_096


def grid_pairs_per_formation(grid: list[SweepConfig]) -> dict[str, int]:
    """Distinct unordered feature-pair count per formation for a grid —
    the fan-out factor each candidate (bar, formation) row explodes by in
    the pair-grain side relation."""
    p_keys = {
        (c.formation, min(c.feature1, c.feature2), max(c.feature1, c.feature2))
        for c in grid
    }
    ppf: dict[str, int] = {}
    for f0, *_ in p_keys:
        ppf[f0] = ppf.get(f0, 0) + 1
    return ppf


def estimate_pair_rows(
    feat: DataFrame, warmup: int, groups_per_formation: dict[str, int]
) -> int:
    """Estimated PAIR-GRAIN side-relation rows: candidate (bar, formation)
    memberships (one cheap aggregation over ``feat``, persisted by every
    catalog caller) multiplied by each formation's pair fan-out.  An upper
    bound — it ignores per-pair feature-NULL drops.  Feeds both the
    threshold-shuffle partition sizing and the kernel-grain dispatch."""
    fcounts = {
        r["formation"]: r["count"]
        for r in (
            feat.filter(base_candidate_filter(warmup))
            .select(
                _formation_explode(tuple(sorted(groups_per_formation))).alias(
                    "formation"
                )
            )
            .groupBy("formation")
            .count()
            .collect()
        )
    }
    return sum(fcounts.get(f, 0) * n for f, n in groups_per_formation.items())


def partitions_from_pair_rows(est_rows: int, spark: SparkSession) -> int:
    """Threshold-shuffle partition count for an estimated pair-grain row
    count: target :data:`THRESHOLD_ROWS_PER_PARTITION` rows per partition,
    clamped to [session shuffle partitions,
    :data:`THRESHOLD_MAX_PARTITIONS`]."""
    session_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(
        session_default,
        min(THRESHOLD_MAX_PARTITIONS, -(-est_rows // THRESHOLD_ROWS_PER_PARTITION)),
    )


def _nan_to_null(c: F.Column) -> F.Column:
    """Normalize kernel NaNs to SQL NULL (double NaN survives Arrow
    list-array conversion where a scalar Double column's NaN would have
    become NULL — warm-gate semantics need NULL)."""
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


#: kernel-grain dispatch thresholds, calibrated by r12 bench A/B with
#: both kernels at sf0.1 AND sf1 (the crossover is data-dependent, so
#: the dispatch reads estimated pair-grain rows, not a grid property
#: alone).  Candidate grain won only where the pair-grain relation was
#: both wide and long: fullgrid sf1 (est 160M pair rows) 169.9 → 93.1 s
#: (−45%); every measured case at ≤72M est rows regressed on candidate
#: grain (fullgrid sf0.1, 16M: +28%; 30,096-config complete matrix
#: sf0.1, 72M: +14%; 44-config panel sf1, 2.1M: +52% — at fan-out 1 the
#: kernel rows don't shrink at all, only the slot/decode overheads
#: remain).  100M splits the measured points; the fan-out floor keeps
#: narrow grids from ever paying the extra sizing aggregate.
SWEEP_CANDGRAIN_MIN_FANOUT = 16
SWEEP_CANDGRAIN_MIN_PAIR_ROWS = 100_000_000


def sweep_candidates_with_thresholds(
    feat: DataFrame,
    spark: SparkSession,
    grid: list[SweepConfig],
    feature_cols: list[str],
    warmup: int,
    lookback: int = SIGNALSET_LOOKBACK,
) -> DataFrame:
    """The one production sweep threshold path, producing exactly
    ``with_signalset_quantiles(sweep_candidates(...))`` (equivalence
    pinned in tests/test_sweep.py) with config-grain work deferred to the
    very end.  Two Arrow kernel grains produce bit-identical rows; the
    dispatch between them is empirical and scale-adaptive
    (:data:`SWEEP_CANDGRAIN_MIN_FANOUT` /
    :data:`SWEEP_CANDGRAIN_MIN_PAIR_ROWS`):

    * **pair grain** (the default): one kernel row per
      (formation, feature-pair, bar) — the quantile-combo and direction
      axes never touch the candidate stream; the kernel sorts each
      (pair, symbol) candidate sequence once, runs every W7 quantile
      stream the pair needs over it, and emits per-bar thresholds as
      wide scalar columns; the q1 × q2 fan-out is JVM-side
      ``arrays_zip``/``explode``;
    * **candidate grain** (wide grids over long streams): one kernel row
      per (formation, bar) carrying every feature as a wide double
      column — the ×pairs axis (76× for the full grid) moves AFTER the
      Arrow pass as a broadcast join + slot-array indexing, shrinking
      the threshold shuffle and the Arrow/pandas row traffic by the
      fan-out factor (guide §2.3 "shuffle keys and metadata instead of
      payloads", §8.4 "decide with small rows").

    Either way, configs (direction axes included) attach via ONE
    broadcast join on (formation, pair, q_a, q_b) straight into the
    funnel aggregate — no shuffle ever moves config-grain or
    series-grain rows.

    The threshold shuffle's exact partition count is always derived from
    estimated pair-grain rows (:func:`estimate_pair_rows` — one cheap
    aggregation over ``feat``; at candidate grain that estimate proxies
    kernel *work* per partition) and written into the plan as an explicit
    ``repartition(n, "_bkt")``; the session conf is only read, for the
    floor.  The threshold relation is always materialized once."""
    same = [c.config_id for c in grid if c.feature1 == c.feature2]
    if same:
        raise ValueError(
            "sweep_candidates_with_thresholds keys series orientation by "
            "feature < partner and would silently drop same-feature "
            f"configs: {same[:3]}" + ("..." if len(same) > 3 else "")
        )
    formations = grid_formations(grid)
    # UNORDERED pair grain for the decode: grids may contain both
    # orientations of a pair (gen500 does) and both share one candidate
    # set — (pa < pb) keying gives each distinct threshold series exactly
    # one slot.  Orientation a = the series whose feature is the pair's
    # smaller name (it reads ``val_a``); orientation b reads ``val_b``.
    pair_ids = {
        t: i
        for i, t in enumerate(sorted(
            {(c.formation, min(c.feature1, c.feature2), max(c.feature1, c.feature2))
             for c in grid}
        ))
    }
    qset_a: dict[int, set] = {}
    qset_b: dict[int, set] = {}
    for c in grid:
        pa_, pb_ = min(c.feature1, c.feature2), max(c.feature1, c.feature2)
        pid = pair_ids[(c.formation, pa_, pb_)]
        qa, qb = (c.q1, c.q2) if c.feature1 == pa_ else (c.q2, c.q1)
        qset_a.setdefault(pid, set()).add(qa)
        qset_b.setdefault(pid, set()).add(qb)
    # per-pair sorted q tuples — closure-shipped to the kernel (one small
    # dict, O(pairs)) and broadcast as array columns for the JVM decode
    pair_qs = {
        pid: (tuple(sorted(qset_a[pid])), tuple(sorted(qset_b[pid])))
        for pid in pair_ids.values()
    }
    feat_idx = {c: i for i, c in enumerate(feature_cols)}
    # kernel-grain dispatch + partition sizing share ONE cheap aggregate
    # over ``feat``
    ppf = grid_pairs_per_formation(grid)
    fan_out = max(ppf.values())
    est_rows = estimate_pair_rows(feat, warmup, ppf)
    candidate_grain = (
        fan_out >= SWEEP_CANDGRAIN_MIN_FANOUT
        and est_rows >= SWEEP_CANDGRAIN_MIN_PAIR_ROWS
    )
    payload = ["close_time_ms", "threshold_decimal_bps", "entry_price", "next_dir"]
    # the threshold relation feeds every consumer branch — persist so the
    # Arrow pass runs once.  ``n_parts`` is the EXACT partition count for
    # that one shuffle, sized from estimated pair-grain rows: at pair
    # grain that bounds per-worker pandas rows directly (the session
    # one-per-core default puts multi-million-row frames in each Python
    # worker at large SF — an OOM-killed worker); at candidate grain the
    # same number proxies kernel WORK per partition (rows × slots).
    # Buckets outnumber partitions 4× so hash collisions between buckets
    # still spread evenly.
    n_parts = partitions_from_pair_rows(est_rows, spark)
    n_buckets = 4 * n_parts

    def _materialized(side_rows, bucket_keys, compute, schema):
        # the explicit repartition puts the exact count in the plan
        # itself: the grouped pandas call reuses its hash partitioning on
        # ``_bkt`` (no second exchange), and AQE never coalesces a
        # repartition by number, so no session conf is written.
        # The count populates the cache NOW: a consumer plan with several
        # branches (funnel ⋈ metrics) would otherwise schedule the Arrow
        # pass concurrently per branch and race past the cold cache,
        # paying the full threshold computation once per branch.
        thr = hold(
            side_rows.withColumn(
                "_bkt",
                F.pmod(F.hash(*bucket_keys), F.lit(n_buckets)).cast("int"),
            )
            .repartition(n_parts, "_bkt")
            .groupBy("_bkt")
            .applyInPandas(compute, schema)
        )
        thr.count()
        return thr

    if candidate_grain:
        # --------------------------------------------------------------
        # CANDIDATE-GRAIN kernel: formation-local SLOT layout, one
        # kernel-output slot per (pair, orientation, q).  The kernel runs
        # one row per (formation, bar), NOT per (pair, bar): the ×pairs
        # fan-out moves AFTER the Arrow pass as a broadcast join + slot-
        # array indexing, so the threshold shuffle, the Arrow/pandas
        # conversion and the kernel's row traffic all shrink by the pair
        # fan-out factor (guide §2.3 "shuffle keys and metadata instead
        # of payloads", §8.4 "decide with small rows").  Each slot's
        # stream is still the per-pair masked candidate sequence (both
        # features non-NULL — the Feature Quantile Trap), reconstructed
        # inside the kernel from the per-feature NaN patterns, so every
        # threshold value is bit-identical to the pair-grain computation.
        # Slots whose (series feature, mask) coincide — every pair whose
        # partner has no NULLs in the frame shares the base candidate
        # mask — are computed once and scattered to all their slots via
        # an in-kernel memo keyed by (feature, q-tuple, mask bytes):
        # exact sharing, discovered per frame at runtime.
        form_slots: dict[str, list[tuple[int, int, int, tuple[float, ...]]]] = {}
        pair_slot_base: dict[int, tuple[int, int]] = {}
        form_k: dict[str, int] = {}
        for (f0, pa_, pb_), pid in sorted(
            pair_ids.items(), key=lambda kv: kv[1]
        ):
            qa, qb = pair_qs[pid]
            slots = form_slots.setdefault(f0, [])
            k = form_k.get(f0, 0)
            base_a = k
            slots.append((base_a, feat_idx[pa_], feat_idx[pb_], qa))
            k += len(qa)
            base_b = k
            slots.append((base_b, feat_idx[pb_], feat_idx[pa_], qb))
            k += len(qb)
            form_k[f0] = k
            pair_slot_base[pid] = (base_a, base_b)
        # kernel output width — max over formations of their slot count
        # (the slot index space is formation-local; rows of narrower
        # formations leave the tail NaN)
        n_slots = max(form_k.values())
        # ONE pass builds the candidate-grain kernel input: base filter +
        # formation explode, each feature as its own wide double column
        # (wide numeric columns are zero-copy through Arrow; an array
        # column would arrive in pandas as per-row Python objects).
        fcols = [f"_f{i}" for i in range(len(feature_cols))]
        side_rows = (
            feat.filter(base_candidate_filter(warmup))
            .withColumn("formation", _formation_explode(formations))
            .select(
                "formation", "symbol", "rn", *payload,
                *[
                    F.col(c).cast("double").alias(a)
                    for c, a in zip(feature_cols, fcols)
                ],
            )
        )
        thr_schema = StructType(
            [
                StructField("formation", StringType()),
                StructField("symbol", feat.schema["symbol"].dataType),
                StructField("rn", feat.schema["rn"].dataType),
                StructField("close_time_ms", feat.schema["close_time_ms"].dataType),
                StructField(
                    "threshold_decimal_bps",
                    feat.schema["threshold_decimal_bps"].dataType,
                ),
                StructField("entry_price", DoubleType()),
                StructField("next_dir", feat.schema["next_dir"].dataType),
                *[StructField(a, DoubleType()) for a in fcols],
                StructField("thr_arr", ArrayType(DoubleType())),
            ]
        )
        out_cols = [f.name for f in thr_schema.fields]

        # the Arrow pass groups by a HASH BUCKET of (formation, symbol),
        # not the key itself (the grouped-pandas runner's fixed per-group
        # cost — see the pair-grain kernel below); the kernel sorts the
        # frame once and walks contiguous (formation, symbol) runs with
        # numpy boundary detection.  The slot thresholds leave the kernel
        # as ONE fixed-size-list Arrow array built zero-copy from a flat
        # numpy buffer (pandas ArrowDtype) — no per-row Python objects.
        def compute(pdf):
            pdf = pdf.sort_values(
                ["formation", "symbol", "rn"], kind="mergesort"
            ).reset_index(drop=True)
            fm = pdf["formation"].to_numpy()
            sym = pdf["symbol"].to_numpy()
            cols = [pdf[c].to_numpy("float64", na_value=np.nan) for c in fcols]
            n = len(pdf)
            flat = np.full(n * n_slots, np.nan)
            if n:
                change = (
                    np.flatnonzero((fm[1:] != fm[:-1]) | (sym[1:] != sym[:-1])) + 1
                )
                bounds = np.concatenate(([0], change, [n]))
                for s, e in zip(bounds[:-1], bounds[1:]):
                    memo: dict = {}
                    masks: dict = {}
                    for base, fi, gi, qs in form_slots[fm[s]]:
                        mk = (fi, gi) if fi <= gi else (gi, fi)
                        got = masks.get(mk)
                        if got is None:
                            m = ~(
                                np.isnan(cols[fi][s:e]) | np.isnan(cols[gi][s:e])
                            )
                            got = (m, m.tobytes())
                            masks[mk] = got
                        m, mbytes = got
                        key = (fi, qs, mbytes)
                        outs = memo.get(key)
                        if outs is None:
                            # all of an orientation's q's in one kernel
                            # pass: the sorted-window maintenance (the
                            # O(w) memmoves) is paid once per series,
                            # each extra q costs only its O(1) pick
                            outs = excl_quantile_stream_multi(
                                cols[fi][s:e][m], qs, lookback
                            )
                            memo[key] = outs
                        pos = np.flatnonzero(m) + s
                        for oi in range(len(qs)):
                            flat[pos * n_slots + base + oi] = outs[oi]
            la = pa.FixedSizeListArray.from_arrays(pa.array(flat), n_slots)
            pdf["thr_arr"] = pd.Series(la, dtype=pd.ArrowDtype(la.type))
            return pdf[out_cols]

        thr = _materialized(side_rows, ("formation", "symbol"), compute, thr_schema)
        # JVM-side decode: broadcast the pair table (with each
        # orientation's q-list and its slot indices), fan out ×pairs per
        # formation, read the pair's values out of the feature columns
        # and its thresholds out of the slot array, re-apply the pair's
        # non-NULL candidate mask, and explode the q1 × q2 combinations —
        # pure Tungsten generate, the same shape the pair-grain decode
        # uses, now AFTER the kernel.  Kernel NaNs survive the Arrow
        # list-array conversion as NaN doubles (scalar Double columns
        # would have turned them into NULLs), so ``_nan_to_null``
        # restores the downstream ``thr IS NOT NULL`` warm-gate
        # semantics.
        pair_sel = spark.createDataFrame(
            [
                (
                    pid, f0, pa_, pb_, feat_idx[pa_], feat_idx[pb_],
                    list(pair_qs[pid][0]),
                    [pair_slot_base[pid][0] + i
                     for i in range(len(pair_qs[pid][0]))],
                    list(pair_qs[pid][1]),
                    [pair_slot_base[pid][1] + i
                     for i in range(len(pair_qs[pid][1]))],
                )
                for (f0, pa_, pb_), pid in pair_ids.items()
            ],
            "pair_id int, formation string, pa string, pb string, "
            "pa_idx int, pb_idx int, qs_a array<double>, ia array<int>, "
            "qs_b array<double>, ib array<int>",
        )
        # bind the feature array ONCE per kernel row, BEFORE the ×pairs
        # join: get(array(f0..fK), idx) evaluated after the join would
        # re-construct the K-wide array once per joined row — pair-fanout
        # × K double copies (76 × 40 at full-grid width) for values the
        # kernel row already holds.  The projection below the join keeps
        # the construction at kernel-row grain, exactly like the
        # pair-grain path's ``_vals`` (guide §1.2: per-task work).
        ex = (
            thr.withColumn("_vals", F.array(*[F.col(a) for a in fcols]))
            .drop(*fcols)
            .join(F.broadcast(pair_sel), "formation")
            .withColumn("val_a", F.get("_vals", F.col("pa_idx")))
            .withColumn("val_b", F.get("_vals", F.col("pb_idx")))
            .filter(F.col("val_a").isNotNull() & F.col("val_b").isNotNull())
            .withColumn(
                "_ta",
                F.transform(F.col("ia"), lambda i: F.get(F.col("thr_arr"), i)),
            )
            .withColumn(
                "_tb",
                F.transform(F.col("ib"), lambda i: F.get(F.col("thr_arr"), i)),
            )
            .withColumn("_za", F.explode(F.arrays_zip("qs_a", "_ta")))
            .withColumn("_zb", F.explode(F.arrays_zip("qs_b", "_tb")))
            .select(
                "formation", "pa", "pb", "symbol", "rn", *payload,
                "val_a", "val_b",
                F.col("_za.qs_a").alias("q_a"),
                _nan_to_null(F.col("_za").getField("_ta")).alias("_thr_a"),
                F.col("_zb.qs_b").alias("q_b"),
                _nan_to_null(F.col("_zb").getField("_tb")).alias("_thr_b"),
            )
        )
    else:
        # --------------------------------------------------------------
        # PAIR-GRAIN kernel (the default): one kernel row per
        # (formation, feature-pair, bar).  ONE pass builds the side
        # relation: the per-candidate feature array and the formation
        # explode run once, the ×pairs broadcast join fans out row
        # *references*, and both orientations' values land as two columns
        # of the SAME row — no per-series explosion (the earlier
        # series-grain design moved 4× the rows into the Arrow pass and
        # needed a pivot join to reassemble them).
        pair_sel = spark.createDataFrame(
            [
                (pid, f0, pa_, pb_, feat_idx[pa_], feat_idx[pb_],
                 list(pair_qs[pid][0]), list(pair_qs[pid][1]))
                for (f0, pa_, pb_), pid in pair_ids.items()
            ],
            "pair_id int, formation string, pa string, pb string, "
            "pa_idx int, pb_idx int, qs_a array<double>, qs_b array<double>",
        )
        side_rows = (
            feat.filter(base_candidate_filter(warmup))
            .withColumn("formation", _formation_explode(formations))
            .withColumn(
                "_vals", F.array(*[F.col(c).cast("double") for c in feature_cols])
            )
            .join(
                F.broadcast(
                    pair_sel.select("pair_id", "formation", "pa_idx", "pb_idx")
                ),
                "formation",
            )
            .withColumn("val_a", F.get("_vals", F.col("pa_idx")))
            .withColumn("val_b", F.get("_vals", F.col("pb_idx")))
            .filter(F.col("val_a").isNotNull() & F.col("val_b").isNotNull())
            .select("pair_id", "symbol", "rn", *payload, "val_a", "val_b")
        )

        # thresholds come back as K wide scalar double columns (K = the
        # grid-wide max q-count per orientation, small: 1-4), NOT as one
        # array column — a pandas object column of per-row arrays creates
        # tens of millions of Python objects whose element-wise Arrow
        # conversion measured ~1.7× the whole kernel's cost at
        # full-matrix width; wide columns are K vectorized assigns and
        # stay zero-copy.  Pairs with fewer q's pad with NaN; the JVM
        # decode slices each pair's real q-count back off the assembled
        # array.
        k_a = max(len(qa) for qa, _ in pair_qs.values())
        k_b = max(len(qb) for _, qb in pair_qs.values())
        thr_schema = StructType(
            [
                StructField("pair_id", IntegerType()),
                StructField("symbol", feat.schema["symbol"].dataType),
                StructField("rn", feat.schema["rn"].dataType),
                StructField("close_time_ms", feat.schema["close_time_ms"].dataType),
                StructField(
                    "threshold_decimal_bps",
                    feat.schema["threshold_decimal_bps"].dataType,
                ),
                StructField("entry_price", DoubleType()),
                StructField("next_dir", feat.schema["next_dir"].dataType),
                StructField("val_a", DoubleType()),
                StructField("val_b", DoubleType()),
                *[StructField(f"thr_a_{i}", DoubleType()) for i in range(k_a)],
                *[StructField(f"thr_b_{i}", DoubleType()) for i in range(k_b)],
            ]
        )
        out_cols = [f.name for f in thr_schema.fields]

        # the Arrow pass groups by a HASH BUCKET of (pair, symbol), not
        # the (pair, symbol) key itself: Spark's grouped-pandas runner
        # pays a fixed per-group cost (its own Arrow batch + pandas frame
        # + function dispatch) that measured ~40 ms/group — at
        # full-matrix width (37K groups) that machinery was ~5× the
        # actual quantile math.  A bucket frame holds many whole groups
        # (the hash key contains the full group key, so no group ever
        # splits); the kernel sorts the frame once by (pair, symbol, rn)
        # and walks the contiguous group runs with numpy boundary
        # detection — per-group cost collapses to one Python loop
        # iteration + the quantile streams themselves.
        def compute(pdf):
            pdf = pdf.sort_values(
                ["pair_id", "symbol", "rn"], kind="mergesort"
            ).reset_index(drop=True)
            pid = pdf["pair_id"].to_numpy()
            sym = pdf["symbol"].to_numpy()
            va = pdf["val_a"].to_numpy("float64", na_value=np.nan)
            vb = pdf["val_b"].to_numpy("float64", na_value=np.nan)
            n = len(pdf)
            outs_a = [np.full(n, np.nan) for _ in range(k_a)]
            outs_b = [np.full(n, np.nan) for _ in range(k_b)]
            if n:
                change = (
                    np.flatnonzero((pid[1:] != pid[:-1]) | (sym[1:] != sym[:-1])) + 1
                )
                bounds = np.concatenate(([0], change, [n]))
                for s, e in zip(bounds[:-1], bounds[1:]):
                    qa, qb = pair_qs[int(pid[s])]
                    # all of an orientation's q's in one kernel pass: the
                    # sorted-window maintenance (the O(w) memmoves) is
                    # paid once per series, each extra q costs only its
                    # O(1) pick
                    for i, got in enumerate(
                        excl_quantile_stream_multi(va[s:e], qa, lookback)
                    ):
                        outs_a[i][s:e] = got
                    for i, got in enumerate(
                        excl_quantile_stream_multi(vb[s:e], qb, lookback)
                    ):
                        outs_b[i][s:e] = got
            for i in range(k_a):
                pdf[f"thr_a_{i}"] = outs_a[i]
            for i in range(k_b):
                pdf[f"thr_b_{i}"] = outs_b[i]
            return pdf[out_cols]

        thr = _materialized(side_rows, ("pair_id", "symbol"), compute, thr_schema)
        # JVM-side decode: assemble each orientation's wide columns into
        # an array, slice off the pair's real q-count, zip with its
        # q-list (broadcast) and explode — the q1 × q2 fan-out the old
        # design paid a shuffle join for, now pure Tungsten generate.
        # Kernel NaNs (scalar Doubles become NULL in the Arrow
        # conversion, but normalize anyway) keep the downstream ``thr IS
        # NOT NULL`` warm-gate semantics.
        thr_a_arr = F.array(*[F.col(f"thr_a_{i}") for i in range(k_a)])
        thr_b_arr = F.array(*[F.col(f"thr_b_{i}") for i in range(k_b)])
        ex = (
            thr.join(
                F.broadcast(
                    pair_sel.select(
                        "pair_id", "formation", "pa", "pb", "qs_a", "qs_b"
                    )
                ),
                "pair_id",
            )
            .withColumn(
                "_za",
                F.explode(
                    F.arrays_zip("qs_a", F.slice(thr_a_arr, 1, F.size("qs_a")))
                ),
            )
            .withColumn(
                "_zb",
                F.explode(
                    F.arrays_zip("qs_b", F.slice(thr_b_arr, 1, F.size("qs_b")))
                ),
            )
            .select(
                "formation", "pa", "pb", "symbol", "rn", *payload,
                "val_a", "val_b",
                F.col("_za.qs_a").alias("q_a"),
                _nan_to_null(F.col("_za").getField("1")).alias("_thr_a"),
                F.col("_zb.qs_b").alias("q_b"),
                _nan_to_null(F.col("_zb").getField("1")).alias("_thr_b"),
            )
        )
    # configs broadcast once, annotated with their pair key and which
    # orientation their feature1 reads — (q_a, q_b) combos no config
    # uses drop in this inner join (same fan-out the old pivot had)
    cfg_df = spark.createDataFrame(
        [
            (
                c.config_id, c.formation, c.feature1, c.q1, c.dir1,
                c.feature2, c.q2, c.dir2, FORMATIONS[c.formation].side,
                *((c.feature1, c.feature2, c.q1, c.q2, True)
                  if c.feature1 < c.feature2
                  else (c.feature2, c.feature1, c.q2, c.q1, False)),
            )
            for c in grid
        ],
        SWEEP_GRID_SCHEMA
        + ", pa string, pb string, q_a double, q_b double, f1_is_a boolean",
    )
    out = ex.join(F.broadcast(cfg_df), ["formation", "pa", "pb", "q_a", "q_b"])
    f1_is_a = F.col("f1_is_a")
    out = (
        out.withColumn(
            "f1_val", F.when(f1_is_a, F.col("val_a")).otherwise(F.col("val_b"))
        )
        .withColumn(
            "f2_val", F.when(f1_is_a, F.col("val_b")).otherwise(F.col("val_a"))
        )
        .withColumn(
            "f1_thr", F.when(f1_is_a, F.col("_thr_a")).otherwise(F.col("_thr_b"))
        )
        .withColumn(
            "f2_thr", F.when(f1_is_a, F.col("_thr_b")).otherwise(F.col("_thr_a"))
        )
    )
    return out.select(*_CAND_COLUMNS, "f1_thr", "f2_thr")


def _passes(val: str, direction: str, thr: str) -> F.Column:
    return F.when(F.col(direction) == ">", F.col(val) > F.col(thr)).otherwise(
        F.col(val) < F.col(thr)
    )


def signal_pass_col() -> F.Column:
    """Final gen600 signal gate: both thresholds warmed and both
    directional feature conditions hold."""
    return (
        F.col("f1_thr").isNotNull()
        & F.col("f2_thr").isNotNull()
        & _passes("f1_val", "dir1", "f1_thr")
        & _passes("f2_val", "dir2", "f2_thr")
    )


def sweep_funnel(cand_q: DataFrame) -> DataFrame:
    """Per-(config, symbol) funnel + next-bar hit metrics (the gen01-style
    hypothesis row, per config): candidates → signals → hits.  A hit is
    the next bar moving in the config's trade direction — up (next_dir=1)
    for LONG formations, down (next_dir=0) for SHORT ones (the reference's
    SHORT templates trade the downside: gen600_2up_s_template.sql barrier
    geometry)."""
    passed = signal_pass_col()
    want_dir = F.when(F.col("side") == "short", F.lit(0)).otherwise(F.lit(1))
    hit = passed & (F.col("next_dir") == want_dir)
    n_sig = F.sum(F.when(passed, 1).otherwise(0))
    n_hit = F.sum(F.when(hit, 1).otherwise(0))
    sc = F.nullif(n_sig.cast("double"), F.lit(0.0))
    hit_rate = n_hit / sc
    return cand_q.groupBy("config_id", "symbol").agg(
        F.count("*").alias("n_candidates"),
        n_sig.alias("n_signals"),
        n_hit.alias("hits"),
        hit_rate.alias("hit_rate"),
        (hit_rate - 0.5).alias("edge_pct"),
        ((hit_rate - 0.5) / F.sqrt(F.lit(0.25) / sc)).alias("z_score"),
    )


def sweep_signals(cand_q: DataFrame) -> DataFrame:
    """Surviving signal keys per config (input to the barrier stage);
    ``side`` rides along so SHORT configs get inverted barrier geometry."""
    return cand_q.filter(signal_pass_col()).select(
        "config_id",
        "symbol",
        "rn",
        "close_time_ms",
        "threshold_decimal_bps",
        "entry_price",
        "side",
    )


# ---------------------------------------------------------------------------
# gen400 n-feature conjunction sweep: the (feature1, feature2) pair shape
# generalized to feature-LIST configs (reference gen400_3feature_template.sql
# / gen400_4feature_template.sql: champion pattern + N simultaneous
# rolling-quantile feature filters + fixed 2:1 R:R barriers)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class NFeatureConfig:
    """One gen400-style config: N simultaneous feature filters over the
    champion candidate stream."""

    features: tuple[str, ...]
    qs: tuple[float, ...]
    dirs: tuple[str, ...]  # ">" / "<" per slot

    @property
    def config_id(self) -> str:
        d = {">": "gt", "<": "lt"}
        parts = [
            f"{f}_{d[dr]}{int(q * 100):02d}"
            for f, q, dr in zip(self.features, self.qs, self.dirs)
        ]
        return f"nf{len(self.features)}_" + "_".join(parts)


#: the reference's gen400 quantile/direction grids
#: (scripts/gen400/generate.sh:14-27): 6 combos for slots 1-2, p50-only
#: for slots 3+
GEN400_GRID_FULL = [
    (0.50, ">"), (0.50, "<"), (0.75, ">"), (0.25, "<"), (0.90, ">"), (0.10, "<"),
]
GEN400_GRID_P50 = [(0.50, ">"), (0.50, "<")]


def nfeature_grid(
    features: tuple[str, ...] = (
        "ofi", "price_impact", "turnover_imbalance", "aggression_ratio",
    ),
) -> list[NFeatureConfig]:
    """The reference's gen400 enumeration (scripts/gen400/generate.sh
    phases 2-3) over ``features``: every 3-subset × 6 × 6 × 2 combos plus
    every 4-subset × 6 × 6 × 2 × 2 — with the default 4 features that is
    C(4,3)·72 + C(4,4)·144 = 432 configs; the reference's full 8-feature
    run (4,032 + 10,080 configs) is the same call with its feature list."""
    from itertools import combinations

    grid: list[NFeatureConfig] = []
    for fs in combinations(features, 3):
        for g1 in GEN400_GRID_FULL:
            for g2 in GEN400_GRID_FULL:
                for g3 in GEN400_GRID_P50:
                    qs, dirs = zip(g1, g2, g3)
                    grid.append(NFeatureConfig(fs, qs, dirs))
    for fs in combinations(features, 4):
        for g1 in GEN400_GRID_FULL:
            for g2 in GEN400_GRID_FULL:
                for g3 in GEN400_GRID_P50:
                    for g4 in GEN400_GRID_P50:
                        qs, dirs = zip(g1, g2, g3, g4)
                        grid.append(NFeatureConfig(fs, qs, dirs))
    return grid


def nfeature_signals(
    feat: DataFrame,
    spark: SparkSession,
    grid: list[NFeatureConfig],
    warmup: int,
    lookback: int = SIGNALSET_LOOKBACK,
) -> DataFrame:
    """Surviving signals of every n-feature config (gen400 semantics):

    1. candidates = champion signal ∧ eligibility ∧ entry valid ∧ ALL
       config features non-NULL (candidate membership depends on the full
       feature list — the same Feature Quantile Trap rule as the pair
       sweep, so a candidate sequence is shared by exactly the configs
       with the same feature SET);
    2. per-slot rolling exclusive quantile over the candidate sequence;
    3. signal = candidate whose every slot passes its directional filter.

    Threshold work is deduped by feature set: the Arrow quantile pass runs
    once per distinct (feature_set, feature, q, symbol) — for the 432-
    config default grid that is 5 sets × ~11 (feature, q) series instead
    of 432 × 3-4 per-config slots, an ~25× reduction that grows with the
    grid exactly like the pair sweep's (formation, feature, q, partner)
    dedup.  Config-grain rows exist only for SURVIVING signals: each
    candidate aggregates its per-series pass directions into a small map
    once, and every config of the set is a row-local ``forall`` over a
    broadcast slot array against that map — no config × candidate rows,
    no config-grain shuffle."""
    from .signals import base_eligibility as _belig
    from .signals import champion_signal, eligibility

    feature_cols = sorted({f for c in grid for f in c.features})
    fmap = F.create_map(
        *chain.from_iterable((F.lit(c), F.col(c)) for c in feature_cols)
    )

    def set_id(c: NFeatureConfig) -> str:
        return "+".join(sorted(c.features))

    sets = sorted({set_id(c): sorted(c.features) for c in grid}.items())
    sets_df = spark.createDataFrame(
        [(sid, fs) for sid, fs in sets], "set_id string, features array<string>"
    )
    # distinct threshold series actually needed: (set, feature, q) — each
    # gets a small-int slot id assigned HERE, from the exact float q, so
    # the per-candidate pass-direction map and the per-config slot arrays
    # key on the same integers (a rounded-string key would couple Python
    # and Spark rounding modes and can collide for close quantiles)
    slot_ids = {
        t: i
        for i, t in enumerate(
            sorted({(set_id(c), f, q) for c in grid for f, q in zip(c.features, c.qs)})
        )
    }
    series = spark.createDataFrame(
        [
            (s, f, q, sid)
            for (s, f, q), sid in sorted(slot_ids.items(), key=lambda kv: kv[1])
        ],
        "set_id string, feature string, q double, slot_id int",
    )
    base = feat.filter(
        champion_signal() & eligibility(warmup) & _belig(warmup)
    ).select(
        "symbol", "rn", "close_time_ms", "threshold_decimal_bps",
        "entry_price", "next_dir", *feature_cols,
    )
    cand = (
        base.crossJoin(F.broadcast(sets_df))
        .filter(F.forall(F.col("features"), lambda f: F.element_at(fmap, f).isNotNull()))
        .drop("features")
    )
    sl = (
        cand.join(F.broadcast(series), "set_id")
        .withColumn("val", F.element_at(fmap, F.col("feature")))
        .select(
            "set_id", "feature", "q", "slot_id", "symbol", "rn", "close_time_ms",
            "threshold_decimal_bps", "entry_price", "val",
        )
    )

    thr_schema = StructType(
        [
            StructField("set_id", sl.schema["set_id"].dataType),
            StructField("feature", sl.schema["feature"].dataType),
            StructField("q", DoubleType()),
            StructField("slot_id", IntegerType()),
            StructField("symbol", sl.schema["symbol"].dataType),
            StructField("rn", sl.schema["rn"].dataType),
            StructField("close_time_ms", sl.schema["close_time_ms"].dataType),
            StructField(
                "threshold_decimal_bps", sl.schema["threshold_decimal_bps"].dataType
            ),
            StructField("entry_price", DoubleType()),
            StructField("val", DoubleType()),
            StructField("thr", DoubleType()),
        ]
    )
    out_cols = [f.name for f in thr_schema.fields]

    def compute(pdf):
        pdf = pdf.sort_values("rn", kind="mergesort").reset_index(drop=True)
        pdf["thr"] = excl_quantile_stream(
            pdf["val"].to_numpy("float64", na_value=np.nan),
            float(pdf["q"].iloc[0]),
            lookback,
        )
        return pdf[out_cols]

    # trade payload rides through the Arrow kernel (no join back to the
    # candidate stream), exactly like the fused pair path
    thr = sl.groupBy("set_id", "feature", "q", "slot_id", "symbol").applyInPandas(
        compute, thr_schema
    )

    # one candidate-grain row per (set, bar): a small (slot_id →
    # passing-direction) map replaces the config × slot fan-out — the
    # conjunction over every config of the set is then evaluated
    # row-locally with forall over a broadcast per-set config array, so
    # NO config-grain rows (let alone a config-grain shuffle) ever exist;
    # only surviving signals are exploded out
    pass_dir = (
        F.when(F.col("thr").isNotNull() & (F.col("val") > F.col("thr")), F.lit(">"))
        .when(F.col("thr").isNotNull() & (F.col("val") < F.col("thr")), F.lit("<"))
        .otherwise(F.lit("x"))
    )
    candm = (
        thr.withColumn("k", F.col("slot_id"))
        .withColumn("p", pass_dir)
        .groupBy(
            "set_id", "symbol", "rn", "close_time_ms",
            "threshold_decimal_bps", "entry_price",
        )
        .agg(F.map_from_entries(F.collect_list(F.struct("k", "p"))).alias("m"))
    )
    by_set: dict[str, list] = {sid: [] for sid, _ in sets}
    for c in grid:
        by_set[set_id(c)].append(
            (
                c.config_id,
                [
                    (slot_ids[(set_id(c), f, q)], d)
                    for f, q, d in zip(c.features, c.qs, c.dirs)
                ],
            )
        )
    sets_cfg = spark.createDataFrame(
        [(sid, sorted(cfgs)) for sid, cfgs in sorted(by_set.items())],
        "set_id string, cfgs array<struct<"
        "config_id:string, slots:array<struct<k:int,d:string>>>>",
    )
    surviving = F.filter(
        F.col("cfgs"),
        lambda cfg: F.forall(
            cfg["slots"],
            lambda s: F.coalesce(
                F.try_element_at(F.col("m"), s["k"]) == s["d"], F.lit(False)
            ),
        ),
    )
    return (
        candm.join(F.broadcast(sets_cfg), "set_id")
        .withColumn(
            "config_id",
            F.explode(F.transform(surviving, lambda cfg: cfg["config_id"])),
        )
        .select(
            "config_id", "symbol", "rn", "close_time_ms",
            "threshold_decimal_bps", "entry_price",
        )
        .withColumn("side", F.lit("long"))
    )


def sweep_trades(
    signals: DataFrame, fwd_bars: DataFrame, grid: DataFrame
) -> DataFrame:
    """Attach forward arrays to surviving signals (signals-first, AP-01)
    and run the shared barrier simulator per (config × profile)."""
    from .barriers import simulate_barriers

    joined = signals.join(
        fwd_bars.select("symbol", "rn", "fwd_highs", "fwd_lows", "fwd_opens", "fwd_closes"),
        ["symbol", "rn"],
    )
    # simulate_barriers reads the per-row ``side`` column carried from the
    # config grid: SHORT configs scan TP in forward lows / SL in highs
    return simulate_barriers(joined, grid, id_cols=("config_id",))

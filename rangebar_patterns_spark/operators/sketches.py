"""Deterministic cardinality sketches over the ``documents`` table:
KMV (k-minimum-values, Bar-Yossef et al. 2002) and HyperLogLog
(Flajolet et al. 2007) distinct-count estimates per source, for both
the word vocabulary and the 3-gram shingle space, plus a corpus-level
row built by MERGING the per-source sketches — never by re-scanning.

Why this is a first-class 100 TB operator: exact distinct counting is a
full shuffle of every distinct value; a sketch replaces it with BOUNDED
per-group state (256 max-rho registers for HLL, K minimum hashes for
KMV) that partial aggregation collapses map-side, and — the property
that matters on a 1000-executor cluster — sketches MERGE: registers
combine by max, k-min sets by union-then-retop, so per-partition /
per-source / per-day sketches roll up without touching the data again.
The ``__all__`` row here is computed exactly that way from the
per-source components (the global k smallest distinct hashes are
contained in the union of per-source k-min sets; register max is
associative), which certifies mergeability through the value hash.

Everything is deterministic and cross-engine exact: the hash is the
shared md5-prefix 60-bit integer convention (dedup.hexint), registers
and rho are pure integer bit math (top HLL_P bits / leading zeros of
the remainder via binary-string length — Spark ``bin`` and DuckDB
``bin`` both render minimal-width), the HLL harmonic sum is
integer-scaled (sum of 2^(53-M_j) as BIGINT — exact, order-free), and
the only transcendental (the small-range ln correction) follows the
round-6-after convention the DSIR log-ratios established.

The ``exact_distinct`` column is the certification ground truth (and
exactly the thing a 100 TB pipeline can no longer afford); the *_err
columns put each sketch's relative error through the hash compare.

Reference analogue: the reference's aggregate layer (SURVEY.md §2.5)
stops at exact distinct counts; sketches are beyond-parity scale
infrastructure like the rest of the LLM-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import hold
from .dedup import hexint, shingles_col, spread_narrow_scan, words_col

#: KMV keeps the K smallest distinct hashes per group; the estimator is
#: (K-1) * 2^60 / h_(K) (hashes uniform on [0, 2^60)); groups with
#: fewer than K distinct values fall back to their exact count — the
#: standard small-set rule
KMV_K = 64

#: HLL geometry: 2^HLL_P registers; the register index is the hash's
#: top HLL_P bits, rho the leading-zero count (+1) of the remaining
#: 60-HLL_P bits.  m=256 gives ~6.5% standard error — demo-sized; the
#: code takes any P
HLL_P = 8
HLL_M = 1 << HLL_P
#: bias constant alpha_m for m >= 128 (Flajolet et al. 2007, fig. 3) —
#: precomputed in Python and interpolated into BOTH engines so the
#: double is bit-identical
HLL_ALPHA_MM = (0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M
#: remainder width and max rho (= width + 1)
_HLL_W = 60 - HLL_P
_HLL_RHO_MAX = _HLL_W + 1


#: Count-Min sketch geometry (Cormode & Muthukrishnan 2005): CMS_D
#: independent hash rows of CMS_W buckets; point estimate = min over
#: rows of the bucket sum — always an OVERestimate, with error bounded
#: by e·N/W at confidence 1-e^-D.  D·W integers of state per sketch,
#: and sketches MERGE by cell-wise addition (sums are associative) —
#: the streaming/distributed heavy-hitters workhorse
CMS_D = 4
CMS_W = 512
#: heavy-hitter panel width: the exact top-N 3-gram phrases by
#: frequency, each carrying its CMS estimate so the overcount — real
#: collision error at ~16K distinct grams over 512 buckets — is
#: hash-certified.  Grams, not words: the fixture vocabulary is a fixed
#: 31-word pool, so word-level CMS would be collision-free and certify
#: nothing; frequent-PHRASE mining is also the real pipeline op (C4's
#: boilerplate detection, n-gram LM pruning)
HH_TOP = 32


def _cms_bucket(gram, d: int):
    """Row-d bucket: the shared md5-prefix int of the salted gram, mod
    CMS_W — the same cross-engine hash family as every sampler here
    ('cms{d}:' salts make the D rows independent)."""
    return hexint(F.concat(F.lit(f"cms{d}:"), gram)) % CMS_W


def _gram_counts(docs: DataFrame) -> DataFrame:
    base = docs.select(words_col().alias("w"))
    return (
        base.select(F.explode(shingles_col(words=F.col("w"))).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_cells(docs: DataFrame) -> DataFrame:
    """(d, bucket, cell): the Count-Min sketch of the corpus 3-gram
    frequencies — built from the gram-TYPE counts (one gram-vocabulary-
    sized aggregate; identical to hashing every occurrence, since cells
    are sums).  D·W rows of bounded state; two sketches over disjoint
    corpus halves ADD cell-wise into the corpus sketch
    (tests/test_sketches.py pins that merge identity)."""
    wc = _gram_counts(docs)
    rows = F.array(
        *[
            F.struct(
                F.lit(d).cast("int").alias("d"),
                _cms_bucket(F.col("gram"), d).alias("bucket"),
            )
            for d in range(CMS_D)
        ]
    )
    return (
        wc.select(F.explode(rows).alias("db"), "cnt")
        .groupBy(F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
        .agg(F.sum("cnt").alias("cell"))
    )


def heavy_hitters_panel(docs: DataFrame, top_n: int = HH_TOP) -> DataFrame:
    """The certified heavy-hitters panel: the exact top-``top_n``
    3-gram phrases by corpus frequency (TakeOrderedAndProject — no
    global shuffle), each probed against the Count-Min sketch.
    ``cms_estimate`` >= ``exact_count`` always (CMS never undercounts)
    and the overcount column puts the sketch's REAL collision error
    (~16K distinct grams over 512 buckets on the fixtures) through the
    hash compare — the same certify-the-sketch pattern as
    :func:`distinct_sketch_panel` (exact ground truth rides along; at
    100 TB only the D·W-cell sketch and the candidate probes
    survive)."""
    # parallelize the shingle explode when the corpus scans as one
    # partition (guide §2.5); gram counts and the (cnt desc, gram asc)
    # tie-broken top-N are partition-invariant
    docs = spread_narrow_scan(docs)
    wc = _gram_counts(docs)
    top = wc.orderBy(F.col("cnt").desc(), F.col("gram").asc()).limit(top_n)
    probes = top.select(
        "gram",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("int").alias("d"),
                        _cms_bucket(F.col("gram"), d).alias("bucket"),
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("db"),
    ).select("gram", "cnt", F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(cms_cells(docs)), ["d", "bucket"])
        .groupBy("gram", "cnt")
        .agg(F.min("cell").alias("cms_estimate"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("gram").asc())
    return est.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "gram",
        F.col("cnt").alias("exact_count"),
        "cms_estimate",
        (F.col("cms_estimate") - F.col("cnt")).alias("cms_overcount"),
    )


def _item_values(docs: DataFrame) -> DataFrame:
    """(source, item, v): every word and every 3-gram shingle occurrence
    with its sketch-space discriminator.  The word array is bound once
    per document (the shingles_col performance contract)."""
    base = docs.select("source", words_col().alias("w"))
    words = base.select(
        "source", F.lit("word").alias("item"), F.explode("w").alias("v")
    )
    shingles = base.select(
        "source",
        F.lit("shingle").alias("item"),
        F.explode(shingles_col(words=F.col("w"))).alias("v"),
    )
    return words.unionByName(shingles)


def _hll_regs(h_rel: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., reg, mj): the HLL register relation — ONE keyed
    aggregate with at most HLL_M rows of state per group (the honest
    sketch shape: partial max collapses map-side; nothing data-sized
    shuffles)."""
    w = F.col("h").bitwiseAND(F.lit((1 << _HLL_W) - 1))
    rho = F.when(w == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(w))
    )
    return (
        h_rel.select(
            *keys,
            F.shiftright(F.col("h"), _HLL_W).cast("long").alias("reg"),
            rho.cast("long").alias("rho"),
        )
        .groupBy(*keys, "reg")
        .agg(F.max("rho").alias("mj"))
    )


def _sketch_metrics(
    exact: DataFrame, kmv: DataFrame, regs: DataFrame, keys: list[str]
) -> DataFrame:
    """Join the sketch components on ``keys`` and evaluate both
    estimators.  The HLL harmonic sum is integer-scaled: sum of
    2^(rho_max - M_j) as BIGINT (exponents in [0, rho_max-1], at most
    HLL_M terms — exact and order-free), unobserved registers
    contribute 2^rho_max each; one rounding cast to double at the
    end."""
    pow2 = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RHO_MAX} - mj AS INT))"
    )
    hll = regs.groupBy(*keys).agg(
        F.sum(pow2).alias("s_obs"), F.count("*").cast("long").alias("nreg")
    )
    zeros = F.lit(HLL_M).cast("long") - F.col("nreg")
    s_int = F.col("s_obs") + zeros * F.lit(1 << _HLL_RHO_MAX).cast("long")
    s = s_int.cast("double") / F.lit(float(1 << _HLL_RHO_MAX))
    e_raw = F.lit(HLL_ALPHA_MM) / s
    hll_est = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (zeros > 0),
        F.round(
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros.cast("double")),
            6,
        ),
    ).otherwise(F.round(e_raw, 6))
    kmv_est = F.when(
        F.col("kmv_k") < KMV_K, F.col("kmv_k").cast("double")
    ).otherwise(
        F.round(
            F.lit(float((KMV_K - 1) * (1 << 60))) / F.col("kmv_hk").cast("double"),
            6,
        )
    )
    out = (
        exact.join(kmv, keys)
        .join(hll, keys)
        .select(
            *keys,
            "n_items",
            "exact_distinct",
            "kmv_k",
            kmv_est.alias("kmv_estimate"),
            zeros.alias("hll_zero_regs"),
            hll_est.alias("hll_estimate"),
        )
    )
    err = lambda est: F.round(  # noqa: E731 — rounded inputs, exact ratio
        F.col(est) / F.col("exact_distinct").cast("double") - 1.0, 6
    )
    return out.select(
        *keys,
        "n_items",
        "exact_distinct",
        "kmv_k",
        "kmv_estimate",
        err("kmv_estimate").alias("kmv_err"),
        "hll_zero_regs",
        "hll_estimate",
        err("hll_estimate").alias("hll_err"),
    )


def distinct_sketch_panel(docs: DataFrame) -> DataFrame:
    """The certified panel: one row per (source, item) plus the merged
    ``__all__`` rows per item.  Per-source rows sketch that source's
    distinct words / shingles; the ``__all__`` rows are built from the
    per-source SKETCH COMPONENTS (k-min union re-topped, register max),
    never from a second corpus scan — the mergeability contract the
    hash compare certifies (for KMV the merged result provably equals
    the global sketch: every global top-K hash is in its source's
    top-K)."""
    # a one-file corpus scans as ONE partition and the word/shingle
    # explode + md5 hashing below would run single-threaded until the
    # first aggregate (guide §2.5 input skew); every downstream result
    # is a keyed aggregate / distinct, so the spread cannot change values
    docs = spread_narrow_scan(docs)
    items = _item_values(docs)
    # the distinct hash relation feeds FOUR downstream components (exact,
    # k-min window, registers, global ground truth); without a persist
    # Spark recomputes the explode+md5+distinct subtree for each —
    # observed ~2x entry cost at sf0.1.  Vocabulary-sized (distinct
    # values, not occurrences), so safe to cache at any corpus scale.
    # Round 12: the occurrence count rides along as ``_c`` so the
    # occurrence-grain explode+md5 pass runs ONCE — the former separate
    # ``occ`` aggregate re-evaluated the whole items subtree just to
    # count occurrences (guide §1.2: don't compute things twice); both
    # n_items and exact_distinct now fall out of this one relation.
    hs = hold(
        items.select("source", "item", hexint(F.col("v")).alias("h"))
        .groupBy("source", "item", "h")
        .agg(F.count("*").cast("long").alias("_c"))
    )
    exact = hs.groupBy("source", "item").agg(
        F.count("*").cast("long").alias("exact_distinct"),
        F.sum("_c").cast("long").alias("n_items"),
    )
    kw = Window.partitionBy("source", "item").orderBy(F.col("h").asc())
    kmin = hs.withColumn("rn", F.row_number().over(kw)).filter(
        F.col("rn") <= KMV_K
    )
    kmv = kmin.groupBy("source", "item").agg(
        F.max("h").alias("kmv_hk"), F.count("*").cast("long").alias("kmv_k")
    )
    regs = _hll_regs(hs, ["source", "item"])
    per_source = _sketch_metrics(exact, kmv, regs, ["source", "item"])

    # --- merged corpus row from the per-source components -----------------
    occ_all = exact.groupBy("item").agg(
        F.sum("n_items").cast("long").alias("n_items")
    )
    # ground truth still needs the true global distinct (certification
    # only — the sketches themselves never re-scan)
    exact_all = (
        hs.select("item", "h")
        .distinct()
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("exact_distinct"))
        .join(occ_all, "item")
    )
    aw = Window.partitionBy("item").orderBy(F.col("h").asc())
    kmv_all = (
        kmin.select("item", "h")
        .distinct()
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("item")
        .agg(
            F.max("h").alias("kmv_hk"),
            F.count("*").cast("long").alias("kmv_k"),
        )
    )
    regs_all = regs.groupBy("item", "reg").agg(F.max("mj").alias("mj"))
    merged = _sketch_metrics(exact_all, kmv_all, regs_all, ["item"]).select(
        F.lit("__all__").alias("source"), "*"
    )
    return per_source.unionByName(merged)


#: weighted-reservoir sample size (Efraimidis & Spirakis 2006, A-ES):
#: each item draws the deterministic md5 uniform u and keeps key =
#: ln(u)/w — the k LARGEST keys are a weighted-without-replacement
#: sample (monotone transform of the paper's u^(1/w)).  Keys are
#: per-item pure functions, so per-partition top-k heaps merge — the
#: distributed/streaming weighted-downsampling shape a DoReMi-style
#: mixture pipeline needs at corpus scale
RESERVOIR_K = 64
RESERVOIR_SALT = "reservoir:"


def weighted_reservoir_sample(
    docs: DataFrame, k: int = RESERVOIR_K
) -> DataFrame:
    """(rank, doc_id, weight, res_key): the A-ES weighted sample of the
    corpus, weighted by document length in words — deterministic (the
    md5 u01 coin every sampler here uses), partition-invariant, and
    expressed as a TakeOrderedAndProject top-k, never a global sort.
    Zero-weight (wordless) documents are excluded, as in the paper
    (their key is ln(u)/0 → -inf).

    Cross-engine hardenings (round-11/12 ADVICE): the u01 coin is
    floored at 2^-60 — u=0 would make Spark's ``F.log(0)`` NULL (doc
    silently sorted last) while DuckDB's ``ln(0)`` hard-fails the whole
    oracle query; the RANKING chain is (round-6 ln quotient DESC, FULL
    unrounded quotient DESC, doc_id ASC) in both engines — the round-6
    head absorbs 1-ulp JVM-vs-libm ln differences at rank boundaries,
    while the full-key middle keeps genuinely different keys that merely
    collide at 6 decimals in true A-ES order instead of falling straight
    to the deterministic low-doc_id bias (keys occupy a small negative
    range, so 6-decimal collisions become routine at corpus scale).
    Only the round-6 key is reported.

    Oracle twin: plans/textops_oracle.reservoir_sql; pure-Python
    crosscheck in tests/test_sketches.py."""
    from .similarity import _u01

    w = F.size(words_col()).cast("double")
    u = F.greatest(_u01(F.col("doc_id"), RESERVOIR_SALT), F.lit(2.0**-60))
    full = F.log(u) / w
    key = F.round(full, 6)
    order = [
        F.col("res_key").desc(),
        F.col("_full_key").desc(),
        F.col("doc_id").asc(),
    ]
    ranked = (
        docs.select(
            "doc_id",
            w.alias("weight"),
            key.alias("res_key"),
            full.alias("_full_key"),
        )
        .filter(F.col("weight") > 0)
        .orderBy(*order)
        .limit(k)
    )
    rw = Window.orderBy(*order)
    return ranked.select(
        F.row_number().over(rw).cast("long").alias("rank"),
        "doc_id",
        F.col("weight").cast("long").alias("weight"),
        "res_key",
    )


#: q-digest geometry (Shrivastava et al. 2004): fixed integer universe
#: [0, 2^QD_L), compression factor QD_K.  A node of the complete binary
#: tree survives compression only while its sibling-pair sum stays under
#: T = floor(n/QD_K), so the digest holds O(QD_K * QD_L) counts — bounded
#: state — and two digests MERGE by node-wise count addition followed by
#: one re-compression (sums are associative; the merge law the corpus row
#: certifies).  Everything is integer bit math on the shared node ids, so
#: the DuckDB twin is hash-exact; the quantile answer is ONE-SIDED
#: (estimate >= exact, like the CMS overcount) because a node's range is
#: charged at its right endpoint.
QD_L = 12
QD_U = 1 << QD_L
QD_K = 64
#: certified quantiles as exact rationals (num, den, label) — the target
#: rank ceil(q*n) is computed in INTEGER arithmetic ((num*n + den - 1)
#: div den) in both engines, never through float ceil
QD_QS = [(1, 2, "q50"), (9, 10, "q90"), (99, 100, "q99")]


def _qd_compress(nodes: DataFrame, trel: DataFrame) -> DataFrame:
    """One full bottom-up q-digest compression of ``nodes`` (source, id,
    cnt) under per-source threshold ``trel`` (source, t): level by level
    (leaf ids have bit_length QD_L+1, the root's children 2), each
    sibling pair whose sum — PLUS any count already sitting on the
    parent, the paper's rule; parents pre-exist when re-compressing
    MERGED digests — fits under t is absorbed into the parent.

    Executed as ONE Arrow-batched applyInPandas over the per-source
    histogram groups, the sanctioned custom-stateful-operator shape:
    the input is bounded by construction (at most U distinct clamped
    values plus merged ancestors per group — this is exactly the
    bounded state that makes the sketch a sketch), the compression is
    pure integer Python identical to the tests' reference
    implementation, and the one shuffle is the groupBy(source).  A
    DataFrame-only level loop was tried first and rejected: QD_L
    sequential eagerly-checkpointed rounds cost ~1 s of fixed job
    overhead each at ANY data size (and without per-level plan
    detachment, Spark's size-only stats estimation chains through the
    checkpoint history and planning time doubles per level — measured
    0.6 s -> 244 s/level on the merged pass).  The DuckDB twin
    (plans/textops_oracle.qdigest_sql) keeps the unrolled pure-SQL
    levels, so the cross-engine check stays independent of this
    Python."""
    import pandas as pd

    def compress(pdf: pd.DataFrame) -> pd.DataFrame:
        t = int(pdf["t"].iloc[0])
        nd = dict(zip((int(i) for i in pdf["id"]), (int(c) for c in pdf["cnt"])))
        for bl in range(QD_L + 1, 1, -1):
            pairs: dict[int, int] = {}
            for i, c in list(nd.items()):
                if i.bit_length() == bl:
                    pairs[i >> 1] = pairs.get(i >> 1, 0) + c
            for pid, csum in pairs.items():
                total = csum + nd.get(pid, 0)
                if total <= t:
                    nd.pop(2 * pid, None)
                    nd.pop(2 * pid + 1, None)
                    nd[pid] = total
        return pd.DataFrame(
            {
                "source": pdf["source"].iloc[0],
                "id": list(nd.keys()),
                "cnt": list(nd.values()),
            }
        )

    return (
        nodes.join(F.broadcast(trel), "source")
        .groupBy("source")
        .applyInPandas(compress, "source string, id long, cnt long")
    )


def _qd_quantiles(
    nodes: DataFrame, exact_hist: DataFrame, item: str
) -> DataFrame:
    """Evaluate the certified quantile panel from a compressed digest:
    for each (source, q) the digest answer is the smallest node right
    endpoint whose cumulative count reaches the integer target rank
    (nodes ordered by (vmax asc, vmin desc) — descendants before
    ancestors, the paper's traversal), alongside the exact answer from
    the uncompressed histogram and the one-sided error."""
    h = f"CAST({QD_L + 1} - length(bin(id)) AS INT)"
    vmin = F.expr(f"shiftleft(id, {h}) - {QD_U}")
    vmax = F.expr(
        f"shiftleft(id, {h}) - {QD_U} "
        f"+ shiftleft(CAST(1 AS BIGINT), {h}) - 1"
    )
    spans = nodes.select(
        "source", "cnt", vmin.alias("vmin"), vmax.alias("vmax")
    )
    cw = (
        Window.partitionBy("source")
        .orderBy(F.col("vmax").asc(), F.col("vmin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = spans.select(
        "source", "vmax", F.sum("cnt").over(cw).alias("cum")
    )
    sizes = nodes.groupBy("source").agg(
        F.sum("cnt").alias("n"), F.count("*").cast("long").alias("qd_nodes")
    )
    qs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(num).alias("num"),
                    F.lit(den).alias("den"),
                    F.lit(lab).alias("lab"),
                )
                for num, den, lab in QD_QS
            ]
        )
    ).alias("q")
    targets = sizes.select("source", "n", "qd_nodes", qs).select(
        "source",
        "n",
        "qd_nodes",
        F.col("q.lab").alias("lab"),
        # integer target rank ceil(q*n) = (num*n + den - 1) div den —
        # never through float ceil (the cross-engine convention)
        F.expr(
            "CAST((q.num * n + q.den - 1) DIV q.den AS BIGINT)"
        ).alias("r"),
    )
    est = (
        targets.join(cum, "source")
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("source", "lab", "n", "qd_nodes")
        .agg(F.min("vmax").alias("qd_estimate"))
    )
    ew = (
        Window.partitionBy("source")
        .orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecum = exact_hist.select(
        "source", "v", F.sum("cnt").over(ew).alias("cum")
    )
    exact = (
        targets.join(ecum, "source")
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("source", "lab")
        .agg(F.min("v").alias("exact_q"))
    )
    return est.join(exact, ["source", "lab"]).select(
        "source",
        F.concat(F.lit(item + "_"), F.col("lab")).alias("item"),
        F.col("n").alias("n_values"),
        "exact_q",
        "qd_estimate",
        (F.col("qd_estimate") - F.col("exact_q")).alias("qd_err"),
        "qd_nodes",
    )


def qdigest_quantile_panel(vals: DataFrame, item: str) -> DataFrame:
    """(source, item, n_values, exact_q, qd_estimate, qd_err, qd_nodes):
    per-source q-digest quantiles of an integer observation column plus
    a corpus row built by MERGING the per-source digests (node-wise
    count addition, one re-compression under the global threshold) —
    never by re-sketching the data.  ``vals`` is one row per observation
    with columns (source, v); v is CLAMPED here into [0, QD_U) — the
    round-12 ADVICE hardening: an out-of-range value would give the leaf
    id a bit_length beyond QD_L+1, the compression would skip it, and
    the span math would compute a negative shift that Spark's shiftleft
    masks while DuckDB's << does not (silent divergence instead of a
    failure).  The oracle twin (plans/textops_oracle.qdigest_sql)
    applies the same greatest/least clamp.  ``item`` labels the
    statistic.  The exact quantile rides along as certification ground
    truth; qd_err >= 0 always (one-sided, like the CMS overcount) and
    the bounded node count proves the state never grows with the corpus
    — the property that replaces the engine's exact type-6 window
    quantile (functions/series_quantile.py) when a rolling/grouped
    quantile has to run over 100 TB."""
    vals = vals.withColumn(
        "v",
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.col("v").cast("long"), F.lit(QD_U - 1).cast("long")),
        ),
    )
    hist = (
        vals.groupBy("source", "v")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint()
    )
    leaves = hist.select(
        "source", (F.col("v") + F.lit(QD_U)).alias("id"), "cnt"
    )
    trel = hist.groupBy("source").agg(
        F.floor(F.sum("cnt") / QD_K).cast("long").alias("t")
    )
    # the digest relations are read by several downstream branches
    # (spans, sizes, the merged re-compression) — checkpoint the bounded
    # output once so the Arrow compress pass runs once per digest, not
    # once per consumer
    per_source = _qd_compress(leaves, trel).localCheckpoint()
    panel_src = _qd_quantiles(per_source, hist, item)

    merged_nodes = (
        per_source.groupBy("id")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("__all__").alias("source"), "id", "cnt")
    )
    t_all = merged_nodes.groupBy("source").agg(
        F.floor(F.sum("cnt") / QD_K).cast("long").alias("t")
    )
    merged = _qd_compress(merged_nodes, t_all).localCheckpoint()
    hist_all = hist.groupBy("v").agg(F.sum("cnt").alias("cnt")).select(
        F.lit("__all__").alias("source"), "v", "cnt"
    )
    panel_all = _qd_quantiles(merged, hist_all, item)
    return panel_src.unionByName(panel_all)


# ---------------------------------------------------------------------------
# Deterministic mergeable FLOAT-domain quantile summary (round 12)
# ---------------------------------------------------------------------------

#: geometry of the MRL-style summary (Manku, Rajagopalan & Lindsay,
#: SIGMOD 1998 "Approximate Medians and other Quantiles in One Pass and
#: with Limited Memory" — the collapse operation, made DETERMINISTIC):
#: each summary holds at most MRL_M weighted items; level-0 chunks of
#: MRL_CHUNK observations compact in parallel, chunk summaries merge
#: per source, source summaries merge into the corpus summary.  The
#: q-digest (above) covers bounded INTEGER universes; this summary is
#: the float-domain mergeable path (trade returns, unbounded metrics —
#: the reference's eval quantile family, eval/extraction.py:208-209)
#: where KLL/t-digest would be used in production: the deterministic
#: rank-subsampling collapse gives the same O((levels)/M) rank-error
#: shape with NO coin flips, so the DuckDB twin and the Spark plan are
#: hash-identical and the merge law is certifiable.
MRL_M = 128
MRL_CHUNK = 1024


def _mrl_compact(
    items: DataFrame, keys: list[str], tie_cols: list[str], m: int = MRL_M
) -> DataFrame:
    """One deterministic collapse: per ``keys`` group, sort the weighted
    items by ``tie_cols`` (a total order), take the running weight, and
    keep exactly the items whose weight span crosses a multiple of
    step = ceil(total/m) — the smallest item at each of <= m target
    ranks.  A kept item absorbs the weight of everything discarded
    since the previous kept item, so TOTAL WEIGHT IS PRESERVED exactly
    (the last item's running weight is the group total) — the invariant
    the quantile targets rely on.  Groups at or under m pass through
    unchanged (step = 1 keeps every row).  Two window passes + one
    filter; no Python, no explosion."""
    wspec = Window.partitionBy(*keys).orderBy(*tie_cols)
    d = (
        items.withColumn(
            "_cumw",
            F.sum("w").over(
                wspec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("_tw", F.sum("w").over(Window.partitionBy(*keys)))
        .withColumn("_step", F.expr(f"(_tw + {m - 1}) DIV {m}"))
    )
    kept = d.filter(
        F.expr("(_cumw DIV _step) > ((_cumw - w) DIV _step)")
    )
    return kept.withColumn(
        "w", F.col("_cumw") - F.lag("_cumw", 1, 0).over(wspec)
    ).drop("_cumw", "_tw", "_step")


#: certified quantile targets — the q-digest's exact rationals
MRL_QS = QD_QS


def mergeable_quantile_panel(obs: DataFrame, item: str) -> DataFrame:
    """(source, item, q_label, n_values, n_items, est_q, exact_q,
    rank_target, rank_est, rank_err, err_bound, within_bound): per-source
    MRL quantile summaries of a FLOAT observation column plus the corpus
    row built by MERGING the per-source summaries (union of weighted
    items, one more collapse) — never by re-sketching the data.

    ``obs`` is one row per observation with columns (source, id, v): id
    a per-source unique ordinal (the deterministic tie-break), v the
    float value (round-6 by the caller's convention).

    Scale shape: stage 1 compacts fixed-size chunks IN PARALLEL (the
    map-side partial — each group is <= MRL_CHUNK rows by construction);
    stage 2 merges a source's chunk summaries (<= M items each, so the
    group is summary-sized); stage 3 merges the per-source summaries.
    Exactly the KMV/HLL/q-digest rollup shape for unbounded floats: at
    100 TB every executor compacts its chunks locally and ships <= M
    weighted items per chunk — state never grows with the data.

    Certification: exact quantiles ride along as ground truth (computed
    from the value-grain histogram — bounded by distinct round-6
    values); rank_err = |exact rank of the estimate - target rank| and
    err_bound = the sum of the collapse steps on the summary's lineage
    (stage-1 max chunk step + stage-2 step, plus every source's
    contribution + the stage-3 step for the corpus row) — the MRL
    analysis' additive error, certified per row by within_bound.  The
    DuckDB twin (plans/textops_oracle.mrl_quantiles_sql) replays the
    identical deterministic collapse, so every column hash-matches;
    tests/test_sketches.py pins a pure-Python third implementation,
    the merge law, and the bound."""
    one = F.lit(1).cast("long")
    c0 = obs.select(
        "source",
        ((F.col("id") - 1) / MRL_CHUNK).cast("long").alias("chunk"),
        "v",
        one.alias("w"),
        F.col("id").cast("long").alias("id"),
    )
    c1 = _mrl_compact(c0, ["source", "chunk"], ["v", "id"])
    # the per-source summaries feed THREE consumers (the corpus merge,
    # the final cumsum, the size certification) — checkpoint the bounded
    # relation once so the collapse subtree isn't replayed per consumer
    # (the q-digest discipline)
    s2 = _mrl_compact(c1.drop("chunk"), ["source"], ["v", "id"]).localCheckpoint()
    a0 = s2.select(
        F.lit("__all__").alias("source"),
        F.col("source").alias("_src"),
        "v",
        "w",
        "id",
    )
    a3 = _mrl_compact(a0, ["source"], ["v", "_src", "id"])
    # ids are only unique per ORIGINAL source, so the merged row's total
    # order must carry the source tiebreak — without it the cumulative
    # weights at (v, id) ties would depend on engine-internal row order
    summaries = s2.withColumn("_tb", F.col("source")).unionByName(
        a3.withColumnRenamed("_src", "_tb")
    )
    scum = summaries.withColumn(
        "cumw",
        F.sum("w").over(
            Window.partitionBy("source")
            .orderBy("v", "_tb", "id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )

    # --- exact ground truth from the value-grain histogram --------------
    hist = obs.groupBy("source", "v").agg(
        F.count("*").cast("long").alias("cnt")
    )
    hist_all = hist.groupBy("v").agg(F.sum("cnt").alias("cnt")).select(
        F.lit("__all__").alias("source"), "v", "cnt"
    )
    hcum = hist.unionByName(hist_all).withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("source")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).localCheckpoint()
    ns = hcum.groupBy("source").agg(
        F.max("cum").cast("long").alias("n_values")
    )

    # --- collapse-step bounds from the observation counts ---------------
    st1 = (
        obs.groupBy("source", (F.expr(f"(id - 1) DIV {MRL_CHUNK}")).alias("chunk"))
        .agg(F.count("*").alias("cn"))
        .groupBy("source")
        .agg(
            F.max(F.expr(f"(cn + {MRL_M - 1}) DIV {MRL_M}"))
            .cast("long")
            .alias("b1")
        )
    )
    st2 = ns.filter(F.col("source") != "__all__").select(
        "source",
        F.expr(f"(n_values + {MRL_M - 1}) DIV {MRL_M}").alias("b2"),
    )
    bsrc = st1.join(st2, "source").select(
        "source", (F.col("b1") + F.col("b2")).alias("err_bound")
    )
    ball = bsrc.agg(F.sum("err_bound").alias("_s")).crossJoin(
        ns.filter(F.col("source") == "__all__").select(
            F.expr(f"(n_values + {MRL_M - 1}) DIV {MRL_M}").alias("b3")
        )
    ).select(
        F.lit("__all__").alias("source"),
        (F.col("_s") + F.col("b3")).alias("err_bound"),
    )
    bounds = bsrc.unionByName(ball)

    # --- estimates vs targets -------------------------------------------
    targets = obs.sparkSession.createDataFrame(
        [(num, den, lab) for num, den, lab in MRL_QS],
        "qnum long, qden long, q_label string",
    )
    tgt = F.expr("(qnum * n_values + qden - 1) DIV qden")
    est = (
        scum.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(targets))
        .withColumn("rank_target", tgt)
        .filter(F.col("cumw") >= F.col("rank_target"))
        .groupBy("source", "q_label", "n_values", "rank_target")
        .agg(F.min("v").alias("est_q"))
    )
    exact = (
        hcum.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(targets))
        .withColumn("rank_target", tgt)
        .filter(F.col("cum") >= F.col("rank_target"))
        .groupBy("source", "q_label")
        .agg(F.min("v").alias("exact_q"))
    )
    # a round-6 float domain is heavily tied, so the estimate's exact
    # rank is a RANGE [cum - cnt + 1, cum]; the honest error is the
    # distance from the target to that range (zero when the estimate is
    # any valid answer for the target rank)
    rank_est = est.join(
        hcum.select("source", "v", "cnt", "cum"),
        (est.source == hcum.source) & (est.est_q == hcum.v),
    ).select(
        est.source,
        "q_label",
        (F.col("cum") - F.col("cnt") + 1).cast("long").alias("rank_lo"),
        F.col("cum").cast("long").alias("rank_hi"),
    )
    n_items = summaries.groupBy("source").agg(
        F.count("*").cast("long").alias("n_items")
    )
    out = (
        est.join(exact, ["source", "q_label"])
        .join(rank_est, ["source", "q_label"])
        .join(F.broadcast(n_items), "source")
        .join(F.broadcast(bounds), "source")
    )
    err = F.greatest(
        F.lit(0).cast("long"),
        (F.col("rank_lo") - F.col("rank_target")).cast("long"),
        (F.col("rank_target") - F.col("rank_hi")).cast("long"),
    )
    return out.select(
        "source",
        F.lit(item).alias("item"),
        "q_label",
        F.col("n_values").cast("long").alias("n_values"),
        "n_items",
        "est_q",
        "exact_q",
        F.col("rank_target").cast("long").alias("rank_target"),
        "rank_lo",
        "rank_hi",
        err.alias("rank_err"),
        F.col("err_bound").cast("long").alias("err_bound"),
        (err <= F.col("err_bound")).cast("string").alias("within_bound"),
    )

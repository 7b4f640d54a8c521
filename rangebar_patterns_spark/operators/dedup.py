"""Training-data deduplication operators over the ``documents`` /
``embeddings`` tables: exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

These are beyond-reference extensions (the reference's dedup surface is
config-level anti-joins only — SURVEY.md §2.7 U3); they follow the same
engine discipline: pure built-in expressions (md5 / array HOFs / joins),
zero Python on the hot path, DuckDB oracle twins in
plans/textops_oracle.py.

Scale design:
  * exact dedup — hash groupBy, one shuffle on the digest;
  * n-gram Jaccard — shingle-explode + equi-join on shingle: never
    all-pairs; worst case bounded by shingle posting-list sizes (hot
    shingles should be stop-listed at 100 TB, same as web-dedup practice);
  * MinHash+LSH — banded signatures turn near-dup search into an
    equi-join on (band, key) buckets; candidate verification joins back
    to shingle sets (the classic MMDS ch.3 pipeline);
  * SimHash — 32-bit fingerprints; candidate pairs via the pigeonhole
    band join (hamming <= MAX_HAMMING implies at least one of 4 8-bit
    chunks equal), then exact popcount verify — no all-pairs stage;
  * embedding near-dup — sign-bucket LSH (first SIGN_BITS dims) as the
    candidate filter, exact cosine verify inside buckets.

All string→int hashing goes through md5 prefixes (identical in Spark and
DuckDB); list folds are sequential in both engines, so results are exact.
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SHINGLE_N = 3
MINHASH_SEEDS = 8
MINHASH_BANDS = 4  # rows-per-band = MINHASH_SEEDS // MINHASH_BANDS = 2
JACCARD_THRESHOLD = 0.5
LSH_JACCARD_FLOOR = 0.3
SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4
MAX_HAMMING = 3
# near-dup cosine cut: the synthetic embeddings top out near 0.49 in-bucket,
# so 0.4 keeps the correctness gate populated (real corpora would use ~0.9+)
COSINE_DUP_THRESHOLD = 0.4
SIGN_BITS = 8
HASH_MOD = 1_000_000_007


def words_col(text: Column = None) -> Column:
    t = F.col("text") if text is None else text
    return F.filter(F.split(t, " "), lambda x: x != "")


def shingles_col(n: int = SHINGLE_N, words: Column | None = None) -> Column:
    """Word n-gram shingles (values match the DuckDB twin's 1-based
    slice formulation).

    Performance contract: Spark does NOT eliminate common subexpressions
    across lambda boundaries, so a lambda referencing an outer
    EXPRESSION re-evaluates it once PER ARRAY ELEMENT — with the default
    ``words_col()`` (a regex split) that is O(words^2) splits per
    document.  Hot paths must bind the word array as a real attribute in
    a prior select and pass it via ``words`` (observed 6.5x on the sf1
    corpus); the construction below uses per-position ``F.get`` instead
    of ``F.slice`` for the same reason (one element access per gram
    word, not a subarray copy)."""
    w = words_col() if words is None else words
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.get(w, i + j - 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def hexint(c: Column) -> Column:
    """63-bit integer from the md5 prefix — the shared cross-engine
    string->int hash (DuckDB: CAST('0x' || substr(md5(x),1,15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup via content digest: duplicate groups with canonical
    (min) doc_id — the keep-one representative convention."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


#: spread sizing floor: input bytes each spread task should own.  Per-doc
#: text pipelines expand every input byte into orders of magnitude of
#: downstream CPU (O(words²) regex splits, shingle explode + md5), so the
#: floor is deliberately tiny relative to a scan split — it exists only to
#: stop a KB-scale corpus (the sf0.001/sf0.01 correctness fixtures, or the
#: sf0.1 tier's 0.6 MB documents file) from fanning into session-width
#: tasks whose scheduling overhead exceeds their work (VERDICT r12 #2:
#: sketch_heavy_hitters ran FASTER on 8 cores than 32 at sf0.1).  At the
#: sf1 bench tier the derived width already reaches session parallelism
#: (911 KB / 24 KB > 32), so the r12 sf1 wins are untouched; at 100 TB the
#: scan is wider than the session and the whole function is a no-op.
SPREAD_BYTES_PER_TASK = 24576


def spread_narrow_scan(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Hash-repartition a document scan toward session parallelism when
    the source produced fewer partitions — a small corpus stored as one
    parquet file scans as ONE partition, and every narrow per-doc
    transformation downstream (shingle explode, token hashing) then runs
    single-threaded until the first shuffle (measured ~47 s of serialized
    wall on the sf1 bench).  Round 13 (§2.5, VERDICT r12 #2): the spread
    width derives from the estimated input size (plan statistics — file
    bytes for a parquet scan) at :data:`SPREAD_BYTES_PER_TASK` per task,
    capped at session parallelism, instead of always-N — so a KB-scale
    fixture scan gets a proportionate (or no) Exchange while any real
    corpus still spreads to the full session.  At real corpus scale the
    scan is already wider than the session default and this is a no-op —
    the guard keeps the extra shuffle from ever touching a big input."""
    spark = docs.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        est_bytes = int(
            docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except (AttributeError, Py4JError) as exc:  # Connect or stats-less plans
        warnings.warn(
            f"spread_narrow_scan: no plan statistics ({type(exc).__name__}); "
            f"spreading to the session width {n}",
            RuntimeWarning,
            stacklevel=2,
        )
        est_bytes = n * SPREAD_BYTES_PER_TASK
    width = max(1, min(n, -(-est_bytes // SPREAD_BYTES_PER_TASK)))
    if docs.rdd.getNumPartitions() >= width:
        return docs
    return docs.repartition(width, F.col(key))


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct — the posting-list relation.

    Shingles are 63-bit ``hexint`` hashes of the n-gram strings, not the
    strings themselves (standard web-dedup practice): posting lists and
    verify arrays carry longs instead of ~25-char strings, which shrinks
    the posting shuffle ~3× and makes the 10M-pair ``array_intersect``
    verify hash fixed-width ints.  Collisions under-merge two distinct
    shingles with probability ~n²/2⁶⁴ (even a 10¹¹-shingle corpus expects
    only a few hundred corpus-wide) — the DuckDB twin hashes identically,
    so cross-engine exactness is by construction, not collision-luck."""
    return (
        spread_narrow_scan(docs)
        .select("doc_id", words_col().alias("_w"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(shingles_col(words=F.col("_w")), hexint)
                )
            ).alias("shingle"),
        )
    )


def _shingle_arrays(
    docs: DataFrame,
    max_df: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sh_arr, n_sh): distinct shingles per doc, ordered
    rarest-first (global posting-list frequency asc, shingle asc) — the
    PPJoin canonical order that makes prefix filtering maximally selective.

    ``max_df`` is the hot-shingle guard (standard web-dedup stop-listing):
    shingles whose document frequency exceeds it are dropped from the
    representation entirely, so similarity is computed over the remaining
    vocabulary.  At 100 TB this is what keeps one boilerplate shingle
    (a license header, a template footer) from producing an O(N²) posting
    list that serializes a single reducer: the candidate join's fan-out is
    bounded by max_df² per shingle.  The trade-off is explicit and
    intended — pairs whose ONLY overlap is stop-listed boilerplate no
    longer count as near-duplicates.  None (default) disables the guard,
    preserving exact-Jaccard parity with the uncapped oracle."""
    # posting-list frequency via groupBy + join-back, NOT a window over
    # the exploded relation: a window partitioned by shingle must
    # sort-shuffle the full posting relation and serializes behind the
    # hottest shingle (AQE splits skewed JOIN partitions, never window
    # partitions).  The aggregate gets map-side combine (vocab-sized
    # output), and the join back is skew-splittable — or a plain
    # broadcast when the vocabulary fits, which AQE picks on its own.
    # Cost: the shingling expression evaluates twice (agg input + join
    # left side) — per-row string work, cheap next to a skewed sort.
    # Callers holding the posting relation materialized (the catalog
    # persists it while building its arrs side-cache) pass it via ``sh``
    # so the raw-text scan runs ONCE.
    if sh is None:
        sh = _doc_shingles(docs)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("_f"))
    sh = sh.join(freq, "shingle")
    if max_df is not None:
        sh = sh.filter(F.col("_f") <= max_df)
    return (
        sh.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_f"), F.col("shingle")))
                ),
                lambda s: s["shingle"],
            ).alias("sh_arr")
        )
        .withColumn("n_sh", F.size("sh_arr").cast("long"))
    )


def _verify_jaccard(
    cand: DataFrame,
    arrs: DataFrame,
    threshold: float,
    broadcast_arrs: bool = False,
) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs via
    ``array_intersect`` on the full shingle arrays.

    ``broadcast_arrs`` forces a broadcast-hash join of the array side.
    AQE sizes the *persisted* shingle relation by its in-memory footprint
    (arrays inflate ~3× vs their on-disk estimate), so a corpus that
    easily fits executor memory can still be planned as a sort-merge —
    which sorts the candidate-pair fact side twice (measured ~10× slower
    at a 12.7M-pair verify).  Callers that know the doc population is
    dimension-sized opt in; the default leaves the planner free, which is
    the only safe choice at corpus scales where ``arrs`` itself is big."""
    side_a = arrs.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("_sa"), F.col("n_sh").alias("_na")
    )
    side_b = arrs.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("_sb"), F.col("n_sh").alias("_nb")
    )
    if broadcast_arrs:
        side_a, side_b = F.broadcast(side_a), F.broadcast(side_b)
    out = cand.join(side_a, "doc_a").join(side_b, "doc_b")
    # let-binding via a single-element transform: the optimizer pushes the
    # jaccard filter into the verify join's condition, where a naive
    # ``inter``-twice formula evaluates array_intersect TWICE per candidate
    # pair (observed in the physical plan; codegen does not CSE inside join
    # conditions) and a third time in the survivor projection.  Binding the
    # intersect size to the lambda variable makes every use share ONE
    # evaluation wherever the expression lands — identical arithmetic on
    # identical values, so outputs are byte-equal.
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("long")
    pair = F.element_at(
        F.transform(
            F.array(inter),
            lambda i: F.struct(
                i.alias("inter"),
                F.round(
                    i.cast("double")
                    / (F.col("_na") + F.col("_nb") - i).cast("double"),
                    6,
                ).alias("jaccard"),
            ),
        ),
        1,
    )
    out = (
        out.withColumn("_ij", pair)
        .withColumn("inter", F.col("_ij.inter"))
        .withColumn("jaccard", F.col("_ij.jaccard"))
        .drop("_ij")
    )
    return out.filter(F.col("jaccard") >= threshold)


def ngram_candidates(arrs: DataFrame, threshold: float) -> DataFrame:
    """PPJoin candidate generation: (doc_a, doc_b) pairs sharing at least
    one *prefix* shingle (first n − ⌈t·n⌉ + 1 in rare-first order), with
    the |B| ∈ [t·|A|, |A|/t] length filter AND the positional filter
    (Xiao et al. WWW'08 §3.2): both shingle arrays follow the same global
    canonical order, so the earliest shared prefix shingle sits at the
    same rank in both docs' orders and the intersection is bounded by
    1 + min(|A| − pa − 1, |B| − pb − 1) at its (0-based) positions —
    pairs whose bound cannot reach the Jaccard threshold never get the
    expensive exact verify (monotone: round(jmax) uses the same rounding
    as the final filter, so no true pair is dropped).  Exposed separately
    so the candidate-set size itself is testable (the scale-critical
    quantity — see tests/test_dedup_guard.py)."""
    p_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")).cast("long") + F.lit(1)
    pref = arrs.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.slice(F.col("sh_arr"), F.lit(1), p_len.cast("int"))).alias(
            "pos", "shingle"
        ),
    )
    a, b = pref.alias("a"), pref.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_sh").cast("double") * F.lit(threshold) <= F.col("a.n_sh").cast("double"))
            & (F.col("a.n_sh").cast("double") * F.lit(threshold) <= F.col("b.n_sh").cast("double")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("_na"),
            F.col("b.n_sh").alias("_nb"),
        )
        .agg(
            F.count("*").alias("_c"),
            F.max("a.pos").alias("_pa"),
            F.max("b.pos").alias("_pb"),
        )
    )
    # overlap ≤ c + min(remaining after the LAST prefix match on each
    # side): both arrays share one global order, so any common shingle
    # ranked below the last matched one sits inside BOTH prefixes at
    # positions ≤ the match positions — i.e. it IS one of the c matches;
    # everything else must rank above, occupying positions strictly after
    # (_pa, _pb).  Always at least as tight as the single-first-match
    # bound (c ≥ 1 + spread of the matched positions), strictly tighter
    # when the shared prefix tokens are spread out.
    bound = F.col("_c") + F.least(
        F.col("_na") - F.col("_pa") - 1, F.col("_nb") - F.col("_pb") - 1
    )
    jmax = bound.cast("double") / (
        F.col("_na") + F.col("_nb") - bound
    ).cast("double")
    return pairs.filter(F.round(jmax, 6) >= threshold).select("doc_a", "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    arrs: DataFrame | None = None,
    max_df: int | None = None,
    broadcast_arrs: bool = False,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, PPJoin-style (Xiao et al.,
    WWW'08): candidates only from *prefix* tokens with the length filter,
    then exact ``array_intersect`` verification.  Identical output to the
    brute-force shingle self-join (the DuckDB twin), but the join fans out
    on prefix postings only — at 100 TB this is the difference between
    posting-list blowup on hot shingles and a bounded candidate set.

    ``max_df`` stop-lists shingles with document frequency above the cap
    before ANY of this runs (see ``_shingle_arrays``) — the guard against
    the one failure mode prefix filtering alone can't bound: short docs
    whose prefixes are dominated by a corpus-wide boilerplate shingle."""
    if arrs is None:
        arrs = _shingle_arrays(docs, max_df=max_df)
    cand = ngram_candidates(arrs, threshold)
    return _verify_jaccard(
        cand, arrs, threshold, broadcast_arrs=broadcast_arrs
    ).select("doc_a", "doc_b", "inter", "jaccard")


def minhash_signatures(
    docs: DataFrame, k: int = MINHASH_SEEDS, arrs: DataFrame | None = None
) -> DataFrame:
    """k-permutation MinHash using seeded md5 digests: permutation i is the
    lexicographic order of md5('i|' || shingle); the signature element is
    the min digest (MMDS §3.3 with hash-as-permutation).

    Signatures fold over each doc's shingle array directly (``array_min``
    of the seeded digests) — no explode/shuffle; when a shared ``arrs``
    relation is supplied the shingling isn't even recomputed."""
    if arrs is None:
        arrs = _shingle_arrays(docs)

    # NB: a 2-arg lambda would be treated by pyspark as (element, index) —
    # the seed must be bound via closure, not a default argument
    def seeded(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}|"), s.cast("string")))

    return arrs.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("sh_arr"), seeded(i))).alias(f"mh{i}")
            for i in range(k)
        ],
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = MINHASH_SEEDS,
    bands: int = MINHASH_BANDS,
    floor: float = LSH_JACCARD_FLOOR,
    arrs: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.
    Returns (doc_a, doc_b, n_shared_bands, jaccard >= floor).

    ``max_bucket`` is the hot-bucket guard (round-12, the band-join
    analog of ``ngram_jaccard_pairs``'s ``max_df``): at corpus scale the
    band key is Zipf — a boilerplate template shared by a large slice of
    the corpus collapses its minhash signature, and ONE oversized band
    bucket makes the self-join quadratic in that bucket's size (the
    serialized-reducer failure).  Buckets larger than the cap are
    dropped BEFORE the self-join, bounding per-key join fan-out at
    max_bucket² — the standard web-dedup stop-listing trade-off, made
    explicit: pairs whose only shared bands are boilerplate-sized are
    sacrificed (they are near-identical template members better handled
    by exact dedup), everything else is untouched.  The DuckDB twin
    (textops_oracle.minhash_lsh_capped_sql) applies the same cut;
    degenerate/bounded behavior is pinned in tests/test_dedup_guard.py."""
    rows = k // bands
    if arrs is None:
        arrs = _shingle_arrays(docs)
    sig = minhash_signatures(docs, k, arrs=arrs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat(*[F.col(f"mh{bi * rows + r}") for r in range(rows)])
                ).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    buckets = sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    if max_bucket is not None:
        sizes = buckets.groupBy("band", "key").agg(
            F.count("*").alias("_bs")
        )
        buckets = (
            buckets.join(
                sizes.filter(F.col("_bs") <= max_bucket), ["band", "key"]
            )
            .drop("_bs")
        )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )
    verified = _verify_jaccard(cand, arrs, floor)
    return verified.select("doc_a", "doc_b", "n_shared_bands", "jaccard")


def simhash_fingerprints(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash: sum token-hash bit contributions (+1/−1) per bit
    position over ALL tokens (frequency-weighted), sign → fingerprint.

    One conditional sum per bit position instead of a ``bits``-way
    explode: the former Generate fanned every token occurrence into
    ``bits`` rows and pushed them all through a (doc_id, bit)-grain hash
    aggregate — ``bits``× the token relation through one shuffle, then a
    second (doc_id)-grain aggregate.  ``bits`` codegen'd sums over the
    occurrence rows compute the identical order-free integer totals with
    map-side partial aggregation (one shuffle of exactly one row-group
    per doc), and the sign→bit fold becomes a flat projection."""
    toks = spread_narrow_scan(docs).select(
        "doc_id", F.explode(words_col()).alias("w")
    )
    toks = toks.withColumn("h", hexint(F.col("w")))
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"((h >> {i}) & 1) * 2 - 1")).alias(f"_s{i}")
            for i in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp + F.when(
            F.col(f"_s{i}") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = MAX_HAMMING
) -> DataFrame:
    """Candidate pairs via the pigeonhole chunk join (one of SIMHASH_CHUNKS
    8-bit chunks must match when hamming <= max_hamming < chunks), exact
    popcount verify."""
    if max_hamming >= SIMHASH_CHUNKS:
        # the pigeonhole guarantee (some chunk equal) AND the first-match
        # dedup both require hamming < chunks; a larger radius would
        # silently miss pairs (ADVICE r12)
        raise ValueError(
            f"max_hamming={max_hamming} must be < SIMHASH_CHUNKS="
            f"{SIMHASH_CHUNKS} for the pigeonhole join to be exhaustive"
        )
    fp = simhash_fingerprints(docs)
    chunk_w = SIMHASH_BITS // SIMHASH_CHUNKS
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("chunk"),
                        F.shiftright(F.col("simhash"), ci * chunk_w)
                        .bitwiseAND(F.lit((1 << chunk_w) - 1))
                        .alias("ckey"),
                    )
                    for ci in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ckey").alias("ckey"))
    a, b = chunks.alias("a"), chunks.alias("b")
    # first-matching-chunk dedup instead of a pair-grain .distinct(): a
    # pair whose fingerprints agree on k chunks used to be emitted k
    # times and deduplicated through a multi-million-row shuffle (the
    # near-identical pairs this method exists to find match on MANY
    # chunks).  Keeping a pair only where every EARLIER chunk differs
    # emits each candidate exactly once — the same distinct pair set by
    # construction — for three extra bit-compares per joined row and one
    # Exchange less (guide §2.4 "remove shuffles outright").
    mask = (1 << chunk_w) - 1

    def _chunk_diff(ci: int) -> Column:
        return (
            F.shiftright(F.col("a.simhash"), ci * chunk_w).bitwiseAND(F.lit(mask))
            != F.shiftright(F.col("b.simhash"), ci * chunk_w).bitwiseAND(F.lit(mask))
        )

    first_match = F.lit(True)
    for ci in range(1, SIMHASH_CHUNKS):
        cond = _chunk_diff(0)
        for cj in range(1, ci):
            cond = cond & _chunk_diff(cj)
        first_match = F.when(F.col("a.chunk") == ci, cond).otherwise(first_match)
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "sh_a", "sh_b", "hamming")
    )


# --- embedding-space near-dup ----------------------------------------------


def vec_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (exact in both engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / F.nullif(
        F.sqrt(dot_col(a, a)) * F.sqrt(dot_col(b, b)), F.lit(0.0)
    )


def norm_col(v: Column) -> Column:
    """The self-norm factor of :func:`cosine_col`, exposed so pair-grain
    consumers can hoist it to vector grain (compute once per vector, not
    once per candidate pair)."""
    return F.sqrt(dot_col(v, v))


def cosine_pre_col(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine_col`` with the self-norm folds precomputed: same IEEE ops
    in the same order (sqrt per side via :func:`norm_col`, then multiply,
    then the nullif-guarded divide), so the result is bit-identical to
    :func:`cosine_col` while a pair-grain caller folds ONE dot product per
    pair instead of three (~2/3 of the verify arithmetic in dup-heavy
    buckets — the embedding_near_dup_pairs lesson, shared)."""
    return dot_col(a, b) / F.nullif(na * nb, F.lit(0.0))


def sign_bucket_col(v: Column, bits: int = SIGN_BITS) -> Column:
    """LSH bucket from the sign pattern of the first ``bits`` dims
    (unrolled — bits is a small compile-time constant)."""
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + F.when(
            F.element_at(v, i + 1) > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return acc


def _cell_split_factor(n_buckets: int, parallelism: int) -> int:
    """Sub-block split S for the in-bucket pair kernel: smallest S whose
    S(S+1)/2 block-pair units per bucket give ~2×parallelism work units
    across all buckets.  Collapses to 1 once buckets alone saturate the
    session — the production regime (SemDeDup sizes k ∝ corpus, so cells
    are numerous and small), where each vector then crosses the packing
    shuffle exactly once."""
    import math

    per_bucket = (2.0 * max(1, parallelism)) / max(1, n_buckets)
    if per_bucket <= 1.0:
        return 1
    return max(1, int(math.ceil((math.sqrt(8.0 * per_bucket + 1.0) - 1.0) / 2.0)))


def cell_pair_cosines(
    v: DataFrame, bucket: str, threshold: float, n_sub: int = 1
) -> DataFrame:
    """All within-bucket pairs (vec_a < vec_b by id) whose exact cosine
    clears ``threshold`` after the certified round-to-6 — computed by a
    batched Arrow kernel over PACKED per-bucket vector blocks instead of
    a pair-grain join projection (§4.2, the sweep candidate-grain kernel
    lesson): one JVM↔Python crossing of ~n×dim doubles replaces ~pairs ×
    dim interpreted HOF lambda folds, and only surviving pairs come back.

    Bit-identical to the join + ``dot_col`` form: the kernel accumulates
    each pair's dot in ascending-dimension order (one IEEE double
    multiply-add per dimension, vectorized ACROSS pairs — the same fold
    ``F.aggregate(zip_with(...))`` performs per pair), folds the norms the
    same way (sum of squares in dimension order, one sqrt per side), and
    the certified ``F.round(..., 6)`` plus the threshold cut stay SPARK
    expressions over the kernel's raw doubles — the kernel only
    pre-filters with a margin one decimal-ulp below the cut (round-to-6
    moves a value by at most 5e-7, so no survivor is lost and the exact
    cut happens in Spark).  A zero norm product yields NULL cosine in the
    join form (nullif) — the kernel drops those pairs, which the
    ``cosine >= threshold`` filter did anyway.

    ``v``: (vec_id, v: array<double>, <bucket>).  Output: (vec_a, vec_b,
    <bucket>, cosine) with cosine rounded to 6 decimals.

    Scale shape: each bucket is split into ``n_sub`` deterministic
    sub-blocks (pmod(xxhash64(vec_id))) and each (block, block) unit is
    one kernel row, so a few big cells still fan out across the session;
    with n_sub=1 the packing shuffle carries each vector exactly once."""
    sub = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_sub)).cast("int")
    blocks = (
        v.withColumn("_sub", sub)
        .groupBy(F.col(bucket).alias("_bkt"), F.col("_sub"))
        .agg(F.collect_list(F.struct("vec_id", "v")).alias("_rows"))
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    units = a.join(
        b,
        (F.col("a._bkt") == F.col("b._bkt"))
        & (F.col("a._sub") <= F.col("b._sub")),
    ).select(
        F.col("a._bkt").alias("_bkt"),
        (F.col("a._sub") == F.col("b._sub")).alias("_intra"),
        F.col("a._rows").alias("_ra"),
        F.col("b._rows").alias("_rb"),
    )
    bt = v.schema[bucket].dataType.simpleString()
    out_schema = f"vec_a bigint, vec_b bigint, _bkt {bt}, _cos double"
    margin = float(threshold) - 1e-6

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        def unpack(cell):
            rows = cell.values  # StructArray of (vec_id, v)
            ids = np.asarray(rows.field("vec_id"))
            n = len(ids)
            if n == 0:
                return ids, np.zeros((0, 0))
            mat = np.asarray(rows.field("v").flatten()).reshape(n, -1)
            return ids, mat

        def fold_norms(m):
            # dot_col(v, v) fold order: acc = (acc + x_j * x_j), j ascending
            n2 = np.zeros(m.shape[0])
            for j in range(m.shape[1]):
                c = m[:, j]
                n2 += c * c
            return np.sqrt(n2)

        for batch in batches:
            bkt_arr = batch.column("_bkt")
            intra = batch.column("_intra")
            ra = batch.column("_ra")
            rb = batch.column("_rb")
            va_l, vb_l, bk_l, cs_l = [], [], [], []
            for i in range(batch.num_rows):
                ids_a, ma = unpack(ra[i])
                if intra[i].as_py():
                    n = len(ids_a)
                    if n < 2:
                        continue
                    acc = np.zeros((n, n))
                    for j in range(ma.shape[1]):
                        c = ma[:, j]
                        acc += c[:, None] * c[None, :]
                    nr = fold_norms(ma)
                    ii, jj = np.triu_indices(n, k=1)
                    dots = acc[ii, jj]
                    den = nr[ii] * nr[jj]
                    ia, ib = ids_a[ii], ids_a[jj]
                else:
                    ids_b, mb = unpack(rb[i])
                    na, nb = len(ids_a), len(ids_b)
                    if na == 0 or nb == 0:
                        continue
                    acc = np.zeros((na, nb))
                    for j in range(ma.shape[1]):
                        acc += ma[:, j][:, None] * mb[:, j][None, :]
                    den = np.multiply.outer(fold_norms(ma), fold_norms(mb)).ravel()
                    dots = acc.ravel()
                    ia = np.repeat(ids_a, nb)
                    ib = np.tile(ids_b, na)
                ok = den != 0.0
                cos = dots / np.where(ok, den, 1.0)
                keep = ok & (cos >= margin)
                if not keep.any():
                    continue
                va_l.append(np.minimum(ia[keep], ib[keep]))
                vb_l.append(np.maximum(ia[keep], ib[keep]))
                bk_l.append(
                    pa.array([bkt_arr[i].as_py()] * int(keep.sum()), bkt_arr.type)
                )
                cs_l.append(cos[keep])
            if not va_l:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(va_l), pa.int64()),
                    pa.array(np.concatenate(vb_l), pa.int64()),
                    pa.concat_arrays(bk_l),
                    pa.array(np.concatenate(cs_l), pa.float64()),
                ],
                ["vec_a", "vec_b", "_bkt", "_cos"],
            )

    raw = units.mapInArrow(kernel, out_schema)
    return raw.select(
        "vec_a",
        "vec_b",
        F.col("_bkt").alias(bucket),
        F.round(F.col("_cos"), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = COSINE_DUP_THRESHOLD
) -> DataFrame:
    """Near-duplicate vector pairs: sign-bucket LSH candidates (scale
    path — no all-pairs), exact cosine verify.  Recall is bucket-bounded
    by construction; multiple rotated bucket families would raise it at
    production scale.  The verify runs through the packed-block Arrow
    kernel (:func:`cell_pair_cosines` — round 13); sign buckets number
    2**SIGN_BITS, already ≥ session parallelism, so no sub-block split."""
    v = (
        spread_narrow_scan(emb, key="vec_id")
        .select(
            "vec_id",
            vec_double(F.col("embedding")).alias("v"),
        )
        .withColumn("bucket", sign_bucket_col(F.col("v")))
    )
    par = emb.sparkSession.sparkContext.defaultParallelism
    return cell_pair_cosines(
        v, "bucket", threshold, n_sub=_cell_split_factor(2**SIGN_BITS, par)
    )


def duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    num_partitions: int | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair relation — the dedup
    pipeline's resolution step (pairs → clusters → one surviving
    representative per cluster).

    Deterministic min-label propagation with pointer jumping: every doc
    starts labeled with its own id; each round takes the per-doc minimum
    over neighbor labels, then adopts the label *of its current label*
    (path halving), so a diameter-d component converges in O(log d)
    rounds rather than d.  Fixpoint is checked via a count — the
    per-round work is fully distributed; only the tiny converged? flag
    reaches the driver — and each round's labels are localCheckpoint()ed
    so the plan lineage stays constant-depth across rounds.  Duplicate
    clusters are short-diameter by construction (near-dup similarity is
    almost transitive), so rounds ≈ 2-3 in practice; ``max_iter`` bounds
    the loop.

    Output: one row per doc appearing in any pair — (doc_id, cluster_rep,
    is_rep, cluster_size); downstream "drop the non-reps" is a semi-join.

    ``num_partitions`` sizes the cached edge/label relations; when None it
    is derived as ~1M symmetrized edge rows per partition, counted from
    the persisted edge relation, so a toy pair set schedules one task per
    round while a corpus-scale pair relation fans out.  Raises ``RuntimeError`` if ``max_iter`` rounds do
    not reach the fixpoint (component diameter > max_iter) rather than
    silently returning a split-cluster labeling.
    """
    # near-dup pair sets are orders of magnitude smaller than the corpus
    # (the whole point of dedup); cache the edge/label relations with a
    # partition count derived from the pair count so each propagation
    # round schedules proportionate tasks
    # size from the PERSISTED edge relation, not from pairs.count():
    # counting an unpersisted pairs pipeline (e.g. the full PPJoin +
    # verify chain) would execute it end-to-end twice — once for the
    # count, once for the edges build
    pre_edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    if num_partitions is None:
        num_partitions = max(1, min(256, pre_edges.count() // 1_000_000 + 1))
    edges = pre_edges.repartition(num_partitions, "src").persist()
    edges.count()  # materialize from pre_edges' cache before dropping it
    pre_edges.unpersist()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .repartition(num_partitions, "doc_id")
        .localCheckpoint()
    )
    changed = 1
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels.doc_id == nbr_min.src, "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jump (path halving): adopt the label of my current label
        # — turns O(diameter) convergence into O(log diameter)
        ref = stepped.select(
            F.col("doc_id").alias("_ref"), F.col("label").alias("_ref_label")
        )
        new_labels = (
            stepped.join(ref, stepped.label == ref._ref, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("_ref_label"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    # every round's labels are checkpointed, so the returned plan never
    # reads the edges
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds — "
            "a component's diameter exceeds 2^max_iter; raise max_iter"
        )
    # rep flag + cluster size: one window over the small labeled relation
    w = Window.partitionBy("cluster_rep")
    return (
        labels.select("doc_id", F.col("label").alias("cluster_rep"))
        .withColumn("cluster_size", F.count("*").over(w).cast("long"))
        .withColumn("is_rep", F.col("doc_id") == F.col("cluster_rep"))
        .select("doc_id", "cluster_rep", "is_rep", "cluster_size")
    )


#: SemDeDup quantizer sizing: target ~200 vectors per learned cell, so the
#: per-cell exact verify is bounded (~n·cell/2 total candidate pairs —
#: LINEAR in the corpus for a fixed cell size) and the cell count scales
#: ∝ n the way the paper sizes it (Abbas et al. 2023 §3: 50K clusters for
#: 100M+ points ≈ 2K/cell; we run finer because local corpora are small).
#: KMAX caps the broadcast centroid matrix (65536 × dim doubles ≈ 32 MB
#: at dim 64 — inside the session's 64 MB broadcast ceiling).
SEMDEDUP_CELL = 200
SEMDEDUP_KMAX = 65536


def semdedup_cell_count(n: int) -> int:
    """Cell count for a corpus of ``n`` embeddings: n/SEMDEDUP_CELL,
    clamped to [KMEANS_K, SEMDEDUP_KMAX].  Pure function of n, so both
    engines (and successive runs) derive the same quantizer; at the
    500-vector correctness fixtures this IS the certified k=8."""
    from .similarity import KMEANS_K

    return max(KMEANS_K, min(max(n, 1) // SEMDEDUP_CELL, SEMDEDUP_KMAX))


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    cents: list[list[float]] | None = None,
    k: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found
    by exact cosine WITHIN learned k-means cells — the paper's recipe for
    making embedding dedup tractable at corpus scale (all-pairs work is
    bounded per cell instead of global; cells come from the same trained
    IVF coarse quantizer the similarity layer serves from).

    Contrast with :func:`embedding_near_dup_pairs`, whose candidate cells
    are RANDOM sign-hash buckets: learned cells put semantically close
    vectors together, so recall at a given candidate budget is higher —
    exactly the learned-vs-random bucketing trade the SemDeDup paper
    measures.  Deterministic end to end: cluster assignment is the
    hash-certified ``kmeans_assign`` (first-k seeds, round-6 lockstep)
    and the verify is the shared round-6 exact cosine.

    Output: (vec_a, vec_b, cluster, cosine) for pairs with cosine >=
    ``threshold``; scale = one assignment pass + per-cell bounded
    self-join + exact verify, never global all-pairs.  Like
    :func:`embedding_near_dup_pairs`, self-norms are computed once per
    VECTOR, not per candidate pair (dup-heavy cells would otherwise
    re-fold dot(a,a)/dot(b,b) for every pair a vector lands in — ~2/3 of
    the verify arithmetic); same IEEE ops in the same order (sqrt per
    side, then multiply), so the result is bit-identical to cosine_col
    and the oracle twin.

    The CELL COUNT is SemDeDup's scale lever (the paper sizes k to the
    corpus — 50k clusters for 100M+ points, i.e. k ∝ n at a fixed target
    cell size): :func:`semdedup_cell_count` derives k = n/SEMDEDUP_CELL
    (clamped), which bounds the per-cell verify at ~n·cell/2 candidate
    pairs — LINEAR in the corpus — while training decouples from n via
    :func:`kmeans_train`'s bounded deterministic sample (the paper's own
    recipe; engaged only above the certified k=KMEANS_K, so every
    oracle-paired fixture path trains full-corpus, byte-identically).

    ``cents`` injects an already-trained quantizer (the catalog shares
    one per (session, sf_dir)) and DEFINES k = len(cents) — injected
    cells are never silently discarded; passing both ``cents`` and a
    conflicting ``k`` raises.  ``n`` supplies a known corpus size so no
    sizing count job runs; without it (and without cents/k) one count
    sizes the quantizer."""
    from .similarity import (
        KMEANS_K,
        KMEANS_TRAIN_FACTOR,
        kmeans_assign,
        kmeans_train,
    )

    if cents is not None:
        if k is not None and k != len(cents):
            raise ValueError(
                f"injected cents define k={len(cents)}, caller asked k={k}"
            )
        k = len(cents)
    else:
        if k is None:
            # driver-held sizing scalar (cf. sweep.py's sizing aggregate)
            n = n if n is not None else emb.count()
            k = semdedup_cell_count(n)
        cents = kmeans_train(
            emb,
            k=k,
            train_sample=KMEANS_TRAIN_FACTOR * k if k > KMEANS_K else None,
            n=n,
        )
    v = (
        spread_narrow_scan(emb, key="vec_id")
        .select("vec_id", vec_double(F.col("embedding")).alias("v"))
        .join(
            kmeans_assign(emb, k=k, cents=cents).select("vec_id", "cluster"),
            "vec_id",
        )
    )
    # round 13 (§4.2): the per-pair verify runs through the packed-block
    # Arrow kernel — one boundary crossing of the cell's vectors replaces
    # ~cell²/2 interpreted 64-dim HOF folds; bit-identical (fold order,
    # norms, round and cut — see cell_pair_cosines).  The certified k=8
    # quantizer leaves few big cells at bench scale, so cells split into
    # deterministic sub-blocks to keep the session full.
    par = emb.sparkSession.sparkContext.defaultParallelism
    return cell_pair_cosines(
        v, "cluster", threshold, n_sub=_cell_split_factor(k, par)
    ).select(
        "vec_a",
        "vec_b",
        F.col("cluster").cast("long").alias("cluster"),
        "cosine",
    )

"""Similarity search over the ``embeddings`` table (``array<float>``):
brute-force cosine top-k (the exact baseline) and a sign-bucket LSH
variant (the scale path).

Brute force is a broadcast-join of the (small) query set against the full
corpus — at 100 TB the corpus side stays partitioned and never shuffles;
cost is one pass per query batch.  The LSH variant prunes candidates to
matching sign-buckets, trading recall for a corpus-partition-local join;
production would use several rotated bucket families (or IVF centroids as
a learned bucketing) — the plumbing is identical.

All arithmetic is sequential-fold double math — exact vs the DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (
    cosine_col,
    cosine_pre_col,
    norm_col,
    sign_bucket_col,
    vec_double,
)

N_QUERIES = 8
TOP_K = 5


def _vecs(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", vec_double(F.col("embedding")).alias("v"), "label")


# NB on the pair-grain cosine sites below: every scan stage hoists the
# self-norm folds to vector grain (norm_col once per corpus vector / query
# vector, cosine_pre_col at the pair grain) — cosine_col would re-fold
# dot(a,a)/dot(b,b) for every candidate pair, ~2/3 of the scan arithmetic.
# Bit-identical by construction (same IEEE ops in the same order); the
# full-HOF unroll experiment, by contrast, was a 3-5× regression (codegen
# blowup) and stays reverted.


def cosine_topk(
    emb: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Exact top-k neighbors by cosine for the query set (vec_id <
    n_queries), self excluded; ties broken by neighbor id ascending."""
    v = _vecs(emb).withColumn("_nv", norm_col(F.col("v")))
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("_nv").alias("_nq"),
    )
    scored = (
        F.broadcast(q)
        .join(v, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_pre_col(
                    F.col("qv"), F.col("v"), F.col("_nq"), F.col("_nv")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def lsh_topk(
    emb: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket.  Same output shape as :func:`cosine_topk` (rank may hold
    fewer than k rows when the bucket is small — honest ANN semantics)."""
    v = (
        _vecs(emb)
        .withColumn("bucket", sign_bucket_col(F.col("v")))
        .withColumn("_nv", norm_col(F.col("v")))
    )
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
        F.col("_nv").alias("_nq"),
    )
    scored = (
        F.broadcast(q)
        .join(
            v,
            (F.col("qbucket") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_pre_col(
                    F.col("qv"), F.col("v"), F.col("_nq"), F.col("_nv")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


#: cells probed per query (IVF multi-probe: scanning the nprobe nearest
#: cells instead of 1 recovers neighbors that fell across a cell boundary
#: — the standard IVF recall lever; cost grows linearly with nprobe while
#: staying corpus-partition-local)
IVF_NPROBE = 2


def _label_centroids(v: DataFrame) -> DataFrame:
    """(label, cv): per-label mean vectors — the coarse IVF quantizer the
    probe stages rank cells by.  Deterministic: per-dimension fold in
    vec_id order (the DuckDB twin folds the same sequence) — plain
    avg() is association-order-dependent."""
    from ..functions.detsum import osum

    cent = (
        v.select("label", "vec_id", F.posexplode(F.col("v")).alias("i", "x"))
        .groupBy("label", "i")
        .agg(
            (osum(F.col("vec_id"), F.col("x")) / F.count("*").cast("double")).alias("cx")
        )
    )
    return cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("i"), F.col("cx")))),
            lambda s: s.getItem("cx"),
        ).alias("cv")
    )


def label_centroid_search(
    emb: DataFrame, n_queries: int = N_QUERIES, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """IVF-flavored variant: per-label centroids as the coarse quantizer;
    each query is assigned to its ``nprobe`` nearest centroids (exact, 10
    centroids) and scored only against those cells.  Output: query -> best
    neighbor across the probed cells, with the winning neighbor's cell and
    that cell's centroid cosine.  ``tests/test_similarity.py`` pins
    recall@1 vs the brute-force baseline as non-decreasing in nprobe."""
    v = _vecs(emb).withColumn("_nv", norm_col(F.col("v")))
    centroids = _label_centroids(v)
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("_nv").alias("_nq"),
    )
    assign_w = Window.partitionBy("query_id").orderBy(
        F.col("centroid_cos").desc(), F.col("label").asc()
    )
    assigned = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .withColumn("centroid_cos", F.round(cosine_col(F.col("qv"), F.col("cv")), 6))
        .withColumn("crank", F.row_number().over(assign_w))
        .filter(F.col("crank") <= nprobe)
        .select(
            "query_id", "qv", "_nq", F.col("label").alias("cell"), "centroid_cos"
        )
    )
    best_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        assigned.join(v, (F.col("cell") == F.col("label")) & (F.col("query_id") != F.col("vec_id")))
        .select(
            "query_id",
            "cell",
            "centroid_cos",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_pre_col(
                    F.col("qv"), F.col("v"), F.col("_nq"), F.col("_nv")
                ),
                6,
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(best_w).cast("long"))
        .filter(F.col("rank") == 1)
        .drop("rank")
    )


def quantize_embeddings(emb: DataFrame, levels: int = 127) -> DataFrame:
    """Symmetric per-vector int8 quantization: qv[i] = round(v[i] / s)
    with s = max|v| / levels — the standard memory lever for
    corpus-scale ANN (4× smaller than float32, 8× smaller than the
    double math used for exact scoring; recall loss is bounded by the
    quantization step).  Pure built-in expressions; scores from
    quantized vectors are (s_a * s_b) * int-dot-product, so the dot
    product itself runs in integer arithmetic.

    Output: (vec_id, label, scale, qv array<smallint>) — smallint
    because Spark's round() returns a long intermediate; values fit
    int8 by construction."""
    v = vec_double(F.col("embedding"))
    s = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(float(levels))
    scale = F.nullif(s, F.lit(0.0))
    # all-zero vectors have scale NULL: coalesce each component to 0 so
    # they quantize to zero vectors (not all-NULL), keeping downstream
    # cosine/ranking deterministic and aligned with the float baseline
    qv = F.transform(
        v, lambda x: F.coalesce(F.round(x / scale), F.lit(0)).cast("smallint")
    )
    return emb.select(
        "vec_id",
        "label",
        F.coalesce(scale, F.lit(0.0)).alias("scale"),
        qv.alias("qv"),
    )


def quantized_cosine_topk(
    emb: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Brute-force top-k over the QUANTIZED vectors — same output shape
    as :func:`cosine_topk`; tests/test_similarity.py pins top-1
    agreement with the float baseline on the fixture."""
    q8 = quantize_embeddings(emb)
    qd = q8.select(
        "vec_id", F.transform(F.col("qv"), lambda x: x.cast("double")).alias("v")
    ).withColumn("_nv", norm_col(F.col("v")))
    q = qd.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("_nv").alias("_nq"),
    )
    scored = (
        F.broadcast(q)
        .join(qd, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_pre_col(
                    F.col("qv"), F.col("v"), F.col("_nq"), F.col("_nv")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


#: candidates kept per probed query for the float re-rank stage
IVF_RERANK_DEPTH = 3 * TOP_K


def ivf_quantized_search(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    nprobe: int = IVF_NPROBE,
    rerank_depth: int = IVF_RERANK_DEPTH,
) -> DataFrame:
    """IVF probe with an int8 candidate scan and float re-rank — the
    memory-scaled ANN composition: the cell scan reads only the quantized
    corpus (4× smaller than float32; cosine over quantized vectors is
    scale-invariant, so per-vector scales never enter the scan), keeps
    ``rerank_depth`` candidates per query, then re-scores ONLY those
    against the float vectors for the final top-k.  At corpus scale the
    float relation is touched for (queries × rerank_depth) rows instead
    of every cell member — the standard IVF-PQ/SQ serving shape.

    Output matches :func:`cosine_topk` (query_id, rank, neighbor_id,
    cosine with float precision); tests/test_similarity.py pins recall
    vs the brute-force baseline and that re-ranked precision is at least
    the quantized-only variant's."""
    v = _vecs(emb).withColumn("_nv", norm_col(F.col("v")))
    q8 = quantize_embeddings(emb)
    vq = q8.select(
        "label",
        "vec_id",
        F.transform(F.col("qv"), lambda x: x.cast("double")).alias("v8"),
    ).withColumn("_n8", norm_col(F.col("v8")))
    centroids = _label_centroids(v)
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv_f"),
        F.col("_nv").alias("_nq"),
    )
    assign_w = Window.partitionBy("query_id").orderBy(
        F.col("centroid_cos").desc(), F.col("label").asc()
    )
    assigned = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "centroid_cos", F.round(cosine_col(F.col("qv_f"), F.col("cv")), 6)
        )
        .withColumn("crank", F.row_number().over(assign_w))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", F.col("label").alias("cell"))
    )
    # quantized query vectors for the scan stage (both sides int8: the
    # scan never touches floats)
    q8q = vq.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v8").alias("q8v"),
        F.col("_n8").alias("_q8n"),
    )
    cand_w = Window.partitionBy("query_id").orderBy(
        F.col("q_cos").desc(), F.col("neighbor_id").asc()
    )
    candidates = (
        F.broadcast(assigned.join(q8q, "query_id"))
        .join(
            vq,
            (F.col("cell") == vq.label) & (F.col("query_id") != vq.vec_id),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_pre_col(
                    F.col("q8v"), F.col("v8"), F.col("_q8n"), F.col("_n8")
                ),
                6,
            ).alias("q_cos"),
        )
        .withColumn("qrank", F.row_number().over(cand_w))
        .filter(F.col("qrank") <= rerank_depth)
        .select("query_id", "neighbor_id")
    )
    # float re-rank: only (queries × rerank_depth) float rows touched
    nbr = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("_nv").alias("_nn"),
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.join(nbr, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre_col(
                    F.col("qv_f"), F.col("nv"), F.col("_nq"), F.col("_nn")
                ),
                6,
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(rerank_w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


# --- product quantization (IVF-PQ serving shape) ---------------------------

#: PQ geometry (Jégou, Douze, Schmid 2011; the FAISS IVF-PQ layout):
#: PQ_M subspaces of dim/PQ_M dims each, PQ_KSUB codes per subspace.
#: At dim 64 the stored row is 4 code bytes per vector — 16× smaller
#: than the int8 row and 64× smaller than float32, the standard
#: billion-scale ANN memory point.  PQ_KSUB = 16 / PQ_ITERS = 2 keep
#: the unrolled DuckDB twin tractable; the Spark side takes any
#: (m, ksub, iters).
PQ_M = 4
PQ_KSUB = 16
PQ_ITERS = 2


def l2sq_col(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance — same index-ordered IEEE ops
    as the DuckDB twin, so round-6 ranking ties out exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subvectors(emb: DataFrame, m: int = PQ_M) -> DataFrame:
    """(vec_id, m, sx): each vector split into ``m`` equal contiguous
    subvectors.  ONE relation carries all subspaces, so PQ training is a
    single grouped k-means job — Lloyd's keyed by (m, code) — with the
    same pass count as one flat k-means, instead of m sequential
    trainings."""
    v = _vecs(emb)
    ds = (F.size("v") / F.lit(m)).cast("int")
    subs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("m"),
                F.slice("v", F.lit(j) * ds + 1, ds).alias("sx"),
            )
            for j in range(m)
        ]
    )
    return v.select("vec_id", F.inline(subs))


def _pq_assign(sv: DataFrame, cdf: DataFrame) -> DataFrame:
    """Nearest-code assignment per (vec_id, subspace): min round-6
    squared L2, code-ascending tie-break (identical in the SQL twin).
    The codebook is broadcast (m·ksub·dsub doubles — KBs), so the scan
    is one map-side pass over the subvector relation."""
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("code").asc()
    )
    return (
        sv.join(F.broadcast(cdf), "m")
        .select(
            "vec_id",
            "m",
            "code",
            F.round(l2sq_col(F.col("sx"), F.col("cv")), 6).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )


def pq_train(
    emb: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB, iters: int = PQ_ITERS
) -> list[tuple[int, int, list[float]]]:
    """Train the PQ codebook: per-subspace L2 k-means over the exploded
    (subspace, subvector) relation — all ``m`` codebooks advance in each
    distributed pass.  Deterministic end to end (the same lockstep
    discipline as :func:`kmeans_train`): seeds are the ``ksub`` smallest
    vec_ids' subvectors (round-6), assignment is min round-6 squared L2
    with code tie-break, means are vec_id-ordered folds (round-6).

    Returns driver-held rows (m, code, centroid) — m·ksub·dsub doubles
    (4 KB at the default geometry), the only thing that ever visits the
    driver; the subvector relation is persisted once and shuffled once."""
    sv = _subvectors(emb, m).repartition("vec_id").persist()
    try:
        # seeds: the ksub smallest vec_ids' subvectors — since every
        # vec_id yields exactly one subvector per subspace, this equals
        # the twin's per-m "first ksub by vec_id" and needs only a
        # limit-ksub collect + driver-side slicing, not a window job
        # over the whole subvector relation
        first = _vecs(emb).orderBy("vec_id").limit(ksub).select(
            F.transform("v", lambda d: F.round(d, 6)).alias("cv")
        )
        rows = [list(r.cv) for r in first.collect()]
        dsub = len(rows[0]) // m
        book = [
            (mm, code, cv[mm * dsub : (mm + 1) * dsub])
            for mm in range(m)
            for code, cv in enumerate(rows)
        ]
        from ..functions.detsum import osum

        spark = emb.sparkSession
        for _ in range(iters):
            cdf = spark.createDataFrame(book, "m int, code int, cv array<double>")
            upd = (
                _pq_assign(sv, cdf)
                .join(sv, ["vec_id", "m"])
                .select("m", "code", "vec_id", F.posexplode("sx").alias("pos", "val"))
                .groupBy("m", "code", "pos")
                .agg(
                    F.round(
                        osum(F.col("vec_id"), F.col("val")) / F.count("*"), 6
                    ).alias("mv")
                )
                .groupBy("m", "code")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                        lambda s: s.getItem("mv"),
                    ).alias("cv")
                )
            )
            new = {(r.m, r.code): list(r.cv) for r in upd.collect()}
            # empty cells keep their previous centroid (same coalesce as
            # kmeans_train and the SQL twin)
            book = [(mm, cc, new.get((mm, cc), cv)) for mm, cc, cv in book]
        return book
    finally:
        sv.unpersist()


def pq_codes(
    emb: DataFrame,
    book: list[tuple[int, int, list[float]]],
    m: int = PQ_M,
) -> DataFrame:
    """(vec_id, codes array<smallint>): the stored PQ row — ``m`` codes
    per vector (4 bytes at the default geometry vs 64 int8 / 256 float32
    bytes).  This relation plus the broadcast codebook IS the ANN index
    a 100 TB corpus keeps hot; floats are only touched at re-rank.

    Deliberately NOT reusing pq_train's last in-loop assignment (ADVICE
    r9 suggested it): Lloyd's updates the codebook AFTER its final
    assignment, so that assignment is against the pre-update book —
    encoding must assign against the FINAL book (what FAISS does), an
    (iters+1)-th pass.  Reuse would silently encode with stale
    centroids and change every downstream hash.  The real repeat-build
    waste — retraining the book per build — is closed by the catalog's
    session side cache instead (catalog._pq_book)."""
    cdf = emb.sparkSession.createDataFrame(book, "m int, code int, cv array<double>")
    return (
        _pq_assign(_subvectors(emb, m), cdf)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s.getItem("code").cast("smallint"),
            ).alias("codes")
        )
    )


def pq_decode(
    codes: DataFrame, book: list[tuple[int, int, list[float]]]
) -> DataFrame:
    """(vec_id, dv): reconstructed vectors — each code's centroid
    concatenated in subspace order.  cosine(query_float, dv) is exactly
    the asymmetric-distance (ADC) score: the query stays full precision,
    the database side is its quantized reconstruction.  (Production ADC
    uses per-subspace lookup tables instead of materializing dv; the
    scores are identical — the LUT is just dot(q_m, centroid) factored
    out — so the oracle-checked semantics are the real thing.)"""
    cdf = codes.sparkSession.createDataFrame(
        book, "m int, code int, cv array<double>"
    )
    return (
        codes.select(
            "vec_id", F.posexplode("codes").alias("m", "code")
        )
        .select("vec_id", "m", F.col("code").cast("int").alias("code"))
        .join(F.broadcast(cdf), ["m", "code"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "cv"))),
                    lambda s: s.getItem("cv"),
                )
            ).alias("dv")
        )
    )


def ivf_pq_search(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    nprobe: int = IVF_NPROBE,
    rerank_depth: int = IVF_RERANK_DEPTH,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    book: list[tuple[int, int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ: coarse probe over label cells, ADC candidate scan over the
    PQ-coded corpus, float re-rank — the billion-scale FAISS serving
    composition.  vs :func:`ivf_quantized_search` (int8 SQ) the scanned
    bytes drop another 16×: the scan side holds m code bytes per vector
    plus one broadcast codebook.

    ``book`` injects an already-trained codebook (the catalog shares one
    per (session, sf_dir) — the catalog._kmeans_cents_n pattern), so repeat
    builds skip the Lloyd's training entirely; training in production is
    a one-time index-build step, never part of serving.

    Output matches :func:`cosine_topk` (query_id, rank, neighbor_id,
    cosine — float precision from the re-rank); deterministic end to
    end, so the DuckDB twin ties out hash-exactly."""
    v = _vecs(emb).withColumn("_nv", norm_col(F.col("v")))
    if book is None:
        book = pq_train(emb, m=m, ksub=ksub)
    # decode once per vector (one linear pass; at serving scale this is
    # the per-cell LUT scan — see pq_decode) and keep the cell label;
    # the decoded-vector self-norm is hoisted here too (once per corpus
    # vector, not per scanned pair)
    vd = (
        pq_decode(pq_codes(emb, book, m=m), book)
        .join(emb.select("vec_id", "label"), "vec_id")
        .withColumn("_nd", norm_col(F.col("dv")))
    )
    centroids = _label_centroids(v)
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv_f"),
        F.col("_nv").alias("_nq"),
    )
    assign_w = Window.partitionBy("query_id").orderBy(
        F.col("centroid_cos").desc(), F.col("label").asc()
    )
    assigned = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "centroid_cos", F.round(cosine_col(F.col("qv_f"), F.col("cv")), 6)
        )
        .withColumn("crank", F.row_number().over(assign_w))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "qv_f", "_nq", F.col("label").alias("cell"))
    )
    cand_w = Window.partitionBy("query_id").orderBy(
        F.col("q_cos").desc(), F.col("neighbor_id").asc()
    )
    candidates = (
        F.broadcast(assigned)
        .join(
            vd,
            (F.col("cell") == vd.label) & (F.col("query_id") != vd.vec_id),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_pre_col(
                    F.col("qv_f"), F.col("dv"), F.col("_nq"), F.col("_nd")
                ),
                6,
            ).alias("q_cos"),
        )
        .withColumn("qrank", F.row_number().over(cand_w))
        .filter(F.col("qrank") <= rerank_depth)
        .select("query_id", "neighbor_id")
    )
    nbr = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("_nv").alias("_nn"),
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.join(nbr, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre_col(
                    F.col("qv_f"), F.col("nv"), F.col("_nq"), F.col("_nn")
                ),
                6,
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(rerank_w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


# --- distributed k-means for IVF centroid training -------------------------

#: spherical k-means shape for the gate entry: small fixed grid so the
#: unrolled DuckDB twin stays readable; real corpora raise K, not the code
KMEANS_K = 8
KMEANS_ITERS = 4


def _kmeans_vecs(emb: DataFrame) -> DataFrame:
    return emb.select("vec_id", vec_double(F.col("embedding")).alias("x"))


def _assign(v: DataFrame, cdf: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by ROUNDED cosine (round-6 before the
    rank kills any sub-ulp drift; ties break to the smallest cid).

    Shaped as max(struct(cos, -cid, cid)) — an aggregate, not a window:
    partial aggregation collapses the N x k candidate rows map-side and
    the shuffle carries (vec_id, cos, cid) triples only, never the
    vectors (a window over the scored rows would move k copies of every
    embedding).  Lexicographic struct max == ORDER BY cos DESC, cid ASC.
    Output: (vec_id, cid, cos) — callers needing the vectors join back
    to ``v`` by key."""
    # self-norm folds hoisted to vector/centroid grain (N + k norms
    # instead of 2·N·k per assignment pass): same IEEE ops in the same
    # order as cosine_col, so every rounded cos is bit-identical
    va = v.withColumn("_nx", norm_col(F.col("x")))
    cda = cdf.withColumn("_ncv", norm_col(F.col("cv")))
    scored = va.crossJoin(F.broadcast(cda)).select(
        "vec_id",
        "cid",
        F.round(
            cosine_pre_col(
                F.col("x"), F.col("cv"), F.col("_nx"), F.col("_ncv")
            ),
            6,
        ).alias("cos"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("cos"), (-F.col("cid")).alias("_nc"), F.col("cid"))
        ).alias("_b")
    )
    return best.select(
        "vec_id", F.col("_b.cid").alias("cid"), F.col("_b.cos").alias("cos")
    )


#: k-means‖ defaults (Bahmani et al., VLDB 2012): l = OVERSAMPLE*k
#: candidates expected per round, ROUNDS rounds — O(log n) rounds in the
#: paper; a small constant suffices in practice (their Thm 2 needs ~5)
KMEANSPP_OVERSAMPLE = 2
KMEANSPP_ROUNDS = 3


def _u01(col, salt: str):
    """Deterministic uniform [0, 1) from (salt, key) — the cross-engine
    md5 convention (15 hex chars -> 60-bit int / 2^60), same shape as
    textops' sampling membership hash."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 15), 16, 10)
    return h.cast("double") / F.lit(float(1 << 60))


def kmeans_parallel_seed(
    v: DataFrame,
    k: int = KMEANS_K,
    rounds: int = KMEANSPP_ROUNDS,
    oversample: int = KMEANSPP_OVERSAMPLE,
) -> list[list[float]]:
    """k-means‖ seeding (scalable k-means++, Bahmani et al. 2012) for
    large k, where first-k-ids seeding can start Lloyd's from one dense
    corner of the space.  Execution shape is the paper's: each round is
    one distributed assignment pass (cost = 1 - best cosine, the
    spherical surrogate) + one scalar aggregate, sampling each point with
    probability min(1, l * cost / total_cost); only the O(l * rounds)
    candidate vectors ever visit the driver, then the final reduction to
    k runs driver-side on the weighted candidates.

    Deterministic end to end — no RNG state: the per-point coin is the
    cross-engine md5 hash of (round salt, vec_id), and the final
    reduction is greedy weighted farthest-point (argmax weight * d² to
    the chosen set, index tie-break) instead of sampled k-means++.
    Candidate weights are the sizes of their assignment cells, as in the
    paper.  NOT the oracle path: ``kmeans_train``'s default first-k
    seeding stays the hash-certified configuration
    (``kmeans_ivf_assign``); this seeder is the opt-in quality path for
    production-scale k (flagged via ``kmeans_train(seeding=
    'parallel')``; recall comparison pinned in tests/test_kmeans.py)."""
    import numpy as np

    spark = v.sparkSession
    first = v.orderBy("vec_id").limit(1).select(
        F.transform("x", lambda d: F.round(d, 6)).alias("cv")
    )
    cand: list[list[float]] = [list(r.cv) for r in first.collect()]
    l = oversample * k
    for rnd in range(rounds):
        cdf = spark.createDataFrame(
            list(enumerate(cand)), "cid int, cv array<double>"
        )
        cost = _assign(v, cdf).select(
            "vec_id", (F.lit(1.0) - F.col("cos")).alias("c")
        )
        tot = cost.agg(F.sum("c").alias("t")).collect()[0].t
        if not tot or tot <= 0.0:  # every point sits on a candidate
            break
        picked = cost.filter(
            _u01(F.col("vec_id"), f"kmeanspp|{rnd}|")
            < F.least(F.lit(1.0), F.lit(float(l)) * F.col("c") / F.lit(float(tot)))
        ).select("vec_id")
        new = (
            v.join(picked, "vec_id")
            .orderBy("vec_id")
            .select(F.transform("x", lambda d: F.round(d, 6)).alias("cv"))
        )
        cand.extend([list(r.cv) for r in new.collect()])
        # dedup exact repeats (a re-picked point adds no information)
        cand = [list(t) for t in dict.fromkeys(tuple(c) for c in cand)]
    if len(cand) <= k:
        # degenerate corpus (fewer distinct candidates than k): fall back
        # to first-k seeding for the remainder, growing the scan until k
        # DISTINCT vectors are found or the corpus is exhausted (a fixed
        # k+len(cand) prefix can be all-duplicates and silently under-seed)
        limit = k + len(cand)
        while True:
            rows = (
                v.orderBy("vec_id").limit(limit)
                .select(F.transform("x", lambda d: F.round(d, 6)).alias("cv"))
            ).collect()
            for r in rows:
                cv = list(r.cv)
                if cv not in cand:
                    cand.append(cv)
                if len(cand) >= k:
                    return cand[:k]
            if len(rows) < limit:  # corpus exhausted before k distinct seeds
                raise ValueError(
                    f"k-means seeding needs {k} distinct vectors; the corpus "
                    f"holds only {len(cand)} — lower k"
                )
            limit *= 2
    # weight candidates by their assignment-cell sizes (one aggregate)
    cdf = spark.createDataFrame(
        list(enumerate(cand)), "cid int, cv array<double>"
    )
    wrows = _assign(v, cdf).groupBy("cid").count().collect()
    weights = np.zeros(len(cand))
    for r in wrows:
        weights[r.cid] = float(r["count"])
    c = np.array(cand)
    norms = np.sqrt((c * c).sum(axis=1))
    norms[norms == 0.0] = 1.0
    cn = c / norms[:, None]
    cos = np.clip(cn @ cn.T, -1.0, 1.0)
    d2 = (1.0 - cos) ** 2
    chosen = [int(weights.argmax())]  # ties: argmax takes the first index
    while len(chosen) < k:
        mind2 = d2[:, chosen].min(axis=1)
        score = weights * mind2
        score[chosen] = -1.0
        chosen.append(int(score.argmax()))
    return [cand[i] for i in chosen]


#: sample-trained Lloyd's (SemDeDup's production recipe — Abbas et al.
#: 2023 §3 train their 50K-cell quantizer on a corpus sample): m = 32·k
#: training vectors estimate k means with ~32 points per cell, so
#: training cost is iters·m·k = O(k²) — independent of corpus size —
#: while assignment stays one full-corpus broadcast pass
KMEANS_TRAIN_FACTOR = 32


def kmeans_train(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    seeding: str = "first_k",
    train_sample: int | None = None,
    n: int | None = None,
) -> list[list[float]]:
    """Distributed spherical k-means (Lloyd's iterations) training the IVF
    coarse quantizer IN the engine — MLlib's execution shape: the data
    never leaves the cluster; only the k x dim centroid matrix visits the
    driver each round (k*dim doubles — constant in the data size, which
    is why this scales to any corpus).

    Deterministic and oracle-certifiable end to end: seeds are the k
    smallest vec_ids, assignment ranks a ROUND-6 cosine with cid
    tie-break, and the per-dimension means are vec_id-ordered folds
    (functions/detsum.osum) rounded to 6 — so both engines stay in exact
    lockstep across iterations (the DuckDB twin unrolls the same
    iterations as CTEs).  Empty clusters keep their previous centroid.

    ``seeding``: ``"first_k"`` (default — the deterministic oracle path)
    or ``"parallel"`` (k-means‖, :func:`kmeans_parallel_seed` — the
    opt-in quality path for production-scale k; also deterministic, but
    its DuckDB twin is not maintained, so it stays off the gate).

    ``train_sample``: when set and the corpus is larger, Lloyd's runs on
    a bounded DETERMINISTIC sample (md5-membership on vec_id, the same
    cross-engine coin every sampler here uses) of ≈``train_sample``
    vectors — the SemDeDup paper's recipe for decoupling the cell count
    from training cost (k can scale ∝ corpus/target_cell_size while
    training stays O(iters·train_sample·k)).  ``None`` (default — every
    oracle-certified path) trains on the full corpus.  ``n`` optionally
    supplies the known corpus size so no extra count job runs."""
    from ..functions import detsum as _det

    spark = emb.sparkSession
    # one persisted copy of the vectors feeds every iteration (each round
    # is a separate eager job; without this the parquet scan + double
    # cast re-runs 5x); hash-partitioned by vec_id so the per-round
    # assignment->vectors join reuses the layout on both sides — the
    # vectors are shuffled ONCE here, never per iteration
    v = _kmeans_vecs(emb)
    if train_sample is not None:
        size = n if n is not None else v.count()
        if size > train_sample:
            v = v.filter(
                _u01(F.col("vec_id"), "kmeanstrain|")
                < F.lit(train_sample / size)
            )
    v = v.repartition("vec_id").persist()
    try:
        if seeding == "parallel":
            cents: list[list[float]] = kmeans_parallel_seed(v, k)
        elif seeding == "first_k":
            seed = v.orderBy("vec_id").limit(k).select(
                F.transform("x", lambda d: F.round(d, 6)).alias("cv")
            )
            cents = [list(r.cv) for r in seed.collect()]
        else:
            raise ValueError(f"unknown seeding: {seeding!r}")
        for _ in range(iters):
            cdf = spark.createDataFrame(
                list(enumerate(cents)), "cid int, cv array<double>"
            )
            upd = (
                _assign(v, cdf)
                .join(v, "vec_id")
                .select("vec_id", "cid", F.posexplode("x").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(
                    F.round(
                        _det.osum(F.col("vec_id"), F.col("val")) / F.count("*"),
                        6,
                    ).alias("m")
                )
                .groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s["m"],
                    ).alias("cv")
                )
            )
            new = {r.cid: list(r.cv) for r in upd.collect()}
            cents = [new.get(i, cents[i]) for i in range(k)]
    finally:
        v.unpersist()
    return cents


def kmeans_assign(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """Final cluster assignment after :func:`kmeans_train` — the trained
    coarse-quantizer cells an IVF index would bucket the corpus by.
    Output: (vec_id, cluster, centroid_cos).  ``cents`` injects an
    already-trained centroid matrix (several catalog entries consume the
    same quantizer — train once, assign many)."""
    spark = emb.sparkSession
    if cents is None:
        cents = kmeans_train(emb, k, iters)
    cdf = spark.createDataFrame(
        list(enumerate(cents)), "cid int, cv array<double>"
    )
    return _assign(_kmeans_vecs(emb), cdf).select(
        "vec_id",
        F.col("cid").alias("cluster"),
        F.col("cos").alias("centroid_cos"),
    )

"""Hot-shingle guard (max_df stop-listing) for n-gram Jaccard dedup.

The skewed fixture is the 100 TB failure mode in miniature: every doc
shares one boilerplate phrase, so the uncapped prefix join degenerates to
all-pairs on that shingle's posting list (the serialized-reducer
scenario).  The guard must (a) bound the candidate set and (b) keep the
capped result in exact agreement with a DuckDB twin applying the same
document-frequency cut.
"""

from __future__ import annotations

from types import SimpleNamespace

import duckdb
import pytest
from py4j.protocol import Py4JError

from conftest import compare_frames

from rangebar_patterns_spark.operators.dedup import (
    _shingle_arrays,
    ngram_candidates,
    ngram_jaccard_pairs,
    spread_narrow_scan,
)
from rangebar_patterns_spark.plans.textops_oracle import ngram_jaccard_capped_sql

N_DOCS = 40
THRESHOLD = 0.5
MAX_DF = 10


@pytest.fixture(scope="module")
def skewed_docs(spark):
    # "h1..h5" yields 3 hot shingles (df = N_DOCS); the unique tail word
    # yields 1 rare shingle per doc.  Prefix length at t=0.5 over 4
    # shingles is 3, so the hot shingles DO enter the prefix join.
    rows = [(i, f"h1 h2 h3 h4 h5 u{i}") for i in range(N_DOCS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_uncapped_posting_list_degenerates(spark, skewed_docs):
    cand = ngram_candidates(_shingle_arrays(skewed_docs), THRESHOLD)
    assert cand.count() == N_DOCS * (N_DOCS - 1) // 2  # all-pairs blowup


def test_capped_candidates_bounded(spark, skewed_docs):
    arrs = _shingle_arrays(skewed_docs, max_df=MAX_DF)
    # hot shingles dropped -> each doc keeps only its unique shingle
    assert ngram_candidates(arrs, THRESHOLD).count() == 0
    # guard boundary: a cap at exactly df keeps the shingles
    arrs_loose = _shingle_arrays(skewed_docs, max_df=N_DOCS)
    assert ngram_candidates(arrs_loose, THRESHOLD).count() == N_DOCS * (N_DOCS - 1) // 2


def test_capped_matches_duckdb_twin(spark, skewed_docs):
    # mixed corpus: boilerplate + genuinely near-duplicate pairs that
    # survive the cap through their rare shingles
    rows = [(i, f"h1 h2 h3 h4 h5 u{i}") for i in range(20)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
        (102, "totally different words here indeed"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sp = ngram_jaccard_pairs(docs, THRESHOLD, max_df=MAX_DF)

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    du = con.execute(ngram_jaccard_capped_sql(MAX_DF, THRESHOLD)).df()
    compare_frames(sp, du)
    # the near-dup pair must survive the cap (its overlap is rare shingles)
    got = {(r["doc_a"], r["doc_b"]) for r in sp.collect()}
    assert (100, 101) in got


# --- LSH band-join hot-bucket guard (round 12) -----------------------------
#
# The band key is the second Zipf axis: a boilerplate template shared by a
# large corpus slice collapses the minhash signature, and ONE oversized
# band bucket makes the banded self-join quadratic in its size.  The
# max_bucket guard drops oversized buckets before the join.

MAX_BUCKET = 10


@pytest.fixture(scope="module")
def template_docs(spark):
    # 30 byte-identical template docs (every band bucket has size >= 30)
    # plus one identical PAIR whose buckets have size 2 — the pair must
    # survive the cap, the template cluster must not reach the join.
    rows = [(i, "boiler plate text common to every template doc") for i in range(30)]
    rows += [
        (200, "alpha beta gamma delta epsilon zeta eta"),
        (201, "alpha beta gamma delta epsilon zeta eta"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_uncapped_band_bucket_degenerates(spark, template_docs):
    from rangebar_patterns_spark.operators.dedup import minhash_lsh_pairs

    # all template docs share every band -> the self-join emits the full
    # quadratic pair set (the 100 TB serialized-reducer shape)
    n = minhash_lsh_pairs(template_docs).count()
    assert n == 30 * 29 // 2 + 1


def test_capped_band_bucket_bounded(spark, template_docs):
    from rangebar_patterns_spark.operators.dedup import minhash_lsh_pairs

    got = minhash_lsh_pairs(template_docs, max_bucket=MAX_BUCKET).collect()
    # only the small-bucket pair survives; the boilerplate cluster's
    # buckets (size 30 > cap) never reach the join
    assert {(r.doc_a, r.doc_b) for r in got} == {(200, 201)}
    # boundary: a cap at exactly the cluster size keeps everything
    loose = minhash_lsh_pairs(template_docs, max_bucket=30).count()
    assert loose == 30 * 29 // 2 + 1


def test_capped_band_join_matches_duckdb_twin(spark, template_docs):
    from rangebar_patterns_spark.operators.dedup import minhash_lsh_pairs
    from rangebar_patterns_spark.plans.textops_oracle import (
        minhash_lsh_capped_sql,
    )

    sp = minhash_lsh_pairs(template_docs, max_bucket=MAX_BUCKET)
    con = duckdb.connect()
    con.register("documents", template_docs.toPandas())
    du = con.execute(minhash_lsh_capped_sql(MAX_BUCKET)).df()
    compare_frames(sp, du)


def test_simhash_fingerprints_match_bruteforce(spark):
    """The per-bit conditional-sum SimHash (round-12: replaced the
    bits-way explode + (doc, bit)-grain aggregate) must equal the
    definition computed brute-force per document in Python: sum +1/-1
    contributions of every token OCCURRENCE per bit of its md5-prefix
    hash, sign -> bit."""
    import hashlib

    from rangebar_patterns_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash_fingerprints,
    )

    texts = [
        (1, "the cat sat on the mat the cat"),
        (2, "the cat sat on the mat"),
        (3, "completely different words entirely here"),
        (4, "  leading   and trailing   spaces  "),
        (5, ""),  # wordless doc: no token rows, absent from output
        (6, "one"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])

    def hexint_py(w: str) -> int:
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16)

    expect = {}
    for doc_id, text in texts:
        words = [w for w in text.split(" ") if w != ""]
        if not words:
            continue
        sums = [0] * SIMHASH_BITS
        for w in words:
            h = hexint_py(w)
            for b in range(SIMHASH_BITS):
                sums[b] += ((h >> b) & 1) * 2 - 1
        expect[doc_id] = sum(1 << b for b in range(SIMHASH_BITS) if sums[b] > 0)

    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(docs).collect()
    }
    assert got == expect


def test_simhash_pairs_match_bruteforce_all_pairs(spark):
    """The first-matching-chunk candidate dedup (round-12: replaced the
    pair-grain .distinct()) must yield exactly the brute-force pair set:
    every unordered pair with hamming <= MAX_HAMMING, once each —
    including identical documents, whose fingerprints match on ALL
    chunks (the multiplicity case the distinct used to absorb)."""
    from itertools import combinations

    from rangebar_patterns_spark.operators.dedup import (
        MAX_HAMMING,
        simhash_fingerprints,
        simhash_near_pairs,
    )

    texts = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # identical to 1
        (3, "alpha beta gamma delta epsilon eta"),    # near 1/2
        (4, "totally different content over here now"),
        (5, "alpha beta gamma delta epsilon zeta"),   # identical to 1/2
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(docs).collect()
    }
    expect = set()
    for da, db in combinations(sorted(fps), 2):
        if bin(fps[da] ^ fps[db]).count("1") <= MAX_HAMMING:
            expect.add((da, db))
    rows = simhash_near_pairs(docs).collect()
    got = [(r["doc_a"], r["doc_b"]) for r in rows]
    assert sorted(got) == sorted(expect)      # same pair set
    assert len(got) == len(set(got))          # each pair exactly once
    for r in rows:
        assert r["hamming"] == bin(r["sh_a"] ^ r["sh_b"]).count("1")


@pytest.mark.parametrize("exc", [AttributeError("_jdf"), Py4JError("no stats")])
def test_spread_narrow_scan_warns_on_stats_fallback(spark, exc):
    """A plan whose statistics call raises (Spark Connect has no ``_jdf``;
    a stats-less plan raises in the JVM) spreads to the session width —
    with a warning, not silently."""

    class _Jdf:
        def queryExecution(self):
            raise exc

    class _Docs:
        sparkSession = spark
        _jdf = _Jdf()
        rdd = SimpleNamespace(getNumPartitions=lambda: 1)

        def repartition(self, width, key):
            return ("spread", width)

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with pytest.warns(RuntimeWarning, match="no plan statistics"):
        assert spread_narrow_scan(_Docs()) == ("spread", n)

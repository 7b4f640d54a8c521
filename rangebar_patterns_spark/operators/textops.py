"""Text-analysis operators over the ``documents`` table: token counting,
language-ID heuristic, quality scoring, rolling-hash fingerprinting.

Everything is built-in string/array expressions (JVM-side, codegen-able);
the DuckDB twins (plans/textops_oracle.py) use the same regexes (ASCII
corpus — RE2 vs Java semantics agree) and the same sequential folds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import hold
from .dedup import HASH_MOD, SHINGLE_N, shingles_col, words_col

#: BPE-ish tokenization: word runs or single non-space symbols
BPE_REGEX = r"\w+|[^\w\s]"

STOPWORDS = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}
LANG_PRIORITY = ["en", "de", "fr", "es"]  # deterministic argmax tie-break


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token counts, char stats, average token
    length."""
    w = words_col()
    n_ws = F.size(w).cast("long")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), 0)).cast("long")
    n_nonspace = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("long")
    return docs.select(
        "doc_id",
        "n_chars",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        n_nonspace.alias("n_nonspace_chars"),
        F.round(
            n_nonspace.cast("double") / F.nullif(n_ws.cast("double"), F.lit(0.0)), 6
        ).alias("avg_token_len"),
    )


def _stop_ratio(lang: str) -> Column:
    w = words_col()
    hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS[lang])))
    return hits.cast("double") / F.nullif(F.size(w).cast("double"), F.lit(0.0))


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-ratio language scores + deterministic argmax (priority
    order breaks ties); 'unknown' when no list scores above zero."""
    out = docs.select(
        "doc_id",
        "lang",
        *[F.round(_stop_ratio(lg), 6).alias(f"score_{lg}") for lg in LANG_PRIORITY],
    )
    best = F.greatest(*[F.col(f"score_{lg}") for lg in LANG_PRIORITY])
    pred = F.lit("unknown")
    for lg in reversed(LANG_PRIORITY):
        pred = F.when(F.col(f"score_{lg}") == best, F.lit(lg)).otherwise(pred)
    out = out.withColumn(
        "predicted_lang", F.when(best > 0, pred).otherwise(F.lit("unknown"))
    )
    return out.withColumn("matches_label", F.col("predicted_lang") == F.col("lang"))


#: Gopher rule thresholds (Rae et al. 2021, Appendix A1.1) — the
#: word-based subset applicable to single-line documents; the line-based
#: rules (bullet starts, ellipsis line ends) are degenerate on a corpus
#: without newlines and deliberately omitted.  Shared with the oracle.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORDS = 2


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score: length band, alpha /
    punctuation ratios, stopword presence, token-length sanity — plus the
    Gopher rule flags (Rae et al. 2021 A1.1, word-based subset): word
    count band, mean word length band, alphabetic-word fraction,
    distinct-stopword floor, the '#' and '...' symbol-to-word ratios
    (tested SEPARATELY with the paper's remove-when-strictly-beyond
    boundaries: keep needs frac >= 0.8 and each ratio <= 0.1), and the
    combined ``gopher_pass``.  Deliberate deviations from A1.1, both
    documented here: the line-based rules (bullet starts, ellipsis line
    ends) are omitted (single-line corpus), and the distinct-stopword
    floor uses this module's 7-word English list, not the paper's.
    Wordless documents coalesce every per-word rule flag to false (never
    NULL).  All map-only built-in expressions."""
    w = words_col()
    n_tok = F.size(w).cast("double")
    n_chars = F.col("n_chars").cast("double")
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^a-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(F.col("text"), r"[a-z0-9 ]", "")).cast("double")
    alpha_ratio = alpha / F.nullif(n_chars, F.lit(0.0))
    punct_ratio = punct / F.nullif(n_chars, F.lit(0.0))
    stop_ratio = _stop_ratio("en")
    avg_len = (
        F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double")
        / F.nullif(n_tok, F.lit(0.0))
    )
    len_band = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    word_sanity = F.when((avg_len >= 2.0) & (avg_len <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    score = (
        F.lit(0.3) * len_band
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.2) * F.least(stop_ratio * F.lit(10.0), F.lit(1.0))
        + F.lit(0.1) * (F.lit(1.0) - F.least(punct_ratio * F.lit(5.0), F.lit(1.0)))
        + F.lit(0.1) * word_sanity
    )
    # Gopher flags — every fraction is ROUNDED before the threshold
    # compare so both engines cut on the identical value
    alpha_word_frac = F.round(
        F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("double")
        / F.nullif(n_tok, F.lit(0.0)),
        6,
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(w), F.array(*[F.lit(s) for s in STOPWORDS["en"]])
        )
    )
    hash_cnt = F.length("text") - F.length(F.replace("text", F.lit("#"), F.lit("")))
    ell_cnt = (
        (F.length("text") - F.length(F.replace("text", F.lit("..."), F.lit(""))))
        / F.lit(3)
    ).cast("long")
    # the paper tests the '#' and '...' symbol-to-word ratios SEPARATELY
    # (remove when either exceeds the threshold), so two columns, not a
    # summed composite; boundary semantics are the paper's "remove when
    # strictly beyond" (keep at exactly-the-threshold)
    hash_ratio = F.round(hash_cnt.cast("double") / F.nullif(n_tok, F.lit(0.0)), 6)
    ell_ratio = F.round(ell_cnt.cast("double") / F.nullif(n_tok, F.lit(0.0)), 6)
    r_words = (n_tok >= GOPHER_MIN_WORDS) & (n_tok <= GOPHER_MAX_WORDS)
    # wordless documents make every per-word fraction NULL (nullif(n_tok,
    # 0)); the rule flags coalesce to false — a NULL BOOLEAN would hit the
    # Spark-None vs DuckDB-NaN value-hash split the knee panel documents
    r_wlen = F.coalesce(
        (F.round(avg_len, 6) >= GOPHER_MIN_WORD_LEN)
        & (F.round(avg_len, 6) <= GOPHER_MAX_WORD_LEN),
        F.lit(False),
    )
    r_alpha = F.coalesce(
        alpha_word_frac >= F.lit(GOPHER_MIN_ALPHA_FRAC), F.lit(False)
    )
    r_stop = n_stop >= GOPHER_MIN_STOPWORDS
    r_sym = F.coalesce(
        (hash_ratio <= F.lit(GOPHER_MAX_SYMBOL_RATIO))
        & (ell_ratio <= F.lit(GOPHER_MAX_SYMBOL_RATIO)),
        F.lit(False),
    )
    return docs.select(
        "doc_id",
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(avg_len, 6).alias("avg_word_len"),
        F.round(score, 6).alias("quality_score"),
        alpha_word_frac.alias("alpha_word_frac"),
        hash_ratio.alias("hash_word_ratio"),
        ell_ratio.alias("ellipsis_word_ratio"),
        r_words.alias("rule_word_count"),
        r_wlen.alias("rule_mean_word_len"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        r_sym.alias("rule_symbol_ratio"),
        (r_words & r_wlen & r_alpha & r_stop & r_sym).alias("gopher_pass"),
    )


# --- BPE tokenizer training (in-engine) -------------------------------------

#: learned merge budget for the certified panel: 8 rounds keeps the
#: unrolled DuckDB twin tractable; the Spark trainer takes any n
BPE_MERGES = 8


def _char_seq(word: Column) -> Column:
    """Initial BPE symbol sequence: the word's characters (1-based
    substring — identical to the twin's w[i] indexing on ASCII)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)), lambda i: F.substring(word, i, 1)
    )


def _apply_merge(seq: Column, a: str, b: str) -> Column:
    """Left-to-right greedy application of one learned merge (a, b) ->
    a||b — the standard BPE apply fold, exact in both engines."""
    return F.aggregate(
        seq,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_seq(merges: list[tuple[str, str]]) -> Column:
    seq = _char_seq(F.col("word"))
    for a, b in merges:
        seq = _apply_merge(seq, a, b)
    return seq


def bpe_vocab(docs: DataFrame) -> DataFrame:
    """(word, freq): the word-type table BPE trains on — the one
    corpus-sized aggregation; every training round after it runs on the
    (small) vocabulary, exactly how production BPE trainers decompose
    the work (count words once, learn merges on types weighted by
    frequency)."""
    return (
        docs.select(F.explode(words_col()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def bpe_train(
    docs: DataFrame, n_merges: int = BPE_MERGES
) -> list[tuple[str, str]]:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016) in-engine:
    each round is one distributed pass over the vocabulary — explode
    adjacent symbol pairs weighted by word frequency, integer-sum per
    pair (exact, order-free), and collect the argmax — then the winning
    pair becomes a literal in the next round's apply fold.  Only the
    merge list (n strings) ever visits the driver; ties break
    deterministically by (count desc, left asc, right asc), so the
    unrolled DuckDB twin learns the identical table."""
    # incremental rounds: the CURRENT symbol sequences stay materialized
    # and each round applies only the newest merge (one fold) — identical
    # by construction to re-deriving from raw chars (sequential
    # application IS the definition), but the per-round plan holds ONE
    # fold instead of r nested ones, so codegen compile cost stays flat
    # across rounds.  localCheckpoint (eager), NOT persist: the former
    # persist(nxt)+unpersist(cur) pair dropped cur's cache BEFORE the
    # lazy nxt ever materialized, so round r re-derived all r-1 prior
    # folds from the raw vocabulary through lineage — O(rounds²) total
    # re-derivation (measured: bpe_train alone was 18-28 s of the sf1
    # text_metrics entry).  The eager checkpoint materializes each
    # round's sequences from its predecessor's blocks while they are
    # still alive and truncates the lineage to a LogicalRDD (§5, §7.3).
    cur = (
        bpe_vocab(docs)
        .select("word", "freq", _char_seq(F.col("word")).alias("s"))
        .localCheckpoint()
    )
    try:
        merges: list[tuple[str, str]] = []
        for _ in range(n_merges):
            pairs = (
                cur.select(
                    "freq",
                    F.explode(
                        F.when(
                            F.size("s") >= 2,
                            F.transform(
                                F.sequence(F.lit(1), F.size("s") - 1),
                                lambda i: F.struct(
                                    F.element_at(F.col("s"), i).alias("a"),
                                    F.element_at(F.col("s"), i + 1).alias("b"),
                                ),
                            ),
                        ).otherwise(F.expr(
                            "CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)"
                        ))
                    ).alias("p"),
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("cnt"))
            )
            top = pairs.orderBy(
                F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
            ).limit(1).collect()
            if not top:
                break
            a, b = top[0].a, top[0].b
            merges.append((a, b))
            nxt = cur.select(
                "word", "freq", _apply_merge(F.col("s"), a, b).alias("s")
            ).localCheckpoint()
            cur = nxt
        return merges
    finally:
        # checkpointed blocks are released when their RDDs are GC'd;
        # unpersist here is a cheap no-op kept so the cleanup shape
        # matches the persisted-state loops elsewhere in the module
        cur.unpersist()


#: merge-count ceiling for the single-expression nested apply: the
#: certified 8-merge panel nests all folds in ONE expression (zero extra
#: jobs); a realistic 32K-merge table would hit a codegen/analysis wall
#: at that shape, so above the ceiling the apply runs in chunks of this
#: many folds with the lineage truncated between chunks — the training
#: loop's persisted-state discipline, identical results by construction
#: for a sequential-application algorithm
BPE_NESTED_MAX = 16


def bpe_word_tokens(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    max_nested: int = BPE_NESTED_MAX,
) -> DataFrame:
    """(word, w_tok, w_chars): the learned merge table applied once per
    word TYPE.  Up to ``max_nested`` merges nest in one expression (the
    certified-at-8 plan); larger tables apply iteratively — chunks of
    ``max_nested`` folds over a vocabulary-sized relation, lineage
    truncated per chunk (localCheckpoint) so plan depth and codegen cost
    stay bounded at any merge-table size (a production 32K-merge
    vocabulary runs ~2K vocabulary-sized rounds, never one 32K-fold
    expression).  tests/test_bpe.py pins nested-vs-iterative equality at
    64 merges."""
    wt = docs.select(F.explode(words_col()).alias("word")).distinct()
    if len(merges) <= max_nested:
        cur = wt.select("word", _bpe_seq(merges).alias("s"))
    else:
        cur = wt.select("word", _char_seq(F.col("word")).alias("s"))
        for i in range(0, len(merges), max_nested):
            s = F.col("s")
            for a, b in merges[i : i + max_nested]:
                s = _apply_merge(s, a, b)
            cur = cur.select("word", s.alias("s")).localCheckpoint()
    return cur.select(
        "word",
        F.size("s").cast("long").alias("w_tok"),
        F.length("word").cast("long").alias("w_chars"),
    )


def bpe_token_counts(
    docs: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(doc_id, bpe_vocab_tokens, bpe_chars_per_token): tokenize with the
    learned merges — applied once per word TYPE (the vocabulary, via
    :func:`bpe_word_tokens`), then broadcast-joined back to the doc-word
    relation and integer-summed, so the fold never runs per occurrence.
    Docs with no words keep a zero count (left join)."""
    wt = bpe_word_tokens(docs, merges)
    dw = docs.select("doc_id", F.explode(words_col()).alias("word"))
    agg = (
        dw.join(wt, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("w_tok").alias("bpe_vocab_tokens"),
            F.round(
                F.sum("w_chars").cast("double")
                / F.sum("w_tok").cast("double"),
                6,
            ).alias("bpe_chars_per_token"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("bpe_vocab_tokens", F.lit(0).cast("long")).alias(
                "bpe_vocab_tokens"
            ),
            "bpe_chars_per_token",
        )
    )


#: winnowing guarantee window (Schleimer et al. 2003 §4): every run of
#: WINNOW_WINDOW consecutive k-grams contributes at least one selected
#: fingerprint, so any match of length >= k + WINNOW_WINDOW - 1 words is
#: detected — the MOSS local-fingerprinting contract
WINNOW_WINDOW = 4


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprints: order-sensitive polynomial rolling hash over
    the word-hash sequence (acc*31 + h mod P, sequential fold — exact in
    both engines), the order-insensitive min-shingle-hash (winnowing's
    degenerate whole-document window), and full WINNOWING (Schleimer et
    al. 2003, the MOSS algorithm): the min k-gram hash of every
    WINNOW_WINDOW-wide sliding window, deduplicated — the locality
    guarantee min-hash lacks (any sufficiently long shared run selects a
    common fingerprint regardless of where it sits).  ``n_winnow_fp`` is
    the selected-set size, ``winnow_fp`` folds the SORTED set through the
    same polynomial (set-valued document sketch).  All integer math —
    map-only, exact in both engines.  Ties keep the min VALUE (we sketch
    the hash set, not MOSS's positional rightmost-min variant)."""
    # bound-words two-stage (see shingles_col's performance contract)
    w = F.col("_w")
    word_hashes = F.transform(
        w,
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")
        % F.lit(HASH_MOD),
    )
    rolling = F.aggregate(
        word_hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(31) + h) % F.lit(HASH_MOD),
    )
    shingle_hashes = F.transform(
        shingles_col(words=w),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % F.lit(HASH_MOD),
    )
    sh = F.col("_sh")
    # one window per position; a doc shorter than the window yields ONE
    # fingerprint (min of all its grams); the empty-gram doc yields []
    # (the slice-min is NULL only there, stripped by the filter)
    wins = F.filter(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.lit(1), F.size(sh) - F.lit(WINNOW_WINDOW - 1)),
            ),
            lambda i: F.array_min(F.slice(sh, i, WINNOW_WINDOW)),
        ),
        lambda x: x.isNotNull(),
    )
    winnow_set = F.array_sort(F.array_distinct(wins))
    return (
        docs.select("doc_id", words_col().alias("_w"))
        .select("doc_id", "_w", shingle_hashes.alias("_sh"))
        .select(
            "doc_id",
            F.size(w).cast("long").alias("n_tokens"),
            rolling.alias("rolling_fp"),
            F.array_min(sh).alias("min_shingle_fp"),
            F.size(winnow_set).cast("long").alias("n_winnow_fp"),
            F.aggregate(
                winnow_set,
                F.lit(0).cast("long"),
                lambda acc, h: (acc * F.lit(31) + h) % F.lit(HASH_MOD),
            ).alias("winnow_fp"),
        )
    )


def deterministic_sample(
    docs: DataFrame,
    rate: float,
    key: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Reproducible corpus sampling by key hash — the training-data
    pipeline's subsetting primitive.  Unlike ``df.sample`` (seeded per
    partition layout, so results shift when partitioning changes), the
    keep decision is a pure function of (salt, key): re-runs, re-shards
    and incremental appends all agree on membership, and disjoint salts
    give independent samples (e.g. held-out eval splits).  Embarrassingly
    parallel — one hash per row, no shuffle."""
    bucket = F.pmod(
        F.xxhash64(F.lit(salt), F.col(key).cast("string")), F.lit(1_000_000)
    )
    return docs.filter(bucket < int(rate * 1_000_000))


def pack_documents(
    docs: DataFrame,
    token_budget: int,
    shard_col: str | None = None,
    n_shards: int = 64,
) -> DataFrame:
    """Sequence packing: assign documents to fixed-budget packs (the
    standard LLM-pretraining batching step — concatenate short docs up to
    a token budget).  Deterministic block packing: docs are ordered by
    (hash-assigned shard, doc_id), a running token cumsum is taken per
    shard, and pack_id = floor((cumsum - tokens) / budget) — each doc
    starts in its pack; at most one doc per boundary overflows, which the
    trainer truncates or spills (the usual convention).

    One window over a hash-sharded key — no Python, no global sort; shard
    count bounds the window width the way (symbol,) bounds the bar
    windows.  Returns (doc_id, shard, pack_id, n_tokens, pack_pos)."""
    from pyspark.sql import Window

    toks = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ).cast("long")
    shard = (
        F.col(shard_col)
        if shard_col is not None
        else F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_shards))
    )
    d = docs.select(
        "doc_id", shard.alias("shard"), toks.alias("n_tokens")
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return (
        d.withColumn(
            "pack_id",
            F.floor((cum - F.col("n_tokens")) / F.lit(float(token_budget))).cast(
                "long"
            ),
        )
        .withColumn(
            "pack_pos",
            F.row_number().over(Window.partitionBy("shard", "pack_id").orderBy("doc_id")).cast("long"),
        )
    )


#: gate-entry packing configuration: small budget so sf0.001's ~100-word
#: docs actually split across packs; 16 shards bounds the window width;
#: the sample column demonstrates reproducible held-out splitting at the
#: same grain.  Salts are the cross-engine md5 coin convention.
PACK_BUDGET_TOKENS = 256
PACK_SHARDS = 16
PACK_SAMPLE_RATE = 0.25
PACK_SALT = "pack-v1"
PACK_SAMPLE_SALT = "packsample-v1"


def packing_panel(
    docs: DataFrame,
    token_budget: int = PACK_BUDGET_TOKENS,
    n_shards: int = PACK_SHARDS,
    sample_rate: float = PACK_SAMPLE_RATE,
) -> DataFrame:
    """Oracle-certifiable sampling + packing panel: the two deterministic
    batching primitives a pre-training pipeline runs last, on one
    doc-grain row — :func:`pack_documents` block packing (here sharded by
    the cross-engine md5 coin instead of the production xxhash64 default,
    so the DuckDB twin hash-matches) plus a reproducible ``sample_keep``
    split (same membership contract as :func:`deterministic_sample`:
    a pure function of (salt, doc_id) — partition-layout-invariant,
    append-stable).

    Scale shape: one hash per row, one token count per row, one window
    per shard — no data-sized shuffle beyond the shard exchange; shard
    count scales the window parallelism the way (symbol,) scales the bar
    windows.  Output: (doc_id, shard, n_tokens, pack_id, pack_pos,
    sample_keep)."""
    from .dedup import hexint

    shard = F.pmod(
        hexint(F.concat_ws(":", F.lit(PACK_SALT), F.col("doc_id").cast("string"))),
        F.lit(n_shards),
    )
    keep = F.pmod(
        hexint(
            F.concat_ws(":", F.lit(PACK_SAMPLE_SALT), F.col("doc_id").cast("string"))
        ),
        F.lit(SAMPLE_MOD),
    ) < F.floor(F.lit(sample_rate) * F.lit(float(SAMPLE_MOD))).cast("long")
    packed = pack_documents(
        docs.withColumn("_shard", shard), token_budget, shard_col="_shard"
    )
    return packed.select(
        "doc_id", "shard", "n_tokens", "pack_id", "pack_pos"
    ).withColumn("sample_keep", keep)


# --- benchmark decontamination -------------------------------------------

#: deterministic stand-in eval set: documents with doc_id % MOD == RESIDUE
BENCHMARK_MOD = 100
BENCHMARK_RESIDUE = 7
#: flag threshold on the (rounded) contaminated-shingle fraction — the
#: GPT-3 appendix-C / PaLM family uses n-gram-overlap fractions; the exact
#: cut is policy, so it is a named constant shared with the oracle twin
CONTAMINATION_RATIO = 0.1


def benchmark_overlap(
    docs: DataFrame, benchmark: DataFrame, n: int | None = None
) -> DataFrame:
    """Training-data decontamination: score every corpus document by its
    word n-gram overlap with an evaluation/benchmark set (the GPT-3
    appendix-C / PaLM pre-training hygiene step: training examples sharing
    n-grams with eval data leak the benchmark).

    Output per doc: ``n_shingles`` (distinct n-grams), ``n_contaminated``
    (those also present anywhere in the benchmark set),
    ``contamination_ratio`` (rounded to 6), and ``is_contaminated``
    (ratio >= CONTAMINATION_RATIO).  Callers decide the corpus/benchmark
    split — pass ``docs`` already excluding the benchmark members when
    the eval set is drawn from the same table.

    Scale shape: an eval suite is small relative to a 100 TB corpus
    (thousands of documents, millions of distinct n-grams), so its
    hashed-shingle set is BROADCAST; the corpus side explodes each
    document's distinct shingles once (64-bit md5-prefix ints, never the
    raw strings) and aggregates straight back to doc grain — one keyed
    shuffle of (doc_id, count) pairs, no shuffle of document text."""
    from .dedup import hexint, shingles_col

    k = n or SHINGLE_N
    bench_sh = (
        benchmark.select(words_col().alias("_w"))
        .select(F.explode(shingles_col(k, words=F.col("_w"))).alias("s"))
        .select(hexint(F.col("s")).alias("shingle"))
        .distinct()
    )
    corpus = docs.select("doc_id", words_col().alias("_w")).select(
        "doc_id",
        F.array_distinct(
            F.transform(
                shingles_col(k, words=F.col("_w")), lambda s: hexint(s)
            )
        ).alias("_shs"),
    )
    hits = (
        corpus.select("doc_id", F.explode("_shs").alias("shingle"))
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    base = corpus.select(
        "doc_id", F.size("_shs").cast("long").alias("n_shingles")
    )
    out = base.join(hits, "doc_id", "left").withColumn(
        "n_contaminated", F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long"))
    )
    ratio = F.round(
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_contaminated").cast("double")
            / F.col("n_shingles").cast("double"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        ratio.alias("contamination_ratio"),
        (ratio >= F.lit(CONTAMINATION_RATIO)).alias("is_contaminated"),
    )


#: Bloom-filter geometry (round 12): k hash probes from the shared
#: md5-prefix family, BITS_PER_ELEM bits per inserted element — the
#: filter size ADAPTS to the benchmark shingle count (m = 64 words *
#: ceil(n/8), floored at MIN_WORDS words), so the fill ratio — and with
#: it the false-positive rate, (1-e^{-kn/m})^k ≈ 3% — is the same at
#: every fixture scale AND at 100 TB.  8 bits/elem with k=3 is
#: deliberately lossy: the certified false-positive columns need real
#: FPs at the gate fixture (the grams-not-words lesson from the CMS
#: sketch — a collision-free sketch certifies nothing).
BLOOM_K = 3
BLOOM_BITS_PER_ELEM = 8
BLOOM_MIN_WORDS = 4
#: usable bits per packed 64-bit word — the sign bit stays CLEAR so the
#: cross-engine word values are identical non-negative longs (DuckDB's
#: checked 1<<63 overflows where Spark's shiftleft wraps, and a negative
#: word would also change the VARCHAR rendering the bloom_hash signs)
BLOOM_WORD_BITS = 63
BLOOM_SALT = "bloom"


def _bloom_positions(shingle: Column, m_bits: Column) -> list[Column]:
    """The BLOOM_K bit positions of a hashed shingle: the shared
    md5-prefix int of 'bloom:<i>:<shingle>' mod m.  Operands are
    non-negative, so Spark pmod and DuckDB % agree."""
    from .dedup import hexint

    return [
        F.pmod(
            hexint(
                F.concat_ws(
                    ":",
                    F.lit(BLOOM_SALT),
                    F.lit(str(i)),
                    shingle.cast("string"),
                )
            ),
            m_bits,
        )
        for i in range(BLOOM_K)
    ]


def benchmark_overlap_bloom(
    docs: DataFrame, benchmark: DataFrame, n: int | None = None
) -> DataFrame:
    """The decontamination panel with the at-scale membership sketch
    riding along: every exact-overlap column of ``benchmark_overlap``
    (ground truth), plus per-document Bloom-filter verdicts and the
    certified false-positive columns, plus 'filter' rows describing the
    partial and merged bit arrays themselves.

    Why a Bloom filter: the exact path materializes the benchmark's
    distinct-shingle relation and joins the corpus against it — correct,
    but at 100 TB the membership structure each executor actually holds
    should be a BIT ARRAY, not a hash relation.  The classic Bloom
    filter (Bloom 1970; the reference's done-set membership pattern,
    scripts/gen600/submit.sh --skip-done, is the same guard in exact
    form) gives one-sided answers: never a false negative, false
    positives at a rate set by the geometry — so a 'clean' verdict is
    definitive and a 'hit' verdict errs toward caution, exactly the
    right polarity for decontamination.

    Scale shape: partial filters are built per benchmark partition
    (bench-doc grain here — the distributed build is a partial bit_or
    aggregate per executor partition, merged by OR; OR-associativity is
    what lets 1000 executors build the filter without ever colocating
    the benchmark), the merged array is a few KB broadcast to every
    probe task, and the probe itself is pure integer bit math inside
    codegen — no join, no shuffle beyond the existing doc-grain
    aggregate the exact path already pays.  The Spark merged row is
    built by OR-ing the per-part words while the DuckDB twin builds it
    from the global position set — their hash equality IS the merge-law
    certification (the KMV/HLL/q-digest discipline).

    Output rows: row_kind='doc' (one per corpus document, doc-grain
    columns) UNION row_kind='filter' (one per bench partial +
    '__merged__', bit-array columns: inserted count, bits set, fill
    ratio, geometry m, and the md5 of the packed words).  Boolean
    verdicts are cast to string on both engines (NULL-padded booleans
    hash differently across Arrow/DuckDB)."""
    from .dedup import hexint, shingles_col

    k = n or SHINGLE_N
    long_null = F.lit(None).cast("long")
    str_null = F.lit(None).cast("string")
    dbl_null = F.lit(None).cast("double")

    # --- benchmark shingles, partitioned for the partial-filter build ---
    # round 13 (§2.4, VERDICT r12 #8): the panel's components used to be
    # separate aggregates over re-executed copies of this subtree (the
    # r12 plan showed ~24 Exchanges, zero reuse); the benchmark side is
    # tiny at any scale (the eval split), so persist the distinct shingle
    # relation once and let every component read the cache, and fuse the
    # per-part/merged word aggregates into ONE grouping-sets pass below.
    bench_sh = hold(
        benchmark.select(
            F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias(
                "part"
            ),
            words_col().alias("_w"),
        )
        .select(
            "part", F.explode(shingles_col(k, words=F.col("_w"))).alias("s")
        )
        .select("part", hexint(F.col("s")).alias("shingle"))
        .distinct()
    )
    bench_global = hold(bench_sh.select("shingle").distinct())
    # filter geometry from the GLOBAL inserted count (partials must share
    # m for OR to be meaningful) — one scalar row, broadcast everywhere
    mrel = bench_global.agg(
        F.count("*").cast("long").alias("n_ins")
    ).select(
        "n_ins",
        F.greatest(
            F.lit(BLOOM_MIN_WORDS).cast("long"),
            F.expr(
                f"(n_ins * {BLOOM_BITS_PER_ELEM} + {BLOOM_WORD_BITS - 1})"
                f" DIV {BLOOM_WORD_BITS}"
            ).cast("long"),
        ).alias("m_words"),
    ).withColumn("m_bits", F.col("m_words") * BLOOM_WORD_BITS)

    # --- per-part packed words via bit_or partial aggregates ------------
    pos_long = (
        bench_sh.crossJoin(F.broadcast(mrel))
        .select(
            "part",
            "m_words",
            F.explode(
                F.array(*_bloom_positions(F.col("shingle"), F.col("m_bits")))
            ).alias("pos"),
        )
        .select(
            "part",
            "m_words",
            (F.col("pos") / BLOOM_WORD_BITS).cast("long").alias("widx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("wval"),
        )
    )
    # ONE grouping-sets aggregate covers both grains — (part, widx) for
    # the partial filters AND (widx) for the merged filter.  bit_or is
    # associative and commutative, so OR-ing the raw position words
    # directly at the merged grain equals the former OR-of-per-part-words
    # formulation bit for bit (the merge law the panel certifies).
    sparse = (
        pos_long.groupingSets(
            [["part", "m_words", "widx"], ["m_words", "widx"]],
            "part",
            "m_words",
            "widx",
        )
        .agg(F.bit_or("wval").alias("word"))
        .select(
            F.coalesce("part", F.lit("__merged__")).alias("part"),
            "m_words",
            "widx",
            "word",
        )
    )

    def densify(rel: DataFrame) -> DataFrame:
        return rel.groupBy("part", "m_words").agg(
            F.map_from_arrays(
                F.collect_list(F.col("widx").cast("int")),
                F.collect_list("word"),
            ).alias("_wm")
        ).select(
            "part",
            "m_words",
            F.transform(
                F.sequence(F.lit(0), (F.col("m_words") - 1).cast("int")),
                lambda wi: F.coalesce(
                    F.element_at(F.col("_wm"), wi), F.lit(0).cast("long")
                ),
            ).alias("_words"),
        )

    # every partial + the merged row in one densify pass; the relation is
    # a handful of rows (one per bench doc + one), persisted because both
    # the filter-row union and the probe's broadcast read it
    dense_all = hold(densify(sparse))
    dense_parts = dense_all.filter(F.col("part") != "__merged__")
    dense_merged = dense_all.filter(F.col("part") == "__merged__")
    n_ins_part = bench_sh.groupBy("part").agg(
        F.count("*").cast("long").alias("n_inserted")
    )
    n_ins_all = mrel.select(
        F.lit("__merged__").alias("part"), F.col("n_ins").alias("n_inserted")
    )

    def filter_rows(dense: DataFrame, nrel: DataFrame) -> DataFrame:
        bits_set = F.aggregate(
            F.transform(F.col("_words"), lambda w: F.bit_count(w).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        )
        return dense.join(F.broadcast(nrel), "part").select(
            F.lit("filter").alias("row_kind"),
            long_null.alias("doc_id"),
            F.col("part"),
            F.col("n_inserted").alias("n_shingles"),
            long_null.alias("n_contaminated"),
            dbl_null.alias("contamination_ratio"),
            str_null.alias("is_contaminated"),
            bits_set.alias("n_bloom"),
            F.round(
                bits_set.cast("double")
                / (F.col("m_words") * float(BLOOM_WORD_BITS)),
                6,
            ).alias("bloom_ratio"),
            str_null.alias("is_contaminated_bloom"),
            long_null.alias("n_false_pos"),
            str_null.alias("fp_flag"),
            (F.col("m_words") * BLOOM_WORD_BITS).cast("long").alias("bloom_m"),
            F.md5(
                F.concat_ws(
                    ",", F.transform(F.col("_words"), lambda w: w.cast("string"))
                )
            ).alias("bloom_hash"),
        )

    frows = filter_rows(dense_parts, n_ins_part).unionByName(
        filter_rows(dense_merged, n_ins_all)
    )

    # --- probe: one exploded pass feeds BOTH the exact and bloom counts --
    # round 13: explode_outer keeps zero-shingle docs inside the SAME
    # keyed aggregate (count() skips their NULL shingle row; the
    # membership terms fall to their otherwise(0) branches), so the
    # former second corpus subtree + left join that re-attached those
    # docs is gone.
    probe = (
        docs.select("doc_id", words_col().alias("_w"))
        .select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(
                    F.transform(
                        shingles_col(k, words=F.col("_w")),
                        lambda s: hexint(s),
                    )
                )
            ).alias("shingle"),
        )
        .join(
            F.broadcast(bench_global.withColumn("_in_bench", F.lit(1))),
            "shingle",
            "left",
        )
        .crossJoin(
            F.broadcast(
                dense_merged.select(
                    F.col("_words").alias("_bloom"),
                    (F.col("m_words") * BLOOM_WORD_BITS).alias("m_bits"),
                )
            )
        )
    )
    for i, p in enumerate(_bloom_positions(F.col("shingle"), F.col("m_bits"))):
        probe = probe.withColumn(f"_pos_{i}", p)
    hit = None
    for i in range(BLOOM_K):
        h = F.expr(
            f"(shiftright(element_at(_bloom,"
            f" CAST(_pos_{i} DIV {BLOOM_WORD_BITS} AS INT) + 1),"
            f" CAST(_pos_{i} % {BLOOM_WORD_BITS} AS INT)) & 1) = 1"
        )
        hit = h if hit is None else (hit & h)
    out = probe.groupBy("doc_id").agg(
        F.count("shingle").cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("_in_bench") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_bloom"),
    )

    def _ratio(c: Column) -> Column:
        return F.round(
            F.when(
                F.col("n_shingles") > 0,
                c.cast("double") / F.col("n_shingles").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        )
    exact_ratio = _ratio(F.col("n_contaminated"))
    bloom_ratio = _ratio(F.col("n_bloom"))
    exact_v = exact_ratio >= F.lit(CONTAMINATION_RATIO)
    bloom_v = bloom_ratio >= F.lit(CONTAMINATION_RATIO)
    drows = out.select(
        F.lit("doc").alias("row_kind"),
        F.col("doc_id"),
        str_null.alias("part"),
        "n_shingles",
        "n_contaminated",
        exact_ratio.alias("contamination_ratio"),
        exact_v.cast("string").alias("is_contaminated"),
        F.col("n_bloom"),
        bloom_ratio.alias("bloom_ratio"),
        bloom_v.cast("string").alias("is_contaminated_bloom"),
        (F.col("n_bloom") - F.col("n_contaminated")).alias("n_false_pos"),
        (bloom_v & ~exact_v).cast("string").alias("fp_flag"),
        long_null.alias("bloom_m"),
        str_null.alias("bloom_hash"),
    )
    return drows.unionByName(frows)


# --- within-document repetition (Gopher-style quality filter) -------------

#: n-gram orders scored by repetition_stats (word-grain; the reference
#: Gopher/MassiveText filter — Rae et al. 2021 Table A1 — uses 2..4-gram
#: top fractions and 5..10-gram duplicate fractions over characters; the
#: synthetic corpus is short whitespace text, so word 2-/3-grams carry
#: the same signal)
REPETITION_NGRAMS = (2, 3)
#: policy cuts for the is_repetitive flag, chosen to discriminate on the
#: synthetic corpus (p90-ish of each metric at sf0.01); shared verbatim
#: with the DuckDB twin so the flag hash-matches
DUP_WORD_FRAC_MAX = 0.65
DUP_NGRAM_FRAC_MAX = {2: 0.12, 3: 0.05}
TOP_NGRAM_FRAC_MAX = {2: 0.065, 3: 0.05}


def _frac(num: Column, den: Column) -> Column:
    return F.round(
        F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
            F.lit(0.0)
        ),
        6,
    )


def repetition_stats(
    docs: DataFrame, ns: tuple[int, ...] = REPETITION_NGRAMS
) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    repetition quality filter): fraction of word occurrences that are
    repeats, and per n-gram order the fraction of n-gram occurrences
    belonging to a duplicated n-gram plus the most-frequent n-gram's
    share, with an ``is_repetitive`` policy flag over the rounded
    fractions.

    Scale shape: MAP-ONLY — every metric is computed inside one
    projection over the document row via array higher-order functions
    (sorted-array neighbor scan for duplicate occurrences, a fold for
    the longest equal run = max multiplicity).  No explode, no shuffle,
    no Python: the ideal 100 TB operator — throughput is pure scan.
    The DuckDB twin (textops_oracle.repetition_sql) computes the same
    counts by unnest + GROUP BY; equality of the two formulations is
    exactly the definition of multiplicity."""
    # two-stage: bind the word array as an attribute FIRST — the shingle
    # lambdas would otherwise re-evaluate the split per element (see
    # shingles_col's performance contract; 6.5x at sf1)
    bound = docs.select("doc_id", words_col().alias("_w"))
    d = bound.select(
        "doc_id",
        "_w",
        *[
            F.array_sort(shingles_col(n, words=F.col("_w"))).alias(f"_s{n}")
            for n in ns
        ],
    )
    nw = F.size("_w").cast("long")
    cols = [
        F.col("doc_id"),
        nw.alias("n_words"),
        _frac(nw - F.size(F.array_distinct("_w")).cast("long"), nw).alias(
            "dup_word_frac"
        ),
    ]
    flag = F.col("dup_word_frac") > F.lit(DUP_WORD_FRAC_MAX)
    for n in ns:
        s = F.col(f"_s{n}")
        total = F.size(s).cast("long")
        # a sorted-array element is a singleton iff both neighbors differ;
        # duplicate OCCURRENCES (Gopher counts every copy) = total - singletons
        def _is_singleton(sorted_arr):
            def pred(x, i):
                prev = F.get(sorted_arr, i - 1)
                nxt = F.get(sorted_arr, i + 1)
                return (prev.isNull() | (prev != x)) & (
                    nxt.isNull() | (nxt != x)
                )

            return pred

        singletons = F.size(F.filter(s, _is_singleton(s))).cast("long")
        # longest equal run in the sorted array == max multiplicity
        top = F.aggregate(
            s,
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0).cast("long").alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("long"))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                        F.lit(1).cast("long")
                    ),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        cols.append(_frac(total - singletons, total).alias(f"dup_{n}gram_frac"))
        cols.append(_frac(top, total).alias(f"top_{n}gram_frac"))
        flag = (
            flag
            | (F.col(f"dup_{n}gram_frac") > F.lit(DUP_NGRAM_FRAC_MAX[n]))
            | (F.col(f"top_{n}gram_frac") > F.lit(TOP_NGRAM_FRAC_MAX[n]))
        )
    return d.select(*cols).withColumn("is_repetitive", flag)


# --- per-source corpus statistics ----------------------------------------

def source_stats(docs: DataFrame) -> DataFrame:
    """Per-source corpus statistics — the CCNet/C4-style per-domain lens a
    pretraining pipeline filters on before touching individual documents:
    volume (docs, chars), language spread, global-duplicate share (how
    much of the source is a copy of anything else in the corpus), and
    mean heuristic quality.

    Exactness: mean quality is a sequential doc_id-ordered float fold
    (functions/detsum.osum), every other aggregate is integer-exact, so
    the DuckDB twin (textops_oracle.source_stats_sql) hash-matches.
    Scale shape: one md5-grain aggregate to find duplicate groups, one
    broadcast-back join, one source-grain aggregate — source cardinality
    is tiny (thousands) relative to any corpus, so the final shuffle is
    negligible and the duplicate-group relation is the only data-sized
    exchange (same as exact dedup)."""
    from ..functions import detsum as _det

    q = quality_score(docs).select("doc_id", "quality_score")
    h = docs.select(
        "doc_id", "source", "lang", "n_chars", F.md5("text").alias("_h")
    )
    grp = h.groupBy("_h").agg(F.count("*").alias("_grp"))
    j = h.join(grp, "_h").join(q, "doc_id")
    n_docs = F.count("*").cast("long")
    dup_docs = F.sum(F.when(F.col("_grp") > 1, 1).otherwise(0)).cast("long")
    return (
        j.groupBy("source")
        .agg(
            n_docs.alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            dup_docs.alias("dup_docs"),
            F.round(
                dup_docs.cast("double") / n_docs.cast("double"), 6
            ).alias("dup_ratio"),
            F.round(
                _det.osum(F.col("doc_id"), F.col("quality_score"))
                / n_docs.cast("double"),
                6,
            ).alias("mean_quality"),
        )
    )


# --- domain-mixture reweighting --------------------------------------------

#: membership-hash salt + modulus for mixture sampling (md5-prefix ints —
#: the shared cross-engine hash, unlike xxhash64 — so the sample is
#: oracle-certifiable); deterministic in (salt, source, doc_id) only
MIXTURE_SALT = "mix-v1"
SAMPLE_MOD = 1_000_000
#: default token budget for the gate entry (the synthetic corpus holds
#: ~27K whitespace tokens, so 12K forces real downsampling on most
#: sources while upweighted small sources keep rate 1.0)
MIXTURE_BUDGET_TOKENS = 12_000


def _source_weight(source: Column) -> Column:
    """Deterministic demo target mixture: weight (src index % 4) + 1 —
    stands in for the curated per-domain weights a real pipeline feeds
    in (The Pile / DoReMi tables); callers with real weights join them
    instead."""
    return (
        F.pmod(F.substring(source, 4, 10).cast("long"), F.lit(4)) + 1
    ).cast("long")


def mixture_plan(
    docs: DataFrame, budget: int = MIXTURE_BUDGET_TOKENS
) -> DataFrame:
    """Per-source sampling plan to hit a target domain mixture under a
    token budget (the data-mixing step of every LLM pretraining corpus:
    each source s gets budget*target_s tokens, so its sampling rate is
    min(1, budget*target_s / tokens_s)).

    Scale shape: one source-grain aggregate (sources are thousands at
    most) + a broadcast scalar total — nothing data-sized moves."""
    toks = F.size(words_col()).cast("long")
    per_src = (
        docs.select("source", toks.alias("_t"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
        )
        .withColumn("weight", _source_weight(F.col("source")))
    )
    tot = per_src.agg(F.sum("weight").cast("double").alias("_W"))
    rate = F.round(
        F.least(
            F.lit(1.0),
            F.when(
                F.col("n_tokens") > 0,
                (F.lit(float(budget)) * F.col("weight").cast("double"))
                / F.col("_W")
                / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(1.0)),
        ),
        6,
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens", "weight", rate.alias("sample_rate")
    )


def mixture_sample(
    docs: DataFrame,
    budget: int = MIXTURE_BUDGET_TOKENS,
    salt: str = MIXTURE_SALT,
) -> DataFrame:
    """Apply the mixture plan: keep each document iff its (salt, source,
    doc_id) md5-hash bucket falls under the source's sampling rate —
    partition-layout-invariant membership, reproducible across re-runs
    and appends, exact-twin certifiable (md5 exists in both engines).

    Scale shape: broadcast the tiny per-source plan onto the corpus scan,
    one hash + compare per row — map-only over the data."""
    from .dedup import hexint

    plan = mixture_plan(docs, budget).select("source", "sample_rate")
    toks = F.size(words_col()).cast("long")
    bucket = F.pmod(
        hexint(
            F.concat_ws(
                ":", F.lit(salt), F.col("source"), F.col("doc_id").cast("string")
            )
        ),
        F.lit(SAMPLE_MOD),
    )
    return (
        docs.select("doc_id", "source", toks.alias("n_tokens"))
        .join(F.broadcast(plan), "source")
        .filter(
            bucket
            < F.floor(F.col("sample_rate") * F.lit(float(SAMPLE_MOD))).cast(
                "long"
            )
        )
        .select("doc_id", "source", "n_tokens", "sample_rate")
    )


# --- BM25 retrieval scoring -------------------------------------------------

#: fixed demo query for the gate entry (terms present across the
#: synthetic corpus); callers pass their own
BM25_QUERY = ("table", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75


def _eq_term(t: str):
    """Unary predicate factory: a `lambda x, t=t:` default arg would make
    PySpark see a 2-arg lambda and bind the ELEMENT INDEX to t."""

    def pred(x):
        return x == F.lit(t)

    return pred


def bm25_scores(
    docs: DataFrame,
    query: tuple[str, ...] = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 relevance of every document to a fixed term query — the
    classic sparse-retrieval scorer (Robertson/Okapi), the lexical
    counterpart of the embedding ANN family.

    Determinism: tf/df/doclen are exact integers; avgdl and the
    per-term idf = ln(1 + (N - df + 0.5)/(df + 0.5)) are round-6
    corpus constants; the final score sums |query| rounded terms in
    fixed query order and re-rounds — hash-exact in the DuckDB twin.

    Scale shape: one pass computes per-doc tf for each query term from
    the bound word array (map-only); df is a |query|-row aggregate
    crossJoin-broadcast back; scoring is pure projection.  Nothing
    data-sized shuffles — corpus scoring is scan throughput, exactly
    how a 100 TB sparse-retrieval sweep should look."""
    w = F.col("_w")
    base = docs.select("doc_id", words_col().alias("_w")).select(
        "doc_id",
        "_w",
        F.size(w).cast("long").alias("dl"),
        *[
            F.size(F.filter(w, _eq_term(t))).cast("long").alias(f"tf{i}")
            for i, t in enumerate(query)
        ],
    )
    consts = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.round(
            F.sum("dl").cast("double") / F.count("*").cast("double"), 6
        ).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(query))
        ],
    )
    scored = base.crossJoin(F.broadcast(consts))
    score = F.lit(0.0)
    for i in range(len(query)):
        idf = F.round(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
                / (F.col(f"df{i}") + F.lit(0.5))
            ),
            6,
        )
        tf = F.col(f"tf{i}").cast("double")
        term = idf * (
            tf
            * F.lit(k1 + 1.0)
            / (
                tf
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
                )
            )
        )
        score = score + F.round(term, 6)
    return scored.select(
        "doc_id",
        F.col("dl").alias("n_words"),
        *[F.col(f"tf{i}").alias(f"tf_{t}") for i, t in enumerate(query)],
        F.round(score, 6).alias("bm25"),
    )


#: fixed demo query batch for the top-k gate entry
BM25_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("table", "join"),
    1: ("window", "sort", "merge"),
    2: ("hash", "value", "spark"),
    3: ("batch", "stream"),
    4: ("vector", "scan", "filter"),
    5: ("customer", "order"),
}
BM25_TOPK = 5


def bm25_topk(
    docs: DataFrame,
    queries: dict[int, tuple[str, ...]] | None = None,
    k: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Batch BM25 retrieval through the real inverted-index join shape:
    the corpus explodes to (term, doc_id, tf) POSTING rows pre-filtered
    to the query batch's vocabulary (the filter rides the scan, so the
    posting shuffle is bounded by matched terms, never the corpus text),
    query terms broadcast-join the postings, per-(query, doc) scores
    aggregate, and a top-k window ranks within each query — at 100 TB
    this is scan + one bounded keyed shuffle + a per-query-partitioned
    window, the textbook distributed-retrieval plan.

    Exactness: per-term BM25 contributions are rounded to 6 then
    INTEGER-SCALED before the per-(query, doc) sum, so the score is an
    order-free exact aggregate; ranking ties break (score desc, doc_id
    asc).  Output: (query_id, rank, doc_id, score)."""
    from pyspark.sql import Window

    qmap = BM25_QUERIES if queries is None else queries
    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        [(qid, t) for qid, terms in sorted(qmap.items()) for t in terms],
        "query_id int, term string",
    )
    vocab = sorted({t for terms in qmap.values() for t in terms})
    w = F.col("_w")
    base = docs.select("doc_id", words_col().alias("_w")).select(
        "doc_id",
        F.size(w).cast("long").alias("dl"),
        F.filter(w, lambda x: x.isin(*vocab)).alias("_hits"),
    )
    consts = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.round(
            F.sum("dl").cast("double") / F.count("*").cast("double"), 6
        ).alias("avgdl"),
    )
    posting = (
        base.select("doc_id", "dl", F.explode("_hits").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_counts = posting.groupBy("term").agg(
        F.count("*").cast("double").alias("df")
    )
    tf = F.col("tf").cast("double")
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    term_score = F.round(
        idf
        * (
            tf
            * F.lit(k1 + 1.0)
            / (
                tf
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
                )
            )
        ),
        6,
    )
    scored = (
        posting.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(consts))
        .join(F.broadcast(qdf), "term")
        .select(
            "query_id",
            "doc_id",
            F.round(term_score * F.lit(1e6), 0).cast("long").alias("_ts"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum("_ts").cast("double") / F.lit(1e6), 6).alias(
                "score"
            )
        )
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


# --- bigram language-model perplexity filter --------------------------------

def lm_perplexity(docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity filtering with the LM trained IN the
    engine: a Laplace-smoothed bigram model is counted from the corpus
    (at pipeline scale it would be a held reference corpus — the join
    shape is identical), then every document is scored by its average
    bigram log-probability and pseudo-perplexity exp(-avg).

    Scale shape: the LM is a (bigram -> logprob) relation built by two
    keyed aggregates; scoring explodes each document's bigram
    OCCURRENCES and equi-joins the LM — one data-sized keyed join, the
    honest distributed shape (a 100 TB corpus against a big LM is a
    sort-merge join; against a small LM, broadcast).

    Exactness: all counts are integers; each bigram's logprob is
    round-6 (ln of an integer ratio — same round-6-after-transcendental
    convention as the e-value family); per-document averages sum the
    round-6 logprobs as exact 1e6-unit integers (order-free), so the
    DuckDB twin hash-matches."""
    w = F.col("_w")
    bound = docs.select("doc_id", words_col().alias("_w"))
    grams = bound.select(
        "doc_id", F.explode(shingles_col(2, words=w)).alias("gram")
    )
    c12 = grams.groupBy("gram").agg(F.count("*").cast("long").alias("c12"))
    lm = c12.withColumn("w1", F.substring_index(F.col("gram"), " ", 1))
    c1 = lm.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vocab = (
        bound.select(F.explode(w).alias("word"))
        .agg(F.countDistinct("word").cast("double").alias("v"))
    )
    logp = (
        lm.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "gram",
            F.round(
                F.log(
                    (F.col("c12").cast("double") + F.lit(1.0))
                    / (F.col("c1").cast("double") + F.col("v"))
                ),
                6,
            ).alias("logp"),
        )
    )
    scored = (
        grams.join(logp, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.round(F.col("logp") * F.lit(1e6), 0).cast("long")
                ).cast("double")
                / F.lit(1e6)
                / F.count("*").cast("double"),
                6,
            ).alias("avg_logprob"),
        )
    )
    base = bound.select("doc_id")
    out = base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
            "n_bigrams"
        ),
        F.coalesce(F.col("avg_logprob"), F.lit(0.0)).alias("avg_logprob"),
    )
    ppl = F.round(F.exp(-F.col("avg_logprob")), 6)
    return out.withColumn("pseudo_ppl", ppl)


# --- cross-document exact-substring duplication (Lee et al. 2021) ----------

#: word-gram width for cross-document exact-substring detection.  Lee et
#: al. (ACL 2022, "Deduplicating Training Data Makes Language Models
#: Better") use 50-token spans over a suffix array; the distributed
#: equivalent detects spans as runs of duplicated k-word grams — any
#: duplicated span of >= k words contains a duplicated k-gram, so k is
#: the minimum span the scan can see.  5 keeps the synthetic fixture
#: populated; a production corpus would raise it toward the paper's 50.
CROSS_DUP_K = 5


def cross_doc_duplication(docs: DataFrame, k: int = CROSS_DUP_K) -> DataFrame:
    """Per-document CROSS-corpus exact-substring duplication stats — the
    distributed shape of Lee et al.'s suffix-array ExactSubstr dedup:

      * ``n_grams_cross``     — total k-word grams in the document;
      * ``n_dup_grams_cross`` — grams whose hash occurs in >= 2 DISTINCT
        documents (within-doc repeats alone don't count — that signal is
        ``repetition_stats``);
      * ``dup_gram_frac_cross`` — their fraction (round-6);
      * ``dup_token_coverage`` — fraction of the document's words covered
        by at least one duplicated gram (merged-interval union length);
      * ``n_dup_spans``       — number of maximal duplicated spans after
        merging overlapping/adjacent gram intervals — these ARE the
        spans the cleaned view removes (n_spans_removed);
      * ``tokens_removed`` / ``cleaned_len`` / ``cleaned_text`` — the
        ACTUAL ExactSubstr dedup output (Lee et al. 2021 §4: excise
        every duplicated span): the distinct covered word positions are
        dropped and the survivors re-joined.  ``tokens_removed`` equals
        the merged-interval union length by construction (distinct
        covered positions), so the certified coverage stat and the
        removal agree exactly; ``cleaned_text`` is the canonical
        single-space word join (words_col collapses runs of spaces, so
        a doc with no duplicated spans round-trips to its word-joined
        form).  The keep test is one array HOF per document —
        O(words x covered) on the fixture docs; at production document
        lengths the same columns would come from an exists() over the
        merged SPANS (few) rather than the covered SET, same semantics.

    Scale shape (the honest inverted-index plan, same discipline as
    ``bm25_topk``): the TEXT column is read exactly once — one posexplode
    to (doc_id, pos, gram-hash) rows, bounded by corpus token count, the
    same cardinality any suffix/index construction touches; every
    downstream statistic derives from that relation (per-doc totals are a
    second keyed aggregate over it, and the coverage denominator is
    n_grams + k - 1, exact for any doc that has grams) plus one doc_id-only
    scan for the output universe.  The duplicate test is min(doc_id) <>
    max(doc_id) over a keyed aggregate (never a countDistinct); the span
    merge is one per-doc fold whose collect_list is bounded by document
    length.  Nothing all-pairs, nothing driver-side.  Hash = the shared
    cross-engine md5 63-bit prefix, so the DuckDB twin
    (textops_oracle.cross_dup_sql) is hash-exact."""
    from .dedup import hexint, shingles_col, words_col

    bound = docs.select("doc_id", words_col().alias("_w"))
    grams = bound.select(
        "doc_id",
        F.posexplode(shingles_col(k, words=F.col("_w"))).alias("_p", "_gram"),
    ).select("doc_id", (F.col("_p") + 1).alias("pos"), hexint(F.col("_gram")).alias("gh"))
    totals = grams.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("_ng")
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("gh")
    )
    hits = (
        grams.join(dup, "gh")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("_ps"))
    )
    # merged-interval union over sorted gram starts: each gram covers
    # [pos, pos+k); a new MAXIMAL span opens only when the covered text
    # breaks — gap since the previous start STRICTLY > k (a gram starting
    # exactly at prev+k continues the contiguous duplicated run, so it
    # merges).  One fold, no Python.
    fold = F.aggregate(
        F.col("_ps"),
        F.struct(
            F.lit(-(10**9)).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("cov"),
            F.lit(0).cast("long").alias("spans"),
        ),
        lambda acc, p: F.struct(
            p.cast("long").alias("prev"),
            (acc["cov"] + F.least(F.lit(k).cast("long"), p.cast("long") - acc["prev"])).alias("cov"),
            (acc["spans"] + F.when(p.cast("long") - acc["prev"] > k, 1).otherwise(0).cast("long")).alias("spans"),
        ),
    )
    # size(NULL) is -1 on this build (legacy sizeOfNull) — branch explicitly
    n_hits = F.when(F.col("_ps").isNull(), F.lit(0)).otherwise(
        F.size("_ps")
    ).cast("long")
    n_grams = F.coalesce(F.col("_ng"), F.lit(0).cast("long"))
    # any doc with >= 1 gram has exactly n_grams + k - 1 words; docs
    # without grams (< k words) can't have hits, so the coverage branch
    # never reads a wrong denominator
    n_words = (n_grams + F.lit(k - 1)).cast("double")
    covered = F.when(
        F.col("_ps").isNull(), F.array().cast("array<bigint>")
    ).otherwise(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.col("_ps"),
                    lambda p: F.sequence(
                        p.cast("long"), p.cast("long") + F.lit(k - 1).cast("long")
                    ),
                )
            )
        )
    )
    idx = F.when(
        F.size("_w") > 0,
        F.sequence(F.lit(1).cast("long"), F.size("_w").cast("long")),
    ).otherwise(F.array().cast("array<bigint>"))
    keptw = F.filter(
        idx, lambda i: ~F.array_contains(F.col("_cov"), i)
    )
    out = (
        bound.join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .withColumn("_cov", covered)
        .select(
            "doc_id",
            n_grams.alias("n_grams_cross"),
            n_hits.alias("n_dup_grams_cross"),
            F.round(
                n_hits / F.nullif(n_grams.cast("double"), F.lit(0.0)), 6
            ).alias("dup_gram_frac_cross"),
            F.when(F.col("_ps").isNull(), F.lit(0.0))
            .otherwise(
                F.round(
                    fold["cov"].cast("double") / F.nullif(n_words, F.lit(0.0)),
                    6,
                )
            )
            .alias("dup_token_coverage"),
            F.coalesce(fold["spans"], F.lit(0).cast("long")).alias("n_dup_spans"),
            F.size("_cov").cast("long").alias("tokens_removed"),
            (F.size("_w") - F.size("_cov")).cast("long").alias("cleaned_len"),
            F.concat_ws(
                " ",
                F.transform(
                    keptw, lambda i: F.get(F.col("_w"), (i - 1).cast("int"))
                ),
            ).alias("cleaned_text"),
        )
    )
    return out


# --- DSIR: data selection via importance resampling --------------------------

#: hashed n-gram feature space (Xie et al. 2023 use 10^4; the synthetic
#: vocabulary is ~40 words so 1024 buckets already give near-collision-free
#: features), Laplace smoothing, target corpus fraction to keep, and the
#: Bernoulli-membership salt (same cross-engine md5 convention as mixture)
DSIR_BUCKETS = 1024
DSIR_ALPHA = 0.5
DSIR_KEEP_RATE = 0.25
DSIR_SALT = "dsir-v1"
#: demo target distribution: documents from this source play the role of
#: the curated high-quality target set (the paper's Wikipedia/books);
#: real pipelines pass their own target predicate
DSIR_TARGET_SOURCE = "src7"
#: log-weight clamp before exponentiation (standard log-space guard: a
#: 10^13x importance ratio is already "always keep / never keep" — the
#: clamp only prevents float overflow, it cannot reorder decisions)
DSIR_LOGW_CLAMP = 30.0


def dsir_weights(
    docs: DataFrame,
    target_source: str = DSIR_TARGET_SOURCE,
    buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    keep_rate: float = DSIR_KEEP_RATE,
    salt: str = DSIR_SALT,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    score every document by the log importance weight of its hashed
    n-gram bag between a TARGET distribution (here: docs from one
    designated source, standing in for the paper's curated
    Wikipedia/books set) and the RAW corpus distribution, then keep
    documents with probability proportional to the importance weight.

    Pipeline (all exact, oracle-certifiable):
      1. explode each doc to hashed unigram+bigram bucket ids
         (md5-prefix ints mod ``buckets`` — the shared cross-engine hash);
      2. one bucket-grain aggregate counts raw and target occurrences
         (vocab-sized output, map-side combined);
      3. per-bucket round-6 log-ratio
         λ_b = ln((tgt_b+α)/(tgt_tot+αB)) − ln((raw_b+α)/(raw_tot+αB));
      4. per-doc logw = integer-scaled exact sum of its grams' λ —
         broadcast the ≤``buckets``-row λ relation onto the gram
         explode, one doc-grain keyed aggregate;
      5. Bernoulli importance resampling: keep doc i with probability
         min(1, rate·N·w_i / Σw) where w_i = round-6 exp(clamped logw) —
         the Poisson-sampling variant of the paper's multinomial resample
         (expected kept = rate·N, inclusion probability ∝ importance
         weight, but needs only TWO global scalars (N, Σw) instead of a
         global sort — the scale-honest form; membership is the
         deterministic (salt, doc_id) md5 coin, partition-invariant).

    Scale shape: one gram explode (map-only), one bucket-grain aggregate,
    one broadcast join back, one doc-grain aggregate, one scalar
    aggregate — no data-sized shuffle beyond the doc-grain combine, no
    global window.  Documents with zero words carry no grams and are
    excluded (a doc with no features has no importance weight).

    Two decision columns come out: ``selected`` (the Bernoulli resample
    above — on corpora with heavy-tailed weights it keeps FEWER than
    rate·N docs, concentrating on the most target-like ones, which is
    the variant's documented behavior) and ``target_like`` (logw > 0 —
    the deterministic threshold rule, the shape GPT-3's quality
    classifier used: keep what looks more target than raw).

    Output: (doc_id, source, n_grams, logw, sel_prob, selected,
    target_like)."""
    from .dedup import hexint, spread_narrow_scan

    w = words_col()
    base = spread_narrow_scan(docs).select(
        "doc_id", "source", w.alias("_w")
    )
    grams = base.select(
        "doc_id",
        "source",
        F.explode(
            F.concat(F.col("_w"), shingles_col(2, words=F.col("_w")))
        ).alias("_g"),
    ).select(
        "doc_id",
        "source",
        F.pmod(hexint(F.col("_g")), F.lit(buckets)).alias("bucket"),
    )
    bstats = grams.groupBy("bucket").agg(
        F.count("*").cast("double").alias("raw_cnt"),
        F.sum(
            F.when(F.col("source") == target_source, 1).otherwise(0)
        ).cast("double").alias("tgt_cnt"),
    )
    tots = bstats.agg(
        F.sum("raw_cnt").alias("raw_tot"), F.sum("tgt_cnt").alias("tgt_tot")
    )
    ab = float(alpha) * float(buckets)
    lam = F.round(
        F.log(
            (F.col("tgt_cnt") + F.lit(float(alpha)))
            / (F.col("tgt_tot") + F.lit(ab))
        )
        - F.log(
            (F.col("raw_cnt") + F.lit(float(alpha)))
            / (F.col("raw_tot") + F.lit(ab))
        ),
        6,
    )
    lamrel = bstats.crossJoin(F.broadcast(tots)).select(
        "bucket", lam.alias("lam")
    )
    docw = (
        grams.join(F.broadcast(lamrel), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("source"),
            F.count("*").cast("long").alias("n_grams"),
            F.round(
                F.sum(
                    F.round(F.col("lam") * F.lit(1e6), 0).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1e6),
                6,
            ).alias("logw"),
        )
    )
    clamp = F.lit(float(DSIR_LOGW_CLAMP))
    docw = docw.withColumn(
        "_expw",
        F.round(F.exp(F.least(F.greatest(F.col("logw"), -clamp), clamp)), 6),
    )
    zrel = docw.agg(
        F.count("*").cast("double").alias("_n"),
        (
            F.sum(
                F.round(F.col("_expw") * F.lit(1e6), 0).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1e6)
        ).alias("_z"),
    )
    sel_prob = F.round(
        F.least(
            F.lit(1.0),
            F.lit(float(keep_rate))
            * F.col("_n")
            * F.col("_expw")
            / F.col("_z"),
        ),
        6,
    )
    coin = F.pmod(
        hexint(F.concat_ws(":", F.lit(salt), F.col("doc_id").cast("string"))),
        F.lit(SAMPLE_MOD),
    )
    return (
        docw.crossJoin(F.broadcast(zrel))
        .withColumn("sel_prob", sel_prob)
        .select(
            "doc_id",
            "source",
            "n_grams",
            "logw",
            "sel_prob",
            (
                coin
                < F.floor(F.col("sel_prob") * F.lit(float(SAMPLE_MOD))).cast(
                    "long"
                )
            ).alias("selected"),
            (F.col("logw") > F.lit(0.0)).alias("target_like"),
        )
    )

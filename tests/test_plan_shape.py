"""Unit guards for ``rangebar_patterns_spark.plan_shape``: the plan walk
descends into cached relations and keeps their counts apart; the REST
base must come from THIS app's uiWebUrl/applicationId, and a fetch
failure must surface (ok=False -> 'n/a' cells + a red flag), never
silently report 0 B."""

from __future__ import annotations

from rangebar_patterns_spark import plan_shape


class _FakeSC:
    def __init__(self, ui, app_id="app-test-123"):
        self.uiWebUrl = ui
        self.applicationId = app_id


class _FakeSpark:
    def __init__(self, ui):
        self.sparkContext = _FakeSC(ui)


def test_stage_totals_surfaces_unreachable_api():
    # closed port: urlopen raises, stage_totals must return ok=False
    shuffle, spill, last, ok = plan_shape.stage_totals(
        _FakeSpark("http://127.0.0.1:1"), start_id=-1
    )
    assert ok is False
    assert (shuffle, spill, last) == (0.0, 0.0, -1)


def test_stages_requires_ui():
    # spark.ui.enabled=false -> uiWebUrl is None -> explicit error, not
    # a hard-coded localhost:4040 fallback
    try:
        plan_shape.status(_FakeSpark(None), "stages?status=complete")
    except RuntimeError as exc:
        assert "status API" in str(exc)
    else:
        raise AssertionError("expected RuntimeError for disabled UI")


def test_rest_base_is_app_scoped():
    # the fetch URL embeds uiWebUrl AND applicationId (never apps[0]);
    # pin by reading the source, which keeps this a no-network test
    import inspect

    import ast
    import textwrap

    src = inspect.getsource(plan_shape.status)
    assert "sc.uiWebUrl" in src
    assert "sc.applicationId" in src
    # no literal host anywhere in the CODE (the docstring may mention the
    # anti-pattern) — walk constants, skipping the docstring
    tree = ast.parse(textwrap.dedent(src))
    consts = [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]
    code_consts = consts[1:]  # [0] is the docstring
    assert not any("4040" in c for c in code_consts), code_consts


def test_signature_sees_into_cached_relations(spark):
    """A row-at-a-time UDF, a cross join and an unpartitioned window
    inside a persisted frame are counted with caches included and not
    outside them, for a consumer that only aggregates the cached rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    plus_one = F.udf(lambda v: v + 1, "long")
    held = (
        spark.range(20)
        .withColumn("u", plus_one("id"))
        .crossJoin(spark.range(3).withColumnRenamed("id", "k"))
        .withColumn("rk", F.row_number().over(Window.orderBy("id", "k")))
        .persist()
    )
    try:
        held.count()
        sig = plan_shape.signature(held.groupBy("k").agg(F.sum("u")))
    finally:
        held.unpersist()
    cross = ("BroadcastNestedLoopJoinExec", "CartesianProductExec")
    assert sig.nodes["BatchEvalPythonExec"] > 0
    assert sum(sig.nodes[n] for n in cross) > 0
    assert sig.nodes["WindowExec"] > 0
    assert sig.nodes["InMemoryTableScanExec"] == sig.outside["InMemoryTableScanExec"] == 1
    assert sig.outside["BatchEvalPythonExec"] == 0
    assert sum(sig.outside[n] for n in cross) == 0
    assert sig.outside["WindowExec"] == 0
    assert sig.global_windows == 0

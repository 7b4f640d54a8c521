"""Plan shape and run totals: :func:`walk` visits every operator of a
physical plan, cached relations' plans included, :func:`signature` counts
them, and :func:`status` reads this application's UI status API.  Only
the plan tests and ``tools/plan_audit.py`` import it; no query runs it.
"""

from __future__ import annotations

import json
import sys
import urllib.request
from collections import Counter
from collections.abc import Iterator
from typing import NamedTuple


def walk(plan, in_cache: bool = False) -> Iterator[tuple[str, object, bool]]:
    """Yield ``(class name, node, in_cache)`` for every operator under the
    JVM ``plan``.

    Adaptive plans and query stages are transparent: the walk descends
    into the plan they currently hold (the final plan once executed).  An
    ``InMemoryTableScanExec`` is yielded, then its relation's cached plan
    is walked with ``in_cache=True``.  Inside a cache, a finished adaptive
    plan yields both its final and its initial tree: those are the two
    trees ``executedPlan().toString()`` prints for it."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from walk(plan.executedPlan(), in_cache)
        if in_cache and plan.isFinalPlan():
            yield from walk(plan.initialPlan(), in_cache)
        return
    if name.endswith("QueryStageExec"):
        yield from walk(plan.plan(), in_cache)
        return
    yield name, plan, in_cache
    if name == "InMemoryTableScanExec":
        yield from walk(plan.relation().cachedPlan(), True)
    children = plan.children()
    for i in range(children.size()):
        yield from walk(children.apply(i), in_cache)


class Signature(NamedTuple):
    """Operator counts of one plan.  ``outside`` and the two scalars skip
    cached plans: a cached subtree's shape is pinned where it is built."""

    nodes: Counter  # class name -> count, cached plans included
    outside: Counter
    global_windows: int  # WindowExec nodes with an empty PARTITION BY
    widest_scan: tuple[int, str]  # parquet scan: (columns, first six names)


def signature(df) -> Signature:
    """Count the operators of ``df``'s physical plan without running it."""
    nodes, outside = Counter(), Counter()
    global_windows, widest = 0, (0, "")
    for name, node, in_cache in walk(df._jdf.queryExecution().executedPlan()):
        nodes[name] += 1
        if in_cache:
            continue
        outside[name] += 1
        if name == "WindowExec" and node.partitionSpec().isEmpty():
            global_windows += 1
        elif name == "FileSourceScanExec":
            cols = list(node.requiredSchema().fieldNames())
            if len(cols) > widest[0]:
                widest = (len(cols), ",".join(cols[:6]))
    return Signature(nodes, outside, global_windows, widest)


def status(spark, path: str) -> list[dict]:
    """GET ``path`` (``jobs``, ``stages?status=complete``) from THIS
    application's UI status API.

    The REST base comes from ``sc.uiWebUrl`` and the application id from
    ``sc.applicationId`` — never a hard-coded localhost:4040/apps[0],
    which on a co-tenant host can be a different Spark app's UI and would
    silently attribute another workload's totals to this one."""
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    if not ui:
        raise RuntimeError("spark.ui.enabled is off — no status API")
    url = f"{ui}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=10) as fh:
        return json.load(fh)


def stage_totals(spark, start_id: int) -> tuple[float, float, int, bool]:
    """Sum shuffle-write + spill bytes over completed stages with id >
    start_id, and return the highest stage id seen.  Stage-level
    accounting (vs the SQL store's per-execution metrics) also captures
    work done materializing persisted relations.  The final element is
    False when the status API could not be read — callers must surface
    that instead of reporting 0 B."""
    try:
        stages = status(spark, "stages?status=complete")
    except (OSError, ValueError) as exc:
        print(f"audit: status API fetch failed: {exc}", file=sys.stderr)
        return 0.0, 0.0, start_id, False
    new = [s for s in stages if s["stageId"] > start_id]
    shuffle = float(sum(s.get("shuffleWriteBytes", 0) for s in new))
    spill = float(sum(
        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in new
    ))
    last = max([start_id] + [s["stageId"] for s in stages])
    return shuffle, spill, last, True

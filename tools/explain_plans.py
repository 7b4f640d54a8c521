#!/usr/bin/env python
"""Dump .explain("formatted") for every declared catalog query, plus the
restored bench-only entries, to plans/<round>/<query>_<tag>.txt.

Usage: python tools/explain_plans.py <round> <tag> [query ...]
       e.g. python tools/explain_plans.py r14 before sweep_panel

Runs at $SPARK_GRAFT_SF_DIR (default sf0.1) so plan shapes match the
bench tier.  Explain only — no execution — except that catalog side
caches (persisted bars/features) are built lazily by the query
constructors themselves; constructors that materialize side state
(k-means centroids, BPE merges) do run that bounded training step.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)

    from rangebar_patterns_spark.session import get_spark

    spark = get_spark("explain_plans")
    import __spark_entry__ as entrymod

    qs = dict(entrymod.queries())
    from rangebar_patterns_spark.plans.catalog import RESTORED_QUERIES

    qs.update(RESTORED_QUERIES)
    if names:
        qs = {n: qs[n] for n in names}
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # keep going; record the failure
            plan = f"EXPLAIN FAILED: {exc}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        joins = sum(
            plan.count(j)
            for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                      "BroadcastNestedLoopJoin", "CartesianProduct")
        )
        n_py = sum(plan.count(p) for p in (
            "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
            "MapInPandas", "PythonMapInArrow", "MapInArrow"))
        print(f"{name}: exchanges={n_ex} joins={joins} python={n_py} -> {path}",
              file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()

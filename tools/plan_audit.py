#!/usr/bin/env python
"""Physical-plan audit and stage attribution for catalog entries.

Both modes run at ``$SPARK_GRAFT_SF_DIR`` (default sf0.01) and read plans
and runtime totals through ``rangebar_patterns_spark.plan_shape``.

``python tools/plan_audit.py``
    Executes every ``__spark_entry__.queries()`` entry and every bench
    demo grid, and writes ``PLAN_AUDIT.md``: the static plan shape
    (exchange count, join strategies, Arrow nodes, unpartitioned windows,
    widest parquet ReadSchema) and the shuffle bytes written and spilled
    over every STAGE the query triggered, persisted relations'
    materialization included.  Exit code 1 means a red flag:
    CartesianProduct or row-at-a-time BatchEvalPython anywhere in a plan,
    cached plans included.

``python tools/plan_audit.py <entry>[,<entry>...]``
    Runs each named entry (gate, restored or demo) once with cold plan
    caches and prints its wall time, rows, jobs, stages, tasks, executor
    run and CPU time, its longest stages, its jobs by call site and its
    plan signature.  Writes no file; each run is one pass, so repeat the
    command for more.
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from rangebar_patterns_spark.plan_shape import (  # noqa: E402
    signature,
    stage_totals,
    status,
)

ARROW_NODES = (
    "FlatMapGroupsInPandasExec",
    "MapInPandasExec",
    "ArrowEvalPythonExec",
    "FlatMapGroupsInPandasWithStateExec",
)
STAGES = "stages?status=complete"


def fmt_size(n: float) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if n < 1024 or unit == "GiB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{int(n)} B"
        n /= 1024


def shape(sig) -> dict[str, int]:
    """The audit's per-entry plan counts, outside cached plans."""
    o = sig.outside
    return {
        "exchanges": o["ShuffleExchangeExec"],
        "reused": o["ReusedExchangeExec"],
        "bcast_joins": o["BroadcastHashJoinExec"]
        + o["BroadcastNestedLoopJoinExec"],
        "smj": o["SortMergeJoinExec"],
        "arrow": sum(o[n] for n in ARROW_NODES),
        "global_windows": sig.global_windows,
    }


def fmt_counts(counts: dict[str, int]) -> str:
    return " ".join(f"{k}={v}" for k, v in counts.items())


def settle(spark) -> None:
    """Drain the listener bus: the status store is fed from it
    asynchronously, and just-finished stages must be visible."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def attribute(spark, names: list[str], sf_dir: str) -> None:
    from rangebar_patterns_spark.plans import catalog as C

    qs = {**C.QUERIES, **C.RESTORED_QUERIES, **C.BENCH_QUERIES}
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown entries: {unknown}")
    # JIT warm-up, so the first entry's wall is not the JVM's start
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in names:
        C.reset_plan_caches(spark)
        settle(spark)
        s0 = max([-1] + [s["stageId"] for s in status(spark, STAGES)])
        j0 = max([-1] + [j["jobId"] for j in status(spark, "jobs")])
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        n = df.count()
        wall = time.perf_counter() - t0
        settle(spark)
        stages = [s for s in status(spark, STAGES) if s["stageId"] > s0]
        jobs = [j for j in status(spark, "jobs") if j["jobId"] > j0]
        run_s = sum(s["executorRunTime"] for s in stages) / 1000
        cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
        tasks = sum(s["numTasks"] for s in stages)
        print(
            f"\n=== {name}: wall {wall:.2f}s, {n} rows, "
            f"{len(jobs)} jobs, {len(stages)} stages, {tasks} tasks, "
            f"task-run {run_s:.2f}s (cpu {cpu_s:.2f}s), "
            f"run/wall {run_s / wall:.2f} ==="
        )
        for s in sorted(stages, key=lambda s: -s["executorRunTime"])[:12]:
            print(
                f"  stage {s['stageId']:>4} tasks={s['numTasks']:>5} "
                f"run={s['executorRunTime'] / 1000:7.2f}s "
                f"cpu={s['executorCpuTime'] / 1e9:7.2f}s "
                f"in={s.get('inputBytes', 0) >> 20}MB "
                f"sh_r={s.get('shuffleReadBytes', 0) >> 20}MB  "
                f"{s['name'].splitlines()[0][:70]}"
            )
        for site, k in sorted(Counter(j["name"] for j in jobs).items()):
            print(f"  jobs {k:>3}  {site}")
        sig = signature(df)
        print(f"  shape: {fmt_counts(shape(sig))} widest_scan={sig.widest_scan[0]}")
        print(f"  nodes: {fmt_counts(dict(sorted(sig.nodes.items())))}")


def audit(spark, sf_dir: str) -> int:
    import __spark_entry__ as entrymod

    # the bench demo grids (full-width gen600 panels) get the same audit:
    # the headline plans should carry the same evidence as the gate
    from rangebar_patterns_spark.plans.catalog import BENCH_QUERIES

    qs = {**entrymod.queries(), **BENCH_QUERIES}
    rows, flags = [], []
    mark = -1
    for name, fn in qs.items():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.count()
        dt = time.perf_counter() - t0
        sig = signature(df)
        a = shape(sig)
        settle(spark)
        shuffle, spill, mark, st_ok = stage_totals(spark, mark)
        rows.append((name, a, sig.widest_scan, shuffle, spill, st_ok, dt))
        if not st_ok:
            flags.append(f"{name}: status API unreadable — shuffle/spill unknown")
        if sig.nodes["CartesianProductExec"]:
            flags.append(f"{name}: unbroadcast CartesianProduct")
        if sig.nodes["BatchEvalPythonExec"]:
            flags.append(f"{name}: row-at-a-time BatchEvalPython")
        print(
            f"audit: {name}: {fmt_counts(a)} shuffle={fmt_size(shuffle)} "
            f"spill={fmt_size(spill)} ({dt:.1f}s)",
            file=sys.stderr,
        )

    lines = [
        "# Physical-plan audit (regenerated per round — tools/plan_audit.py)",
        "",
        f"Catalog executed at `{sf_dir}`; shuffle/spill are runtime totals",
        "over every STAGE the entry triggered, from the UI status API —",
        "including stages materializing persisted relations (charged to",
        "their first consumer, same attribution as bench.py).  Static",
        "columns come from walking the final post-AQE operator tree — cached",
        "(InMemoryTableScan) subtrees are NOT re-counted in their consumers.",
        "'global windows' are Window nodes with an empty PARTITION BY:",
        "legitimate only on config-grain relations (~symbols × grid rows),",
        "never on bar/event grain — the per-entry count is listed so that",
        "invariant stays auditable.  The red flags below read the whole",
        "tree, cached plans included.",
        "",
        "| query | shuffles (+reused) | bcast joins | sort-merge joins |"
        " arrow nodes | global windows | widest scan |"
        " shuffle written | spill | wall |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a, (w, cols), shuffle, spill, st_ok, dt in rows:
        scan = f"{w} ({cols}{'…' if w > 6 else ''})" if w else "— (cached)"
        sh_cell = fmt_size(shuffle) if st_ok else "n/a"
        sp_cell = fmt_size(spill) if st_ok else "n/a"
        lines.append(
            f"| {name} | {a['exchanges']} (+{a['reused']}) |"
            f" {a['bcast_joins']} | {a['smj']} |"
            f" {a['arrow']} | {a['global_windows']} |"
            f" {scan} |"
            f" {sh_cell} | {sp_cell} | {dt:.1f}s |"
        )
    lines += [
        "",
        "## Red flags",
        "",
    ]
    if flags:
        lines += [f"- **{f}**" for f in flags]
    else:
        lines.append(
            "None: no CartesianProduct, no row-at-a-time Python anywhere in"
            " the gate catalog or the bench demo grids."
        )
    tot_sh = sum(r[3] for r in rows)
    tot_sp = sum(r[4] for r in rows)
    lines += [
        "",
        f"Catalog totals: shuffle written {fmt_size(tot_sh)}, spill"
        f" {fmt_size(tot_sp)}.",
        "",
    ]
    out_path = os.path.join(_REPO, "PLAN_AUDIT.md")
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out_path}", file=sys.stderr)
    return 1 if flags else 0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from rangebar_patterns_spark.session import get_spark

    spark = get_spark("plan-audit", extra_conf={"spark.ui.enabled": "true"})
    if len(sys.argv) > 1:
        attribute(spark, sys.argv[1].split(","), sf_dir)
        return 0
    return audit(spark, sf_dir)


if __name__ == "__main__":
    sys.exit(main())

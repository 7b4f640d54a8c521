"""Stage-level attribution for catalog entries (VERDICT r12 item 9 —
"one profiled look at the ratio<1 outliers"): run each named entry with
cold plan caches at $SPARK_GRAFT_CPUS, then pull per-stage metrics from
the local UI REST API to separate task-scheduling overhead (many tiny
tasks, run time << wall) from a real serialization point (few tasks, one
long stage).  Entries are looked up in the gate catalog, the restored
bench-only entries and the demo grids (``BENCH_QUERIES``), so e.g.
``python tools/stage_attrib.py sweep_gen600_complete_matrix`` attributes
the complete-matrix demo.

Usage: python tools/stage_attrib.py <entry>[,<entry>...] [sf_dir] [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

ENTRIES = sys.argv[1].split(",")
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
PASSES = int(sys.argv[3]) if len(sys.argv) > 3 else 2


def fetch(url: str):
    with urllib.request.urlopen(url, timeout=10) as fh:
        return json.load(fh)


def main() -> None:
    from rangebar_patterns_spark.plans import catalog as C
    from rangebar_patterns_spark.session import get_spark

    spark = get_spark("stage-attrib", extra_conf={"spark.ui.enabled": "true"})
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    ui = spark.sparkContext.uiWebUrl
    base = f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}"

    qs = dict(C.QUERIES)
    qs.update(C.RESTORED_QUERIES)
    qs.update(C.BENCH_QUERIES)

    for entry in ENTRIES:
        fn = qs[entry]
        for p in range(PASSES):
            C.reset_plan_caches(spark)
            seen = {
                s["stageId"]
                for s in fetch(f"{base}/stages?status=complete")
            }
            seen_jobs = {j["jobId"] for j in fetch(f"{base}/jobs")}
            spark.sparkContext.setJobDescription(f"attrib:{entry}:{p}")
            t0 = time.perf_counter()
            n = fn(spark, SF_DIR).count()
            wall = time.perf_counter() - t0
            stages = [
                s
                for s in fetch(f"{base}/stages?status=complete")
                if s["stageId"] not in seen
            ]
            jobs = [
                j for j in fetch(f"{base}/jobs") if j["jobId"] not in seen_jobs
            ]
            run_s = sum(s["executorRunTime"] for s in stages) / 1000
            cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
            tasks = sum(s["numTasks"] for s in stages)
            print(
                f"\n=== {entry} pass {p + 1}: wall {wall:.2f}s, {n} rows, "
                f"{len(jobs)} jobs, {len(stages)} stages, {tasks} tasks, "
                f"task-run {run_s:.2f}s (cpu {cpu_s:.2f}s), "
                f"run/wall {run_s / wall:.2f} ===",
                flush=True,
            )
            for s in sorted(
                stages, key=lambda s: -s["executorRunTime"]
            )[:12]:
                nm = s["name"].split("\n")[0][:70]
                print(
                    f"  stage {s['stageId']:>4} tasks={s['numTasks']:>5} "
                    f"run={s['executorRunTime'] / 1000:7.2f}s "
                    f"cpu={s['executorCpuTime'] / 1e9:7.2f}s "
                    f"in={s.get('inputBytes', 0) >> 20}MB "
                    f"sh_r={s.get('shuffleReadBytes', 0) >> 20}MB  {nm}",
                    flush=True,
                )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()

"""One timed pass in a fresh process (started by ``run.py``).

Builds the session and runs the JVM pre-warm job (set-up), clears the plan
caches, then runs the workload's catalog entries in order.  Each entry's
constructor call and its digest action are timed separately, the digest is
checked against the expected one, and the measured metrics are written as
JSON to ``--result``.  With ``--trace 1`` the layer modules are wrapped
first (see ``layers.py``) and the per-layer metrics are added.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

#: entries per workload, run in this order; README.md says why
WORKLOADS = {
    "sweep_grid": ("sweep_gen600_fullgrid",),
    "barrier_eval": ("eval_tail_tamrs", "cutoff_ou_panel", "wf_fold_objectives"),
    "corpus_iter": ("decontamination_overlap", "text_metrics"),
}
#: entries whose output rows are (config, symbol) funnel cells
CONFIG_ENTRIES = WORKLOADS["sweep_grid"]


def digest(df) -> list:
    """Order-insensitive digest over every output column: row count and
    the exact sum of per-row ``xxhash64`` values."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)")
    n, s = df.select(h.alias("h")).agg(F.count(F.lit(1)), F.sum("h")).collect()[0]
    return [int(n), str(s)]


class Pass:
    """One pass over a workload's entries: cleared caches, then each
    entry's construction and digest action, timed apart."""

    def __init__(self, spark, catalog, entries, sf_dir, expected, tracer=None, probe=None):
        self.construct_s = self.execute_s = 0.0
        self.digests: dict[str, list] = {}
        self.failed: list[str] = []
        self.rows = self.cache_builds = self.cached_b = 0
        span = tracer.span if tracer else lambda layer: contextlib.nullcontext()
        calls0, hits0 = (probe.calls, probe.hits) if probe else (0, 0)

        t0 = time.perf_counter()
        with span("catalog"):
            catalog.reset_plan_caches(spark)
        self.reset_s = time.perf_counter() - t0
        self.wall_s = self.reset_s
        for name in entries:
            keys0 = probe.keys() if probe else set()
            a = time.perf_counter()
            try:
                with span("catalog"):
                    df = catalog.QUERIES[name](spark, sf_dir)
                b = time.perf_counter()
                with span("spark"):
                    d = digest(df)
            except Exception as exc:  # a failing entry is counted, not fatal
                print(f"perfbench: {name} raised {type(exc).__name__}: {exc}",
                      file=sys.stderr)
                self.failed.append(name)
                self.wall_s += time.perf_counter() - a
                continue
            c = time.perf_counter()
            self.wall_s += c - a
            self.construct_s += b - a
            self.execute_s += c - b
            self.digests[name] = d
            print(f"perfbench:   {name}: construct {b - a:.2f}s, execute "
                  f"{c - b:.2f}s, {d[0]} rows", file=sys.stderr)
            if name in CONFIG_ENTRIES:
                self.rows += d[0]
            if expected is not None and expected.get(name) != d:
                print(f"perfbench: {name} digest {d} != expected {expected.get(name)}",
                      file=sys.stderr)
                self.failed.append(name)
            if probe:
                import layers

                self.cache_builds += len(probe.keys() - keys0)
                self.cached_b = max(self.cached_b, layers.cached_bytes(spark.sparkContext))
        if probe:
            self.cache_calls = probe.calls - calls0
            self.cache_hits = probe.hits - hits0


def layer_metrics(p: Pass, tracer, stages: dict, cpu: dict, cores: int) -> dict:
    """The per-layer metrics of one traced pass."""
    import layers

    m: dict[str, float] = {}
    for layer in ("sources", "sweep", "barriers", "eval", "corpus"):
        s = stages.get(layer, {})
        m[f"{layer}.calls"] = tracer.calls[layer]
        m[f"{layer}.self_s"] = tracer.self_s[layer]
        m[f"{layer}.jobs"] = s.get("jobs", 0)
        m[f"{layer}.tasks"] = s.get("tasks", 0)
        m[f"{layer}.executor_run_s"] = s.get("run_ms", 0) / 1e3
    m["catalog.construct_s"] = p.construct_s
    m["catalog.self_s"] = tracer.self_s["catalog"]
    m["catalog.eager_jobs"] = stages.get("catalog", {}).get("jobs", 0)
    m["catalog.cache_builds"] = p.cache_builds
    m["catalog.cache_hit_ratio"] = p.cache_hits / p.cache_calls if p.cache_calls else 0.0
    m["catalog.cached_mb"] = p.cached_b / 2**20
    m["catalog.reset_s"] = p.reset_s
    tot = {k: sum(s[k] for s in stages.values()) for k in layers.STAGE_FIELDS}
    act = stages.get("spark", {})
    m["spark.execute_s"] = p.execute_s
    m["spark.action_jobs"] = act.get("jobs", 0)
    m["spark.action_executor_run_s"] = act.get("run_ms", 0) / 1e3
    m["spark.jobs"] = tot["jobs"]
    m["spark.stages"] = tot["stages"]
    m["spark.tasks"] = tot["tasks"]
    m["spark.executor_run_s"] = tot["run_ms"] / 1e3
    m["spark.executor_cpu_s"] = tot["cpu_ns"] / 1e9
    m["spark.occupancy"] = tot["run_ms"] / 1e3 / (p.wall_s * cores)
    m["spark.shuffle_write_mb"] = tot["shuffle_write_b"] / 2**20
    m["spark.spill_mb"] = tot["spill_b"] / 2**20
    m["spark.gc_s"] = tot["gc_ms"] / 1e3
    m["spark.failed_tasks"] = tot["failed_tasks"]
    for kind in ("driver", "jvm", "python"):
        m[f"workers.{kind}_cpu_s"] = cpu[kind]
    accounted = sum(tracer.self_s[x] for x in layers.SPAN_LAYERS) + p.execute_s
    m["trace.unaccounted_s"] = p.wall_s - accounted
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True, nargs="+",
                    help="input dirs; more than one only with --record")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--expected", help="JSON {entry: digest} to check against")
    ap.add_argument("--result", required=True)
    ap.add_argument("--t-spawn", type=float, required=True,
                    help="time.monotonic() when the parent started this process")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    import procs
    from bench import tree_cpu_delta, tree_cpu_snapshot

    if args.trace:
        import layers

        probe = layers.install()
    from rangebar_patterns_spark import session

    conf = {
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.abspath("warehouse"),
    }
    t_session = time.monotonic()
    spark = session.get_spark("perfbench", extra_conf=conf)
    t_up = time.monotonic()
    sc = spark.sparkContext
    if args.trace:
        sc.setJobGroup("setup:session", "session")
    spark.range(1000).selectExpr("sum(id)").collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    t_ready = time.monotonic()
    result: dict = {
        "setup_s": t_ready - args.t_spawn,
        "session.start_s": t_up - args.t_spawn,
        "session.prewarm_s": t_ready - t_up,
        "session.self_s": t_up - t_session,
        "session.calls": 1,
    }

    from rangebar_patterns_spark.plans import catalog

    entries = WORKLOADS[args.workload]
    if args.record:
        result["digests"] = {
            d: Pass(spark, catalog, entries, d, None).digests for d in args.inputs
        }
        spark.stop()
        _write(args.result, result)
        return 0

    expected = None
    if args.expected:
        with open(args.expected) as fh:
            expected = json.load(fh)
    tracer = None
    if args.trace:
        tracer = layers.Tracer(sc, "pass")
        layers.Tracer.active = tracer
    procs.reset_peak_rss()
    c0 = tree_cpu_snapshot()
    p = Pass(spark, catalog, entries, args.inputs[0], expected, tracer,
             probe if args.trace else None)
    c1 = tree_cpu_snapshot()
    result["workers.peak_rss_mb"] = procs.tree_peak_rss_bytes() / 2**20
    print(f"perfbench: pass {p.wall_s:.2f}s (construct {p.construct_s:.2f}s, "
          f"execute {p.execute_s:.2f}s)", file=sys.stderr)
    result["wall_s"] = p.wall_s
    result["cpu_s"] = tree_cpu_delta(c0, c1)
    result["configs_per_s"] = p.rows / p.wall_s
    result["attempted"] = len(entries)
    result["failed"] = len(p.failed)
    if args.trace:
        layers.Tracer.active = None
        sc.setLocalProperty("spark.jobGroup.id", None)
        result.update(layer_metrics(
            p, tracer, layers.stage_metrics(sc, "pass"), procs.cpu_by_kind(c0, c1),
            sc.defaultParallelism,
        ))
        ses = layers.stage_metrics(sc, "setup").get("session", {})
        result["session.jobs"] = ses.get("jobs", 0)
        result["session.tasks"] = ses.get("tasks", 0)
        result["session.executor_run_s"] = ses.get("run_ms", 0) / 1e3
    spark.stop()
    _write(args.result, result)
    return 0


def _write(path: str, obj: dict) -> None:
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sweep_grid --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the seed's inputs, sizes the Spark
session to the host, runs the workload in fresh child processes (so set-up
time is real and no JVM output can follow the result), and prints one JSON
line as the last line of standard output.  ``--trace 1`` reports the
per-layer metrics of ``BENCHMARK.json`` instead of the end-to-end ones.
``--record`` rewrites ``expected.json`` from the current code.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(HERE, "expected.json")

#: seeds map onto this many input variants, each with recorded digests
VARIANTS = 10
#: input sizes: the testdata's sf0.01 shape, which the catalog's warm-up
#: windows are sized for (every variant yields trades; see README.md)
N_EVENTS = 10_000
N_DOCS = 5_000
#: a run ends within this many seconds; recording runs every variant in
#: one child and has its own ceiling
DEADLINE_S = 170
RECORD_TIMEOUT_S = 1200


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_env() -> dict[str, str]:
    """Spark sizing from this host: a quarter of MemTotal for the driver
    heap (capped at 4 GiB; other processes share the host), every usable
    core, and scratch space inside the checkout."""
    with open("/proc/meminfo") as fh:
        mem_kib = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    heap_mib = max(1024, min(4096, mem_kib // 4 // 1024))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_DRIVER_MEMORY": f"{heap_mib}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def source_id() -> str:
    """The commit when the tree is a git checkout, else a hash of the
    package sources (the benchmark's checkout is not a repository)."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "rangebar_patterns_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def _live_members(sid: int) -> list[int]:
    """Pids of the session that have not exited.  The session, not the
    process group: the PySpark daemon moves itself into a group of its own.
    Zombies are left out; an orphaned one is init's to reap."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(rest[3]) == sid and rest[0] != "Z":
            out.append(int(d))
    return out


def _kill_all(sid: int) -> None:
    for pid in _live_members(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_child(args: list[str], env: dict[str, str], timeout_s: float) -> int:
    """Run ``worker.py`` in a session of its own, relay everything it (and
    its JVM) writes to stderr, and return only after every process of the
    session has ended."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, env=env,
        cwd=WORK, start_new_session=True,
    )

    def relay() -> None:
        assert proc.stdout is not None
        for chunk in iter(lambda: proc.stdout.read1(8192), b""):
            sys.stderr.buffer.write(chunk)
            sys.stderr.buffer.flush()

    relayer = threading.Thread(target=relay, daemon=True)
    relayer.start()
    try:
        rc = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print("perfbench: child timed out", file=sys.stderr)
        _kill_all(proc.pid)
        proc.wait()
        rc = -1
    # the JVM can outlive the Python child for a moment; give it that
    # moment, then stop whatever is left of the session
    deadline = time.monotonic() + 10
    while _live_members(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _live_members(proc.pid):
        _kill_all(proc.pid)
        deadline = time.monotonic() + 10
        while _live_members(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
    relayer.join(timeout=5)
    return rc


def load_spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        _fail("BENCHMARK.json not found next to the benchmark")
    with open(path) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the digests of every variant into expected.json")
    args = ap.parse_args()
    t_start = time.monotonic()

    spec = load_spec()
    for need in ("rangebar_patterns_spark/plans/catalog.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} is missing: run from a full checkout of the repository")
    sys.path[:0] = [ROOT, HERE]
    import inputs
    from worker import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    env = dict(os.environ, **host_env())
    for k in ("SPARK_DRIVER_MEMORY", "SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS"):
        print(f"perfbench: {k}={env[k]}", file=sys.stderr)
    print(f"perfbench: source {source_id()}", file=sys.stderr)

    variants = range(VARIANTS) if args.record else [args.seed % VARIANTS]
    dirs = [
        inputs.write_inputs(os.path.join(WORK, "inputs", f"v{v}"), v, N_EVENTS, N_DOCS)
        for v in variants
    ]
    result_path = os.path.join(WORK, "result.json")
    child = ["--workload", args.workload, "--result", result_path]

    def child_run(extra: list[str], timeout_s: float | None = None) -> dict:
        if os.path.exists(result_path):
            os.unlink(result_path)
        if timeout_s is None:
            timeout_s = DEADLINE_S - (time.monotonic() - t_start)
        rc = run_child(child + ["--t-spawn", repr(time.monotonic()), *extra], env,
                       timeout_s)
        if rc != 0 or not os.path.exists(result_path):
            _fail(f"worker failed (rc={rc})")
        with open(result_path) as fh:
            return json.load(fh)

    if args.record:
        res = child_run(["--record", "--inputs", *dirs], RECORD_TIMEOUT_S)
        got = {str(v): res["digests"][d] for v, d in zip(variants, dirs)}
        # an entry with no rows has a digest that cannot catch a wrong result
        empty = [(v, e) for v, ds in got.items() for e, d in ds.items() if d[0] == 0]
        if empty or any(len(ds) != len(WORKLOADS[args.workload]) for ds in got.values()):
            _fail(f"not recorded: empty or failed entries {empty}")
        book = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as fh:
                book = json.load(fh)
        book[args.workload] = got
        with open(EXPECTED, "w") as fh:
            json.dump(book, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"perfbench: recorded {len(dirs)} variants", file=sys.stderr)
        return 0

    book = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            book = json.load(fh).get(args.workload, {})
    want = book.get(str(variants[0]))
    exp_path = os.path.join(WORK, "expected_run.json")
    with open(exp_path, "w") as fh:
        json.dump(want or {}, fh)

    base = ["--inputs", dirs[0], "--expected", exp_path]
    runs = []
    t_window = time.monotonic()
    while True:
        t0 = time.monotonic()
        runs.append(child_run(base))
        now = time.monotonic()
        # another cold process only while the window is open and it fits
        if args.trace or now - t_window >= args.seconds or (
            now + (now - t0) - t_start > DEADLINE_S - 20
        ):
            break
    if args.trace:
        # the untraced pass above is the baseline of the tracing overhead
        res = child_run(base + ["--trace", "1"])
        res["trace.wall_s"] = res["wall_s"]
        res["trace.overhead_s"] = res["wall_s"] - runs[0]["wall_s"]
        res["wall_s"] = runs[0]["wall_s"]
        runs.append(res)
    else:
        res = {k: statistics.median(r[k] for r in runs)
               for k in ("setup_s", "wall_s", "cpu_s", "workers.peak_rss_mb", "configs_per_s")}
    res["attempted"] = sum(r["attempted"] for r in runs)
    res["failed"] = sum(r["failed"] for r in runs)
    res["failed_frac"] = res["failed"] / res["attempted"]
    print(
        f"perfbench: {args.workload} seed {args.seed} (variant {variants[0]}): "
        f"{len(runs)} passes, wall_s {res['wall_s']:.3f}, configs_per_s "
        f"{res['configs_per_s']:.1f}, failed_frac {res['failed_frac']:.3f}",
        file=sys.stderr,
    )
    names = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in res]
    if missing:
        _fail(f"worker did not report {missing}")
    line = {
        "correct": want is not None and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": res[m["name"]], "unit": m["unit"]} for m in names},
    }
    sys.stderr.flush()
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

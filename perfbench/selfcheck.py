#!/usr/bin/env python3
"""Self-check of the benchmark (about eight minutes on 4 cores).

    python3 perfbench/selfcheck.py [workload ...]

For each workload it makes one untraced and one traced run and asserts that
every metric named in ``BENCHMARK.json`` prints with its unit, that every
digest matches, and that layer self times plus ``spark.execute_s`` account
for the traced pass's wall time within the tracing overhead.  It then shows
that a tampered expected digest is reported as a failed entry (exit 0,
``correct: false``), and that the benchmark exits non-zero without a result
in a directory holding only ``BENCHMARK.json`` and the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work", "selfcheck")
SEED = 0


def bench(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    out = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    try:
        return out.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return out.returncode, None


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {what}")
    print(f"ok: {what}", flush=True)


def check_line(line: dict | None, names: list[dict], what: str) -> dict:
    check(line is not None and set(line) == {"correct", "attempted", "failed", "metrics"},
          f"{what}: last line is the result object")
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    check(got == {m["name"]: m["unit"] for m in names},
          f"{what}: every metric printed once, with its unit")
    return {k: v["value"] for k, v in line["metrics"].items()}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    common = ["--seed", str(SEED), "--seconds", "1"]
    for w in workloads:
        rc, line = bench(["--workload", w, "--trace", "0", *common])
        check(rc == 0, f"{w}: untraced run exits 0")
        check_line(line, spec["end_to_end"], w)
        check(line["correct"] and line["failed"] == 0, f"{w}: every digest matches")

        rc, line = bench(["--workload", w, "--trace", "1", *common])
        check(rc == 0, f"{w}: traced run exits 0")
        m = check_line(line, spec["per_layer"], f"{w} traced")
        check(line["correct"], f"{w}: traced digests match")
        slack = max(abs(m["trace.overhead_s"]), 0.01 * m["trace.wall_s"])
        check(abs(m["trace.unaccounted_s"]) <= slack,
              f"{w}: layer self times + spark.execute_s = wall_s "
              f"(off by {m['trace.unaccounted_s']:.4f}s, overhead {m['trace.overhead_s']:.2f}s)")

    w = workloads[0]
    bare = bare_copy("bare")
    rc, line = bench(["--workload", w, "--trace", "0", *common], cwd=bare)
    check(rc != 0 and line is None, "without the repository the benchmark fails, printing no result")

    # the package and bench.py linked in, expected.json with one digest changed
    tampered = bare_copy("tampered")
    for name in ("rangebar_patterns_spark", "bench.py"):
        os.symlink(os.path.join(ROOT, name), os.path.join(tampered, name))
    path = os.path.join(tampered, "perfbench", "expected.json")
    with open(path) as fh:
        book = json.load(fh)
    entry = sorted(book[w][str(SEED % 10)])[0]
    book[w][str(SEED % 10)][entry][1] = "0"
    with open(path, "w") as fh:
        json.dump(book, fh)
    rc, line = bench(["--workload", w, "--trace", "0", *common], cwd=tampered)
    check(rc == 0 and line is not None, f"{w}: a tampered digest does not crash the run")
    check(not line["correct"] and line["failed"] == 1,
          f"{w}: the tampered entry {entry} is reported as one failure")
    shutil.rmtree(WORK)
    print("selfcheck passed")
    return 0


def bare_copy(name: str) -> str:
    """A directory holding only ``BENCHMARK.json`` and the benchmark."""
    out = os.path.join(WORK, name)
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(out, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), out)
    return out


if __name__ == "__main__":
    sys.exit(main())

"""Smoke test of the benchmark: every workload, both modes, short windows.

    python3 perfbench/smoke.py        # from the repository root

For each workload it runs ``run.py`` with a 2-second window, untraced and
traced, and checks that the command exits 0, that its last line holds
exactly the metrics ``BENCHMARK.json`` names for that mode (numbers, with
the listed units) and that every correctness check passed. It also checks
that the benchmark fails fast, printing nothing, in a directory that holds
only ``BENCHMARK.json`` and ``perfbench/``. Takes about five minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    failures: list[str] = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            label = f"{w['name']} --trace {trace}"
            before = len(failures)
            p = run(ROOT, w["name"], trace)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures.append(f"{label}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            if got != want:
                failures.append(f"{label}: metrics differ from BENCHMARK.json")
            if not all(isinstance(m["value"], (int, float)) for m in out["metrics"].values()):
                failures.append(f"{label}: a metric value is not a number")
            if not out["correct"] or out["attempted"] < 1 or out["failed"]:
                failures.append(f"{label}: checks failed: {lines[-2] if len(lines) > 1 else ''}")
            print(f"{label}: {'ok' if len(failures) == before else 'FAILED'}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_tmp", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "live", "--seed", "1",
             "--seconds", "2", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=60,
        )
        if p.returncode == 0 or p.stdout.strip():
            failures.append("bare directory: expected a non-zero exit and no output")
        else:
            print("bare directory: fails fast: ok", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point; run from the repository root.

    python3 perfbench/run.py --workload live|backfill|queries \
        --seed N --seconds S --trace 0|1

Starts the workload in its own process group (``worker.py``) with the
repository on ``PYTHONPATH``, ``SPARK_GRAFT_CPUS`` set to the usable cores
and Spark's scratch space under ``.perfbench_tmp/``. Whatever happens, it
stops every process in that group, waits for each to end and removes the
scratch directory. On success it prints the detail line (sample counts,
checks) and, last, the result line. A traced run (``--trace 1``) also
leaves its spans in ``.perfbench_out/spans-<workload>.json``.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

WORKER_TIMEOUT_S = 165


def _stop_group(proc: subprocess.Popen) -> None:
    """SIGTERM the worker's process group, SIGKILL what is left after 5 s,
    and wait until every process in it has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.time() + 5.0
        while time.time() < end:
            proc.poll()  # reap the worker: a zombie still counts as a member
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def _on_term(signum, frame) -> None:
    raise SystemExit(128 + signum)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("live", "backfill", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "scholar_stream_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root; scholar_stream_spark/ "
              "or __spark_entry__.py is missing", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _on_term)
    bench = os.path.dirname(os.path.abspath(__file__))
    work = os.path.join(root, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    old_path = os.environ.get("PYTHONPATH")
    env = dict(
        os.environ,
        PYTHONPATH=root + (os.pathsep + old_path if old_path else ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # keep every JVM's temp and perf-data files out of /tmp
        JAVA_TOOL_OPTIONS=" ".join(
            filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"))),
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options " + shlex.quote(f"-Djava.io.tmpdir={tmp}")
            + " --conf spark.ui.showConsoleProgress=false pyspark-shell"),
        TMPDIR=tmp,
    )
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(bench, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", os.path.join(work, "run"), "--result", result,
        "--spans", os.path.join(out_dir, f"spans-{args.workload}.json"),
    ]
    os.makedirs(os.path.join(work, "run"))
    proc = None
    rc = None
    try:
        with open(log, "w", encoding="utf-8") as logf:
            proc = subprocess.Popen(cmd, env=env, cwd=root, stdin=subprocess.DEVNULL,
                                    stdout=logf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        with open(log, encoding="utf-8", errors="replace") as f:
            sys.stderr.write(f.read())
        if rc != 0 or not os.path.exists(result):
            print(f"perfbench: {args.workload} failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result, encoding="utf-8") as f:
            sys.stdout.write(f.read())
        sys.stdout.flush()
        return 0
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish cleaning up
        if proc is not None:
            _stop_group(proc)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

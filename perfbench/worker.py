"""Runs one workload in this process and writes its result lines.

Started by ``run.py``, which sets the environment (``PYTHONPATH``,
``SPARK_GRAFT_CPUS``, ``SPARK_LOCAL_DIRS``) and cleans up after it:

    python3 perfbench/worker.py --workload W --seed N --seconds S \
        --trace 0|1 --run-dir DIR --result FILE --spans FILE

``FILE`` receives two lines: a detail object (sample counts, checks) and
the final ``{"correct", "attempted", "failed", "metrics"}`` object.
"""

from __future__ import annotations

import time

T0 = time.time()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
#: Layers whose self time a traced run reports, named by module.
LAYERS = ("sources", "streaming", "raw_landing", "catalog", "dashboard", "queries")


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    cpus: str
    t0: float = T0
    bench_dir: str = BENCH_DIR
    log: object = sys.stderr
    children: list = field(default_factory=list)


def _metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run prints, from BENCHMARK.json."""
    with open("BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=("live", "backfill", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--spans", required=True)
    args = p.parse_args()

    import backfill
    import live
    import queries
    from common import JobLedger, Result, Tracer, cpu_ticks, steal_share
    from scholar_stream_spark.session import get_spark

    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.run_dir, os.environ["SPARK_GRAFT_CPUS"])
    if args.workload == "backfill":
        # the producer CLI's own session settings, so its get_spark reuses it
        spark = get_spark(app_name="scholar-stream-producer",
                          master=f"local[{ctx.cpus}]", shuffle_partitions=4)
    else:
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    res, tracer, ledger = Result(), Tracer(ctx.trace), JobLedger(spark)
    ticks = cpu_ticks()
    try:
        {"live": live, "backfill": backfill, "queries": queries}[args.workload].run(
            spark, ctx, res, tracer, ledger)
        if ctx.trace:
            for layer, s in tracer.self_seconds().items():
                if layer in LAYERS:
                    res.put(f"self.{layer}_s", s, "s", len(tracer.spans))
            res.put("trace.spans", len(tracer.spans), "count")
            # the traced run's own end-to-end figures: tracing overhead is
            # these against an untraced run of the same seed
            for name in _metric_units(False):
                res.put(f"trace.{name}", *res.metrics[name])
            tracer.write(args.spans)
        units = _metric_units(ctx.trace)
        if ctx.trace:
            # layers this workload does not exercise read zero
            for name, unit in units.items():
                res.metrics.setdefault(name, (0.0, unit, 0))
        with open(args.result, "w", encoding="utf-8") as f:
            f.write(res.detail(host_steal=steal_share(ticks, cpu_ticks()))
                    + "\n" + res.line(units) + "\n")
    finally:
        for child in ctx.children:
            if child.poll() is None:
                child.kill()
            child.wait()
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

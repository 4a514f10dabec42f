#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the full named query set from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "query_set_wall_clock", "value": <total-sec>,
     "unit": "sec", "queries": {"<name>": sec, ...}, "sf": <sf>}

Each query is executed to completion with the ``noop`` sink — the whole
plan runs (scan → shuffle → agg) but nothing is materialized on the
driver, so timings measure the engine, not ``collect()`` serialization.

A tiny warm-up query first absorbs one-time JVM/codegen startup so
per-query numbers are comparable across runs.

Streaming latency is not measured here: ``perfbench/run.py --workload
live`` reports the millisecond file-drop → bronze-commit latency.

Output contract (r13): stdout carries the FULL result as the first
line, then a COMPACT summary (same headline metric, slowest-20 query
subset) as the last line. The driver's capture keeps only the last
~2000 chars of stdout — the full 8 KB line's head was truncated
mid-object in r11/r12 (``"parsed": null``) — so the final line is
sized to survive that tail window intact. The full result always also
persists to ``BENCH_latest_local.json`` (or ``$SPARK_GRAFT_BENCH_OUT``),
which is DELETED at run start so a crashed run can't leave the previous
round's file masquerading as current; ``started_at`` stamps both.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from datetime import datetime, timezone

import __spark_entry__ as entry_mod
from scholar_stream_spark.session import get_spark
from scholar_stream_spark.sources.tables import load_table


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_from_dir(sf_dir)
    started_at = datetime.now(timezone.utc).isoformat(timespec="seconds")
    # Remove any PREVIOUS run's persisted result up front: a crashed run
    # must leave no stale file that a stdout-truncated driver could
    # mistake for this round's evidence (r12 ADVICE).
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_latest_local.json"),
    )
    try:
        os.remove(out_path)
    except OSError:
        pass
    spark = get_spark(app_name="scholar-stream-bench")

    # warm-up: JVM + parquet footer read + codegen paths, plus Python UDF
    # workers (first Arrow-UDF stage otherwise pays ~100-300 ms per-core
    # interpreter spawn — a fixed session cost, not query cost)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    from pyspark.sql import functions as F  # noqa: PLC0415

    _warm = F.pandas_udf(lambda s: s, "long")
    (
        spark.range(0, 256, 1, 64)
        .select(_warm("id"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # ... and the common physical-plan shapes (broadcast join, ranking
    # window, explode, hash agg, sort) so the first *real* query isn't
    # charged for one-time whole-stage-codegen + JIT compilation of
    # those operators — on a long-lived cluster these are compiled once
    # per session, not once per query.
    from pyspark.sql import Window as _W  # noqa: PLC0415

    _a = spark.range(0, 4096, 1, 32).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.sequence(F.lit(0), F.lit(2)).alias("arr")
    )
    _b = spark.range(0, 64).select(F.col("id").alias("k2"))
    (
        _a.select("id", "k", F.explode("arr").alias("e"))
        .join(F.broadcast(_b), F.col("k") == F.col("k2"))
        .groupBy("k")
        .agg(F.sum("e").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(_W.partitionBy("k").orderBy(F.desc("s"))))
        .orderBy("k")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    queries = entry_mod.queries()

    def _calibrate(reps: int = 3) -> list[float]:
        """Fixed trivial query (1-row count over the 25-row nation
        table) timed at the start of every pass — the host-speed
        yardstick (r16 verdict item 4): identical plan every round, so
        cross-round shifts in ITS timing measure ambient host drift
        (clock ramp, background load), letting shared-set deltas be
        attributed by measurement instead of narrative. Three reps per
        pass so one scheduler hiccup doesn't poison the lane. Reads
        through ``load_table`` like every query, so a rep pays no
        schema-inference job once the session has seen the table."""
        out = []
        for _ in range(reps):
            t = time.time()
            (
                load_table(spark, sf_dir, "nation")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            out.append(round(time.time() - t, 4))
        return out

    def run_pass() -> tuple[dict[str, float], dict[str, str], float]:
        timings: dict[str, float] = {}
        failures: dict[str, str] = {}
        t0 = time.time()
        for name in sorted(queries):
            start = time.time()
            # one broken query must not cost the whole benchmark: record
            # the failure and keep timing the rest
            try:
                df = queries[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                failures[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"  {name}: FAILED {failures[name]}", file=sys.stderr)
                continue
            timings[name] = round(time.time() - start, 3)
            print(f"  {name}: {timings[name]}s", file=sys.stderr)
        return timings, failures, round(time.time() - t0, 3)

    # Best-of-N: the host's clock-speed ramp and background load swing
    # identical code by 1.5-3x between runs; per-query minima measure
    # the engine, not the host's mood. All pass walls are reported so
    # the variance is visible, not hidden — the spread between passes
    # IS the run's noise bound.
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    timings, all_failures, pass_walls = {}, {}, []
    calibration: list[list[float]] = []
    for i in range(n_passes):
        calib = _calibrate()
        calibration.append(calib)
        print(f"  calibration pass {i + 1}: {calib}", file=sys.stderr)
        p_timings, p_failures, p_total = run_pass()
        pass_walls.append(p_total)
        print(f"  pass {i + 1}/{n_passes}: {p_total}s", file=sys.stderr)
        for name, t in p_timings.items():
            timings[name] = min(timings.get(name, t), t)
        for name, msg in p_failures.items():
            all_failures.setdefault(name, msg)
    # never succeeded in ANY pass → failed; succeeded in some pass but
    # failed in another → flaky (reported separately, NOT hidden — a
    # nondeterministic breakage is a bug signal, not noise)
    failures = {k: v for k, v in all_failures.items() if k not in timings}
    flaky = {k: v for k, v in all_failures.items() if k in timings}
    total = min(pass_walls)

    # Scale-profile lane: the dedup/similarity operators whose `scale`
    # paths (fast hashes, hot-shingle doc-freq cap, SemDeDup cluster
    # cap) are correctness-pinned but otherwise never timed. Best-of-2
    # per profile; failures degrade to an error entry, never kill the
    # run.
    scale_profile: dict[str, dict] = {}
    try:
        pairs = entry_mod.profile_pairs()
    except AttributeError:
        pairs = {}
    for name, variants in sorted(pairs.items()):
        scale_profile[name] = {}
        for prof, fn in sorted(variants.items()):
            best = None
            try:
                for _ in range(2):
                    start = time.time()
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    dt = round(time.time() - start, 3)
                    best = dt if best is None else min(best, dt)
            except Exception as exc:  # noqa: BLE001
                # keep any timing a successful pass already produced —
                # a flaky second pass must not erase a real measurement
                scale_profile[name][f"{prof}_error"] = (
                    f"{type(exc).__name__}: {exc}"[:200]
                )
            scale_profile[name][prof] = best
        print(f"  profile {name}: {scale_profile[name]}", file=sys.stderr)

    out = {
        "metric": "query_set_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "passes": pass_walls,
        # host-speed yardstick: per-pass timings of a fixed 1-row
        # nation count (see _calibrate) — normalize cross-round
        # shared-set deltas against min-of-mins of this lane
        "calibration": calibration,
        "scale_profile": scale_profile,
        "started_at": started_at,  # run identifier: a stale file from a
        # previous round can't masquerade as this run's evidence
        "n_passes": n_passes,
    }
    if failures:
        out["failed_queries"] = failures
    if flaky:
        out["flaky_queries"] = flaky
    line = json.dumps(out)
    # Full result FIRST on stdout (nothing precedes it — all progress
    # goes to stderr), then persist it to the local file.
    print(line)
    sys.stdout.flush()
    try:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    except OSError as exc:
        print(f"  bench out file not written: {exc}", file=sys.stderr)
    # The driver's stdout capture keeps only the LAST ~2000 chars, so
    # the full line above (≈8 KB at 195 queries) parses as null there
    # (BENCH_r11/r12 both lost their head mid-object). The LAST stdout
    # line is therefore a compact summary sized to fit entirely inside
    # that tail window: headline metric + pass walls + calibration +
    # the slowest queries, with a pointer to the full persisted JSON.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    )
    compact = {
        "metric": "query_set_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": len(failures),
        "n_flaky": len(flaky),  # nondeterministic breakage is a bug
        # signal — it must reach a tail-truncated capture too
        "passes": pass_walls,
        "calibration_min_sec": (
            min(min(c) for c in calibration) if calibration else None
        ),
        "queries": slowest,
        "queries_truncated_to_slowest": 20,
        "full_results_file": os.path.basename(out_path),
        "started_at": started_at,
    }
    compact_line = json.dumps(compact)
    # stay inside the 2000-char tail: shrink the queries dict until the
    # line fits, down to dropping it entirely (20 → 10 → 5 → 0) — a
    # single retry could still overflow on long query names
    for keep in (10, 5, 0):
        if len(compact_line) <= 1900:
            break
        compact["queries"] = dict(list(slowest.items())[:keep])
        compact["queries_truncated_to_slowest"] = keep
        compact_line = json.dumps(compact)
    print(compact_line)
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()

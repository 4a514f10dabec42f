"""``live``: the ingest stream landing drop files while a dashboard polls.

Open loop: ``filedrop.py`` (its own process) drops ``LINES``-record NDJSON
files at a Poisson ``RATE``; ``start_ingest`` on the ``demo`` trigger
lands them. Closed loop: one dashboard client polls back to back
(read bronze -> ``init_catalog`` -> ``latency_tiles`` ->
``recent_works(50).collect()``). The bronze table is pre-filled through
``land_batch``; before the stream starts, the client polls it ``IDLE_POLLS``
times, which warms the read path and gives the idle poll time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

from common import JobLedger, ProgressLog, Result, Tracer, pct, stream_phases
from records import drop_file_lines, seed_lines

RATE = 10.0  # files per second
LINES = 40  # records per file
BAD_SHARE = 0.01
SEED_ROWS = 10_000
SEED_FILES = 10
RECENT = 50
IDLE_POLLS = 4
WARM_S = 1.5  # unmeasured polling after the first batch: JIT and caches warm up


def _parquet_files(path: str) -> int:
    return sum(
        name.endswith(".parquet")
        for _, _, names in os.walk(path)
        for name in names
    )


def _masked(email: str | None) -> bool:
    """What R_ANALYST may see: NULL, ``***`` or ``x***@domain``."""
    return email is None or email == "***" or (
        len(email) > 4 and email[1:5] == "***@"
    )


def run(spark, ctx, res: Result, tracer: Tracer, ledger: JobLedger) -> None:
    from scholar_stream_spark.app.dashboard import latency_tiles, recent_works
    from scholar_stream_spark.plans.catalog import init_catalog
    from scholar_stream_spark.sources.raw_landing import land_batch
    from scholar_stream_spark.streaming.accounting import IngestAccounting
    from scholar_stream_spark.streaming.pipeline import start_ingest

    d = {k: os.path.join(ctx.run_dir, k)
         for k in ("seed", "inbox", "stage", "raw", "errors", "ckpt", "gen_log")}
    for k in ("seed", "inbox", "stage"):
        os.makedirs(d[k])

    # setup: pre-fill bronze, poll it idle, start the generator and the
    # stream, and wait for the first landed batch
    rows = seed_lines(ctx.seed, SEED_ROWS, time.time())
    per = SEED_ROWS // SEED_FILES
    for i in range(SEED_FILES):
        with open(os.path.join(d["seed"], f"seed-{i:04d}.ndjson"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(rows[i * per:(i + 1) * per]) + "\n")
    with tracer.span("setup.seed_bronze", "setup"):
        land_batch(spark.read.text(d["seed"]), d["raw"], errors_path=d["errors"])
    seeded_files = _parquet_files(d["raw"])

    def poll_once(group: str):
        with tracer.span("dashboard.poll", "dashboard") as poll:
            with ledger.group(f"{group}.read"), \
                    tracer.span("dashboard.read", "dashboard") as s1:
                raw = spark.read.parquet(d["raw"])
            with ledger.group(f"{group}.catalog"), \
                    tracer.span("dashboard.catalog", "catalog") as s2:
                init_catalog(spark, raw, role="R_ANALYST")
            with ledger.group(f"{group}.tiles"), \
                    tracer.span("dashboard.tiles", "dashboard") as s3:
                tiles = latency_tiles(spark)
            with ledger.group(f"{group}.recent"), \
                    tracer.span("dashboard.recent", "dashboard") as s4:
                recent = recent_works(spark, RECENT).collect()
        ok = tiles is not None and len(recent) == RECENT and all(
            _masked(r["email"]) for r in recent)
        return poll.seconds, (s1.seconds, s2.seconds, s3.seconds, s4.seconds), ok

    with tracer.paused():
        idle = [poll_once("idle") for _ in range(IDLE_POLLS)]
    masked_ok = all(ok for _, _, ok in idle)

    log = ProgressLog()
    spark.streams.addListener(log)
    acct = IngestAccounting()
    gen = subprocess.Popen(
        [sys.executable, os.path.join(ctx.bench_dir, "filedrop.py"),
         "--inbox", d["inbox"], "--stage", d["stage"], "--seed", str(ctx.seed),
         "--rate", str(RATE), "--lines", str(LINES), "--bad-share", str(BAD_SHARE),
         "--log", d["gen_log"]],
        stdin=subprocess.PIPE, text=True,
    )
    ctx.children.append(gen)
    query = start_ingest(
        spark, d["inbox"], d["raw"], d["ckpt"], errors_path=d["errors"],
        trigger="demo", accounting=acct,
    )
    deadline = time.time() + 60
    while not log.data_batches():
        if time.time() > deadline or not query.isActive:
            raise RuntimeError("the ingest stream landed nothing within 60 s")
        time.sleep(0.05)

    warm_end = time.time() + WARM_S
    with tracer.paused():
        while time.time() < warm_end:
            masked_ok &= poll_once("warm")[2]
    res.put("setup_s", time.time() - ctx.t0, "s")

    # measured window: the dashboard client polls back to back
    t_start = time.time()
    t_end = t_start + ctx.seconds
    steps: dict[str, list[float]] = {s: [] for s in ("read", "catalog", "tiles", "recent")}
    polls: list[float] = []
    while time.time() < t_end:
        seconds, parts, ok = poll_once("dash")
        polls.append(seconds)
        for key, sec in zip(steps, parts):
            steps[key].append(sec)
        masked_ok &= ok

    # stop the generator, then land everything it wrote
    gen.communicate(input="", timeout=30)
    with open(d["gen_log"], encoding="utf-8") as f:
        files = [json.loads(x) for x in f]
    query.processAllAvailable()
    query.stop()
    run_id = str(query.runId)

    # checks (outside the measured window)
    expected_ids: set[str] = set()
    expected_bad: list[str] = []
    for f in files:
        _, good, bad = drop_file_lines(ctx.seed, f["idx"], f["n"], f["due"], BAD_SHARE)
        expected_ids.update(good)
        expected_bad.extend(bad)
    landed = (
        spark.read.parquet(d["raw"])
        .select(
            F.get_json_object("payload", "$.id").alias("id"),
            F.split(F.get_json_object("metadata", "$.batch_id"), "-")[0]
            .cast("long").alias("batch"),
        )
    )
    g_rows = landed.filter(F.col("id").startswith("G")).collect()
    n_seed = landed.filter(F.col("id").startswith("S")).count()
    got_ids = [r["id"] for r in g_rows]
    res.check("live.every_record_once", len(got_ids) == len(set(got_ids))
              and set(got_ids) == expected_ids and n_seed == SEED_ROWS)
    dead = [r["payload"] for r in spark.read.parquet(d["errors"]).collect()] \
        if expected_bad else []
    res.check("live.dead_letters", sorted(dead) == sorted(expected_bad))
    totals = acct.totals()
    n_lines = sum(f["n"] for f in files)
    res.check("live.accounting", totals["n_input"] == n_lines
              and totals["n_dead"] == len(expected_bad))
    res.check("live.masked_emails", masked_ok)
    res.attempted = len(files)

    # per-file commit latency: due time -> end of the batch that landed it
    batch_of = {int(r["id"][1:].split("-")[0]): r["batch"] for r in g_rows}
    res.failed = len(files) - len(batch_of)
    log.wait_for(max(batch_of.values()))
    lat, wait, spans = [], [], []
    for f in [f for f in files if f["idx"] in batch_of]:
        b = log.batches[batch_of[f["idx"]]]
        spans.append((f["due"], b.end))
        if t_start <= f["due"] < t_end:
            lat.append((b.end - f["due"]) * 1e3)
            wait.append((b.end - f["due"]) * 1e3 - b.duration_ms["triggerExecution"])
    backlog = max(
        sum(1 for due, end in spans if due <= t < end) for t, _ in spans
    )
    res.put("p50_ms", pct(lat, 50), "ms", len(lat))
    res.put("tail_ms", pct(lat, 90), "ms", len(lat))
    # one closed-loop client: polls per second at the median poll time
    res.put("throughput_per_s", 1.0 / pct(polls, 50), "1/s", len(polls))

    if not ctx.trace:
        return
    stream_phases(res, tracer, [b for b in log.data_batches() if t_start <= b.start < t_end],
                  "sources", "raw_landing")
    jobs = ledger.jobs_by_group()
    n_batches = len(log.data_batches())
    res.put("streaming.jobs_per_batch", jobs.get(run_id, 0) / n_batches, "count", n_batches)
    res.put("streaming.trigger_wait_ms_p50", pct(wait, 50), "ms", len(wait))
    res.put("streaming.backlog_files_max", backlog, "count", len(spans))
    res.put("raw_landing.files_per_batch",
            (_parquet_files(d["raw"]) - seeded_files) / n_batches, "count", n_batches)
    res.put("accounting.dead_ratio", totals["n_dead"] / totals["n_input"], "ratio",
            totals["n_input"])
    for key in steps:
        res.put(f"dashboard.{key}_ms_p50", pct(steps[key], 50) * 1e3, "ms", len(polls))
    res.put("dashboard.idle_poll_ms_p50", pct([t for t, _, _ in idle], 50) * 1e3, "ms",
            len(idle))
    res.put("dashboard.poll_ms_p50", pct(polls, 50) * 1e3, "ms", len(polls))
    res.put("dashboard.poll_ms_p90", pct(polls, 90) * 1e3, "ms", len(polls))
    res.put("dashboard.jobs_per_poll",
            sum(jobs.get(f"dash.{k}", 0) for k in steps) / len(polls), "count", len(polls))
    res.put("dashboard.bronze_files", _parquet_files(d["raw"]), "count")
    res.put("gen.late_ms_max", max((f["written"] - f["due"]) * 1e3 for f in files),
            "ms", len(files))

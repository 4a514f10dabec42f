"""``backfill``: the producer CLI draining a REST endpoint.

``scholar_stream_spark.__main__.main`` pulls 500-record pages from
``pageserver.py`` (its own single-threaded process) and lands them, one
page per micro-batch, as fast as it can: no trigger wait, so this measures
ingest capacity through ``sources.rest``, ``transforms`` and the landing
hook. The first ``WARM_BATCHES`` batches are set-up: as the JIT compiles
the hot paths, batch time falls by about a third over them and then levels
off (on 4 shared vCPUs: 570 -> 340 ms by batch 10, about 270 ms from batch
30 on). A window that starts inside that slope measures how far warm-up
got, and a slower host moves it further up the slope; the ingest capacity
of a long backfill is the level part. Pages stop being offered
``--seconds`` after the last warm batch ends; the worker log lists every
batch time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

from common import JobLedger, ProgressLog, Result, Tracer, pct, stream_phases
from records import rest_page

PER_PAGE = 500
MAX_PAGES = 150  # the warm batches plus about four times what 8 s drain today
WARM_BATCHES = 30  # set-up: the first batches run while the JIT warms up


def run(spark, ctx, res: Result, tracer: Tracer, ledger: JobLedger) -> None:
    from scholar_stream_spark.__main__ import main as producer_main

    raw = os.path.join(ctx.run_dir, "raw")
    errors = os.path.join(ctx.run_dir, "errors")
    deadline_file = os.path.join(ctx.run_dir, "deadline")
    server = subprocess.Popen(
        [sys.executable, os.path.join(ctx.bench_dir, "pageserver.py"),
         "--seed", str(ctx.seed), "--per-page", str(PER_PAGE),
         "--max-pages", str(MAX_PAGES), "--deadline-file", deadline_file],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    ctx.children.append(server)
    port = json.loads(server.stdout.readline())["port"]

    log = ProgressLog()

    def first_batch(b) -> None:
        # the warm-up batches are set-up; offer pages for --seconds more
        if b.batch_id == WARM_BATCHES - 1 and not os.path.exists(deadline_file):
            tmp = deadline_file + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(repr(b.end + ctx.seconds))
            os.rename(tmp, deadline_file)

    log.on_batch = first_batch
    spark.streams.addListener(log)
    rc = producer_main([
        "--url", f"http://127.0.0.1:{port}/works", "--mailto", "bench@example.org",
        "--per-page", str(PER_PAGE), "--raw-path", raw, "--errors-path", errors,
        "--checkpoint", os.path.join(ctx.run_dir, "ckpt"),
        "--master", f"local[{ctx.cpus}]",
    ])
    server_out, _ = server.communicate(input="", timeout=30)
    served = {json.loads(x)["page"] for x in server_out.splitlines() if x.strip()}
    if rc != 0 or len(served) < WARM_BATCHES + 3:
        raise RuntimeError(f"producer returned {rc} after {len(served)} pages")
    log.wait_for(len(served) - 1)  # one page per batch
    batches = log.data_batches()
    first, steady = batches[WARM_BATCHES - 1], batches[WARM_BATCHES:]
    res.put("setup_s", first.end - ctx.t0, "s")

    # checks: the landed ids are exactly the served ids, each once
    expected = {w["id"] for k in served for w in rest_page(ctx.seed, k, PER_PAGE)}
    got = [r["id"] for r in spark.read.parquet(raw)
           .select(F.get_json_object("payload", "$.id").alias("id")).collect()]
    res.check("backfill.landed_equals_served",
              len(got) == len(set(got)) and set(got) == expected)
    res.check("backfill.no_dead_letters", not os.path.exists(errors))
    res.attempted = len(served)
    res.failed = len(served) - len(batches)

    ms = [b.duration_ms["triggerExecution"] for b in steady]
    print("batch ms:", [b.duration_ms["triggerExecution"] for b in batches], file=ctx.log)
    rows = sum(b.rows for b in steady)
    res.put("p50_ms", pct(ms, 50), "ms", len(ms))
    res.put("tail_ms", pct(ms, 75), "ms", len(ms))
    res.put("throughput_per_s", rows / (steady[-1].end - first.end), "1/s", rows)

    if not ctx.trace:
        return
    stream_phases(res, tracer, steady, "sources", "raw_landing")
    jobs = ledger.jobs_by_group()
    stream_jobs = sum(n for g, n in jobs.items() if g and not g.startswith("bench."))
    res.put("streaming.jobs_per_batch", stream_jobs / len(batches), "count", len(batches))

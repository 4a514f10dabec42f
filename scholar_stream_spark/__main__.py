"""Runnable producer CLI — ``python -m scholar_stream_spark``.

Spark-native analog of the reference's producer entrypoint
(``ingestion/producer.py:32-49``): fetch cursor-paginated works from a
REST endpoint, validate/normalize them into the canonical envelope,
encode NDJSON, and land them in the bronze table — with the reference's
option surface (``--per-page``, ``--updated-since``, ``--max-pages``,
``--batch-size``, ``--batch-sleep``, ``--dry-run``), its legacy
``run`` argv alias (``producer.py:161-166``), its 1..500 batch-size
bound (``producer.py:66-69``), and its end-of-run summary table
(``producer.py:143-158`` → ``IngestAccounting.summary_lines``).

Delivery mapping: the reference buffers envelopes into Firehose
``PutRecordBatch`` calls; here the delivery batch IS the Structured
Streaming micro-batch — the REST source emits one API page per
micro-batch (the cursor is the checkpointed offset), and ``foreachBatch``
commits each page to parquet with delivery metadata, dead-lettering
unparseable lines. ``--batch-size`` therefore sets the page size the
source requests (one page == one committed batch); ``--per-page`` is
kept as the reference-compatible alias for the same knob and wins if
both are given.

Offline/hermetic runs: ``--fake-pages FILE`` loads a JSON file shaped
``[[{work}, ...], ...]`` (list of pages) and drives the source's fake
transport — no network, same pipeline. Example:

    python -m scholar_stream_spark --fake-pages pages.json --dry-run
    python -m scholar_stream_spark --fake-pages pages.json \
        --raw-path /tmp/raw --errors-path /tmp/errs
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

from scholar_stream_spark.sources.rest import MAX_PER_PAGE
from scholar_stream_spark.plans.hybrid import driver_rows_df

DEFAULT_BATCH_SIZE = 50


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m scholar_stream_spark",
        description="Paginated REST -> envelope -> NDJSON -> bronze landing",
    )
    p.add_argument("--url", help="REST endpoint (OpenAlex /works shape)")
    p.add_argument(
        "--mailto", default=None,
        help="Contact email for the API politeness pool (required with "
        "--url; falls back to $OPENALEX_EMAIL like the reference config)",
    )
    p.add_argument(
        "--query-params", default=None,
        help='JSON object of freeform API filters forwarded verbatim, '
        'e.g. \'{"filter": "is_oa:true"}\'',
    )
    p.add_argument(
        "--fake-pages",
        help="JSON file of scripted pages ([[work,...],...]) — offline run",
    )
    p.add_argument(
        "--per-page", type=int, default=None,
        help=f"API page size == delivery batch size (1..{MAX_PER_PAGE})",
    )
    p.add_argument(
        "--batch-size", type=int, default=None,
        help="Alias of --per-page (reference Firehose batch knob); "
        "--per-page wins if both given",
    )
    p.add_argument(
        "--updated-since", default=None,
        help="Incremental pull: only works updated since YYYY-MM-DD",
    )
    p.add_argument(
        "--max-pages", type=int, default=None, help="Stop after N pages"
    )
    p.add_argument(
        "--batch-sleep", type=float, default=0.0,
        help="Sleep between API pages (seconds)",
    )
    p.add_argument(
        "--dry-run", action="store_true",
        help="Fetch + transform + count, write nothing",
    )
    p.add_argument("--raw-path", help="Bronze table path (parquet)")
    p.add_argument("--errors-path", help="Dead-letter path (parquet)")
    p.add_argument(
        "--checkpoint", default=None,
        help="Stream checkpoint dir (default: fresh temp dir)",
    )
    p.add_argument("--master", default="local[4]", help="Spark master")
    return p


def _effective_batch_size(args) -> int:
    size = (
        args.per_page
        if args.per_page is not None
        else (args.batch_size if args.batch_size is not None else DEFAULT_BATCH_SIZE)
    )
    if not 1 <= size <= MAX_PER_PAGE:
        raise SystemExit(
            f"batch size must be between 1 and {MAX_PER_PAGE}, got {size}"
        )
    return size


def _source_options(args, batch_size: int) -> dict[str, str]:
    opts: dict[str, str] = {
        "per_page": str(batch_size),
        "sleep_seconds": str(args.batch_sleep),
    }
    if args.updated_since:
        opts["updated_since"] = args.updated_since
    if args.max_pages is not None:
        opts["max_pages"] = str(args.max_pages)
    if args.fake_pages:
        with open(args.fake_pages, encoding="utf-8") as f:
            opts["transport"] = "fake"
            opts["fake_pages"] = json.dumps(json.load(f))
    elif args.url:
        opts["url"] = args.url
        mailto = args.mailto or os.environ.get("OPENALEX_EMAIL")
        if not mailto:
            # same hard requirement (and env fallback) as the reference
            # config: ingestion/openalex_client.py:14-20
            raise SystemExit(
                "OpenAlex requires a contact email (mailto). "
                "Pass --mailto or set OPENALEX_EMAIL."
            )
        opts["mailto"] = mailto
        if args.query_params:
            opts["query_params"] = args.query_params
    else:
        raise SystemExit("one of --url or --fake-pages is required")
    return opts


def _wire(stream_or_batch_df):
    """raw value lines -> validated -> envelope -> NDJSON value lines."""
    from scholar_stream_spark.operators.transforms import (
        derive_envelope,
        to_ndjson,
        validate_works,
    )

    return to_ndjson(derive_envelope(validate_works(stream_or_batch_df)))


def _report_parser() -> argparse.ArgumentParser:
    from scholar_stream_spark.app.dashboard import DEFAULT_LIMIT

    p = argparse.ArgumentParser(
        prog="python -m scholar_stream_spark report",
        description="Poll the curated views and print KPI tiles + "
        "recent works (the reference dashboard's read path, headless)",
    )
    p.add_argument("--raw-path", required=True, help="Bronze table path")
    p.add_argument(
        "--role", default="R_ANALYST",
        help="Catalog role (allowlisted; analysts see masked emails)",
    )
    p.add_argument(
        "--limit", type=int, default=DEFAULT_LIMIT,
        help="Recent rows to show (clamped to 10..500 like the UI slider)",
    )
    p.add_argument(
        "--watch-seconds", type=float, default=None,
        help="Re-poll every N seconds (default: print once and exit — "
        "the reference's manual refresh button)",
    )
    p.add_argument(
        "--max-polls", type=int, default=None,
        help="With --watch-seconds: stop after N polls (default: forever)",
    )
    p.add_argument("--master", default="local[4]", help="Spark master")
    return p


def _read_raw_or_empty(spark, path: str):
    """The bronze path may not exist yet — exactly the state the
    dashboard's 'Start the producer to see metrics' message targets, so
    it must render the empty state, never traceback (and a watch loop
    must survive the producer starting later)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        if any(
            code in cond or code in str(exc)
            for code in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
        ):
            return driver_rows_df(spark,
                [], "payload string, metadata string"
            )
        raise


def _report_main(argv: list[str]) -> int:
    import time as _time

    from scholar_stream_spark.app.dashboard import render_report
    from scholar_stream_spark.plans.catalog import init_catalog
    from scholar_stream_spark.session import get_spark

    args = _report_parser().parse_args(argv)
    spark = get_spark(master=args.master)
    polls = 0
    while True:
        # re-read per poll: the parquet file listing is cached at read
        # time, so a fresh read is what picks up newly landed batches
        raw = _read_raw_or_empty(spark, args.raw_path)
        init_catalog(spark, raw, role=args.role)
        print(render_report(spark, limit=args.limit))
        polls += 1
        if args.watch_seconds is None or (
            args.max_polls is not None and polls >= args.max_polls
        ):
            return 0
        _time.sleep(args.watch_seconds)


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and argv[0] == "report":
        return _report_main(argv[1:])
    if argv and argv[0] == "run":  # legacy alias, reference producer.py:161
        argv = argv[1:]
    args = _build_parser().parse_args(argv)
    batch_size = _effective_batch_size(args)
    if not args.dry_run and not args.raw_path:
        raise SystemExit("--raw-path is required unless --dry-run")

    from scholar_stream_spark import get_spark
    from scholar_stream_spark.sources import rest
    from scholar_stream_spark.streaming.accounting import IngestAccounting
    from scholar_stream_spark.streaming.pipeline import landing_hook

    spark = get_spark(
        app_name="scholar-stream-producer",
        master=args.master,
        shuffle_partitions=4,
    )
    rest.register(spark)
    opts = _source_options(args, batch_size)
    print(
        f"Producer starting | per_page={batch_size} "
        f"| sleep={args.batch_sleep}s | dry_run={args.dry_run}"
    )

    if args.dry_run:
        lines = (
            spark.read.format("paginated_rest").options(**opts).load()
        )
        n = _wire(lines).count()
        print(f"Dry-run: would send {n} records")
        return 0

    acct = IngestAccounting()
    stream = spark.readStream.format("paginated_rest").options(**opts).load()
    wire = _wire(stream)

    checkpoint = args.checkpoint or tempfile.mkdtemp(prefix="producer-ckpt-")
    # Python micro-batch sources don't support Trigger.AvailableNow (it
    # silently degrades to ONE batch); drain the cursor explicitly —
    # processAllAvailable blocks until the source stops advancing its
    # offset, i.e. the paginated pull is exhausted.
    q = (
        wire.writeStream.foreachBatch(
            landing_hook(args.raw_path, errors_path=args.errors_path, accounting=acct)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    print("Producer summary")
    for line in acct.summary_lines():
        print(f"  {line}")
    if acct.had_failures():
        print(
            "Some records failed; inspect the dead-letter path "
            f"({args.errors_path or 'not configured'})."
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Streaming ingest pipeline (SURVEY.md §2.6, S5-S7 streaming analog).

The reference's operational pipeline is: producer batches → Firehose
buffering → micro-batch commit into the RAW table with delivery
metadata; failures dead-letter to S3 for replay
(``ingestion/producer.py:99-109``, ``infra/main.tf:146-200``).

Spark-native: a file-watch NDJSON source → ``foreachBatch`` that stamps
delivery metadata (IngestionTime = commit time, batch_id) and appends
``(payload, metadata, land_date)`` parquet plus the typed curated
columns, dead-lettering unparseable lines. ``landing_hook`` is that
``foreachBatch`` function; the producer CLI lands its REST pages with it
too. ``foreachBatch`` + append-only files gives at-least-once delivery
with exactly-once file commits per batch via the checkpoint — the same
guarantee class as Firehose→Snowflake, but replayable from the
checkpoint instead of an S3 error prefix.

Trigger presets mirror the reference's two buffering profiles
(``README.md:295-304``): ``demo`` commits every 2 s (low latency, more
small files), ``dev`` every 10 s (bigger commits). ``available_now``
drains everything once — the deterministic mode used by tests and
backfills.

Scale notes: each micro-batch coalesces to a bounded number of output
files (small-file mitigation — the Firehose buffer-size trade-off in
Spark terms); the raw table is partitioned by ``land_date`` so
downstream curated scans prune, and compaction can run per-day.
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from scholar_stream_spark.sources.raw_landing import land_batch
from scholar_stream_spark.streaming.accounting import (
    IngestAccounting,
    append_metrics,
)

TRIGGER_PRESETS = {
    "demo": {"processingTime": "2 seconds"},
    "dev": {"processingTime": "10 seconds"},
    "available_now": {"availableNow": True},
}


def landing_hook(
    raw_path: str,
    errors_path: str | None = None,
    errors_layout: str = "date_partition",
    output_files_per_batch: int = 4,
    accounting: IngestAccounting | None = None,
    metrics_path: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function that lands each micro-batch.

    Each batch goes through ``land_batch`` under a fresh
    ``f"{batch_id}-{uuid}"`` delivery id. A batch without dead letters is
    one job: the good write, whose observation gives the counts.
    ``accounting`` records every batch (input/landed/dead counts and error
    samples); ``metrics_path`` also appends each batch's metrics row as
    parquet, with a private recorder when no ``accounting`` is given.
    """
    if accounting is None and metrics_path is not None:
        accounting = IngestAccounting()

    def land(batch_df: DataFrame, batch_id: int) -> None:
        # the dead-letter jobs re-read the batch: persist so the source
        # is read once
        batch_df.persist()
        try:
            # the landing plan is narrow: coalescing its input bounds the
            # batch's output files
            n_input, n_dead, samples = land_batch(
                batch_df.coalesce(output_files_per_batch),
                raw_path,
                errors_path=errors_path,
                batch_id=f"{batch_id}-{uuid.uuid4()}",
                errors_layout=errors_layout,
                max_error_samples=accounting.max_error_samples if accounting else 0,
            )
            if accounting is not None:
                m = accounting.record(
                    batch_id=f"{batch_id}",
                    batch_seq=batch_id,
                    n_input=n_input,
                    n_dead=n_dead,
                    error_samples=samples,
                )
                if metrics_path is not None:
                    append_metrics(batch_df.sparkSession, metrics_path, m)
        finally:
            batch_df.unpersist()

    return land


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    raw_path: str,
    checkpoint_path: str,
    errors_path: str | None = None,
    errors_layout: str = "date_partition",
    trigger: str = "available_now",
    max_files_per_trigger: int | None = None,
    output_files_per_batch: int = 4,
    accounting: IngestAccounting | None = None,
    metrics_path: str | None = None,
) -> StreamingQuery:
    """Watch ``input_dir`` for NDJSON files and land them continuously.

    Returns the running StreamingQuery; callers stop it or await
    termination. ``max_files_per_trigger`` is the micro-batching knob
    (count-based batching parity with the producer's ``batch_size``).

    Pass an ``IngestAccounting`` to get per-batch input/landed/dead
    counters + error samples (the reference's FailedPutCount surface,
    ``ingestion/producer.py:143-158``); ``metrics_path`` additionally
    appends each batch's metrics row as parquet for SQL monitoring.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    lines = reader.load(input_dir)
    land = landing_hook(
        raw_path,
        errors_path=errors_path,
        errors_layout=errors_layout,
        output_files_per_batch=output_files_per_batch,
        accounting=accounting,
        metrics_path=metrics_path,
    )
    writer = (
        lines.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**TRIGGER_PRESETS[trigger])
    )
    return writer.start()

"""Per-batch ingest accounting (SURVEY.md §2.6 failure accounting).

The reference producer tracks delivery outcomes operationally: it reads
``FailedPutCount`` off every sink response, keeps running total/failed
counters, prints the first few error samples, and renders a summary
table at the end (reference ``ingestion/producer.py:112-121,143-158``).
Without that surface, degraded ingestion is silent.

Spark analog: a driver-side ``IngestAccounting`` recorder fed by the
``foreachBatch`` landing hook — per micro-batch it records input /
landed / dead-lettered counts plus up to ``max_error_samples`` verbatim
bad payloads. The recorder is queryable three ways:

- ``totals()``       — running counters (the reference's end summary)
- ``summary_lines()``— human-readable per-batch table
- ``to_df(spark)``   — a metrics DataFrame for SQL over the history

Optionally every batch's row is also appended to ``metrics_path`` as
parquet, so metrics survive the driver and can be watched by a separate
session — the pattern that scales to a real cluster where the driver
writing a few bytes per micro-batch is noise.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener
from scholar_stream_spark.plans.hybrid import driver_rows_df

METRICS_SCHEMA = (
    "batch_id string, batch_seq long, n_input long, n_landed long, "
    "n_dead long, error_samples array<string>, recorded_at timestamp"
)


@dataclass
class BatchMetrics:
    batch_id: str
    batch_seq: int
    n_input: int
    n_landed: int
    n_dead: int
    error_samples: list[str]
    recorded_at: datetime


@dataclass
class IngestAccounting:
    """Running per-batch delivery accounting for one ingest stream."""

    max_error_samples: int = 3
    batches: list[BatchMetrics] = field(default_factory=list)

    def record(
        self,
        batch_id: str,
        batch_seq: int,
        n_input: int,
        n_dead: int,
        error_samples: list[str] | None = None,
    ) -> BatchMetrics:
        m = BatchMetrics(
            batch_id=batch_id,
            batch_seq=batch_seq,
            n_input=n_input,
            n_landed=n_input - n_dead,
            n_dead=n_dead,
            error_samples=list(error_samples or [])[: self.max_error_samples],
            recorded_at=datetime.now(timezone.utc),
        )
        self.batches.append(m)
        return m

    def totals(self) -> dict[str, int]:
        return {
            "n_batches": len(self.batches),
            "n_input": sum(b.n_input for b in self.batches),
            "n_landed": sum(b.n_landed for b in self.batches),
            "n_dead": sum(b.n_dead for b in self.batches),
        }

    def had_failures(self) -> bool:
        return any(b.n_dead for b in self.batches)

    def summary_lines(self) -> list[str]:
        """The reference's summary table, one line per batch + a total."""
        lines = [
            f"batch {b.batch_seq} ({b.batch_id}): "
            f"input={b.n_input} landed={b.n_landed} dead={b.n_dead}"
            + (f" samples={b.error_samples!r}" if b.error_samples else "")
            for b in self.batches
        ]
        t = self.totals()
        lines.append(
            f"TOTAL: batches={t['n_batches']} input={t['n_input']} "
            f"landed={t['n_landed']} dead={t['n_dead']}"
            + (" (had failures)" if self.had_failures() else "")
        )
        return lines

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (
                b.batch_id,
                b.batch_seq,
                b.n_input,
                b.n_landed,
                b.n_dead,
                b.error_samples,
                b.recorded_at,
            )
            for b in self.batches
        ]
        return driver_rows_df(spark, rows, METRICS_SCHEMA)


def append_metrics(
    spark: SparkSession, metrics_path: str, m: BatchMetrics
) -> None:
    """Append one batch's metrics row to the durable metrics table."""
    driver_rows_df(spark,
        [
            (
                m.batch_id,
                m.batch_seq,
                m.n_input,
                m.n_landed,
                m.n_dead,
                m.error_samples,
                m.recorded_at,
            )
        ],
        METRICS_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(metrics_path)


def read_metrics(spark: SparkSession, metrics_path: str) -> DataFrame:
    return spark.read.schema(METRICS_SCHEMA).parquet(metrics_path)


class ProgressListener(StreamingQueryListener):
    """Engine-level streaming observability via ``StreamingQueryListener``
    — the second half of failure accounting: ``IngestAccounting`` counts
    what the foreachBatch hook SAW; the listener reports what the engine
    DID (batch durations, input/processed rates, state-store sizes),
    catching degradations the application layer can't observe (e.g. a
    stalled source that never reaches foreachBatch).

    Attach with ``spark.streams.addListener(ProgressListener())``;
    ``to_df(spark)`` exposes the captured progress as a queryable
    metrics DataFrame, mirroring ``IngestAccounting.to_df``.
    """

    PROGRESS_SCHEMA = (
        "query_id string, batch_seq long, num_input_rows long, "
        "input_rows_per_second double, process_rows_per_second double, "
        "batch_duration_ms long, ts string"
    )

    def __init__(self) -> None:
        super().__init__()
        self.progress: list[tuple] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.progress.append(
            (
                str(p.id),
                int(p.batchId),
                int(p.numInputRows),
                float(p.inputRowsPerSecond or 0.0),
                float(p.processedRowsPerSecond or 0.0),
                int((p.durationMs or {}).get("triggerExecution", 0)),
                str(p.timestamp),
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def to_df(self, spark: SparkSession) -> DataFrame:
        return driver_rows_df(spark, self.progress, self.PROGRESS_SCHEMA)

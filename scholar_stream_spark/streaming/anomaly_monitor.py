"""Streaming traffic-anomaly monitor: event stream → incremental
hourly counts → rate z-screen alerts (SURVEY §2.8, the streaming face
of ``relational.event_rate_anomalies``).

The batch operator answers "which (type, hour) buckets were anomalous
in this table"; this module keeps that screen running against a live
event stream. Each micro-batch lands its OWN (type, hour) partial
counts under ``batch=<id>`` (overwrite — the dedup-ingest idempotence
discipline, so at-least-once redelivery rewrites rather than
double-counts), and the alert table is re-derived per batch by summing
the partials into true hourly totals and applying the SAME z-screen
the batch operator uses (``rate_anomalies_from_hourly`` — one
definition, so streamed and batch verdicts cannot drift).

Scale shape: a micro-batch's partial-count write is batch-sized; the
accumulated counts table is (types × hours × batches)-sized — bounded
by TIME, not traffic — and its re-aggregation + screen is arithmetic
on that tiny table, making full alert refresh per batch cheap and
deterministic (the alert table is a pure function of the counts state,
which is what makes replay a no-op). ``compact_monitor_counts`` folds
old ``batch=`` partials into consolidated hourly rows — the
``compact_fingerprint_index`` pattern — keeping the tail batch intact
for replay self-exclusion.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from scholar_stream_spark.operators.relational import (
    RATE_Z_THRESHOLD,
    rate_anomalies_from_hourly,
)
from scholar_stream_spark.plans.hybrid import driver_rows_df

_COUNTS_SCHEMA = "event_type string, hour timestamp, n_events long"
_EMPTY_ERRORS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def read_hourly_counts(
    spark: SparkSession, counts_path: str, exclude_batch: int | None = None
) -> DataFrame:
    """Accumulated per-batch partial counts, summed to true hourly
    totals (empty before the first batch lands). Same self-exclusion
    rule as the dedup ingest's index read: a replayed batch must not
    see its own partial or it would double-count itself."""
    try:
        df = spark.read.option("basePath", counts_path).parquet(counts_path)
    except AnalysisException as exc:
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        if any(code in cond or code in str(exc) for code in _EMPTY_ERRORS):
            return driver_rows_df(spark, [], _COUNTS_SCHEMA)
        raise
    if exclude_batch is not None:
        df = df.filter(F.col("batch") != exclude_batch)
    return df.groupBy("event_type", "hour").agg(
        F.sum("n_events").cast("long").alias("n_events")
    )


def monitor_batch(
    batch_df: DataFrame,
    batch_id: int,
    counts_path: str,
    alerts_path: str,
    z_threshold: float = RATE_Z_THRESHOLD,
) -> None:
    """Land one micro-batch: write its (type, hour) partial counts
    under ``batch=<id>`` (idempotent overwrite), then refresh the
    alert table from the WHOLE counts state with the shared batch
    screen. Alerts are a full overwrite — they are a pure function of
    the counts state, so a replay recomputes the identical table."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    partial = batch_df.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    partial.write.mode("overwrite").parquet(
        os.path.join(counts_path, f"batch={batch_id}")
    )
    hourly = read_hourly_counts(
        spark, counts_path, exclude_batch=batch_id
    ).unionByName(partial).groupBy("event_type", "hour").agg(
        F.sum("n_events").cast("long").alias("n_events")
    )
    rate_anomalies_from_hourly(hourly, z_threshold).write.mode(
        "overwrite"
    ).parquet(alerts_path)


def compact_monitor_counts(
    spark: SparkSession,
    counts_path: str,
    out_path: str,
    keep_last: int = 1,
) -> None:
    """Fold accreted ``batch=<id>`` partial-count dirs into ONE
    consolidated partial per folded range — the counts-state analog of
    ``compact_fingerprint_index``: the monitor's state is bounded by
    (types × hours × batches), and compaction drops the ×batches
    factor back to (types × hours) so a long-running monitor's
    per-batch refresh never pays for its history in file listings.

    The newest ``keep_last`` batch dirs are copied through UNCHANGED
    under their own ids: the only batch Structured Streaming can
    legitimately replay is the uncommitted tail, and replay relies on
    self-exclusion by batch id — so the tail must keep its identity.
    Folded batches are strictly older (checkpoint-committed, never
    replayed again); their sum lands under the LARGEST folded id,
    which keeps the layout a valid input to ``read_hourly_counts``
    with identical totals (pinned in tests). Like the fingerprint
    compactor: compact to a NEW path and swap atomically; compacting
    batches the checkpoint hasn't committed past is the caller's race.
    """
    df = spark.read.option("basePath", counts_path).parquet(counts_path)
    ids = sorted(
        int(r["batch"]) for r in df.select("batch").distinct().collect()
    )
    kept = set(ids[len(ids) - keep_last :]) if keep_last > 0 else set()
    folded = [b for b in ids if b not in kept]
    if folded:
        df.filter(F.col("batch").isin(folded)).groupBy(
            "event_type", "hour"
        ).agg(F.sum("n_events").cast("long").alias("n_events")).coalesce(
            1
        ).write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch={max(folded)}")
        )
    for b in kept:
        df.filter(F.col("batch") == b).drop("batch").write.mode(
            "overwrite"
        ).parquet(os.path.join(out_path, f"batch={b}"))


def start_anomaly_monitor(
    events_stream: DataFrame,
    counts_path: str,
    alerts_path: str,
    checkpoint_path: str,
    z_threshold: float = RATE_Z_THRESHOLD,
    trigger_available_now: bool = False,
    watermark_monitor=None,
) -> StreamingQuery:
    """Run the rate-anomaly monitor against an event stream
    (``event_type``, ``ts``, + payload columns).

    ``watermark_monitor``: an optional
    ``streaming.latency.WatermarkResizeMonitor`` observed per landed
    micro-batch — the production topology for watermark re-sizing:
    the RAW ``foreachBatch`` landing (this query) measures disorder
    continuously, and when the measurement outgrows the configured
    delay, the watermark-DEPENDENT sibling query
    (``streaming_latency_kpis``) restarts with
    ``monitor.recommended_delay`` (exactly-once from its checkpoint).
    Default the monitor keys disorder by ``event_type`` via its
    ``key_col`` mapping (this wire carries no user column; the
    recommendation maxes over keys either way)."""

    if watermark_monitor is not None:
        # fail at wire time, not inside foreachBatch on the first
        # check batch (which would kill the running stream)
        watermark_monitor.validate_columns(events_stream.columns)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        monitor_batch(
            batch_df, batch_id, counts_path, alerts_path, z_threshold
        )
        if watermark_monitor is not None:
            watermark_monitor.observe(batch_df, batch_id)

    writer = events_stream.writeStream.foreachBatch(land).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Bronze landing: payload + delivery metadata, with a dead-letter path.

Spark analog of the reference's managed Firehose → RAW table hop
(S6/S7): Firehose writes the record to ``RECORD`` and stamps delivery
metadata (incl. ``IngestionTime``) into ``RECORD_METADATA``
(``infra/main.tf:146-200``); failed deliveries are dead-lettered under an
``errors/`` prefix (``infra/main.tf:178-193``).

Here a *landing batch* is: take NDJSON lines, attach a metadata JSON
column (IngestionTime = commit wall-clock, batch_id = uuid-per-batch),
append to the raw table path as parquet. Records that are not even
parseable JSON objects go to the dead-letter path instead of the table —
landing stays schema-agnostic: any valid JSON lands, and payload and
metadata are kept verbatim.

Next to them, each good row carries the typed columns of
``operators.views.shred``, computed from the same ``try_parse_json``
value the dead-letter probe needs, inside the write job that already
runs. The curated views then scan columns instead of re-parsing every
payload on every read; they still apply masking and the query clock at
read time. Dead letters keep only ``(payload, metadata, land_date)``.

At scale: the landing write is append-only and partitioned by landing
date (``land_date``), so curated-view scans over recent windows prune
partitions, and compaction/retention can work per-day.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from scholar_stream_spark.operators.views import shred


def with_delivery_metadata(lines: DataFrame, batch_id: str | None = None) -> DataFrame:
    """Wrap raw NDJSON lines as (payload, metadata, land_date) rows."""
    if batch_id is None:
        batch_id = str(uuid.uuid4())
    ingestion_time = F.date_format(
        F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"
    )
    metadata = F.to_json(
        F.struct(
            ingestion_time.alias("IngestionTime"),
            F.lit(batch_id).alias("batch_id"),
        )
    )
    return lines.select(
        F.col(lines.columns[0]).alias("payload"),
        metadata.alias("metadata"),
        F.current_date().alias("land_date"),
    )


def split_dead_letters(
    landing: DataFrame,
) -> tuple[DataFrame, DataFrame, Observation]:
    """Partition a landing batch into (good, dead) by JSON well-formedness.

    A payload is landable iff it parses as JSON — probed with Spark 4's
    ``try_parse_json`` (NULL on malformed, never an error). Mirrors
    Firehose's FailedDataOnly dead-letter contract: bad bytes are
    preserved verbatim for replay, never dropped.

    Good rows gain the typed columns of ``shred``, taken from the probe's
    parsed value. The returned ``Observation`` holds ``n_input`` and
    ``n_dead`` once an action has run on ``good``; the observation also
    keeps the optimizer from pushing the probe filter below the parse, so
    each payload is parsed once.
    """
    obs = Observation()
    parsed = landing.withColumn("_v", F.try_parse_json(F.col("payload")))
    observed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.count_if(F.col("_v").isNull()).alias("n_dead"),
    )
    typed = shred("_v", "try_parse_json(metadata)")
    good = observed.filter(F.col("_v").isNotNull()).selectExpr(
        *landing.columns, *[f"{expr} AS {name}" for name, expr in typed.items()]
    )
    dead = parsed.filter(F.col("_v").isNull()).select(*landing.columns)
    return good, dead, obs


def compact_raw(spark, raw_path: str) -> int:
    """Compact the bronze table's small files (S6 maintenance analog).

    Frequent triggers produce many small parquet files — the Spark-side
    mirror of the Firehose buffer-size trade-off the reference documents
    (``README.md:295-304``). Rewrites the table so each ``land_date``
    partition holds ONE file (``repartition`` by the partition column:
    every date's rows land in a single task, and the partitioned writer
    emits one file per date per task). Returns the row count (verified
    equal before the directory swap).

    NOT concurrent-safe: run it while the ingest stream is stopped (or
    on a quiesced day partition). The durable answer at scale is a table
    format with transactional compaction (Delta/Iceberg OPTIMIZE); this
    is the honest file-based analog for the plain-parquet bronze path.
    """
    import shutil

    df = spark.read.parquet(raw_path)
    n_before = df.count()
    tmp = raw_path.rstrip("/") + "__compacting"
    (
        df.repartition("land_date")
        .write.mode("overwrite")
        .partitionBy("land_date")
        .parquet(tmp)
    )
    n_after = spark.read.parquet(tmp).count()
    if n_after != n_before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row mismatch: {n_before} -> {n_after}; aborted"
        )
    backup = raw_path.rstrip("/") + "__precompact"
    shutil.move(raw_path, backup)
    shutil.move(tmp, raw_path)
    shutil.rmtree(backup, ignore_errors=True)
    return n_after


def write_dead_letters(
    dead: DataFrame, errors_path: str, layout: str = "date_partition"
) -> None:
    """Persist a dead-letter batch for replay.

    - ``"date_partition"`` (default): parquet partitioned by
      ``land_date`` — keeps the delivery metadata columns and is directly
      SQL-queryable alongside the bronze table.
    - ``"firehose"``: GZIP NDJSON under ``errors/yyyy/MM/dd/`` — byte
      parity with the reference's Firehose FailedDataOnly backup
      (``infra/main.tf:178-193``: ``prefix errors/!{timestamp:yyyy/MM/dd}/``,
      ``compression_format GZIP``): one payload line per record, original
      bytes preserved verbatim.

    Retry-window note: Firehose retries delivery for a bounded window
    (300 s) before dead-lettering; here delivery IS the checkpointed
    micro-batch commit, which Structured Streaming retries until it
    succeeds — strictly stronger. The dead-letter path therefore carries
    only *unparseable payloads* (Firehose's data-format failures), never
    transient delivery failures.
    """
    if layout == "firehose":
        # ≤ a handful of distinct dates per micro-batch (usually one):
        # a bounded driver loop, each date one gzip text write.
        for (d,) in dead.select("land_date").distinct().collect():
            (
                dead.filter(F.col("land_date") == F.lit(d))
                .select("payload")
                .write.mode("append")
                .option("compression", "gzip")
                .text(f"{errors_path.rstrip('/')}/{d.strftime('%Y/%m/%d')}")
            )
    elif layout == "date_partition":
        dead.write.mode("append").partitionBy("land_date").parquet(errors_path)
    else:
        raise ValueError(f"unknown dead-letter layout: {layout!r}")


def land_batch(
    lines: DataFrame,
    raw_path: str,
    errors_path: str | None = None,
    batch_id: str | None = None,
    errors_layout: str = "date_partition",
    max_error_samples: int = 0,
) -> tuple[int, int, list[str]]:
    """Append one batch of NDJSON lines to the bronze table (parquet,
    partitioned by land_date); unparseable lines → dead-letter path.

    Returns ``(n_input, n_dead, error_samples)``: the counts come from one
    observation on the good write, and only a batch with dead letters
    runs more jobs (up to ``max_error_samples`` verbatim payloads, then
    the dead-letter write). The dead rows are recomputed from ``lines``,
    so a streaming caller persists its batch first.
    """
    landing = with_delivery_metadata(lines, batch_id=batch_id)
    good, dead, obs = split_dead_letters(landing)
    good.write.mode("append").partitionBy("land_date").parquet(raw_path)
    counts = obs.get
    n_input, n_dead = counts["n_input"], counts["n_dead"]
    samples: list[str] = []
    if n_dead:
        if max_error_samples:
            samples = [
                r["payload"] for r in dead.limit(max_error_samples).collect()
            ]
        if errors_path is not None:
            write_dead_letters(dead.coalesce(1), errors_path, layout=errors_layout)
    return n_input, n_dead, samples

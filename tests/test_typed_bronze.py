"""Typed bronze: the curated columns written at landing read back exactly
as the parse path computes them from the verbatim payload and metadata.

Every landing path (``land_batch``, the ``start_ingest`` hook, the
producer CLI) writes the typed columns of ``views.shred`` next to
``payload``/``metadata``; ``build_vw_works`` projects them instead of
re-parsing. These tests pin that the shortcut is invisible: same
``vw_works``, ``vw_latency`` and ``recent_works`` rows as the parse path,
for a privileged and a masked role, on a pinned clock — and on a
directory that mixes files landed with and without the typed columns.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.app.dashboard import latency_tiles, recent_works
from scholar_stream_spark.plans.catalog import init_catalog
from scholar_stream_spark.sources.raw_landing import land_batch

from tests.conftest import EDGE_WORKS, make_raw_events

BAD_LINE = "{not json at all"
ROLES = ("R_TRANSFORM", "R_ANALYST")


def _iso(ts: datetime, sep: str = "T") -> str:
    return ts.strftime(f"%Y-%m-%d{sep}%H:%M:%S.%f+00:00")


def _envelope_lines(spark) -> list[str]:
    """Wire lines with the FIXTURES §1/§2 edge cases: the raw_events
    fixture payloads (string and garbage years, an @-less email, a
    malformed event_ts), nested source records, fresh rows inside the
    5-minute window in both timestamp shapes, and one unparseable line."""
    fresh = datetime.now(timezone.utc)
    lines = [r["payload"] for r in make_raw_events(spark).collect()]
    lines += [json.dumps(w) for w in EDGE_WORKS]
    lines += [
        json.dumps({"id": "F1", "event_ts": _iso(fresh - timedelta(seconds=30)),
                    "email": "fresh@ex.com", "publication_year": 2021}),
        json.dumps({"id": "F2", "event_ts": _iso(fresh - timedelta(seconds=9), " "),
                    "ingest_ts": _iso(fresh), "publication_year": "1999"}),
        json.dumps({"id": "F3", "event_ts": "not a time", "email": "no-at"}),
        BAD_LINE,
    ]
    return lines


def _now_col():
    """A pinned clock just after landing, so the window holds fresh rows."""
    later = datetime.now(timezone.utc) + timedelta(minutes=1)
    return F.to_timestamp(F.lit(later.strftime("%Y-%m-%d %H:%M:%S")))


def _dashboard(spark, raw, role: str, now) -> tuple:
    views = init_catalog(spark, raw, role=role, now=now)
    works = sorted(
        (tuple(r) for r in views["vw_works"].collect()), key=repr
    )
    latency = [tuple(r) for r in views["vw_latency"].collect()]
    # every row (the limit exceeds them), sorted: one batch shares one
    # landed time, so the order among ties is not defined
    recent = sorted(
        (tuple(r) for r in recent_works(spark, 500).collect()), key=repr
    )
    return works, latency, latency_tiles(spark), recent


def _assert_typed_equals_parse_path(spark, raw_path: str) -> None:
    bronze = spark.read.parquet(raw_path)
    assert "ingestion_time" in bronze.columns  # typed landing happened
    now = _now_col()
    for role in ROLES:
        typed = _dashboard(spark, bronze, role, now)
        parsed = _dashboard(
            spark, bronze.select("payload", "metadata"), role, now
        )
        assert typed == parsed, role
        assert typed[2] is not None and typed[2]["samples"] > 0, role


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def test_land_batch_typed_bronze_equals_parse_path(spark, tmp_path):
    raw = str(tmp_path / "raw")
    lines = spark.createDataFrame([(x,) for x in _envelope_lines(spark)], ["value"])
    land_batch(lines, raw, errors_path=str(tmp_path / "errors"))
    _assert_typed_equals_parse_path(spark, raw)


def test_start_ingest_typed_bronze_equals_parse_path(spark, tmp_path):
    from scholar_stream_spark.streaming.pipeline import start_ingest

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    _write_lines(str(inbox / "b0.ndjson"), _envelope_lines(spark))
    raw = str(tmp_path / "raw")
    q = start_ingest(
        spark, str(inbox), raw, str(tmp_path / "ckpt"),
        errors_path=str(tmp_path / "errors"), trigger="available_now",
    )
    q.awaitTermination(120)
    _assert_typed_equals_parse_path(spark, raw)


def test_producer_typed_bronze_equals_parse_path(spark, tmp_path):
    from scholar_stream_spark.__main__ import main

    pages = tmp_path / "pages.json"
    pages.write_text(json.dumps([EDGE_WORKS[:3], EDGE_WORKS[3:]]))
    raw = str(tmp_path / "raw")
    rc = main([
        "--fake-pages", str(pages), "--raw-path", raw,
        "--checkpoint", str(tmp_path / "ckpt"), "--batch-size", "3",
    ])
    assert rc == 0
    _assert_typed_equals_parse_path(spark, raw)


@pytest.mark.parametrize("footer", ["old", "new"])
def test_mixed_layout_directory_equals_parse_path(spark, tmp_path, footer):
    """Files landed before the typed columns (here: the raw_events
    fixture, with rows lacking metadata) next to typed files. Reading the
    directory takes its schema from one footer; with either footer's
    schema the views equal the parse path over payload/metadata."""
    raw = str(tmp_path / "raw")
    make_raw_events(spark).withColumn("land_date", F.current_date()).write \
        .partitionBy("land_date").parquet(raw)
    old_schema = spark.read.parquet(raw).schema
    lines = spark.createDataFrame([(x,) for x in _envelope_lines(spark)], ["value"])
    land_batch(lines, raw)
    new_files = [
        f for f in spark.read.parquet(raw).inputFiles()
        if "ingestion_time" in spark.read.parquet(f).columns
    ]
    new_schema = spark.read.parquet(new_files[0]).schema.add(
        "land_date", "date"
    )
    schema = old_schema if footer == "old" else new_schema
    bronze = spark.read.schema(schema).parquet(raw)
    assert bronze.count() == 4 + len(_envelope_lines(spark)) - 1
    now = _now_col()
    for role in ROLES:
        typed = _dashboard(spark, bronze, role, now)
        parsed = _dashboard(
            spark, bronze.select("payload", "metadata"), role, now
        )
        assert typed == parsed, role
    # the old-layout rows really went through the fallback: W2 has no
    # metadata, so its landed time is its ingest_ts
    w2 = typed[0][[r[0] for r in typed[0]].index("W2")]
    assert w2[9] == datetime(2024, 6, 1, 11, 0, 45)


def test_landing_counts_come_from_one_observation(spark, tmp_path):
    """A clean batch lands in one job; a batch with dead letters adds
    only the dead-letter write, and counts them even with no samples."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group: str, *args, **kwargs):
        sc.setJobGroup(group, group)
        try:
            out = land_batch(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(group))

    good = spark.createDataFrame([('{"id":"A"}',), ('{"id":"B"}',)], ["value"])
    (n_input, n_dead, samples), n_jobs = jobs(
        "clean", good, str(tmp_path / "raw"), errors_path=str(tmp_path / "e1")
    )
    assert (n_input, n_dead, samples, n_jobs) == (2, 0, [], 1)
    assert not os.path.exists(tmp_path / "e1")

    mixed = spark.createDataFrame([('{"id":"C"}',), (BAD_LINE,)], ["value"])
    (n_input, n_dead, samples), n_jobs = jobs(
        "dead", mixed, str(tmp_path / "raw"), errors_path=str(tmp_path / "e2")
    )
    assert (n_input, n_dead, samples, n_jobs) == (2, 1, [], 2)
    dead = spark.read.parquet(str(tmp_path / "e2"))
    assert sorted(dead.columns) == ["land_date", "metadata", "payload"]
    assert [r["payload"] for r in dead.collect()] == [BAD_LINE]

    (_, n_dead, samples), _ = jobs(
        "samples", mixed, str(tmp_path / "raw"), max_error_samples=3
    )
    assert (n_dead, samples) == (1, [BAD_LINE])

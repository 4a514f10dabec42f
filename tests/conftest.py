"""Shared fixtures: one session-scoped SparkSession + canonical records.

Mirrors the reference's test strategy (SURVEY.md §5): hermetic fixtures at
the process edges, a frozen clock for the time-dependent views, and one
canonical nested record with deliberate edge content (extra field, empty
authorships, missing email, malformed timestamp, string-typed year).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scholar_stream_spark import get_spark  # noqa: E402
from scholar_stream_spark.plans import hybrid  # noqa: E402

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA_ROOT, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA_ROOT, "sf0.01")
SF_LARGE = os.path.join(TESTDATA_ROOT, "sf0.1")


def force_above_cap(monkeypatch):
    """Send every driver/distributed hybrid built after this call down
    its distributed branch: each one asks ``hybrid.bounded_probe``,
    which now reads every input as above its cap (the empty one too)."""
    monkeypatch.setattr(hybrid, "bounded_probe", lambda df, cap, **kw: None)


#: Frozen clock (SURVEY §5.2) — all view tests pin `now` to this.
FIXED_NOW = "2024-06-01 12:00:00"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="scholar-stream-spark-tests",
        master="local[4]",
    )
    yield s
    s.stop()


#: Canonical nested work record (edge content included): the shape yielded
#: by the source per reference tests/conftest.py fixtures + schema.py.
CANONICAL_WORK = {
    "id": "W123",
    "doi": "10.1234/abc",
    "title": "A Study of Things",
    "publication_year": 2021,
    "host_venue": {"display_name": "Journal of Things"},
    "authorships": [
        {"author": {"display_name": "Ada Lovelace"}},
        {"author": {"display_name": "Charles Babbage"}},
    ],
    "email": None,
    "extra_field": "ignored",
}

EDGE_WORKS = [
    CANONICAL_WORK,
    # empty authorships + explicit email + string year
    {
        "id": "W124",
        "title": "No Authors",
        "publication_year": "1999",
        "authorships": [],
        "email": "bob@example.org",
    },
    # authorships[0].author null; host_venue null
    {
        "id": "W125",
        "authorships": [{"author": None}],
        "host_venue": None,
    },
    # missing almost everything
    {"id": "W126"},
    # malformed year
    {"id": "W127", "publication_year": "twenty-twenty"},
]


@pytest.fixture()
def works_lines(spark):
    return spark.createDataFrame(
        [(json.dumps(w),) for w in EDGE_WORKS], ["value"]
    )


def make_raw_events(spark):
    """Bronze rows exercising every V-operator null path."""
    rows = [
        # normal: metadata IngestionTime present, 30s latency
        (
            json.dumps(
                {
                    "id": "W1",
                    "doi": "10.1/x",
                    "title": "T1",
                    "publication_year": 2020,
                    "host_venue": "V1",
                    "primary_author": "Ada",
                    "email": "ada@ex.com",
                    "event_ts": "2024-06-01T11:58:00+00:00",
                    "ingest_ts": "2024-06-01T11:58:10+00:00",
                    "source": "openalex",
                    "_LOAD_ID": "00000000-0000-0000-0000-000000000001",
                }
            ),
            json.dumps({"IngestionTime": "2024-06-01T11:58:30+00:00"}),
        ),
        # string year + no metadata → landed falls back to ingest_ts
        (
            json.dumps(
                {
                    "id": "W2",
                    "publication_year": "2019",
                    "email": "no-at-sign",
                    "event_ts": "2024-06-01T11:00:00+00:00",
                    "ingest_ts": "2024-06-01T11:00:45+00:00",
                }
            ),
            None,
        ),
        # malformed event_ts → latency NULL; no ingest_ts/metadata →
        # landed falls back to `now`
        (
            json.dumps(
                {
                    "id": "W3",
                    "publication_year": "not-a-year",
                    "event_ts": "garbage",
                }
            ),
            json.dumps({}),
        ),
        # old row outside any 5-min window
        (
            json.dumps(
                {
                    "id": "W4",
                    "event_ts": "2024-06-01T09:00:00+00:00",
                    "ingest_ts": "2024-06-01T09:00:20+00:00",
                }
            ),
            json.dumps({"IngestionTime": "2024-06-01T09:00:25+00:00"}),
        ),
    ]
    return spark.createDataFrame(rows, ["payload", "metadata"])


@pytest.fixture()
def raw_events(spark):
    return make_raw_events(spark)

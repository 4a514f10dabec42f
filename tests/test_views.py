"""V1-V12 curated-view semantics with a frozen clock (SURVEY.md §2.3)."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from scholar_stream_spark.operators.views import build_vw_latency, build_vw_works
from scholar_stream_spark.plans.catalog import init_catalog

from tests.conftest import FIXED_NOW


def _now_col():
    return F.to_timestamp(F.lit(FIXED_NOW))


def test_vw_works_projection_and_safe_casts(raw_events):
    rows = {r["work_id"]: r for r in build_vw_works(raw_events, now=_now_col()).collect()}

    # V2/V3/V4: JSON shredding
    assert rows["W1"]["doi"] == "10.1/x"
    assert rows["W1"]["venue"] == "V1"
    assert rows["W1"]["primary_author"] == "Ada"

    # V7: number-or-string year, NULL on garbage
    assert rows["W1"]["publication_year"] == 2020
    assert rows["W2"]["publication_year"] == 2019
    assert rows["W3"]["publication_year"] is None

    # V5: malformed event_ts → NULL (never an error)
    assert rows["W3"]["event_ts"] is None


def test_landed_ts_three_way_coalesce(raw_events):
    rows = {r["work_id"]: r for r in build_vw_works(raw_events, now=_now_col()).collect()}

    # metadata IngestionTime wins
    assert rows["W1"]["landed_ts"] == datetime(2024, 6, 1, 11, 58, 30)
    # missing metadata → ingest_ts
    assert rows["W2"]["landed_ts"] == datetime(2024, 6, 1, 11, 0, 45)
    # neither → injected now
    assert rows["W3"]["landed_ts"] == datetime(2024, 6, 1, 12, 0, 0)


def test_latency_seconds_guarded_datediff(raw_events):
    rows = {r["work_id"]: r for r in build_vw_works(raw_events, now=_now_col()).collect()}
    assert rows["W1"]["latency_seconds"] == 30
    assert rows["W2"]["latency_seconds"] == 45
    assert rows["W3"]["latency_seconds"] is None  # NULL event_ts guard
    assert rows["W4"]["latency_seconds"] == 25


def test_vw_latency_window_and_kpis(raw_events):
    works = build_vw_works(raw_events, now=_now_col())
    kpi = build_vw_latency(works, now=_now_col(), window_minutes=5).collect()[0]
    # only W1 (landed 11:58:30) is inside [11:55, 12:00]; W2 landed 11:00,
    # W4 landed 9:00, W3 has NULL event_ts (excluded by the filter even
    # though its landed_ts == now).
    assert kpi["samples_5m"] == 1
    assert kpi["avg_sec_5m"] == 30.0
    assert kpi["min_sec_5m"] == 30 and kpi["max_sec_5m"] == 30
    assert kpi["window_start"] == datetime(2024, 6, 1, 11, 55, 0)
    assert kpi["window_end"] == datetime(2024, 6, 1, 12, 0, 0)


def test_vw_latency_empty_window_yields_zero_row(raw_events):
    works = build_vw_works(raw_events, now=_now_col())
    far_future = F.to_timestamp(F.lit("2030-01-01 00:00:00"))
    kpi = build_vw_latency(works, now=far_future).collect()
    assert len(kpi) == 1  # global agg always returns one row
    assert kpi[0]["samples_5m"] == 0
    assert kpi[0]["avg_sec_5m"] is None


def test_init_catalog_registers_views_in_order(spark, raw_events):
    views = init_catalog(spark, raw_events, role="R_TRANSFORM", now=_now_col())
    assert set(views) == {"raw_events", "vw_works", "vw_latency"}
    # Q1-style KPI select through the registered view
    row = spark.sql(
        "SELECT avg_sec_5m, samples_5m FROM vw_latency"
    ).collect()[0]
    assert row["samples_5m"] == 1
    # privileged role sees clear email
    emails = {
        r["work_id"]: r["email"] for r in spark.sql("SELECT work_id, email FROM vw_works").collect()
    }
    assert emails["W1"] == "ada@ex.com"


def test_init_catalog_dry_run_lists_plan_without_executing():
    """S9 parity with the reference's DDL --dry-run (sql/apply.py:95-172):
    the ordered registration plan comes back WITHOUT a SparkSession or
    input DataFrame being touched — proven by passing None for both —
    and the role allowlist still gates it."""
    import pytest

    from scholar_stream_spark.plans.catalog import CATALOG_PLAN, init_catalog

    plan = init_catalog(None, None, role="R_ANALYST", dry_run=True)
    assert [s["name"] for s in plan] == ["raw_events", "vw_works", "vw_latency"]
    # every dependency is registered before its dependent
    seen: set = set()
    for step in plan:
        assert set(step["depends_on"]) <= seen, plan
        seen.add(step["name"])
    # returned plan is a copy — mutating it cannot corrupt the source
    plan[0]["name"] = "tampered"
    assert CATALOG_PLAN[0]["name"] == "raw_events"
    with pytest.raises(ValueError, match="unknown role"):
        init_catalog(None, None, role="R_NOPE", dry_run=True)


def test_analyst_catalog_masks_email(spark, raw_events):
    init_catalog(spark, raw_events, role="R_ANALYST", now=_now_col())
    emails = {
        r["work_id"]: r["email"]
        for r in spark.sql("SELECT work_id, email FROM vw_works").collect()
    }
    assert emails["W1"] == "a***@ex.com"   # partial mask
    assert emails["W2"] == "***"           # no @
    assert emails["W3"] is None            # NULL stays NULL


def test_variant_engine_parses_once(raw_events):
    """The optimizer must keep ONE parseJson per input column (payload +
    metadata = 2), never inline it into each of the 10+ extractions."""
    plan = (
        build_vw_works(raw_events, now=_now_col())
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("parseJson") == 2, plan


def test_variant_engine_tolerates_malformed_payload(spark):
    raw = spark.createDataFrame(
        [("{not json", None), ('{"id":"W9"}', "{bad meta")],
        ["payload", "metadata"],
    )
    rows = {
        r["work_id"]: r
        for r in build_vw_works(raw, now=_now_col()).collect()
    }
    assert set(rows) == {None, "W9"}
    assert rows["W9"]["landed_ts"] == datetime(2024, 6, 1, 12, 0, 0)

"""Ordered catalog bootstrap — the engine's analog of S9 + G2/G3.

The reference bootstraps its warehouse with an ordered multi-script DDL
runner (``sql/apply.py:42-92``: naturally-sorted ``NN_*.sql`` files, each
multi-statement) building, in dependency order: database/schemas → roles
→ raw table → curated views → masking. Here the same dependency order is
an explicit registration sequence of temp views over DataFrames — temp
views inline into the logical plan, so "view over view" costs nothing at
execution time (V1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from scholar_stream_spark.operators.masking import (
    KNOWN_ROLES,
    apply_masking,
    is_privileged,
)
from scholar_stream_spark.operators.views import build_vw_latency, build_vw_works


#: The ordered registration plan (S9). ``init_catalog`` registers
#: exactly these names in exactly this order, and its ``dry_run`` mode
#: returns this structure — one definition, so the validated plan can
#: never drift from what actually executes (the reference's
#: ``sql/apply.py:95-172`` ``--dry-run`` gives its CI the same
#: order-without-execution check).
CATALOG_PLAN = (
    {"name": "raw_events", "kind": "table", "depends_on": ()},
    {"name": "vw_works", "kind": "view", "depends_on": ("raw_events",)},
    {"name": "vw_latency", "kind": "view", "depends_on": ("vw_works",)},
)


def init_catalog(
    spark: SparkSession,
    raw: DataFrame,
    role: str = "R_ANALYST",
    now: Column | None = None,
    window_minutes: int = 5,
    dry_run: bool = False,
) -> dict[str, DataFrame] | list[dict]:
    """Register the engine's view set for ``role``, in dependency order.

    1. ``raw_events``  — bronze landing (verbatim payload and metadata,
       plus the typed columns written at landing)
    2. ``vw_works``    — curated projection (email masked unless the role
       is privileged — the role-scoped catalog IS the access control)
    3. ``vw_latency``  — KPI aggregate over ``vw_works``

    ``role`` must be on the allowlist (``KNOWN_ROLES``): the reference
    restricts selectable roles the same way (``app/home.py:33-42``) —
    an unknown role must fail loudly, not silently get some treatment.

    ``dry_run=True`` validates the role and returns the ordered
    registration plan (a copy of ``CATALOG_PLAN``) WITHOUT touching
    ``spark`` or ``raw`` — the list-only validation mode the reference
    runs in CI.

    Returns the DataFrames keyed by view name; each is also available via
    ``spark.sql``/``spark.table`` under the same name.
    """
    if role.upper() not in KNOWN_ROLES:
        raise ValueError(
            f"unknown role {role!r}; allowed roles: {', '.join(KNOWN_ROLES)}"
        )
    if dry_run:
        return [dict(step) for step in CATALOG_PLAN]
    views: dict[str, DataFrame] = {}

    raw.createOrReplaceTempView("raw_events")
    views["raw_events"] = raw

    works = build_vw_works(raw, now=now)
    if not is_privileged(role):
        works = apply_masking(works, role)
    works.createOrReplaceTempView("vw_works")
    views["vw_works"] = works

    latency = build_vw_latency(works, now=now, window_minutes=window_minutes)
    latency.createOrReplaceTempView("vw_latency")
    views["vw_latency"] = latency

    # explicit raise, not assert: python -O strips asserts and this
    # drift guard must survive optimized deployments
    if list(views) != [s["name"] for s in CATALOG_PLAN]:
        raise RuntimeError(
            "registration order drifted from CATALOG_PLAN — update both"
        )
    return views

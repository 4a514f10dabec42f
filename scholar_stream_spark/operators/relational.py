"""Consumption queries Q1-Q3 + relational demo operators (SURVEY.md §2.5, §2.8).

Each builder is a pure DataFrame program; the driver-facing bindings (and
the DuckDB oracle SQL that checks them) live in ``__spark_entry__.py``.

Scale/plan notes, per operator, are in the docstrings — every one of
these was ``.explain()``-checked: filters reach the parquet scan
(PushedFilters), small sides broadcast, top-N plans as
TakeOrderedAndProject, aggregates get map-side partial aggregation.

Cross-engine determinism: money aggregates are summed as DECIMAL(18,2)
(exact, order-independent) and only then cast to DOUBLE — double
summation order varies with partitioning, decimal does not. Plain
``avg`` over bounded doubles is rounded to 4 decimals.
"""

from __future__ import annotations

import datetime
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Trailing-window width for the events-table KPI stand-in (the reference
#: uses 5 minutes over a live stream, sql/04_views_curated.sql:54-60; the
#: synthetic events table spans 30 days, so 24h keeps a real sample).
KPI_WINDOW_HOURS = 24

TOPN_DEFAULT = 50
TOP_ORDERS_PER_CUSTOMER = 3
WINDOWED_AGG_HOURS = 6
PRICING_CUTOFF = "2000-09-02 00:00:00"


def exact_sum_double(expr: str) -> str:
    """SQL fragment: order-independent money sum → double.

    SUM over doubles is partition-order dependent (≈1 ulp per element —
    real drift at 100 TB); SUM over DECIMAL(18,2) is exact integer
    arithmetic, identical on any partitioning and any engine. The final
    double conversion is exact for |cents| < 2^53.
    """
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


#: Boundary-safe discounted-revenue product: cast EACH operand to
#: DECIMAL first, then multiply decimals. NEVER cast a double product
#: to DECIMAL — Spark rounds ``CAST(double AS DECIMAL(18,2))`` on the
#: shortest decimal string (HALF_UP) while DuckDB rounds the binary
#: value, so half-cent-boundary products (e.g. 48887.774999999994)
#: land a cent apart cross-engine (the r9 ``nation_revenue_share``
#: hash-FAIL: 610/60k sf0.01 rows off by $0.01). Decimal×decimal is
#: exact, so downstream rounding is identical on both engines.
DISCOUNTED_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


def latency_kpis(events: DataFrame, window_hours: int = KPI_WINDOW_HOURS) -> DataFrame:
    """V10-V12 stand-in on the events table: global KPIs over the
    trailing window, with the clock pinned to ``max(ts)`` (deterministic
    "now", SURVEY §7.3).

    Plan: the 1-row ``max(ts)`` aggregate is broadcast-cross-joined (no
    shuffle of the fact side), the window filter then prunes before a
    partial+final global aggregate — one scan, no wide shuffle.
    """
    now_df = events.agg(F.max("ts").alias("_now"))
    start = F.col("_now") - F.expr(f"INTERVAL {window_hours} HOURS")
    windowed = (
        events.crossJoin(F.broadcast(now_df))
        .filter(F.col("ts") >= start)
    )
    return (
        windowed.groupBy("_now")
        .agg(
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            "avg_value",
            "min_value",
            "max_value",
            "n_samples",
            start.alias("window_start"),
            F.col("_now").alias("window_end"),
        )
    )


def topn_recent(orders: DataFrame, n: int = TOPN_DEFAULT) -> DataFrame:
    """Q2 — top-N most recent orders (dashboard table).

    ``ORDER BY ... LIMIT n`` plans as TakeOrderedAndProject: a per-
    partition top-N heap + single merge, never a full sort — the property
    the reference leans on Snowflake for (``app/home.py:202-208``).
    Tie-break on o_orderkey for determinism.
    """
    return (
        orders.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        )
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(n)
    )


def json_props_extract(events: DataFrame) -> DataFrame:
    """V2+V7+V8 stand-in: JSON path extraction with lenient cast and a
    conditional flag, filter pushed toward the scan.

    Parse-once discipline: one ``from_json`` into a struct; the k>=50
    predicate applies to the parsed value (Catalyst prunes the JSON
    schema to the single leaf).
    """
    k = F.from_json(F.col("props"), "k long")["k"]
    return (
        events.select(
            "event_id",
            k.alias("k"),
            F.when(F.col("event_type") == "error", F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_error"),
        )
        .filter(F.col("k").isNotNull() & (F.col("k") >= 50))
    )


def sec_of_day(events: DataFrame) -> DataFrame:
    """V9 stand-in — boundary-counting timestamp difference in seconds
    (Snowflake DATEDIFF semantics == unix-second subtraction)."""
    midnight = F.date_trunc("DAY", F.col("ts"))
    return events.select(
        "event_id",
        (F.unix_timestamp(F.col("ts")) - F.unix_timestamp(midnight)).alias(
            "sec_of_day"
        ),
        F.hour("ts").cast("long").alias("hour_of_day"),
    )


def pricing_summary(lineitem: DataFrame, cutoff: str = PRICING_CUTOFF) -> DataFrame:
    """TPC-H-Q1-shaped aggregate: the relational-completeness demo the
    reference lacks (SURVEY §2.7/§2.8).

    Exact decimal sums (see module header); the shipdate predicate
    reaches the parquet scan as a pushed filter + row-group prune.
    """
    return (
        lineitem.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit(cutoff)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(exact_sum_double("l_quantity")).alias("sum_qty"),
            F.expr(exact_sum_double("l_extendedprice")).alias("sum_base_price"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )


#: Shipping-priority (TPC-H Q3 shape) parameters: the market segment,
#: the cutoff splitting "ordered before / shipped after", and the top-K.
SHIPPING_SEGMENT = "BUILDING"
SHIPPING_CUTOFF = "1998-04-15 00:00:00"
SHIPPING_TOPN = 10


def shipping_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    cutoff: str = SHIPPING_CUTOFF,
    segment: str = SHIPPING_SEGMENT,
    k: int = SHIPPING_TOPN,
) -> DataFrame:
    """TPC-H-Q3-shaped query: top-K unshipped orders by revenue for one
    market segment — the classic selective-dimension → fact → fact
    chain (SURVEY §2.8 relational completeness).

    Scale shape: both date predicates reach their parquet scans
    (row-group pruning on the two fact tables); the only big exchange
    is orders⋈lineitem on the order key; revenue is the exact decimal
    sum; and the final top-K is TakeOrderedAndProject with a full
    tie-break (revenue desc, orderdate, orderkey) — never a global
    sort.

    The segment-filtered customer KEY LIST meets orders with no join
    hint: AQE sizes the build side from runtime stats, broadcasting
    while the key list is small and shuffling once it outgrows the
    broadcast threshold (at warehouse scale even a key list can be
    tens of GB). A forced-broadcast variant measured no faster at
    sf0.01 or sf0.1, so it is gone.
    """
    cut = F.to_timestamp(F.lit(cutoff))
    cust = customer.filter(F.col("c_mktsegment") == segment).select(
        "c_custkey"
    )
    ords = orders.filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = lineitem.filter(F.col("l_shipdate") > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        ords.join(cust, ords.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
            ).alias("revenue")
        )
        .orderBy(
            F.desc("revenue"), F.asc("o_orderdate"), F.asc("o_orderkey")
        )
        .limit(k)
    )


#: Order-priority-check (TPC-H Q4 shape) parameters: the evaluation
#: quarter and the ship-lag that marks an order "late". (The testdata's
#: slim lineitem has no commit/receipt dates, so lateness is
#: ship-vs-order lag instead of Q4's receipt-vs-commit — same EXISTS
#: shape, same join semantics.)
PRIORITY_WINDOW_START = "1997-01-01 00:00:00"
PRIORITY_WINDOW_END = "1997-04-01 00:00:00"
PRIORITY_LATE_DAYS = 30


def order_priority_check(
    lineitem: DataFrame,
    orders: DataFrame,
    start: str = PRIORITY_WINDOW_START,
    end: str = PRIORITY_WINDOW_END,
    late_days: int = PRIORITY_LATE_DAYS,
) -> DataFrame:
    """TPC-H-Q4-shaped query: per-priority count of one quarter's
    orders having AT LEAST ONE late line item — the canonical EXISTS
    decorrelation (SURVEY §2.8 relational completeness; the set-op and
    outer-join shapes live in ``user_setops``/``customer_distribution``).

    Scale shape: the quarter predicate is pushed to the orders scan
    (row-group pruning on the narrow side); the EXISTS is a LEFT SEMI
    join on the order key with the lateness comparison evaluated inside
    the join, so each order is emitted at most once — never the
    count-inflating inner-join-then-distinct; the lineitem side carries
    only (key, shipdate). The single big exchange is the key-partitioned
    semi join; the final per-priority count is five rows, map-side
    combined.
    """
    ords = orders.filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit(start)))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit(end)))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = lineitem.select("l_orderkey", "l_shipdate")
    late = ords.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        ),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


#: Customer-distribution (TPC-H Q13 shape): the order class excluded
#: from the count (Q13 excludes a comment pattern; the slim testdata
#: has no o_comment, so an order-priority class stands in).
CUSTDIST_EXCLUDED_PRIORITY = "1-URGENT"


def customer_distribution(
    orders: DataFrame,
    customer: DataFrame,
    excluded_priority: str = CUSTDIST_EXCLUDED_PRIORITY,
) -> DataFrame:
    """TPC-H-Q13-shaped query: how many customers placed 0, 1, 2, ...
    qualifying orders — the canonical LEFT OUTER join whose whole point
    is keeping the zero-match rows (an inner join silently drops the
    zero-order customers, the bucket the business question is usually
    about).

    Scale shape: the exclusion predicate prunes the orders scan and the
    projection is one bigint column (o_custkey) — no order payload
    shuffles; the outer join and the per-customer count share the
    custkey exchange; the second aggregation's keyspace is order-counts
    (tiny), map-side combined. Two corpus-linear exchanges total, both
    AQE-sized.
    """
    ords = orders.filter(
        F.col("o_orderpriority") != excluded_priority
    ).select("o_custkey")
    per_cust = (
        customer.select("c_custkey")
        .join(ords, customer.c_custkey == ords.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def revenue_by_region(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Star join rolled up to region.

    nation (25 rows) and region (5) carry explicit broadcast hints —
    they are small by schema, always. The customer-derived ``dims`` side
    deliberately does NOT: Spark honors an explicit broadcast hint
    regardless of ``autoBroadcastJoinThreshold``, so forcing it on a
    customer-cardinality table risks driver/executor OOM at scale.
    Instead AQE picks broadcast at runtime whenever the built dims side
    is actually small (it sees the real post-shuffle size), and falls
    back to a shuffle join when it isn't — the safe default either way.
    """
    dims = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        orders.join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(exact_sum_double("o_totalprice")).alias("revenue"),
        )
    )


def top_orders_per_customer(
    orders: DataFrame, k: int = TOP_ORDERS_PER_CUSTOMER
) -> DataFrame:
    """Ranking window: top-k orders per customer by price.

    One shuffle on o_custkey; rank predicate applied immediately after
    the window so nothing wide survives. Deterministic tie-break on
    o_orderkey.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rank_in_customer"),
        )
        .filter(F.col("rank_in_customer") <= k)
    )


def user_setops(events: DataFrame) -> DataFrame:
    """Set operation demo: users who clicked but never errored
    (EXCEPT = distinct anti semantics)."""
    clickers = events.filter(F.col("event_type") == "click").select("user_id")
    errorers = events.filter(F.col("event_type") == "error").select("user_id")
    return clickers.subtract(errorers)  # EXCEPT (distinct) semantics


def rollup_orders(orders: DataFrame) -> DataFrame:
    """Grouping-sets demo: ROLLUP(status, priority) with exact revenue."""
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(exact_sum_double("o_totalprice")).alias("revenue"),
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Q3 — SLO percentiles (p50/p95), exact linear-interpolated, per
    event type. ``percentile`` (exact) rather than ``percentile_approx``
    so the result is engine-checkable; the approx variant is the 100 TB
    path and is exercised in bench.
    """
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_value"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_value"),
        F.count(F.lit(1)).alias("n_samples"),
    )


def windowed_event_agg(
    events: DataFrame, hours: int = WINDOWED_AGG_HOURS
) -> DataFrame:
    """§2.6 streaming-window parity in batch: epoch-aligned tumbling
    windows via ``window()`` — the exact groupBy a streaming query uses
    with a watermark (streaming/latency.py); batch mode makes it
    oracle-checkable.
    """
    w = F.window(F.col("ts"), f"{hours} hours")
    return (
        events.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


VALUE_HISTOGRAM_BINS = 20


def value_histogram(
    events: DataFrame, n_bins: int = VALUE_HISTOGRAM_BINS
) -> DataFrame:
    """Fixed-bin histogram of ``value`` — the data-profiling primitive.

    Two passes, both cheap: a 1-row global (min, max) aggregate is
    broadcast back onto the fact side (no shuffle of it), each row then
    computes its bin in a narrow projection, and bin counts come from
    one map-side-combined groupBy over ≤ n_bins keys. The bin formula
    (``least(floor((v-min)/width), n_bins-1)``) is plain IEEE double
    arithmetic, bit-identical across engines — deliberately not
    ``width_bucket``, whose edge conventions differ.
    """
    bounds = events.agg(
        F.min("value").alias("_vmin"), F.max("value").alias("_vmax")
    )
    width = (F.col("_vmax") - F.col("_vmin")) / n_bins
    # width=0 (constant/single-value input) → everything in bin 0, not a
    # DIVIDE_BY_ZERO under ANSI; NULL values are excluded, not silently
    # floored into the top bin (least() skips NULLs).
    bin_idx = F.when(width == 0, F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("value") - F.col("_vmin")) / width),
            F.lit(n_bins - 1),
        )
    ).cast("long")
    return (
        events.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            bin_idx.alias("bin"),
            F.col("_vmin"),
            F.col("_vmax"),
        )
        .groupBy("bin", "_vmin", "_vmax")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.round(F.col("_vmin") + F.col("bin") * ((F.col("_vmax") - F.col("_vmin")) / n_bins), 4).alias("bin_lo"),
            "n",
        )
    )


SALT_BUCKETS = 16
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def distinct_users_by_type_salted(
    events: DataFrame, n_salts: int = SALT_BUCKETS
) -> DataFrame:
    """COUNT(DISTINCT user_id) per event_type, skew-proof.

    A plain count_distinct shuffles every (type, user) pair to the
    type's single reducer — a hot event type concentrates on one core
    (the classic skew collapse). Two-stage salting fixes it: stage 1
    groups by (type, salt = hash(user) mod n), so each type's distinct
    work spreads over ``n_salts`` reducers; because the salt is derived
    from the DISTINCT column, salt groups partition the value space
    disjointly and stage 2 just SUMs the per-salt distinct counts —
    exact, not approximate. AQE's skew handling can't do this (it can
    split partitions, not a single hot GROUP BY key).
    """
    salted = events.withColumn(
        "_salt", F.pmod(F.xxhash64("user_id"), F.lit(n_salts))
    )
    stage1 = salted.groupBy("event_type", "_salt").agg(
        F.count_distinct("user_id").alias("nd")
    )
    return (
        stage1.groupBy("event_type")
        .agg(F.sum("nd").alias("n_distinct_users"))
    )


def pivot_user_event_counts(events: DataFrame) -> DataFrame:
    """Per-user event-type counts as columns (pivot).

    ``groupBy().pivot(values=...)`` with the value list pinned compiles
    to ONE pass of conditional aggregates — identical to the manual
    CASE-WHEN formulation and map-side combined; leaving ``values``
    unset would add a driver-side distinct scan first.
    """
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


def cube_orders(orders: DataFrame) -> DataFrame:
    """CUBE over (status, priority): every aggregation combination in
    one pass — the grouping-sets completeness demo next to
    ``rollup_orders``. Spark expands cube into grouping sets inside a
    single shuffle; n_orders disambiguates the NULL-key rows.
    """
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(exact_sum_double("o_totalprice")).alias("revenue"),
        )
    )


def salted_join_revenue(
    orders: DataFrame, customer: DataFrame, n_salts: int = 8
) -> DataFrame:
    """Revenue by market segment through a skew-proof salted join.

    The salting pattern for when a join key is too hot for AQE's
    skew-split (which only splits post-shuffle *partitions*, not a
    single giant key): the big side gets a deterministic per-row salt
    (hash of its primary key, NEVER ``rand()`` — retries must land in
    the same bucket), the small side is replicated ``n_salts``×, and
    the join runs on (key, salt) — a hot custkey's rows now spread
    over ``n_salts`` reducers instead of one. Replication multiplies
    the small side's shuffle bytes by ``n_salts``: the knob trades
    small-side duplication for big-side spread, so size it to the
    worst key's skew factor, not higher. Result is provably identical
    to the unsalted join (each big row meets each matching small row
    exactly once — the oracle checks the plain join).
    """
    salted = orders.withColumn(
        "_salt", F.pmod(F.hash("o_orderkey"), F.lit(n_salts)).cast("int")
    )
    replicated = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("_salt"),
    )
    joined = salted.join(
        replicated,
        (salted["o_custkey"] == replicated["c_custkey"])
        & (salted["_salt"] == replicated["_salt"]),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(exact_sum_double("o_totalprice")).alias("revenue"),
        )
    )


#: Incremental-rollup cutoff (shared with the DuckDB oracle).
INCR_CUTOFF = "2024-03-01 00:00:00"


def merge_rollup(existing: DataFrame, delta_events: DataFrame) -> DataFrame:
    """Incremental aggregate maintenance: fold a new micro-batch into a
    persisted daily rollup WITHOUT recomputing history.

    ``existing`` is the stored rollup (day, event_type, n_events,
    sum_value); ``delta_events`` is the new raw slice. The delta is
    rolled up alone (small — one micro-batch/partition of arrivals)
    and merged by outer-union + re-aggregate: count/sum are
    decomposable, so ``merged = groupBy(sum)`` over the union of
    partial states is exact. At 100 TB this is the difference between
    touching one day's delta and re-scanning the full history on every
    refresh; the oracle pins the equivalence — incremental result ==
    one-shot rollup over the whole input.

    CLOSED under composition: the output schema is exactly
    ``daily_rollup``'s (DATE day, DECIMAL sum) so a merged rollup can
    be merged again without ever passing through doubles — the
    decimal-exactness invariant survives any number of folds (a
    presentation cast belongs at the read edge, see
    ``present_rollup``).
    """
    delta = daily_rollup(delta_events)
    return (
        existing.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value")
            .cast(existing.schema["sum_value"].dataType)
            .alias("sum_value"),
        )
    )


def present_rollup(rollup: DataFrame) -> DataFrame:
    """Read-edge projection of a (possibly many-times-merged) rollup:
    day as midnight-timestamp and the exact decimal sum as double —
    engines agree on timestamp/double hash compare where DATE/DECIMAL
    round-trips differ. Presentation only; never feed this back into
    ``merge_rollup``."""
    return rollup.select(
        F.col("day").cast("timestamp").alias("day"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


def daily_rollup(events: DataFrame) -> DataFrame:
    """(day, event_type) → count + value sum, the persisted-rollup unit
    of ``merge_rollup``.

    The value sum is DECIMAL(18,6): double sums are partition-order
    dependent AND non-associative, so a double-based partial rollup
    could never exactly equal the one-shot recompute the oracle pins.
    Decimal partial sums merge exactly (integer arithmetic), which is
    what makes incremental maintenance *provable* rather than
    approximately-right."""
    return (
        events.groupBy(
            F.to_date("ts").alias("day"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
        )
    )


#: Relative-rank error budget for the sketch percentiles (the
#: approx_percentile accuracy contract: rank error <= 1/accuracy).
PCTL_ACCURACY = 10_000


def value_percentiles_accuracy(events: DataFrame) -> DataFrame:
    """Sketch percentiles vs exact, with the error surfaced — the
    ``ann_recall`` pattern applied to ``approx_percentile``.

    ``percentile_approx`` (Greenwald-Khanna sketch) is the 100 TB
    path: mergeable fixed-size state per group instead of the exact
    percentile's full value buffer. Approximate ⇒ not oracle-checkable,
    so THIS query carries the quality signal: per event type it emits
    both estimates and their absolute difference; pytest pins the
    sketch's rank-error contract (≤ n/accuracy ranks ⇒ bounded value
    error on the observed distributions). One shuffle total — both
    aggregates run in the same groupBy pass.
    """
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_exact"),
        F.round(
            F.expr(f"percentile_approx(value, 0.95, {PCTL_ACCURACY})"), 4
        ).alias("p95_approx"),
        F.round(
            F.abs(
                F.expr("percentile(value, 0.95)")
                - F.expr(f"percentile_approx(value, 0.95, {PCTL_ACCURACY})")
            ),
            4,
        ).alias("abs_err"),
        F.count(F.lit(1)).alias("n_samples"),
    )


def stats_by_type(events: DataFrame) -> DataFrame:
    """Statistical aggregate completeness: per event type, sample
    stddev of value, Pearson correlation of value vs time-of-day, and
    the OLS trend (slope/intercept) over the day fraction.

    Computed from EXACT fixed-point moment sums, not the built-in
    double aggregates: ``stddev``/``corr``/``regr_*`` accumulate
    doubles, so their last ulps depend on partition order — a value
    that lands on a round() boundary flips between runs and engines
    (observed: regr_intercept 45.8087 vs 45.8086). Quantizing value to
    1e-6 fixed point (engine-portable floor+0.5) and summing moments
    as DECIMAL(38,0) makes every moment exact and order-independent;
    slope/corr/stddev derive from the moments in closed form, and the
    only floating arithmetic is over identical decimal inputs —
    deterministic on any engine, any partitioning. Same one
    map-side-combined shuffle as the built-ins (moments are
    decomposable sums).
    """
    q = events.filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("yq"),
        F.expr(
            "unix_timestamp(ts) - unix_timestamp(date_trunc('DAY', ts))"
        ).alias("xs"),
    )
    m = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("SUM(CAST(xs AS DECIMAL(38,0)))").alias("sx"),
        F.expr("SUM(CAST(yq AS DECIMAL(38,0)))").alias("sy"),
        F.expr(
            "SUM(CAST(xs AS DECIMAL(19,0)) * CAST(yq AS DECIMAL(19,0)))"
        ).alias("sxy"),
        F.expr(
            "SUM(CAST(xs AS DECIMAL(19,0)) * CAST(xs AS DECIMAL(19,0)))"
        ).alias("sxx"),
        F.expr(
            "SUM(CAST(yq AS DECIMAL(19,0)) * CAST(yq AS DECIMAL(19,0)))"
        ).alias("syy"),
    )
    return m.select(
        "event_type",
        "n",
        F.expr(STATS_SD_SQL).alias("sd_value"),
        F.expr(STATS_CORR_SQL).alias("corr_value_time"),
        F.expr(STATS_SLOPE_SQL).alias("trend_slope"),
        F.expr(STATS_INTERCEPT_SQL).alias("trend_intercept"),
    )


#: Closed-form moment formulas, shared verbatim with the DuckDB oracle
#: (decimal in, double out — identical IEEE ops on identical inputs).
#: Units: yq is value x 1e6, xs is seconds; slope is per day-fraction.
STATS_DN = "CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)"
STATS_COVN = "CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)"
STATS_VARYN = "CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)"
STATS_SD_SQL = (
    f"round(sqrt({STATS_VARYN}"
    " / nullif(CAST(n AS DOUBLE) * (n - 1), 0.0)) / 1e6, 4)"
)
STATS_CORR_SQL = (
    f"round({STATS_COVN} / nullif(sqrt({STATS_DN} * {STATS_VARYN}), 0.0), 4)"
)
STATS_SLOPE_SQL = (
    f"round({STATS_COVN} / nullif({STATS_DN}, 0.0) * 86400.0 / 1e6, 4)"
)
STATS_INTERCEPT_SQL = (
    f"round((CAST(sy AS DOUBLE) - {STATS_COVN} / nullif({STATS_DN}, 0.0)"
    " * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1e6, 4)"
)


#: approx_count_distinct relative standard deviation (the HLL knob).
HLL_RSD = 0.02


def distinct_users_sketch_accuracy(events: DataFrame) -> DataFrame:
    """HyperLogLog distinct counts vs exact, error surfaced — the
    sketch-accuracy harness (``ann_recall`` pattern) applied to
    ``approx_count_distinct``.

    HLL is the 100 TB cardinality path: fixed-size mergeable registers
    per group versus the exact count's shuffle of every distinct value
    (even the salted-exact formulation moves one row per distinct).
    Sketch ⇒ not SQL-reproducible ⇒ rows-only driver check; THIS query
    carries the quality signal (per-group exact, estimate, relative
    error) and pytest pins the error against the configured rsd. Both
    aggregates run in one map-side-combined groupBy pass.
    """
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact"),
        F.expr(f"approx_count_distinct(user_id, {HLL_RSD})").alias(
            "n_approx"
        ),
        F.round(
            F.abs(
                F.expr(f"approx_count_distinct(user_id, {HLL_RSD})")
                - F.count_distinct("user_id")
            )
            / F.count_distinct("user_id"),
            6,
        ).alias("rel_err"),
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly retention cohorts over the events stream — the canonical
    product-analytics rollup (cohort = week of a user's FIRST event;
    for each later week, what fraction of the cohort came back). Both
    truncations are ``date_trunc('week', ...)`` (Mondays in Spark AND
    DuckDB), so week offsets are exact day-diff/7 integers with no
    engine-specific week-numbering involved.

    Scale shape: two user-keyed aggregations (first-event min and the
    distinct (user, active-week) projection) share their exchange key
    with the join that aligns them — all corpus-linear, no self-join of
    raw events; the final (cohort, offset) keyspace is weeks², tiny and
    map-side combined, and the cohort-size table (weeks rows) comes
    back via a broadcast-sized join.

    Output: (cohort_week, week_offset, n_active, n_cohort,
    retention_rate), one row per cohort × offset actually observed.
    """
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    aligned = activity.join(firsts, "user_id").select(
        "user_id",
        "cohort_week",
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
        .cast("long")
        .alias("week_offset"),
    )
    active = aligned.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").alias("n_active")
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    return active.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        F.round(F.col("n_active") / F.col("n_cohort"), 4).alias(
            "retention_rate"
        ),
    )


#: Large-order (TPC-H Q18 shape) parameters: the HAVING threshold on
#: total per-order quantity (~top 1-2% of orders at the test SFs) and
#: the report top-K.
LARGE_ORDER_MIN_QTY = 250
LARGE_ORDER_TOPN = 100


def large_orders(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    min_qty: int = LARGE_ORDER_MIN_QTY,
    k: int = LARGE_ORDER_TOPN,
) -> DataFrame:
    """TPC-H-Q18-shaped query: the top-K largest orders by value whose
    TOTAL line quantity clears a threshold — the canonical
    aggregate-then-HAVING-then-join shape (group the fact table first,
    filter on the aggregate, and only then join the survivors).

    Scale shape: ONE map-side-combined per-order quantity aggregate
    with the HAVING applied before any join, so the qualifying key set
    is top-percentile-sized and AQE broadcasts it into the orders join
    (the total rides along — no second lineitem pass). The customer
    join carries NO hint: customer grows linearly with scale factor
    (it is a base table, not a fixed dimension), so a forced broadcast
    would bypass ``autoBroadcastJoinThreshold`` and OOM at warehouse
    scale — instead AQE sizes the join at runtime and broadcasts the
    already-HAVING-shrunk orders side into customer. The final top-K
    is TakeOrderedAndProject with a full tie-break, never a global
    sort. The quantity sum is exact decimal (order-independent), so
    the HAVING boundary cannot 1-ulp-flip between engines or
    partitionings.
    """
    qual = (
        lineitem.groupBy("l_orderkey")
        .agg(F.expr(exact_sum_double("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") >= min_qty)
    )
    cust = customer.select("c_custkey", "c_name")
    return (
        orders.join(qual, orders.o_orderkey == qual.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Join/agg-key skew diagnostics: the one-row profile a pipeline
    reads BEFORE deciding whether a key needs salting, AQE skew-join
    thresholds, or a broadcast rewrite — per-key count percentiles,
    the hottest key's share, and the max/mean skew ratio. (The
    salted-join and salted-distinct operators in this module are the
    treatments; this is the diagnosis.)

    Scale shape: one map-side-combined per-key count (the intermediate
    is KEYS-sized, not rows-sized) and one global fold of that count
    table. Exact ``percentile`` keeps it oracle-checkable at test SFs;
    at extreme key cardinality swap ``percentile_approx`` — the same
    documented trade as ``value_percentiles``. The skew ratio is
    integer-derived (max·n_keys/n_rows), so it cannot drift between
    engines.

    Output: (n_rows, n_keys, max_count, p50_count, p90_count,
    p99_count, skew_ratio).
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("c"))
    return counts.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_count"),
        # the three quantiles are pinned (the output column names ARE
        # the contract); a configurable list would silently mislabel
        F.round(F.expr("percentile(c, 0.5)"), 4).alias("p50_count"),
        F.round(F.expr("percentile(c, 0.9)"), 4).alias("p90_count"),
        F.round(F.expr("percentile(c, 0.99)"), 4).alias("p99_count"),
    ).select(
        "*",
        F.round(
            F.col("max_count") * F.col("n_keys") / F.col("n_rows"), 4
        ).alias("skew_ratio"),
    )


#: Ordered funnel steps for the events-table funnel demo (each step
#: must occur strictly AFTER the user's previous step's first time).
FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_analysis(events: DataFrame, steps=FUNNEL_STEPS) -> DataFrame:
    """Ordered-funnel conversion over the events stream: how many users
    completed step k — where a step only counts if it happens strictly
    AFTER that user's first occurrence of the previous step (the
    windowFunnel semantics product analytics expects; an unordered
    count-distinct-per-type overstates every stage).

    Scale shape (round-8 rewrite): events is scanned ONCE — a single
    step-set-filtered, column-pruned scan, repartitioned by user_id and
    localCheckpointed; every per-step stage derives from that shared
    co-partitioned input, so the per-step filters, the stage joins, and
    the min-aggregates all reuse the user_id partitioning with no
    further exchange of event rows. Each stage's (user, reached_ts)
    table is itself localCheckpointed before reuse (it feeds BOTH the
    next stage's join and its own count — without the cut, stage k's
    lineage re-derives every earlier stage, an O(steps²) recompute).
    Stage tables only SHRINK down the funnel; no per-user event
    collection, no window over raw events, nothing quadratic. The
    final conversion table is |steps| rows.

    Output: (step_index, step, n_users, conversion) with conversion
    relative to the first step.
    """
    if len(steps) < 2:
        raise ValueError("funnel_analysis: need at least two steps")
    base = (
        events.filter(F.col("event_type").isin(list(steps)))
        .select("user_id", "ts", "event_type")
        .repartition("user_id")
        .localCheckpoint(eager=False)
    )
    stage_counts = []
    prev = None
    for i, step in enumerate(steps):
        ev = base.filter(F.col("event_type") == step).select(
            "user_id", "ts"
        )
        if prev is None:
            stage = ev.groupBy("user_id").agg(
                F.min("ts").alias("reached_ts")
            )
        else:
            stage = (
                ev.join(prev, "user_id")
                .filter(F.col("ts") > F.col("reached_ts"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("reached_ts"))
            )
        stage = stage.localCheckpoint(eager=False)
        prev = stage
        stage_counts.append(
            stage.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).cast("long").alias("step_index"),
                F.lit(step).alias("step"),
                F.col("n_users").cast("long"),
            )
        )
    out = stage_counts[0]
    for df in stage_counts[1:]:
        out = out.unionByName(df)
    w = Window.orderBy("step_index").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return out.select(
        "step_index",
        "step",
        "n_users",
        F.round(
            F.col("n_users") / F.first("n_users").over(w), 4
        ).alias("conversion"),
    )


#: Promo-revenue (TPC-H Q14 shape) parameters: the evaluation ship
#: month and the part type counted as promotional (the testdata's
#: ``p_type`` is the bare category, so equality instead of Q14's
#: ``LIKE 'PROMO%'`` — same conditional-aggregate shape).
PROMO_MONTH_START = "1997-03-01 00:00:00"
PROMO_MONTH_END = "1997-04-01 00:00:00"
PROMO_TYPE = "PROMO"


def promo_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    start: str = PROMO_MONTH_START,
    end: str = PROMO_MONTH_END,
    promo_type: str = PROMO_TYPE,
) -> DataFrame:
    """TPC-H-Q14-shaped query: the share of one ship-month's revenue
    that came from promotional parts — the canonical conditional
    aggregate over a fact⋈dimension join (CASE inside SUM, one pass).

    Scale shape: BOTH month bounds reach the lineitem parquet scan
    (row-group pruning cuts a 100 TB fact table to one month before any
    join); part joins on partkey with NO hint — part is a base table
    that grows with scale factor, so forcing a broadcast would repeat
    the ``large_orders`` r7 defect; AQE sizes it at runtime (broadcast
    at test SF, shuffle at warehouse scale). Both revenue terms are
    exact decimal sums folded in ONE aggregate, so the percentage
    cannot 1-ulp-drift between engines or partitionings.

    Output: one row (promo_revenue, total_revenue, promo_share_pct).
    """
    cut0 = F.to_timestamp(F.lit(start))
    cut1 = F.to_timestamp(F.lit(end))
    li = lineitem.filter(
        (F.col("l_shipdate") >= cut0) & (F.col("l_shipdate") < cut1)
    ).select("l_partkey", "l_extendedprice", "l_discount")
    j = li.join(
        part.select("p_partkey", "p_type"),
        li.l_partkey == F.col("p_partkey"),
    )
    rev = (
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return j.agg(
        F.expr(
            f"CAST(SUM(CASE WHEN p_type = '{promo_type}' THEN {rev}"
            f" ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)"
        ).alias("promo_revenue"),
        F.expr(f"CAST(SUM({rev}) AS DOUBLE)").alias("total_revenue"),
    ).select(
        F.round("promo_revenue", 4).alias("promo_revenue"),
        F.round("total_revenue", 4).alias("total_revenue"),
        F.round(
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"),
            4,
        ).alias("promo_share_pct"),
    )


#: Top-supplier (TPC-H Q15 shape) evaluation quarter.
TOP_SUPPLIER_START = "1997-01-01 00:00:00"
TOP_SUPPLIER_END = "1997-04-01 00:00:00"


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    start: str = TOP_SUPPLIER_START,
    end: str = TOP_SUPPLIER_END,
) -> DataFrame:
    """TPC-H-Q15-shaped query: the supplier(s) with the maximum revenue
    over one quarter — the classic aggregate-then-argmax-then-join
    (Q15's revenue view + ``WHERE total_revenue = (SELECT max ...)``).

    Scale shape: the quarter predicate reaches the lineitem scan; ONE
    supplier-keyed map-side-combined aggregate reduces the fact table
    to |suppliers| rows, and that keys-sized table is localCheckpointed
    because BOTH consumers (the argmax fold and the equality filter)
    would otherwise re-derive it — i.e. scan the fact table twice; the
    max is a one-row fold broadcast back (scalar crossJoin, not a
    self-join); the equality filter compares EXACT DECIMAL revenues —
    the max boundary cannot 1-ulp-flip, which matters because a flip
    here changes the result SET, not a digit. The final supplier join
    carries only the winning key(s), so AQE broadcasts the winners into
    the supplier scan — never the reverse.

    Output: (s_suppkey, s_name, total_revenue), ties all reported.
    """
    cut0 = F.to_timestamp(F.lit(start))
    cut1 = F.to_timestamp(F.lit(end))
    rev = (
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (1 - CAST(l_discount AS DECIMAL(18,2))))"
    )
    per = (
        lineitem.filter(
            (F.col("l_shipdate") >= cut0) & (F.col("l_shipdate") < cut1)
        )
        .groupBy("l_suppkey")
        .agg(F.expr(rev).alias("rev"))
        .localCheckpoint(eager=False)
    )
    mx = per.agg(F.max("rev").alias("mx"))
    winners = per.crossJoin(F.broadcast(mx)).filter(
        F.col("rev") == F.col("mx")
    )
    return (
        winners.join(
            supplier.select("s_suppkey", "s_name"),
            winners.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev").cast("double"), 4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


#: Brand-band (TPC-H Q19 shape) disjunctive predicate groups:
#: (brand, min_size, max_size, min_qty, max_qty), all bounds inclusive.
BRAND_BANDS = (
    ("Brand#12", 1, 5, 1, 11),
    ("Brand#23", 1, 10, 10, 20),
    ("Brand#24", 1, 15, 20, 30),
)


def brand_revenue_bands(
    lineitem: DataFrame, part: DataFrame, bands=BRAND_BANDS
) -> DataFrame:
    """TPC-H-Q19-shaped query: revenue per (brand, size-range,
    quantity-range) predicate group, the groups OR'd together — the
    canonical disjunctive multi-attribute filter over a fact⋈dimension
    join.

    Scale shape — the hand-hoisted coarse bound is the point of Q19:
    the per-band quantity conditions live on the join OUTPUT (they pair
    brand with qty, so no engine can push them alone), but their GLOBAL
    envelope (min of the lower bounds ≤ l_quantity ≤ max of the upper
    bounds) is band-independent and is applied directly to the lineitem
    scan, where it prunes row groups before the join; the same envelope
    on p_size prunes the part side. The fine disjunction then runs
    post-join as one codegen'd predicate. Revenue per band is an exact
    decimal sum grouped by brand (bands are brand-keyed, so the group
    key is the brand).

    Output: (p_brand, n_items, revenue), one row per band with matches.
    """
    qty_lo = min(b[3] for b in bands)
    qty_hi = max(b[4] for b in bands)
    size_lo = min(b[1] for b in bands)
    size_hi = max(b[2] for b in bands)
    li = lineitem.filter(
        (F.col("l_quantity") >= qty_lo) & (F.col("l_quantity") <= qty_hi)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    pt = part.filter(
        (F.col("p_size") >= size_lo) & (F.col("p_size") <= size_hi)
    ).select("p_partkey", "p_brand", "p_size")
    fine = None
    for brand, slo, shi, qlo, qhi in bands:
        cond = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= slo)
            & (F.col("p_size") <= shi)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi)
        )
        fine = cond if fine is None else (fine | cond)
    return (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .filter(fine)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
            ).alias("revenue"),
        )
        .select("p_brand", "n_items", F.round("revenue", 4).alias("revenue"))
    )


#: Small-order gate (TPC-H Q17 shape) brand under test.
AVG_QTY_BRAND = "Brand#12"


def avg_quantity_gate(
    lineitem: DataFrame, part: DataFrame, brand: str = AVG_QTY_BRAND
) -> DataFrame:
    """TPC-H-Q17-shaped query: yearly revenue lost to small orders —
    line items of one brand's parts whose quantity is below 20% of that
    PART's average quantity (``l_quantity < 0.2 * avg(l_quantity)`` per
    part), summed and divided by 7. The classic correlated scalar
    subquery, DECORRELATED: the naive per-row subquery re-scans
    lineitem once per row (quadratic); here the per-part average comes
    from the SAME single scan the gated rows do.

    Scale shape: the brand filter cuts part to ~1/|brands| and that key
    set broadcast-joins into the ONE lineitem scan (partkey-pruned
    before any shuffle); the per-part average is a window over the
    brand slice — one partkey-keyed exchange of the already-reduced
    slice, no second fact scan, no per-key threshold table held on the
    driver. The gate itself is integer-exact cross-engine:
    ``q < 0.2·avg`` is evaluated as ``5·q·cnt < sum_qty`` (quantities
    are integral), so no IEEE average can 1-ulp-flip a boundary row.
    The revenue sum is exact DECIMAL, cast to double only at the end.

    Output: one row (avg_yearly).
    """
    sel = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("q"),
        "l_extendedprice",
    ).join(F.broadcast(sel), F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    gated = (
        li.withColumn("sum_qty", F.sum("q").over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("q") * 5 * F.col("cnt") < F.col("sum_qty"))
    )
    return gated.agg(
        F.round(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))"
                " AS DOUBLE)"
            )
            / 7.0,
            4,
        ).alias("avg_yearly")
    )


#: Waiting-supplier (TPC-H Q21 shape) lateness threshold: a line item
#: is late when it shipped more than this many days after the order
#: date (the testdata has no commit/receipt dates; ship delay is the
#: same multi-EXISTS shape on the columns that exist — ~49% of 'F'
#: lineitems are late at this cut, so neither branch degenerates).
WAITING_LATE_DAYS = 60
WAITING_TOPN = 100


def waiting_supplier(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    late_days: int = WAITING_LATE_DAYS,
) -> DataFrame:
    """TPC-H-Q21-shaped query: suppliers who were the SOLE late
    supplier on multi-supplier finalized orders — for each supplier,
    count orders where (a) this supplier shipped late, (b) ANOTHER
    supplier participated (EXISTS), and (c) NO other supplier was also
    late (NOT EXISTS). The classic EXISTS/NOT-EXISTS cascade where a
    naive plan goes quadratic (a subquery re-scan per probe row).

    Scale shape: lineitem joins orders('F') ONCE (orderkey-keyed
    shuffle, status filter pushed to the orders scan), reduced to a
    per-(order, supplier) participation table with a had-late flag —
    one map-side-combined groupBy; that table is localCheckpointed
    because THREE consumers (the late probes, the EXISTS side, the
    NOT-EXISTS side) would each re-run the fact join. The cascade is
    then a LEFT-SEMI and a LEFT-ANTI self-join on the order key with
    the different-supplier condition INSIDE the join predicate — no
    count-distinct re-aggregation of lineitem, no correlated re-scan;
    both joins are participation-table-sized (≪ lineitem, one row per
    order×supplier). The supplier name join carries only the waiting
    keys, so AQE broadcasts it.

    Output: (s_name, numwait), numwait desc, name asc, top 100 —
    deterministic under the total order.
    """
    fact = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate")
                + F.expr(f"INTERVAL {int(late_days)} DAYS")
            ).alias("is_late"),
        )
    )
    part_tbl = (
        fact.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("late"))
        .localCheckpoint(eager=False)
    )
    l1 = part_tbl.filter(F.col("late")).select("l_orderkey", "l_suppkey")
    l2 = part_tbl.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = part_tbl.filter(F.col("late")).select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    waiting = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("k2"))
        & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("k3"))
        & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        waiting.join(
            supplier.select("s_suppkey", "s_name"),
            waiting.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(WAITING_TOPN)
    )


#: Idle-customer (TPC-H Q22 shape) exclusion class: the order kind the
#: anti-join proves ABSENT. (Q22's customers-with-no-orders set is
#: empty in the synthetic data — every customer has orders — so the
#: stand-in is "never placed an urgent order": same scalar-subquery +
#: NOT-EXISTS cascade, ~5% of customers qualifying.)
IDLE_EXCLUDED_PRIORITY = "1-URGENT"


def idle_customers(
    customer: DataFrame,
    orders: DataFrame,
    excluded_priority: str = IDLE_EXCLUDED_PRIORITY,
) -> DataFrame:
    """TPC-H-Q22-shaped query: well-funded but inactive customers —
    per market segment, how many customers hold an above-average
    account balance yet never placed an urgent order. Two classic
    correlated shapes in one query, both decorrelated: the scalar
    average subquery becomes a 1-row aggregate broadcast back, and the
    NOT EXISTS becomes a LEFT-ANTI join.

    Scale shape: the balance average folds customer to ONE row
    (map-side combined) and crossJoin-broadcasts back — no per-row
    subquery; the anti-join ships only ``o_custkey`` of the excluded
    class (priority filter pushed to the orders scan), and AQE
    broadcasts it when small. The above-average comparison is
    integer-exact cross-engine: ``bal > sum/n`` is evaluated as
    ``bal·n > sum`` on DECIMAL(18,2) — no IEEE average can 1-ulp-flip
    a boundary customer.

    Output: (c_mktsegment, n_custs, total_acctbal), segment-ordered.
    """
    stats = customer.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("_sum_bal"),
        F.count(F.lit(1)).alias("_n_bal"),
    )
    urgent = orders.filter(
        F.col("o_orderpriority") == excluded_priority
    ).select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(stats))
        .filter(
            F.col("c_acctbal").cast("decimal(18,2)") * F.col("_n_bal")
            > F.col("_sum_bal")
        )
        .join(urgent, F.col("c_custkey") == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_custs"),
            F.expr(exact_sum_double("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


#: Nation-revenue-share (TPC-H Q11 shape) HAVING threshold, as an
#: exact fraction NUM/DENOM (1/20 = 5%: above a uniform 25-nation
#: share, so only above-average nations survive — the Q11 "important
#: share" cut).
SHARE_NUM = 1
SHARE_DENOM = 20


def nation_revenue_share(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    num: int = SHARE_NUM,
    denom: int = SHARE_DENOM,
) -> DataFrame:
    """TPC-H-Q11-shaped query: supplier nations carrying an "important"
    share of total revenue — group totals kept only where they exceed
    ``num/denom`` of the grand total. The classic HAVING-vs-scalar-
    subquery shape; the naive plan scans the fact table twice (once
    per aggregate).

    Scale shape: lineitem is scanned ONCE — revenue reduces to a
    ≤|nations|-row group table (supplier dim joined via AQE, nation
    broadcast), and the grand total RE-AGGREGATES that tiny table
    rather than re-scanning the fact; it folds back as a 1-row
    broadcast. The HAVING boundary is integer-exact cross-engine:
    ``rev > (num/denom)·total`` is evaluated as
    ``rev·denom > total·num`` on exact DECIMAL sums — the one place a
    double threshold could flip a nation in or out.

    Output: (n_name, revenue, share), revenue desc.
    """
    rev_dec = f"SUM({DISCOUNTED_PRICE})"
    by_nation = (
        lineitem.select("l_suppkey", "l_extendedprice", "l_discount")
        .join(
            supplier.select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.expr(rev_dec).alias("_rev"))
        # localCheckpoint: TWO consumers (the grand total and the
        # HAVING filter) would otherwise each re-run the fact join —
        # the exact double-scan this operator exists to avoid; the
        # checkpointed table is ≤|nations| rows (the top_supplier
        # pattern)
        .localCheckpoint(eager=False)
    )
    total = by_nation.agg(F.sum("_rev").alias("_total"))
    return (
        by_nation.crossJoin(F.broadcast(total))
        .filter(F.col("_rev") * denom > F.col("_total") * num)
        .select(
            "n_name",
            F.col("_rev").cast("double").alias("revenue"),
            F.round(
                F.col("_rev").cast("double") / F.col("_total").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


#: Min-cost-supplier (TPC-H Q2 shape) region under test and report cap.
MIN_COST_REGION = "EUROPE"
MIN_COST_TOPN = 100


def min_cost_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    region_name: str = MIN_COST_REGION,
) -> DataFrame:
    """TPC-H-Q2-shaped query: for each part, the region supplier
    offering the best (minimum) observed unit price. Q2's correlated
    ``= (SELECT min(cost) …)`` subquery, decorrelated ONE STEP
    FURTHER than the textbook rewrite: instead of computing a per-part
    min table and joining it back to find the rows that achieve it
    (two passes over the slice), the argmin PAYLOAD rides inside the
    min itself — ``min(struct(price, suppkey))`` is a single map-side-
    combined aggregate whose struct comparison total-orders ties by
    supplier key, so the join-back pass disappears entirely.

    Scale shape: region→nation→supplier reduces to a region-supplier
    slice (dimension-sized, broadcast into the one lineitem scan,
    pruning it before any shuffle); the per-part argmin is the only
    fact-keyed exchange; supplier/part name joins see only the
    ≤|parts|-row result. Unit price is one IEEE division of two
    doubles — identical operands give the identical quotient on every
    engine, and no sums accumulate, so the min is cross-engine stable.

    Output: (p_partkey, p_name, s_name, n_name, unit_price) — price
    desc, partkey asc, top ``MIN_COST_TOPN``.
    """
    nk = nation.join(
        F.broadcast(region.filter(F.col("r_name") == region_name)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    sups = supplier.join(
        F.broadcast(nk), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "n_name")
    best = (
        lineitem.select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(
            F.broadcast(sups.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "l_partkey",
            F.struct(
                (F.col("l_extendedprice") / F.col("l_quantity")).alias("price"),
                F.col("l_suppkey").alias("suppkey"),
            ).alias("_cand"),
        )
        .groupBy("l_partkey")
        .agg(F.min("_cand").alias("_best"))
        .select(
            "l_partkey",
            F.col("_best.price").alias("_price"),
            F.col("_best.suppkey").alias("_suppkey"),
        )
    )
    return (
        best.join(
            F.broadcast(sups), F.col("_suppkey") == F.col("s_suppkey")
        )
        .join(
            part.select("p_partkey", "p_name"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round(F.col("_price"), 4).alias("unit_price"),
        )
        .orderBy(F.desc("unit_price"), F.asc("p_partkey"))
        .limit(MIN_COST_TOPN)
    )


#: Surplus-supplier (TPC-H Q20 shape) knobs: part-name token, ship
#: year window, nation under audit, and the availability emulation
#: modulus (the testdata has no partsupp table; ``p_size % AVAIL_MOD``
#: stands in for ``ps_availqty`` — deterministic, integer, and
#: selective: ~half the sf0.01 suppliers qualify, and in NATION_19
#: only 2 of 6 do, so the boundary genuinely discriminates).
SURPLUS_PART_TOKEN = "widget"
SURPLUS_YEAR = 1996
SURPLUS_NATION = "NATION_19"
AVAIL_MOD = 5


def surplus_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = SURPLUS_NATION,
    part_token: str = SURPLUS_PART_TOKEN,
    year: int = SURPLUS_YEAR,
) -> DataFrame:
    """TPC-H-Q20-shaped query: suppliers in one nation holding SURPLUS
    stock of promo-class parts — ``availqty > 0.5 × that (part,
    supplier)'s shipped quantity over one year``. The classic nested
    EXISTS-in-IN with a correlated scalar aggregate, where naive plans
    re-scan lineitem once per candidate pair. The testdata has no
    partsupp table, so availability is emulated as ``p_size %
    AVAIL_MOD`` (deterministic per part; rides the part scan — no
    extra fact scan). Pairs with no shipments in the window are
    excluded, exactly as Q20's NULL scalar subquery excludes them.

    Scale shape: ONE lineitem scan, pruned BEFORE its shuffle by both
    broadcast dimension slices (promo-part keys + the nation's
    supplier keys — Q20's decorrelation); the correlated aggregate
    becomes one per-(part, supplier) exact-DECIMAL sum over that
    pruned slice; the surplus cut is integer-exact (``2·avail >
    sum_qty`` on decimals — no 0.5× double can 1-ulp-flip a pair);
    qualifying pairs collapse to supplier keys that LEFT-SEMI the
    dimension-sized supplier slice. No correlated re-scan anywhere.

    Output: (s_suppkey, s_name), name asc — deterministic.
    """
    nk = nation.filter(F.col("n_name") == nation_name).select("n_nationkey")
    sups = supplier.join(
        F.broadcast(nk), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    parts = (
        part.filter(F.col("p_name").like(f"%{part_token}%"))
        .select(
            "p_partkey",
            (F.col("p_size") % AVAIL_MOD)
            .cast("decimal(18,2)")
            .alias("_avail"),
        )
    )
    pairs = (
        lineitem.select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .filter(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(sups.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey", "_avail")
        .agg(
            F.expr("SUM(CAST(l_quantity AS DECIMAL(18,2)))").alias("_sum_qty")
        )
        .filter(F.col("_avail") * 2 > F.col("_sum_qty"))
    )
    return (
        sups.join(
            pairs.select("l_suppkey").distinct(),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy(F.asc("s_name"), F.asc("s_suppkey"))
    )


#: Local-supplier-volume (TPC-H Q5 shape) region and order-year.
LOCAL_REGION = "ASIA"
LOCAL_YEAR = 1996


def local_supplier_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = LOCAL_REGION,
    year: int = LOCAL_YEAR,
) -> DataFrame:
    """TPC-H-Q5-shaped query: revenue per nation from orders where the
    customer and the line's supplier live in the SAME nation of one
    region — the classic join CYCLE (customer→orders→lineitem→supplier
    closes back on nationkey), where join order decides whether the
    same-nation predicate prunes early or arrives after the damage.

    Scale shape: the region's nations broadcast into BOTH dimension
    slices up front, so customers and suppliers are nation-pruned
    before any fact is touched; orders carries the pushed year filter
    and joins its (pruned) customers first — the fact side entering
    the big lineitem join is already region-local. The same-nation
    cycle closes INSIDE the supplier join condition (suppkey AND
    nationkey), not as a post-join filter, so mismatched-nation rows
    never materialize. Revenue is the exact-decimal money idiom;
    group keys are ≤|nations| rows.

    Output: (n_name, revenue), revenue desc then n_name asc.
    """
    nk = nation.join(
        F.broadcast(region.filter(F.col("r_name") == region_name)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    custs = customer.join(
        F.broadcast(nk.select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_nationkey")
    sups = supplier.join(
        F.broadcast(nk.select(F.col("n_nationkey").alias("_snk"))),
        F.col("s_nationkey") == F.col("_snk"),
    ).select("s_suppkey", "s_nationkey")
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    return (
        ords.join(custs, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            lineitem.select(
                "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            sups,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nk), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.expr(
                f"CAST(SUM({DISCOUNTED_PRICE}) AS DOUBLE)"
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


#: Forecast-revenue (TPC-H Q6 shape) knobs: ship-year, discount band
#: (exact-decimal bounds), and quantity ceiling.
FORECAST_YEAR = 1996
FORECAST_DISC_LO = "0.05"
FORECAST_DISC_HI = "0.07"
FORECAST_MAX_QTY = 24


def forecast_revenue(
    lineitem: DataFrame,
    year: int = FORECAST_YEAR,
    max_qty: int = FORECAST_MAX_QTY,
) -> DataFrame:
    """TPC-H-Q6-shaped query: revenue increase if discounts in a band
    were eliminated — a pure single-table filter + global aggregate.
    The shape exists to prove the FILTERS reach the scan: at 100 TB
    this query is a row-group-pruned columnar scan of four columns and
    nothing else; any shuffle or join in the plan is a bug.

    The discount band compares on DECIMAL(18,2) — discounts are
    cent-quantized doubles, and ``0.05 <= double`` boundaries are
    exactly the rows a binary-vs-decimal disagreement would flip.
    Revenue multiplies exact decimals (price × discount).

    Output: 1 row (revenue, n_lines).
    """
    disc = "CAST(l_discount AS DECIMAL(18,2))"
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            & (F.col("l_quantity") < max_qty)
        )
        .filter(
            F.expr(
                f"{disc} >= {FORECAST_DISC_LO}"
                f" AND {disc} <= {FORECAST_DISC_HI}"
            )
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
                f" * {disc}) AS DOUBLE)"
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


#: Returned-item report (TPC-H Q10 shape): quarter start + report cap.
RETURNED_QUARTER = "1996-10-01"
RETURNED_TOPN = 20


def returned_top_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    quarter_start: str = RETURNED_QUARTER,
) -> DataFrame:
    """TPC-H-Q10-shaped query: customers who returned the most revenue
    in one quarter — the returned-item ranking report.

    Scale shape: BOTH fact filters are pushed to their scans (the
    quarter window on orders, ``l_returnflag = 'R'`` on lineitem)
    before the order-key equi-join — the only fact×fact shuffle; the
    customer join sees only the quarter's aggregated-down rows
    (AQE-sized), nation broadcasts, and the top-20 is
    ``orderBy().limit()`` — TakeOrderedAndProject, each partition
    forwards its local top rows, no global sort. Revenue is the
    exact-decimal money idiom; the (revenue desc, custkey asc) order
    is total, so the report boundary is deterministic.

    Output: (c_custkey, c_name, revenue, c_acctbal, n_name).
    """
    q0 = F.lit(quarter_start).cast("timestamp")
    ords = orders.filter(
        (F.col("o_orderdate") >= q0)
        & (F.col("o_orderdate") < F.expr(
            f"TIMESTAMP '{quarter_start}' + INTERVAL 3 MONTHS"
        ))
    ).select("o_orderkey", "o_custkey")
    returned = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        ords.join(returned, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.expr(f"SUM({DISCOUNTED_PRICE})").alias("_rev"))
        .join(
            customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            F.col("_rev").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(RETURNED_TOPN)
    )


#: Supplier-variety report (TPC-H Q16 shape) exclusions: brand, type
#: prefix, admissible size set, and the audit-flag emulation (the
#: testdata has no s_comment for Q16's complaints filter; flagging
#: every 10th supplier key is deterministic and portable).
VARIETY_EXCL_BRAND = "Brand#15"
VARIETY_EXCL_TYPE_PREFIX = "PROM"
VARIETY_SIZES = (1, 4, 7, 11, 15, 20, 25, 30)
VARIETY_FLAG_MOD = 10


def part_supplier_variety(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """TPC-H-Q16-shaped query: how many distinct suppliers can furnish
    each admissible (brand, type, size) part class, excluding one
    brand, one type family, and audit-flagged suppliers — the
    supplier-diversity report. The testdata has no partsupp or
    s_comment, so supply relationships are the observed distinct
    (part, supplier) pairs in lineitem and Q16's complaints filter is
    emulated as ``s_suppkey % VARIETY_FLAG_MOD = 0``.

    Scale shape: the part exclusions (<> brand, NOT LIKE type, size
    IN set) are pushed to the part scan and the surviving slice
    broadcasts INTO the one lineitem scan, pruning it before the
    distinct-pair shuffle (the only fact-keyed exchange); flagged
    suppliers are a dimension-sized broadcast LEFT-ANTI; the
    count-distinct re-keys the already-distinct pair table by part
    class, so no expanded distinct state exists anywhere.

    Output: (p_brand, p_type, p_size, supplier_cnt), cnt desc then
    keys asc — a total order.
    """
    parts = (
        part.filter(
            (F.col("p_brand") != VARIETY_EXCL_BRAND)
            & ~F.col("p_type").like(f"{VARIETY_EXCL_TYPE_PREFIX}%")
            & F.col("p_size").isin(*VARIETY_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    flagged = supplier.filter(
        F.col("s_suppkey") % VARIETY_FLAG_MOD == 0
    ).select("s_suppkey")
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(flagged),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count(F.lit(1)).cast("long").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"),
            F.asc("p_brand"),
            F.asc("p_type"),
            F.asc("p_size"),
        )
    )


#: Bilateral-trade (TPC-H Q7 shape) knobs: the two trading nations and
#: the inclusive ship-year window.
TRADE_NATION_A = "NATION_3"
TRADE_NATION_B = "NATION_4"
TRADE_YEAR_LO = 1996
TRADE_YEAR_HI = 1997


def nation_trade_flows(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = TRADE_NATION_A,
    nation_b: str = TRADE_NATION_B,
) -> DataFrame:
    """TPC-H-Q7-shaped query: revenue shipped between two nations in
    BOTH directions (supplier nation → customer nation), by ship year
    — the bilateral-trade report whose textbook form carries a
    disjunctive pair predicate ``(A,B) OR (B,A)``.

    Scale shape: the disjunction never runs — BOTH dimension slices
    are pre-pruned to the two nations by a broadcast of the 2-row
    nation slice, so after the supplier and customer joins only
    four (supp, cust) nation pairs can exist and the OR collapses to
    ``supp_nation <> cust_nation``. The ship-year window rides the
    lineitem scan; the supplier broadcast prunes the fact BEFORE the
    order-key shuffle (its only wide exchange); revenue is the
    exact-decimal money idiom over ≤ 2·2·|years| group keys.

    Output: (supp_nation, cust_nation, l_year, revenue), keys asc.
    """
    nk = nation.filter(
        F.col("n_name").isin(nation_a, nation_b)
    ).select("n_nationkey", "n_name")
    sups = supplier.join(
        F.broadcast(nk.select(
            F.col("n_nationkey").alias("_snk"),
            F.col("n_name").alias("supp_nation"),
        )),
        F.col("s_nationkey") == F.col("_snk"),
    ).select("s_suppkey", "supp_nation")
    custs = customer.join(
        F.broadcast(nk.select(
            F.col("n_nationkey").alias("_cnk"),
            F.col("n_name").alias("cust_nation"),
        )),
        F.col("c_nationkey") == F.col("_cnk"),
    ).select("c_custkey", "cust_nation")
    fact = (
        lineitem.filter(
            (F.col("l_shipdate")
             >= F.lit(f"{TRADE_YEAR_LO}-01-01").cast("timestamp"))
            & (F.col("l_shipdate")
               < F.lit(f"{TRADE_YEAR_HI + 1}-01-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            "l_extendedprice",
            "l_discount",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .join(F.broadcast(sups), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        fact.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(custs, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.expr(
                f"CAST(SUM({DISCOUNTED_PRICE}) AS DOUBLE)"
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


#: Market-share (TPC-H Q8 shape) knobs: the market region, the nation
#: whose share is measured, the part class, and the order-year window.
SHARE_REGION = "ASIA"
SHARE_NATION = "NATION_7"
SHARE_PART_TYPE = "ECONOMY"
SHARE_YEAR_LO = 1996
SHARE_YEAR_HI = 1997


def market_share(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = SHARE_NATION,
) -> DataFrame:
    """TPC-H-Q8-shaped query: one nation's share of a region's market
    for one part class, by order year — the conditional-aggregate
    ratio ``sum(case supp_nation = target) / sum(all)``.

    Scale shape: the part-class slice broadcasts INTO the lineitem
    scan (the most selective prune, before any shuffle); the region's
    customers semi-prune the year-windowed orders; the supplier join
    carries only a boolean ``is_target`` (the nation 25-row broadcast
    resolves it — no second nation join after the fact). Numerator
    and denominator are EXACT decimal sums; the share is one IEEE
    division of exactly-equal operands on any engine — deliberately
    NOT rounded, because rounding a ratio is the only place this
    query could diverge cross-engine.

    Output: (o_year, nation_revenue, total_revenue, mkt_share),
    year asc.
    """
    is_target = (F.col("n_name") == target_nation).alias("is_target")
    sups = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", is_target)
    custs = customer.join(
        F.broadcast(
            nation.join(
                F.broadcast(
                    region.filter(F.col("r_name") == SHARE_REGION)
                ),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select(F.col("n_nationkey").alias("_cnk"))
        ),
        F.col("c_nationkey") == F.col("_cnk"),
        "left_semi",
    ).select("c_custkey")
    ords = (
        orders.filter(
            (F.col("o_orderdate")
             >= F.lit(f"{SHARE_YEAR_LO}-01-01").cast("timestamp"))
            & (F.col("o_orderdate")
               < F.lit(f"{SHARE_YEAR_HI + 1}-01-01").cast("timestamp"))
        )
        .join(custs, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
    )
    fact = (
        lineitem.select(
            "l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount",
        )
        .join(
            F.broadcast(
                part.filter(F.col("p_type") == SHARE_PART_TYPE)
                .select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(sups, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    vol = f"CAST({DISCOUNTED_PRICE} AS DECIMAL(28,4))"
    return (
        fact.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_year")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN is_target THEN {vol}"
                " ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)"
            ).alias("nation_revenue"),
            F.expr(f"CAST(SUM({vol}) AS DOUBLE)").alias("total_revenue"),
        )
        .select(
            "o_year",
            "nation_revenue",
            "total_revenue",
            (F.col("nation_revenue") / F.col("total_revenue"))
            .alias("mkt_share"),
        )
        .orderBy("o_year")
    )


#: Product-profit (TPC-H Q9 shape) knobs: the part-name token and the
#: supply-cost emulation factor (the testdata has no partsupp, so
#: supplycost is a deterministic exact-decimal fraction of the part's
#: retail price — it rides the part scan, no extra fact).
PROFIT_PART_TOKEN = "widget"
PROFIT_COST_FACTOR = "0.6"


def product_profit(
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    part_token: str = PROFIT_PART_TOKEN,
) -> DataFrame:
    """TPC-H-Q9-shaped query: profit per (supplier nation, order year)
    over one part family — revenue minus supply cost, the amount
    expression whose naive double arithmetic drifts per-partition.

    Scale shape: the part-family slice (name LIKE, with its emulated
    ``retailprice × 0.6`` supply cost computed IN the slice)
    broadcasts into the one lineitem scan before any shuffle; the
    supplier→nation label is a dimension join + 25-row broadcast; the
    order join only fetches the year. Revenue and cost are SEPARATE
    exact-decimal sums (``Σ price×(1-disc)`` and ``Σ cost×qty`` —
    every operand cast to a NARROW decimal first, so neither product
    nears the 38-digit cap either engine enforces differently);
    profit subtracts the two exact totals in one IEEE double op,
    identical on any partitioning and any engine.

    Output: (n_name, o_year, profit), nation asc then year desc.
    """
    parts = part.filter(
        F.col("p_name").like(f"%{part_token}%")
    ).select(
        "p_partkey",
        F.expr(
            f"CAST(p_retailprice AS DECIMAL(10,2))"
            f" * CAST({PROFIT_COST_FACTOR} AS DECIMAL(3,2))"
        ).alias("_cost"),
    )
    sups = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    cost_amt = "_cost * CAST(l_quantity AS DECIMAL(10,2))"
    return (
        lineitem.select(
            "l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount", "l_quantity",
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(sups, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select(
                "o_orderkey",
                F.year("o_orderdate").cast("int").alias("o_year"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("n_name", "o_year")
        .agg(
            F.expr(
                f"CAST(SUM({DISCOUNTED_PRICE}) AS DOUBLE)"
                f" - CAST(SUM({cost_amt}) AS DOUBLE)"
            ).alias("profit")
        )
        .orderBy(F.asc("n_name"), F.desc("o_year"))
    )


#: Ship-mode priority split (TPC-H Q12 shape) knobs: the report year,
#: the two audited modes, the late-shipment lag, and the mode
#: emulation (no l_shipmode in the testdata; ``l_linenumber % 3``
#: assigns a deterministic mode per line).
SHIPMODE_YEAR = 1996
SHIPMODE_AUDITED = ("MAIL", "SHIP")
SHIPMODE_LATE_DAYS = 60
SHIPMODE_NAMES = ("AIR", "MAIL", "SHIP")
SHIPMODE_HIGH_PRIO = ("1-URGENT", "2-HIGH")


def shipmode_priority_counts(
    orders: DataFrame,
    lineitem: DataFrame,
    year: int = SHIPMODE_YEAR,
) -> DataFrame:
    """TPC-H-Q12-shaped query: for each audited ship mode, how many
    LATE shipments carried high-priority vs low-priority orders — the
    dual conditional count over a fact×fact join. The testdata has no
    ``l_shipmode``/``l_commitdate``/``l_receiptdate``, so the mode is
    emulated (``l_linenumber % 3``, deterministic per line) and Q12's
    commit<receipt lateness chain becomes one ship-lag predicate
    (``l_shipdate > o_orderdate + LATE_DAYS``) evaluated AFTER the
    join (it references both sides, like Q12's receipt-year filter).

    Scale shape: the ship-year window and the audited-mode predicate
    (on the emulated mode — still a scan-local integer expression)
    prune lineitem BEFORE its only shuffle; orders arrives with just
    (key, date, priority); both CASE counts come from ONE aggregate
    pass, and the result is ≤|modes| rows.

    Output: (ship_mode, high_line_count, low_line_count), mode asc.
    """
    mode = F.element_at(
        F.array(*[F.lit(m) for m in SHIPMODE_NAMES]),
        (F.col("l_linenumber") % len(SHIPMODE_NAMES) + 1).cast("int"),
    )
    lines = (
        lineitem.filter(
            (F.col("l_shipdate")
             >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("l_shipdate")
               < F.lit(f"{year + 1}-01-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_shipdate",
            mode.alias("ship_mode"),
        )
        .filter(F.col("ship_mode").isin(*SHIPMODE_AUDITED))
    )
    high = F.col("o_orderpriority").isin(*SHIPMODE_HIGH_PRIO)
    return (
        lines.join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate")
            + F.expr(f"INTERVAL {SHIPMODE_LATE_DAYS} DAYS")
        )
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


#: Rate-anomaly screen: z threshold on per-(type, hour) event counts.
RATE_Z_THRESHOLD = 2.0


def event_rate_anomalies(
    events: DataFrame, z_threshold: float = RATE_Z_THRESHOLD
) -> DataFrame:
    """Traffic-spike/drop detection: flag (event_type, hour) buckets
    whose event COUNT sits more than ``z_threshold`` standard
    deviations from that type's hourly mean — the ops-side anomaly
    screen (``detect_outliers`` flags odd VALUES; this flags odd
    VOLUMES — bot bursts, outages, replay storms).

    Scale shape: one map-side-combined (type, hour) count collapses
    the stream to a types×hours table; everything after is arithmetic
    on that tiny table (|types|-row exact-integer moments — counts ARE
    integers, so the z boundary cannot drift — broadcast back). Emits
    only the anomalous buckets.

    Output: (event_type, hour, n_events, z_score).
    """
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return rate_anomalies_from_hourly(hourly, z_threshold)


def rate_anomalies_from_hourly(
    hourly: DataFrame, z_threshold: float = RATE_Z_THRESHOLD
) -> DataFrame:
    """The z-screen half of ``event_rate_anomalies`` over a
    precomputed (event_type, hour, n_events) table — factored out so
    the STREAMING monitor (``streaming/anomaly_monitor.py``), which
    maintains the hourly counts incrementally across micro-batches,
    applies the IDENTICAL screen to its accumulated state (one
    definition, streamed == batch pinned)."""
    moments = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    stats = moments.select(
        "event_type",
        mean.alias("mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma"),
    )
    z = (F.col("n_events") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .select(
            "event_type",
            "hour",
            "n_events",
            F.round(z, 4).alias("z_score"),
        )
        .filter(F.abs(F.col("z_score")) > z_threshold)
    )


#: Equi-depth histogram bins over the events value column.
EQUIDEPTH_BINS = 10


def value_equidepth_bins(
    events: DataFrame, n_bins: int = EQUIDEPTH_BINS
) -> DataFrame:
    """Equi-depth (equal-count) histogram of the value column — the
    complement of ``value_histogram``'s equal-WIDTH bins: bin edges at
    the value quantiles, so every bin holds ~1/n of the rows. The form
    optimizers and drift monitors actually want (equal-width bins
    collapse under skew: one bin takes 90% of rows).

    Scale shape: the ``curriculum_phases`` idiom — n−1 exact
    percentile boundaries over the 1e-6-quantized value (one map-side
    agg; integers, so the boundary math is engine-identical) broadcast
    back, then ONE corpus aggregate keyed by the derived bin. No
    global sort, no ntile.

    Output: (bin, n_events, lo, hi), bin in [1, n_bins].
    """
    if n_bins < 2:
        raise ValueError("value_equidepth_bins: need at least two bins")
    q = "CAST(floor(value * 1000000 + 0.5) AS BIGINT)"
    quant = events.select(F.col("value"), F.expr(q).alias("vq"))
    bounds = quant.agg(
        *[
            F.expr(f"percentile(vq, {i / n_bins!r})").alias(f"b{i}")
            for i in range(1, n_bins)
        ]
    )
    bin_col = F.lit(1)
    for i in range(1, n_bins):
        bin_col = bin_col + F.when(
            F.col("vq") > F.col(f"b{i}"), 1
        ).otherwise(0)
    return (
        quant.crossJoin(F.broadcast(bounds))
        .select(bin_col.cast("int").alias("bin"), "value")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


#: Bloom semi-join-reduction demo parameters: the selective order
#: predicate. Filter geometry is NOT fixed here — ``bloom_key_filter``
#: sizes it from the selective key count (capped at the codegen
#: string-constant limit; a saturated filter makes it return None and
#: the prefilter is skipped rather than silently degrading to a
#: no-op tax).
BLOOM_JOIN_PRIORITY = "1-URGENT"
BLOOM_JOIN_START = "1997-01-01 00:00:00"
BLOOM_JOIN_END = "1998-01-01 00:00:00"


def bloom_join_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    priority: str = BLOOM_JOIN_PRIORITY,
    start: str = BLOOM_JOIN_START,
    end: str = BLOOM_JOIN_END,
) -> DataFrame:
    """Fact⋈fact join with Bloom semi-join reduction: revenue of the
    line items belonging to one selective slice of orders (priority ×
    year). The selective side's keys fold into a plan-literal Bloom
    filter that pre-filters the LINEITEM SCAN — so the big fact table
    sheds ~97% of its rows BEFORE the shuffle join instead of after,
    which at 100 TB is the difference between shuffling the whole
    lineitem table and shuffling the slice that can possibly match.
    False positives ride through to the real equi-join and drop there:
    the reduction is result-transparent, and the oracle is the PLAIN
    join — the driver check itself proves transparency.

    (Spark's runtime row-level filtering automates some of this shape;
    the explicit form works on every join and makes the geometry a
    deployment knob.)

    Output: one row (n_orders, n_items, revenue).
    """
    from scholar_stream_spark.operators.dedup import (  # noqa: PLC0415
        bloom_key_filter,
        bloom_prefilter,
    )

    cut0 = F.to_timestamp(F.lit(start))
    cut1 = F.to_timestamp(F.lit(end))
    # localCheckpoint: THREE consumers read the selective key set (the
    # geometry-sizing count inside bloom_key_filter, the filter build,
    # and the final join) — checkpointing pays the orders scan once and
    # stores only the keys-sized slice, distributed across executors
    # (never the driver). Measured at sf0.1: 1.51 s → 1.30 s; at 100 TB
    # it is the difference between 3 fact scans and 1.
    sel = (
        orders.filter(
            (F.col("o_orderpriority") == priority)
            & (F.col("o_orderdate") >= cut0)
            & (F.col("o_orderdate") < cut1)
        )
        .select("o_orderkey")
        .localCheckpoint()
    )
    word_filter, n_bits, n_hashes = bloom_key_filter(sel, "o_orderkey")
    li = lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
    if word_filter is not None:
        li = bloom_prefilter(li, "l_orderkey", word_filter, n_bits, n_hashes)
    return li.join(sel, li.l_orderkey == sel.o_orderkey).agg(
        F.count_distinct("o_orderkey").cast("long").alias("n_orders"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
            ),
            4,
        ).alias("revenue"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov view
    of the event stream): for every consecutive (event, next event)
    pair within a user's timeline, the transition count and the
    conditional probability P(to | from) — the table behind "what do
    users do after X" product questions and behavioral anomaly
    baselines (an improbable transition spike is a bot signature).

    Scale shape: ONE user-keyed window (``lead`` over the user's
    time-ordered events — the sessionize exchange, nothing new), then
    a map-side-combined (from, to) count whose result is
    |type-pairs|-sized; the conditional denominator is a window over
    THAT tiny table. Ordering ties on ts break by event_id (a total
    order), so the matrix is partition- and engine-stable.

    Output: (from_type, to_type, n_transitions, p_transition).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(w_from), 4
        ).alias("p_transition"),
    )


#: Outlier threshold in standard deviations for detect_outliers.
OUTLIER_Z_THRESHOLD = 3.0


def detect_outliers(
    events: DataFrame, z_threshold: float = OUTLIER_Z_THRESHOLD
) -> DataFrame:
    """Per-type z-score outlier detection over the events stream: flag
    events whose ``value`` sits more than ``z_threshold`` standard
    deviations from their event_type's mean — the cheap statistical
    screen that runs before alerting/quarantine (the per-type moments
    are the same exact-decimal machinery as ``stats_by_type``, so the
    flag boundary cannot drift between engines or partitionings).

    Scale shape: ONE map-side-combined per-type moment aggregate
    (|event types| rows) broadcast back onto the scan — the fact table
    is never shuffled; scoring is a stateless projection. Emits ONLY
    the outliers (alert-sized output, not corpus-sized).

    Output: (event_id, event_type, value, z_score).
    """
    # the stats_by_type fixed-point idiom: quantize value to 1e-6
    # integer units (engine-portable floor+0.5) and sum moments as
    # exact decimals — z-scores then derive from the same integers on
    # any engine/partitioning, and z is scale-invariant so the
    # quantized units cancel
    q = "CAST(floor(value * 1000000 + 0.5) AS BIGINT)"
    quant = events.select(
        "event_id", "event_type", "value", F.expr(q).alias("vq")
    )
    moments = quant.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(SUM(CAST(vq AS DECIMAL(38,0))) AS DOUBLE)").alias("s1"),
        F.expr(
            "CAST(SUM(CAST(vq AS DECIMAL(19,0)) * CAST(vq AS DECIMAL(19,0)))"
            " AS DOUBLE)"
        ).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    stats = moments.select(
        "event_type",
        mean.alias("mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma"),
    )
    z = (F.col("vq") - F.col("mu")) / F.col("sigma")
    return (
        quant.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("z_score"),
        )
        .filter(F.abs(F.col("z_score")) > z_threshold)
    )


def revenue_concentration(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Per-nation customer-decile revenue concentration — the Lorenz/
    Pareto table behind "the top 10% of customers carry X% of revenue"
    (account-concentration risk; the same rank-decile discipline as
    ``quality_deciles``, applied to money).

    Deciles are over ACTIVE customers (those with >= 1 order): the
    per-customer rollup is orders-derived, so never-ordered customers
    don't appear — stated semantics, mirrored by the oracle's join
    direction.

    Scale shape: the fact table collapses to a ≤|customers|-row money
    rollup FIRST (map-side combined, the only fact-sized exchange);
    nation broadcasts into the customer slice; ranking runs per nation
    (a nation-keyed sort exchange over the AGGREGATE, never the fact
    table — ``quality_deciles``' justification); the decile rollup and
    the share windows operate on ≤|nations|·10 rows. The per-nation
    ``Window`` is the one ranking form: ``ranked_by_range`` gave the
    same ranks 2.3× slower at sf0.1 (0.59 vs 1.36 s,
    ``BENCH_r18_baseline_local.json``).

    Engine parity: revenue sums are exact DECIMAL(18,2) arithmetic
    end-to-end (``exact_sum_double`` discipline) — ranking ties are
    impossible to get wrong cross-engine because the sort key is exact;
    decile assignment is INTEGER arithmetic ``((rank-1)*10) div n + 1``;
    each share is ONE IEEE division of exactly-summed operands.

    Output: (n_name, decile, n_customers, decile_revenue,
    revenue_share, cum_share), decile 1 = highest-revenue customers.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("rev")
    )
    cust_nat = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_name")
    j = per_cust.join(cust_nat, per_cust.o_custkey == cust_nat.c_custkey)
    w_rank = Window.partitionBy("n_name").orderBy(
        F.desc("rev"), F.asc("o_custkey")
    )
    # n_cust as a windowed count over the SAME n_name partitioning —
    # a groupBy+broadcast-join here forks the plan and re-scans
    # orders for the count subtree (measured: 2 fact scans, 9
    # exchanges → 1 scan, 4 exchanges)
    w_all = Window.partitionBy("n_name")
    ranked = j.select(
        "n_name",
        "rev",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_cust"),
    )
    dec = (
        ranked.withColumn(
            "decile",
            F.expr("CAST(((rk - 1) * 10) DIV n_cust AS INT) + 1"),
        )
        .groupBy("n_name", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev").alias("dec_rev"),
        )
    )
    w_cum = (
        Window.partitionBy("n_name")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("n_name").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return dec.select(
        "n_name",
        "decile",
        "n_customers",
        F.col("dec_rev").cast("double").alias("decile_revenue"),
        F.round(
            F.col("dec_rev").cast("double")
            / F.sum("dec_rev").over(w_tot).cast("double"),
            6,
        ).alias("revenue_share"),
        F.round(
            F.sum("dec_rev").over(w_cum).cast("double")
            / F.sum("dec_rev").over(w_tot).cast("double"),
            6,
        ).alias("cum_share"),
    )


def _norm_rank_key(v):
    """Normalize one key-column value so ``ranked_by_range``'s two key
    spaces hash identically: the Spark ``collect()`` rows of the counts
    pass (python ``None``/``int``/``str``/``datetime``) and the pandas
    groupby keys inside the Arrow kernel (``NaN``/``NaT``/numpy
    scalars; Arrow renders a nullable int64 column as float64, so an
    int key arrives as ``5.0``)."""
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar -> python scalar
        v = v.item()
    try:
        if pd.isna(v):  # NaN / NaT -> the Spark-side None
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, float) and v.is_integer():
        return int(v)  # float64-promoted nullable int key
    return v


def ranked_by_range(
    df: DataFrame,
    key_cols: tuple | list,
    order_cols: tuple | list,
    n_parts: int | None = None,
    rank_col: str = "rn",
    n_col: str | None = None,
) -> DataFrame:
    """Distributed rank-exact ``row_number`` — the ranking of
    ``rfm_segments``, ``segment_migration``, ``vocab_growth`` and
    ``zipf_fit``, whose inputs are not grid-sized: a per-key total-order window
    sorts each key's WHOLE slice in one task (5 event types / 25
    nations / one global order ⇒ single-task sorts at 10⁹ rows); this
    helper computes the IDENTICAL integer ranks with
    ``repartitionByRange`` + per-partition offsets, so the sort runs
    ``n_parts``-way parallel and no task ever holds a key's full slice.

    Mechanics: range-partition and locally sort on (key, order) — the
    total order is contiguous across partition boundaries; one tiny
    aggregate counts rows per (partition, key) (≤ ``n_parts`` + |keys|
    rows by contiguity — bounded driver state); cumulative counts give
    each (partition, key) its rank OFFSET; one Arrow pass then assigns
    ``rank = offset + local position`` — vectorized per batch (pandas
    ``cumcount`` within the batch + a per-key running counter across
    batches), no extra exchange after the range shuffle.

    The (key, order) total order MUST be unique (the family's tiebreak
    discipline) — equal sort keys could otherwise straddle a range
    boundary and make offsets ambiguous. NULL keys are supported: the
    counts pass groups them (Spark groupBy keeps nulls) and the Arrow
    kernel groups with ``dropna=False``, normalizing pandas NaN/NaT
    keys back to ``None`` so both sides hash identically.

    ``n_col``: optionally also attach each key's TOTAL row count (the
    driver already knows it from the offsets pass — saves consumers a
    separate groupBy+broadcast).

    Returns ``df``'s columns + ``rank_col`` (+ ``n_col``), one row per
    input row. Value-identical to the window form (pytest-pinned).
    """
    key_cols = list(key_cols)
    order_cols = list(order_cols)
    sort_cols = key_cols + order_cols
    if n_parts is None:
        n_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    base = (
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # counts pass + rank pass share it
    )
    cnt_rows = base.groupBy("_pid", *key_cols).count().collect()
    # Guard the one genuinely unrepresentable case: Spark's groupBy
    # keeps NULL and NaN as SEPARATE float-key groups, but both arrive
    # in the Arrow kernel as NaN — indistinguishable, so their groups
    # would silently merge (and the second offset assignment would
    # overwrite the first). Detect the mix in the tiny counts rows and
    # refuse loudly.
    na_kinds: dict[str, set] = {k: set() for k in key_cols}
    for r in cnt_rows:
        for k in key_cols:
            v = r[k]
            if v is None:
                na_kinds[k].add("null")
            elif isinstance(v, float) and v != v:
                na_kinds[k].add("nan")
    mixed = [k for k, kinds in na_kinds.items() if len(kinds) == 2]
    if mixed:
        raise ValueError(
            f"ranked_by_range: key column(s) {mixed} contain BOTH "
            f"NULL and NaN — Spark groups them separately but the "
            f"Arrow kernel cannot distinguish them; normalize the "
            f"key (e.g. nanvl/coalesce) first"
        )
    per_key: dict = defaultdict(list)
    for r in cnt_rows:
        per_key[tuple(_norm_rank_key(r[k]) for k in key_cols)].append(
            (r["_pid"], r["count"])
        )
    offsets: dict = {}
    totals: dict = {}
    for key, lst in per_key.items():
        lst.sort()
        acc = 0
        for pid, c in lst:
            offsets[(pid,) + key] = acc
            acc += c
        totals[key] = acc

    out_fields = [f"{fld.name} {fld.dataType.simpleString()}"
                  for fld in df.schema.fields]
    out_fields.append(f"{rank_col} long")
    if n_col is not None:
        out_fields.append(f"{n_col} long")
    out_cols = df.columns

    def kernel(batches):
        seen: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            # -1 sentinels (not np.empty): a group the loop somehow
            # misses must fail the post-loop check loudly, never emit
            # uninitialized memory as a rank
            ranks = np.full(len(pdf), -1, dtype=np.int64)
            nvals = (
                np.full(len(pdf), -1, dtype=np.int64)
                if n_col is not None
                else None
            )
            if key_cols:
                # groupby.indices: ascending row positions per key —
                # rows of a key are contiguous (partition sorted by
                # key, order), so position order IS the local rank
                # order; `seen` carries the running count across this
                # partition's batches. dropna=False: null-key groups
                # rank too (Spark's groupBy kept them in the counts
                # pass), with NaN/NaT normalized back to None so the
                # offsets/totals lookups match the collect()ed keys.
                grp = pdf.groupby(key_cols, sort=False, dropna=False)
                for key, idx in grp.indices.items():
                    k = key if isinstance(key, tuple) else (key,)
                    k = tuple(_norm_rank_key(v) for v in k)
                    ck = (pid,) + k
                    start = seen.get(ck, offsets.get(ck))
                    if start is None:
                        raise KeyError(
                            f"ranked_by_range: no offset for "
                            f"(partition, key)={ck!r} — counts pass "
                            f"and kernel keys diverged"
                        )
                    ranks[idx] = start + np.arange(
                        1, len(idx) + 1, dtype=np.int64
                    )
                    seen[ck] = start + len(idx)
                    if nvals is not None:
                        nvals[idx] = totals[k]
            else:
                start = seen.get((pid,), offsets.get((pid,), 0))
                ranks[:] = start + np.arange(
                    1, len(pdf) + 1, dtype=np.int64
                )
                seen[(pid,)] = start + len(pdf)
                if nvals is not None:
                    nvals[:] = totals.get((), 0)
            if ranks.min() < 1:
                raise AssertionError(
                    "ranked_by_range: unranked rows in batch "
                    f"(pid={pid}) — a group was skipped"
                )
            out = pdf[out_cols].copy()
            out[rank_col] = ranks
            if n_col is not None:
                out[n_col] = nvals
            yield out

    return base.mapInPandas(kernel, ", ".join(out_fields))


#: MAD multiplier for the robust outlier rule (raw MAD units — no
#: 1.4826 normal-consistency constant, so the rule stays exact-integer
#: comparable across engines; 3 raw-MAD ≈ 4.45 sigma on normal data).
MAD_K = 3.0


def mad_outliers(events: DataFrame, k: float = MAD_K) -> DataFrame:
    """Median/MAD robust outlier screen per event type — the companion
    to ``detect_outliers``' z-score: mean/stddev are themselves dragged
    by the outliers they're hunting (one 1000x value inflates sigma
    until nothing else flags), while the median and the median absolute
    deviation have a 50% breakdown point. This is the screen to trust
    on heavy-tailed telemetry.

    Rank-exact discipline (``quality_deciles``): the median is the
    VALUE AT ROW ``(n+1) div 2`` of the (value, event_id) total order —
    the lower median, integer rank arithmetic, so both engines pick the
    SAME event's value; the MAD is the same selection over the
    (|value - med|, event_id) order. No interpolation anywhere, so the
    flag boundary ``|value - med| > k·MAD`` compares engine-identical
    IEEE doubles. Degenerate strata (MAD = 0, >50% identical values)
    flag every deviating row — the correct robust answer there.

    Scale shape: the narrow (id, type, value) projection pins once
    (``localCheckpoint`` — two ranking passes must not re-scan the
    fact table), each pass is a type-keyed sort exchange, and the two
    ≤|types|-row (median, MAD) tables broadcast back into stateless
    filters. Output is alert-sized (outliers only).

    Both passes rank with per-type total-order windows: the same ranks
    via ``ranked_by_range`` were 2.2× slower at sf0.1 (1.00 vs 2.23 s).

    Output: (event_id, event_type, value, med, mad, abs_dev).
    """
    base = (
        events.select("event_id", "event_type", "value")
        .localCheckpoint(eager=False)
    )
    w_n = Window.partitionBy("event_type")
    w_val = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = base.select(
        "event_type",
        "value",
        F.row_number().over(w_val).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    med_tbl = ranked.filter(
        F.col("rn") == F.expr("(n + 1) DIV 2")
    ).select("event_type", F.col("value").alias("med"))
    devs = base.join(F.broadcast(med_tbl), "event_type").withColumn(
        "abs_dev", F.abs(F.col("value") - F.col("med"))
    )
    w_dev = Window.partitionBy("event_type").orderBy("abs_dev", "event_id")
    dev_ranked = devs.select(
        "event_type",
        "abs_dev",
        F.row_number().over(w_dev).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    mad_tbl = dev_ranked.filter(
        F.col("rn") == F.expr("(n + 1) DIV 2")
    ).select("event_type", F.col("abs_dev").alias("mad"))
    return (
        devs.join(F.broadcast(mad_tbl), "event_type")
        .filter(F.col("abs_dev") > F.lit(k) * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            F.round("abs_dev", 4).alias("abs_dev"),
        )
    )


def window_rank_suite(events: DataFrame, n_tiles: int = 4) -> DataFrame:
    """The full analytic ranking-function family in one table — rank,
    dense_rank, percent_rank, cume_dist, ntile — per event over its
    type's value order. Individually trivial; together they are the
    SQL-surface completeness check an analyst porting queries cares
    about, and the determinism rules are worth pinning once:

    - rank/dense_rank/percent_rank/cume_dist order by VALUE ALONE —
      under ties every peer gets the same output, so the result is
      deterministic even though row order within ties is not;
    - ntile is ROW-based (ties split arbitrarily), so it orders by
      (value, event_id) — the repo's total-order discipline — or the
      output would differ run to run.

    percent_rank = (rank-1)/(n-1) and cume_dist = n_peers_leq/n are
    single IEEE divisions of exact integers — engine-identical.
    One type-keyed sort exchange serves both window specs (same
    partitioning, same leading sort key).

    The family is Spark's own window functions: re-deriving it from
    ``ranked_by_range`` row numbers gave the same values 4.2× slower at
    sf0.1 (0.47 vs 1.98 s).

    Output: (event_id, event_type, value, rnk, dense_rnk, pct_rank,
    cume, tile).
    """
    w_val = Window.partitionBy("event_type").orderBy("value")
    w_total = Window.partitionBy("event_type").orderBy(
        "value", "event_id"
    )
    return events.select(
        "event_id",
        "event_type",
        "value",
        F.rank().over(w_val).cast("long").alias("rnk"),
        F.dense_rank().over(w_val).cast("long").alias("dense_rnk"),
        F.round(F.percent_rank().over(w_val), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w_val), 6).alias("cume"),
        F.ntile(n_tiles).over(w_total).cast("long").alias("tile"),
    )


#: Columns in the lineitem correlation matrix (all 2-decimal money/
#: rate/quantity fields — one shared 1e-2 quantum).
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def corr_matrix(lineitem: DataFrame, cols: tuple = CORR_COLS) -> DataFrame:
    """Pearson correlation matrix over the fact table's numeric
    columns in EXACT fixed-point arithmetic — the profiling table a
    modeler reads before trusting any single-column screen
    (``detect_outliers``' moment idiom, extended to cross-moments).

    ``corr`` is scale-invariant per variable, so each column quantizes
    to 1e-2 integer units (portable floor+0.5) and every moment —
    Σx, Σx², Σxy — accumulates as exact DECIMAL(38,0): identical on
    any engine and any partitioning, unlike double sums whose
    round-off is partition-order dependent. The final
    ``(nΣxy − ΣxΣy) / sqrt((nΣx²−(Σx)²)(nΣy²−(Σy)²))`` runs on the
    exact decimals cast to double — a handful of IEEE ops on
    engine-identical operands. (Headroom note: 38 decimal digits cover
    ~1e12 rows of 1e7-unit values; beyond that, widen the quantum —
    the same trade ``stats_by_type`` documents.)

    Scale shape: ONE map-side-combined global aggregate (a single
    14-sum row), then a literal ``stack`` to the 6-pair table — the
    fact table is scanned once and never shuffled.

    Output: (col_a, col_b, corr), pairs in column order.
    """
    quant = lineitem.select(
        *[
            F.expr(
                f"CAST(floor({c} * 100 + 0.5) AS BIGINT)"
            ).alias(f"q_{c}")
            for c in cols
        ]
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in cols:
        aggs.append(
            F.expr(f"SUM(CAST(q_{c} AS DECIMAL(38,0)))").alias(f"s_{c}")
        )
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(
                F.expr(
                    f"SUM(CAST(q_{a} AS DECIMAL(19,0))"
                    f" * CAST(q_{b} AS DECIMAL(19,0)))"
                ).alias(f"s_{a}_{b}")
            )
            if a != b:
                pairs.append((a, b))
    stats = quant.agg(*aggs)

    def corr_expr(a: str, b: str):
        num = F.expr(
            f"CAST(n AS DECIMAL(38,0)) * s_{a}_{b} - s_{a} * s_{b}"
        ).cast("double")
        da = F.expr(
            f"CAST(n AS DECIMAL(38,0)) * s_{a}_{a} - s_{a} * s_{a}"
        ).cast("double")
        db = F.expr(
            f"CAST(n AS DECIMAL(38,0)) * s_{b}_{b} - s_{b} * s_{b}"
        ).cast("double")
        return F.round(num / F.sqrt(da * db), 6)

    sel = stats.select(
        *[
            corr_expr(a, b).alias(f"c_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return sel.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)"
        )
    )


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation — recency (days since the customer's
    last order, against the dataset's max order date as "now"),
    frequency (order count), monetary (exact-decimal revenue) — each
    scored 1..5 by rank-exact GLOBAL quintile (5 = best), rolled up to
    the ≤125 (r, f, m) cells: the classic CRM segmentation table
    ("5-5-5 champions", "1-x-x churned") built with the
    ``quality_deciles`` integer-rank discipline so both engines score
    every customer identically.

    Scoring rule: rank customers by (metric, o_custkey) in the
    quality-DESCENDING direction (most recent / most orders / most
    revenue first), then ``score = 5 − ((rank−1)·5 div n)``. Ties are
    impossible cross-engine ambiguities: recency is integer days,
    frequency integer, monetary exact DECIMAL, and custkey breaks the
    rest.

    Scale shape: the fact table collapses to a ≤|customers|-row
    3-metric aggregate FIRST (one map-side-combined exchange — the
    only fact-sized cost); the three rankings then run over that
    aggregate with ``ranked_by_range`` (range shuffle + per-partition
    offsets), because a global ``Window`` would sort every customer
    in one task.

    Output: (r_score, f_score, m_score, n_customers, total_revenue),
    scores descending-best.
    """
    now_df = orders.agg(F.max("o_orderdate").alias("_now"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias(
                "monetary"
            ),
        )
        .crossJoin(F.broadcast(now_df))
        .select(
            "o_custkey",
            F.datediff(F.col("_now"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # three independent total orders -> ONE metric-tagged range-rank
    # pass (r17 opt): each metric's rows ride the union under a tag
    # key, ranked_by_range ranks WITHIN the tag (its key_cols
    # machinery), and one per-customer rollup pivots the three
    # scores back — 1 range Exchange + 1 offsets collect instead of
    # 3+3, and the three custkey hash joins collapse into the
    # rollup. Descending metrics rank on the NEGATED column; every
    # sort key is exact (long / DECIMAL widened losslessly to
    # DECIMAL(38,2)), so per-metric order — and therefore every
    # integer rank — is that of the metric alone.
    per_cust = per_cust.localCheckpoint(eager=False)
    k38 = "decimal(38,2)"
    tagged = None
    for mid, (metric_col, asc) in enumerate(
        [("recency_days", True), ("frequency", False), ("monetary", False)]
    ):
        key = F.col(metric_col) if asc else -F.col(metric_col)
        sel = per_cust.select(
            F.lit(mid).alias("_m"),
            "o_custkey",
            key.cast(k38).alias("_k"),
            # monetary rides its own metric's rows so the rollup
            # needs NO join back to per_cust
            (
                F.col("monetary")
                if metric_col == "monetary"
                else F.lit(None).cast("decimal(18,2)")
            ).alias("_money"),
        )
        tagged = sel if tagged is None else tagged.unionByName(sel)
    ranked = ranked_by_range(
        tagged, ["_m"], ["_k", "o_custkey"], rank_col="rk", n_col="n"
    )
    score = F.expr("CAST(5 - ((rk - 1) * 5) DIV n AS INT)")

    def _pick(mid: int, name: str):
        return F.max(F.when(F.col("_m") == mid, score)).alias(name)

    scored = ranked.groupBy("o_custkey").agg(
        _pick(0, "r_score"),
        _pick(1, "f_score"),
        _pick(2, "m_score"),
        F.max(F.when(F.col("_m") == 2, F.col("_money"))).alias(
            "monetary"
        ),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.expr("CAST(SUM(monetary) AS DOUBLE)").alias("total_revenue"),
    )


def supplier_hhi(lineitem: DataFrame, supplier: DataFrame,
                 nation: DataFrame) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per nation —
    "is this nation's supply single-sourced?" (procurement-risk
    analytics; HHI = Σ share² over each supplier's revenue share,
    1/n = perfectly even, 1.0 = monopoly).

    Engine parity — the float-summation trap and its exact escape:
    HHI as ``SUM((rev/total)²)`` aggregates DOUBLES, whose round-off
    is partition-order dependent. Algebraically ``Σ(revᵢ/T)² =
    Σ(revᵢ²)/T²``, and revᵢ is an exact DECIMAL(18,2) (the
    ``DISCOUNTED_PRICE`` discipline), so Σrevᵢ² accumulates as exact
    DECIMAL(38,4) and the WHOLE index becomes ONE IEEE division of two
    engine-identical operands. (Headroom: 38 digits cover ~1e9
    suppliers of ~1e12-cent revenue; beyond that, widen the quantum —
    the ``corr_matrix`` trade.)

    Scale shape: the fact table collapses to the ≤|suppliers|-row
    (nation, supplier) revenue rollup first (one map-side-combined
    exchange keyed on suppkey; supplier⋈nation broadcast into the
    rollup), then a ≤|nations|-row second rollup computes n, T, Σrev²
    together — the fact table is scanned once.

    Output: (n_name, n_suppliers, total_revenue, hhi round-6).
    """
    sup_nat = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    # rev re-casts to DECIMAL(18,4) (exact — the sum is scale-4 and
    # fits 14 integer digits by the headroom note) so rev² lands at
    # DECIMAL(37,8), INSIDE the 38-digit cap on both engines; squaring
    # the full-width (38,4) sum would overflow precision and trigger
    # Spark's precision-loss ROUNDING — silently inexact, and
    # differently inexact than DuckDB
    per_sup = (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.expr(
                f"CAST(SUM({DISCOUNTED_PRICE}) AS DECIMAL(18,4))"
            ).alias("rev")
        )
        .join(sup_nat, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        per_sup.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("rev").alias("_t"),
            F.sum(F.expr("rev * rev")).alias("_sq"),
        )
        .select(
            "n_name",
            "n_suppliers",
            F.col("_t").cast("double").alias("total_revenue"),
            F.round(
                F.col("_sq").cast("double")
                / (F.col("_t").cast("double") * F.col("_t").cast("double")),
                6,
            ).alias("hhi"),
        )
    )


#: Pairs reported by the market-basket affinity table.
PART_AFFINITY_TOPK = 50


def part_pair_affinity(
    lineitem: DataFrame, topk: int = PART_AFFINITY_TOPK
) -> DataFrame:
    """Market-basket affinity on the FACT table: the top part pairs by
    order co-occurrence, with lift vs independence — `session_type_lift`'s
    discipline applied to products ("customers who buy A buy B"; the
    cross-sell table). Co-occurrence is per ORDER (the basket), parts
    distinct within it.

    Scale shape: lineitem collapses to one row per order carrying its
    sorted distinct part ARRAY (one order-keyed map-side-combined
    exchange); pairs explode from that array with the nested
    ``transform`` — ≤ |order|²/2 rows per order, and TPC-H-ish orders
    hold ≤ 7 parts, so the pair stream is ~21× orders AT MOST, never
    a parts×parts self-join; per-part basket counts explode from the
    SAME basket sets (each set holds a part once, so the exploded
    count IS the distinct (order, part) count); the final top-K is
    ``orderBy … LIMIT`` — TakeOrderedAndProject, distributed, never a
    global single-task sort. Lift = ``co·N / (cnt_a·cnt_b)`` — one
    IEEE division of exact-integer products.

    Determinism: ties on co_count break by (part_a, part_b) — a unique
    total order, so the LIMIT cut is engine-stable.

    Output: (part_a, part_b, co_count, cnt_a, cnt_b, lift round-6),
    top-K by (co_count desc, part_a, part_b).
    """
    # ONE order-keyed exchange builds the basket table and every other
    # input derives from it (r17 opt, §2.4): the old shape pinned the
    # distinct (order, part) table and re-aggregated it three ways —
    # the basket collect_set already dedups parts within an order, so
    # the distinct's fact-sized exchange was pure overhead, and the
    # checkpointed table shrinks |lineitem| → |orders| rows.
    baskets = (
        lineitem.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=False)
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (a, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "b -> struct(a AS part_a, b AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("co_count"))
    )
    # per-part basket counts: each basket's set holds a part at most
    # once, so exploding the sets and counting IS the distinct
    # (order, part) count; the order total is just the basket count
    # (one tiny aggregate instead of a two-level count_distinct)
    singles = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    n_df = baskets.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    return (
        pairs.join(
            singles.select(
                F.col("l_partkey").alias("part_a"),
                F.col("cnt").alias("cnt_a"),
            ),
            "part_a",
        )
        .join(
            singles.select(
                F.col("l_partkey").alias("part_b"),
                F.col("cnt").alias("cnt_b"),
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_df))
        .select(
            "part_a",
            "part_b",
            "co_count",
            "cnt_a",
            "cnt_b",
            F.round(
                (F.col("co_count") * F.col("n_orders")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("co_count"), "part_a", "part_b")
        .limit(topk)
    )


def customer_order_gaps(orders: DataFrame) -> DataFrame:
    """Reorder-interval profile — per repeat customer, the gaps between
    consecutive orders: the retention signal behind "is this account
    accelerating or going quiet" (`rfm_segments` scores the LAST gap
    via recency; this is the whole history).

    Consecutive = by (o_orderdate, o_orderkey) within customer — the
    orderkey tiebreak makes same-day orders a deterministic sequence
    (gap 0), so both engines difference the SAME neighbor pairs. Gaps
    are integer days (`datediff` of adjacent rows via ``lag``);
    min/max are exact integers; the mean is ONE IEEE division of the
    exact (sum, count) pair.

    Scale shape: one customer-keyed window exchange (|customers| keys —
    massively parallel, no single-task slice; the lag window and the
    rollup share the exchange because groupBy re-keys on the window's
    own partition key). Output ≤|repeat customers| rows; single-order
    customers have no interval and are excluded by contract.

    Output: (o_custkey, n_orders, min_gap_days, max_gap_days,
    avg_gap_days round-4).
    """
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"),
            F.lag("o_orderdate").over(w),
        )
        .cast("long")
        .alias("gap_days"),
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
            # denominator = non-null gaps (n_orders - 1): the first
            # order of each customer carries a NULL gap by construction
            F.round(
                F.sum("gap_days").cast("double")
                / F.count("gap_days").cast("double"),
                4,
            ).alias("avg_gap_days"),
        )
        .filter(F.col("min_gap_days").isNotNull())
    )


def shipping_delay_profile(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Order→ship latency profile per order priority: rank-exact
    median and p90 of ``datediff(l_shipdate, o_orderdate)`` plus the
    spread — the operations dashboard behind "are URGENT orders
    actually shipped faster?". Complements the Q12 lateness COUNTS
    with latency PERCENTILES.

    Rank-exact selections (``quality_deciles``): median = lag at row
    ``(n+1) div 2``, p90 = lag at row ``(9·n+9) div 10`` of the
    (lag, orderkey, linenumber) total order per priority — integer
    rank arithmetic on integer-day lags, engine-identical.

    Scale shape: the orders slice (orderkey, date, priority) joins
    lineitem on the co-keyed orderkey (both sides hash to the same
    exchange — the Q3 join), and the narrow ``lags`` result pins ONCE
    (``localCheckpoint`` — it feeds both the ranked-percentile pass and
    the ``max_lag_days`` aggregate; the ``mad_outliers`` pin-once
    discipline, or the fact join runs twice). Lags then rank inside a
    priority-keyed window exchange, the two target ranks select via the
    same broadcast pattern; output is ≤|priorities| rows. The window
    is the one ranking form: ``ranked_by_range`` gave the same ranks
    2× slower at sf0.1 (1.23 vs 2.44 s, ``BENCH_r18_baseline_local.json``).

    Output: (o_orderpriority, n_lineitems, median_lag_days,
    p90_lag_days, max_lag_days).
    """
    lags = (
        lineitem.select("l_orderkey", "l_linenumber", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .select(
            "o_orderpriority",
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("lag_days"),
        )
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "lag_days", "l_orderkey", "l_linenumber"
    )
    w_n = Window.partitionBy("o_orderpriority")
    ranked = lags.select(
        "o_orderpriority",
        "lag_days",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    picks = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) DIV 2"))
        | (F.col("rn") == F.expr("(9 * n + 9) DIV 10"))
    )
    return picks.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_lineitems"),
        F.min(
            F.when(
                F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("lag_days")
            )
        ).alias("median_lag_days"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(9 * n + 9) DIV 10"),
                F.col("lag_days"),
            )
        ).alias("p90_lag_days"),
    ).join(
        F.broadcast(
            lags.groupBy("o_orderpriority").agg(
                F.max("lag_days").alias("max_lag_days")
            )
        ),
        "o_orderpriority",
    )


#: ABC classification boundaries as integer tenths of cumulative
#: revenue share: class A while 10·cum ≤ 7·total, B while ≤ 9·total.
ABC_BOUNDS = (7, 9)


def prefix_sum_by_range(
    df: DataFrame,
    order_exprs: list,
    value_col: str,
    cum_col: str = "cum",
    total_col: str | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """Distributed EXACT cumulative sum over a unique global total
    order — ``ranked_by_range``'s machinery with per-partition partial
    SUMS in place of counts: ``repartitionByRange`` on the order, one
    tiny per-partition SUM aggregate (``n_parts`` rows — bounded
    driver state), cumulative partials give each partition its sum
    OFFSET, and one Arrow pass emits ``offset + running local sum``.
    The single-task global-window cumsum (``Window.orderBy`` with no
    partition) becomes an ``n_parts``-way parallel sort.

    Exactness: DECIMAL values arrive in the Arrow kernel as Python
    ``decimal.Decimal`` objects and the running sum uses exact decimal
    addition — the distributed path is bit-identical to the window
    form, never a float re-association. Integral values use exact int
    addition; a null-free int64 column additionally vectorizes to
    ``np.cumsum`` behind a sufficient-condition overflow guard
    (``|offset| + n·max|v| < 2**63`` in arbitrary-precision ints —
    int64 machine addition is exact whenever it cannot wrap). The
    guard boundary is hypothesis-pinned fast==exact; measured: no
    end-to-end delta at sf0.1 (≈19k rows/partition — the range
    shuffle dominates), kernel 7× at 2.5M rows/partition (the
    10⁹-row lane it exists for). (Float value columns are rejected:
    their cumsum is order-defined and a parallel re-association
    would change results.)

    ``order_exprs``: Column expressions defining the UNIQUE total
    order (e.g. ``[F.desc("rev"), F.asc("id")]``) — uniqueness is the
    same contract as ``ranked_by_range``. ``total_col``: optionally
    attach the grand total (the driver already knows it from the
    offsets pass). Returns ``df``'s columns + ``cum_col``
    (+ ``total_col``)."""
    import decimal as _decimal  # noqa: PLC0415

    dtype = df.schema[value_col].dataType.simpleString()
    if dtype.startswith("decimal"):
        prec, scale = map(
            int, dtype[len("decimal("):-1].split(",")
        )
        out_type = f"decimal({min(38, prec + 7)},{scale})"
        zero = _decimal.Decimal(0)
    elif dtype in ("int", "bigint", "smallint", "tinyint", "long"):
        out_type = "bigint"
        zero = 0
    else:
        raise TypeError(
            f"prefix_sum_by_range: exact cumsum needs a decimal or "
            f"integral value column, got {value_col}: {dtype}"
        )
    if n_parts is None:
        n_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    base = (
        df.repartitionByRange(n_parts, *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # sums pass + cum pass share it
    )
    # the offsets pass sums at DECIMAL(38, scale) regardless of the
    # value dtype: with ANSI off, Spark's BIGINT SUM silently WRAPS
    # on overflow — a partition of three −2⁶² values summed to +2⁶²
    # (caught by the hypothesis guard-boundary test), corrupting
    # every downstream offset even though each PREFIX fits int64
    # (a partition sum is a difference of two prefixes, so it can
    # exceed the int64 range the prefixes themselves honor). The
    # 38-digit sum cannot wrap; it returns NULL on true overflow,
    # which the count disambiguates from the all-NULL partition.
    is_decimal = dtype.startswith("decimal")
    sum_expr = F.sum(
        F.col(value_col).cast(
            f"decimal(38,{scale})" if is_decimal else "decimal(38,0)"
        )
    )
    sums_rows = (
        base.groupBy("_pid")
        .agg(sum_expr.alias("s"), F.count(value_col).alias("c"))
        .collect()
    )
    part_sums: dict = {}
    for r in sums_rows:
        if r["s"] is None and r["c"] > 0:
            raise ValueError(
                "prefix_sum_by_range: a partition sum overflowed "
                "DECIMAL(38) — the cumsum is not representable"
            )
        s = zero if r["s"] is None else r["s"]
        part_sums[r["_pid"]] = s if is_decimal else int(s)
    offsets: dict = {}
    acc = zero
    for pid in sorted(part_sums):  # range partitions are id-ordered
        offsets[pid] = acc
        acc += part_sums[pid]
    total = acc
    if not is_decimal:
        # the OUTPUT column is bigint: every emitted prefix must fit.
        # Boundary prefixes (offsets, total) are checked here; the
        # kernel checks interior prefixes as it emits them.
        for v in [total, *offsets.values()]:
            if not -(2**63) <= v < 2**63:
                raise ValueError(
                    f"prefix_sum_by_range: cumulative sum {v} exceeds "
                    f"the BIGINT output range — cast {value_col} to "
                    f"decimal first"
                )

    out_fields = [f"{fld.name} {fld.dataType.simpleString()}"
                  for fld in df.schema.fields]
    out_fields.append(f"{cum_col} {out_type}")
    if total_col is not None:
        out_fields.append(f"{total_col} {out_type}")
    out_cols = df.columns

    integral = out_type == "bigint"

    def kernel(batches):
        seen: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            running = seen.get(pid, offsets.get(pid, zero))
            col = pdf[value_col]
            if integral and col.dtype.kind in "iu":
                # FAST PATH (r13 verdict item 4): a null-free int64
                # column rides Arrow as true ints — np.cumsum IS the
                # exact sum when no intermediate can overflow. The
                # guard is a sufficient condition in arbitrary-
                # precision Python ints: every intermediate satisfies
                # |running + partial| ≤ |running| + n·max|v|, and the
                # extrema read via int() so int64-min cannot wrap an
                # np.abs. Guard fails → the Python-exact loop below.
                vals = col.to_numpy()
                mx = max(
                    abs(int(vals.max())), abs(int(vals.min()))
                )
                if abs(int(running)) + len(vals) * mx < 2**63:
                    cum_arr = np.cumsum(vals, dtype=np.int64)
                    cum_arr = cum_arr + np.int64(int(running))
                    running = int(cum_arr[-1])
                    seen[pid] = running
                    out = pdf[out_cols].copy()
                    out[cum_col] = cum_arr
                    if total_col is not None:
                        out[total_col] = total
                    yield out
                    continue
            cums = []
            for v in col:
                # NULLs add as zero (matching the Spark-side offset
                # sums, which skip them). Arrow renders a NULL-bearing
                # int64 column as float64 (NaN nulls) — normalize back
                # to exact ints so the running sum never re-associates
                # in float (exact for |v| ≤ 2^53; the fully-exact path
                # for wider values is the decimal branch).
                if v is None or (isinstance(v, float) and v != v):
                    pass  # null -> + zero
                elif integral:
                    if isinstance(v, float) and abs(v) > 2.0**53:
                        # a NULL-bearing int64 column rides through
                        # Arrow as float64; beyond 2^53 the value is
                        # ALREADY rounded — refuse rather than emit a
                        # silently-inexact "exact" cumsum (use the
                        # decimal path for wider values)
                        raise ValueError(
                            f"prefix_sum_by_range: {value_col} has "
                            f"nulls and |value| > 2**53 ({v!r}) — "
                            f"float64 promotion lost exactness; cast "
                            f"the column to decimal first"
                        )
                    running = running + int(v)
                    if not -(2**63) <= running < 2**63:
                        # interior prefix left the bigint output range
                        # (boundary prefixes are driver-checked) — an
                        # unguarded list would reach Arrow as
                        # uint64/object and fail cryptically there
                        raise ValueError(
                            f"prefix_sum_by_range: cumulative sum "
                            f"{running} exceeds the BIGINT output "
                            f"range — cast {value_col} to decimal "
                            f"first"
                        )
                else:
                    running = running + v
                cums.append(running)
            seen[pid] = running
            out = pdf[out_cols].copy()
            out[cum_col] = cums
            if total_col is not None:
                out[total_col] = total
            yield out

    return base.mapInPandas(kernel, ", ".join(out_fields))


def pareto_parts(lineitem: DataFrame) -> DataFrame:
    """ABC inventory classification — the Pareto rollup behind "which
    parts carry the revenue?": parts rank by revenue descending, class
    A = parts up to 70% of cumulative revenue, B to 90%, C the tail
    (the standard inventory-control cut; the part-side complement to
    ``revenue_concentration``'s customer Lorenz table).

    Engine parity — every boundary decision is EXACT-DECIMAL: per-part
    revenue is the ``DISCOUNTED_PRICE`` sum kept at its natural scale
    4 (``DECIMAL(18,4)`` — the ``supplier_hhi`` convention; a scale-2
    re-cast would ROUND, and Spark rounds the decimal string HALF_UP
    while DuckDB rounds the stored value — a $6 drift at sf0.01), the
    cumulative sum runs over the unique (rev desc, partkey asc) total
    order as exact decimals re-anchored at DECIMAL(25,4) (headroom
    ~$10¹⁷ total; DuckDB's window SUM lands at width 38 where a ×10
    would overflow — the explicit re-anchor keeps the boundary
    arithmetic in-range on BOTH engines), and the class boundary is
    ``10·cum ≤ bound·total`` in exact decimal arithmetic — no float
    share ever decides a boundary row, so both engines classify the
    SAME parts (the ``quality_deciles`` rank-exact discipline applied
    to cumulative sums).

    Scale shape: the fact table collapses to the ≤|parts|-row revenue
    rollup first (one map-side-combined exchange — the only fact-sized
    move); the exact-decimal cumulative sum over that DIMENSION-sized
    aggregate runs with ``prefix_sum_by_range`` (``ranked_by_range``'s
    machinery with per-partition partial SUMS), because a global
    ``Window`` would hold the full part order in one task. Output: 3
    rows.

    Output: (abc_class, n_parts, revenue, revenue_share round-6).
    """
    per_part = lineitem.groupBy("l_partkey").agg(
        F.expr(
            f"CAST(SUM({DISCOUNTED_PRICE}) AS DECIMAL(18,4))"
        ).alias("rev")
    )
    a_bound, b_bound = ABC_BOUNDS
    cumed = prefix_sum_by_range(
        per_part,
        [F.desc("rev"), F.asc("l_partkey")],
        "rev",
        cum_col="cum",
        total_col="total",
    ).select(
        "rev",
        F.col("cum").cast("decimal(25,4)").alias("cum"),
        F.col("total").cast("decimal(25,4)").alias("total"),
    )
    classed = cumed.select(
        "rev",
        "total",
        F.when(
            F.col("cum") * 10 <= F.col("total") * a_bound, F.lit("A")
        )
        .when(F.col("cum") * 10 <= F.col("total") * b_bound, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rev").alias("_rev"),
            F.max("total").alias("_total"),
        )
        .select(
            "abc_class",
            "n_parts",
            F.col("_rev").cast("double").alias("revenue"),
            F.round(
                F.col("_rev").cast("double")
                / F.col("_total").cast("double"),
                6,
            ).alias("revenue_share"),
        )
    )


def monthly_revenue_trend(orders: DataFrame) -> DataFrame:
    """Month-over-month revenue trend — the seasonality/health table
    every revenue dashboard opens with: per calendar month, order
    count, exact revenue, and MoM growth.

    Engine parity: the month key is a string (``yyyy-MM`` /
    ``%Y-%m`` — same rendering both engines), revenue sums as exact
    DECIMAL(18,2) (``o_totalprice`` is cent-quantized), and MoM growth
    is ONE IEEE division of two engine-identical exact decimals
    (``(rev − prev)/prev``), NULL for the first month. "Previous" =
    the prior month PRESENT in the data (``lag`` over the month
    order) — with TPC-H-dense dates that is the prior calendar month;
    gapped histories difference across the gap (stated).

    Scale shape: one map-side-combined groupBy collapses the orders
    table to ≤|months| rows; the lag window runs over that tiny
    aggregate (single exchange of ≤|months| rows — bounded by the
    calendar, not the data). Output: one row per month.

    Output: (month, n_orders, revenue, mom_growth round-6).
    """
    # name the month key BEFORE the groupBy: an inline grouping
    # expression compiles to an anonymous `_groupingexpression`
    # attribute, which the fleet plan audit's grid-key check cannot
    # classify — a named column makes the plan self-describing
    monthly = orders.withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    ).groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr(
            "SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
        ).alias("_rev"),
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "n_orders",
        F.col("_rev").cast("double").alias("revenue"),
        F.round(
            (F.col("_rev") - F.lag("_rev").over(w)).cast("double")
            / F.lag("_rev").over(w).cast("double"),
            6,
        ).alias("mom_growth"),
    )


def order_linecount_histogram(lineitem: DataFrame) -> DataFrame:
    """Distribution of line items per order — the order-size shape
    behind capacity planning and the ``part_pair_affinity`` cost model
    (its per-order pair explosion is |lines|²-bounded; THIS table says
    what |lines| actually is): per distinct line count, how many
    orders and what share of all orders.

    Exact everywhere: both aggregations are integer counts, the share
    is ONE IEEE division of exact integers. Two map-side-combined
    exchanges — the fact table collapses to ≤|orders| rows keyed on
    the order, then to ≤max-linecount rows — and the share window runs
    over the tiny histogram. Output: one row per distinct line count.

    Output: (n_lines, n_orders, order_share round-6).
    """
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    hist = per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    w = Window.partitionBy()
    return hist.select(
        "n_lines",
        "n_orders",
        F.round(
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(w).cast("double"),
            6,
        ).alias("order_share"),
    )


def segment_priority_matrix(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Market-segment × order-priority contingency table — "do
    AUTOMOBILE customers place more URGENT orders?" (the demand-mix
    grid a fulfillment planner reads next to Q4's priority counts):
    per (c_mktsegment, o_orderpriority) cell, order count, exact
    revenue, and the cell's share WITHIN its segment row.

    Engine parity: counts exact integers, revenue exact DECIMAL(18,2)
    sums of the cent-quantized ``o_totalprice`` (cast to double only
    at emission), row share ONE IEEE division of exact integers.

    Scale shape: the orders→customer join is key-to-key on custkey
    (both sides hash to the same exchange; AQE broadcasts the
    dimension side when it fits), the grid aggregate is map-side
    combined to ≤|segments|·|priorities| rows, and the row-share
    window runs over that tiny grid. Output: one row per occupied
    cell.

    Output: (c_mktsegment, o_orderpriority, n_orders, revenue,
    segment_share round-6).
    """
    joined = orders.select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    ).join(
        customer.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == customer.c_custkey,
    )
    grid = joined.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr(
            "SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
        ).alias("_rev"),
    )
    w_seg = Window.partitionBy("c_mktsegment")
    return grid.select(
        "c_mktsegment",
        "o_orderpriority",
        "n_orders",
        F.col("_rev").cast("double").alias("revenue"),
        F.round(
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(w_seg).cast("double"),
            6,
        ).alias("segment_share"),
    )


#: Period boundary for the migration matrix: the TPC-H date span's
#: midpoint (orders run 1992-01 .. 1998-08). A literal, not a computed
#: median — the tier comparison is only meaningful against a FIXED
#: boundary, and both engines must cut identically.
MIGRATION_SPLIT_DATE = "1995-01-01"


def segment_migration(
    orders: DataFrame,
    split_date: str = MIGRATION_SPLIT_DATE,
) -> DataFrame:
    """Customer value-tier migration matrix — which revenue quintile
    each customer moved to between two periods (the CRM flow table
    behind every churn/upsell review: diagonal = stable, below =
    decaying, tier→0 = churned, 0→tier = newly acquired). The dynamic
    companion to the static ``rfm_segments`` snapshot and the
    cohort-age ``retention_cohorts`` counts.

    Semantics: period 1 = orders strictly before ``split_date``,
    period 2 = on/after. Within each period, customers PRESENT in the
    period rank by (exact-decimal revenue desc, custkey) and tier
    1..5 by the shared integer-quintile rule ``5 − ((rank−1)·5 div
    n)`` (the ``rfm_segments`` discipline — exact decimals + custkey
    total order make cross-engine ties impossible); absent customers
    take tier 0. Cells aggregate customer counts and period-2 revenue.

    Scale shape: the fact table collapses to ONE ≤|customers|-row
    two-period conditional aggregate (one map-side-combined exchange —
    the only fact-sized cost); the per-period rankings run over
    present-customer slices of that aggregate with ``ranked_by_range``
    (range shuffle + per-partition offsets), because a global
    ``Window`` would sort every customer in one task. Final matrix is
    a ≤36-cell aggregate.

    Output: (p1_tier, p2_tier, n_customers, revenue_p2) — tiers INT
    (0 = absent), revenue_p2 the cell's exact DECIMAL(18,2) period-2
    sum cast DOUBLE for display (0.0 for churned cells).
    """
    # reject malformed boundaries before they reach the f-string SQL
    datetime.date.fromisoformat(split_date)
    price = 'CAST(o_totalprice AS DECIMAL(18,2))'
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr(
            f"SUM(CASE WHEN o_orderdate < DATE'{split_date}' "
            f"THEN {price} END)"
        ).alias("rev1"),
        F.expr(
            f"SUM(CASE WHEN o_orderdate >= DATE'{split_date}' "
            f"THEN {price} END)"
        ).alias("rev2"),
    )

    # both period rankings in ONE period-tagged range-rank pass
    # (the fused rfm_segments shape): present-in-period slices union
    # under a tag, ranked_by_range ranks within the tag, and the
    # per-customer rollup pivots the two tiers back — 1 range
    # Exchange + 1 offsets collect instead of 2+2, no custkey joins.
    # A customer present in ONE period simply has no row under the
    # other tag -> NULL tier -> coalesced to tier 0. rev2 rides the
    # period-2 rows (absent-in-p2 => NULL). Every customer has >= 1
    # order so the union covers per_cust exactly.
    per_cust = per_cust.localCheckpoint(eager=False)
    tagged = None
    for mid, rev_col in enumerate(["rev1", "rev2"], start=1):
        sel = per_cust.filter(F.col(rev_col).isNotNull()).select(
            F.lit(mid).alias("_m"),
            "o_custkey",
            (-F.col(rev_col)).alias("_k"),
            (
                F.col("rev2")
                if rev_col == "rev2"
                else F.lit(None).cast("decimal(18,2)")
            ).alias("_rev2"),
        )
        tagged = sel if tagged is None else tagged.unionByName(sel)
    ranked = ranked_by_range(
        tagged, ["_m"], ["_k", "o_custkey"], rank_col="rk", n_col="n"
    )
    tier_expr = F.expr("CAST(5 - ((rk - 1) * 5) DIV n AS INT)")
    joined = ranked.groupBy("o_custkey").agg(
        F.coalesce(
            F.max(F.when(F.col("_m") == 1, tier_expr)), F.lit(0)
        )
        .cast("int")
        .alias("p1_tier"),
        F.coalesce(
            F.max(F.when(F.col("_m") == 2, tier_expr)), F.lit(0)
        )
        .cast("int")
        .alias("p2_tier"),
        F.max(F.when(F.col("_m") == 2, F.col("_rev2"))).alias("rev2"),
    )
    return joined.groupBy("p1_tier", "p2_tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.expr(
            "CAST(COALESCE(SUM(rev2), CAST(0 AS DECIMAL(18,2))) "
            "AS DOUBLE)"
        ).alias("revenue_p2"),
    )


def _orders_with_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Shared stage 1 of the per-nation revenue family
    (`revenue_growth_by_nation` / `revenue_trend_by_nation`): the
    fact table joined key-to-key to customer with the 25-row nation
    dim broadcast, pruned to (nation, o_orderdate, o_totalprice) —
    one definition so the join shape and pruning cannot drift between
    the siblings (a review finding: three hand-copied joins)."""
    return (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "o_orderdate",
            "o_totalprice",
        )
    )


def revenue_growth_by_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Month-over-month revenue growth per nation — the drill-down of
    `monthly_revenue_trend` every regional review reads next to the
    global line (a flat global MoM can hide one nation collapsing into
    another's growth; the per-nation lag matrix is what shows it).

    Engine parity: the `monthly_revenue_trend` discipline exactly —
    string ``yyyy-MM`` month keys, exact DECIMAL(18,2) sums, MoM
    growth ONE IEEE division of engine-identical decimals, NULL for a
    nation's first month; "previous" = the nation's prior month
    PRESENT in the data (lag over its month order).

    Scale shape: the fact table joins customer on the shuffle-hash
    key and broadcasts the 25-row nation dim, then collapses in one
    map-side-combined exchange to the ≤|nations|·|months| grid; the
    lag window partitions by nation over that tiny grid (bounded by
    the calendar × the dim, never the data). Output: one grid row.

    Output: (nation, month, n_orders, revenue, mom_growth round-6).
    """
    grid = (
        _orders_with_nation(orders, customer, nation)
        .groupBy(
            "nation",
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr(
                "SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
            ).alias("_rev"),
        )
    )
    w = Window.partitionBy("nation").orderBy("month")
    return grid.select(
        "nation",
        "month",
        "n_orders",
        F.col("_rev").cast("double").alias("revenue"),
        F.round(
            (F.col("_rev") - F.lag("_rev").over(w)).cast("double")
            / F.lag("_rev").over(w).cast("double"),
            6,
        ).alias("mom_growth"),
    )


def revenue_trend_by_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation OLS revenue trend — slope/intercept/R² of monthly
    revenue against a month index, the least-squares companion to
    `revenue_growth_by_nation`'s point-to-point lags (a noisy MoM
    table can hide a clean downtrend; the fitted slope is the number
    the regional forecast actually uses).

    Exactness discipline: every SUM is exact — x (months since year
    0: ``year·12 + month``) and x² are integers, y and x·y and y²
    are DECIMAL sums (order-free, cross-engine identical) — and ALL
    post-aggregate arithmetic runs in DOUBLE with the identical
    literal expression on both engines (casts of exact operands,
    then IEEE mul/sub/div in the same order — deterministic, unlike
    summing floats): ``slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)``,
    ``intercept = (Σy − slope·Σx)/n``, ``r² = num²/(den_x·den_y)``.
    Nations with one month (den_x = 0) and flat revenue (den_y = 0)
    report NULL slope/r² rather than a division artifact.

    Scale shape: the same ≤|nations|·|months| grid as
    `revenue_growth_by_nation` (fact joins customer key-to-key,
    25-row nation dim broadcast, ONE map-side-combined exchange),
    then a second tiny rollup to ≤|nations| rows — the regression
    never sees fact-table cardinality.

    Output: (nation, n_months, slope, intercept, r2), round 6.
    """
    grid = (
        _orders_with_nation(orders, customer, nation)
        .groupBy(
            "nation",
            (
                F.year("o_orderdate") * F.lit(12)
                + F.month("o_orderdate")
            ).cast("long").alias("x"),
        )
        .agg(
            F.expr(
                "SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
            ).alias("y")
        )
    )
    sums = grid.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("x").cast("long").alias("_sx"),
        F.sum(F.expr("x * x")).cast("long").alias("_sx2"),
        F.expr("SUM(y)").alias("_sy"),
        F.expr("SUM(CAST(x AS DECIMAL(18,0)) * y)").alias("_sxy"),
        F.expr("SUM(y * y)").alias("_sy2"),
    )
    return sums.select(
        "nation",
        "n_months",
        F.round(F.expr(
            "CASE WHEN (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)) <> 0.0 THEN "
            "(CAST(n_months AS DOUBLE) * CAST(_sxy AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))"
            " / (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)) END"
        ), 6).alias("slope"),
        F.round(F.expr(
            "CASE WHEN (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)) <> 0.0 THEN "
            "(CAST(_sy AS DOUBLE) - "
            "((CAST(n_months AS DOUBLE) * CAST(_sxy AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))"
            " / (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)))"
            " * CAST(_sx AS DOUBLE)) / CAST(n_months AS DOUBLE) END"
        ), 6).alias("intercept"),
        F.round(F.expr(
            "CASE WHEN (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)) <> 0.0"
            " AND (CAST(n_months AS DOUBLE) * CAST(_sy2 AS DOUBLE)"
            " - CAST(_sy AS DOUBLE) * CAST(_sy AS DOUBLE)) <> 0.0 THEN "
            "((CAST(n_months AS DOUBLE) * CAST(_sxy AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))"
            " * (CAST(n_months AS DOUBLE) * CAST(_sxy AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE)))"
            " / ((CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)"
            " - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE))"
            " * (CAST(n_months AS DOUBLE) * CAST(_sy2 AS DOUBLE)"
            " - CAST(_sy AS DOUBLE) * CAST(_sy AS DOUBLE))) END"
        ), 6).alias("r2"),
    )


def segment_priority_chi2(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Chi-square independence test over the segment × priority
    contingency table — the inferential companion to
    `segment_priority_matrix`'s descriptive shares ("do AUTOMOBILE
    customers place more URGENT orders?" becomes a test statistic
    instead of eyeballed cell shares): ``χ² = Σ (obs − exp)²/exp``
    with ``exp = row_tot·col_tot/N``, plus Cramér's V
    (``sqrt(χ²/(N·min(r−1, c−1)))``) so effect size is readable off
    the same row.

    Exactness discipline: all cell/margin/total counts are exact
    integers from ONE contingency aggregate; UNOCCUPIED cells (whose
    groupBy rows don't exist) contribute exactly ``exp`` each and
    ``Σ_all exp = N``, so their mass folds in analytically —
    ``χ² = Σ_occ [(obs−exp)²/exp − exp] + N`` — instead of a
    margins cross-join densification; χ² accumulates over the
    ≤|segments|·|priorities| grid — each term the identical DOUBLE
    literal both engines, with every count cast to DOUBLE BEFORE the
    products (a BIGINT ``obs·N`` wraps silently past ~1.5e10 orders
    with ANSI off — the `prefix_sum_by_range` wrap class — while the
    double products are exact through 2⁵³ and round, never wrap,
    beyond; the ≤35-term sum is grouped identically both engines —
    at this grid size every addition order yields the same double in
    practice, and the fixture pins it).

    Scale shape: fact → customer key-to-key join → ONE map-side-
    combined exchange to the tiny grid; margins via two grid rollups
    broadcast-crossed (the bounded-crossJoin idiom); output is ONE
    row — (chi2, dof, n_orders, cramers_v).
    """
    grid = (
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            orders["o_custkey"] == customer["c_custkey"],
        )
        # NULL segments/priorities coalesce to a sentinel BEFORE the
        # contingency groupBy (the t_closeness_audit discipline): the
        # margin equi-joins below drop NULL keys in both engines, so a
        # NULL-bearing cell would vanish from the terms sum while still
        # counting in n_orders — a silently-wrong chi2. TPC-H columns
        # are non-null, so this is a latent-data guard, not a behavior
        # change on the oracle tables.
        .groupBy(
            F.coalesce("c_mktsegment", F.lit("(null)")).alias("segment"),
            F.coalesce("o_orderpriority", F.lit("(null)")).alias(
                "priority"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
        # four consumers (margins ×2, totals, terms) — checkpoint the
        # ≤r·c-row grid so the fact join+aggregate runs ONCE, not 4×
        .localCheckpoint(eager=False)
    )
    row_tot = grid.groupBy("segment").agg(
        F.sum("obs").cast("long").alias("row_tot")
    )
    col_tot = grid.groupBy("priority").agg(
        F.sum("obs").cast("long").alias("col_tot")
    )
    totals = grid.agg(
        F.sum("obs").cast("long").alias("n_orders"),
        F.count_distinct(F.col("segment")).cast("long").alias("_r"),
        F.count_distinct(F.col("priority")).cast("long").alias("_c"),
    )
    # UNOCCUPIED cells contribute (0−exp)²/exp = exp each, and
    # Σ_all exp = N exactly — so instead of densifying the grid
    # (a cross join of the margins), fold the zero-cell mass in
    # analytically: chi² = Σ_occ [(obs−exp)²/exp − exp] + N.
    # The occupied-cells-only sum the naive formula computes would
    # UNDERCOUNT whenever a (segment, priority) cell is empty
    # (pinned by the perfectly-dependent diagonal fixture).
    terms = (
        grid.join(F.broadcast(row_tot), "segment")
        .join(F.broadcast(col_tot), "priority")
        .crossJoin(F.broadcast(totals))
        .select(
            "n_orders",
            "_r",
            "_c",
            # (obs-exp)^2/exp - exp, with exp = row*col/N:
            # (obs*N - row*col)^2/(N*row*col) - row*col/N. Every
            # operand is cast to DOUBLE BEFORE multiplying: a BIGINT
            # obs*N wraps silently past ~1.5e10 orders (ANSI off) —
            # the prefix_sum_by_range wrap class — while the double
            # products are exact through 2^53 and merely round, never
            # wrap, beyond (chi² is a float statistic; the identical
            # literal keeps both engines bit-equal)
            F.expr(
                "(CAST(obs AS DOUBLE) * CAST(n_orders AS DOUBLE)"
                " - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))"
                " * (CAST(obs AS DOUBLE) * CAST(n_orders AS DOUBLE)"
                " - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))"
                " / (CAST(n_orders AS DOUBLE)"
                " * (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)))"
                " - (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))"
                " / CAST(n_orders AS DOUBLE)"
            ).alias("_term"),
        )
    )
    return (
        terms.groupBy("n_orders", "_r", "_c")
        .agg(F.sum("_term").alias("_tsum"))
        .withColumn(
            "_chi2", F.col("_tsum") + F.col("n_orders").cast("double")
        )
        .select(
            F.round("_chi2", 6).alias("chi2"),
            F.expr("(_r - 1) * (_c - 1)").cast("long").alias("dof"),
            "n_orders",
            F.round(
                F.expr(
                    "CASE WHEN least(_r - 1, _c - 1) > 0 THEN "
                    "sqrt(_chi2 / (CAST(n_orders AS DOUBLE)"
                    " * CAST(least(_r - 1, _c - 1) AS DOUBLE))) END"
                ),
                6,
            ).alias("cramers_v"),
        )
    )


#: Moving-average window width (months, ROWS frame).
ROLLING_REVENUE_MONTHS = 3


def rolling_revenue_by_nation(
    orders: DataFrame,
    customer: DataFrame,
    n_months: int = ROLLING_REVENUE_MONTHS,
) -> DataFrame:
    """Per-nation monthly revenue with an ``n_months`` trailing moving
    average — the smoothing read next to `revenue_growth_by_nation`'s
    raw MoM deltas (a 3-month MA is what separates a trend break from
    order-cycle noise), and the repo's bounded-FRAME window exemplar:
    ``ROWS BETWEEN n−1 PRECEDING AND CURRENT ROW`` over the per-nation
    month order.

    Exactness: monthly revenue is the exact-decimal money idiom
    (``SUM(o_totalprice::DECIMAL(18,2))``); the frame SUM stays
    decimal-exact and divides by the frame's ACTUAL row count (the
    first n−1 months average over what exists — no NULL-padded warmup
    rows, no silent divide-by-constant bias), one IEEE division per
    row, round 4.

    Scale shape: fact → customer key join (AQE broadcasts the dim at
    small SF; co-partitioned hash join at scale) → ONE
    map-side-combined exchange to the (nation, month) grid →
    grid-sized frame window PARTITIONED BY nation (bounded partitions
    — months per nation, never a global order). Month keys are unique
    per nation so the frame is deterministic.

    Output: (nation_key, month 'yyyy-MM' string — the fleet month-key
    convention, chronological sort, cross-engine hash-stable; revenue
    DECIMAL-exact cast double round 2; ma round 4).
    """
    if n_months < 1:
        raise ValueError(
            f"rolling_revenue: n_months must be >= 1, got {n_months}"
        )
    monthly = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy(
            F.col("c_nationkey").cast("long").alias("nation_key"),
            # 'yyyy-MM' string month (the fleet month-key convention —
            # sorts chronologically, hashes identically cross-engine)
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "_rev"
            )
        )
    )
    w = (
        Window.partitionBy("nation_key")
        .orderBy("month")
        .rowsBetween(-(n_months - 1), Window.currentRow)
    )
    return monthly.select(
        "nation_key",
        "month",
        F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
        F.round(
            F.sum("_rev").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double"),
            4,
        ).alias("ma"),
    )

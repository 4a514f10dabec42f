"""Round-12 operators: shipping-delay profile wiring, PQ recount
agreement, BM25 whitespace tokenization, ``ranked_by_range`` against
the window row number, and ``window_rank_suite``'s ntile edges.

The shipping_delay_profile fixture is CONSTRUCTED (known lags, odd and
even strata sizes) so the rank-selection arithmetic — median at row
``(n+1) div 2``, p90 at row ``(9n+9) div 10`` — is verified against
hand-computed picks, not against a second implementation.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.operators import relational, similarity, textops
from tests.conftest import SF_SMALL


def _d(day: int) -> datetime.date:
    return datetime.date(2026, 1, 1) + datetime.timedelta(days=day)


@pytest.fixture(scope="module")
def ship_fixture(spark):
    """Two priorities with known lag multisets:

    - 1-URGENT: lags 1..10 (n=10) -> median row 5 => 5, p90 row 9 => 9,
      max 10;
    - 2-HIGH:   lags [2, 4, 6] (n=3) -> median row 2 => 4, p90 row 3
      => 6, max 6.
    """
    orders_rows = []
    line_rows = []
    for i, lag in enumerate(range(1, 11)):
        ok = 100 + i
        orders_rows.append((ok, _d(0), "1-URGENT"))
        line_rows.append((ok, 1, _d(lag)))
    for i, lag in enumerate([2, 4, 6]):
        ok = 200 + i
        orders_rows.append((ok, _d(0), "2-HIGH"))
        line_rows.append((ok, 1, _d(lag)))
    orders = spark.createDataFrame(
        orders_rows, "o_orderkey long, o_orderdate date, o_orderpriority string"
    )
    lineitem = spark.createDataFrame(
        line_rows, "l_orderkey long, l_linenumber int, l_shipdate date"
    )
    return orders, lineitem


def test_shipping_delay_profile_rank_exact_picks(ship_fixture):
    orders, lineitem = ship_fixture
    rows = {
        r["o_orderpriority"]: r
        for r in relational.shipping_delay_profile(orders, lineitem).collect()
    }
    assert set(rows) == {"1-URGENT", "2-HIGH"}
    u = rows["1-URGENT"]
    assert (u["n_lineitems"], u["median_lag_days"], u["p90_lag_days"],
            u["max_lag_days"]) == (10, 5, 9, 10)
    h = rows["2-HIGH"]
    assert (h["n_lineitems"], h["median_lag_days"], h["p90_lag_days"],
            h["max_lag_days"]) == (3, 4, 6, 6)


def test_shipping_delay_profile_single_fact_scan(ship_fixture):
    """The ``lags`` join feeds BOTH the percentile ranking and the
    max-lag aggregate; the localCheckpoint pin must keep the plan to
    one materialization — no second join subtree in the final plan."""
    orders, lineitem = ship_fixture
    plan = relational.shipping_delay_profile(
        orders, lineitem
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 1, plan


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def test_pq_train_counts_match_encoded_occupancy(emb):
    """pq_train's cell_count is occupancy under the EMITTED centroids
    (final recount pass), so it must equal a recount of pq_codes'
    assignments — the agreement pq_index_stats relies on."""
    train = {
        (r["subspace"], r["code"]): r["cell_count"]
        for r in similarity.pq_train(emb).collect()
    }
    recount: dict = {}
    for r in similarity.pq_codes(emb).collect():
        for j, c in enumerate(r["codes"]):
            recount[(j, c)] = recount.get((j, c), 0) + 1
    assert {k: v for k, v in train.items() if v} == recount


def test_opq_rotation_is_orthogonal_and_metric_preserving(emb):
    import numpy as np

    R = similarity._opq_rotation(emb)
    dim = R.shape[0]
    assert R.shape == (dim, dim)
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-9)
    # orthogonality preserves norms and inner products (cosine intact)
    rng_rows = emb.orderBy("vec_id").limit(8).collect()
    x = np.array([r["embedding"] for r in rng_rows], dtype=np.float64)
    y = x @ R.T
    assert np.allclose((x**2).sum(axis=1), (y**2).sum(axis=1))
    assert np.allclose(x @ x.T, y @ y.T)


def test_opq_recall_at_least_plain_pq(emb):
    """On the ambient corpus the rotation must not LOSE recall vs the
    identity split at the same 4 bytes/vector (measured 0.26 vs 0.18
    at sf0.001 when pinned; deterministic — fixed data, fixed seeds).
    The corpus is near-isotropic so the gap here is small; the
    MECHANISM is pinned on the anisotropic fixture below."""
    pq = similarity.ann_recall(emb, method="pq").collect()[0]
    opq = similarity.ann_recall(emb, method="opq").collect()[0]
    assert opq["recall"] >= pq["recall"], (opq["recall"], pq["recall"])
    assert opq["recall"] >= 0.2, opq["recall"]


def test_opq_beats_pq_on_anisotropic_corpus(spark):
    """The case OPQ exists for: a decaying spectrum mixed across the
    storage order (real embedding corpora look like this). Planted:
    eigenvalues 0.85^i under a seeded random orthogonal mixing — the
    identity split cuts correlated mass across subspace boundaries,
    the balanced eigenbasis doesn't. Measured 0.54 vs 0.48 when
    pinned; also guards the allocation-greedy sign bug (negative
    log-eigenvalues collapsing the allocation to sequential), which
    scored 0.26 here."""
    import numpy as np

    rng = np.random.default_rng(7)
    n, dim = 500, 64
    lam = 0.85 ** np.arange(dim)
    q, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
    x = (rng.standard_normal((n, dim)) * np.sqrt(lam)) @ q.T
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    emb.count()
    pq = similarity.ann_recall(emb, method="pq").collect()[0]
    opq = similarity.ann_recall(emb, method="opq").collect()[0]
    assert opq["recall"] > pq["recall"], (opq["recall"], pq["recall"])
    assert opq["recall"] >= 0.5, opq["recall"]


def test_opq_topk_partition_invariant(emb):
    a = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in similarity.ann_opq_topk(emb).collect()
    )
    b = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in similarity.ann_opq_topk(emb.repartition(7)).collect()
    )
    assert a == b


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ranked_by_range_matches_window_keyed(spark):
    """The distributed rank (range shuffle + per-partition offsets)
    must equal the window row_number on the same unique total order —
    including ties on the value column broken by id, multiple keys,
    and n_col totals."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rnd = random.Random(11)
    rows = [
        (i, rnd.choice(["a", "b", "c"]), float(rnd.randint(0, 20)))
        for i in range(1000)
    ]
    df = spark.createDataFrame(
        rows, "id long, k string, v double"
    ).repartition(7)
    got = _rows(
        relational.ranked_by_range(
            df, ["k"], ["v", "id"], n_parts=5, n_col="n"
        ).select("id", "k", "v", "rn", "n")
    )
    w = Window.partitionBy("k").orderBy("v", "id")
    wn = Window.partitionBy("k")
    want = _rows(
        df.select(
            "id",
            "k",
            "v",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count(F.lit(1)).over(wn).cast("long").alias("n"),
        )
    )
    assert got == want


def test_ranked_by_range_matches_window_global(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 500).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("v")
    ).repartition(6)
    got = _rows(
        relational.ranked_by_range(
            df, [], ["v", "id"], n_parts=4, n_col="n"
        )
    )
    w = Window.orderBy("v", "id")
    want = _rows(
        df.select(
            "id",
            "v",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
        )
    )
    assert got == want


def test_window_rank_suite_scale_ntile_edges(spark):
    """ntile's uneven split (first n%t tiles get one extra row) and
    tiny partitions (n < t, single row) match SQL NTILE exactly, and
    the tie-safe functions give every peer the same value."""
    rows = [(i, "a", float(i % 3)) for i in range(10)]  # n=10, t=4
    rows += [(100 + i, "b", float(i)) for i in range(3)]  # n=3 < t
    rows += [(200, "c", 1.0)]  # n=1
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    # a: peers {0,3,6,9}=0.0, {1,4,7}=1.0, {2,5,8}=2.0; ntile(4) over
    # (value, event_id) splits the 10 rows 3-3-2-2
    a_stats = {
        0.0: (1, 1, 0.0, 0.4),
        1.0: (5, 2, 0.444444, 0.7),
        2.0: (8, 3, 0.777778, 1.0),
    }
    a_tile = {0: 1, 3: 1, 6: 1, 9: 2, 1: 2, 4: 2, 7: 3, 2: 3, 5: 4, 8: 4}
    want = [
        (i, "a", float(i % 3), *a_stats[float(i % 3)], a_tile[i])
        for i in range(10)
    ]
    want += [
        (100, "b", 0.0, 1, 1, 0.0, 0.333333, 1),
        (101, "b", 1.0, 2, 2, 0.5, 0.666667, 2),
        (102, "b", 2.0, 3, 3, 1.0, 1.0, 3),
        (200, "c", 1.0, 1, 1, 0.0, 1.0, 1),
    ]
    assert _rows(relational.window_rank_suite(ev)) == sorted(want)


def _late_history(spark):
    """Constructed disorder: user 1's arrival order (event_id) carries
    one event 100 s older than the running event-time max — the audit
    must measure max_lateness_us = 100e6, so the auto delay is
    ceil(100 * 1.25) = 125 s."""
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (1, 1, base + datetime.timedelta(seconds=10)),
        (2, 1, base + datetime.timedelta(seconds=40)),
        (3, 1, base + datetime.timedelta(seconds=90)),
        (4, 1, base + datetime.timedelta(seconds=160)),
        (5, 1, base + datetime.timedelta(seconds=200)),
        (6, 1, base + datetime.timedelta(seconds=100)),  # 100 s late
    ]
    return (
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp"
        ),
        base,
    )


def test_auto_watermark_delay_from_audit(spark):
    from scholar_stream_spark.streaming.latency import auto_watermark_delay

    events, _ = _late_history(spark)
    assert auto_watermark_delay(events) == "125 seconds"
    # in-order history collapses to the floor
    ordered = events.filter("event_id != 6")
    assert auto_watermark_delay(ordered) == "1 seconds"


@pytest.mark.parametrize(
    "delay,expected_admitted", [("125 seconds", 6), ("1 seconds", 5)]
)
def test_auto_watermark_admits_measured_lateness(
    spark, tmp_path, delay, expected_admitted
):
    """End-to-end admission pin: replay the late history as a stream
    (one file per micro-batch, in the SAME arrival order the audit
    measured; the late event gets its own micro-batch — Spark's
    late-row filter applies the watermark with a one-batch lag, so
    same-batch lateness is never filtered), aggregate under the
    watermark, and count rows in FINALIZED windows (append mode; a
    far-future flush event closes every real window). The auto-sized
    125 s delay admits all 6 events; a 1 s delay drops the 100 s-late
    one — the silent-loss failure mode auto-sizing exists to prevent."""
    import json as _json
    import os

    events, base = _late_history(spark)
    arrival = sorted(events.collect(), key=lambda r: r["event_id"])
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    batches = [arrival[:4], arrival[4:5], arrival[5:]]
    epoch = lambda r: int(r["ts"].replace(  # noqa: E731
        tzinfo=datetime.timezone.utc).timestamp())
    for i, batch in enumerate(batches):
        p = inbox / f"b{i}.json"
        p.write_text(
            "\n".join(
                _json.dumps({"event_id": r["event_id"], "sec": epoch(r)})
                for r in batch
            )
        )
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    flush = inbox / "b9.json"
    flush.write_text(_json.dumps({"event_id": 99, "sec": int(
        base.timestamp()) + 100_000}))
    os.utime(flush, (1_700_000_009, 1_700_000_009))

    stream = (
        spark.readStream.schema("event_id long, sec long")
        .option("maxFilesPerTrigger", 1)
        .json(str(inbox))
        .select(
            "event_id",
            F.to_timestamp(F.from_unixtime("sec")).alias("ts"),
        )
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", "30 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"wm_{delay.split()[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    admitted = spark.sql(
        f"SELECT coalesce(sum(n), 0) AS s FROM {name}"
        f" WHERE w.start < to_timestamp('2026-01-02')"
    ).first()["s"]
    assert admitted == expected_admitted, admitted


def test_supplier_hhi_boundaries(spark):
    """Monopoly nation -> hhi = 1.0; two even suppliers -> 0.5."""
    nation = spark.createDataFrame(
        [(1, "MONO"), (2, "DUO")], "n_nationkey long, n_name string"
    )
    supplier = spark.createDataFrame(
        [(10, 1), (20, 2), (21, 2)],
        "s_suppkey long, s_nationkey long",
    )
    li = spark.createDataFrame(
        [
            (10, 100.0, 0.0),
            (20, 50.0, 0.0),
            (21, 25.0, 0.0), (21, 25.0, 0.0),
        ],
        "l_suppkey long, l_extendedprice double, l_discount double",
    )
    rows = {
        r["n_name"]: r
        for r in relational.supplier_hhi(li, supplier, nation).collect()
    }
    assert rows["MONO"]["hhi"] == 1.0
    assert rows["MONO"]["n_suppliers"] == 1
    assert rows["DUO"]["hhi"] == pytest.approx(0.5, abs=1e-6)
    assert rows["DUO"]["total_revenue"] == 100.0


def test_part_pair_affinity_hand_counted(spark):
    """Planted baskets: {1,2,3}, {1,2}, {2,3}, {4} ->
    co(1,2)=2, co(1,3)=1, co(2,3)=2; singles 1:2, 2:3, 3:2, 4:1;
    N=4 orders. lift(1,2) = 2*4/(2*3) = 1.333333."""
    li = spark.createDataFrame(
        [
            (10, 1), (10, 2), (10, 3),
            (11, 1), (11, 2),
            (12, 2), (12, 3), (12, 3),  # dup line: distinct per basket
            (13, 4),
        ],
        "l_orderkey long, l_partkey long",
    )
    rows = {
        (r["part_a"], r["part_b"]): r
        for r in relational.part_pair_affinity(li).collect()
    }
    assert set(rows) == {(1, 2), (1, 3), (2, 3)}
    assert rows[(1, 2)]["co_count"] == 2
    assert rows[(2, 3)]["co_count"] == 2
    assert rows[(1, 3)]["co_count"] == 1
    assert (rows[(1, 2)]["cnt_a"], rows[(1, 2)]["cnt_b"]) == (2, 3)
    assert rows[(1, 2)]["lift"] == pytest.approx(8 / 6, abs=1e-6)
    assert rows[(2, 3)]["lift"] == pytest.approx(8 / 6, abs=1e-6)
    assert rows[(1, 3)]["lift"] == pytest.approx(1.0, abs=1e-6)


def test_fk_integrity_report_detects_planted_orphans(spark):
    """An intact pair of edges reports zero; a planted orphan FK (and
    a NULL FK) are counted. Only the two orders/customer/nation edges
    are exercised — the report's edge list is fixed, so the fixture
    supplies every table but keeps the others trivially intact."""
    from scholar_stream_spark.operators import profiling

    tables = {
        "region": spark.createDataFrame([(1,)], "r_regionkey long"),
        "nation": spark.createDataFrame(
            [(1, 1)], "n_nationkey long, n_regionkey long"
        ),
        "customer": spark.createDataFrame(
            [(1, 1), (2, 1)], "c_custkey long, c_nationkey long"
        ),
        "supplier": spark.createDataFrame(
            [(1, 1)], "s_suppkey long, s_nationkey long"
        ),
        "part": spark.createDataFrame([(1,)], "p_partkey long"),
        "orders": spark.createDataFrame(
            # custkey 99 = orphan; NULL custkey = orphan by contract
            [(10, 1), (11, 99), (12, None)],
            "o_orderkey long, o_custkey long",
        ),
        "lineitem": spark.createDataFrame(
            [(10, 1, 1)], "l_orderkey long, l_partkey long, l_suppkey long"
        ),
    }
    rows = {
        (r["child_table"], r["fk_column"]): r
        for r in profiling.fk_integrity_report(tables).collect()
    }
    assert len(rows) == len(profiling.FK_EDGES)
    o = rows[("orders", "o_custkey")]
    assert (o["n_rows"], o["n_orphans"]) == (3, 2)
    assert o["orphan_frac"] == pytest.approx(2 / 3, abs=1e-6)
    for key, r in rows.items():
        if key != ("orders", "o_custkey"):
            assert r["n_orphans"] == 0, key


def test_span_corruption_plan_structural(spark):
    """The placement contract: one span per stride (non-overlap
    STRUCTURAL), spans in-bounds, mask ratio ~= 15%, short docs (< 20
    tokens) emit nothing, and the plan is a pure function of the
    record (stable across partitionings)."""
    from scholar_stream_spark.operators import chunking

    docs = spark.createDataFrame(
        [
            (1, "w " * 100),  # 101 tokens -> 5 spans
            (2, "w " * 19),   # 20 tokens -> 1 span
            (3, "w " * 10),   # 11 tokens -> 0 spans
        ],
        "doc_id long, text string",
    )
    rows = chunking.span_corruption_plan(docs).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    assert len(by_doc[1]) == 5 and len(by_doc[2]) == 1
    for doc_id, spans in by_doc.items():
        n = spans[0]["n_doc_tokens"]
        spans = sorted(spans, key=lambda r: r["mask_id"])
        prev_end = -1
        for r in spans:
            assert 0 <= r["start_token"]
            assert r["start_token"] + r["span_len"] <= n
            assert r["start_token"] > prev_end, "overlap"
            prev_end = r["start_token"] + r["span_len"] - 1
        masked = sum(r["span_len"] for r in spans)
        assert masked <= 0.15 * n + chunking.SPAN_LEN
    again = sorted(
        tuple(r)
        for r in chunking.span_corruption_plan(docs.repartition(5)).collect()
    )
    assert again == sorted(tuple(r) for r in rows)


def test_customer_order_gaps_fixture(spark):
    d = lambda s: datetime.date(2026, 1, 1) + datetime.timedelta(  # noqa: E731
        days=s
    )
    orders = spark.createDataFrame(
        [
            # customer 1: days 0, 10, 10, 40 -> gaps 10, 0, 30
            (100, 1, d(0)), (101, 1, d(10)), (102, 1, d(10)), (103, 1, d(40)),
            # customer 2: single order -> excluded
            (200, 2, d(5)),
        ],
        "o_orderkey long, o_custkey long, o_orderdate date",
    )
    rows = {
        r["o_custkey"]: r
        for r in relational.customer_order_gaps(orders).collect()
    }
    assert set(rows) == {1}
    r = rows[1]
    assert (r["n_orders"], r["min_gap_days"], r["max_gap_days"]) == (4, 0, 30)
    assert r["avg_gap_days"] == pytest.approx(40 / 3, abs=1e-4)


def test_doclen_histogram_buckets(spark):
    docs = spark.createDataFrame(
        [
            (1, "a", "w " * 10),     # 11 ws tokens -> bucket 0
            (2, "a", "w " * 40),     # 41 -> bucket 32
            (3, "a", "w " * 41),     # 42 -> bucket 32
            (4, "b", "one two"),     # 2 -> bucket 0
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        (r["source"], r["bucket_lo"]): r
        for r in textops.doclen_histogram(docs).collect()
    }
    assert set(rows) == {("a", 0), ("a", 32), ("b", 0)}
    assert rows[("a", 0)]["n_docs"] == 1
    assert rows[("a", 32)]["n_docs"] == 2
    assert rows[("a", 32)]["total_tokens"] == 41 + 42
    assert rows[("a", 0)]["doc_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert rows[("b", 0)]["doc_frac"] == 1.0


def test_cross_source_overlap_planted(spark):
    from scholar_stream_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "a", "shared document text"),
            (2, "a", "only in a"),
            (3, "b", "Shared   DOCUMENT text"),  # same after normalize
            (4, "b", "only in b"),
            (5, "b", "only in b too"),
            (6, "c", "nothing in common"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in dedup.cross_source_overlap(docs).collect()
    }
    # full grid: every source pair has a row, zero-overlap included
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = rows[("a", "b")]
    assert (ab["n_a"], ab["n_b"], ab["n_common"]) == (2, 3, 1)
    assert ab["jaccard"] == pytest.approx(1 / 4, abs=1e-6)
    assert rows[("a", "c")]["n_common"] == 0
    assert rows[("a", "c")]["jaccard"] == 0.0


def test_dedup_cluster_sizes_partitions_corpus(spark):
    from scholar_stream_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    hist = dedup.dedup_cluster_sizes(docs).collect()
    assert sum(r["n_docs"] for r in hist) == docs.count()
    assert sum(r["cluster_size"] * r["n_clusters"] for r in hist) == docs.count()
    sizes = {
        r["cluster_id"]: r["cluster_size"]
        for r in dedup.neardup_clusters(docs).collect()
    }
    by_size: dict = {}
    for sz in sizes.values():
        by_size[sz] = by_size.get(sz, 0) + 1
    got = {r["cluster_size"]: r["n_clusters"] for r in hist if r["cluster_size"] > 1}
    assert got == by_size
    assert abs(sum(r["doc_frac"] for r in hist) - 1.0) < 1e-4


def test_ivfopq_recall_floor(emb):
    """The full FAISS factory string (OPQ + IVF + PQ + refine) must
    hold the IVF-PQ family's recall floor (measured 0.92 at sf0.001
    when pinned — the exact refine dominates at this scale, so the
    rotation neither helps nor hurts here; its ADC-stage gain is
    pinned separately in the OPQ-vs-PQ tests)."""
    r = similarity.ann_recall(emb, method="ivfopq").collect()[0]
    assert r["recall"] >= 0.7, r["recall"]


@pytest.mark.parametrize("opq_mode", ["parametric", "iterative"])
def test_opq_index_probe_matches_inline_rerank(
    spark, emb, tmp_path, opq_mode
):
    """The persisted OPQ path cannot drift from the in-memory one: a
    probe of the written index (codes in rotated space, floats
    original, rotation side table) equals the inline re-ranked PQ with
    the SAME rotation — for BOTH trainers (r13 verdict item 3: the
    iterative rotation must be servable from the persisted layout).
    The inline side reads the PERSISTED rotation so the pin checks the
    serving path, not trainer determinism."""
    path = str(tmp_path / "opqidx")
    similarity.write_pq_index(emb, path, opq=True, opq_mode=opq_mode)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in similarity.pq_probe_index(spark, path).collect()
    )
    _, rot = similarity._load_pq_index_meta(spark, path)
    assert rot is not None
    if opq_mode == "parametric":
        # the persisted rotation IS the parametric trainer's output
        import numpy as np

        assert np.allclose(rot, similarity._opq_rotation(emb))
    else:
        # iterative must actually be orthogonal (SVD-composed)
        import numpy as np

        assert np.allclose(rot @ rot.T, np.eye(rot.shape[0]), atol=1e-8)
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in similarity.ann_pq_rerank_topk(emb, rotation=rot).collect()
    )
    assert got == want


@pytest.mark.parametrize("opq_mode", ["parametric", "iterative"])
def test_opq_index_append_consistent(spark, emb, tmp_path, opq_mode):
    """Appends rotate with the PERSISTED rotation: building on half
    the corpus and appending the other half yields byte-identical
    codes to encoding both halves at build time with the same frozen
    quantizer+rotation — mode-invariant by layout (r14)."""
    from pyspark.sql import functions as F

    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    p1 = str(tmp_path / "full")
    similarity.write_pq_index(emb, p1, opq=True, opq_mode=opq_mode)
    p2 = str(tmp_path / "halfapp")
    similarity.write_pq_index(half_a, p2, opq=True)
    # freeze p2's quantizer+rotation over p1's training set: overwrite
    # the side tables with p1's so only the APPEND mechanics differ
    spark.read.parquet(f"{p1}/codebook").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{p2}/codebook")
    spark.read.parquet(f"{p1}/rotation").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{p2}/rotation")
    # re-encode half_a under the frozen artifacts, then append half_b
    import shutil

    shutil.rmtree(f"{p2}/corpus")
    similarity.pq_append_index(half_a, p2)
    similarity.pq_append_index(half_b, p2)
    codes1 = {
        r["vec_id"]: tuple(r["codes"])
        for r in spark.read.parquet(f"{p1}/corpus").collect()
    }
    codes2 = {
        r["vec_id"]: tuple(r["codes"])
        for r in spark.read.parquet(f"{p2}/corpus").collect()
    }
    assert codes1 == codes2


def test_bm25_whitespace_edge_tokens(spark):
    """Leading/trailing tabs+newlines must not change dl: the collapse-
    then-trim tokenization gives the tab-padded doc the SAME score as
    the clean doc (one tokenization definition, shared with the
    oracle)."""
    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join"),
            (2, "\t spark shuffle join \n"),
            (3, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    rows = textops.bm25_search(
        docs, queries=[("q1", ["spark", "shuffle"])], topk=3
    ).collect()
    scores = {r["doc_id"]: r["score"] for r in rows}
    assert set(scores) == {1, 2}
    assert scores[1] == scores[2]

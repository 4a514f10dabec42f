"""Round-18 optimization pins: every r18 change that adds a driver
fast path or rewrites an operator's internals gets a both-paths (or
reference-kernel) identity test here, the r17 discipline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.operators import masking
from tests.conftest import force_above_cap


@pytest.fixture(scope="module")
def qi_fixture(spark):
    customer = spark.createDataFrame(
        [
            # (custkey, nationkey, segment, acctbal) — includes a NULL
            # nation, a NULL segment and a NULL balance so every
            # NULL-keyed class shape crosses the probe
            (1, 0, "AUTO", 123.45),
            (2, 0, "AUTO", 130.00),
            (3, 0, "BUILD", 95.10),
            (4, 1, "BUILD", 95.10),
            (5, 1, None, 2000.00),
            (6, None, "AUTO", 2000.00),
            (7, 2, "AUTO", None),
            (8, 2, "AUTO", 410.00),
            (9, 2, "MACH", 411.00),
            (10, 2, "MACH", 470.00),
        ],
        "c_custkey long, c_nationkey long, c_mktsegment string, "
        "c_acctbal double",
    )
    nation = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1)],
        "n_nationkey long, n_regionkey long",
    )
    return customer, nation


def test_qi_report_hybrid_paths_identical(spark, qi_fixture, monkeypatch):
    """The r18 driver fast path of generalize_qi_report must emit the
    SAME report rows as the distributed level-keyed rollups (forced
    above the cap)."""
    customer, nation = qi_fixture
    fast = sorted(
        tuple(r) for r in
        masking.generalize_qi_report(customer, nation).collect()
    )
    force_above_cap(monkeypatch)
    slow = sorted(
        tuple(r) for r in
        masking.generalize_qi_report(customer, nation).collect()
    )
    assert fast == slow
    assert len(fast) == len(masking.QI_GENERALIZATION_LADDER)


def test_qi_report_probe_handles_null_keys(spark, qi_fixture):
    """NULL nation/band cells are their own classes on the probe path
    (the `_qi_cells` contract) — the fixture's NULL-keyed rows must be
    counted, not dropped: total class membership per level equals the
    table's row count."""
    customer, nation = qi_fixture
    probe = masking._qi_cells(customer, nation, masking.K_ANON_BAL_BAND)
    pdf = probe.toPandas()
    krows, lrows, trows = masking._qi_report_stats_driver(pdf)
    assert len(krows) == len(masking.QI_GENERALIZATION_LADDER)
    # min_l of the last rung (one global class) = distinct segments
    assert lrows[-1][1] == 4  # AUTO, BUILD, MACH, (null)
    # last rung: one class containing everything -> t = 0
    assert trows[-1][1] == pytest.approx(0.0, abs=1e-12)


def test_qi_enforce_unchanged_by_fast_path(spark, qi_fixture, monkeypatch):
    """generalize_quasi_identifiers rides the report — both report
    paths must pick the same rung and coarsen identically."""
    customer, nation = qi_fixture
    # k_target=2: the segment axis is never coarsened, so the fixture's
    # singleton segments cap the achievable k at 1 under the default 5
    kw = dict(k_target=1, l_floor=1)
    fast = sorted(
        tuple(r) for r in masking.generalize_quasi_identifiers(
            customer, nation, **kw
        ).collect()
    )
    force_above_cap(monkeypatch)
    slow = sorted(
        tuple(r) for r in masking.generalize_quasi_identifiers(
            customer, nation, **kw
        ).collect()
    )
    assert fast == slow


def test_pagerank_probe_validation_contract(spark, monkeypatch):
    """r18 moved pagerank/hits validation onto the probe rows below
    the cap — the error contract must hold on BOTH paths."""
    from scholar_stream_spark.operators import graph

    bad = spark.createDataFrame(
        [(1, 2, 0.0)], "src long, dst long, weight double"
    )
    empty = bad.filter("src < 0")
    for forced in (False, True):  # driver, then distributed path
        if forced:
            force_above_cap(monkeypatch)
        with pytest.raises(ValueError, match="positive and non-NULL"):
            graph.pagerank(bad)
        with pytest.raises(ValueError, match="empty edge list"):
            graph.pagerank(empty)
        with pytest.raises(ValueError, match="hits: empty edge list"):
            graph.hits(empty)
        with pytest.raises(ValueError, match="positive and non-NULL"):
            graph.hits(bad)


def test_vectorized_dhash_lanes_match_scalar_reference():
    """r18 §4.2: the batched numpy lane kernels must be integer-
    identical to the scalar references on adversarial blobs (empty,
    1-byte, shorter/longer than the 72-cell grid, random)."""
    import hashlib
    import random

    import numpy as np

    from scholar_stream_spark.operators import multimodal as mm

    rng = random.Random(18)
    blobs = [
        b"",
        b"x",
        bytes(rng.randrange(256) for _ in range(5)),
        bytes(rng.randrange(256) for _ in range(71)),
        bytes(rng.randrange(256) for _ in range(72)),
        bytes(rng.randrange(256) for _ in range(73)),
        bytes(rng.randrange(256) for _ in range(1000)),
        bytes(rng.randrange(256) for _ in range(4096)),
    ]
    got = mm._lanes_from_grids_np(mm._dhash_grids_np(blobs))
    for i, b in enumerate(blobs):
        assert list(got[i]) == mm._dhash_lanes_py(b), i

    # segment variant: same offsets/lengths the kernel derives
    for b in blobs:
        n = len(b)
        n_segments = 1 + hashlib.md5(b).digest()[5]
        step = max(1, n_segments // 8)
        segs = list(range(0, n_segments, step))
        offs = [(s * n) // n_segments for s in segs]
        lens = [((s + 1) * n) // n_segments - o
                for s, o in zip(segs, offs)]
        cells = mm.DHASH_GRID_ROWS * mm.DHASH_GRID_COLS
        k = np.arange(cells, dtype=np.int64)
        grid = np.zeros((len(segs), cells), np.uint8)
        if n:
            buf = np.frombuffer(b, np.uint8)
            o = np.array(offs, np.int64)[:, None]
            sg = np.array(lens, np.int64)[:, None]
            idx = np.minimum(o + (sg * k[None, :]) // cells, n - 1)
            grid[:] = buf[idx]
        got_seg = mm._lanes_from_grids_np(grid)
        for j, (o_, s_) in enumerate(zip(offs, lens)):
            assert list(got_seg[j]) == mm._frame_dhash_lanes_py(
                b, o_, s_
            ), (len(b), j)


def test_quality_classifier_weight_table_matches_salt_hash(spark):
    """r18: the precomputed weight-array literal must equal the old
    per-gram md5 derivation for every bucket id."""
    import hashlib

    from scholar_stream_spark.functions.hashing import hex48_spark_sql
    from scholar_stream_spark.operators import textops

    n, span = textops.QC_BUCKETS, textops.QC_WEIGHT_SPAN
    half = (span - 1) // 2
    py = [
        int(hashlib.md5(
            f"{textops.QC_WEIGHT_SALT}{b}".encode()
        ).hexdigest()[:12], 16) % span - half
        for b in range(n)
    ]
    hash_txt = hex48_spark_sql(
        f"concat('{textops.QC_WEIGHT_SALT}', bucket)"
    )
    got = {
        r["bucket"]: r["w"]
        for r in spark.range(n).selectExpr("CAST(id AS BIGINT) bucket")
        .selectExpr("bucket", f"{hash_txt} % {span} - {half} AS w")
        .collect()
    }
    assert got == {b: py[b] for b in range(n)}

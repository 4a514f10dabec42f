"""Round-17 OPTIMIZATION pins: every optimization that changed an
operator's internals carries a focused equivalence test here.

- pagerank/hits driver fast path (the `kcore` hybrid precedent): the
  default driver path and the forced-distributed path must agree on
  hand graphs (incl. a dangling node) and on the real trade graph at
  display grain.
- session_overlap_pairs canonical-bucket dedup: the join-predicate
  dedup must emit each candidate session pair exactly once even when
  sessions span MANY buckets (the case the old 8-column ``distinct``
  existed for).
- multimodal internal-sort split: the public ops keep their declared
  ascending order even though the internal chain runs unsorted.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.operators import (
    graph,
    multimodal,
    similarity,
    temporal,
)
from tests.conftest import SF_SMALL, force_above_cap


@pytest.fixture(scope="module")
def trade_tabs(spark):
    return tuple(
        spark.read.parquet(f"{SF_SMALL}/{t}.parquet")
        for t in ("customer", "orders", "lineitem", "supplier")
    )


# ---------------------------------------------------------------
# pagerank / hits hybrid: driver path == distributed path
# ---------------------------------------------------------------

_HAND_EDGES = [
    # includes a dangling node (4: dst-only) and asymmetric weights
    (0, 1, 2.0),
    (0, 2, 1.0),
    (1, 2, 5.0),
    (2, 0, 1.0),
    (2, 3, 1.0),
    (3, 4, 4.0),
]


def _edges_df(spark):
    return spark.createDataFrame(
        _HAND_EDGES, "src long, dst long, weight double"
    )


def test_pagerank_hybrid_paths_agree(spark, monkeypatch):
    """Driver numpy path (default under the edge probe) vs the
    distributed loop (forced above the cap): same ranks and
    same residual up to float re-association — the indeterminacy the
    distributed path itself has across partitionings."""
    df = _edges_df(spark)
    drv = {
        r["node"]: (r["pr"], r["residual"])
        for r in graph.pagerank(
            df, n_iter=8, with_residual=True
        ).collect()
    }
    force_above_cap(monkeypatch)
    dist = {
        r["node"]: (r["pr"], r["residual"])
        for r in graph.pagerank(df, n_iter=8, with_residual=True).collect()
    }
    assert set(drv) == set(dist)
    for node, (pr, res) in drv.items():
        assert dist[node][0] == pytest.approx(pr, abs=1e-12)
        assert dist[node][1] == pytest.approx(res, abs=1e-12)


def test_nation_pagerank_hybrid_display_grain(trade_tabs, monkeypatch):
    """On the real trade graph the two paths must agree exactly at the
    registered entry's display grain (round 6 + round-9 residual)."""
    rev = graph._nation_revenue_edges(*trade_tabs)

    def grain(df):
        return {
            r["node"]: (round(r["pr"], 6), round(r["residual"], 9))
            for r in df.collect()
        }

    drv = grain(graph.pagerank(rev, with_residual=True))
    force_above_cap(monkeypatch)
    assert drv == grain(graph.pagerank(rev, with_residual=True))


def test_hits_hybrid_paths_agree(spark, monkeypatch):
    df = _edges_df(spark)
    drv = {
        r["node"]: (r["hub"], r["authority"], r["residual"])
        for r in graph.hits(df, n_iter=6, with_residual=True).collect()
    }
    force_above_cap(monkeypatch)
    dist = {
        r["node"]: (r["hub"], r["authority"], r["residual"])
        for r in graph.hits(df, n_iter=6, with_residual=True).collect()
    }
    assert set(drv) == set(dist)
    for node, vals in drv.items():
        for got, want in zip(dist[node], vals):
            assert got == pytest.approx(want, abs=1e-12)


def test_hits_hybrid_n_iter_1_residual_null_both_paths(spark, monkeypatch):
    """The n_iter=1 NULL-residual contract must hold on BOTH paths."""
    df = _edges_df(spark)
    for forced in (False, True):
        if forced:
            force_above_cap(monkeypatch)
        rows = graph.hits(df, n_iter=1, with_residual=True).collect()
        assert all(r["residual"] is None for r in rows)


def test_nation_hits_hybrid_display_grain(trade_tabs, monkeypatch):
    rev = graph._nation_revenue_edges(*trade_tabs)

    def grain(df):
        return {
            r["node"]: (round(r["hub"], 6), round(r["authority"], 6))
            for r in df.collect()
        }

    drv = grain(graph.hits(rev))
    force_above_cap(monkeypatch)
    assert drv == grain(graph.hits(rev))


# ---------------------------------------------------------------
# session_overlap_pairs: canonical-bucket dedup over many buckets
# ---------------------------------------------------------------


def test_overlap_canonical_bucket_emits_each_pair_once(spark):
    """Two users whose single sessions span FIVE shared hour buckets
    (events every 20 min across >4 h stay within the 30-min gap):
    the old distinct collapsed 5 candidate copies; the canonical-
    bucket join predicate must emit exactly one, with the exact
    closed-interval overlap, plus a staggered third user overlapping
    both."""
    rows = []
    # u1: 08:00 .. 12:20, every 20 min; u2: 08:10 .. 12:30
    for i in range(14):
        rows.append(("u1", f"a{i:02d}", f"2024-01-01 {8 + (i * 20) // 60:02d}:{(i * 20) % 60:02d}:00"))
        rows.append(("u2", f"b{i:02d}", f"2024-01-01 {8 + (10 + i * 20) // 60:02d}:{(10 + i * 20) % 60:02d}:00"))
    # u3: one short session inside hour 10 only
    rows.append(("u3", "c00", "2024-01-01 10:05:00"))
    rows.append(("u3", "c01", "2024-01-01 10:15:00"))
    events = spark.createDataFrame(
        rows, "user_id string, event_id string, ts_s string"
    ).select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"))
    got = {
        (r["user_a"], r["user_b"]): (r["n_overlaps"], r["overlap_us"])
        for r in temporal.session_overlap_pairs(events).collect()
    }
    h = 3_600_000_000  # µs per hour
    m = 60_000_000  # µs per minute
    # u1: [08:00, 12:20]; u2: [08:10, 12:30]; closed-interval overlap
    # [08:10, 12:20] = 4h10m + 1µs
    assert got[("u1", "u2")] == (1, 4 * h + 10 * m + 1)
    # u3 [10:05, 10:15] sits inside both long sessions
    assert got[("u1", "u3")] == (1, 10 * m + 1)
    assert got[("u2", "u3")] == (1, 10 * m + 1)
    assert len(got) == 3


# ---------------------------------------------------------------
# multimodal: public ops stay sorted after the internal-sort split
# ---------------------------------------------------------------


def test_multimodal_public_ops_stay_sorted(spark):
    docs = spark.createDataFrame(
        [(i, f"doc body {i} " + "x" * (40 + i)) for i in range(24)],
        "doc_id long, text string",
    )
    dh = multimodal.image_dhash(docs).collect()
    assert [r["asset_id"] for r in dh] == sorted(
        r["asset_id"] for r in dh
    )
    vs = multimodal.video_frame_signatures(docs).collect()
    keys = [(r["asset_id"], r["frame_idx"]) for r in vs]
    assert keys == sorted(keys)
    au = multimodal.audio_window_signatures(docs).collect()
    keys = [(r["asset_id"], r["window_idx"]) for r in au]
    assert keys == sorted(keys)
    sv = multimodal.video_dedup_survivors(docs).collect()
    assert [r["asset_id"] for r in sv] == sorted(
        r["asset_id"] for r in sv
    )


# ---------------------------------------------------------------
# triangle kernels: dense-matmul driver path == orientation kernel
# ---------------------------------------------------------------


def _und_df(spark, edges):
    return spark.createDataFrame(edges, "a long, b long")


_TRI_EDGES = [
    # two triangles sharing edge (1,2), a pendant (5), an isolated
    # edge (6,7)
    (1, 2),
    (1, 3),
    (2, 3),
    (1, 4),
    (2, 4),
    (4, 5),
    (6, 7),
]


def test_triangle_census_hybrid_paths_identical(spark, monkeypatch):
    und = _und_df(spark, _TRI_EDGES)
    drv = graph.triangle_census(und).collect()
    force_above_cap(monkeypatch)
    dist = graph.triangle_census(und).collect()
    assert [tuple(r) for r in drv] == [tuple(r) for r in dist]
    assert drv[0]["n_triangles"] == 2


def test_local_clustering_hybrid_paths_identical(spark, monkeypatch):
    und = _und_df(spark, _TRI_EDGES)
    drv = [tuple(r) for r in graph.local_clustering(und).collect()]
    force_above_cap(monkeypatch)
    dist = [tuple(r) for r in graph.local_clustering(und).collect()]
    assert drv == dist
    by_node = {t[0]: t for t in drv}
    # node 1: deg 3, triangles 2 (123, 124) -> 2 / C(3,2)
    assert by_node[1][1:] == (3, 2, round(2 / 3, 6))
    # node 5: degree-1 -> NULL clustering
    assert by_node[5][1:] == (1, 0, None)


def test_assortativity_hybrid_paths_identical(spark, monkeypatch):
    und = _und_df(spark, _TRI_EDGES)
    drv = [tuple(r) for r in graph.assortativity(und).collect()]
    force_above_cap(monkeypatch)
    dist = [tuple(r) for r in graph.assortativity(und).collect()]
    assert drv == dist
    assert drv[0][0] == len(_TRI_EDGES)


def test_assortativity_probe_shapes_and_caps(spark):
    # a star is perfectly disassortative; a triangle is degree-regular
    # (zero variance -> NULL) — both through the driver probe path
    star = _und_df(spark, [(1, 2), (1, 3), (1, 4)])
    assert graph.assortativity(star).collect()[0]["assortativity"] == -1.0
    tri = _und_df(spark, [(1, 2), (2, 3), (1, 3)])
    assert graph.assortativity(tri).collect()[0]["assortativity"] is None
    # the empty graph declines (None): the distributed aggregate owns it
    assert graph._assort_probe(_und_df(spark, [])) is None
    # moments match the distributed aggregate's definition on a path
    # graph 1-2-3: degs (1,2,1); stubs m2=4, sjk=2*(2+2)=... exact:
    m2, sjk, sj, sj2 = graph._assort_probe(
        _und_df(spark, [(1, 2), (2, 3)])
    )
    assert (m2, sjk, sj, sj2) == (4, 8, 6, 10)


def test_triangle_probe_caps(spark, monkeypatch):
    und = _und_df(spark, _TRI_EDGES)
    empty = _und_df(spark, [])
    assert graph._triangle_probe(empty) is None
    probe = graph._triangle_probe(und)
    assert probe is not None and probe[3] == len(_TRI_EDGES)
    # 7 nodes: the node cap declines even though the edges fit
    monkeypatch.setattr(graph, "TRIANGLE_DRIVER_NODE_CAP", 3)
    assert graph._triangle_probe(und) is None


def test_bounded_probe_bound(spark):
    """The one probe rule: the rows when at most ``cap`` of them, else
    ``None``, as Rows or as one Arrow batch."""
    from scholar_stream_spark.plans import hybrid

    four = _und_df(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    assert hybrid.bounded_probe(four, 3) is None
    assert hybrid.bounded_probe(four, 3, arrow=True) is None
    assert len(hybrid.bounded_probe(four, 4)) == 4
    assert len(hybrid.bounded_probe(four, 4, arrow=True)) == 4
    assert hybrid.bounded_probe(_und_df(spark, []), 3) == []


def test_user_graph_kernels_match_distributed_at_sf_small(
    spark, monkeypatch
):
    """The oracle-backed user co-activity entries: driver matmul vs
    the distributed orientation kernel on REAL data (sf0.001)."""
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    drv_c = [tuple(r) for r in graph.user_clustering(ev).collect()]
    drv_t = [tuple(r) for r in graph.user_triangles(ev).collect()]
    force_above_cap(monkeypatch)
    assert drv_c == [
        tuple(r) for r in graph.user_clustering(ev).collect()
    ]
    assert drv_t == [
        tuple(r) for r in graph.user_triangles(ev).collect()
    ]


# ---------------------------------------------------------------
# ANN trainer hybrid: bounded-probe driver path == distributed path
# ---------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_embeddings(spark):
    """48 deterministic 8-dim vectors over 3 partitions — multi-batch
    on the distributed path, probe-sized on the driver path."""
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(48, 8)).round(3)
    return spark.createDataFrame(
        [(i, [float(v) for v in mat[i]]) for i in range(48)],
        "vec_id long, embedding array<double>",
    ).repartition(3)


def test_train_rows_probe_is_bounded(tiny_embeddings, spark):
    rows = similarity._train_rows(tiny_embeddings)
    assert rows is not None and len(rows) == 48
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    assert similarity._train_rows(empty) is None


def test_pq_trainer_hybrid_paths_agree(tiny_embeddings, monkeypatch):
    def train():
        return similarity._pq_train_codebook(
            tiny_embeddings, m=2, k=4, n_iters=3, recount=True,
            rows=similarity._train_rows(tiny_embeddings),
        )

    cb_drv, cnt_drv = train()
    force_above_cap(monkeypatch)
    cb_dst, cnt_dst = train()
    assert (cnt_drv == cnt_dst).all()
    np.testing.assert_allclose(cb_drv, cb_dst, rtol=0, atol=1e-12)


def test_opq_iterative_hybrid_paths_bit_identical_same_batching(
    tiny_embeddings, monkeypatch
):
    """With IDENTICAL batching (one partition = one Arrow batch = the
    driver path's whole-matrix call) the two paths are bit-identical —
    the fold of a single partial into zeros is an exact identity.

    (Across DIFFERENT batchings the alternating minimization is
    float-chaotic — Lloyd argmin boundaries amplify ulp differences —
    and the distributed path already diverges from ITSELF under
    repartitioning on adversarial random fixtures: measured 0.94 max
    component diff between 3- and 5-partition runs of the unchanged
    distributed code. The driver path sits inside that pre-existing
    indeterminacy class; on the real corpora every registered query
    was verified md5-identical at sf0.001/0.01/0.1.)"""
    one = tiny_embeddings.repartition(1)

    def rotation():
        return similarity._opq_rotation_iterative(
            one, m=2, k_star=4, n_iter=2, rows=similarity._train_rows(one)
        )

    r_drv = rotation()
    force_above_cap(monkeypatch)
    r_dst = rotation()
    assert (r_drv == r_dst).all()
    np.testing.assert_allclose(
        r_drv @ r_drv.T, np.eye(8), rtol=0, atol=1e-10
    )


def test_gram_stats_hybrid_exact(tiny_embeddings, monkeypatch):
    """Same-batching ⇒ EXACT equality; across batchings the fsum fold
    keeps the two paths within float-association distance (the same
    tolerance the distributed path has to itself under repartition)."""
    one = tiny_embeddings.repartition(1)

    def stats(df):
        return similarity._gram_stats(df, rows=similarity._train_rows(df))

    n1, s1, g1 = stats(one)
    force_above_cap(monkeypatch)
    n2, s2, g2 = stats(one)
    assert n1 == n2
    assert (s1 == s2).all()
    assert (g1 == g2).all()
    # multi-batch distributed vs driver: association-level agreement
    n3, s3, g3 = stats(tiny_embeddings)
    assert n3 == n1
    np.testing.assert_allclose(s3, s1, rtol=0, atol=1e-12)
    np.testing.assert_allclose(g3, g1, rtol=0, atol=1e-12)


def test_cluster_embeddings_hybrid_assignments_identical(
    tiny_embeddings, monkeypatch
):
    """The registered entry path: default (driver-trained) vs forced
    distributed training — identical cluster ids and round-4 cosines."""
    drv = {
        r["vec_id"]: (r["cluster_id"], r["cos_to_centroid"])
        for r in similarity.cluster_embeddings(
            tiny_embeddings, n_clusters=4, n_iters=3
        ).collect()
    }
    force_above_cap(monkeypatch)
    dist = {
        r["vec_id"]: (r["cluster_id"], r["cos_to_centroid"])
        for r in similarity.cluster_embeddings(
            tiny_embeddings, n_clusters=4, n_iters=3
        ).collect()
    }
    assert drv == dist


def test_ann_pq_topk_hybrid_results_identical(
    tiny_embeddings, monkeypatch
):
    def grain(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
            for r in df.collect()
        )

    drv = grain(
        similarity.ann_pq_topk(
            tiny_embeddings, topk=3, n_queries=4, m=2, k_star=4
        )
    )
    force_above_cap(monkeypatch)
    dist = grain(
        similarity.ann_pq_topk(
            tiny_embeddings, topk=3, n_queries=4, m=2, k_star=4
        )
    )
    assert drv == dist


# ---------------------------------------------------------------
# driver_rows_df: one-slice driver tables (the coalesce(1) write fix)
# ---------------------------------------------------------------


def test_driver_rows_df_value_and_slice_contract(spark):
    """A driver-held row list must land value-identical to plain
    ``createDataFrame`` but WITHOUT the defaultParallelism fan-out: a
    32-slice tiny table pays 32 Python-worker round-trips in any
    single-task consumer (a 256-row ``coalesce(1)`` codebook write
    measured 4.4 s vs 0.31 s at one slice)."""
    from scholar_stream_spark.plans.hybrid import driver_rows_df

    rows = [(i, f"s{i}", [float(i), float(i + 1)]) for i in range(257)]
    schema = "id long, name string, vec array<double>"
    got = driver_rows_df(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )
    # tiny table -> exactly one slice; scaling kicks in per 64k rows
    assert got.rdd.getNumPartitions() == 1
    assert driver_rows_df(
        spark, rows, schema, rows_per_slice=100
    ).rdd.getNumPartitions() == 3
    # empty list with both schema forms stays legal (streaming early
    # returns build empty frames through the same helper)
    empty = driver_rows_df(spark, [], schema)
    assert empty.count() == 0
    assert empty.schema == ref.schema


# ---------------------------------------------------------------
# BPE trainers: driver fast path vs distributed loop (r17 opt #17)
# ---------------------------------------------------------------


def _bpe_docs(spark):
    rows = [
        ("the merger merged mergers",),
        ("low lower lowest lowly",),
        ("new newer newest news",),
        ("wide wider widest widely row",),
        ("the the the lowly news row",),
    ]
    return spark.createDataFrame(rows, "text string")


def test_bpe_train_hybrid_paths_identical(spark, monkeypatch):
    """The driver trainer must reproduce the distributed loop
    merge-for-merge: same argmax total order (count desc, a asc,
    b asc), same left-fold rewrite, same stop condition."""
    from scholar_stream_spark.operators import textops

    docs = _bpe_docs(spark)
    fast = textops.bpe_train(docs, n_merges=6).collect()
    force_above_cap(monkeypatch)
    slow = textops.bpe_train(docs, n_merges=6).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    assert len(fast) > 0


def test_bpe_train_batched_hybrid_paths_identical(spark, monkeypatch):
    """Batched variant: same candidate cut, same strict
    non-interaction admission, same batched first-match fold."""
    from scholar_stream_spark.operators import textops

    docs = _bpe_docs(spark)
    fast = textops.bpe_train_batched(docs, n_merges=6, batch=3).collect()
    force_above_cap(monkeypatch)
    slow = textops.bpe_train_batched(docs, n_merges=6, batch=3).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    assert len(fast) > 0


def test_snm_members_hybrid_paths_identical(spark, monkeypatch):
    """SNM clusters/survivor map: the driver union-find must emit the
    same min-member component labels as the distributed star kernel."""
    from scholar_stream_spark.operators import dedup

    rows = [(f"name{i:03d}",) for i in range(40) for _ in range(2)]
    # an edit-distance chain: name000 ~ name001 ~ ... (lev 1 apart)
    part = spark.createDataFrame(rows, "p_name string")
    fast = dedup.snm_entity_clusters(part).collect()
    fast_map = dedup.snm_survivor_map(part).collect()
    force_above_cap(monkeypatch)
    slow = dedup.snm_entity_clusters(part).collect()
    slow_map = dedup.snm_survivor_map(part).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    assert sorted(map(tuple, fast_map)) == sorted(map(tuple, slow_map))
    assert len(fast) > 0

"""Round-16 operators: the combinatorial graph family (degree profile,
reciprocity, triangle census, local clustering, common-neighbor link
prediction) and the measured PageRank residual.

Strategy: brute-force itertools/math references over the REAL sf0.001
trade graph (no hand-transcribed expected values to go stale), hand
fixtures where the shape is the point (star vs clique clustering,
one-way vs two-way reciprocity), degenerate-input guards, and plan pins
(equi-joins only — no cartesian in the triangle kernel).
"""

from __future__ import annotations

import math
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.operators import graph
from tests.conftest import SF_SMALL, force_above_cap


@pytest.fixture(scope="module")
def trade_tabs(spark):
    return tuple(
        spark.read.parquet(f"{SF_SMALL}/{t}.parquet")
        for t in ("customer", "orders", "lineitem", "supplier")
    )


@pytest.fixture(scope="module")
def ref_graph(trade_tabs):
    """Brute-force reference built from the SAME lane table the ops
    consume: (nl directed lanes, strong directed set, und edges,
    adjacency dict)."""
    lanes = {
        (r["src"], r["dst"]): r["cnt"]
        for r in graph.trade_edge_counts(*trade_tabs).collect()
    }
    nl = {k: v for k, v in lanes.items() if k[0] != k[1]}
    n_lanes, total = len(nl), sum(nl.values())
    strong = {k for k, v in nl.items() if v * n_lanes >= total}
    und = {tuple(sorted(k)) for k in strong}
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return nl, strong, und, adj


def _ref_triangles(und, adj):
    nodes = sorted(adj)
    return [
        t
        for t in combinations(nodes, 3)
        if (t[0], t[1]) in und and (t[1], t[2]) in und and (t[0], t[2]) in und
    ]


# ---------------------------------------------------------------
# degree profile
# ---------------------------------------------------------------

def test_degree_profile_matches_bruteforce(trade_tabs, ref_graph):
    nl, *_ = ref_graph
    outd, ind = {}, {}
    for (s, d), c in nl.items():
        o = outd.setdefault(s, [0, 0])
        o[0] += 1
        o[1] += c
        i = ind.setdefault(d, [0, 0])
        i[0] += 1
        i[1] += c
    got = {
        r["nation_key"]: r
        for r in graph.trade_degree_profile(*trade_tabs).collect()
    }
    assert set(got) == set(outd) | set(ind)
    for v, r in got.items():
        assert [r["out_degree"], r["out_shipments"]] == outd.get(v, [0, 0])
        assert [r["in_degree"], r["in_shipments"]] == ind.get(v, [0, 0])


def test_degree_profile_zero_fills_one_sided(spark):
    """A dst-only node must appear with out_degree 0, not drop out of
    the full-outer spine."""
    cust = spark.createDataFrame([(1, 10), (2, 11)], "c_custkey int, c_nationkey int")
    supp = spark.createDataFrame([(1, 10)], "s_suppkey int, s_nationkey int")
    orders = spark.createDataFrame([(100, 1), (101, 2)], "o_orderkey int, o_custkey int")
    li = spark.createDataFrame(
        [(100, 1), (101, 1)], "l_orderkey int, l_suppkey int"
    )
    got = {
        r["nation_key"]: r
        for r in graph.trade_degree_profile(cust, orders, li, supp).collect()
    }
    # 10->10 is a self-loop (excluded); 10->11 is the only lane
    assert set(got) == {10, 11}
    assert got[10]["out_degree"] == 1 and got[10]["in_degree"] == 0
    assert got[11]["out_degree"] == 0 and got[11]["in_degree"] == 1
    assert got[11]["in_shipments"] == 1


# ---------------------------------------------------------------
# reciprocity
# ---------------------------------------------------------------

def test_reciprocity_matches_bruteforce(trade_tabs, ref_graph):
    _, strong, *_ = ref_graph
    n_rec = sum(1 for (s, d) in strong if (d, s) in strong)
    row = graph.trade_reciprocity(*trade_tabs).collect()[0]
    assert row["n_strong_lanes"] == len(strong)
    assert row["n_reciprocated"] == n_rec
    assert row["reciprocity"] == pytest.approx(
        round(n_rec / len(strong), 6), abs=1e-9
    )


def test_reciprocity_hand_fixture(spark):
    """2 one-way strong lanes + 1 two-way pair: reciprocity = 2/4.
    Lane counts chosen so the above-mean threshold keeps all four
    (equal counts: cnt * n = total exactly — the >= boundary)."""
    cust = spark.createDataFrame(
        [(i, i) for i in range(1, 5)], "c_custkey int, c_nationkey int"
    )
    supp = spark.createDataFrame(
        [(i, i) for i in range(1, 5)], "s_suppkey int, s_nationkey int"
    )
    lanes = [(1, 2), (2, 1), (1, 3), (2, 4)]
    orders = spark.createDataFrame(
        [(k, dst) for k, (_, dst) in enumerate(lanes)],
        "o_orderkey int, o_custkey int",
    )
    li = spark.createDataFrame(
        [(k, src) for k, (src, _) in enumerate(lanes)],
        "l_orderkey int, l_suppkey int",
    )
    row = graph.trade_reciprocity(cust, orders, li, supp).collect()[0]
    assert row["n_strong_lanes"] == 4
    assert row["n_reciprocated"] == 2
    assert row["reciprocity"] == pytest.approx(0.5)


# ---------------------------------------------------------------
# triangle census + clustering
# ---------------------------------------------------------------

def test_triangle_census_matches_bruteforce(trade_tabs, ref_graph):
    *_, und, adj = ref_graph
    tris = _ref_triangles(und, adj)
    wedges = sum(
        len(nb) * (len(nb) - 1) // 2 for nb in adj.values()
    )
    row = graph.trade_triangle_census(*trade_tabs).collect()[0]
    assert row["n_nodes"] == len(adj)
    assert row["n_edges"] == len(und)
    assert row["n_triangles"] == len(tris)
    want = round(3 * len(tris) / wedges, 6) if wedges else None
    assert row["transitivity"] == pytest.approx(want, abs=1e-9)


def test_clustering_matches_bruteforce(trade_tabs, ref_graph):
    *_, und, adj = ref_graph
    tris = _ref_triangles(und, adj)
    got = {
        r["nation_key"]: r
        for r in graph.trade_clustering(*trade_tabs).collect()
    }
    assert set(got) == set(adj)
    for v, nb in adj.items():
        nt = sum(1 for t in tris if v in t)
        d = len(nb)
        assert got[v]["degree"] == d
        assert got[v]["n_triangles"] == nt
        if d > 1:
            assert got[v]["clustering"] == pytest.approx(
                round(nt / (d * (d - 1) / 2), 6), abs=1e-9
            )
        else:
            assert got[v]["clustering"] is None


def _graph_fixture(spark, und_edges):
    """Tiny trade tables that realize EXACTLY the given undirected
    strong support (every lane shipped once ⇒ every lane is at-mean
    and therefore strong; one direction per undirected edge)."""
    nodes = sorted({x for e in und_edges for x in e})
    cust = spark.createDataFrame(
        [(v, v) for v in nodes], "c_custkey int, c_nationkey int"
    )
    supp = spark.createDataFrame(
        [(v, v) for v in nodes], "s_suppkey int, s_nationkey int"
    )
    orders = spark.createDataFrame(
        [(k, b) for k, (_, b) in enumerate(und_edges)],
        "o_orderkey int, o_custkey int",
    )
    li = spark.createDataFrame(
        [(k, a) for k, (a, _) in enumerate(und_edges)],
        "l_orderkey int, l_suppkey int",
    )
    return cust, orders, li, supp


def test_clustering_star_vs_clique(spark):
    """Shape pin: a star's hub clusters at 0 (no partner pair closes);
    a 4-clique clusters at 1 everywhere."""
    star = _graph_fixture(spark, [(0, i) for i in range(1, 5)])
    got = {
        r["nation_key"]: r for r in graph.trade_clustering(*star).collect()
    }
    assert got[0]["degree"] == 4 and got[0]["clustering"] == 0.0
    assert all(got[i]["clustering"] is None for i in range(1, 5))  # deg 1
    census = graph.trade_triangle_census(*star).collect()[0]
    assert census["n_triangles"] == 0 and census["transitivity"] == 0.0

    clique = _graph_fixture(
        spark, [(a, b) for a, b in combinations(range(4), 2)]
    )
    got = {
        r["nation_key"]: r
        for r in graph.trade_clustering(*clique).collect()
    }
    assert all(got[i]["clustering"] == 1.0 for i in range(4))
    census = graph.trade_triangle_census(*clique).collect()[0]
    assert census["n_triangles"] == 4 and census["transitivity"] == 1.0


def test_triangle_kernel_enumerates_each_once(spark, ref_graph):
    """The degree-ordered orientation must yield each triangle exactly
    once — no dup rows, all x/y/z distinct, every row a real triangle."""
    *_, und, adj = ref_graph
    und_df = spark.createDataFrame(sorted(und), "a long, b long")
    rows = graph._oriented_triangles(und_df).collect()
    seen = set()
    for r in rows:
        t = tuple(sorted((r["x"], r["y"], r["z"])))
        assert len(set(t)) == 3
        assert t not in seen, f"duplicate triangle {t}"
        seen.add(t)
        assert (t[0], t[1]) in und and (t[1], t[2]) in und \
            and (t[0], t[2]) in und
    assert len(seen) == len(_ref_triangles(und, adj))


def test_triangle_plan_has_no_cartesian(trade_tabs):
    df = graph.trade_triangle_census(*trade_tabs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------
# link prediction
# ---------------------------------------------------------------

def test_link_prediction_matches_bruteforce(trade_tabs, ref_graph):
    *_, und, adj = ref_graph
    ref = {}
    for a, b in combinations(sorted(adj), 2):
        if (a, b) in und:
            continue
        common = adj[a] & adj[b]
        if not common:
            continue
        aa = sum(1.0 / math.log(len(adj[c])) for c in common)
        ref[(a, b)] = (
            len(common),
            round(len(common) / (len(adj[a]) + len(adj[b]) - len(common)), 6),
            round(aa, 6),
        )
    got = {
        (r["nation_a"], r["nation_b"]): r
        for r in graph.trade_link_prediction(*trade_tabs).collect()
    }
    assert set(got) == set(ref)
    for k, (cn, jc, aa) in ref.items():
        r = got[k]
        assert r["common_neighbors"] == cn, k
        assert r["jaccard"] == pytest.approx(jc, abs=1e-9), k
        # float log-sum: re-association tolerance, far below round-6 grain
        assert r["adamic_adar"] == pytest.approx(aa, abs=1e-6), k


def test_link_prediction_excludes_adjacent_and_zero_evidence(spark):
    """Path 0-1-2 plus isolated-ish edge 3-4: the only open wedge pair
    is (0,2) through pivot 1 (deg 2 ⇒ AA = 1/ln 2); (3,4) is adjacent
    and pairs with no common partner never appear."""
    tabs = _graph_fixture(spark, [(0, 1), (1, 2), (3, 4)])
    rows = graph.trade_link_prediction(*tabs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["nation_a"], r["nation_b"]) == (0, 2)
    assert r["common_neighbors"] == 1
    assert r["jaccard"] == pytest.approx(1.0)  # N(0)={1}, N(2)={1}
    assert r["adamic_adar"] == pytest.approx(round(1 / math.log(2), 6))


# ---------------------------------------------------------------
# pagerank residual (r15 verdict item 4: measured, not asserted)
# ---------------------------------------------------------------

def test_pagerank_residual_matches_numpy(spark):
    from tests.test_r15_ops import _numpy_pagerank

    e = [(1, 2, 3.0), (1, 3, 1.0), (2, 1, 1.0)]
    df = spark.createDataFrame(e, "src long, dst long, weight double")
    rows = graph.pagerank(df, n_iter=5, with_residual=True).collect()
    residuals = {r["residual"] for r in rows}
    assert len(residuals) == 1  # one constant evidence column
    pr_5 = _numpy_pagerank(e, graph.PAGERANK_DAMPING, 5)
    pr_4 = _numpy_pagerank(e, graph.PAGERANK_DAMPING, 4)
    want = sum(abs(pr_5[v] - pr_4[v]) for v in pr_5)
    assert residuals.pop() == pytest.approx(want, abs=1e-12)
    # and the rank values are unchanged by the instrumentation
    plain = {r["node"]: r["pr"] for r in graph.pagerank(df, n_iter=5).collect()}
    for r in graph.pagerank(df, n_iter=5, with_residual=True).collect():
        assert r["pr"] == pytest.approx(plain[r["node"]], abs=0.0)


def test_pagerank_default_budget_meets_documented_bound(trade_tabs):
    """The module docstring claims residual ≲ 0.85^20 of the initial
    gap at the default budget; power iteration contracts L1 steps by
    ≥ damping per round, so 2·d^T is the hard ceiling. Measure it on
    the real trade graph — it must hold with room (this graph
    converges to machine epsilon; the bound is the portable claim)."""
    rows = graph.nation_pagerank(*trade_tabs, with_residual=True).collect()
    res = rows[0]["residual"]
    assert res is not None
    assert 0.0 <= res <= 2 * graph.PAGERANK_DAMPING ** graph.PAGERANK_ITER
    assert res <= 1e-6  # the measured value, far inside the ceiling


def test_pagerank_rejects_empty_edge_list(spark):
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="empty edge list"):
        graph.pagerank(empty)


# ---------------------------------------------------------------
# session_overlap_density + in-plan candidate observation
# (r15 verdict item 6: the hot-bucket cost bound, quantified)
# ---------------------------------------------------------------

@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_SMALL}/events.parquet")


def _collected_sessions(events, gap_seconds=None):
    from scholar_stream_spark.operators import temporal

    gap = gap_seconds or temporal.SESSION_GAP_SECONDS
    return [
        (r["user_id"], r["s"], r["e"])
        for r in temporal.sessionize(events, gap)
        .select(
            "user_id",
            F.unix_micros(
                F.col("session_start").cast("timestamp")
            ).alias("s"),
            F.unix_micros(F.col("session_end").cast("timestamp")).alias(
                "e"
            ),
        )
        .collect()
    ]


def test_overlap_density_matches_bruteforce(events):
    from scholar_stream_spark.operators import temporal

    bw = temporal.OVERLAP_BUCKET_SECONDS * 1_000_000
    per_bucket: dict = {}
    for u, s, e in _collected_sessions(events):
        for bkt in range(s // bw, e // bw + 1):
            d = per_bucket.setdefault(bkt, {})
            d[u] = d.get(u, 0) + 1
    got = {
        r["bucket_lo_us"]: r
        for r in temporal.session_overlap_density(events).collect()
    }
    assert set(got) == {b * bw for b in per_bucket}
    for bkt, users in per_bucket.items():
        r = got[bkt * bw]
        n = sum(users.values())
        assert r["n_sessions"] == n
        assert r["n_users"] == len(users)
        want_cand = (n * n - sum(c * c for c in users.values())) // 2
        assert r["n_candidates"] == want_cand, bkt


def test_overlap_density_is_the_joins_per_bucket_work(events):
    """The profile's Σ n_candidates upper-bounds the overlap join's
    observed DISTINCT candidate set (the observation sits after the
    cross-bucket dedup — it counts what the exact verify scans; the
    profile counts the equi-join's raw per-bucket volume, which
    exceeds it exactly when a session pair shares several buckets)."""
    from pyspark.sql import Observation

    from scholar_stream_spark.operators import temporal

    total_cand = sum(
        r["n_candidates"]
        for r in temporal.session_overlap_density(events).collect()
    )
    obs = Observation("overlap_cost")
    out = temporal.session_overlap_pairs(events, observation=obs)
    n_pairs = out.count()  # action → metrics collected
    m = obs.get
    # the join's distinct candidate set is what the per-bucket sum
    # upper-bounds (a pair spanning k buckets counts k times there)
    assert m["n_candidates"] <= total_cand
    assert m["n_verified"] <= m["n_candidates"]
    assert n_pairs > 0 and m["n_verified"] > 0
    # verified candidates roll up to the output pairs: n_overlaps sums
    # to exactly the verified count
    total_overlaps = sum(
        r["n_overlaps"] for r in out.collect()
    )
    assert total_overlaps == m["n_verified"]


def test_overlap_density_flash_crowd_fixture(spark):
    """Three users co-active in one hour bucket, one loner a day
    later: the hot bucket reports C(3,2)=3 candidates, the lone
    bucket 0 — the flash crowd is visible as a single row."""
    from scholar_stream_spark.operators import temporal

    rows = []
    for i, u in enumerate(("u1", "u2", "u3")):
        rows.append((u, f"e{i}", "2024-01-01 10:00:00"))
    rows.append(("u4", "e9", "2024-01-02 10:00:00"))
    events = spark.createDataFrame(
        rows, "user_id string, event_id string, ts_s string"
    ).select(
        "user_id", "event_id", F.to_timestamp("ts_s").alias("ts")
    )
    got = sorted(
        (r["n_users"], r["n_candidates"])
        for r in temporal.session_overlap_density(events).collect()
    )
    assert got == [(1, 0), (3, 3)]


def test_overlap_observation_zero_not_null_on_empty_candidates(spark):
    """A stream with no cross-user co-activity must observe
    n_candidates = n_verified = 0 — a SUM over zero rows is NULL
    without the coalesce, and a monitor doing arithmetic on the
    metrics would TypeError on None."""
    from pyspark.sql import Observation

    from scholar_stream_spark.operators import temporal

    events = spark.createDataFrame(
        [("u1", "e0", "2024-01-01 10:00:00"),
         ("u2", "e1", "2024-03-01 10:00:00")],
        "user_id string, event_id string, ts_s string",
    ).select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"))
    obs = Observation("empty_overlap")
    out = temporal.session_overlap_pairs(events, observation=obs)
    assert out.count() == 0
    m = obs.get
    assert m["n_candidates"] == 0
    assert m["n_verified"] == 0  # not None


def test_overlap_density_rejects_degenerate(events):
    from scholar_stream_spark.operators import temporal

    with pytest.raises(ValueError, match="bucket_seconds"):
        temporal.session_overlap_density(events, bucket_seconds=0)


# ---------------------------------------------------------------
# assortativity + k-core (batch 2 graph ops)
# ---------------------------------------------------------------

def test_assortativity_matches_bruteforce(trade_tabs, ref_graph):
    *_, und, adj = ref_graph
    sjk = sum(len(adj[a]) * len(adj[b]) for a, b in und) * 2
    sj = sum(len(adj[a]) + len(adj[b]) for a, b in und)
    sj2 = sum(len(adj[a]) ** 2 + len(adj[b]) ** 2 for a, b in und)
    m2 = 2 * len(und)
    mean = sj / m2
    cov = sjk / m2 - mean * mean
    var = sj2 / m2 - mean * mean
    row = graph.trade_assortativity(*trade_tabs).collect()[0]
    assert row["n_edges"] == len(und)
    want = round(cov / var, 6) if var > 0 else None
    assert row["assortativity"] == pytest.approx(want, abs=1e-9)


def test_assortativity_shape_fixtures(spark):
    """A star is maximally DISassortative (every edge joins the hub to
    a leaf: r = −1 on >2 leaves ... actually r is NULL-variance-guarded
    only on regular graphs); a clique is degree-regular → NULL."""
    star = _graph_fixture(spark, [(0, i) for i in range(1, 5)])
    row = graph.trade_assortativity(*star).collect()[0]
    assert row["n_edges"] == 4
    assert row["assortativity"] == pytest.approx(-1.0)
    clique = _graph_fixture(
        spark, [(a, b) for a, b in combinations(range(4), 2)]
    )
    row = graph.trade_assortativity(*clique).collect()[0]
    assert row["assortativity"] is None  # zero degree variance


def _ref_coreness(adj):
    g = {v: set(ns) for v, ns in adj.items()}
    core, k = {}, 0
    while g:
        k = max(k, min(len(ns) for ns in g.values()))
        peel = [v for v, ns in g.items() if len(ns) <= k]
        while peel:
            v = peel.pop()
            if v not in g:
                continue
            core[v] = k
            for u in g[v]:
                g[u].discard(v)
                if len(g[u]) <= k:
                    peel.append(u)
            del g[v]
    return core


def test_kcore_matches_peeling_reference(trade_tabs, ref_graph):
    *_, und, adj = ref_graph
    got = {
        r["nation_key"]: r["coreness"]
        for r in graph.trade_kcore(*trade_tabs).collect()
    }
    assert got == _ref_coreness(adj)


def test_kcore_hub_of_leaves_is_periphery(spark):
    """The op's whole point: a star hub has degree 4 but coreness 1
    (remove the leaves and it dies); a 4-clique is coreness 3
    everywhere. Plus a chain-of-cliques mixed fixture."""
    star = _graph_fixture(spark, [(0, i) for i in range(1, 5)])
    got = {
        r["nation_key"]: r["coreness"]
        for r in graph.trade_kcore(*star).collect()
    }
    assert got == {v: 1 for v in range(5)}
    # clique {0..3} + pendant path 3-4-5: clique cores at 3, path at 1
    mixed = _graph_fixture(
        spark,
        [(a, b) for a, b in combinations(range(4), 2)] + [(3, 4), (4, 5)],
    )
    got = {
        r["nation_key"]: r["coreness"]
        for r in graph.trade_kcore(*mixed).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 1}


def test_kcore_rejects_degenerate(trade_tabs, monkeypatch):
    with pytest.raises(ValueError, match="max_iter"):
        graph.trade_kcore(*trade_tabs, max_iter=0)
    with pytest.raises(RuntimeError, match="did not converge"):
        # 1 round cannot reach the fixpoint on a graph whose h-index
        # sequence needs >1 step; forcing the DISTRIBUTED path (the
        # r17 hybrid would otherwise peel this grid-sized graph on the
        # driver and never hit the round cap)
        force_above_cap(monkeypatch)
        graph.trade_kcore(*trade_tabs, max_iter=1)


# ---------------------------------------------------------------
# user burstiness
# ---------------------------------------------------------------

def test_burstiness_matches_bruteforce(events):
    from scholar_stream_spark.operators import temporal

    rows = events.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    ).collect()
    per: dict = {}
    for r in rows:
        per.setdefault(r["user_id"], []).append((r["us"], r["event_id"]))
    ref = {}
    for u, xs in per.items():
        xs.sort()
        gaps = [xs[i + 1][0] - xs[i][0] for i in range(len(xs) - 1)]
        if len(gaps) < 2:
            continue
        n = len(gaps)
        mu = sum(gaps) / n
        var = sum(g * g for g in gaps) / n - mu * mu
        sig = math.sqrt(max(var, 0.0))
        b = (sig - mu) / (sig + mu) if sig + mu > 0 else None
        ref[u] = (n, mu, sig, b)
    got = {
        r["user_id"]: r
        for r in temporal.user_burstiness(events).collect()
    }
    assert set(got) == set(ref)
    for u, (n, mu, sig, b) in ref.items():
        r = got[u]
        assert r["n_gaps"] == n
        # round-2 columns: HALF_UP vs python banker's can differ by one
        # ulp of the grain on exact .xx5 values — compare unrounded
        assert r["mean_gap_us"] == pytest.approx(mu, abs=0.006)
        assert r["std_gap_us"] == pytest.approx(sig, abs=0.006)
        assert r["burstiness"] == pytest.approx(b, abs=1e-5)


def test_burstiness_shape_fixtures(spark):
    """A metronome user pins B = −1 (σ = 0); a bursty train with one
    long silence lands strictly positive; sub-min-gaps users and the
    all-simultaneous degenerate are excluded/NULL."""
    from scholar_stream_spark.operators import temporal

    rows = []
    # u_metro: exactly every 60 s
    for i in range(5):
        rows.append(("u_metro", f"m{i}", f"2024-01-01 10:{i:02d}:00"))
    # u_burst: 3 events in 2 s, then an hour, then 2 more
    for i, off in enumerate((0, 1, 2, 3600, 3601)):
        rows.append(
            ("u_burst", f"b{i}",
             f"2024-01-01 {10 + off // 3600}:{(off % 3600) // 60:02d}:{off % 60:02d}")
        )
    rows.append(("u_two", "t0", "2024-01-01 10:00:00"))
    rows.append(("u_two", "t1", "2024-01-01 10:00:01"))
    # u_zero: three simultaneous events (all gaps 0 -> B NULL)
    for i in range(3):
        rows.append(("u_zero", f"z{i}", "2024-01-01 10:00:00"))
    events = spark.createDataFrame(
        rows, "user_id string, event_id string, ts_s string"
    ).select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"))
    got = {
        r["user_id"]: r
        for r in temporal.user_burstiness(events).collect()
    }
    assert set(got) == {"u_metro", "u_burst", "u_zero"}  # u_two: 1 gap
    assert got["u_metro"]["burstiness"] == pytest.approx(-1.0)
    assert got["u_metro"]["std_gap_us"] == 0.0
    # B's finite-size ceiling is (√(n−1)−1)/(√(n−1)+1) ≈ 0.268 at
    # n=4 gaps (one dominant silence) — this fixture sits essentially
    # at it
    assert got["u_burst"]["burstiness"] == pytest.approx(
        (math.sqrt(3) - 1) / (math.sqrt(3) + 1), abs=0.01
    )
    assert got["u_zero"]["burstiness"] is None


def test_burstiness_rejects_degenerate(events):
    from scholar_stream_spark.operators import temporal

    with pytest.raises(ValueError, match="min_gaps"):
        temporal.user_burstiness(events, min_gaps=1)


# ---------------------------------------------------------------
# ANN hard negatives
# ---------------------------------------------------------------

def test_hard_negatives_matches_bruteforce(spark):
    from scholar_stream_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a))
            * math.sqrt(sum(y * y for y in b))
        )

    ref = {}
    for q in [v for v in sorted(vecs) if v < similarity.ANN_NUM_QUERIES]:
        cands = sorted(
            ((cos(vecs[q], vecs[n]), n) for n in vecs if n != q),
            key=lambda t: (-t[0], t[1]),
        )
        cands = [
            (c, n) for c, n in cands if c < similarity.HARD_NEG_MAX_COS
        ]
        for rk, (c, n) in enumerate(cands[: similarity.ANN_TOPK], 1):
            ref[(q, n)] = (c, rk)
    got = {
        (r["query_id"], r["neighbor_id"]): (r["cos_sim"], r["rank"])
        for r in similarity.hard_negatives_topk(emb).collect()
    }
    assert set(got) == set(ref)
    for k2, (c, rk) in ref.items():
        assert got[k2][1] == rk
        assert got[k2][0] == pytest.approx(c, abs=1e-4)


def test_hard_negatives_excludes_near_dup_band(spark):
    """Plant an exact duplicate of query 0's vector under a new id:
    cosine 1.0 ≥ the band, so it must NOT appear among q0's negatives
    — while cosine_topk (no band) ranks it first."""
    from scholar_stream_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    planted = emb.select("vec_id", "embedding").unionAll(dup)
    top = {
        r["rank"]: r["neighbor_id"]
        for r in similarity.cosine_topk(planted).collect()
        if r["query_id"] == 0
    }
    assert top[1] == 1_000_000  # the dup wins the unbanded ranking
    hard = [
        r["neighbor_id"]
        for r in similarity.hard_negatives_topk(planted).collect()
        if r["query_id"] == 0
    ]
    assert 1_000_000 not in hard
    assert len(hard) == similarity.ANN_TOPK


def test_hard_negatives_rejects_degenerate(spark):
    from scholar_stream_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    with pytest.raises(ValueError, match="max_cos"):
        similarity.hard_negatives_topk(emb, max_cos=0.0)


# ---------------------------------------------------------------
# HITS hubs/authorities
# ---------------------------------------------------------------

def _numpy_hits(edges, n_iter):
    import numpy as np

    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    for s, d, w in edges:
        W[idx[s], idx[d]] += w
    hub_nodes = sorted({s for s, _, _ in edges})
    h = np.zeros(n)
    for v in hub_nodes:
        h[idx[v]] = 1.0 / len(hub_nodes)
    a = np.zeros(n)
    for _ in range(n_iter):
        a = W.T @ h
        a = a / a.sum()
        h = W @ a
        h = h / h.sum()
    return {v: (h[idx[v]], a[idx[v]]) for v in nodes}


def test_nation_hits_matches_numpy(trade_tabs):
    edges = [
        (r["src"], r["dst"], r["weight"])
        for r in graph._nation_revenue_edges(*trade_tabs).collect()
    ]
    want = _numpy_hits(edges, graph.HITS_ITER)
    got = {
        r["nation_key"]: (r["hub"], r["authority"])
        for r in graph.nation_hits(*trade_tabs).collect()
    }
    assert set(got) == set(want)
    for v, (h, a) in want.items():
        assert got[v][0] == pytest.approx(round(h, 6), abs=2e-6), v
        assert got[v][1] == pytest.approx(round(a, 6), abs=2e-6), v
    assert sum(x for x, _ in got.values()) == pytest.approx(1.0, abs=1e-4)
    assert sum(y for _, y in got.values()) == pytest.approx(1.0, abs=1e-4)


def test_hits_hub_vs_authority_roles(spark):
    """Pure-source vs pure-sink separation: on a 2->1 funnel graph the
    sinks score 0 as hubs, the sources 0 as authorities — HITS has no
    teleport floor, so a role a node never plays scores exactly 0."""
    e = [(1, 3, 1.0), (2, 3, 2.0)]
    df = spark.createDataFrame(e, "src long, dst long, weight double")
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in graph.hits(df, n_iter=5).collect()
    }
    assert got[3] == (0.0, 1.0)  # sink: pure authority
    assert got[1][1] == 0.0 and got[2][1] == 0.0  # sources: no authority
    assert got[2][0] > got[1][0]  # heavier edge -> stronger hub
    want = _numpy_hits(e, 5)
    for v in got:
        assert got[v][0] == pytest.approx(want[v][0], abs=1e-12)
        assert got[v][1] == pytest.approx(want[v][1], abs=1e-12)


def test_hits_residual_and_degenerates(spark):
    e = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 2.0)]
    df = spark.createDataFrame(e, "src long, dst long, weight double")
    rows = graph.hits(df, n_iter=6, with_residual=True).collect()
    res = {r["residual"] for r in rows}
    assert len(res) == 1
    want5 = _numpy_hits(e, 5)
    want6 = _numpy_hits(e, 6)
    exp = sum(
        abs(want6[v][0] - want5[v][0]) + abs(want6[v][1] - want5[v][1])
        for v in want6
    )
    assert res.pop() == pytest.approx(exp, abs=1e-12)
    with pytest.raises(ValueError, match="n_iter"):
        graph.hits(df, n_iter=0)
    with pytest.raises(ValueError, match="positive"):
        graph.hits(
            spark.createDataFrame(
                [(1, 2, 0.0)], "src long, dst long, weight double"
            )
        )
    with pytest.raises(ValueError, match="empty"):
        graph.hits(
            spark.createDataFrame([], "src long, dst long, weight double")
        )

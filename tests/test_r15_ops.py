"""Round-15 operator tests.

Covers the r14 verdict items landed this round: the SNM survivor map
(member → canonical lineage off the shared `_snm_members` table) and
the QI generalization ladder (`generalize_qi_report` +
`generalize_quasi_identifiers` — the enforcement step the k/l/t
audits only measure; the verdict's Done criterion is the audits
re-running GREEN on the generalized output, pinned here). The CC
kernel ANSI/convergence fixes are pinned in test_ansi_mode /
test_dedup_scale_guards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.operators import dedup, masking
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def part(spark):
    return spark.read.parquet(f"{SF_SMALL}/part.parquet")


@pytest.fixture(scope="module")
def customer(spark):
    return spark.read.parquet(f"{SF_SMALL}/customer.parquet")


@pytest.fixture(scope="module")
def nation(spark):
    return spark.read.parquet(f"{SF_SMALL}/nation.parquet")


# ---------------------------------------------------------------
# snm_survivor_map: member → canonical lineage
# ---------------------------------------------------------------

def test_snm_survivor_map_consistent_with_clusters(spark, part):
    clusters = {
        r["canonical_name"]: (r["n_names"], r["n_parts"])
        for r in dedup.snm_entity_clusters(part).collect()
    }
    rows = dedup.snm_survivor_map(part).collect()
    # no member maps to itself; every canonical target is a real cluster
    for r in rows:
        assert r["p_name"] != r["canonical_name"]
        assert r["canonical_name"] in clusters
        assert r["n_names"] == clusters[r["canonical_name"]][0]
        # canonical = lexicographically-first member
        assert r["canonical_name"] < r["p_name"]
    # exactly (cluster_size - 1) mapped members per cluster
    from collections import Counter

    per_canon = Counter(r["canonical_name"] for r in rows)
    assert per_canon == {
        name: n_names - 1 for name, (n_names, _) in clusters.items()
    }
    # member part counts + the canonical's own count = cluster n_parts
    spine = {
        r["p_name"]: r["n_parts"]
        for r in part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .collect()
    }
    got_parts = Counter()
    for r in rows:
        got_parts[r["canonical_name"]] += r["n_parts"]
    for name, (_, n_parts) in clusters.items():
        assert got_parts[name] + spine[name] == n_parts, name


def test_snm_survivor_map_known_chain(spark):
    # three names one edit apart + one singleton: the chain maps to its
    # lexicographic min, the singleton is absent
    rows = [("aaa",), ("aab",), ("aac",), ("zzzzzz",)]
    part = spark.createDataFrame(rows * 2, "p_name string")
    got = {
        (r["p_name"], r["canonical_name"], r["n_parts"], r["n_names"])
        for r in dedup.snm_survivor_map(part).collect()
    }
    assert got == {("aab", "aaa", 2, 3), ("aac", "aaa", 2, 3)}


# ---------------------------------------------------------------
# generalize_qi_report: the ladder decision table
# ---------------------------------------------------------------

def test_generalize_report_shape_and_chosen(customer, nation):
    rows = {r["level"]: r for r in
            masking.generalize_qi_report(customer, nation).collect()}
    assert sorted(rows) == list(range(len(masking.QI_GENERALIZATION_LADDER)))
    chosen = [r for r in rows.values() if r["chosen"]]
    assert len(chosen) == 1
    c = chosen[0]
    assert c["k_ok"] and c["l_ok"] and c["t_ok"]
    # minimality: every rung below the chosen one fails something
    for lvl in range(c["level"]):
        r = rows[lvl]
        assert not (r["k_ok"] and r["l_ok"] and r["t_ok"]), lvl
    # the last rung is one global class: t exactly 0, k = |customers|
    last = rows[len(rows) - 1]
    assert last["n_classes"] == customer.select(
        F.count_distinct(F.coalesce("c_mktsegment", F.lit("(null)")))
    ).first()[0]
    assert last["max_t"] == 0.0
    assert last["geo_level"] == "*" and last["band_width"] is None


def test_generalize_report_coarsening_monotone(customer, nation):
    """Strict coarsening: class counts never increase down the ladder,
    and the k-grid min class size never decreases."""
    rows = sorted(
        masking.generalize_qi_report(customer, nation).collect(),
        key=lambda r: r["level"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["n_classes"] <= a["n_classes"]
        assert b["min_class_size"] >= a["min_class_size"]


def test_generalize_report_rejects_degenerate_params(customer, nation):
    with pytest.raises(ValueError, match="k_target"):
        masking.generalize_qi_report(customer, nation, k_target=0)
    with pytest.raises(ValueError, match="l_floor"):
        masking.generalize_qi_report(customer, nation, l_floor=0)
    with pytest.raises(ValueError, match="t_threshold"):
        masking.generalize_qi_report(customer, nation, t_threshold=0.0)
    with pytest.raises(ValueError, match="bal_band"):
        masking.generalize_qi_report(customer, nation, bal_band=0)


# ---------------------------------------------------------------
# generalize_quasi_identifiers: enforcement output
# ---------------------------------------------------------------

def test_generalized_output_passes_all_three_audits(customer, nation):
    """The verdict's Done criterion: the UNCHANGED audit operators
    re-run green on the generalized table."""
    gen = masking.generalize_quasi_identifiers(customer, nation)
    assert masking.k_anonymity_audit(gen).filter("at_risk").count() == 0
    assert masking.l_diversity_audit(gen).filter("at_risk").count() == 0
    assert masking.t_closeness_audit(gen).filter("at_risk").count() == 0


def test_generalized_output_schema_and_nonqi_intact(customer, nation):
    gen = masking.generalize_quasi_identifiers(customer, nation)
    assert gen.columns == customer.columns
    assert dict(gen.dtypes) == dict(customer.dtypes)
    assert gen.count() == customer.count()
    # non-QI columns byte-identical (keyed by c_custkey)
    diff = (
        gen.select("c_custkey", "c_name", "c_mktsegment")
        .exceptAll(
            customer.select("c_custkey", "c_name", "c_mktsegment")
        )
        .count()
    )
    assert diff == 0


def test_generalized_values_match_chosen_rung(customer, nation):
    """The output's QI columns are exactly the chosen rung's
    projection — recompute the rung independently and compare."""
    rep = masking.generalize_qi_report(customer, nation).collect()
    lvl = next(r["level"] for r in rep if r["chosen"])
    geo, mult = masking.QI_GENERALIZATION_LADDER[lvl]
    gen = masking.generalize_quasi_identifiers(customer, nation)
    if geo == "*":
        assert gen.select("c_nationkey").distinct().collect() == [(-1,)]
    elif geo == "region":
        regions = {
            r["n_regionkey"] for r in nation.select("n_regionkey").collect()
        }
        got = {r["c_nationkey"] for r in gen.select("c_nationkey").distinct().collect()}
        assert got <= regions
    if mult is None:
        vals = gen.select("c_acctbal").distinct().collect()
        assert {r["c_acctbal"] for r in vals} == {0.0}
    else:
        width = float(mult * masking.K_ANON_BAL_BAND)
        off = gen.filter(
            F.col("c_acctbal")
            != F.floor(F.col("c_acctbal") / width) * width
        ).count()
        assert off == 0


def test_generalize_raises_when_no_rung_passes(customer, nation):
    """l_floor above the distinct-segment count: even the global class
    fails, so enforcement must stop loudly, not emit a false pass."""
    with pytest.raises(ValueError, match="no ladder rung"):
        masking.generalize_quasi_identifiers(
            customer, nation, l_floor=10_000
        )


def test_generalize_on_already_safe_fixture(spark, nation):
    """A table that is k/l/t-safe at rung 0 stays at rung 0: nation
    granularity, base band — the minimality contract."""
    import itertools

    segs = ["A", "B", "C"]
    rows = [
        (i, f"c{i}", nk, 500.0, seg)
        for i, (nk, seg) in enumerate(
            itertools.islice(
                itertools.cycle(itertools.product([1, 2], segs)), 120
            )
        )
    ]
    cust = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    rep = masking.generalize_qi_report(cust, nation).collect()
    assert next(r["level"] for r in rep if r["chosen"]) == 0
    gen = masking.generalize_quasi_identifiers(cust, nation)
    # rung 0 keeps nation keys; balances snap to the base band start
    assert {r["c_nationkey"] for r in gen.select("c_nationkey").distinct().collect()} == {1, 2}
    assert {r["c_acctbal"] for r in gen.select("c_acctbal").distinct().collect()} == {0.0}


# ---------------------------------------------------------------
# suppress_small_classes: the other k-anonymity enforcement lever
# ---------------------------------------------------------------

def test_suppress_small_classes_audit_green_and_counts(customer):
    kept = masking.suppress_small_classes(customer)
    audit = masking.k_anonymity_audit(kept).collect()
    assert all(not r["at_risk"] for r in audit)
    # row-count identity: |kept| = sum over classes of size >= k
    base = masking.k_anonymity_audit(customer).collect()
    want = sum(
        r["n_customers"] for r in base if not r["at_risk"]
    )
    assert kept.count() == want
    # survivors are untouched original rows
    assert kept.exceptAll(customer).count() == 0
    assert kept.columns == customer.columns


def test_suppress_small_classes_null_qi_kept_when_large(spark):
    """NULL QI values form their own class (the audit's groupBy
    semantics): a NULL-nation class of size >= k survives."""
    rows = [(i, None, 100.0, "A") for i in range(6)] + [
        (99, 7, 100.0, "B")  # size-1 class: suppressed
    ]
    cust = spark.createDataFrame(
        rows,
        "c_custkey long, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    kept = masking.suppress_small_classes(cust, k=5)
    assert kept.count() == 6
    assert kept.filter("c_custkey = 99").count() == 0


def test_suppress_rejects_degenerate_params(customer):
    with pytest.raises(ValueError, match="k must be"):
        masking.suppress_small_classes(customer, k=0)
    with pytest.raises(ValueError, match="bal_band"):
        masking.suppress_small_classes(customer, bal_band=-1)


# ---------------------------------------------------------------
# zipf_fit: rank-frequency OLS
# ---------------------------------------------------------------

@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_zipf_scale_profile_value_identical(documents):
    from scholar_stream_spark.operators import textops

    a = textops.zipf_fit(documents).collect()
    assert len(a) == 1 and a[0]["slope"] is not None
    # a natural-ish corpus fits a DECREASING power law
    assert a[0]["slope"] < 0
    assert 0.0 <= a[0]["r2"] <= 1.0


def test_zipf_fit_hand_computed(spark):
    """Controlled bigram frequencies 4/2/1 -> ranks 1/2/3: compare to
    a numpy lstsq fit over the same quantized ln points."""
    import math

    from scholar_stream_spark.operators import textops

    # one doc per gram occurrence: "a b" x4, "c d" x2, "e f" x1
    rows = [("a b",)] * 4 + [("c d",)] * 2 + [("e f",)]
    docs = spark.createDataFrame(
        [(i, t) for i, (t,) in enumerate(rows)], "doc_id long, text string"
    )
    got = textops.zipf_fit(docs).first()
    assert got["n_types"] == 3 and got["n_tokens"] == 7
    xs = [round(math.log(r), 9) for r in (1, 2, 3)]
    ys = [round(math.log(c), 9) for c in (4, 2, 1)]
    n = 3.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = (n * sxy - sx * sy) ** 2 / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert got["slope"] == pytest.approx(slope, abs=1e-6)
    assert got["intercept"] == pytest.approx(intercept, abs=1e-6)
    assert got["r2"] == pytest.approx(r2, abs=1e-6)


def test_zipf_fit_degenerate_single_type(spark):
    from scholar_stream_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    got = textops.zipf_fit(docs).first()
    assert got["n_types"] == 1
    assert got["slope"] is None and got["r2"] is None


# ---------------------------------------------------------------
# edit_distance_pairs: complete q-gram-prefix edit-distance join
# ---------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _naive_pairs(names, d):
    out = set()
    uniq = sorted(set(names))
    for i, a in enumerate(uniq):
        for b in uniq[i + 1:]:
            lv = _lev(a, b)
            if 1 <= lv <= d:
                out.add((a, b, lv))
    return out


def test_edjoin_matches_naive_on_mixed_lengths(spark):
    """Names straddling the short/long boundary (min_long = q·(d+1) =
    9): typo clusters, repeated-gram strings (the small-distinct-set
    prefix edge), shorts incl. the empty string, and far-apart
    non-matches."""
    names = [
        "abcdefghij", "abcdefghix", "xbcdefghij",  # long cluster
        "aaaaaaaaaa", "aaaaaaaaab",  # 1 distinct gram each
        "short", "shirt", "sho", "sh", "s", "",  # shorts
        "completely different", "zzzzzzzzzzzz",
    ]
    part = spark.createDataFrame([(n,) for n in names], "p_name string")
    got = {
        (r["name_a"], r["name_b"], r["lev"])
        for r in dedup.edit_distance_pairs(part).collect()
    }
    assert got == _naive_pairs(names, dedup.EDJOIN_MAX_DIST)
    assert got  # fixture sanity: matches exist


def test_edjoin_property_vs_naive(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    name = st.text(alphabet="abc", min_size=0, max_size=12)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(name, min_size=1, max_size=12))
    def run(names):
        part = spark.createDataFrame(
            [(n,) for n in names], "p_name string"
        )
        got = {
            (r["name_a"], r["name_b"], r["lev"])
            for r in dedup.edit_distance_pairs(part).collect()
        }
        assert got == _naive_pairs(names, dedup.EDJOIN_MAX_DIST)

    run()


def test_edjoin_wider_distance_gate(spark, part):
    """max_dist=4 on real part names must equal the naive reference —
    the gate is a parameter, not a constant baked into the filter."""
    names = [r["p_name"] for r in part.select("p_name").collect()]
    got = {
        (r["name_a"], r["name_b"], r["lev"])
        for r in dedup.edit_distance_pairs(part, max_dist=4).collect()
    }
    assert got == _naive_pairs(names, 4)


def test_edjoin_rejects_degenerate_params(part):
    with pytest.raises(ValueError, match="q must be"):
        dedup.edit_distance_pairs(part, q=1)
    with pytest.raises(ValueError, match="max_dist"):
        dedup.edit_distance_pairs(part, max_dist=0)


# ---------------------------------------------------------------
# jaccard_prefix_pairs: AllPairs prefix filtering, value-identical
# ---------------------------------------------------------------

def test_jaccard_prefix_identical_to_uncapped(spark, documents):
    base = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(documents).collect())
    )
    pref = sorted(
        map(tuple, dedup.jaccard_prefix_pairs(documents).collect())
    )
    assert pref == base
    assert len(pref) > 0


def test_jaccard_prefix_identical_at_other_thresholds(spark, documents):
    for tau in (0.5, 0.95, 1.0):
        base = sorted(
            map(
                tuple,
                dedup.ngram_jaccard_pairs(
                    documents, threshold=tau
                ).collect(),
            )
        )
        pref = sorted(
            map(
                tuple,
                dedup.jaccard_prefix_pairs(
                    documents, threshold=tau
                ).collect(),
            )
        )
        assert pref == base, tau


def test_jaccard_prefix_boilerplate_flood_fixture(spark):
    """The exact failure mode the prefix filter exists for: many docs
    sharing ONE boilerplate shingle (equi-join would fan out
    quadratically on it) plus a genuine near-dup pair — the pair must
    survive, the boilerplate-only pairs must not appear."""
    boiler = "lorem ipsum dolor sit amet"
    docs = [(i, f"{boiler} unique{i} text{i} row{i} pad{i}") for i in range(30)]
    docs += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["d1"], r["d2"])
        for r in dedup.jaccard_prefix_pairs(df, threshold=0.5).collect()
    }
    want = {
        (r["d1"], r["d2"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert got == want
    assert (100, 101) in got


def test_jaccard_prefix_rejects_degenerate_threshold(documents):
    with pytest.raises(ValueError, match="threshold"):
        dedup.jaccard_prefix_pairs(documents, threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        dedup.jaccard_prefix_pairs(documents, threshold=1.5)


# ---------------------------------------------------------------
# weighted_sample_topk: Efraimidis-Spirakis without replacement
# ---------------------------------------------------------------

def test_weighted_topk_matches_python_reference(spark, documents):
    import math

    from scholar_stream_spark.operators import sampling

    base = documents.select(
        "doc_id", F.length("text").cast("long").alias("weight")
    )
    got = [
        (r["doc_id"], r["weight"])
        for r in sampling.weighted_sample_topk(base, k=20).collect()
    ]
    # independent reference off the same portable buckets
    buckets = {
        r["doc_id"]: r["b"]
        for r in base.select(
            "doc_id", sampling.sample_bucket("doc_id").alias("b")
        ).collect()
    }
    weights = {r["doc_id"]: r["weight"] for r in base.collect()}
    keys = {
        d: math.log((buckets[d] + 0.5) / sampling.SAMPLE_DENOM)
        / weights[d]
        for d in weights
        if weights[d] > 0
    }
    want = sorted(keys, key=lambda d: (-keys[d], d))[:20]
    assert [d for d, _ in got] == want
    # output is ordered by the ES key (the contract of orderBy+limit)
    assert got == sorted(got, key=lambda t: (-keys[t[0]], t[0]))


def test_weighted_topk_heavier_is_overrepresented(spark):
    """1000 rows, 10 with weight 1000 vs 990 with weight 1: at k=50
    the heavy rows must all survive (their ES keys concentrate near
    0) — the qualitative weighted-sampling property."""
    from scholar_stream_spark.operators import sampling

    rows = [(i, 1000) for i in range(10)] + [
        (i, 1) for i in range(10, 1000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    got = {
        r["doc_id"]
        for r in sampling.weighted_sample_topk(df, k=50).collect()
    }
    assert set(range(10)) <= got


def test_weighted_topk_excludes_nonpositive_weights(spark):
    from scholar_stream_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -7), (4, None)],
        "doc_id long, weight long",
    )
    got = sampling.weighted_sample_topk(df, k=10).collect()
    assert [r["doc_id"] for r in got] == [1]
    with pytest.raises(ValueError, match="k must be"):
        sampling.weighted_sample_topk(df, k=0)


# ---------------------------------------------------------------
# session_concurrency: sweep-line profile over sessions
# ---------------------------------------------------------------

@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_SMALL}/events.parquet")


def test_session_concurrency_invariants(events):
    """Sweep-line bookkeeping: total_us spans exactly first→last change
    point, level 0 exists (the stream has idle gaps), and the max
    level is ≥ 1."""
    from scholar_stream_spark.operators import temporal

    rows = temporal.session_concurrency(events).collect()
    levels = {r["concurrency"] for r in rows}
    assert 0 in levels and max(levels) >= 1
    sess = temporal.sessionize(events).agg(
        F.unix_micros(
            F.min("session_start").cast("timestamp")
        ).alias("lo"),
        F.unix_micros(F.max("session_end").cast("timestamp")).alias(
            "hi"
        ),
    ).first()
    assert sum(r["total_us"] for r in rows) == sess["hi"] + 1 - sess["lo"]


def test_session_concurrency_hand_fixture(spark):
    """Three users: A [0s,10s], B [5s,15s], C [30s,35s] (single
    sessions via a huge gap). Levels: 1 on [0,5), 2 on [5,10+1µs),
    1 on [10+1µs,15+1µs), 0 on [15+1µs,30), 1 on [30,35+1µs)."""
    from scholar_stream_spark.operators import temporal

    base = "2024-01-01 00:00:"
    rows = [
        (1, "u_a", f"{base}00"), (2, "u_a", f"{base}10"),
        (3, "u_b", f"{base}05"), (4, "u_b", f"{base}15"),
        (5, "u_c", f"{base}30"), (6, "u_c", f"{base}35"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, ts_s string"
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    got = {
        r["concurrency"]: (r["n_intervals"], r["total_us"])
        for r in temporal.session_concurrency(ev).collect()
    }
    us = 1_000_000
    assert got[2] == (1, 5 * us + 1)
    assert got[0] == (1, 15 * us - 1)  # (15s+1µs .. 30s)
    # level 1: [0,5) + [10+1µs, 15+1µs) + [30, 35+1µs)
    assert got[1] == (3, 5 * us + 5 * us + 5 * us + 1)


def test_session_concurrency_rejects_degenerate(events):
    from scholar_stream_spark.operators import temporal

    with pytest.raises(ValueError, match="gap_seconds"):
        temporal.session_concurrency(events, gap_seconds=0)


# ---------------------------------------------------------------
# pagerank: iterative-float graph fixpoint
# ---------------------------------------------------------------

def _numpy_pagerank(edges, damping, n_iter):
    """Reference damped weighted power iteration with uniform
    dangling-mass spread — the exact recurrence graph.pagerank runs."""
    import numpy as np

    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    pr = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        nxt = np.full(n, (1.0 - damping) / n)
        d_mass = sum(pr[idx[v]] for v in nodes if v not in out_w)
        nxt += damping * d_mass / n
        for s, d, w in edges:
            nxt[idx[d]] += damping * (w / out_w[s]) * pr[idx[s]]
        pr = nxt
    return {v: pr[idx[v]] for v in nodes}


def test_pagerank_matches_numpy_with_dangling(spark):
    from scholar_stream_spark.operators import graph

    # 1 -> 2 (heavy), 1 -> 3 (light), 2 -> 1, 3 is DANGLING
    e = [(1, 2, 3.0), (1, 3, 1.0), (2, 1, 1.0)]
    df = spark.createDataFrame(e, "src long, dst long, weight double")
    got = {r["node"]: r["pr"] for r in graph.pagerank(df).collect()}
    want = _numpy_pagerank(
        e, graph.PAGERANK_DAMPING, graph.PAGERANK_ITER
    )
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the heavily-cited node outranks the lightly-cited one
    assert got[2] > got[3]


def test_nation_pagerank_matches_numpy_on_real_graph(spark):
    from scholar_stream_spark.operators import graph

    tabs = {
        t: spark.read.parquet(f"{SF_SMALL}/{t}.parquet")
        for t in ("customer", "orders", "lineitem", "supplier")
    }
    got = {
        r["nation_key"]: r["pr"]
        for r in graph.nation_pagerank(*tabs.values()).collect()
    }
    # rebuild the same edge list and run the reference
    rev = (
        tabs["lineitem"]
        .join(
            tabs["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            tabs["supplier"].select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            tabs["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (
                    F.lit(1).cast("decimal(18,2)")
                    - F.col("l_discount").cast("decimal(18,2)")
                )
            ).cast("double").alias("weight")
        )
        .collect()
    )
    want = _numpy_pagerank(
        [(r["src"], r["dst"], r["weight"]) for r in rev],
        graph.PAGERANK_DAMPING,
        graph.PAGERANK_ITER,
    )
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(round(want[v], 6), abs=2e-6), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)


def test_pagerank_partition_invariance(spark):
    from scholar_stream_spark.operators import graph

    e = [(i, (i * 7) % 10, float(1 + i % 3)) for i in range(10)]
    e = [(s, d, w) for s, d, w in e if s != d]
    df = spark.createDataFrame(e, "src long, dst long, weight double")
    a = {r["node"]: r["pr"] for r in graph.pagerank(df, n_iter=8).collect()}
    b = {
        r["node"]: r["pr"]
        for r in graph.pagerank(df.repartition(7), n_iter=8).collect()
    }
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12), v


def test_pagerank_rejects_degenerate(spark):
    from scholar_stream_spark.operators import graph

    df = spark.createDataFrame(
        [(1, 2, 1.0)], "src long, dst long, weight double"
    )
    with pytest.raises(ValueError, match="damping"):
        graph.pagerank(df, damping=1.0)
    with pytest.raises(ValueError, match="n_iter"):
        graph.pagerank(df, n_iter=0)
    bad = spark.createDataFrame(
        [(1, 2, 0.0)], "src long, dst long, weight double"
    )
    with pytest.raises(ValueError, match="positive"):
        graph.pagerank(bad)


# ---------------------------------------------------------------
# session_overlap_pairs: bucketized interval-overlap join
# ---------------------------------------------------------------

def test_session_overlap_matches_naive(spark, events):
    """Completeness of the bucket reduction: the bucketized equi-join
    + exact verify must equal the naive quadratic overlap join on the
    same sessionized intervals."""
    from scholar_stream_spark.operators import temporal

    got = {
        (r["user_a"], r["user_b"]): (r["n_overlaps"], r["overlap_us"])
        for r in temporal.session_overlap_pairs(events).collect()
    }
    sess = temporal.sessionize(events).select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("s"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("e"),
    )
    a, b = sess.alias("a"), sess.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.least("a.e", "b.e") - F.greatest("a.s", "b.s") + F.lit(1)
            ).cast("long").alias("ov"),
        )
        .collect()
    )
    want = {(r["user_a"], r["user_b"]): (r["n"], r["ov"]) for r in naive}
    assert got == want
    assert got  # real overlaps exist at this SF


def test_session_overlap_bucket_width_invariance(spark, events):
    """The bucket width is a physical knob, not semantics: different
    widths give identical output (incl. one far wider than any
    session, where most pairs come from a single shared bucket)."""
    from scholar_stream_spark.operators import temporal

    base = sorted(
        map(tuple, temporal.session_overlap_pairs(events).collect())
    )
    for width in (600, 86400 * 30):
        other = sorted(
            map(
                tuple,
                temporal.session_overlap_pairs(
                    events, bucket_seconds=width
                ).collect(),
            )
        )
        assert other == base, width


def test_session_overlap_hand_fixture(spark):
    """A [0,10s] with B [10s,20s] touch at one instant (1 µs closed
    overlap); C [30s,35s] overlaps nobody; A's second session [40s,50s]
    overlaps B's [45s,55s] for 5 s + 1 µs — pairs accumulate."""
    from scholar_stream_spark.operators import temporal

    base = "2024-01-01 00:0"
    rows = [
        (1, "a", f"{base}0:00"), (2, "a", f"{base}0:10"),
        (3, "b", f"{base}0:10"), (4, "b", f"{base}0:20"),
        (5, "c", f"{base}0:30"), (6, "c", f"{base}0:35"),
        (7, "a", f"{base}0:40"), (8, "a", f"{base}0:50"),
        (9, "b", f"{base}0:45"), (10, "b", f"{base}0:55"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, ts_s string"
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    got = {
        (r["user_a"], r["user_b"]): (r["n_overlaps"], r["overlap_us"])
        for r in temporal.session_overlap_pairs(
            ev, gap_seconds=15
        ).collect()
    }
    us = 1_000_000
    assert got == {("a", "b"): (2, 1 + (5 * us + 1))}


def test_session_overlap_rejects_degenerate(events):
    from scholar_stream_spark.operators import temporal

    with pytest.raises(ValueError, match="bucket_seconds"):
        temporal.session_overlap_pairs(events, bucket_seconds=0)


# ---------------------------------------------------------------
# session_gap_profile: the evidence behind SESSION_GAP_SECONDS
# ---------------------------------------------------------------

def test_gap_profile_partitions_all_gaps(events):
    from scholar_stream_spark.operators import temporal

    rows = temporal.session_gap_profile(events).collect()
    # n_gaps partitions (events - users): one gap per consecutive pair
    n_events = events.count()
    n_users = events.select("user_id").distinct().count()
    assert sum(r["n_gaps"] for r in rows) == n_events - n_users
    assert sum(r["pct"] for r in rows) == pytest.approx(1.0, abs=1e-4)
    # buckets sort numerically by their lower bound and are distinct
    lows = [r["bucket_lo_us"] for r in rows]
    assert len(set(lows)) == len(lows)


def test_gap_profile_hand_fixture(spark):
    """Gaps of 0 s, 5 s, 45 s, 2000 s for one user land in the 0s,
    <10s, <1m, and <1h buckets."""
    from scholar_stream_spark.operators import temporal

    t0 = 1_700_000_000
    offsets = [0, 0, 5, 50, 2050]
    rows = [
        (i, "u", t) for i, t in enumerate(
            [t0 + sum(offsets[: i + 1]) for i in range(len(offsets))]
        )
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, epoch long"
    ).select(
        "event_id", "user_id", F.timestamp_seconds("epoch").alias("ts")
    )
    got = {
        r["gap_bucket"]: r["n_gaps"]
        for r in temporal.session_gap_profile(ev).collect()
    }
    assert got == {"0s": 1, "<10s": 1, "<1m": 1, "<1h": 1}


# ---------------------------------------------------------------
# rolling_revenue_by_nation: bounded-FRAME moving average
# ---------------------------------------------------------------

def test_rolling_revenue_hand_fixture(spark):
    """One nation, four months of revenue 10/20/40/100: the 3-month
    trailing MA averages over the frame's ACTUAL row count (10, 15,
    70/3, 160/3) — no NULL warmup, no divide-by-constant bias."""
    from scholar_stream_spark.operators import relational

    orders = spark.createDataFrame(
        [
            (1, 1, "2024-01-05", 10.0),
            (2, 1, "2024-02-05", 20.0),
            (3, 1, "2024-03-05", 40.0),
            (4, 1, "2024-04-05", 100.0),
        ],
        "o_orderkey long, o_custkey long, d string, o_totalprice double",
    ).select("o_orderkey", "o_custkey", F.to_date("d").alias("o_orderdate"), "o_totalprice")
    cust = spark.createDataFrame(
        [(1, 7)], "c_custkey long, c_nationkey int"
    )
    got = {
        r["month"]: (r["revenue"], r["ma"])
        for r in relational.rolling_revenue_by_nation(
            orders, cust
        ).collect()
    }
    assert got == {
        "2024-01": (10.0, 10.0),
        "2024-02": (20.0, 15.0),
        "2024-03": (40.0, round(70 / 3, 4)),
        "2024-04": (100.0, round(160 / 3, 4)),
    }


def test_rolling_revenue_window_is_per_nation(spark):
    """The frame never crosses nations: two nations with disjoint
    months each start their own warmup."""
    from scholar_stream_spark.operators import relational

    orders = spark.createDataFrame(
        [
            (1, 1, "2024-01-05", 10.0),
            (2, 2, "2024-01-05", 30.0),
            (3, 2, "2024-02-05", 50.0),
        ],
        "o_orderkey long, o_custkey long, d string, o_totalprice double",
    ).select("o_orderkey", "o_custkey", F.to_date("d").alias("o_orderdate"), "o_totalprice")
    cust = spark.createDataFrame(
        [(1, 7), (2, 8)], "c_custkey long, c_nationkey int"
    )
    got = {
        (r["nation_key"], r["month"]): r["ma"]
        for r in relational.rolling_revenue_by_nation(
            orders, cust
        ).collect()
    }
    assert got == {(7, "2024-01"): 10.0, (8, "2024-01"): 30.0, (8, "2024-02"): 40.0}


def test_rolling_revenue_rejects_degenerate(spark, customer):
    from scholar_stream_spark.operators import relational

    orders = spark.createDataFrame(
        [], "o_orderkey long, o_custkey long, o_orderdate date, o_totalprice double"
    )
    with pytest.raises(ValueError, match="n_months"):
        relational.rolling_revenue_by_nation(orders, customer, n_months=0)

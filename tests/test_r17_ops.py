"""Round-17 operators: the combinatorial graph kernels run on the USER
co-activity graph (non-grid node count — r16 verdict item 1), the
HITS round-budget tuning evidence (item 2), and the n_iter=1 residual
output contract (item 6).

Strategy per the r16 file: brute-force python references over the REAL
sf0.001 tables (sessionize + interval-overlap mirror, itertools
triangle census, peeling coreness), plan pins (no cartesian in the
triangle kernel on the user graph either), and measured-evidence pins
for the tuned HITS budget.
"""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.operators import graph, temporal
from tests.conftest import SF_SMALL, force_above_cap


# ---------------------------------------------------------------
# python reference: sessionize -> overlap -> undirected edge set
# ---------------------------------------------------------------

def _ref_sessions(rows, gap_seconds=temporal.SESSION_GAP_SECONDS):
    """Mirror of the gap rule: per user, ordered by (ts, event_id),
    a new session when the FLOOR-SECOND gap exceeds gap_seconds
    (unix_timestamp semantics); session bounds keep full µs."""
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"])
        )
    out = []  # (user, start_us, end_us)
    for u, evs in by_user.items():
        evs.sort()
        cur = [evs[0][0]]
        for ts, _ in evs[1:]:
            if int(ts.timestamp()) - int(cur[-1].timestamp()) > gap_seconds:
                out.append((u, cur[0], cur[-1]))
                cur = [ts]
            else:
                cur.append(ts)
        out.append((u, cur[0], cur[-1]))
    # exact integer µs (float timestamp()*1e6 has sub-µs error at
    # epoch scale — enough to flip an exact-touch overlap boundary)
    us = lambda t: int(t.timestamp()) * 1_000_000 + t.microsecond  # noqa: E731
    return [(u, us(s), us(e)) for u, s, e in out]


def _ref_coactivity_und(sessions):
    und = set()
    for (ua, sa, ea), (ub, sb, eb) in combinations(sessions, 2):
        if ua == ub:
            continue
        if sa <= eb and sb <= ea:
            und.add((min(ua, ub), max(ua, ub)))
    return und


def _adj(und):
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def _ref_triangles(und, adj):
    nodes = sorted(adj)
    return [
        t
        for t in combinations(nodes, 3)
        if (t[0], t[1]) in und
        and (t[1], t[2]) in und
        and (t[0], t[2]) in und
    ]


def _ref_coreness(adj):
    """Brute-force peeling: repeatedly remove the minimum-degree node;
    its coreness is the running max of the degree at removal."""
    g = {v: set(ns) for v, ns in adj.items()}
    core: dict = {}
    k = 0
    while g:
        v = min(g, key=lambda x: (len(g[x]), x))
        k = max(k, len(g[v]))
        core[v] = k
        for u in g[v]:
            g[u].discard(v)
        del g[v]
    return core


@pytest.fixture(scope="module")
def events_df(spark):
    return spark.read.parquet(f"{SF_SMALL}/events.parquet")


@pytest.fixture(scope="module")
def ref_coact(events_df):
    rows = [
        r.asDict()
        for r in events_df.select("user_id", "ts", "event_id").collect()
    ]
    sessions = _ref_sessions(rows)
    und = _ref_coactivity_und(sessions)
    return und, _adj(und)


# ---------------------------------------------------------------
# co-activity support edge set
# ---------------------------------------------------------------

def test_coactivity_support_matches_reference(events_df, ref_coact):
    und, _ = ref_coact
    got = {
        (r["a"], r["b"])
        for r in graph.coactivity_support(events_df).collect()
    }
    assert got == und
    assert len(und) > 0  # non-degenerate fixture


def test_coactivity_support_equals_overlap_pairs_keys(events_df):
    """The support IS the oracle-green overlap join's key set — the
    bridge that lets the pairwise op's correctness carry over."""
    pairs = {
        (r["user_a"], r["user_b"])
        for r in temporal.session_overlap_pairs(events_df).collect()
    }
    sup = {
        (r["a"], r["b"])
        for r in graph.coactivity_support(events_df).collect()
    }
    assert sup == pairs


# ---------------------------------------------------------------
# triangles / clustering / k-core on the user graph
# ---------------------------------------------------------------

def test_user_triangles_matches_bruteforce(events_df, ref_coact):
    und, adj = ref_coact
    tri = _ref_triangles(und, adj)
    wedges = sum(len(ns) * (len(ns) - 1) // 2 for ns in adj.values())
    row = graph.user_triangles(events_df).collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_nodes"] == len(adj)
    assert r["n_edges"] == len(und)
    assert r["n_triangles"] == len(tri)
    if wedges:
        assert r["transitivity"] == pytest.approx(
            round(3 * len(tri) / wedges, 6), abs=1e-9
        )
    else:
        assert r["transitivity"] is None


def test_user_clustering_matches_bruteforce(events_df, ref_coact):
    und, adj = ref_coact
    tri = _ref_triangles(und, adj)
    per_node: dict = {}
    for t in tri:
        for v in t:
            per_node[v] = per_node.get(v, 0) + 1
    got = {
        r["user_id"]: r
        for r in graph.user_clustering(events_df).collect()
    }
    assert set(got) == set(adj)
    for v, ns in adj.items():
        d = len(ns)
        r = got[v]
        assert r["degree"] == d
        assert r["n_triangles"] == per_node.get(v, 0)
        if d > 1:
            assert r["clustering"] == pytest.approx(
                round(per_node.get(v, 0) / (d * (d - 1) / 2), 6),
                abs=1e-9,
            )
        else:
            assert r["clustering"] is None


def test_user_kcore_matches_peeling(events_df, ref_coact):
    _, adj = ref_coact
    got = {
        r["user_id"]: r["coreness"]
        for r in graph.user_kcore(events_df).collect()
    }
    assert got == _ref_coreness(adj)


def test_user_triangle_plan_has_no_cartesian(events_df):
    df = graph.user_triangles(events_df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------
# HITS budget tuning (r16 verdict item 2): evidence, not assertion
# ---------------------------------------------------------------

@pytest.fixture(scope="module")
def trade_tabs(spark):
    return tuple(
        spark.read.parquet(f"{SF_SMALL}/{t}.parquet")
        for t in ("customer", "orders", "lineitem", "supplier")
    )


def test_hits_budget_residual_evidence(trade_tabs):
    """The tuned HITS_ITER=8 budget must leave a residual orders of
    magnitude inside the 2e-6 numpy display pin on the real trade
    graph (measured trajectory: ≤5e-15 by round 8), and the round-6
    DISPLAY values must be budget-insensitive — running 4 extra
    rounds changes nothing at display grain."""
    edges = graph._nation_revenue_edges(*trade_tabs)
    rows = graph.hits(
        edges, n_iter=graph.HITS_ITER, with_residual=True
    ).collect()
    res = {r["residual"] for r in rows}
    assert len(res) == 1
    assert res.pop() < 1e-6
    at_budget = {
        (r["node"], round(r["hub"], 6), round(r["authority"], 6))
        for r in rows
    }
    more = {
        (r["node"], round(r["hub"], 6), round(r["authority"], 6))
        for r in graph.hits(edges, n_iter=graph.HITS_ITER + 4).collect()
    }
    assert at_budget == more


def test_hits_n_iter_1_residual_is_null(spark):
    """r16 verdict item 6: at n_iter=1 no previous authority state
    exists, so the (h, a) L1 step is undefined — the contract is an
    explicit NULL, never a silently halved hub-only number."""
    df = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    rows = graph.hits(df, n_iter=1, with_residual=True).collect()
    assert {r["residual"] for r in rows} == {None}
    # sanity: n_iter=2 produces a real number again
    rows2 = graph.hits(df, n_iter=2, with_residual=True).collect()
    res2 = {r["residual"] for r in rows2}
    assert len(res2) == 1 and res2.pop() is not None


def test_adamic_adar_canonical_fold_is_order_invariant(spark):
    """r16 ADVICE item 1: the Adamic-Adar column now folds its
    1/ln(deg) terms in SORTED order (aggregate over sort_array), so
    the double result is bit-identical under any partitioning /
    shuffle order of the input AND equals a python sequential fold of
    the sorted terms — the mechanism the oracle's list_reduce mirrors."""
    import math

    terms = [1.0 / math.log(d) for d in (2, 3, 5, 7, 11, 13, 17, 19, 23)]
    want = 0.0
    for v in sorted(terms):
        want += v
    fold = F.aggregate(
        F.sort_array(F.collect_list("x")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).alias("s")
    got = set()
    for parts, order in ((1, False), (9, True)):
        df = spark.createDataFrame(
            [(v,) for v in (sorted(terms, reverse=True) if order else terms)],
            "x double",
        ).repartition(parts)
        got.add(df.agg(fold).collect()[0]["s"])
    assert got == {want}  # bit-identical, not approx


# ---------------------------------------------------------------
# perceptual-hash image near-dup (r16 verdict item 3)
# ---------------------------------------------------------------

from scholar_stream_spark.operators import multimodal  # noqa: E402


def test_image_dhash_matches_python_kernel(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    ref = {
        r["doc_id"]: multimodal._dhash_lanes_py(r["text"].encode("utf-8"))
        for r in docs.select("doc_id", "text").collect()
        if r["doc_id"] % 3 == 0
    }
    got = {
        r["asset_id"]: [r[f"lane{j}"] for j in range(4)]
        for r in multimodal.image_dhash(docs).collect()
    }
    assert got == ref
    assert len(got) > 0
    # lanes stay inside 16 bits (the banding arithmetic depends on it)
    for lanes in got.values():
        assert all(0 <= v < (1 << 16) for v in lanes)


def test_documents_are_ascii_only(spark):
    """Oracle precondition: the DuckDB mirror reads the luminance byte
    as ascii(substr(text,...)), which equals the UDF's blob[p] only
    when byte == code point — i.e. pure-ASCII text. Pin it so a future
    testdata change fails HERE with a named reason, not as a silent
    oracle hash mismatch."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n_bad = docs.filter(
        F.octet_length(F.col("text")) != F.length(F.col("text"))
    ).count()
    assert n_bad == 0


def _planted_docs(spark):
    """Image-typed docs (doc_id % 3 == 0): a base text, a 3-byte edit
    of it (same length — each changed byte moves at most one sampled
    grid cell = at most 2 comparison bits, so hamming <= 6), an exact
    duplicate, and an unrelated text."""
    base = (
        "the quick brown fox jumps over the lazy dog while the "
        "cat naps under a warm stone wall near the old mill race"
    )
    edit = list(base)
    for pos in (10, 50, 90):
        edit[pos] = "z" if base[pos] != "z" else "q"
    unrelated = (
        "completely different content about spark shuffles and "
        "partition pruning strategies at one hundred terabytes!!"
    )
    rows = [
        (0, base),
        (3, "".join(edit)),
        (6, base),  # exact duplicate of 0
        (9, unrelated),
        (1, base),  # audio-typed: must NOT appear in the image family
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_image_neardup_planted_fixture(spark):
    docs = _planted_docs(spark)
    pairs = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in multimodal.image_neardup_pairs(docs).collect()
    }
    # exact duplicate -> hamming 0
    assert pairs[(0, 6)] == 0
    # 3-byte same-length edit -> within the default band
    assert (0, 3) in pairs and 0 < pairs[(0, 3)] <= 6
    assert pairs[(3, 6)] == pairs[(0, 3)]  # 6 is a copy of 0
    # the audio-typed doc never enters the image family
    assert not any(1 in p for p in pairs)
    # brute-force completeness: banded join found EXACTLY the pairs
    # the python kernel says are within threshold
    sigs = {
        r["doc_id"]: multimodal._dhash_lanes_py(r["text"].encode())
        for r in docs.collect()
        if r["doc_id"] % 3 == 0
    }
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(
                bin(x ^ y).count("1")
                for x, y in zip(sigs[a], sigs[b])
            )
            if h <= multimodal.DHASH_HAMMING_MAX:
                want[(a, b)] = h
    assert pairs == want


def test_image_neardup_bruteforce_on_real_docs(spark):
    """Banded join == brute force on the real sf0.001 image subset
    (likely empty at this scale — the assertion is the EQUALITY, and
    the planted fixture above covers the non-empty path)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    sigs = {
        r["doc_id"]: multimodal._dhash_lanes_py(r["text"].encode())
        for r in docs.select("doc_id", "text").collect()
        if r["doc_id"] % 3 == 0
    }
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(
                bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b])
            )
            if h <= multimodal.DHASH_HAMMING_MAX:
                want[(a, b)] = h
    got = {
        (r["asset_a"], r["asset_b"]): r["hamming"]
        for r in multimodal.image_neardup_pairs(docs).collect()
    }
    assert got == want


def test_image_neardup_rejects_incomplete_banding(spark):
    docs = _planted_docs(spark)
    with pytest.raises(ValueError, match="complete"):
        multimodal.image_neardup_pairs(docs, max_hamming=8)
    with pytest.raises(ValueError, match="complete"):
        multimodal.image_neardup_pairs(docs, max_hamming=-1)


def test_user_assortativity_matches_bruteforce(events_df, ref_coact):
    und, adj = ref_coact
    j = []
    k = []
    for a, b in und:
        j += [len(adj[a]), len(adj[b])]
        k += [len(adj[b]), len(adj[a])]
    m2 = len(j)
    mean = sum(j) / m2
    ejk = sum(x * y for x, y in zip(j, k)) / m2
    ej2 = sum(x * x for x in j) / m2
    var = ej2 - mean * mean
    rows = graph.user_assortativity(events_df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_edges"] == len(und)
    if var > 0:
        assert r["assortativity"] == pytest.approx(
            round((ejk - mean * mean) / var, 6), abs=1e-6
        )
    else:
        assert r["assortativity"] is None


def test_image_neardup_clusters_planted(spark):
    """The planted family {0, 3, 6} (base, 3-byte edit, exact copy)
    collapses to ONE cluster labeled by its min asset id; singletons
    (the unrelated image 9) and non-image docs never appear."""
    docs = _planted_docs(spark)
    got = {
        r["asset_id"]: (r["cluster_id"], r["cluster_size"])
        for r in multimodal.image_neardup_clusters(docs).collect()
    }
    assert got == {0: (0, 3), 3: (0, 3), 6: (0, 3)}


def test_image_neardup_clusters_bruteforce_on_real_docs(spark):
    """Union-find over the brute-force pair set == the op, on the real
    sf0.001 image subset (empty at this scale — the planted fixture
    carries the non-empty path; the assertion is the equality)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    sigs = {
        r["doc_id"]: multimodal._dhash_lanes_py(r["text"].encode())
        for r in docs.select("doc_id", "text").collect()
        if r["doc_id"] % 3 == 0
    }
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(
                bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b])
            )
            if h <= multimodal.DHASH_HAMMING_MAX:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    members: dict = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    want = {
        node: (root, len(nodes))
        for root, nodes in members.items()
        for node in nodes
    }
    got = {
        r["asset_id"]: (r["cluster_id"], r["cluster_size"])
        for r in multimodal.image_neardup_clusters(docs).collect()
    }
    assert got == want


def test_kcore_hybrid_paths_agree(events_df, ref_coact, monkeypatch):
    """r17 hybrid (measured: the distributed fixpoint spent 10.8 s on
    a 142k-edge graph the driver peels in milliseconds): the driver
    Matula–Beck path (default) and the distributed h-index path
    (forced above the cap) must emit identical coreness on
    the real co-activity graph, and both must match the brute-force
    reference."""
    _, adj = ref_coact
    want = _ref_coreness(adj)
    driver = {
        r["user_id"]: r["coreness"]
        for r in graph.user_kcore(events_df).collect()
    }
    force_above_cap(monkeypatch)
    dist = {
        r["user_id"]: r["coreness"]
        for r in graph.user_kcore(events_df).collect()
    }
    assert driver == want
    assert dist == want


def test_image_dedup_survivors_planted(spark):
    """{0, 3, 6} collapse to survivor 0; the unrelated image 9 and the
    representative survive; the audio-typed doc 1 is out of scope.
    Survivor stats must match the blob accounting (bytes + md5)."""
    import hashlib

    docs = _planted_docs(spark)
    rows = {
        r["asset_id"]: (r["n_bytes"], r["checksum"])
        for r in multimodal.image_dedup_survivors(docs).collect()
    }
    assert set(rows) == {0, 9}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for aid, (nb, ck) in rows.items():
        raw = texts[aid].encode("utf-8")
        assert nb == len(raw)
        assert ck == hashlib.md5(raw).hexdigest()


def test_image_dedup_survivors_all_pass_when_no_dups(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n_images = docs.filter(F.col("doc_id") % 3 == 0).count()
    assert multimodal.image_dedup_survivors(docs).count() == n_images


# ---------------------------------------------------------------
# video near-dup: frame fingerprints + frame-set Jaccard (r17)
# ---------------------------------------------------------------

def _ref_frame_sigs(text: str):
    """Python mirror of the frame-signature contract: decode-stub frame
    count (md5 byte 5), `sample_frames` stride, per-frame byte-slice
    plane via the shared kernel."""
    import hashlib

    b = text.encode("utf-8")
    n = len(b)
    n_frames = 1 + hashlib.md5(b).digest()[5]
    step = max(1, n_frames // multimodal.FRAME_SAMPLE_MAX)
    out = []
    for f in range(0, n_frames, step):
        off = (f * n) // n_frames
        seg = ((f + 1) * n) // n_frames - off
        out.append(
            (f, tuple(multimodal._frame_dhash_lanes_py(b, off, seg)))
        )
    return out


def _ref_video_pairs(texts: dict[int, str], pct: int):
    """Brute-force frame-set Jaccard over ALL video pairs."""
    sets = {
        aid: {lanes for _, lanes in _ref_frame_sigs(t)}
        for aid, t in texts.items()
    }
    pairs = []
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        na, nb = len(sets[a]), len(sets[b])
        un = na + nb - inter
        if inter and inter * 100 >= pct * un:
            pairs.append((a, b, inter, na, nb, inter / un))
    return pairs


def _planted_videos(spark):
    """Video-typed docs (doc_id % 3 == 2): a base stream, a
    digest-aligned half-copy (same length AND same md5 byte 5 — found
    by search — so frame count, stride and offsets all match and the
    shared suffix yields shared frame signatures; the stub decode
    re-deals frames on ANY digest change, so alignment must be
    planted, where a real decoder would give it for free), an exact
    copy, an unrelated stream, and an image-typed doc that must stay
    out of scope."""
    import hashlib

    # Long streams so every sampled frame owns a multi-byte slice even
    # at the stub's 256-frame maximum (short streams collapse to
    # single-byte planes and the distinct signature sets degenerate).
    def scene(tag: str, k: int) -> str:
        return " ".join(
            f"{tag} shot {j:03d} of the harbor sequence with panning"
            for j in range(k)
        )

    suffix = " " + scene("shared", 24)
    base = None
    for s in range(200):
        cand = scene(f"open{s:03d}", 24) + suffix
        sigs = {lanes for _, lanes in _ref_frame_sigs(cand)}
        if len(sigs) >= 4:
            base = cand
            break
    assert base is not None, "no signature-rich base stream found"
    half_a = base[: len(base) - len(suffix)]
    target = hashlib.md5(base.encode()).digest()[5]
    aligned = None
    for i in range(100_000):
        prefix = scene(f"a{i:06d}", 24)[: len(half_a)].ljust(
            len(half_a), "x"
        )
        cand = prefix + suffix
        if hashlib.md5(cand.encode()).digest()[5] != target:
            continue
        ref = _ref_video_pairs({2: base, 5: cand}, 25)
        if ref and 0 < ref[0][2] < max(ref[0][3], ref[0][4]):
            aligned = cand
            break
    assert aligned is not None, "no digest-aligned half-copy found"
    rows = [
        (2, base),
        (5, aligned),
        (8, base),  # exact duplicate of 2
        (11, "completely unrelated footage of a server room with racks"),
        (0, base),  # image-typed: must NOT appear in the video family
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_video_frame_signatures_match_reference_real(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.collect()
        if r["doc_id"] % 3 == 2
    }
    want = {
        (aid, f): lanes
        for aid, t in texts.items()
        for f, lanes in _ref_frame_sigs(t)
    }
    got = {
        (r["asset_id"], r["frame_idx"]): (
            r["lane0"], r["lane1"], r["lane2"], r["lane3"]
        )
        for r in multimodal.video_frame_signatures(docs).collect()
    }
    assert got == want
    # every lane is 16-bit
    assert all(0 <= v < 65536 for lanes in got.values() for v in lanes)


def test_video_neardup_pairs_match_reference_real(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.collect()
        if r["doc_id"] % 3 == 2
    }
    # permissive threshold so the reference compare exercises non-empty
    # intersections if any exist at sf0.001
    for pct in (100, 25):
        want = _ref_video_pairs(texts, pct)
        got = [
            (
                r["asset_a"], r["asset_b"], r["n_shared"],
                r["n_a"], r["n_b"], r["jaccard"],
            )
            for r in multimodal.video_neardup_pairs(
                docs, min_jaccard_pct=pct
            ).collect()
        ]
        assert got == want


def test_video_neardup_planted_fixture(spark):
    docs = _planted_videos(spark)
    texts = {r["doc_id"]: r["text"] for r in docs.collect() if r["doc_id"] % 3 == 2}
    got = [
        (
            r["asset_a"], r["asset_b"], r["n_shared"],
            r["n_a"], r["n_b"], r["jaccard"],
        )
        for r in multimodal.video_neardup_pairs(
            docs, min_jaccard_pct=25
        ).collect()
    ]
    assert got == _ref_video_pairs(texts, 25)
    by_pair = {(a, b): (ns, na, nb, j) for a, b, ns, na, nb, j in got}
    # exact copy: identical signature sets, jaccard exactly 1.0
    ns, na, nb, j = by_pair[(2, 8)]
    assert ns == na == nb and j == 1.0
    # digest-aligned half-copy: a real shared-frame intersection that
    # is NOT the full set (the partial-copy case whole-blob hashing
    # cannot see)
    ns, na, nb, j = by_pair[(2, 5)]
    assert 0 < ns < max(na, nb)
    assert 0.25 <= j < 1.0
    # image-typed doc 0 out of scope on both sides
    assert all(0 not in p for p in by_pair)


def test_video_neardup_threshold_validation_and_plan(spark):
    docs = _planted_videos(spark)
    for bad in (0, -5, 101):
        with pytest.raises(ValueError, match="min_jaccard_pct"):
            multimodal.video_neardup_pairs(docs, min_jaccard_pct=bad)
    plan = multimodal.video_neardup_pairs(docs)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------
# hot-signature cap + capacity read (r17)
# ---------------------------------------------------------------

def _ref_sig_density(texts: dict[int, str]):
    from collections import Counter

    freq = Counter()
    for t in texts.values():
        for sig in {lanes for _, lanes in _ref_frame_sigs(t)}:
            freq[sig] += 1
    return (
        sum(freq.values()),
        len(freq),
        max(freq.values()),
        sum(c * (c - 1) // 2 for c in freq.values()),
    )


def test_video_sig_density_matches_reference_real(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.collect()
        if r["doc_id"] % 3 == 2
    }
    row = multimodal.video_sig_density(docs).collect()[0]
    got = (
        row["n_postings"], row["n_keys"],
        row["max_sig_freq"], row["candidate_pairs"],
    )
    assert got == _ref_sig_density(texts)
    # the quadratic term must genuinely be priced: candidate_pairs is
    # the exact sum over key buckets, so any hot key shows up here
    assert row["candidate_pairs"] >= row["max_sig_freq"] * (
        row["max_sig_freq"] - 1
    ) // 2


def test_video_neardup_cap_keeps_true_scores(spark):
    """The capped profile only ever DROPS pairs (those sharing nothing
    but hot signatures); every reported pair carries the exact
    uncapped intersection counts."""
    docs = _planted_videos(spark)
    uncapped = {
        (r["asset_a"], r["asset_b"]): (
            r["n_shared"], r["n_a"], r["n_b"], r["jaccard"]
        )
        for r in multimodal.video_neardup_pairs(
            docs, min_jaccard_pct=25
        ).collect()
    }
    # cap above every signature frequency: identical result
    loose = {
        (r["asset_a"], r["asset_b"]): (
            r["n_shared"], r["n_a"], r["n_b"], r["jaccard"]
        )
        for r in multimodal.video_neardup_pairs(
            docs, min_jaccard_pct=25, max_sig_freq=10_000
        ).collect()
    }
    assert loose == uncapped
    # cap at 1: the exact-copy family {2, 8} shares every signature
    # with frequency >= 2, so candidate generation drops it entirely
    # (hot-only pair) while NOTHING gains or loses score
    tight = {
        (r["asset_a"], r["asset_b"]): (
            r["n_shared"], r["n_a"], r["n_b"], r["jaccard"]
        )
        for r in multimodal.video_neardup_pairs(
            docs, min_jaccard_pct=25, max_sig_freq=1
        ).collect()
    }
    assert set(tight) <= set(uncapped)
    for pair, vals in tight.items():
        assert vals == uncapped[pair]
    assert (2, 8) not in tight


def test_video_neardup_cap_real_equivalence_and_validation(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    # a cap above the sf0.001 max signature frequency must be a no-op
    row = multimodal.video_sig_density(docs).collect()[0]
    cap = int(row["max_sig_freq"])
    got_capped = [
        tuple(r)
        for r in multimodal.video_neardup_pairs(
            docs, min_jaccard_pct=25, max_sig_freq=cap
        ).collect()
    ]
    got_full = [
        tuple(r)
        for r in multimodal.video_neardup_pairs(
            docs, min_jaccard_pct=25
        ).collect()
    ]
    assert got_capped == got_full
    with pytest.raises(ValueError, match="max_sig_freq"):
        multimodal.video_neardup_pairs(docs, max_sig_freq=0)


# ---------------------------------------------------------------
# audio window fingerprints (r17): the shared kernel at the 1 s grain
# ---------------------------------------------------------------

def _ref_audio_sigs(text: str):
    import hashlib

    b = text.encode("utf-8")
    n = len(b)
    d = hashlib.md5(b).digest()
    n_windows = (1000 + 10 * (d[3] * 256 + d[4])) // multimodal.AUDIO_WINDOW_MS
    step = max(1, n_windows // multimodal.AUDIO_WINDOW_MAX)
    out = []
    for w in range(0, n_windows, step):
        off = (w * n) // n_windows
        seg = ((w + 1) * n) // n_windows - off
        out.append(
            (w, tuple(multimodal._frame_dhash_lanes_py(b, off, seg)))
        )
    return out


def test_audio_window_signatures_match_reference_real(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.collect()
        if r["doc_id"] % 3 == 1
    }
    want = {
        (aid, w): lanes
        for aid, t in texts.items()
        for w, lanes in _ref_audio_sigs(t)
    }
    got = {
        (r["asset_id"], r["window_idx"]): (
            r["lane0"], r["lane1"], r["lane2"], r["lane3"]
        )
        for r in multimodal.audio_window_signatures(docs).collect()
    }
    assert got == want
    assert len(got) > 0


def test_audio_neardup_and_density_match_reference_real(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.collect()
        if r["doc_id"] % 3 == 1
    }
    # brute-force uncapped pairs at a permissive threshold
    sets = {
        aid: {lanes for _, lanes in _ref_audio_sigs(t)}
        for aid, t in texts.items()
    }
    want = []
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        na, nb = len(sets[a]), len(sets[b])
        un = na + nb - inter
        if inter and inter * 100 >= 25 * un:
            want.append((a, b, inter, na, nb, inter / un))
    got = [
        tuple(r)
        for r in multimodal.audio_neardup_pairs(
            docs, min_jaccard_pct=25
        ).collect()
    ]
    assert got == want
    # density vs Counter reference
    from collections import Counter

    freq = Counter()
    for s in sets.values():
        for sig in s:
            freq[sig] += 1
    row = multimodal.audio_sig_density(docs).collect()[0]
    assert (
        row["n_postings"], row["n_keys"],
        row["max_sig_freq"], row["candidate_pairs"],
    ) == (
        sum(freq.values()), len(freq), max(freq.values()),
        sum(c * (c - 1) // 2 for c in freq.values()),
    )


def test_audio_neardup_exact_copy_and_scope(spark):
    """Exact-copy audio pair scores jaccard 1.0; video/image-typed
    docs stay out of scope; the capped registered profile keeps true
    scores (cap above every frequency == uncapped)."""
    base = " ".join(
        f"waveform block {j:03d} of the ambient field recording"
        for j in range(40)
    )
    rows = [
        (1, base),
        (4, base),          # exact duplicate of 1
        (7, "totally different synth line with heavy compression!!"),
        (2, base),          # video-typed: out of scope
        (0, base),          # image-typed: out of scope
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["asset_a"], r["asset_b"]): (
            r["n_shared"], r["n_a"], r["n_b"], r["jaccard"]
        )
        for r in multimodal.audio_neardup_pairs(
            docs, min_jaccard_pct=25
        ).collect()
    }
    assert (1, 4) in got
    ns, na, nb, j = got[(1, 4)]
    assert ns == na == nb and j == 1.0
    assert all(0 not in p and 2 not in p for p in got)
    capped = {
        (r["asset_a"], r["asset_b"]): (
            r["n_shared"], r["n_a"], r["n_b"], r["jaccard"]
        )
        for r in multimodal.audio_neardup_pairs(
            docs, min_jaccard_pct=25, max_sig_freq=10_000
        ).collect()
    }
    assert capped == got


# ---------------------------------------------------------------
# video/audio lifecycle closers: clusters + keep-one (r17)
# ---------------------------------------------------------------

def _uf_clusters(pairs):
    """Union-find reference: {node: min-of-component} + sizes."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict = {}
    for n in list(parent):
        comps.setdefault(find(n), []).append(n)
    out = {}
    for members in comps.values():
        label = min(members)
        for n in members:
            out[n] = (label, len(members))
    return out


def _check_modality_lifecycle(
    spark, docs, texts, ref_pairs, clusters_fn, survivors_fn, pct
):
    want = _uf_clusters(ref_pairs)
    got = {
        r["asset_id"]: (r["cluster_id"], r["cluster_size"])
        for r in clusters_fn(docs, min_jaccard_pct=pct).collect()
    }
    assert got == want
    import hashlib

    surv = {
        r["asset_id"]: (r["n_bytes"], r["checksum"])
        for r in survivors_fn(docs, min_jaccard_pct=pct).collect()
    }
    non_reps = {n for n, (lbl, _) in want.items() if n != lbl}
    assert set(surv) == set(texts) - non_reps
    for aid, (nb, ck) in surv.items():
        raw = texts[aid].encode("utf-8")
        assert nb == len(raw)
        assert ck == hashlib.md5(raw).hexdigest()


def _ref_capped_pairs(sets, pct, cap):
    """Capped-profile pair reference: hot signatures out of candidate
    generation, full-intersection scores, integer gate."""
    from collections import Counter

    freq = Counter(sig for s in sets.values() for sig in s)
    hot = {sig for sig, c in freq.items() if c > cap}
    pairs = []
    for a, b in combinations(sorted(sets), 2):
        if not ((sets[a] - hot) & (sets[b] - hot)):
            continue
        inter = len(sets[a] & sets[b])
        na, nb = len(sets[a]), len(sets[b])
        if inter * 100 >= pct * (na + nb - inter):
            pairs.append((a, b))
    return pairs


def test_video_lifecycle_matches_reference_real(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.collect()
        if r["doc_id"] % 3 == 2
    }
    sets = {
        aid: {lanes for _, lanes in _ref_frame_sigs(t)}
        for aid, t in texts.items()
    }
    # the registered cap is ACTIVE even at sf0.001 (hottest video
    # signature: 136 assets) — the capped reference is the contract
    assert _ref_sig_density(texts)[2] > multimodal.VIDEO_SIG_FREQ_CAP
    _check_modality_lifecycle(
        spark, docs, texts,
        _ref_capped_pairs(sets, 50, multimodal.VIDEO_SIG_FREQ_CAP),
        multimodal.video_neardup_clusters,
        multimodal.video_dedup_survivors,
        pct=50,
    )


def test_audio_lifecycle_matches_reference_real(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.collect()
        if r["doc_id"] % 3 == 1
    }
    sets = {
        aid: {lanes for _, lanes in _ref_audio_sigs(t)}
        for aid, t in texts.items()
    }
    _check_modality_lifecycle(
        spark, docs, texts,
        _ref_capped_pairs(sets, 50, multimodal.AUDIO_SIG_FREQ_CAP),
        multimodal.audio_neardup_clusters,
        multimodal.audio_dedup_survivors,
        pct=50,
    )


def test_video_lifecycle_planted(spark):
    """{2, 5, 8} collapse to one cluster at pct=25 (exact copy + the
    digest-aligned half-copy); survivor set = {2, 11}; the image-typed
    doc 0 out of scope end to end."""
    docs = _planted_videos(spark)
    texts = {
        r["doc_id"]: r["text"] for r in docs.collect() if r["doc_id"] % 3 == 2
    }
    ref_pairs = [(a, b) for a, b, *_ in _ref_video_pairs(texts, 25)]
    assert (2, 8) in ref_pairs  # fixture sanity
    _check_modality_lifecycle(
        spark, docs, texts, ref_pairs,
        multimodal.video_neardup_clusters,
        multimodal.video_dedup_survivors,
        pct=25,
    )
    got = {
        r["asset_id"]: (r["cluster_id"], r["cluster_size"])
        for r in multimodal.video_neardup_clusters(
            docs, min_jaccard_pct=25
        ).collect()
    }
    assert got.get(8) == (2, 3) and got.get(5) == (2, 3)


def test_multimodal_dedup_funnel_identity_vs_real_ops(spark):
    """The funnel's derived n_survivors must equal the ACTUAL survivor
    ops' row counts per modality (the keep-one identity pinned against
    the real anti-join plans), and the count columns must match the
    composed cluster ops."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = {
        r["media_type"]: (
            r["n_assets"], r["n_dup_members"],
            r["n_clusters"], r["n_survivors"],
        )
        for r in multimodal.multimodal_dedup_funnel(docs).collect()
    }
    assert set(got) == {"audio", "image", "video"}
    real = {
        "audio": (
            multimodal.audio_neardup_clusters(docs),
            multimodal.audio_dedup_survivors(docs),
        ),
        "image": (
            multimodal.image_neardup_clusters(docs),
            multimodal.image_dedup_survivors(docs),
        ),
        "video": (
            multimodal.video_neardup_clusters(docs),
            multimodal.video_dedup_survivors(docs),
        ),
    }
    n_docs = docs.count()
    for mt, (clusters, survivors) in real.items():
        crows = clusters.collect()
        n_assets, nd, nc, ns = got[mt]
        assert nd == len(crows)
        assert nc == len({r["cluster_id"] for r in crows})
        assert ns == survivors.count()
        assert n_assets == sum(
            1 for r in docs.collect()
            if r["doc_id"] % 3 == {"image": 0, "audio": 1, "video": 2}[mt]
        )
    assert sum(v[0] for v in got.values()) == n_docs

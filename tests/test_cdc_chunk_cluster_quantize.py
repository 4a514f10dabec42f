"""Unit tests for the round-2 extended operators: document chunking,
SCD2 merge, near-dup clustering, and int8 embedding quantization.

Oracle parity is covered by ``tests/test_oracle.py``; these tests pin
the *semantic invariants* the oracle can't express (reconstruction,
idempotent replay, cluster consistency, quantization error bounds).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.operators import cdc, chunking, dedup
from scholar_stream_spark.sources.tables import load_events
from scholar_stream_spark.operators.similarity import (
    QUANT_MAX,
    quantize_embeddings,
)
from tests.conftest import SF_SMALL, force_above_cap


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def test_chunk_documents_covers_every_token(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "doc_id long, text string"
    )
    out = chunking.chunk_documents(docs, chunk_size=4, overlap=1).collect()
    # stride 3, 10 tokens -> starts 0,3,6,9
    assert [r["start_token"] for r in out] == [0, 3, 6, 9]
    assert [r["chunk_idx"] for r in out] == [0, 1, 2, 3]
    assert [r["n_chunk_tokens"] for r in out] == [4, 4, 4, 1]
    assert out[0]["chunk_text"] == "t0 t1 t2 t3"
    assert out[-1]["chunk_text"] == "t9"
    # overlap: chunk i+1 starts inside chunk i's window
    covered = set()
    for r in out:
        covered |= set(range(r["start_token"], r["start_token"] + r["n_chunk_tokens"]))
    assert covered == set(range(10))


def test_chunk_documents_no_overlap_partitions_exactly(spark):
    docs = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(9)))], "doc_id long, text string"
    )
    out = chunking.chunk_documents(docs, chunk_size=3, overlap=0).collect()
    texts = [r["chunk_text"] for r in sorted(out, key=lambda r: r["chunk_idx"])]
    assert " ".join(texts) == " ".join(f"w{i}" for i in range(9))


def test_chunk_documents_short_doc_single_chunk(spark):
    docs = spark.createDataFrame([(2, "only four tokens here")], "doc_id long, text string")
    out = chunking.chunk_documents(docs, chunk_size=128, overlap=32).collect()
    assert len(out) == 1
    assert out[0]["n_chunk_tokens"] == 4
    assert out[0]["chunk_text"] == "only four tokens here"


def test_chunk_documents_rejects_bad_overlap(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunking.chunk_documents(docs, chunk_size=4, overlap=4)


# ---------------------------------------------------------------------------
# SCD2 merge
# ---------------------------------------------------------------------------


def _scd2_fixture(spark):
    cur = spark.createDataFrame(
        [
            # closed history row: must pass through untouched
            (1, 10.0, "A", "2025-01-01 00:00:00", "2025-06-01 00:00:00", False),
            (1, 11.0, "A", "2025-06-01 00:00:00", None, True),
            (2, 20.0, "B", "2025-01-01 00:00:00", None, True),
            (3, 30.0, "C", "2025-01-01 00:00:00", None, True),
            (4, 40.0, "D", "2025-01-01 00:00:00", None, True),
        ],
        "k long, bal double, seg string, valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "bal", "seg",
        F.to_timestamp("valid_from").alias("valid_from"),
        F.to_timestamp("valid_to").alias("valid_to"),
        "is_current",
    )
    changes = spark.createDataFrame(
        [
            (1, 12.0, "A", "U"),   # value change -> close + open
            (2, 20.0, "B", "U"),   # identical -> keep (idempotent replay)
            (3, 30.0, "C", "D"),   # delete -> close only
            (9, 90.0, "Z", "U"),   # unknown key -> first version
            (8, 80.0, "Y", "D"),   # delete unknown -> no-op
        ],
        "k long, bal double, seg string, op string",
    )
    return cur, changes


def test_scd2_apply_semantics(spark):
    cur, changes = _scd2_fixture(spark)
    ts = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    out = cdc.scd2_apply(cur, changes, "k", ["bal", "seg"], ts)
    rows = {(r["k"], r["is_current"], str(r["valid_from"])): r for r in out.collect()}

    # history row untouched
    assert (1, False, "2025-01-01 00:00:00") in rows
    # k=1: old version closed at change ts, new version opened
    closed = rows[(1, False, "2025-06-01 00:00:00")]
    assert str(closed["valid_to"]) == "2026-01-01 00:00:00" and closed["bal"] == 11.0
    opened = rows[(1, True, "2026-01-01 00:00:00")]
    assert opened["bal"] == 12.0 and opened["valid_to"] is None
    # k=2: identical replay keeps the open row
    assert rows[(2, True, "2025-01-01 00:00:00")]["bal"] == 20.0
    # k=3: deleted -> closed, no open row
    assert str(rows[(3, False, "2025-01-01 00:00:00")]["valid_to"]) == "2026-01-01 00:00:00"
    assert not any(k == 3 and cur_ for (k, cur_, _) in rows)
    # k=4: untouched open row
    assert rows[(4, True, "2025-01-01 00:00:00")]["valid_to"] is None
    # k=9: fresh insert
    assert rows[(9, True, "2026-01-01 00:00:00")]["bal"] == 90.0
    # k=8: delete of unknown key is a no-op
    assert not any(k == 8 for (k, _, _) in rows)
    # exactly one current row per live key
    current = out.filter("is_current").groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in current)


def test_scd2_apply_is_idempotent_on_replay(spark):
    cur, changes = _scd2_fixture(spark)
    ts = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    once = cdc.scd2_apply(cur, changes, "k", ["bal", "seg"], ts)
    twice = cdc.scd2_apply(once, changes, "k", ["bal", "seg"], ts)
    # replaying the same batch changes nothing (same multiset of rows)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


# ---------------------------------------------------------------------------
# near-dup clusters
# ---------------------------------------------------------------------------


def test_neardup_clusters_consistent_with_pairs(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs).collect()
    clusters = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup.neardup_clusters(docs).collect()
    }
    assert clusters, "expected near-dup pairs at sf0.001"
    # every paired doc is labeled, pair members share a cluster
    for p in pairs:
        assert clusters[p["d1"]][0] == clusters[p["d2"]][0]
    # cluster id is the minimum member id; sizes count members
    from collections import defaultdict

    members = defaultdict(set)
    for doc, (cl, _) in clusters.items():
        members[cl].add(doc)
    for cl, docs_in in members.items():
        assert cl == min(docs_in)
        for d in docs_in:
            assert clusters[d][1] == len(docs_in)


def test_neardup_clusters_chain_transitivity(spark):
    # a-b and b-c near-dup, a-c not: one cluster of 3 (transitive closure)
    base = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base + " extra1"),
            (12, base + " extra1 extra2"),
            (99, " ".join(f"z{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.neardup_clusters(docs, threshold=0.5).collect()}
    assert out[10]["cluster_id"] == out[11]["cluster_id"] == out[12]["cluster_id"] == 10
    assert out[10]["cluster_size"] == 3
    assert 99 not in out  # singleton: no pairs, no row


def test_neardup_clusters_driver_and_distributed_paths_agree(
    spark, monkeypatch
):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    fast = dedup.neardup_clusters(docs)  # driver union-find path
    force_above_cap(monkeypatch)
    slow = dedup.neardup_clusters(docs)  # forced star kernel
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )


# ---------------------------------------------------------------------------
# quantization
# ---------------------------------------------------------------------------


def test_quantize_embeddings_bounds_and_zero_vector(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, -2.0, 0.5, 2.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),   # zero vector: scale falls back to 1
            (2, [127.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(vecs).collect()}
    # scale = max|v|/127; max element quantizes to exactly ±127
    assert out[0]["scale"] == round(2.0 / QUANT_MAX, 6)  # round-6 output
    assert out[0]["n_sat"] == 2 and out[0]["q_l1"] <= 4 * QUANT_MAX  # ±2.0 both saturate
    assert out[1]["scale"] == 1.0 and out[1]["q_sum"] == 0 and out[1]["q_l1"] == 0
    assert out[2]["n_sat"] == 1 and out[2]["q_sum"] == QUANT_MAX


def test_plan_shapes(spark):
    """The scale claims, asserted on the physical plans: chunking and
    quantization are shuffle-free narrow pipelines; the SCD2 merge has
    exactly one join of open-slice vs changes (plus the change-batch
    union), no window, no extra Exchange beyond the join's needs."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = (
        chunking.chunk_documents(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "Generate" in plan  # the posexplode

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    qplan = (
        quantize_embeddings(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in qplan
    assert "Window" not in qplan

    cur, changes = _scd2_fixture(spark)
    ts = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    splan = (
        cdc.scd2_apply(cur, changes, "k", ["bal", "seg"], ts)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in splan
    assert splan.count("Join") <= 3  # the one merge join (3 filtered reads)


def test_quantize_embeddings_reconstruction_error_bound(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(50)
    rows = docs.collect()
    out = {r["vec_id"]: r for r in quantize_embeddings(docs).collect()}
    for r in rows:
        q = out[r["vec_id"]]
        scale = q["scale"]
        # round-to-nearest: |v - q*scale| <= scale/2 element-wise, so the
        # quantized L1 differs from the true L1/scale by <= dim/2
        true_l1 = sum(abs(float(v)) for v in r["embedding"])
        assert abs(q["q_l1"] - true_l1 / scale) <= len(r["embedding"]) / 2 + 1e-6


# ---------------------------------------------------------------------------
# sketch percentile accuracy
# ---------------------------------------------------------------------------


def test_value_percentiles_sketch_error_bound(spark):
    from scholar_stream_spark.operators.relational import (
        value_percentiles_accuracy,
    )

    ev = load_events(spark, SF_SMALL.replace("sf0.001", "sf0.01")).select(
        "event_type", "value"
    )
    rows = value_percentiles_accuracy(ev).collect()
    assert rows
    for r in rows:
        # rank error <= n/accuracy; on these distributions that keeps the
        # p95 estimate within 1% of the exact value
        assert r["abs_err"] <= max(0.01 * abs(r["p95_exact"]), 0.01), (
            f"{r['event_type']}: sketch err {r['abs_err']}"
        )


def test_stats_by_type_matches_numpy(spark):
    import numpy as np

    from scholar_stream_spark.operators.relational import stats_by_type

    rows = [(("a" if i % 2 else "b"), float(i % 7) + 0.125 * i, i * 1000) for i in range(200)]
    ev = spark.createDataFrame(
        [(t, v, s) for t, v, s in rows], "event_type string, value double, sec long"
    ).select(
        "event_type", "value",
        F.expr("timestamp_seconds(1700000000 + sec)").alias("ts"),
    )
    out = {r["event_type"]: r for r in stats_by_type(ev).collect()}
    for typ in ("a", "b"):
        vals = np.array([v for t, v, _ in rows if t == typ])
        # quantized to 1e-6 fixed point, like the operator
        yq = np.floor(vals * 1e6 + 0.5) / 1e6
        xs = np.array(
            [(1700000000 + s) % 86400 for t, _, s in rows if t == typ],
            dtype=np.float64,
        )
        x = xs  # formulas use seconds; slope scaled to day-fraction
        slope_sec = np.polyfit(x, yq, 1)[0]
        assert abs(out[typ]["sd_value"] - np.std(yq, ddof=1)) < 1e-3
        assert abs(out[typ]["corr_value_time"] - np.corrcoef(yq, x)[0, 1]) < 1e-3
        assert abs(out[typ]["trend_slope"] - slope_sec * 86400 ) < 1e-2


# ---------------------------------------------------------------------------
# review regressions: composable rollup, histogram/stats edge cases
# ---------------------------------------------------------------------------


def test_merge_rollup_composes_exactly(spark):
    """Folding two deltas one at a time must equal the one-shot rollup
    EXACTLY — the decimal invariant has to survive re-merging the
    operator's own output (a double in the loop would drift)."""
    from scholar_stream_spark.operators.relational import (
        daily_rollup,
        merge_rollup,
        present_rollup,
    )

    ev = spark.createDataFrame(
        [(f"t{i % 3}", 0.1 + i * 0.37, i) for i in range(300)],
        "event_type string, value double, sec long",
    ).select(
        "event_type", "value",
        F.expr("timestamp_seconds(1700000000 + sec * 9000)").alias("ts"),
    )
    a = ev.filter(F.col("value") < 30)
    b = ev.filter((F.col("value") >= 30) & (F.col("value") < 70))
    c = ev.filter(F.col("value") >= 70)
    twice = merge_rollup(merge_rollup(daily_rollup(a), b), c)
    # schema closed under composition (decimal sum, date day)
    assert twice.schema["sum_value"].dataType.typeName().startswith("decimal")
    one_shot = present_rollup(daily_rollup(ev))
    assert sorted(map(tuple, present_rollup(twice).collect())) == sorted(
        map(tuple, one_shot.collect())
    )


def test_value_histogram_nulls_and_constant_input(spark):
    from scholar_stream_spark.operators.relational import value_histogram

    ev = spark.createDataFrame(
        [(1.0,), (None,), (1.0,), (None,)], "value double"
    )
    rows = value_histogram(ev).collect()
    # constant input: one bin (0), NULLs excluded rather than floored
    # into the top bin
    assert len(rows) == 1
    assert rows[0]["bin"] == 0 and rows[0]["n"] == 2


def test_stats_by_type_single_row_and_nulls(spark):
    from scholar_stream_spark.operators.relational import stats_by_type

    ev = spark.createDataFrame(
        [
            ("solo", 5.0, 1000),
            ("dueling", 1.0, 2000),
            ("dueling", 1.0, 2000),   # zero variance AND zero time spread
            ("nullish", 3.0, 3000),
            ("nullish", None, 4000),
            ("nullish", 4.0, 5000),
        ],
        "event_type string, value double, sec long",
    ).select(
        "event_type", "value",
        F.expr("timestamp_seconds(1700000000 + sec)").alias("ts"),
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = {r["event_type"]: r for r in stats_by_type(ev).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    # single row: no variance/trend defined -> NULL, never an ANSI error
    assert out["solo"]["n"] == 1 and out["solo"]["sd_value"] is None
    assert out["solo"]["trend_slope"] is None
    # zero variance: sd 0, correlation undefined (NULL)
    assert out["dueling"]["sd_value"] == 0.0
    assert out["dueling"]["corr_value_time"] is None
    # NULL values excluded from n as well as the moments
    assert out["nullish"]["n"] == 2
    assert out["nullish"]["sd_value"] is not None


def test_heavy_hitters_finds_spread_heavy_token(spark):
    """Adversarial layout: the heavy token is diluted across partitions
    among floods of unique tokens — the per-partition sketches must
    still surface it (candidate soundness) and the recount is exact."""
    from scholar_stream_spark.operators.textops import heavy_hitters

    docs = []
    uid = 0
    for p in range(8):
        uniq = " ".join(f"u{uid + i}" for i in range(300))
        uid += 300
        docs.append((p, ("hot " * 40) + uniq))
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    out = {r["token"]: r for r in heavy_hitters(df, k=10).collect()}
    # 320 'hot' of 2720 tokens total -> freq ~0.118 > 1/10
    assert "hot" in out
    assert out["hot"]["tf"] == 320
    # no unique token can be heavy
    assert all(t == "hot" for t in out)


def test_curate_engines_agree_exactly(spark):
    """The Arrow signal kernel must be bit-identical to the expression
    formulation — both scale factors, every column (HALF_UP rounding,
    ASCII whitespace, md5 fingerprints, hash buckets)."""
    from scholar_stream_spark.operators.curation import curate_corpus

    for sf in ("sf0.001", "sf0.01"):
        docs = spark.read.parquet(
            f"{SF_SMALL}".replace("sf0.001", sf) + "/documents.parquet"
        )
        kernel = sorted(map(tuple, curate_corpus(docs, engine="kernel").collect()))
        expr = sorted(map(tuple, curate_corpus(docs, engine="expr").collect()))
        assert kernel == expr, f"engine divergence at {sf}"
        assert len(kernel) > 0


def test_curate_kernel_tolerates_null_text(spark):
    from scholar_stream_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, None),
         (3, "the a of the a of the a of the a of the a of")],
        "doc_id long, text string",
    )
    for engine in ("kernel", "expr"):
        out = curate_corpus(docs, engine=engine).collect()
        assert all(r["doc_id"] != 2 for r in out), engine  # dropped, no crash


def test_heavy_hitters_empty_corpus(spark):
    from scholar_stream_spark.operators.textops import heavy_hitters

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert heavy_hitters(docs).count() == 0


def test_distinct_users_sketch_error_bound(spark):
    from scholar_stream_spark.operators.relational import (
        HLL_RSD,
        distinct_users_sketch_accuracy,
    )

    ev = load_events(spark, SF_SMALL.replace("sf0.001", "sf0.01")).select(
        "event_type", "user_id"
    )
    rows = distinct_users_sketch_accuracy(ev).collect()
    assert rows
    for r in rows:
        # HLL rsd=0.02 -> 5 sigma margin on the relative error
        assert r["rel_err"] <= 5 * HLL_RSD, (
            f"{r['event_type']}: {r['n_approx']} vs {r['n_exact']}"
        )


def test_table_diff_classifies_and_hashes_safely(spark):
    """added/removed/changed classification on constructed snapshots,
    incl. the collision traps the hash separators exist for: a
    ("a","b")->("ab","") shift and a NULL column move must both read
    as CHANGED, and unchanged rows (NULLs included) must not appear."""
    old = spark.createDataFrame(
        [
            (1, "a", "b"),      # unchanged
            (2, "a", "b"),      # -> ("ab", "") : changed
            (3, None, "x"),     # -> ("x", NULL): changed
            (4, "z", "z"),      # removed
            (6, None, None),    # unchanged with NULLs
            (7, None, "q"),     # NULL -> a would-be sentinel string
            (None, "nk", "v"),  # NULL KEY, removed in new
        ],
        "k long, c1 string, c2 string",
    )
    new = spark.createDataFrame(
        [
            (1, "a", "b"),
            (2, "ab", ""),
            (3, "x", None),
            (5, "new", "row"),  # added
            (6, None, None),
            (7, "\x00NULL", "q"),
        ],
        "k long, c1 string, c2 string",
    )
    got = {
        r["key"]: r["change_type"]
        for r in cdc.table_diff(old, new, "k").collect()
    }
    assert got == {
        2: "changed",
        3: "changed",
        4: "removed",
        5: "added",
        7: "changed",     # no sentinel exists a real value could equal
        None: "removed",  # presence judged on hash, not key nullness
    }


def test_table_diff_joins_hashes_not_payloads(spark):
    """The full-outer join must see only (key, hash) on each side: the
    pre-join projections carry exactly two columns, so snapshots of
    arbitrary width never shuffle their payloads."""
    old = spark.createDataFrame(
        [(i, "x" * 50, float(i)) for i in range(20)],
        "k long, big string, v double",
    )
    new = old
    plan = (
        cdc.table_diff(old, new, "k")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "big" not in plan.split("Join")[0], plan

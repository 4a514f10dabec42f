"""Scale guards for the sketch dedup operators.

These pin the 100-TB design decisions at unit scale: the hot-shingle
document-frequency cap (quadratic-candidate guard) and the wide SimHash
profile's banding invariants.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.operators import dedup
from tests.conftest import SF_SMALL


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


# every doc shares this 5-word stop-phrase → its shingles are "hot"
HOT = "the quick brown fox jumps"
BODY_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
BODY_B = "alpha beta gamma delta epsilon zeta eta theta iota lambda"


def test_df_cap_drops_hot_shingle_candidates(spark):
    # 6 unrelated docs share ONLY the hot phrase; docs 100/101 are true
    # near-dups (9 of 10 body words shared, no hot phrase).
    rows = [(i, f"{HOT} unique{i} word{i} tail{i} more{i} x{i} y{i}") for i in range(6)]
    rows += [(100, BODY_A), (101, BODY_B)]
    docs = _docs(spark, rows)

    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.05)
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.05, max_doc_freq=3)

    un_pairs = {(r["d1"], r["d2"]) for r in uncapped.collect()}
    cap_pairs = {(r["d1"], r["d2"]) for r in capped.collect()}

    # hot-phrase-only pairs appear uncapped but are gone with the cap
    assert (0, 1) in un_pairs
    assert all(p[0] >= 100 for p in cap_pairs), cap_pairs
    # the true near-dup pair survives the cap
    assert (100, 101) in cap_pairs


def test_df_cap_scores_stay_exact(spark):
    # when a surviving pair ALSO shares a hot shingle, its Jaccard must
    # still count that shingle (verify runs over all shingles)
    t1 = f"{HOT} alpha beta gamma delta epsilon"
    t2 = f"{HOT} alpha beta gamma delta zeta"
    filler = [
        (i, f"{HOT} filler{i} pad{i} junk{i} noise{i} blah{i}")
        for i in range(10, 14)
    ]
    docs = _docs(spark, [(1, t1), (2, t2)] + filler)

    uncapped = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.05).collect()
    }
    capped = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.05, max_doc_freq=5
        ).collect()
    }
    # (1,2) share non-hot shingles too → candidate either way, and the
    # capped score equals the uncapped (exact) score
    assert capped[(1, 2)] == uncapped[(1, 2)]


def test_doc_freq_cap_profile_defaults():
    # "auto" wires the cap ON in the scale profile, OFF for the oracle;
    # an explicit value always wins
    assert dedup._resolve_doc_freq_cap("auto", True) == dedup.MAX_SHINGLE_DOC_FREQ
    assert dedup._resolve_doc_freq_cap("auto", False) is None
    assert dedup._resolve_doc_freq_cap(7, True) == 7
    assert dedup._resolve_doc_freq_cap(None, True) is None


def test_minhash_scale_profile_drops_hot_shingles(spark):
    # 6 docs are pure shared boilerplate (every shingle hot — the giant-
    # LSH-bucket case the cap guards against); 100/101 are true near-dups
    # differing in one trailing word (J ≈ 0.89, certain LSH candidates).
    boiler = f"{HOT} over the lazy dog while nobody watches at all"
    common = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [(i, boiler) for i in range(6)]
    rows += [(100, f"{common} ending"), (101, f"{common} finale")]
    docs = _docs(spark, rows)

    capped = {
        (r["d1"], r["d2"])
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.05, hash_profile="fast", max_doc_freq=3
        ).collect()
    }
    # the boilerplate clique is gone; the true near-dup pair survives
    assert capped == {(100, 101)}, capped
    # portable profile default ("auto" → None): boilerplate pairs still
    # present, preserving oracle parity for dedup_minhash_lsh
    uncapped = {
        (r["d1"], r["d2"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.05).collect()
    }
    assert (0, 1) in uncapped and (100, 101) in uncapped


def test_neardup_clusters_scale_profile_caps(spark):
    rows = [
        (i, f"{HOT} unique{i} word{i} tail{i} more{i} x{i} y{i}")
        for i in range(6)
    ]
    rows += [(100, BODY_A + " " + BODY_A), (101, BODY_A + " " + BODY_B)]
    docs = _docs(spark, rows)

    scale = dedup.neardup_clusters(
        docs, threshold=0.05, profile="scale", max_doc_freq=3
    )
    got = {(r["doc_id"], r["cluster_id"]) for r in scale.collect()}
    # only the true near-dup cluster remains under the scale profile
    assert got == {(100, 100), (101, 100)}, got
    # oracle profile keeps the uncapped graph (boilerplate cluster too)
    oracle = dedup.neardup_clusters(docs, threshold=0.05)
    nodes = {r["doc_id"] for r in oracle.collect()}
    assert 0 in nodes and 100 in nodes


def test_simhash_fast_profile_is_64bit(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = dedup.simhash_signatures(docs, hash_profile="fast")
    # signatures use the full 64-bit space: some must exceed 32 bits
    # (probability of all 50 sigs fitting 32 bits is ~2^-1600)
    assert sigs.filter(
        (F.col("simhash") > F.lit(2**32)) | (F.col("simhash") < 0)
    ).count() > 0


def test_simhash_wide_banding_is_lossless(spark):
    # banded candidate generation must find EXACTLY the pairs a
    # brute-force hamming scan finds (pigeonhole: 4 bands, hamming<=3)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    banded = {
        (r["d1"], r["d2"], r["hamming"])
        for r in dedup.simhash_pairs(docs, hash_profile="fast").collect()
    }
    sigs = dedup.simhash_signatures(docs, hash_profile="fast")
    brute = {
        (r["d1"], r["d2"], r["hamming"])
        for r in (
            sigs.alias("a")
            .join(sigs.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
                F.expr(
                    "CAST(bit_count(a.simhash ^ b.simhash) AS INT)"
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= dedup.SIMHASH_HAMMING_MAX)
            .collect()
        )
    }
    assert banded == brute


def test_df_cap_off_is_identity(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs).collect()
    }
    b = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, max_doc_freq=10**6).collect()
    }
    assert a == b


def test_fuzzy_neardup_blocks_and_bounds(spark):
    prefix = "shared identical opening sentence for the block key yes"
    base = f"{prefix} tail words one two three four five six seven"
    rows = [
        (1, base),
        # one in-place typo (1 edit) — same block, within max_edits
        (2, base.replace("three", "thre")),
        # same block, but the tail is rewritten far beyond max_edits
        (3, f"{prefix} completely different remainder text entirely xx"),
        # different prefix — never even a candidate pair
        (4, "unrelated document that opens differently " + base),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["d1"], r["d2"]): r["edits"]
        for r in dedup.fuzzy_neardup_pairs(docs).collect()
    }
    assert set(got) == {(1, 2)}, got
    assert got[(1, 2)] == 1


def test_fuzzy_neardup_normalizes_case_and_whitespace(spark):
    # case + whitespace-run differences are 0 edits after normalization
    rows = [
        (1, "The  Quick   Brown Fox jumps over the lazy dog today ok"),
        (2, "the quick brown fox JUMPS over the lazy dog today ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    [(d1, d2, edits)] = [
        (r["d1"], r["d2"], r["edits"])
        for r in dedup.fuzzy_neardup_pairs(docs).collect()
    ]
    assert (d1, d2, edits) == (1, 2, 0)


def test_fuzzy_neardup_plan_has_no_cartesian(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = dedup.fuzzy_neardup_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_decontaminate_flags_eval_ngram_overlap(spark):
    # bucket(md5) splits: 31 -> test, 0/1/2 -> train, 11 -> val
    # (precomputed from the portable hash; pinned by split_assign tests)
    leak = "alpha beta gamma delta epsilon zeta"  # 6 words -> 2 shingles
    rows = [
        (31, f"held out benchmark doc says {leak} end"),
        (0, f"training doc one contains {leak} verbatim here"),
        (1, "training doc two totally clean text nothing shared at all"),
        (2, f"{leak} also appears in training doc three"),
        (11, f"val doc with {leak} must not flag either side"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["n_hits"]
        for r in dedup.decontaminate(docs).collect()
    }
    # only the contaminated TRAIN docs appear; clean train + val absent
    assert set(got) == {0, 2}, got
    # each shares exactly the 2 shingles inside the leaked 6-gram
    assert got[0] == 2 and got[2] == 2, got


def test_decontaminate_eval_side_is_broadcast(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        dedup.decontaminate(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_dedup_semantics(spark):
    batch = spark.createDataFrame(
        [
            (10, "brand new document text here"),
            (11, "Seen  Before document text"),   # normalizes to seen fp
            (13, "repeated inside the batch ok"),
            (12, "repeated inside the batch ok"), # in-batch dup, later id
        ],
        ["doc_id", "text"],
    )
    seen = spark.createDataFrame(
        [("seen before document text",)], ["text"]
    ).select(F.md5(F.col("text")).alias("fingerprint"))
    got = {
        r["doc_id"] for r in dedup.incremental_dedup(batch, seen).collect()
    }
    # 10 is new; 11 matches the index after normalization; of the
    # in-batch dup pair (12, 13) only the smaller doc_id survives
    assert got == {10, 12}, got


def test_incremental_dedup_index_never_shuffled(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seen = docs.limit(100).select(F.md5("text").alias("fingerprint"))
    plan = (
        dedup.incremental_dedup(docs, seen)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_fuzzy_block_cap_drops_hot_prefix(spark):
    boiler = "identical license boilerplate header text for all docs"
    rows = [(i, f"{boiler} unique tail {i}") for i in range(8)]
    rows += [(100, "distinct opening first" + " words " * 10),
             (101, "distinct opening first" + " words " * 10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = dedup.fuzzy_neardup_pairs(docs, max_block_size=4)
    got = {(r["d1"], r["d2"]) for r in capped.collect()}
    # the 8-doc boilerplate block is dropped; the true pair survives
    assert got == {(100, 101)}, got
    # cap off: boilerplate pairs appear (quadratic, the thing we guard)
    uncapped = {
        (r["d1"], r["d2"])
        for r in dedup.fuzzy_neardup_pairs(docs).collect()
    }
    assert (0, 1) in uncapped


def test_incremental_neardup_semantics(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    corpus = _docs(spark, [(1, base), (2, "totally different corpus text "
                                         "nothing shared here at all ok")])
    batch = _docs(spark, [
        (100, f"{base[:-7]} changed"),   # near-dup of corpus doc 1
        (101, "brand new unrelated document content words only its own"),
    ])
    got = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in dedup.incremental_neardup(
            batch, corpus, threshold=0.5
        ).collect()
    }
    assert set(got) == {(100, 1)}, got
    assert got[(100, 1)] >= 0.5


def test_incremental_neardup_corpus_never_pair_shuffled(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pyspark.sql import functions as F2
    corpus = docs.filter(F2.col("doc_id") % 2 == 0)
    batch = docs.filter(F2.col("doc_id") % 2 == 1).limit(50)
    plan = (
        dedup.incremental_neardup(batch, corpus)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # candidate + verify joins must broadcast the batch side — a
    # SortMergeJoin would mean the corpus index was shuffled on pair keys
    assert "SortMergeJoin" not in plan, plan


def test_simhash_packed_lane_overflow_raises(spark, monkeypatch):
    """Signatures pack per-bit counts in fixed-width lanes; a document
    with more distinct shingles than a lane can count must fail loudly,
    never wrap silently. Lane width is monkeypatched tiny (capacity 4)
    so the bound is reachable without a ~1M-token fixture."""
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    monkeypatch.setattr(dedup, "_SIMHASH_LANE_BITS", 2)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p")],  # 12 distinct 5-shingles
        "doc_id long, text string",
    )
    with _pytest.raises(SparkRuntimeException, match="distinct shingles"):
        dedup.simhash_signatures(docs).collect()


def test_simhash_packed_lanes_match_unpacked_counts(spark):
    """The packed-lane signature must equal a straight per-bit-sum
    reference on real data (exactness of the lane arithmetic)."""
    from pyspark.sql import functions as F2

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    packed = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs).collect()
    }
    sh = dedup.distinct_shingles(docs)
    from scholar_stream_spark.functions.hashing import (
        SIMHASH_BITS, hex48_spark_sql,
    )
    hashed = sh.select(
        "doc_id",
        (F2.expr(hex48_spark_sql("shingle")).cast("long")
         % F2.lit(2**SIMHASH_BITS)).alias("h"),
    )
    sums = hashed.groupBy("doc_id").agg(
        F2.count(F2.lit(1)).alias("n_feat"),
        *[
            F2.sum(F2.expr(f"shiftright(h, {b}) & 1")).alias(f"c{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    ref = {}
    for r in sums.collect():
        sig = 0
        for b in range(SIMHASH_BITS):
            if 2 * r[f"c{b}"] - r["n_feat"] >= 0:
                sig |= 1 << b
        ref[r["doc_id"]] = sig
    assert packed == ref


def _chain_edges(spark, n=1000):
    """Symmetric edge list of a path graph 0-1-2-...-(n-1): diameter
    n-1, the adversarial shape for any kernel whose rounds grow with
    the diameter."""
    rows = [(i, i + 1) for i in range(n - 1)]
    rows += [(b, a) for a, b in rows]
    return spark.createDataFrame(rows, "d1 long, d2 long")


def test_star_kernel_matches_union_find_on_1k_chain(spark):
    """large-star/small-star converges on a 1000-node chain within the
    default round budget and agrees with the driver union-find exactly."""
    edges = _chain_edges(spark, 1000)
    star = {
        r["node"]: r["lbl"]
        for r in dedup.connected_components(edges).collect()
    }
    uf = {
        r["node"]: r["lbl"]
        for r in dedup._driver_components(spark, edges.collect()).collect()
    }
    assert star == uf
    assert set(star.values()) == {0}  # one component, min-id label
    assert len(star) == 1000


def test_star_kernel_on_disjoint_components(spark):
    """Two cliques + an isolated pair: every component labels to its
    min id, no cross-component leakage."""
    rows = []
    for base in (10, 20):
        ids = [base + i for i in range(4)]
        rows += [(a, b) for a in ids for b in ids if a != b]
    rows += [(100, 101), (101, 100)]
    edges = spark.createDataFrame(rows, "d1 long, d2 long")
    got = {
        r["node"]: r["lbl"]
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {
        **{10 + i: 10 for i in range(4)},
        **{20 + i: 20 for i in range(4)},
        100: 100, 101: 100,
    }


def test_incremental_neardup_indexed_matches_recompute(spark, tmp_path):
    """The persisted-index probe must return exactly what the recompute
    variant returns, and its plan must not touch corpus text (the
    corpus side is two parquet reads of the index)."""
    from pyspark.sql import functions as F2

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # corpus lives at its OWN path so the plan assertion below can tell
    # corpus scans from batch scans
    corpus_path = str(tmp_path / "corpus_docs")
    docs.filter(F2.col("doc_id") % 2 == 0).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    batch = docs.filter(F2.col("doc_id") % 2 == 1).limit(80)
    path = str(tmp_path / "ndidx")
    dedup.write_neardup_index(corpus, path)
    indexed = dedup.incremental_neardup_indexed(batch, path)
    want = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup.incremental_neardup(batch, corpus).collect()
    )
    got = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in indexed.collect()
    )
    assert got == want
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    # the probe never touches corpus text: the corpus side is the index
    # tables. Scan LOCATIONS truncate in the rendered plan (long pytest
    # tmp paths), so pin the read SCHEMAS: hash-array and band-posting
    # scans present, and corpus_docs path absent.
    assert "corpus_docs" not in plan, plan
    assert "hs" in plan and "band" in plan and "key" in plan, plan


def _tokens(prefix, n):
    return [f"{prefix}{i}" for i in range(n)]


def test_duplicate_spans_finds_shared_run(spark):
    """A verbatim 25-token run shared by two docs (different contexts)
    becomes one maximal merged span per doc covering exactly the run."""
    shared = _tokens("dup", 25)
    d1 = _tokens("a", 10) + shared + _tokens("b", 10)
    d2 = _tokens("c", 7) + shared + _tokens("d", 12)
    d3 = _tokens("e", 40)  # no duplication
    docs = spark.createDataFrame(
        [(1, " ".join(d1)), (2, " ".join(d2)), (3, " ".join(d3))],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in dedup.duplicate_spans(docs, window=20).collect()
    }
    assert spans == {1: (10, 35, 25), 2: (7, 32, 25)}


def test_duplicate_spans_catches_within_doc_repetition(spark):
    """The min_count policy counts ALL occurrences, so a phrase repeated
    inside ONE doc is flagged too (Lee et al. semantics)."""
    phrase = _tokens("p", 20)
    d = phrase + _tokens("mid", 5) + phrase
    docs = spark.createDataFrame(
        [(1, " ".join(d))], "doc_id long, text string"
    )
    spans = sorted(
        (r["span_start"], r["span_end"])
        for r in dedup.duplicate_spans(docs, window=20).collect()
    )
    assert spans == [(0, 20), (25, 45)]


def test_remove_duplicate_spans_cuts_and_preserves_docs(spark):
    shared = _tokens("dup", 25)
    d1 = _tokens("a", 10) + shared + _tokens("b", 10)
    docs = spark.createDataFrame(
        [
            (1, " ".join(d1)),
            (2, " ".join(shared)),          # entirely duplicated
            (3, " ".join(_tokens("z", 8))),  # untouched (short, unique)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in dedup.remove_duplicate_spans(
            docs, window=20
        ).collect()
    }
    assert got[1]["clean_text"] == " ".join(_tokens("a", 10) + _tokens("b", 10))
    assert got[1]["n_removed_tokens"] == 25
    assert got[2]["clean_text"] == "" and got[2]["n_kept_tokens"] == 0
    assert got[3]["clean_text"] == " ".join(_tokens("z", 8))
    assert got[3]["n_removed_tokens"] == 0


def test_neardup_index_params_mismatch_raises(spark, tmp_path):
    """Probing a persisted index in a different hash space must fail
    loudly — mismatched band keys would otherwise silently match
    nothing and admit every duplicate."""
    import pytest as _pytest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(50)
    path = str(tmp_path / "ndidx")
    dedup.write_neardup_index(docs, path)  # portable hashes
    with _pytest.raises(ValueError, match="was built with"):
        dedup.incremental_neardup_indexed(
            docs.limit(5), path, hash_profile="fast"
        )
    # matching params probe fine
    assert dedup.incremental_neardup_indexed(docs.limit(5), path).count() >= 0


def test_remove_dup_paragraphs_semantics(spark):
    """Paragraph dedup: corpus-repeated paragraphs drop (normalization
    catches case/whitespace variants), blank paragraphs are ignored,
    unique paragraphs survive in order, an all-boilerplate doc comes
    back with empty clean_text."""
    sep = dedup.PARA_SEP
    docs = spark.createDataFrame(
        [
            (1, sep.join(["alpha body one", "Subscribe To Our  Newsletter", "tail one"])),
            # same boilerplate, different case/spacing + a blank para
            (2, sep.join(["beta body two", "", "subscribe to our newsletter", "tail two"])),
            # all-boilerplate doc
            (3, "subscribe   to our newsletter"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup.remove_dup_paragraphs(docs).collect()}
    assert len(got) == 3
    assert got[1]["clean_text"] == sep.join(["alpha body one", "tail one"])
    assert got[1]["n_paragraphs"] == 3 and got[1]["n_removed_paragraphs"] == 1
    # blank paragraph neither counted nor emitted
    assert got[2]["n_paragraphs"] == 3
    assert got[2]["clean_text"] == sep.join(["beta body two", "tail two"])
    assert got[3]["clean_text"] == "" and got[3]["n_removed_paragraphs"] == 1


def test_contamination_report_consistent_with_decontaminate(spark):
    """The audit view and the drop view must tell one story: the
    report's n_hits>0 rows are exactly decontaminate's rows, every
    train-split doc appears exactly once (zero-shingle docs included),
    and hits can never exceed the distinct-shingle denominator."""
    from scholar_stream_spark.operators import dedup
    from scholar_stream_spark.operators.sampling import (
        SPLIT_BOUNDS,
        split_bucket,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    report = dedup.contamination_report(docs).collect()
    drops = {
        r["doc_id"]: r["n_hits"]
        for r in dedup.decontaminate(docs).collect()
    }
    got_hits = {r["doc_id"]: r["n_hits"] for r in report if r["n_hits"] > 0}
    assert got_hits == drops
    lo, hi = {n: (a, b) for n, a, b in SPLIT_BOUNDS}["train"]
    n_train = docs.filter(
        (split_bucket("CAST(doc_id AS STRING)") >= lo)
        & (split_bucket("CAST(doc_id AS STRING)") < hi)
    ).count()
    assert len(report) == n_train
    assert all(r["n_hits"] <= r["n_shingles"] for r in report)
    assert all(
        0.0 <= r["overlap_frac"] <= 1.0 for r in report
    )

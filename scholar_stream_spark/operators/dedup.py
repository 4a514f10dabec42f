"""Deduplication operators (SURVEY.md §2.8 extended surface).

Five dedup families over the ``documents`` / ``events`` / ``embeddings``
tables, each designed for 100 TB first and checked for correctness at
small SF against a DuckDB oracle:

- **exact** — deterministic keep-first via ranking window (never
  ``dropDuplicates`` in pipelines: its survivor choice is
  partition-order dependent), plus corpus-level fingerprint stats.
- **n-gram Jaccard** — candidate pairs share ≥1 distinct n-word
  shingle (equi-join on shingle, NOT a cross join), then exact Jaccard.
- **MinHash + LSH** — per-doc signature in ONE aggregation (collect the
  distinct shingle hashes, then a vectorized numpy min-matrix kernel —
  no per-hash shuffle; see ``_sig_matrix``), banded into LSH keys built
  inside the same Arrow batch, candidate pairs from an equi-join on
  (band, key), then exact-Jaccard verify.
- **SimHash** — 32-bit signature from per-bit weight sums (one groupBy,
  32 map-side-combined sums), candidates from 8-bit band equality
  (pigeonhole: hamming ≤ 3 over 4 bands ⇒ ≥1 band equal, so banding is
  lossless for the threshold), verified with ``bit_count(xor)``.
- **embedding cosine** — label-blocked near-dup pairs (blocking key
  keeps the join quadratic only within blocks; the unblocked scale path
  is the LSH-bucketed ANN in ``similarity.py``).

Portability: sketch hashes use the md5-derived 48-bit portable hash
(``functions/hashing.py``) so signatures are bit-identical in the DuckDB
oracle. Pass ``hash_profile="fast"`` for xxhash64 at production scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scholar_stream_spark.functions.hashing import (
    MINHASH_BANDS,
    MINHASH_PARAMS,
    MINHASH_PRIME,
    MINHASH_ROWS_PER_BAND,
    SIMHASH_BITS,
    hex48_spark_sql,
)
from scholar_stream_spark.functions.text import normalize_text, word_shingles
from scholar_stream_spark.plans import hybrid
from scholar_stream_spark.plans.hybrid import driver_rows_df
from scholar_stream_spark.plans.partitioning import scale_out

SHINGLE_N = 5
JACCARD_THRESHOLD = 0.8
SIMHASH_HAMMING_MAX = 3
SIMHASH_BAND_BITS = 8
EMBED_COS_THRESHOLD = 0.35

#: Hot-shingle document-frequency cap applied BY DEFAULT in the scale
#: profile (``hash_profile="fast"``): a shingle appearing in d documents
#: contributes d(d-1)/2 candidate pairs, so one boilerplate phrase shared
#: by 1% of a 100 TB corpus makes candidate generation quadratic. Shingles
#: above the cap carry ~zero idf signal (idf ≈ log(N/d) ≈ 0), so dropping
#: them loses no useful near-dup evidence. The portable/oracle profile
#: keeps the cap OFF so the DuckDB oracle mirrors the uncapped pipeline.
MAX_SHINGLE_DOC_FREQ = 1024


def _resolve_doc_freq_cap(max_doc_freq, scale_profile: bool):
    """``"auto"`` → the scale default in the fast profile, off in the
    portable/oracle profile; any explicit int/None wins."""
    if max_doc_freq == "auto":
        return MAX_SHINGLE_DOC_FREQ if scale_profile else None
    return max_doc_freq


def _drop_hot_shingles(sh: DataFrame, max_doc_freq: int) -> DataFrame:
    """Anti-join out shingles whose document frequency exceeds the cap.

    The hot set is tiny by construction (only ultra-frequent shingles
    qualify), so AQE broadcasts it; the shingle table is never shuffled
    for the filter itself beyond the df aggregation."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def _shingle_hash(hash_profile: str) -> F.Column:
    """Integer hash of the ``shingle`` column, in ``[0, MINHASH_PRIME)``.

    ``portable`` — md5-derived 48-bit hash, bit-identical in DuckDB
    (the oracle-checked default). ``fast`` — single codegen'd
    ``xxhash64`` call, ~5× cheaper, for pure-Spark production runs.
    """
    if hash_profile == "fast":
        return F.expr(f"pmod(xxhash64(shingle), {MINHASH_PRIME})")
    if hash_profile != "portable":
        raise ValueError(f"unknown hash_profile: {hash_profile!r}")
    return F.expr(hex48_spark_sql("shingle")).cast("long")


def first_event_per_key(events: DataFrame) -> DataFrame:
    """Exact dedup, deterministic survivor: earliest event per
    (user_id, event_type), ties broken by event_id."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


def exact_dedup_stats(documents: DataFrame) -> DataFrame:
    """Corpus-level exact-dup accounting by content hash (hash-groupBy
    dedup: the count(DISTINCT md5) plans as a two-stage partial agg)."""
    return documents.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct(F.md5("text"))).alias("n_dupes"),
    )


def cross_source_overlap(documents: DataFrame) -> DataFrame:
    """Exact-content overlap matrix between sources — for every
    unordered source pair, how many distinct normalized fingerprints
    appear in BOTH, and the Jaccard of the two fingerprint sets. This
    is the provenance companion to ``neardup_source_matrix`` (near-dup
    pairs): exact cross-source overlap means one crawl mirrors
    another — the upsampling-risk / licensing-audit table.

    Fingerprint = md5 of the whitespace-collapsed lowercased text (the
    repo's one normalization, shared with the curate pipeline and the
    oracle). Scale shape: ONE text scan → distinct (source, fp) (one
    map-side-combined exchange); per-fp source SETS via sorted
    ``collect_set`` keyed on fp (second exchange — the set is ≤
    |sources| BY CONSTRUCTION); pairs explode from the tiny array with
    the ``session_type_lift`` nested ``transform`` (a<b structural —
    no self-join on a corpus-sized table); per-source distinct counts
    broadcast into the ≤|sources|²-row grid built from the sources
    cross join, so ZERO-overlap pairs keep their row. Jaccard is one
    IEEE division of exact integers.

    Output: (source_a, source_b, n_a, n_b, n_common, jaccard),
    source_a < source_b.
    """
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    sf = (
        scale_out(documents)
        .select("source", fp.alias("fp"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds pair mining AND side counts
    )
    per_src = sf.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct")
    )
    # pair grid from ONE sorted source array (the same nested-transform
    # idiom as the per-fp pair mining) — a sources×sources crossJoin
    # would plan as a CartesianProduct, which the fleet plan audit bans
    grid = (
        per_src.agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (a, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "b -> struct(a AS source_a, b AS source_b))))"
                )
            ).alias("p")
        )
        .select("p.source_a", "p.source_b")
    )
    pairs = (
        sf.groupBy("fp")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (a, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "b -> struct(a AS source_a, b AS source_b))))"
                )
            ).alias("p")
        )
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    na = per_src.select(
        F.col("source").alias("source_a"), F.col("n_distinct").alias("n_a")
    )
    nb = per_src.select(
        F.col("source").alias("source_b"), F.col("n_distinct").alias("n_b")
    )
    return (
        grid.join(F.broadcast(pairs), ["source_a", "source_b"], "left")
        .join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("n_common"), F.lit(0).cast("long")).alias(
                "n_common"
            ),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                / (
                    F.col("n_a") + F.col("n_b")
                    - F.coalesce(F.col("n_common"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def dedup_cluster_sizes(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Cluster-size histogram over the near-dup graph — the dedup
    BUDGET table: how many clusters of each size exist, how many
    documents they hold, and what fraction of the corpus each size
    class is (size 2 = simple pairs; a heavy tail of big clusters
    means boilerplate/mirrors and a large survivor saving).
    Singletons (documents in no near-dup pair) appear as the
    ``cluster_size = 1`` row, so the histogram partitions the WHOLE
    corpus: ``sum(n_docs) = |documents|`` by construction.

    Scale shape: the shared ``neardup_clusters`` pipeline does the
    heavy lifting (pair mining + `hybrid_components`); this rollup
    touches only the duplicate-population-sized cluster table —
    distinct (cluster_id, cluster_size) then a map-side-combined
    groupBy to ≤ max-size rows; the singleton row is ONE narrow corpus count minus the clustered
    count. `doc_frac` is one IEEE division of exact integers.

    Output: (cluster_size, n_clusters, n_docs, doc_frac), size desc.
    """
    clusters = neardup_clusters(documents, n=n, threshold=threshold)
    hist = (
        clusters.select("cluster_id", "cluster_size")
        .distinct()
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
        # feeds BOTH the histogram rows and the clustered-total for the
        # singleton row — pin once (it's a ≤max-size-row table)
        .localCheckpoint(eager=False)
    )
    total_df = documents.agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    clustered_df = hist.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_cl")
    )
    singles = (
        total_df.crossJoin(clustered_df)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n_total") - F.col("n_cl")).alias("n_clusters"),
            (F.col("n_total") - F.col("n_cl")).alias("n_docs"),
        )
    )
    return (
        hist.unionByName(singles)
        .filter(F.col("n_clusters") > 0)
        .crossJoin(F.broadcast(total_df))
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("doc_frac"),
        )
        .orderBy(F.desc("cluster_size"))
    )


def distinct_shingles(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) with per-doc distinct n-word shingles.

    ``scale_out`` first: shingling + downstream sketch hashing are the
    expensive narrow stages, and they inherit the scan's parallelism.
    """
    documents = scale_out(documents)
    return documents.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), n))).alias("shingle"),
    )


def _shingle_sizes(sh: DataFrame) -> DataFrame:
    """Per-doc distinct-shingle counts from the exploded shingle table.

    Deliberately an aggregate over ``sh`` rather than a narrow
    ``size(array_distinct(...))`` projection over the documents scan:
    the sizes table is joined TWICE (d1 and d2 side), and two uses of
    the same aggregate share one ReusedExchange — one shingling pass —
    while two narrow projections would each re-shingle the corpus with
    no exchange to reuse (measured ~1.7× slower end-to-end).
    """
    return sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))


def _shingle_doc_pairs(cand_sh: DataFrame) -> DataFrame:
    """(d1, d2) per shared shingle (d1 < d2), one row per (shingle,
    pair) — the shared generation kernel for `_candidate_pairs` /
    `_pair_intersections`. ONE exchange (groupBy shingle) + a streamed
    two-step explode replaces the shingle self-join's exchange + join
    (r17 opt, §2.4 — measured 1.5× on the intersection pass, value-
    identical): each doc list explodes to (d1, ds) rows and the second
    explode filters ds to partners above d1, so per-row state stays
    O(d) — the same d(d-1)/2 output rows the equi-join streamed, never
    a d²-sized in-memory pair array. A hot shingle's group state is
    O(d) doc ids (vs the join's O(1) streaming) — bounded by
    ``max_doc_freq`` on the capped/scale path, and the uncapped path
    is quadratic in d downstream either way (why the cap exists)."""
    grouped = (
        cand_sh.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    return (
        grouped.select(F.explode("ds").alias("d1"), "ds")
        .select(
            "d1",
            F.explode(F.filter("ds", lambda x: x > F.col("d1"))).alias(
                "d2"
            ),
        )
    )


def _candidate_pairs(cand_sh: DataFrame) -> DataFrame:
    """Distinct (d1, d2) pairs sharing ≥1 shingle (d1 < d2) from the
    grouped shingle table — never a cross join. The ONE candidate rule
    every exact-shingle pair op (Jaccard, containment) derives from."""
    return _shingle_doc_pairs(cand_sh).distinct()


def _cand_intersections(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(d1, d2, n_inter): exact |A∩B| for given candidate pairs,
    recounted over ALL shingles (hot ones included — emitted scores
    stay exact regardless of how candidates were generated)."""
    return (
        cand.join(sh.alias("sa"), F.col("d1") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("d2") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _pair_intersections(
    sh: DataFrame, max_doc_freq: int | None = None
) -> DataFrame:
    """(d1, d2, n_inter) for every shingle-sharing pair. Uncapped, the
    count falls directly out of ONE grouped pair generation (no
    distinct + re-join round trip); capped, candidates come from the
    hot-shingle-filtered table (the quadratic guard) and the count is re-joined over ALL
    shingles so scores stay exact."""
    if max_doc_freq is not None:
        return _cand_intersections(
            _candidate_pairs(_drop_hot_shingles(sh, max_doc_freq)), sh
        )
    return (
        _shingle_doc_pairs(sh)
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _verify_jaccard(
    cand: DataFrame,
    sh: DataFrame,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over candidate pairs: |A∩B| via shingle equi-join
    restricted to the candidates, |A∪B| from per-doc sizes. AQE handles
    the join strategy: candidate pairs are rare (that is what banding is
    for), so the post-shuffle size usually converts these to broadcast
    joins at runtime without forcing the candidate pipeline into a
    blocking broadcast build.
    """
    if sizes is None:
        sizes = _shingle_sizes(sh)
    inter = _cand_intersections(cand, sh)
    jac = (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2")), "d2")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("d1", "d2", F.round("jaccard", 4).alias("jaccard"))


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard ≥ threshold.

    Candidates come from an equi-join on shingle (docs sharing ≥1
    shingle) — never a cross join. ``max_doc_freq`` is the scale guard:
    a shingle appearing in d documents contributes d(d-1)/2 candidate
    rows, so one stop-phrase shared by 1% of a 100 TB corpus makes the
    join quadratic. With the cap set, shingles whose document frequency
    exceeds it are dropped from CANDIDATE GENERATION only — the exact
    Jaccard verify still runs over every shingle, so emitted pairs keep
    their true scores; pairs that *only* share ultra-hot shingles are
    below any useful threshold anyway (a shingle in d docs has
    idf≈log(N/d)≈0 signal). Default off: the oracle SF corpus has no
    hot shingles and the oracle SQL mirrors the uncapped pipeline.

    Uncapped, the intersection size |A∩B| falls directly out of that
    same equi-join (count of shared shingles per pair), so no distinct +
    re-join round trip: one self-join, one groupBy, two size lookups.
    Capped, candidates are distinct pairs from the capped join and the
    verify re-joins over ALL shingles (hot ones included), so scores
    stay exact.

    See `jaccard_prefix_pairs` for the third point in the design
    space: identical output to the UNCAPPED form with candidate
    fan-out bounded by shingle rarity (AllPairs prefix filtering) —
    completeness without the cap's dropped-hot-pair tradeoff.
    """
    sh = distinct_shingles(documents, n)
    sizes = _shingle_sizes(sh)
    if max_doc_freq is not None:
        # drop hot shingles before the quadratic step only; the verify
        # below still scores over ALL shingles
        cand = _candidate_pairs(_drop_hot_shingles(sh, max_doc_freq))
        return _verify_jaccard(cand, sh, threshold, sizes=sizes)
    inter = _pair_intersections(sh)
    jac = (
        inter.join(
            sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1")),
            "d1",
        )
        .join(
            sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2")),
            "d2",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("d1", "d2", F.round("jaccard", 4).alias("jaccard"))


def _grouped_shingle_hashes(
    documents: DataFrame,
    n: int,
    hash_profile: str,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(doc_id, hs array<long>) — ONE shuffle: group each doc's distinct
    shingle hashes. With ``max_doc_freq`` set, hot shingles are dropped
    before hashing, so signatures, band keys, AND the verify arrays all
    measure the non-boilerplate shingle sets."""
    sh = distinct_shingles(documents, n)
    if max_doc_freq is not None:
        sh = _drop_hot_shingles(sh, max_doc_freq)
    hashed = sh.select("doc_id", _shingle_hash(hash_profile).alias("h"))
    return hashed.groupBy("doc_id").agg(F.collect_list("h").alias("hs"))


def _sig_matrix(hs_list) -> "np.ndarray":
    """(n_docs, 32) MinHash signature matrix for a batch of hash arrays.

    One vectorized int64 kernel instead of 32 array ``transform``
    expressions: higher-order functions are interpreted per row (no
    whole-stage codegen), while numpy computes the whole
    (a_j * h + b_j) % P min-matrix per batch — exact same values
    (products < 2^62, no overflow), ~5× cheaper.
    """
    a_vec = np.array([a for a, _ in MINHASH_PARAMS], dtype=np.int64)
    b_vec = np.array([b for _, b in MINHASH_PARAMS], dtype=np.int64)
    out = np.empty((len(hs_list), len(MINHASH_PARAMS)), dtype=np.int64)
    for i, arr in enumerate(hs_list):
        h = np.asarray(arr, dtype=np.int64) % MINHASH_PRIME
        m = (a_vec[:, None] * h[None, :] + b_vec[:, None]) % MINHASH_PRIME
        out[i] = m.min(axis=1)
    return out


def minhash_signatures(
    documents: DataFrame, n: int = SHINGLE_N, hash_profile: str = "portable"
) -> DataFrame:
    """(doc_id, s0..s31) MinHash signatures (see ``_sig_matrix``).

    Reference point for the technique: Broder's MinHash + banding as in
    MMDS ch.3; implementation is one grouped shuffle + an Arrow kernel.
    """
    grouped = _grouped_shingle_hashes(documents, n, hash_profile)

    @F.pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        return pd.Series(list(_sig_matrix(list(hs))))

    sigs = grouped.select("doc_id", _sig(F.col("hs")).alias("sig"))
    return sigs.select(
        "doc_id",
        *[F.col("sig")[j].alias(f"s{j}") for j in range(len(MINHASH_PARAMS))],
    )


def _sig_arrays_from_grouped(grouped: DataFrame) -> DataFrame:
    """(doc_id, sig array<long>) — the 32 MinHash components as ONE
    array column, out of the same Arrow kernel as ``_sig_matrix``."""

    @F.pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        return pd.Series(list(_sig_matrix(list(hs))))

    return grouped.select("doc_id", _sig(F.col("hs")).alias("sig"))


def minhash_estimate_pairs(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    hash_profile: str = "portable",
    max_doc_freq: int | None | str = "auto",
) -> DataFrame:
    """Sketch-accuracy surfacing for MinHash: for every banded candidate
    pair at exact Jaccard ≥ threshold, emit the SIGNATURE-estimated
    Jaccard (fraction of the 32 components that agree — the unbiased
    MinHash estimator, ±1/√32 ≈ 0.18 std) beside the exact score and
    the absolute error. Unlike the HLL/GK sketches this estimator is
    pure deterministic hash arithmetic, so the whole row — estimate
    included — is DuckDB-oracle hash-checkable, making it the one
    sketch whose error column itself has a green correctness row.

    Plan shape: identical to ``minhash_lsh_pairs`` (one grouped-hash
    exchange feeding bands, signatures, and the verify) plus a
    zip_with/filter array expression per surviving pair.
    """
    cap = _resolve_doc_freq_cap(max_doc_freq, hash_profile == "fast")
    grouped = _grouped_shingle_hashes(documents, n, hash_profile, cap)
    bands = _band_keys_from_grouped(grouped)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    exact = _verify_jaccard_hashed(cand, grouped, threshold)
    sigs = _sig_arrays_from_grouped(grouped)
    n_sig = len(MINHASH_PARAMS)
    # CAST: a bare 32.0 literal parses as DECIMAL in Spark SQL and the
    # whole estimate would surface as Decimal objects, not doubles
    est = F.expr(
        f"size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b))"
        f" / CAST({float(n_sig)} AS DOUBLE)"
    )
    return (
        exact.join(
            sigs.select(F.col("doc_id").alias("d1"), F.col("sig").alias("sa")),
            "d1",
        )
        .join(
            sigs.select(F.col("doc_id").alias("d2"), F.col("sig").alias("sb")),
            "d2",
        )
        .select(
            "d1",
            "d2",
            "jaccard",
            F.round(est, 4).alias("est_jaccard"),
            F.round(F.abs(est - F.col("jaccard")), 4).alias("abs_err"),
        )
    )


def _band_keys_from_grouped(grouped: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH postings, band keys built INSIDE the
    signature kernel — the '-'-joined 4-row band key strings come out of
    the same Arrow batch that computed the signatures, so the plan has
    no 32-column unpack + concat_ws tree to analyze/codegen and no extra
    projection stage. Key strings are identical to joining the
    ``minhash_signatures`` columns (pinned by the oracle)."""

    @F.pandas_udf("array<string>")
    def _keys(hs: pd.Series) -> pd.Series:
        sig = _sig_matrix(list(hs))
        keys = []
        for row in sig:
            keys.append(
                [
                    "-".join(
                        str(v)
                        for v in row[
                            b * MINHASH_ROWS_PER_BAND : (b + 1)
                            * MINHASH_ROWS_PER_BAND
                        ]
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        return pd.Series(keys)

    return grouped.select(
        "doc_id", F.posexplode(_keys(F.col("hs"))).alias("band", "key")
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    hash_profile: str = "portable",
    max_doc_freq: int | None | str = "auto",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified.

    Banding: 8 bands × 4 rows → P(candidate | J=0.8) ≈ 0.985. Candidate
    generation is an equi-join on (band, key) — never a cross join — so
    cost scales with bucket occupancy, not corpus².

    Every stage feeds off ONE ``(doc_id, hs)`` grouped-hash exchange:
    band keys come out of the signature kernel over it, and the verify
    joins the (rare) candidates back against the same arrays, scoring
    Jaccard with ``array_intersect`` on the per-doc distinct-shingle
    hash sets. Identical exchange subtree → Spark's ReuseExchange runs
    the scan→shingle→hash lineage once instead of once per consumer —
    at 100 TB that is the difference between shingling the corpus one
    time and three times. Verify-on-hashes is exact up to 48-bit hash
    collisions (P ≈ |pairs|·|shingles|²/2^49; the oracle crosschecks
    string-level Jaccard and stays green).

    ``max_doc_freq="auto"`` applies ``MAX_SHINGLE_DOC_FREQ`` in the
    scale profile (``hash_profile="fast"``) and no cap in the portable
    profile (oracle parity); pass an int or ``None`` to override. In
    the capped path signatures AND verification run over the
    non-boilerplate shingle sets — Jaccard over near-zero-idf
    boilerplate is noise, not near-dup signal.
    """
    cap = _resolve_doc_freq_cap(max_doc_freq, hash_profile == "fast")
    grouped = _grouped_shingle_hashes(documents, n, hash_profile, cap)
    bands = _band_keys_from_grouped(grouped)

    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    return _verify_jaccard_hashed(cand, grouped, threshold)


def _verify_jaccard_hashed(
    cand: DataFrame, grouped: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate pairs from per-doc hash arrays.

    The candidate set is rare by construction (that's what banding is
    for), so both lookups broadcast it against the grouped-hash table;
    the intersection is a per-row ``array_intersect`` over ~hundreds of
    int64s — no shingle-level shuffle at all.
    """
    g1 = grouped.select(F.col("doc_id").alias("d1"), F.col("hs").alias("hs1"))
    g2 = grouped.select(F.col("doc_id").alias("d2"), F.col("hs").alias("hs2"))
    jac = (
        g1.join(F.broadcast(cand), "d1")
        .join(g2, "d2")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("hs1", "hs2")).alias("n_inter"),
            F.size("hs1").alias("n1"),
            F.size("hs2").alias("n2"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("d1", "d2", F.round("jaccard", 4).alias("jaccard"))


def incremental_neardup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    hash_profile: str = "portable",
    max_doc_freq: int | None | str = "auto",
) -> DataFrame:
    """Near-dup check of a NEW ingest batch against the existing corpus
    via the MinHash band index — the LSH analog of ``incremental_dedup``
    (which catches only exact-content matches). How near-dup ingestion
    actually runs at corpus scale: the 100 TB corpus is banded ONCE and
    its (band, key) postings + per-doc hash arrays persist as the index;
    each batch checks only itself against that index, never re-shingling
    corpus text.

    The corpus side is computed here from the corpus table (so the
    DuckDB oracle can reproduce it) but is NEVER shuffled on pair keys:
    the batch's band keys (small — one ingest) broadcast against the
    corpus band postings to find candidate pairs, and the verify
    broadcasts the candidate set + batch hash arrays against the corpus
    arrays. All exchanges are batch-sized or band-build-sized.

    In the scale profile each side drops its own hot shingles
    (boilerplate hot in the corpus is hot in the batch too); the oracle
    profile is uncapped.

    Output: (new_id, corpus_id, jaccard) for pairs ≥ threshold — the new
    docs to reject (or link to their corpus near-duplicate).
    """
    cap = _resolve_doc_freq_cap(max_doc_freq, hash_profile == "fast")
    corpus_grouped = _grouped_shingle_hashes(corpus_docs, n, hash_profile, cap)
    corpus_bands = _band_keys_from_grouped(corpus_grouped)
    return _incremental_neardup_from(
        new_docs, corpus_grouped, corpus_bands, n, threshold,
        hash_profile, cap,
    )


def write_neardup_index(
    corpus_docs: DataFrame,
    path: str,
    n: int = SHINGLE_N,
    hash_profile: str = "portable",
    max_doc_freq: int | None | str = "auto",
) -> None:
    """Persist the corpus side of ``incremental_neardup`` — per-doc
    shingle hash arrays and (band, key) LSH postings — so batch ingest
    probes never re-shingle corpus text. The hashes table is written
    first and the postings derive from its READ-back, so the corpus is
    shingled exactly once ever; ``incremental_neardup_indexed`` then
    runs the identical candidate/verify pipeline off the two tables
    (value-equality pinned against the recompute path)."""
    cap = _resolve_doc_freq_cap(max_doc_freq, hash_profile == "fast")
    grouped = _grouped_shingle_hashes(corpus_docs, n, hash_profile, cap)
    grouped.write.mode("overwrite").parquet(f"{path}/hashes")
    stored = corpus_docs.sparkSession.read.parquet(f"{path}/hashes")
    _band_keys_from_grouped(stored).write.mode("overwrite").parquet(
        f"{path}/bands"
    )
    write_neardup_index_params(
        corpus_docs.sparkSession, path, n, hash_profile, cap
    )


def write_neardup_index_params(
    spark, path: str, n: int, hash_profile: str, cap: int | None
) -> None:
    """Persist the hash-space parameters the index was built with, so a
    probe in a DIFFERENT space (e.g. xxhash64 vs md5) fails loudly
    instead of silently matching nothing and admitting every dup."""
    driver_rows_df(spark,
        [(int(n), hash_profile, -1 if cap is None else int(cap))],
        "n int, hash_profile string, max_doc_freq long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def check_neardup_index_params(
    spark, path: str, n: int, hash_profile: str, cap: int | None
) -> None:
    """Raise when the probe's parameters disagree with the persisted
    index's — band keys and hash arrays from different (n,
    hash_profile, cap) spaces never match, which would silently return
    zero near-dup hits."""
    stored = spark.read.parquet(f"{path}/params").collect()[0]
    want = (int(n), hash_profile, -1 if cap is None else int(cap))
    got = (stored["n"], stored["hash_profile"], stored["max_doc_freq"])
    if want != got:
        raise ValueError(
            f"near-dup index at {path!r} was built with (n, hash_profile,"
            f" max_doc_freq)={got}; probe requested {want} — rebuild the"
            " index or match its parameters"
        )


def compact_neardup_index(
    spark,
    index_path: str,
    out_path: str,
    n_files: int = 8,
    exclude_doc_ids=None,
) -> None:
    """Rewrite a streaming-built near-dup index (``start_neardup_ingest``
    lands one ``batch=<id>`` directory pair per micro-batch) into a
    compacted serving layout. At scale the streaming layout accretes
    thousands of tiny part files — the classic small-file problem: every
    probe pays file-listing + footer reads proportional to BATCH COUNT,
    not data size. Compaction folds all batches into ``n_files`` files
    per table, sorted within partitions (hashes by doc_id, bands by
    (band, key)) for run-length-friendly compression, and copies the
    hash-space params sidecar so probes stay parameter-checked. The
    output is probe-identical to the input by construction (same rows,
    same tables; with ``exclude_doc_ids`` set, minus exactly those
    documents — the deletion path reuses this rewrite so the serving
    layout discipline lives in one place) and is also what
    ``write_neardup_index`` produces —
    periodic compaction keeps a long-lived streaming index serving like
    a batch-built one. Compact to a NEW path and swap atomically;
    writing over a live index a probe is reading is the caller's race.
    """
    excl = (
        driver_rows_df(spark,
            [(int(i),) for i in exclude_doc_ids], "doc_id long"
        )
        if exclude_doc_ids is not None
        else None
    )
    for sub, sort_cols in (("hashes", ["doc_id"]), ("bands", ["band", "key"])):
        df = spark.read.option("basePath", f"{index_path}/{sub}").parquet(
            f"{index_path}/{sub}"
        )
        if "batch" in df.columns:
            df = df.drop("batch")
        if excl is not None:
            df = df.join(F.broadcast(excl), "doc_id", "left_anti")
        (
            df.repartition(n_files)
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .parquet(f"{out_path}/{sub}")
        )
    spark.read.parquet(f"{index_path}/params").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out_path}/params")


def lsh_index_stats(
    documents: DataFrame,
    n: int = SHINGLE_N,
    hash_profile: str = "portable",
    max_doc_freq: int | None | str = "auto",
) -> DataFrame:
    """LSH band-posting diagnostics: per band, the posting count,
    distinct key count, hottest bucket size, and the candidate-pair
    upper bound Σ c·(c−1)/2 — the health table an operator reads
    BEFORE a banded dedup run to spot degenerate buckets (boilerplate
    shingle floods that turn one bucket into an O(c²) pair bomb; the
    ``max_doc_freq`` cap is the treatment, this is the diagnosis —
    ``key_skew_profile``'s role, for the LSH index).

    Scale shape: the postings stream feeds ONE map-side-combined
    (band, key) count whose result is bucket-sized, then a |bands|-row
    rollup — nothing pairwise is ever materialized, which is the point:
    the stats PREDICT the pair-join cost without paying it.

    Output: (band, n_postings, n_keys, max_bucket,
    est_candidate_pairs), one row per band, band-ordered.
    """
    cap = _resolve_doc_freq_cap(max_doc_freq, hash_profile == "fast")
    bands = _band_keys_from_grouped(
        _grouped_shingle_hashes(documents, n, hash_profile, cap)
    )
    buckets = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.sum("c").cast("long").alias("n_postings"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_bucket"),
            # c·(c−1) is always even, so integer-halving the sum is
            # exact; `div` keeps it in BIGINT end-to-end — `/` would
            # round-trip through DOUBLE and drop low bits past 2^53,
            # exactly the degenerate-hot-bucket regime this diagnostic
            # exists to detect
            F.expr("SUM(c * (c - 1)) div 2").alias(
                "est_candidate_pairs"
            ),
        )
        .select(
            F.col("band").cast("int").alias("band"),
            "n_postings",
            "n_keys",
            "max_bucket",
            "est_candidate_pairs",
        )
        .orderBy("band")
    )


def incremental_neardup_indexed(
    new_docs: DataFrame,
    path: str,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    hash_profile: str = "portable",
    max_doc_freq: int | None | str = "auto",
) -> DataFrame:
    """``incremental_neardup`` against a PERSISTED index
    (``write_neardup_index``): the corpus side is two parquet reads —
    no corpus text is scanned, shingled, or hashed on the ingest path.
    This is the shape the incremental docstring promises at 100 TB;
    the recompute variant exists for the oracle (DuckDB reproduces the
    corpus side from the table)."""
    spark = new_docs.sparkSession
    cap = _resolve_doc_freq_cap(max_doc_freq, hash_profile == "fast")
    check_neardup_index_params(spark, path, n, hash_profile, cap)
    corpus_grouped = spark.read.parquet(f"{path}/hashes")
    corpus_bands = spark.read.parquet(f"{path}/bands")
    return _incremental_neardup_from(
        new_docs, corpus_grouped, corpus_bands, n, threshold,
        hash_profile, cap,
    )


def _incremental_neardup_from(
    new_docs: DataFrame,
    corpus_grouped: DataFrame,
    corpus_bands: DataFrame,
    n: int,
    threshold: float,
    hash_profile: str,
    cap: int | None,
) -> DataFrame:
    batch_grouped = _grouped_shingle_hashes(new_docs, n, hash_profile, cap)
    batch_bands = _band_keys_from_grouped(batch_grouped)
    return _neardup_probe(
        batch_grouped, batch_bands, corpus_grouped, corpus_bands, threshold
    )


def _neardup_probe(
    batch_grouped: DataFrame,
    batch_bands: DataFrame,
    corpus_grouped: DataFrame,
    corpus_bands: DataFrame,
    threshold: float,
) -> DataFrame:
    """Batch-vs-corpus near-dup pairs from precomputed hash/posting
    tables — the table-level core shared by the recompute, persisted-
    index, and streaming-ingest variants."""
    batch_bands = batch_bands.select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    cand = (
        corpus_bands.join(F.broadcast(batch_bands), ["band", "key"])
        .select("new_id", F.col("doc_id").alias("corpus_id"))
        .distinct()
    )
    g_new = batch_grouped.select(
        F.col("doc_id").alias("new_id"), F.col("hs").alias("hs1")
    )
    g_corpus = corpus_grouped.select(
        F.col("doc_id").alias("corpus_id"), F.col("hs").alias("hs2")
    )
    jac = (
        g_corpus.join(F.broadcast(cand), "corpus_id")
        .join(F.broadcast(g_new), "new_id")
        .select(
            "new_id",
            "corpus_id",
            F.size(F.array_intersect("hs1", "hs2")).alias("n_inter"),
            F.size("hs1").alias("n1"),
            F.size("hs2").alias("n2"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select(
        "new_id", "corpus_id", F.round("jaccard", 4).alias("jaccard")
    )


#: Packed-lane layout for the SimHash per-bit counters: 3 lanes of 20
#: bits per 64-bit accumulator (see simhash_signatures).
_SIMHASH_LANE_BITS = 20
_SIMHASH_LANES_PER_WORD = 3


def _simhash_width(hash_profile: str) -> tuple[int, int]:
    """(signature bits, band bits) per profile.

    ``portable`` stays at 32/8 — the md5-derived hash feeds 32 clean
    bits and the DuckDB oracle mirrors it bit-for-bit. ``fast`` widens
    to 64/16: with 8-bit bands a band has only 256 buckets, so candidate
    generation is (N/256)² per band — quadratic long before 100 TB.
    16-bit bands give 65 536 buckets (and the full xxhash64 feature
    hash feeds all 64 signature bits); 4 bands either way keeps the
    pigeonhole guarantee for hamming ≤ 3.
    """
    if hash_profile == "fast":
        return 64, 16
    return SIMHASH_BITS, SIMHASH_BAND_BITS


def simhash_signatures(
    documents: DataFrame, n: int = SHINGLE_N, hash_profile: str = "portable"
) -> DataFrame:
    """(doc_id, simhash long) — SimHash over shingle features (32-bit
    portable / 64-bit fast, see ``_simhash_width``).

    Per-bit weight sums in ONE groupBy (bits sums, map-side combined);
    bit b is set when the +1/-1 weight sum is ≥ 0. The signature is
    assembled with shiftleft+OR (pure bitwise — bit 63 would overflow
    an arithmetic ``+ 2^63`` under ANSI).
    """
    bits, _ = _simhash_width(hash_profile)
    sh = distinct_shingles(documents, n)
    if hash_profile == "fast" and bits == 64:
        feature = F.expr("xxhash64(shingle)")  # all 64 bits are signal
    else:
        feature = _shingle_hash(hash_profile) % F.lit(2**bits)
    hashed = sh.select("doc_id", feature.alias("h"))
    # Per-bit counts packed 3-to-a-word in disjoint 20-bit lanes, so the
    # groupBy carries ceil(bits/3)+1 SUMs instead of bits+1 (~3× less
    # aggregation codegen — this groupBy was the hottest part of the
    # signature pass). Lane arithmetic is exact while every doc has
    # < 2^20 distinct shingles (a ~1M-token document); the max packed
    # sum is then < 2^20 · (2^40 + 2^20 + 1) < 2^61, inside BIGINT.
    # Docs at the bound raise loudly rather than corrupt signatures.
    lane_bits, lanes_per_word = _SIMHASH_LANE_BITS, _SIMHASH_LANES_PER_WORD
    lane_mask = (1 << lane_bits) - 1
    n_words = -(-bits // lanes_per_word)
    word_exprs = []
    for w in range(n_words):
        parts = [
            f"shiftleft(shiftright(h, {b}) & 1, {lane_bits * lane})"
            for lane, b in (
                (lane, w * lanes_per_word + lane)
                for lane in range(lanes_per_word)
            )
            if b < bits
        ]
        word_exprs.append(" | ".join(parts))
    sums = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_feat"),
        *[F.sum(F.expr(e)).alias(f"w{w}") for w, e in enumerate(word_exprs)],
    )
    simhash = None
    for b in range(bits):
        w, lane = divmod(b, lanes_per_word)
        cb = F.expr(f"shiftright(w{w}, {lane_bits * lane}) & {lane_mask}")
        bit = F.when(
            (F.lit(2) * cb - F.col("n_feat")) >= 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        placed = F.shiftleft(bit, b)
        simhash = placed if simhash is None else simhash.bitwiseOR(placed)
    overflow_guard = (
        F.when(
            F.col("n_feat") >= F.lit(1 << lane_bits),
            F.raise_error(
                "simhash_signatures: document exceeds 2^20 distinct "
                "shingles; packed lane counters would overflow"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return sums.select(
        "doc_id", simhash.bitwiseOR(overflow_guard).alias("simhash")
    )


def simhash_pairs(
    documents: DataFrame,
    n: int = SHINGLE_N,
    hamming_max: int = SIMHASH_HAMMING_MAX,
    hash_profile: str = "portable",
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ hamming_max.

    Candidates share ≥1 of four bands; by pigeonhole any pair within
    hamming 3 shares a clean band, so banding loses nothing while
    avoiding the corpus² comparison. Band width is profile-dependent
    (``_simhash_width``): 8-bit portable for the oracle, 16-bit fast
    for scale (bucket occupancy N/65 536 per band vs N/256).
    """
    sigs = simhash_signatures(documents, n, hash_profile)
    # the band self-join consumes sigs twice and Catalyst does not plan
    # a ReusedExchange across the aliased sides (the a/b band shuffles
    # differ by the doc_id inequality), so without this the WHOLE
    # shingle→hash→signature pipeline executes twice. The signature
    # table is N×16-byte rows — cheap to pin even at corpus scale.
    sigs = sigs.localCheckpoint(eager=False)
    bits, band_bits = _simhash_width(hash_profile)
    n_bands = bits // band_bits
    assert n_bands > hamming_max, (
        "pigeonhole requires more bands than hamming_max"
    )
    band_mask = 2**band_bits - 1
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.expr(
                f"shiftright(simhash, {band * band_bits}) & {band_mask}"
            ).alias("key"),
        )
        for band in range(n_bands)
    ]
    bands = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "simhash", "bk.band", "bk.key")

    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= hamming_max)


#: Exact-substring dedup window (tokens) and the occurrence count that
#: marks a window as duplicated (2 = any repeat, incl. within one doc —
#: the ExactSubstr policy of Lee et al., "Deduplicating Training Data
#: Makes Language Models Better").
SUBSTR_WINDOW = 20
SUBSTR_MIN_COUNT = 2

#: Tokenizer pattern for the ExactSubstr ops, whitespace spelled
#: explicitly (the _ASCII_WS idiom): Java \s includes \x0b, RE2's does
#: not, and span OFFSETS must agree token-for-token with the oracle.
SUBSTR_WS_RE = r"[ \t\n\x0b\f\r]+"


def duplicate_spans(
    documents: DataFrame,
    window: int = SUBSTR_WINDOW,
    min_count: int = SUBSTR_MIN_COUNT,
    keep: str = "all",
) -> DataFrame:
    """Exact duplicated substrings: maximal token spans covered by
    ``window``-token runs that appear ≥ ``min_count`` times anywhere in
    the corpus (ExactSubstr, Lee et al. — catches verbatim boilerplate
    that document-level near-dup misses because the surrounding text
    differs).

    Spark shape: one narrow generate (every window start → md5 of the
    window text), ONE hash-keyed groupBy for global occurrence counts
    (map-side combined), a semi-join back, then per-doc gaps-and-islands
    windows merge overlapping/adjacent hits into maximal spans — the
    heavy stages key on the window hash and doc_id, never on pairs, so
    cost is corpus-linear, not corpus².

    Output: (doc_id, span_start, span_end, span_tokens) with token
    offsets [start, end) against the doc's whitespace tokens.

    ``keep="first"`` exempts one survivor occurrence per duplicated
    window (corpus-lowest (doc_id, start)) — see ``_spans_from_tokens``.
    """
    toks = scale_out(documents).select(
        "doc_id", F.split(F.trim(F.col("text")), SUBSTR_WS_RE).alias("ws")
    )
    return _spans_from_tokens(toks, window, min_count, keep)


def _spans_from_tokens(
    toks: DataFrame, window: int, min_count: int, keep: str = "all"
) -> DataFrame:
    """``duplicate_spans`` body over a pre-tokenized (doc_id, ws)
    projection — factored out so ``remove_duplicate_spans`` can feed the
    SAME tokenized scan to the span pipeline, the token explode, and the
    totals instead of re-deriving it three times.

    ``keep="all"`` marks EVERY occurrence of a duplicated window (the
    engine's historical contract); ``keep="first"`` exempts one survivor
    per window hash — the corpus-wide lowest (doc_id, start), a total
    deterministic order — so exactly one copy of each duplicated run
    stays in the corpus (the Lee et al. ExactSubstr removal policy).
    The survivor rides the SAME count aggregate as ``min`` of a
    (doc_id, start) struct, so ``keep="first"`` adds no extra pass.
    """
    if keep not in ("all", "first"):
        raise ValueError(f"unknown keep: {keep!r}")
    base = toks.filter(F.size("ws") >= window)
    wins = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("ws") - window)).alias("start"),
        "ws",
    ).select(
        "doc_id",
        "start",
        F.md5(
            F.concat_ws(" ", F.expr(f"slice(ws, start + 1, {window})"))
        ).alias("h"),
    )
    dup = (
        wins.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("doc_id", "start")).alias("surv"),
        )
        .filter(F.col("c") >= min_count)
        .select("h", "surv")
    )
    hits = wins.join(dup, "h")
    if keep == "first":
        hits = hits.filter(
            ~(
                (F.col("doc_id") == F.col("surv.doc_id"))
                & (F.col("start") == F.col("surv.start"))
            )
        )
    hits = hits.select("doc_id", "start")
    # gaps-and-islands: windows all span [start, start+window); a hit
    # starting past every previous hit's end opens a new island
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = hits.withColumn(
        "new_i",
        F.when(
            F.col("start")
            > F.coalesce(
                F.max(F.col("start") + window).over(w_prev), F.lit(-1)
            ),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_i").over(w_run))
    return (
        grp.groupBy("doc_id", "island")
        .agg(
            F.min("start").cast("long").alias("span_start"),
            (F.max("start") + window).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def remove_duplicate_spans(
    documents: DataFrame,
    window: int = SUBSTR_WINDOW,
    min_count: int = SUBSTR_MIN_COUNT,
    keep: str = "all",
) -> DataFrame:
    """Cut the ``duplicate_spans`` token ranges out of each document —
    the removal half of ExactSubstr dedup. Every input doc comes back
    (a fully-duplicated doc with empty ``clean_text``); tokens keep
    their original order.

    ``keep`` picks the removal policy: ``"all"`` (default, the engine's
    historical oracle-matched contract) cuts EVERY occurrence of a
    duplicated window; ``"first"`` keeps one survivor occurrence per
    window hash — the corpus-wide lowest (doc_id, start) — so exactly
    one copy of each duplicated run remains (Lee et al.'s ExactSubstr
    policy: deduplicate, don't delete the content outright). Window
    granularity caveat: a survivor window's tokens can still be cut
    when an ADJACENT non-survivor window overlaps them — inherent to
    window-level span marking, matching the paper's own suffix-window
    behavior.

    Plan shape (round-6 trim): the corpus is tokenized ONCE and that
    projection feeds both consumers — the span pipeline and the cut
    itself. The merged span set is folded to ONE array row per doc and
    localCheckpointed (the wins pipeline runs once per action); the cut
    is a pure JVM higher-order ``filter`` over the in-row token array
    (token index ∉ any span). The token table is never exploded —
    per-doc cost is tokens × spans-per-doc.

    The span rows come back onto the tokenized docs by a plain
    ``doc_id`` equi-join with no hint, so AQE picks the strategy from
    runtime sizes: a broadcast while the span set is small, a shuffle
    when it is not. The span count grows with the number of documents
    containing duplicated windows — on templated web corpora a
    double-digit percentage (the ExactSubstr paper's motivation), i.e.
    multi-GB..TB at 100 TB, where a forced broadcast (which bypasses
    autoBroadcastJoinThreshold) would OOM. A forced-broadcast variant
    measured no faster at sf0.01 or sf0.1, so it is gone.
    """
    toks = scale_out(documents).select(
        "doc_id", F.split(F.trim(F.col("text")), SUBSTR_WS_RE).alias("ws")
    )
    spans = _spans_from_tokens(
        toks, window, min_count, keep
    ).localCheckpoint(eager=False)
    doc_spans = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp")
    )
    joined = toks.join(doc_spans, "doc_id", "left")
    kept_arr = F.when(F.col("sp").isNull(), F.col("ws")).otherwise(
        F.filter(
            F.col("ws"),
            lambda _t, i: ~F.exists(
                F.col("sp"),
                lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
            ),
        )
    )
    # two-step projection: "kept" is referenced three times below, and
    # CollapseProject keeps multiply-referenced non-trivial expressions
    # in their own project, so the filter runs once per row, not thrice
    staged = joined.select("doc_id", "ws", kept_arr.alias("kept"))
    return staged.select(
        "doc_id",
        F.concat_ws(" ", "kept").alias("clean_text"),
        F.size("kept").cast("long").alias("n_kept_tokens"),
        (F.size("ws") - F.size("kept")).cast("long").alias(
            "n_removed_tokens"
        ),
    )


#: Paragraph-level exact dedup: the separator documents are split on and
#: the global occurrence count that marks a paragraph as boilerplate
#: (2 = any repeat anywhere in the corpus — the Dolma/C4 paragraph
#: policy; CCNet dedups on the same unit).
PARA_SEP = "\n\n"
PARA_MIN_COUNT = 2


#: Winnowing parameters (Schleimer et al., MOSS): k-gram size shared
#: with the shingle family, and the window over consecutive k-gram
#: hashes from which one fingerprint is guaranteed to be selected.
WINNOW_K = SHINGLE_N
WINNOW_WINDOW = 4


def winnow_fingerprints(
    documents: DataFrame,
    k: int = WINNOW_K,
    window: int = WINNOW_WINDOW,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    MOSS): hash every word k-gram, slide a ``window`` over consecutive
    hashes, keep the MINIMUM of each window, dedup — the
    guarantee-bearing alternative to plain 0 mod p fingerprint
    sampling: any shared run of ≥ window+k−1 tokens between two
    documents is GUARANTEED to share at least one fingerprint, while
    selection density stays ~2/(window+1).

    Spark shape: the k-gram hashes posexplode to (doc, pos, h) rows
    and the window minima come from ONE doc-keyed sliding ``min``
    window (ROWS frame of ``window``) — each hash is computed exactly
    once and the only exchange is the doc-keyed window shuffle.

    The obvious "stay in-row" alternative (a ``transform`` of
    ``array_min(slice(hs, j, w))`` over a projected ``hs`` array) is a
    measured trap: expressions referenced inside higher-order lambdas
    get INLINED by CollapseProject and re-evaluated per lambda
    element, so the whole md5 k-gram array is rebuilt once per window
    — O(n²) hashing that turned a 2 s corpus pass into 200 s. The
    window form pays one shuffle to hash each k-gram once.

    Output: (doc_id, fingerprint) — the doc's distinct selected
    hashes; docs shorter than k+window−1 tokens select their global
    minimum k-gram (the standard short-doc degenerate case).
    """
    toks = scale_out(documents).select(
        "doc_id", F.split(F.trim(F.col("text")), SUBSTR_WS_RE).alias("ws")
    ).filter(F.size("ws") >= k)
    kgram = (
        f"transform(sequence(1, size(ws) - {k} + 1),"
        f" i -> {hex48_spark_sql(f'array_join(slice(ws, i, {k}), chr(32))')})"
    )
    rows = toks.select(
        "doc_id", F.posexplode(F.expr(kgram)).alias("pos", "h")
    )
    w_slide = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    )
    w_doc = Window.partitionBy("doc_id")
    return (
        rows.select(
            "doc_id",
            "pos",
            F.min("h").over(w_slide).alias("m"),
            F.count(F.lit(1)).over(w_doc).alias("n"),
        )
        .filter(F.col("pos") <= F.greatest(F.col("n") - window, F.lit(0)))
        .select("doc_id", F.col("m").alias("fingerprint"))
        .distinct()
    )


#: Minimum shared winnowing fingerprints for a candidate pair to be
#: reported (1 = any guaranteed-shared run; higher = longer/multiple
#: shared runs).
WINNOW_MIN_SHARED = 2


def winnow_neardup_pairs(
    documents: DataFrame,
    k: int = WINNOW_K,
    window: int = WINNOW_WINDOW,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Near-dup candidate pairs via winnowing fingerprints — the MOSS
    matching step: docs sharing ≥ ``min_shared`` selected fingerprints,
    with the shared count as the match strength. Complements the
    MinHash-LSH family with a GUARANTEE (any shared run of ≥
    window+k−1 tokens surfaces) instead of a probability, at ~2/(w+1)
    index density — the trade plagiarism/license-compliance pipelines
    usually want.

    Spark shape: fingerprint equi-join (never pairwise text), count
    per pair map-side, threshold. Same hot-key caveat as LSH bucket
    joins: a boilerplate fingerprint shared by f docs fans out f², so
    corpus-scale runs should cap fingerprint document-frequency first
    (the ``_drop_hot_shingles`` treatment — composable by filtering
    the fingerprint table before the self-join).

    Output: (d1, d2, n_shared) with d1 < d2.
    """
    fps = winnow_fingerprints(documents, k, window)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dup_span_coverage(
    documents: DataFrame,
    window: int = SUBSTR_WINDOW,
    min_count: int = SUBSTR_MIN_COUNT,
) -> DataFrame:
    """Corpus-level ExactSubstr coverage card: what fraction of the
    corpus' tokens sit inside duplicated spans — THE number that
    decides whether running span removal is worth its cost on a new
    corpus (templated web crawls run double-digit percentages, curated
    corpora near zero), plus how concentrated the duplication is
    (docs affected, mean span length).

    One extra rollup on the existing span pipeline: spans reduce
    map-side to one row; token totals come from the same tokenized
    projection. Output is ONE row — the data-card summary, not a
    per-doc table (``duplicate_spans`` is the per-doc view).

    Output: (n_docs, n_docs_with_dups, total_tokens, dup_tokens,
    coverage, mean_span_tokens).
    """
    toks = scale_out(documents).select(
        "doc_id", F.split(F.trim(F.col("text")), SUBSTR_WS_RE).alias("ws")
    )
    spans = _spans_from_tokens(toks, window, min_count)
    span_agg = spans.agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs_with_dups"),
        F.coalesce(F.sum("span_tokens"), F.lit(0))
        .cast("long")
        .alias("dup_tokens"),
        F.count(F.lit(1)).cast("long").alias("_n_spans"),
    )
    tok_agg = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("ws")).cast("long").alias("total_tokens"),
    )
    return tok_agg.crossJoin(F.broadcast(span_agg)).select(
        "n_docs",
        "n_docs_with_dups",
        "total_tokens",
        "dup_tokens",
        F.round(F.col("dup_tokens") / F.col("total_tokens"), 4).alias(
            "coverage"
        ),
        F.round(
            F.when(F.col("_n_spans") > 0,
                   F.col("dup_tokens") / F.col("_n_spans")).otherwise(0.0),
            4,
        ).alias("mean_span_tokens"),
    )


def remove_dup_paragraphs(
    documents: DataFrame,
    min_count: int = PARA_MIN_COUNT,
    keep: str = "none",
) -> DataFrame:
    """Drop every paragraph whose NORMALIZED form (lowercase, collapsed
    whitespace) occurs ≥ ``min_count`` times anywhere in the corpus —
    paragraph-granularity exact dedup, the Dolma-style middle ground
    between document fingerprints (miss embedded boilerplate) and
    ExactSubstr token windows (heavier): cookie banners, nav footers,
    and license blocks repeat verbatim as whole paragraphs.

    ``keep="none"`` (default, the Dolma/C4 boilerplate policy and the
    engine's historical contract) drops EVERY occurrence — right for
    banners that are noise wherever they appear. ``keep="first"``
    exempts one survivor occurrence per paragraph key (the corpus-wide
    lowest (doc_id, pos), the spans ``keep="first"`` idiom) — right
    when repeated paragraphs are CONTENT duplicated across near-copy
    docs rather than boilerplate. The survivor rides the same count
    aggregate as a ``min(struct(...))``, no extra pass.

    Spark shape, corpus-linear throughout: split + posexplode to
    paragraph rows (few per doc — unlike token explode this is cheap),
    ONE hash-keyed groupBy for global occurrence counts (map-side
    combined), an anti-join back on the paragraph hash (equi, never
    pairwise), and a per-doc regroup whose payload is the handful of
    surviving paragraphs. Blank paragraphs are ignored for counting and
    never emitted. Totals come straight off the document row (narrow
    ``size(filter(...))``) — no second explode.

    Output: (doc_id, clean_text, n_paragraphs, n_removed_paragraphs),
    one row per input document (empty ``clean_text`` when everything
    was boilerplate).
    """
    paras = (
        scale_out(documents)
        .select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), PARA_SEP)).alias(
                "pos", "para"
            ),
        )
        .filter(F.trim(F.col("para")) != "")
        .withColumn("pkey", F.md5(normalize_text(F.col("para"))))
    )
    if keep not in ("none", "first"):
        raise ValueError(f"unknown keep: {keep!r}")
    dup = (
        paras.groupBy("pkey")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("doc_id", "pos")).alias("surv"),
        )
        .filter(F.col("c") >= min_count)
        .select("pkey", "surv")
    )
    if keep == "first":
        # drop only NON-survivor occurrences: anti-join on the full
        # (pkey, doc_id, pos) identity instead of the bare pkey
        hits = paras.join(dup, "pkey").filter(
            ~(
                (F.col("doc_id") == F.col("surv.doc_id"))
                & (F.col("pos") == F.col("surv.pos"))
            )
        ).select("pkey", "doc_id", "pos")
        kept_paras = paras.join(
            hits, ["pkey", "doc_id", "pos"], "left_anti"
        )
    else:
        kept_paras = paras.join(dup.select("pkey"), "pkey", "left_anti")
    cleaned = (
        kept_paras
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                PARA_SEP,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos").alias("pos"),
                                F.col("para").alias("para"),
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    totals = documents.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.col("text"), PARA_SEP),
                lambda p: F.trim(p) != "",
            )
        ).cast("long").alias("n_paragraphs"),
    )
    return totals.join(cleaned, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_paragraphs",
        (
            F.col("n_paragraphs") - F.coalesce(F.col("n_kept"), F.lit(0))
        ).cast("long").alias("n_removed_paragraphs"),
    )


def _driver_components(spark, edge_rows) -> DataFrame:
    """Union-find over a collected (small) (d1, d2) edge list →
    (node, lbl, size), the `hybrid_components` contract. Every union
    parents the larger root under the smaller, so each component's
    final root is its minimum node id: identical labels to the star
    kernel (pinned)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r["d1"], r["d2"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # root = smaller id
    members: dict[int, list[int]] = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    rows = [
        (node, root, len(nodes))
        for root, nodes in members.items()
        for node in nodes
    ]
    return driver_rows_df(spark, rows, "node long, lbl long, size long")


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its strictly-LARGER
    neighbors to the minimum of its closed neighborhood."""
    sym = edges.union(
        edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).distinct()
    m = (
        sym.groupBy("d1")
        .agg(F.min("d2").alias("mn"))
        .select("d1", F.least(F.col("d1"), F.col("mn")).alias("m"))
    )
    return (
        sym.filter(F.col("d2") > F.col("d1"))
        .join(m, "d1")
        .select(F.col("d2").alias("d1"), F.col("m").alias("d2"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient edges large→small, then each node
    connects its smaller neighbors (and itself) to the minimum."""
    oriented = edges.select(
        F.greatest("d1", "d2").alias("d1"), F.least("d1", "d2").alias("d2")
    ).distinct()
    m = oriented.groupBy("d1").agg(F.min("d2").alias("mn"))
    pairs_u = m.select("d1", F.col("mn").alias("d2"))
    pairs_v = (
        oriented.join(m, "d1")
        .filter(F.col("d2") != F.col("mn"))
        .select(F.col("d2").alias("d1"), F.col("mn").alias("d2"))
    )
    return pairs_u.union(pairs_v).distinct()


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Distributed connected components over a (d1, d2) long edge list
    (either orientation; large-star symmetrizes) → (node, lbl) with
    ``lbl`` = min member id of the component. Alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") converges in O(log²) rounds on ANY graph
    shape, long chains included; each round checkpoints so iterative
    lineage can't grow."""
    cur = edges.localCheckpoint()
    prev_stat = None
    converged = False
    for _ in range(max_iter):
        cur = _small_star(_large_star(cur)).localCheckpoint()
        # Convergence is detected from (count, sum of xxhash64(d1, d2)):
        # an order-independent 64-bit content checksum, NOT the additive
        # sum(d1 + d2) — two DIFFERENT edge sets can collide on count +
        # additive sum (e.g. {(1,4)} vs {(2,3)}), and a false-positive
        # stop here would emit wrong component labels because the
        # star-forest extraction below assumes a true fixpoint. A
        # count+checksum collision between consecutive rounds would need
        # an xxhash64 multiset collision (~2^-64) — and the check stays
        # one tiny aggregate per round, vs an exceptAll join per round
        # for an exact set-difference test. The hash is summed as
        # DECIMAL(38,0): a LongType sum of uniform signed 64-bit hashes
        # leaves [-2^63, 2^63) almost surely past a handful of edges —
        # silent wrap under ansi=false, ARITHMETIC_OVERFLOW under the
        # Spark 4 ANSI default (the CORRECTNESS_r14 failure).
        stat = cur.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("d1", "d2").cast("decimal(38,0)")),
        ).first()
        stat = (stat[0], stat[1])
        if stat == prev_stat:
            converged = True
            break
        prev_stat = stat
    if not converged:
        # A non-fixpoint edge set would make the star-forest extraction
        # below emit WRONG labels silently. Kiveris et al. bound
        # convergence at O(log^2 n) alternating rounds, so the default
        # max_iter=20 covers any graph this engine can hold; hitting the
        # cap means a bug or a pathological input, and either deserves a
        # loud stop, not wrong clusters.
        raise RuntimeError(
            f"star connected-components did not converge in {max_iter} "
            "rounds; raise max_iter (Kiveris et al. bound O(log^2 n))"
        )
    # converged: a forest of stars (child → component-min root). Roots
    # appear only on the d2 side and label themselves.
    child_lbl = cur.groupBy(F.col("d1").alias("node")).agg(
        F.min("d2").alias("lbl")
    )
    roots = (
        cur.select(F.col("d2").alias("node"))
        .distinct()
        .join(child_lbl.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("lbl"))
    )
    return child_lbl.union(roots)


def hybrid_components(pairs: DataFrame) -> DataFrame:
    """Connected components of a (d1, d2) long pair graph → (node,
    lbl, size): ``lbl`` = min member id, ``size`` = component size,
    one row per node that appears in a pair (singletons omitted).

    Hybrid, like every production CC implementation: the pair graphs
    fed here (near-dup bands, SNM match edges) are RARE by
    construction, so up to ``hybrid.DRIVER_EDGE_CAP`` undirected edges
    (the empty graph too) a driver union-find replaces ~2 Spark jobs
    per star round with one collect. The size check IS the collect —
    the bounded probe bounds driver memory and runs the pair pipeline
    exactly once in the common path. Above the cap the star kernel
    runs (it checkpoints its input, so the loop never re-runs the pair
    pipeline) — same labels either way, pinned by tests that force
    both branches."""
    probe = hybrid.bounded_probe(pairs, hybrid.DRIVER_EDGE_CAP)
    if probe is not None:
        return _driver_components(pairs.sparkSession, probe)
    return connected_components(pairs).select(
        "node",
        "lbl",
        F.count(F.lit(1)).over(Window.partitionBy("lbl")).alias("size"),
    )


def neardup_clusters(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    profile: str = "oracle",
    max_doc_freq: int | None | str = "auto",
) -> DataFrame:
    """Connected components over the near-dup pair graph → dedup
    clusters: every document in a component gets ``cluster_id = min
    doc_id`` of the component, the deterministic survivor key (keep the
    cluster_id row, drop the rest — or keep the best-quality member,
    the cluster is the unit either way). The components come from
    `hybrid_components`: a driver union-find while the pair graph is
    small (the expected case), the large-star/small-star kernel above
    ``hybrid.DRIVER_EDGE_CAP`` edges.

    Output: (doc_id, cluster_id, cluster_size) for every document that
    appears in ≥1 near-dup pair (singletons are their own cluster
    trivially and are omitted, matching the pair list).

    ``profile="scale"`` turns the hot-shingle df cap on by default
    (``max_doc_freq="auto"`` → ``MAX_SHINGLE_DOC_FREQ``) so candidate
    generation can't go quadratic on boilerplate; ``"oracle"``
    (default) leaves it off to mirror the uncapped DuckDB oracle. The
    cap only prunes candidate generation — surviving pairs keep exact
    Jaccard scores (``ngram_jaccard_pairs`` verify semantics).
    """
    if profile not in ("oracle", "scale"):
        raise ValueError(f"unknown profile: {profile!r}")
    cap = _resolve_doc_freq_cap(max_doc_freq, profile == "scale")
    pairs = ngram_jaccard_pairs(
        documents, n, threshold, max_doc_freq=cap
    ).select("d1", "d2")
    return hybrid_components(pairs).toDF(
        "doc_id", "cluster_id", "cluster_size"
    )


def keep_best_per_cluster(
    documents: DataFrame, clusters: DataFrame | None = None
) -> DataFrame:
    """Cluster-aware survivor selection: for every near-dup cluster
    (``neardup_clusters``), keep the member with the HIGHEST quality
    score (ties → lowest doc_id) — the curation policy that beats
    keep-lowest-id when near-duplicate copies differ in quality (the
    canonical copy of boilerplate-wrapped text is usually not the one
    with the smallest id).

    Composition, no new machinery: the cluster labels (rare-by-
    construction pair graph → components) join the per-doc quality
    scores on doc_id, and a per-cluster ranking window picks the
    survivor. The window partitions on cluster_id over CLUSTER MEMBERS
    ONLY (docs with no near-dup never enter), so the sort input is the
    duplicate population, not the corpus.

    Output: (cluster_id, survivor_id, quality_score, cluster_size).

    ``clusters`` lets a caller that ALSO consumes the cluster labels
    (``dedup_survivor_map``) pass them in precomputed, so the pair
    pipeline runs once instead of once per consumer.
    """
    from scholar_stream_spark.operators.textops import text_quality

    if clusters is None:
        clusters = neardup_clusters(documents)
    quality = text_quality(documents).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_id"),
            "quality_score",
            "cluster_size",
        )
    )


def dedup_survivor_map(documents: DataFrame) -> DataFrame:
    """Removed-doc → survivor replacement map: for every near-dup
    cluster member that is NOT the quality-selected survivor, one
    (doc_id, survivor_id, cluster_id, cluster_size) row — the lineage
    artifact a curation pipeline publishes alongside the deduped corpus
    so downstream consumers (citation graphs, eval sets, RTBF tooling)
    can redirect references to removed documents instead of dangling.

    Pure composition: ``neardup_clusters`` labels join
    ``keep_best_per_cluster`` survivors on cluster_id — both sides are
    duplicate-population-sized (docs with no near-dup never enter
    either), so the join and the output are dup-sized, not
    corpus-sized. The cluster labels are computed ONCE and
    localCheckpointed (dup-sized) before feeding both consumers —
    without the cut, the whole pair pipeline (shingle → band → verify
    → components) runs twice, once inside the survivor selection and
    once for the map itself.

    Output: (doc_id, survivor_id, cluster_id, cluster_size) for
    removed docs only.
    """
    clusters = neardup_clusters(documents).localCheckpoint(eager=False)
    best = keep_best_per_cluster(documents, clusters=clusters).select(
        "cluster_id", "survivor_id"
    )
    return (
        clusters.join(best, "cluster_id")
        .filter(F.col("doc_id") != F.col("survivor_id"))
        .select("doc_id", "survivor_id", "cluster_id", "cluster_size")
    )


def neardup_source_matrix(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Cross-source near-duplication matrix: how many verified near-dup
    pairs connect each (unordered) pair of sources — the mixture-design
    signal behind per-source dedup budgets (a hot off-diagonal cell
    means two "independent" sources are substantially the same text and
    their mixture weights double-count it; a hot diagonal cell means
    the source needs aggressive self-dedup).

    Scale shape: all the quadratic risk lives in ``ngram_jaccard_pairs``
    (shared pipeline, same ``max_doc_freq`` hot-shingle guard); this
    adds two equi-joins of the PAIR table against the (doc_id, source)
    projection — pair-table-sized, never corpus×corpus — and a rollup
    to ≤ |sources|² cells. The share denominator re-aggregates the
    cell table itself (a window over the ≤ |sources|²-row result, not
    another pass over pairs), and the share is one IEEE division of
    exact integers.

    Output: (source_a ≤ source_b, n_pairs, pair_share), sources asc.
    """
    pairs = ngram_jaccard_pairs(documents, n, threshold, max_doc_freq)
    src = documents.select("doc_id", "source")
    cells = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("d1"), F.col("source").alias("_s1")
            ),
            "d1",
        )
        .join(
            src.select(
                F.col("doc_id").alias("d2"), F.col("source").alias("_s2")
            ),
            "d2",
        )
        .select(
            F.least("_s1", "_s2").alias("source_a"),
            F.greatest("_s1", "_s2").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    total = Window.partitionBy()
    return (
        cells.select(
            "source_a",
            "source_b",
            "n_pairs",
            (
                F.col("n_pairs")
                / F.sum("n_pairs").over(total).cast("double")
            ).alias("pair_share"),
        )
        .orderBy("source_a", "source_b")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = EMBED_COS_THRESHOLD
) -> DataFrame:
    """Label-blocked embedding near-dup: cosine ≥ threshold within each
    label block. Blocking keeps the pair join linear in block sizes; the
    unblocked path at 100 TB is LSH bucketing (``similarity.py``).

    Cosine is computed with sequential-order double accumulation
    (``functions/vectors.py``) so it is reproducible and oracle-checkable.
    Per-vector norms are computed once before the pair join (per-row
    invariants; 3× fewer array aggregates in the pair loop).
    """
    from scholar_stream_spark.functions.vectors import cosine_from_norms, l2_norm

    normed = scale_out(embeddings).select(
        "vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("norm")
    )
    a = normed.alias("a")
    b = normed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = cosine_from_norms(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.norm"),
        F.col("b.norm"),
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            F.col("a.label").alias("label"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("v1", "v2", "label", F.round("cos_sim", 4).alias("cos_sim"))
    )


FUZZY_BLOCK_CHARS = 24
FUZZY_VERIFY_CHARS = 120
FUZZY_MAX_EDITS = 10


def fuzzy_neardup_pairs(
    documents: DataFrame,
    block_chars: int = FUZZY_BLOCK_CHARS,
    verify_chars: int = FUZZY_VERIFY_CHARS,
    max_edits: int = FUZZY_MAX_EDITS,
    max_block_size: int | None = None,
) -> DataFrame:
    """Character-level fuzzy near-dup pairs: normalized-prefix blocking
    + bounded edit-distance verify — the dedup family member that
    catches small in-place edits (typo fixes, punctuation churn) that
    token-level Jaccard treats as whole-shingle differences.

    Blocking on the first ``block_chars`` of the normalized text keeps
    the pair join linear in block sizes (docs whose very prefix
    diverged are by definition > 0 edits apart there; for a
    shift-tolerant variant, block on MinHash instead — this operator
    deliberately targets in-place edits). The verify computes
    levenshtein over ``verify_chars``-capped prefixes: edit distance is
    O(len²) per pair, so UNCAPPED text in the verify is a per-pair
    quadratic bomb at corpus scale; the cap bounds per-pair cost at a
    constant, and passing ``max_edits`` as Spark's ``threshold``
    argument lets the JVM implementation early-exit at O(len·k) per
    pair instead of O(len²). Both engines implement classic unit-cost
    Wagner-Fischer levenshtein, so the pair list is oracle-checked
    (the oracle filters the unbounded distance to the same threshold;
    surviving values are identical).

    ``max_block_size`` is the quadratic-candidate guard (the analog of
    ``ngram_jaccard_pairs``' ``max_doc_freq``): a hot prefix — shared
    license boilerplate, empty/whitespace-only texts all normalizing
    to the same block key — makes its block's self-join O(n²). Blocks
    larger than the cap are dropped entirely (their members are
    boilerplate-identified, not individually near-dup). Default off so
    the oracle query stays cap-free.
    """
    normed = scale_out(documents).select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, verify_chars).alias(
            "body"
        ),
    ).withColumn("blk", F.substring("body", 1, block_chars))
    if max_block_size is not None:
        # one map-side-combined count per block key; HOT blocks (few by
        # definition — the broadcastable side) are anti-joined away
        # BEFORE the self-join so the candidate space stays linear in
        # (bounded) block sizes
        hot = (
            normed.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_block_size)
            .select("blk")
        )
        normed = normed.join(F.broadcast(hot), "blk", "left_anti")
    pairs = (
        normed.alias("a")
        .join(
            normed.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.levenshtein(
                F.col("a.body"), F.col("b.body"), max_edits
            ).alias("edits"),
        )
    )
    # threshold form returns -1 when the distance exceeds max_edits
    return pairs.filter(F.col("edits") >= 0)


def incremental_dedup(
    new_docs: DataFrame, seen_index: DataFrame
) -> DataFrame:
    """Dedup a NEW ingest batch against a persisted fingerprint index —
    how exact dedup actually runs at corpus scale: the 100 TB corpus is
    deduped once, its content fingerprints are kept as an index, and
    each incremental batch checks only itself + the index (never
    re-scanning corpus text).

    Two-sided dedup, both deterministic: first-in-batch per
    fingerprint (ranking window ordered by doc_id — never
    ``dropDuplicates``), then removal of fingerprints already in the
    index. The index side is NEVER shuffled: the batch's fingerprint
    set (small by definition — it's one ingest) is broadcast against
    the index scan to extract the hit set, and the batch anti-joins
    the broadcast hit set. Both joins are map-side; the only
    exchanges are batch-sized. The symmetric plan (shuffle anti-join
    of batch vs index on fingerprint) would shuffle the full index
    per batch.

    Returns surviving (doc_id, fingerprint) — the rows to append to
    both the corpus and the index.
    """
    return _index_anti(_batch_firsts(new_docs), seen_index)


def _batch_firsts(new_docs: DataFrame) -> DataFrame:
    """First-in-batch (doc_id, fingerprint) per content fingerprint —
    the within-batch half of ``incremental_dedup``, shared with the
    Bloom-gated probe so the two paths cannot drift."""
    fp = F.md5(normalize_text(F.col("text")))
    batch = scale_out(new_docs).select("doc_id", fp.alias("fingerprint"))
    w = Window.partitionBy("fingerprint").orderBy(F.asc("doc_id"))
    return (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _index_anti(firsts: DataFrame, seen_index: DataFrame) -> DataFrame:
    """Index half of ``incremental_dedup``: broadcast the batch
    fingerprint set against the index scan to extract the hit set, then
    anti-join the batch against the broadcast hits — the index is never
    shuffled, only scanned."""
    hits = (
        seen_index.select("fingerprint")
        .join(F.broadcast(firsts.select("fingerprint")), "fingerprint")
        .distinct()
    )
    # The named-key join hoists the key first; re-order to the
    # documented (doc_id, fingerprint) contract.
    return firsts.join(
        F.broadcast(hits), "fingerprint", "left_anti"
    ).select("doc_id", "fingerprint")


#: Bloom sidecar defaults: target false-positive probability for the
#: fingerprint-index membership filter. FPs only cost a wasted index
#: probe; false negatives are impossible by construction.
BLOOM_FPP = 0.01


def bloom_params(n_items: int, fpp: float = BLOOM_FPP) -> tuple[int, int]:
    """Classic Bloom sizing: bits ``m = -n·ln(p)/ln(2)²`` (rounded up
    to whole 64-bit words) and ``k = (m/n)·ln(2)`` hash functions."""
    import math  # noqa: PLC0415

    n = max(1, int(n_items))
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_positions(fp_col: str, n_bits: int, n_hashes: int) -> F.Column:
    """The ``n_hashes`` bit positions of ``fp_col``'s fingerprint as an
    array<long> column: ``pmod(xxhash64(fp, i), n_bits)`` for i in
    [0, k) — xxhash64's variadic form makes the loop index a free
    per-hash salt, all JVM-side codegen."""
    return F.expr(
        f"transform(sequence(0, {n_hashes - 1}),"
        f" i -> pmod(xxhash64({fp_col}, i), CAST({n_bits} AS BIGINT)))"
    )


def build_fingerprint_bloom(
    index: DataFrame,
    n_bits: int,
    n_hashes: int,
    fp_col: str = "fingerprint",
    word_bits: int = 64,
) -> DataFrame:
    """Aggregate an index's fingerprints into an explicit bit-array
    Bloom filter, stored SPARSE as (word, bits) rows — word ``w`` holds
    bits [word_bits·w, word_bits·(w+1)) of the filter; absent words are
    all-zero. Built with one explode (k rows per fingerprint) and ONE
    map-side-combined ``bit_or`` groupBy whose result is at most
    ``n_bits/word_bits`` rows — the filter table is filter-sized, never
    corpus-sized, so it stays broadcastable no matter how big the index
    is. ``word_bits=32`` is the layout ``bloom_prefilter``'s plan
    literal uses; the sidecar layout keeps the denser 64.

    (Spark's internal BloomFilterAggregate isn't SQL-registered in this
    build, hence the explicit bitwise aggregation — same math, and the
    sparse layout is friendlier to a broadcast-join probe anyway.)
    """
    slots = index.select(
        F.explode(_bloom_positions(fp_col, n_bits, n_hashes)).alias("pos")
    )
    return (
        slots.select(
            F.expr(f"CAST(pos div {word_bits} AS INT)").alias("word"),
            F.expr(
                f"shiftleft(1L, CAST(pos % {word_bits} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def _bloom_flagged(
    firsts: DataFrame, bloom: DataFrame, n_bits: int, n_hashes: int
) -> DataFrame:
    """``firsts`` + a ``maybe`` boolean: false ⇒ the fingerprint is
    DEFINITELY not in the index the filter was built over (the Bloom
    guarantee); true ⇒ probe the index. Batch-sized explode (k rows per
    fingerprint) joined against the broadcast filter table; a missing
    word row is an all-zero word, i.e. a miss."""
    slots = firsts.select(
        "doc_id",
        "fingerprint",
        F.explode(
            _bloom_positions("fingerprint", n_bits, n_hashes)
        ).alias("pos"),
    ).select(
        "doc_id",
        "fingerprint",
        F.expr("CAST(pos div 64 AS INT)").alias("word"),
        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
    )
    checked = slots.join(F.broadcast(bloom), "word", "left")
    hit = (
        F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(
            F.col("mask")
        )
        == F.col("mask")
    )
    return checked.groupBy("doc_id", "fingerprint").agg(
        F.min(hit).alias("maybe")
    )


def incremental_dedup_bloom(
    new_docs: DataFrame,
    seen_index: DataFrame,
    bloom: DataFrame,
    n_bits: int,
    n_hashes: int,
) -> DataFrame:
    """``incremental_dedup`` with a Bloom-sidecar fast path: batch
    fingerprints the filter rules out skip the index probe entirely —
    only the ``maybe`` subset (true hits + the filter's ~fpp false
    positives) reaches the index anti-join. Result-identical to
    ``incremental_dedup`` by the zero-false-negative Bloom guarantee
    (pinned in tests), provided ``bloom`` was built over ``seen_index``
    with the same (n_bits, n_hashes).

    At 100 TB this is the difference between scanning the fingerprint
    index once per ingest batch and scanning it only when a batch
    actually collides: a mostly-fresh batch produces an EMPTY ``maybe``
    set, and AQE's empty-relation propagation then eliminates the index
    scan stage at runtime (the broadcast build side is known empty
    before the probe side runs). The filter table itself is
    ``n_bits/64`` rows — megabytes for billions of fingerprints —
    against a fingerprint index that is hundreds of GB.
    """
    flagged = _bloom_flagged(
        _batch_firsts(new_docs), bloom, n_bits, n_hashes
        # pinned: the clean and suspect branches both read the flagged
        # batch — each would otherwise re-run the batch-firsts window
        # + the bloom probe (r17 opt); batch-sized by construction
    ).localCheckpoint(eager=False)
    clean = flagged.filter(~F.col("maybe")).select("doc_id", "fingerprint")
    suspect = flagged.filter(F.col("maybe")).select("doc_id", "fingerprint")
    return clean.unionByName(_index_anti(suspect, seen_index))


def _write_fingerprint_layout(
    spark, fps: DataFrame, path: str, fpp: float
) -> None:
    """Shared serving-layout writer: ``{path}/fingerprints`` (written
    first, then READ BACK so bloom + count derive from the landed
    files, never a recompute that could diverge), ``{path}/bloom``
    (sparse (word, bits) filter sized from the actual count), and
    ``{path}/params`` (n_bits, n_hashes — a probe in a different
    geometry would be silently wrong, so it must be able to check)."""
    fps.write.mode("overwrite").parquet(f"{path}/fingerprints")
    stored = spark.read.parquet(f"{path}/fingerprints")
    n_bits, n_hashes = bloom_params(stored.count(), fpp)
    build_fingerprint_bloom(stored, n_bits, n_hashes).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/bloom")
    driver_rows_df(spark,
        [(int(n_bits), int(n_hashes))], "n_bits long, n_hashes int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


#: Plan-literal Bloom cap: the comma-joined word string must stay
#: inside the JVM's 64 KB string-constant limit for codegen; 2^17 bits
#: = 4096 decimal 32-bit words ≈ 45 KB worst case. Beyond this many
#: KEYS the filter saturates instead of growing — see
#: ``bloom_key_filter``'s saturation bail-out.
BLOOM_LITERAL_MAX_BITS = 1 << 17


def bloom_key_filter(
    keys: DataFrame,
    key_col: str,
    n_bits: int | None = None,
    n_hashes: int | None = None,
    fpp: float = BLOOM_FPP,
    max_bits: int = BLOOM_LITERAL_MAX_BITS,
) -> tuple[str | None, int, int]:
    """A key set's Bloom filter as ONE comma-joined decimal string of
    32-bit words (``n_bits/32`` numbers) for plan-literal embedding —
    the runtime-filter shape: shipped to executors inside the plan as
    a single string literal, the same way engines ship semi-join
    reduction filters to scans. The probe splits it into a word array
    ONCE via constant folding (see ``bloom_prefilter``).

    Geometry: pass (n_bits, n_hashes) explicitly, or leave them None
    and the filter is SIZED from ``keys.count()`` via ``bloom_params``
    (target ``fpp``), capped at ``max_bits`` so the literal stays
    inside the codegen string-constant limit. When the cap bites, the
    hash count is re-derived for the capped width.

    Build: the k bit positions per key fold EXECUTOR-SIDE into sparse
    (word, bits) rows — the ``build_fingerprint_bloom`` shape, one
    map-side-combined ``bit_or`` groupBy — so the driver collect is at
    most ``n_bits/32`` rows, bounded by the filter's GEOMETRY, never by
    the key count. (The first cut collected k×|keys| position rows;
    at 10⁹ selective keys that is a driver OOM in the one operator
    whose purpose is scale hygiene.)

    Returns ``(word_filter, n_bits, n_hashes)``. ``word_filter`` is
    None when the built filter is SATURATED (estimated FP rate from
    the actual popcount > 0.5): a saturated filter passes ~everything,
    so the caller should skip the prefilter rather than pay k hashes
    per row for no reduction — the reduction is result-transparent
    either way, this just keeps it from silently becoming a no-op tax.
    """
    import math  # noqa: PLC0415

    if n_bits is None or n_hashes is None:
        n_keys = max(1, keys.count())
        n_bits, n_hashes = bloom_params(n_keys, fpp)
        if n_bits > max_bits:
            n_bits = max_bits
            n_hashes = max(1, round(n_bits / n_keys * math.log(2)))
    words = [0] * (n_bits // 32)
    for row in build_fingerprint_bloom(
        keys, n_bits, n_hashes, fp_col=key_col, word_bits=32
    ).collect():
        words[row["word"]] = row["bits"]
    fill = sum(bin(w).count("1") for w in words) / n_bits
    if fill**n_hashes > 0.5:
        return None, n_bits, n_hashes
    return ",".join(str(w) for w in words), n_bits, n_hashes


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    word_filter: str,
    n_bits: int,
    n_hashes: int,
) -> DataFrame:
    """Row-local Bloom membership pre-filter: keep only rows whose
    ``key_col`` MIGHT be in the key set ``word_filter`` encodes — the
    semi-join reduction that cuts a fact table down BEFORE its shuffle
    join when the other side is selective (Spark's own runtime row
    filtering covers some of these shapes; this is the explicit,
    always-available form). No join, no exchange; false positives
    simply ride through to the real join, which drops them, so the
    reduction is RESULT-TRANSPARENT (the oracle for any query using it
    is the plain join).

    Plan mechanics, each alternative MEASURED before settling here:
    ``split('<w0,w1,...>', ',')`` over the inline literal is
    deterministic, so Catalyst CONSTANT-FOLDS it to an array ONCE at
    optimization time; the per-row probe is then k× {xxhash64, O(1)
    ``element_at``, int cast, bit test}. Rejected: a projected literal
    column (materializes the multi-KB string into every row's unsafe
    buffer — GBs of memcpy, minutes instead of sub-second), ``substr``
    over one long literal (UTF8String substring is O(offset) — ~250 µs
    per row at 32 KB), and a python-list array literal (seconds of
    per-element py4j plan construction). 32-bit words keep every
    number inside a plain BIGINT cast."""
    words_arr = f"split('{word_filter}', ',')"
    positions = (
        f"transform(sequence(0, {n_hashes - 1}),"
        f" i -> pmod(xxhash64({key_col}, i), CAST({n_bits} AS BIGINT)))"
    )
    miss = (
        f"(CAST(element_at({words_arr}, CAST(p div 32 AS INT) + 1)"
        f" AS BIGINT) & shiftleft(1L, CAST(p % 32 AS INT))) = 0"
    )
    return df.filter(F.expr(f"NOT exists({positions}, p -> {miss})"))


def write_fingerprint_index(
    corpus_docs: DataFrame, path: str, fpp: float = BLOOM_FPP
) -> None:
    """Persist the exact-dedup fingerprint index with its Bloom sidecar
    (see ``_write_fingerprint_layout``). The sizing count is one
    column-pruned aggregate over data being written anyway — a one-time
    build cost, amortized like the near-dup/IVF index builds."""
    fp = F.md5(normalize_text(F.col("text")))
    fps = (
        scale_out(corpus_docs)
        .select(fp.alias("fingerprint"))
        .distinct()
    )
    _write_fingerprint_layout(corpus_docs.sparkSession, fps, path, fpp)


def compact_fingerprint_index(
    spark,
    index_path: str,
    out_path: str,
    fpp: float = BLOOM_FPP,
    n_files: int = 8,
) -> None:
    """Rewrite a streaming-built fingerprint index (one ``batch=<id>``
    directory per micro-batch, plus the additive bloom-delta sidecar)
    into the ``write_fingerprint_index`` serving layout — the same
    small-file compaction discipline as ``compact_neardup_index``: a
    long-lived streaming index accretes thousands of tiny part files
    AND a bloom sidecar whose fixed streaming geometry drifts from
    optimal as the index grows; compaction folds the fingerprints into
    ``n_files`` sorted files and REBUILDS the Bloom filter at the size
    the compacted count actually warrants. Output is probe-compatible
    with ``incremental_dedup_indexed`` and probe-identical by
    construction (same fingerprint set; ``distinct`` enforces the
    index's dup-free invariant even if a damaged writer violated it).
    Compact to a NEW path and swap atomically; writing over a live
    index a probe is reading is the caller's race."""
    df = spark.read.option("basePath", index_path).parquet(index_path)
    if "batch" in df.columns:
        df = df.drop("batch")
    fps = (
        df.select("fingerprint")
        .distinct()
        .repartition(n_files)
        .sortWithinPartitions("fingerprint")
    )
    _write_fingerprint_layout(spark, fps, out_path, fpp)


def incremental_dedup_indexed(new_docs: DataFrame, path: str) -> DataFrame:
    """Probe a ``write_fingerprint_index`` layout: Bloom-gate the batch
    against the sidecar, anti-join only the ``maybe`` subset against the
    persisted fingerprint scan. Same contract as ``incremental_dedup``
    (surviving (doc_id, fingerprint) rows), never re-shingles or
    re-scans corpus text."""
    spark = new_docs.sparkSession
    params = spark.read.parquet(f"{path}/params").collect()[0]
    return incremental_dedup_bloom(
        new_docs,
        spark.read.parquet(f"{path}/fingerprints"),
        spark.read.parquet(f"{path}/bloom"),
        int(params["n_bits"]),
        int(params["n_hashes"]),
    )


def decontaminate(
    documents: DataFrame,
    eval_split: str = "test",
    corpus_split: str = "train",
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """Benchmark decontamination: per train-split document, the count of
    distinct word shingles it shares with the held-out eval split —
    the standard pretraining hygiene pass (an eval n-gram appearing in
    training data silently inflates benchmark scores).

    The split is recomputed inline from the deterministic hash-bucket
    expression (``sampling.split_bucket``), NOT joined from a split
    table — assignment is a narrow projection, so corpus and eval
    sides are both single scans. Per-doc shingle dedup is
    ``array_distinct`` before the explode (narrow, no distinct
    shuffle). The eval side's distinct shingle set is explicitly
    broadcast: at corpus scale the eval set is benchmarks (MBs)
    against a 100 TB train side, so the contamination probe is a
    map-side hash semi-join — the corpus never shuffles on shingle.
    The corpus side's only Exchange is the final map-side-combined
    count per doc_id (the eval side's distinct shuffles, but it is
    the tiny side by construction).

    Returns (doc_id, n_hits) for contaminated train docs only.
    """
    from scholar_stream_spark.operators.sampling import (
        SPLIT_BOUNDS,
        split_bucket,
    )

    bounds = dict((name, (lo, hi)) for name, lo, hi in SPLIT_BOUNDS)
    lo_e, hi_e = bounds[eval_split]
    lo_c, hi_c = bounds[corpus_split]
    bucket = split_bucket("CAST(doc_id AS STRING)")

    shingled = scale_out(documents).select(
        "doc_id",
        bucket.alias("bucket"),
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), shingle_n))
        ).alias("shingle"),
    )
    eval_sh = (
        shingled.filter(
            (F.col("bucket") >= lo_e) & (F.col("bucket") < hi_e)
        )
        .select("shingle")
        .distinct()
    )
    corpus_sh = shingled.filter(
        (F.col("bucket") >= lo_c) & (F.col("bucket") < hi_c)
    )
    return (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def contamination_report(
    documents: DataFrame,
    eval_split: str = "test",
    corpus_split: str = "train",
    shingle_n: int = SHINGLE_N,
) -> DataFrame:
    """The audit companion to ``decontaminate``: for EVERY train-split
    document — zero-overlap docs included — the distinct-shingle count,
    the number of those shingles shared with the eval split, and the
    overlap fraction. ``decontaminate`` answers "what do I drop at this
    threshold"; this answers "what should the threshold BE" (the
    contamination histogram a pipeline reviews before pinning the
    cut, per the GPT-3/PaLM contamination appendices).

    Same 100 TB shape as ``decontaminate``: split assignment is the
    narrow hash-bucket expression (no split-table join), the eval
    shingle set broadcasts (benchmark-sized vs corpus-sized), the
    corpus never shuffles on shingle, and the denominator is the
    in-row ``size(array_distinct(...))`` — no second explode. The only
    corpus exchanges are the hit count and the doc_id join back, both
    doc-keyed and corpus-linear.

    Output: (doc_id, n_shingles, n_hits, overlap_frac) — one row per
    train document. ``doc_id`` is the table's key by contract (as
    everywhere in this module); duplicate ids would fold into one row
    here, so run exact dedup first if the source can repeat ids.
    """
    from scholar_stream_spark.operators.sampling import (
        SPLIT_BOUNDS,
        split_bucket,
    )

    bounds = dict((name, (lo, hi)) for name, lo, hi in SPLIT_BOUNDS)
    lo_e, hi_e = bounds[eval_split]
    lo_c, hi_c = bounds[corpus_split]
    bucket = split_bucket("CAST(doc_id AS STRING)")

    shingled = scale_out(documents).select(
        "doc_id",
        bucket.alias("bucket"),
        F.array_distinct(
            word_shingles(F.col("text"), shingle_n)
        ).alias("sh"),
    )
    corpus = shingled.filter(
        (F.col("bucket") >= lo_c) & (F.col("bucket") < hi_c)
    ).select("doc_id", "sh", F.size("sh").cast("long").alias("n_shingles"))
    eval_sh = (
        shingled.filter(
            (F.col("bucket") >= lo_e) & (F.col("bucket") < hi_e)
        )
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    # ONE corpus pass: explode_outer keeps zero-shingle docs (NULL
    # shingle never matches the broadcast), the left probe marks hits,
    # and totals ride the exploded rows — the totals-join-back variant
    # re-shingled the corpus a second time for nothing
    exploded = corpus.select(
        "doc_id", "n_shingles", F.explode_outer("sh").alias("shingle")
    )
    marked = exploded.join(
        F.broadcast(eval_sh.withColumn("hit", F.lit(1))), "shingle", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.max("n_shingles").alias("n_shingles"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
    ).select(
        "doc_id",
        "n_shingles",
        "n_hits",
        F.round(
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_hits") / F.col("n_shingles"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("overlap_frac"),
    )


def delete_from_neardup_index(
    spark, index_path: str, out_path: str, doc_ids, n_files: int = 8
) -> None:
    """Right-to-be-forgotten for the persisted near-dup index: rewrite
    the index WITHOUT the given documents (takedowns, GDPR erasure,
    licensing pulls). Removing corpus rows alone is not enough — the
    index still carries the deleted docs' shingle hashes and band
    postings, so future ingest batches would keep matching against
    (and being suppressed by) content that no longer exists.

    Implemented AS a compaction with an exclusion set
    (``compact_neardup_index(exclude_doc_ids=...)``): the request-sized
    id set broadcasts into LEFT ANTI joins over both tables — the
    index is never shuffled, only scanned and rewritten into the
    compacted serving layout, params sidecar copied unchanged. Like
    compaction: write to a NEW path and swap atomically.
    """
    compact_neardup_index(
        spark, index_path, out_path, n_files=n_files,
        exclude_doc_ids=list(doc_ids),
    )



#: Threshold sweep grid for dedup-budget tuning.
SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sweep(
    documents: DataFrame,
    n: int = SHINGLE_N,
    thresholds: tuple[float, ...] = SWEEP_THRESHOLDS,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup threshold sweep: pair and affected-document counts at
    each candidate Jaccard threshold IN ONE PASS — the tuning table
    behind a dedup budget decision (pick the threshold, read off how
    many pairs the verify stage will carry and how many documents the
    cluster stage will touch; running the pipeline once per candidate
    threshold multiplies the quadratic stage by |thresholds|).

    Scale shape: the quadratic risk runs ONCE at the LOOSEST threshold
    (shared ``ngram_jaccard_pairs`` pipeline, same hot-shingle guard);
    the sweep itself is |pairs|×|thresholds| — pair-table-sized, never
    corpus-sized. Thresholds with zero pairs keep a 0-count row (a
    LEFT join from the literal threshold axis), so the report's shape
    is ``|thresholds|`` rows by contract.

    Output: (threshold, n_pairs, n_docs), threshold asc; counts are
    cumulative by construction (jaccard ≥ threshold).
    """
    th = sorted(float(t) for t in thresholds)
    # pinned: the n_pairs and n_docs rollups both read the pair table,
    # and each would otherwise re-run the whole shingle pipeline
    # (r17 opt — the plan held the jaccard subtree twice)
    pairs = ngram_jaccard_pairs(
        documents, n, min(th), max_doc_freq
    ).localCheckpoint(eager=False)
    axis = documents.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in th])).alias("threshold")
    )
    tagged = (
        pairs.select(
            F.explode(F.array(*[F.lit(t) for t in th])).alias("threshold"),
            "d1",
            "d2",
            "jaccard",
        )
        .filter(F.col("jaccard") >= F.col("threshold"))
    )
    n_pairs = tagged.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = (
        tagged.select(
            "threshold", F.explode(F.array("d1", "d2")).alias("doc")
        )
        .groupBy("threshold")
        .agg(F.countDistinct("doc").cast("long").alias("n_docs"))
    )
    return (
        axis.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
        .orderBy("threshold")
    )


#: Boilerplate report size: top-K repeated paragraphs.
BOILERPLATE_TOP_K = 50


def boilerplate_paragraphs(
    documents: DataFrame,
    min_docs: int = PARA_MIN_COUNT,
    top_k: int = BOILERPLATE_TOP_K,
) -> DataFrame:
    """Boilerplate audit: the corpus's most-repeated normalized
    paragraphs with occurrence / document / source spread — the report
    a curator reads BEFORE setting ``remove_dup_paragraphs`` loose (a
    paragraph repeated across many SOURCES is crawler boilerplate —
    cookie banners, nav footers; repeated within ONE source it may be
    that site's template, a different removal decision).

    Scale shape: corpus-linear — paragraph explode (few per doc), ONE
    map-side-combined groupBy on the normalized paragraph key (hot
    keys are safe in an aggregate; the distinct doc/source counts ride
    Spark's expand + two-level aggregate, never a join), then a
    ``min_docs`` filter and a TakeOrdered top-K under a total order
    (n_docs desc, n_occurrences desc, paragraph asc).

    Output: (paragraph, n_occurrences, n_docs, n_sources).
    """
    from scholar_stream_spark.functions.text import normalize_text

    paras = (
        scale_out(documents)
        .select(
            "doc_id",
            "source",
            F.explode(F.split(F.col("text"), PARA_SEP)).alias("para"),
        )
        .filter(F.trim(F.col("para")) != "")
        .select(
            "doc_id", "source", normalize_text(F.col("para")).alias("paragraph")
        )
    )
    return (
        paras.groupBy("paragraph")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("paragraph")
        )
        .limit(top_k)
    )


#: Containment threshold as an exact rational (4/5 = 0.8): a pair
#: reports when at least 80% of the SMALLER document's shingles appear
#: in the other. Rational so the boundary test is integer arithmetic —
#: no IEEE fraction ever decides a boundary pair (the `pareto_parts` /
#: `avg_quantity_gate` discipline).
CONTAINMENT_NUM = 4
CONTAINMENT_DEN = 5


def ngram_containment_pairs(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold_num: int = CONTAINMENT_NUM,
    threshold_den: int = CONTAINMENT_DEN,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-SUBSET pairs by exact n-gram containment — the asymmetric
    companion to ``ngram_jaccard_pairs``. Jaccard misses wholesale
    INCLUSION: a short article quoted inside a long wrapper page has
    tiny `|A∩B| / |A∪B|` but containment `|A∩B| / |A|` ≈ 1 (the
    "coverage" signal ExactSubstr-style span dedup acts on, here at
    whole-document granularity — Broder 1997 distinguishes resemblance
    from containment for exactly this case). Reports both directions
    (`c12` = fraction of d1's shingles shared, `c21` = of d2's); a
    pair qualifies when the LARGER direction — equivalently
    `n_inter/min(n1,n2)` — clears the threshold, tested integer-exactly
    as ``n_inter·den ≥ num·min(n1,n2)``.

    Scale shape: identical to the Jaccard sibling — candidates from the
    shingle equi-join (docs sharing ≥1 shingle; never a cross join),
    `|A∩B|` falls out of that same join (one self-join, one groupBy),
    sizes joined twice off ONE shared shingling exchange
    (``_shingle_sizes``), and ``max_doc_freq`` is the same quadratic
    guard: hot shingles leave CANDIDATE GENERATION only, the verify
    recount runs over all shingles so emitted fractions stay exact.

    Output: (d1, d2, n_inter, n1, n2, c12, c21), fractions one IEEE
    division of exact integers, round 4.
    """
    sh = distinct_shingles(documents, n)
    sizes = _shingle_sizes(sh)
    inter = _pair_intersections(sh, max_doc_freq)
    return (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1")
            ),
            "d1",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2")
            ),
            "d2",
        )
        .filter(
            F.col("n_inter") * F.lit(threshold_den)
            >= F.lit(threshold_num) * F.least("n1", "n2")
        )
        .select(
            "d1",
            "d2",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round(
                F.col("n_inter").cast("double")
                / F.col("n1").cast("double"),
                4,
            ).alias("c12"),
            F.round(
                F.col("n_inter").cast("double")
                / F.col("n2").cast("double"),
                4,
            ).alias("c21"),
        )
    )


#: Sorted-neighborhood window: each spine row is compared to its
#: ``SNM_WINDOW`` successors in key order (Hernández-Stolfo '95).
SNM_WINDOW = 10
#: Edit-distance gate for candidate pairs — 0 is excluded by
#: construction (exact-equal keys collapse into one spine row, so the
#: exact-dup case is already `dedup_exact_stats`' job).
SNM_MAX_DIST = 4


def snm_candidate_pairs(
    part: DataFrame,
    window: int = SNM_WINDOW,
    max_dist: int = SNM_MAX_DIST,
) -> DataFrame:
    """Sorted-neighborhood record-linkage candidates over part names —
    the blocking step of entity resolution (Hernández & Stolfo 1995):
    sort the distinct-key spine, slide a ``window``-row window, and
    gate the O(n·w) neighbor pairs by edit distance. The fuzzy-match
    complement to `dedup_exact_stats` (exact keys) and
    `dedup_ngram_jaccard` (shingled text): catalog listings that
    differ by a typo-sized edit sort near each other, so the
    quadratic all-pairs matcher collapses to a linear scan.

    Semantics: the spine is the DISTINCT ``p_name`` set with per-name
    part counts (running SNM over distinct keys instead of raw rows is
    the standard multiplicity fix — a key with 300 exact copies would
    otherwise waste the whole window on itself); spine rows rank by
    ``p_name`` (unique ⇒ cross-engine-stable); pair (a, b) iff
    ``0 < rank_b − rank_a ≤ window`` and
    ``1 ≤ levenshtein(name_a, name_b) ≤ max_dist`` (both engines'
    ``levenshtein`` is the standard unit-cost insert/delete/substitute
    distance).

    Scale shape: the spine is ONE map-side-combined groupBy of the
    name column (column-pruned scan); the neighbor pairing is an
    EQUI-join — each spine row re-emits at ranks ``rank+1 ..
    rank+window`` via an exploded ``sequence`` and joins back on rank
    (w× row inflation, bounded by the constant window), NOT a band
    join (no range/BNLJ anywhere; the plan audit stays green). The
    spine ranks on a single-total-order window over the distinct
    names (see `_snm_ranked_spine`).

    Output: (name_a, name_b, lev, parts_a, parts_b) — lev INT, counts
    BIGINT. Row count ≤ |spine|·window, in practice the lev-gated
    subset (~15% here).

    SNM is a HEURISTIC: a pair whose typo lands in the first
    characters sorts far apart and can fall outside any window. See
    `edit_distance_pairs` for the provably complete q-gram-prefix
    join when no-false-negatives matters more than the single-sort
    cost profile.
    """
    _snm_validate(window, max_dist)
    return _snm_pairs(_snm_ranked_spine(part), window, max_dist).select(
        "name_a", "name_b", "lev", "parts_a", "parts_b"
    )


def _snm_validate(window: int, max_dist: int) -> None:
    # sequence(rk+1, rk+window) would silently generate a DESCENDING
    # range for window < 1 (Spark's sequence reverses) — refuse loudly
    if window < 1:
        raise ValueError(f"snm: window must be >= 1, got {window}")
    if max_dist < 1:
        raise ValueError(
            f"snm: max_dist must be >= 1 (0 is the exact-dup case, "
            f"already collapsed into the spine), got {max_dist}"
        )


def _snm_ranked_spine(part: DataFrame) -> DataFrame:
    """Distinct-name spine with per-name counts and the unique
    name-order rank — shared by `snm_candidate_pairs` (pairs) and
    `snm_entity_clusters` (the rank doubles as the integer node id
    for connected components)."""
    spine = part.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    # a global window over the distinct-name aggregate, not
    # ranked_by_range: same ranks, 0.21 vs 0.57 s at sf0.1
    w = Window.orderBy("p_name")
    ranked = spine.select(
        "p_name", "n_parts", F.row_number().over(w).alias("rk")
    )
    # 2-3 consumers (pair join's two sides; the clusters' member
    # map-back) — checkpoint the spine-sized rank table so the
    # corpus groupBy(+rank) runs once, not per consumer
    return ranked.localCheckpoint(eager=False)


def _snm_pairs(
    ranked: DataFrame, window: int, max_dist: int
) -> DataFrame:
    """Lev-gated sorted-neighborhood pairs with both spine ranks
    carried (rk_a < rk_b by construction)."""
    left = ranked.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("parts_a"),
        F.col("rk").alias("rk_a"),
        F.explode(
            F.expr(f"sequence(rk + 1, rk + {window})")
        ).alias("_probe_rk"),
    )
    right = ranked.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("parts_b"),
        F.col("rk").alias("_probe_rk"),
    )
    paired = left.join(right, "_probe_rk").select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("int").alias("lev"),
        "parts_a",
        "parts_b",
        "rk_a",
        F.col("_probe_rk").alias("rk_b"),
    )
    return paired.filter(
        (F.col("lev") >= 1) & (F.col("lev") <= max_dist)
    )


def snm_entity_clusters(
    part: DataFrame,
    window: int = SNM_WINDOW,
    max_dist: int = SNM_MAX_DIST,
) -> DataFrame:
    """Entity-resolution clusters over the sorted-neighborhood match
    graph — the step after `snm_candidate_pairs` that turns pairwise
    matches into ENTITIES (Hernández-Stolfo §4: matches are
    transitive-closed, then each component merges into one canonical
    record): connected components over the lev-gated pair edges, one
    output row per multi-name cluster with the SURVIVOR record
    (canonical name = lexicographically-first member — equivalently
    the min spine rank, the same min-member-id rule as
    `dedup_clusters`) and the merged part count.

    Scale shape: the spine rank doubles as the integer node id, so
    the components come from the SHARED `hybrid_components` (driver
    union-find, or the large/small-star kernel above the cap — both
    exact on the long-diameter chains SNM edit distance produces).
    The edge list is SNM-bounded (≤ |spine|·window before the lev
    gate); membership maps back to names by ONE rank equi-join; the
    final rollup is cluster-count sized.
    Singleton names (no match edge) are omitted — the pair list's
    contract, same as `neardup_clusters`.

    Output: (canonical_name, n_names, n_parts) — BIGINT counts;
    `n_names ≥ 2` by construction.
    """
    members = _snm_members(part, window, max_dist)
    return members.groupBy("lbl").agg(
        F.min("p_name").alias("canonical_name"),
        F.count(F.lit(1)).cast("long").alias("n_names"),
        F.sum("n_parts").cast("long").alias("n_parts"),
    ).select("canonical_name", "n_names", "n_parts")


def _snm_members(part: DataFrame, window: int, max_dist: int) -> DataFrame:
    """Shared SNM cluster-member table: (node, lbl, p_name, n_parts)
    — one row per spine name that appears in ≥1 lev-gated pair, with
    its component label. Feeds `snm_entity_clusters` (per-cluster
    rollup) and `snm_survivor_map` (member → canonical mapping)."""
    _snm_validate(window, max_dist)
    ranked = _snm_ranked_spine(part)
    pairs = _snm_pairs(ranked, window, max_dist).select(
        F.col("rk_a").cast("long").alias("d1"),
        F.col("rk_b").cast("long").alias("d2"),
    )
    # the lev-gated match graph is rare by construction (≤ |spine|·window
    # candidates, few survive the gate); union-find and the star kernel
    # are both exact at any diameter, so a long edit-distance chain
    # cannot split an entity on either branch
    comp = hybrid_components(pairs).select("node", "lbl")
    return comp.join(
        ranked.select(
            F.col("rk").cast("long").alias("node"),
            "p_name",
            "n_parts",
        ),
        "node",
    )


def snm_survivor_map(
    part: DataFrame,
    window: int = SNM_WINDOW,
    max_dist: int = SNM_MAX_DIST,
) -> DataFrame:
    """Member → canonical replacement map for the SNM entity clusters —
    the lineage artifact `snm_entity_clusters` only summarizes: one row
    per NON-canonical cluster member, so downstream joins can redirect
    references from a merged-away name to its survivor (the
    `dedup_survivor_map` shape, for parts instead of documents: a
    catalog consolidation publishes this map alongside the merged
    entity table or every FK into the old names dangles).

    Pure composition off the shared `_snm_members` table: the member
    rows are localCheckpointed (duplicate-population-sized — names
    with no match edge never enter), then ONE cluster-sized rollup
    derives (canonical_name, n_names) per component and equi-joins
    back onto the members (cluster-count-sized, NOT forced broadcast —
    unbounded at scale; AQE picks broadcast when it fits) — no second
    pass over the corpus, no second CC run. Canonical =
    lexicographically-first member, identical to
    `snm_entity_clusters` (min spine rank ⇒ min name; the shared
    recursive-CTE oracle pins both).

    Output: (p_name, canonical_name, n_parts, n_names) for
    non-canonical members only — `n_parts` the member's OWN part
    count (what redirects), `n_names` the cluster width (lineage
    context). Row count = Σ(cluster_size − 1) ≤ pair-graph node
    count.
    """
    members = _snm_members(part, window, max_dist).localCheckpoint(
        eager=False
    )
    canon = members.groupBy("lbl").agg(
        F.min("p_name").alias("canonical_name"),
        F.count(F.lit(1)).cast("long").alias("n_names"),
    )
    return (
        members.join(canon, "lbl")
        .filter(F.col("p_name") != F.col("canonical_name"))
        .select("p_name", "canonical_name", "n_parts", "n_names")
    )


#: q-gram width for the edit-distance join's prefix filter.
EDJOIN_Q = 3
#: Edit-distance gate (1..d; 0 is the exact-dup case, collapsed into
#: the distinct spine like SNM).
EDJOIN_MAX_DIST = 2


def edit_distance_pairs(
    part: DataFrame,
    q: int = EDJOIN_Q,
    max_dist: int = EDJOIN_MAX_DIST,
) -> DataFrame:
    """COMPLETE edit-distance self-join over the distinct part-name
    spine — every pair with ``1 ≤ lev ≤ max_dist``, no false
    negatives, via q-gram prefix filtering (Gravano et al. VLDB '01
    count bound; Xiao/Wang/Lin ED-Join's fixed ``q·d+1`` prefix;
    Bayardo et al. AllPairs' rare-first global gram order). The
    exactness complement to `snm_candidate_pairs`: SNM's sliding
    window is a heuristic that can miss pairs sorting far apart (a
    typo in the FIRST character moves a name across the spine);
    this join is provably complete, at the cost of a gram index
    instead of one sort.

    Completeness (why the oracle can be the naive quadratic): an edit
    alters only the ≤ q substrings overlapping its position, so d
    edits destroy ≤ q·d gram OCCURRENCES; a LONG name (``len ≥
    q·(d+1)`` ⇒ ≥ q·d+1 occurrences) therefore always keeps ≥ 1
    common gram with any match. Under any global total order on
    grams, the size-``q·d+1`` prefixes of two matching long names
    must intersect: if both gram sets are large the classic
    exchange argument applies (a common gram outside both prefixes
    would have to sort after each prefix's grams — circular); if
    either set is small its prefix is the whole set and the
    ``|B \\ A| ≤ q·d`` bound lands a prefix gram in the other set.
    SHORT names (``len < q·(d+1)``) bypass grams entirely through an
    exact-length probe join (lev ≤ d bounds ``|len_a − len_b| ≤ d``,
    so each short name probes 2d+1 length buckets — the SNM
    ``sequence`` trick on lengths).

    Scale shape: every join is an EQUI-join — gram-frequency
    (map-side combined), prefix selection (a per-NAME window, ≤
    ``len`` rows per partition — never a global order), the
    prefix-gram self-join (rare-first order keeps per-gram fan-out
    low; the prefix is the ``q·d+1`` RAREST grams of each name, so
    stopword-grade grams never generate candidates), and the short
    length-bucket join. Candidates length-filter before the
    O(len²) `levenshtein` verify; no band join, no cartesian, no
    unbounded window. At 100 TB the gram index and candidate set
    are the only super-linear terms, both bounded by gram rarity —
    the same contract as the MinHash band join.

    Output: (name_a, name_b, lev) with ``name_a < name_b``, lev INT
    in [1, max_dist] — verified exact distances, not candidates.
    """
    if q < 2:
        raise ValueError(f"edjoin: q must be >= 2, got {q}")
    if max_dist < 1:
        raise ValueError(
            f"edjoin: max_dist must be >= 1 (0 is the exact-dup "
            f"case, collapsed into the distinct spine), got {max_dist}"
        )
    spine = (
        part.select("p_name")
        .distinct()
        .select("p_name", F.length("p_name").alias("_len"))
        # three consumers: long split, short split, short probe target
        .localCheckpoint(eager=False)
    )
    min_long = q * (max_dist + 1)
    longs = spine.filter(F.col("_len") >= min_long)
    shorts = spine.filter(F.col("_len") < min_long)
    grams = longs.select(
        "p_name",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(p_name) - {q} + 1),"
                    f" i -> substring(p_name, i, {q}))"
                )
            )
        ).alias("_gram"),
    )
    freq = grams.groupBy("_gram").agg(
        F.count(F.lit(1)).cast("long").alias("_df")
    )
    prefix_sz = q * max_dist + 1
    w = Window.partitionBy("p_name").orderBy("_df", "_gram")
    prefix = (
        grams.join(freq, "_gram")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_sz)
        .select("p_name", "_gram")
        # the self-join reads it twice
        .localCheckpoint(eager=False)
    )
    long_cand = (
        prefix.select(F.col("p_name").alias("name_a"), "_gram")
        .join(
            prefix.select(F.col("p_name").alias("name_b"), "_gram"),
            "_gram",
        )
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    probes = shorts.select(
        F.col("p_name").alias("_sname"),
        F.explode(
            F.expr(
                f"sequence(greatest(_len - {max_dist}, 0),"
                f" _len + {max_dist})"
            )
        ).alias("_len"),
    )
    short_cand = (
        probes.join(spine, "_len")
        .filter(F.col("_sname") != F.col("p_name"))
        .select(
            F.least("_sname", "p_name").alias("name_a"),
            F.greatest("_sname", "p_name").alias("name_b"),
        )
        .distinct()
    )
    # disjoint by construction (long path is long x long only; the
    # short path always involves a short name) — union'd distinct
    # anyway as cheap insurance on the candidate set
    cand = long_cand.union(short_cand).distinct()
    return (
        cand.filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= max_dist
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("lev"),
        )
        .filter((F.col("lev") >= 1) & (F.col("lev") <= max_dist))
    )


def jaccard_prefix_pairs(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via AllPairs prefix filtering
    (Chaudhuri/Ganti/Kaushik SSJoin ICDE '06; Bayardo/Ma/Srikant WWW
    '07) — VALUE-IDENTICAL to the uncapped `ngram_jaccard_pairs`
    (pinned) but with candidate fan-out bounded by shingle RARITY
    instead of by `max_doc_freq`'s semantics-changing cap: the
    uncapped equi-join explodes quadratically on any boilerplate
    shingle (d docs ⇒ d(d−1)/2 candidate rows), and the df cap fixes
    that by DROPPING pairs that only share hot shingles; prefix
    filtering keeps completeness — ``J(A,B) ≥ τ ⇒ |A∩B| ≥ ⌈τ·|A|⌉``,
    so under a global shingle order the first ``|A| − ⌈τ·|A|⌉ + 1``
    shingles of A (its PREFIX) must contain a common shingle with any
    match (if every common shingle sat past the prefix, fewer than
    ⌈τ|A|⌉ could be common) — and with the order = (df asc, shingle
    asc), hot shingles sit at the END of every prefix ordering and
    almost never enter one. This is the same rare-first prefix
    machinery as `edit_distance_pairs`, with the Jaccard overlap
    bound in place of the q-gram count bound.

    Scale shape: shingle df is one map-side aggregate; prefix
    selection is a per-DOC window (partition ≤ |doc shingles| — never
    a global order); candidates self-equi-join on the prefix shingles
    only; the exact verify is the shared `_verify_jaccard` (scores
    over ALL shingles — emitted jaccards are exact). At 100 TB the
    candidate volume is governed by rare-shingle collisions — the
    honest version of what the df cap approximates.

    Output: (d1, d2, jaccard round 4), identical rows to
    `ngram_jaccard_pairs(documents, n, threshold)`.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"jaccard_prefix: threshold must be in (0, 1], got "
            f"{threshold}"
        )
    sh = distinct_shingles(documents, n).localCheckpoint(eager=False)
    sizes = _shingle_sizes(sh)
    freq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("_df")
    )
    w = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    wn = Window.partitionBy("doc_id")
    prefix = (
        sh.join(freq, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wn).alias("_nsh"),
        )
        # prefix size = |A| - ceil(tau*|A|) + 1. The epsilon makes the
        # double-arithmetic ceil ONE-SIDED-safe: when tau*|A| is
        # mathematically an integer m, float rounding can land a hair
        # ABOVE m and ceil would return m+1, shrinking the prefix by
        # one shingle and (for some (tau, |A|)) losing a qualifying
        # pair. Under-rounding only ever ENLARGES the prefix — extra
        # candidates are re-verified exactly, so completeness is
        # preserved for every tau, not just the pinned defaults.
        .filter(
            F.col("_rn")
            <= F.col("_nsh")
            - F.ceil(F.lit(float(threshold)) * F.col("_nsh") - F.lit(1e-9))
            + 1
        )
        .select("doc_id", "shingle")
        .localCheckpoint(eager=False)  # the self-join reads it twice
    )
    cand = _candidate_pairs(prefix)
    return _verify_jaccard(cand, sh, threshold, sizes=sizes)

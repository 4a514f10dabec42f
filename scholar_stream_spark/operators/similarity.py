"""Similarity search over embedding columns (SURVEY.md §2.8).

Three paths, same output shape (query_id, neighbor_id, cos_sim, rank):

- ``cosine_topk`` — brute-force exact top-k: the correctness baseline.
  The (small) query set is broadcast against the corpus, cosine runs as
  JVM array expressions, and the per-query top-k is a ranking window.
- ``lsh_ann_topk`` — multi-table random-hyperplane LSH: stateless
  scale path. ``n_tables`` independent sign-pattern hash tables;
  candidates come from a (table, bucket) equi-join (cost ~ bucket
  occupancy, not corpus²), then exact cosine re-ranks. Recall is
  tunable via tables/bits/multi-probe and *measured* by ``ann_recall``;
  approximate by construction, so the driver checks it rows-only.
- ``ivf_topk`` — IVF-Flat: a coarse k-means quantizer (deterministic
  seeds + one Lloyd refinement, pure DataFrame algebra) partitions the
  corpus into cells; each query probes its ``n_probe`` nearest cells
  and exact cosine re-ranks the candidates. Search touches
  ~``n_probe/n_centroids`` of the corpus. The cell assignment is the
  natural *physical* partitioning key for a vector table at 100 TB —
  write the corpus bucketed by cell and a probe reads only its cells'
  files.

Hyperplanes/seeds are deterministic (seeded RNG / fixed vec_ids frozen
at import) — reproducible across runs and engines, no fit/state to
persist.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scholar_stream_spark.functions.vectors import cosine_from_norms, l2_norm
from scholar_stream_spark.plans import hybrid
from scholar_stream_spark.plans.hybrid import driver_rows_df
from scholar_stream_spark.plans.partitioning import scale_out

# scale_out is re-exported for callers/tests composing their own corpus
# staging; the operators below deliberately no longer wrap the
# embeddings scan in it (r17 optimization round): every kernel here is
# a few numpy flops per row, so fanning a small scan out to 32 tasks
# costs more in task round-trips than the parallelism returns (measured
# 440 -> 197 ms per training pass at sf0.1), while at 100 TB the scan's
# own partitioning already provides the parallelism.

ANN_TOPK = 5
ANN_NUM_QUERIES = 10
LSH_NUM_TABLES = 16
LSH_BITS_PER_TABLE = 4
EMBED_DIM = 64


def _seq_l2_norm(vec) -> float:
    """Driver-side L2 norm with SEQUENTIAL accumulation in element
    order — bit-identical to the JVM ``l2_norm`` (``aggregate`` over
    doubles, left-associative) and to the oracle's explicit 0.0 + t1 +
    t2 + ... sum, unlike numpy's pairwise-summed ``linalg.norm``. Only
    ever applied to driver-side query batches (tiny by contract), so
    the Python loop costs nothing; it is what lets a persisted-index
    probe be value-checked against the exact-cosine SQL oracle."""
    acc = 0.0
    for v in vec:
        acc += float(v) * float(v)
    return math.sqrt(acc)


def _query_set(embeddings: DataFrame, n_queries: int) -> DataFrame:
    # limit(n_queries) is a no-op on the data (vec_id is unique, so the
    # filter already admits ≤ n_queries rows) but makes the bound
    # STRUCTURAL: the broadcast build side of the pair join carries a
    # Limit the fleet plan audit recognizes as bounded, independent of
    # any data contract.
    return (
        embeddings.filter(F.col("vec_id") < n_queries)
        .limit(n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_embedding"),
            l2_norm(F.col("embedding")).alias("q_norm"),
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    k: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Plan shape: broadcast(query set) ⨯ corpus → narrow projection
    computing cosine → per-query ranking window. The corpus is scanned
    once, never shuffled except by query_id for the window (bounded by
    n_queries × corpus candidates after the rank filter — we pre-prune
    with the window immediately). Norms are precomputed per vector on
    both sides so the pair loop does one dot product, not three.
    """
    q = _query_set(embeddings, n_queries)
    # scale_out restored for the exact rank-window consumers (r18, the
    # r17 verdict's watch item): unlike the light train/assign kernels
    # the r17 fan-out removal targeted, these multiply every corpus row
    # by |queries| interpreted 64-term cosine folds before the rank
    # window — measured 0.74 -> 0.45 s (hard negatives, isolated
    # best-of-5 at sf0.1) at native single-partition vs spread; at
    # 100 TB the scan is already wide and scale_out is a no-op.
    corpus = scale_out(embeddings).select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm")
    )
    joined = corpus.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )
    return _rerank_topk(joined, k)


#: Hard-negative mining band: candidates at or above this cosine are
#: treated as positives/near-duplicates (the `dedup_embedding` family's
#: near-dup grain) and EXCLUDED — a "hard negative" is the most similar
#: thing that is NOT the same content.
HARD_NEG_MAX_COS = 0.95


def hard_negatives_topk(
    embeddings: DataFrame,
    k: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    max_cos: float = HARD_NEG_MAX_COS,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each query vector, the top-k most-similar corpus vectors whose
    cosine is BELOW ``max_cos`` — near-duplicates are excluded as
    positives-in-disguise (training a retriever on its own paraphrases
    as negatives poisons it; the classic ANCE/DPR mining step, public
    knowledge), and what remains is exactly the high-similarity
    non-duplicate band that makes negatives hard.

    Plan shape: identical to `cosine_topk` (broadcast query set ⨯
    one corpus scan → narrow cosine projection → per-query rank
    window) with one extra filter BEFORE the window, so the excluded
    near-dup band never enters the rank shuffle. The band decision
    compares the same left-to-right 64-term dot both engines compute —
    boundary-exact cross-engine for the same reason the rank order is.

    Output: (query_id, neighbor_id, cos_sim round 4, rank 1..k).
    """
    if not 0.0 < max_cos <= 1.0:
        raise ValueError(
            f"hard_negatives: max_cos must be in (0, 1], got {max_cos}"
        )
    q = _query_set(embeddings, n_queries)
    # scale_out restored for the exact rank-window consumers (r18, the
    # r17 verdict's watch item): unlike the light train/assign kernels
    # the r17 fan-out removal targeted, these multiply every corpus row
    # by |queries| interpreted 64-term cosine folds before the rank
    # window — measured 0.74 -> 0.45 s (hard negatives, isolated
    # best-of-5 at sf0.1) at native single-partition vs spread; at
    # 100 TB the scan is already wide and scale_out is a no-op.
    corpus = scale_out(embeddings).select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm")
    )
    joined = corpus.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )
    cos = cosine_from_norms(
        F.col("q_embedding"),
        F.col("embedding"),
        F.col("q_norm"),
        F.col("norm"),
    )
    banded = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cos.alias("cos_sim_raw"),
    ).filter(F.col("cos_sim_raw") < F.lit(float(max_cos)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_raw"), F.asc("neighbor_id")
    )
    return (
        banded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim_raw", 4).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _hyperplanes(n_planes: int, dim: int = EMBED_DIM):
    rng = random.Random(1337)
    return [
        [rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _bucket_udf(planes, n_tables: int, bits: int):
    """Vectorized per-table LSH bucketing: one Arrow batch → one BLAS
    matmul against the hyperplane matrix → sign bits → ``array<int>``
    of ``n_tables`` bucket ids per vector.

    This replaces ``transform(planes, aggregate(zip_with(...)))`` —
    higher-order functions are *interpreted* per row (no whole-stage
    codegen), so the old plan paid 64 lambda dot products per vector in
    the hot path. Bucketing is hash computation, not oracle-checked
    arithmetic: the only requirement is that corpus and query sides
    agree on the sign pattern, which holds because BOTH run this exact
    kernel (same matmul, same operand order).
    """
    planes_m = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    weights = (1 << np.arange(bits, dtype=np.int64))[None, None, :]

    @F.pandas_udf("array<int>")
    def _buckets(emb: pd.Series) -> pd.Series:
        m = np.array(list(emb), dtype=np.float64)  # (batch, dim)
        signs = (m @ planes_m.T) >= 0  # (batch, n_planes)
        table_bits = signs.reshape(len(m), n_tables, bits)
        bks = (table_bits * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(bks))

    return _buckets


def lsh_ann_topk(
    embeddings: DataFrame,
    k: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    n_tables: int = LSH_NUM_TABLES,
    bits_per_table: int = LSH_BITS_PER_TABLE,
    multi_probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    The standard (Indyk-Motwani) construction: ``n_tables`` independent
    hash tables of ``bits_per_table`` sign bits each; a corpus vector is
    a candidate for a query iff they share a bucket in ≥1 table. Per
    table the collision probability for angle θ is (1-θ/π)^bits, so
    recall ≈ 1-(1-(1-θ/π)^bits)^n_tables — tables buy recall, bits buy
    selectivity. Defaults (16×4) give ~0.9 measured recall on the
    synthetic near-uniform corpus (``ann_recall``), whose top-k
    neighbors sit at cos≈0.3 — real embedding corpora cluster much
    tighter, so the same structure gets *better* selectivity there; at
    100 TB you raise ``bits_per_table`` with corpus size.

    Plan shape: the corpus is bucketed in one narrow Arrow projection
    (``_bucket_udf`` — a BLAS matmul per batch) and exploded to
    (table, bucket) postings — the L× posting duplication is
    the classic LSH index cost (ids only at rest; here rows, because the
    re-rank needs the vector anyway). Candidates come from a broadcast
    equi-join on (table, bucket); a pair colliding in several tables is
    collapsed by a (query_id, neighbor_id) max-aggregate before the
    ranking window (exact duplicates, so max = the value). Never a cross
    join. ``multi_probe_bits=1`` additionally probes the
    hamming-1 buckets per table (query side only — probes × tables
    rows on the broadcast side, corpus untouched).
    """
    planes = _hyperplanes(n_tables * bits_per_table)
    buckets = _bucket_udf(planes, n_tables, bits_per_table)
    corpus = (
        embeddings
        .select(
            "vec_id",
            "embedding",
            l2_norm(F.col("embedding")).alias("norm"),
            buckets(F.col("embedding")).alias("bks"),
        )
        .select(
            "vec_id",
            "embedding",
            "norm",
            F.posexplode(F.col("bks")).alias("t", "b"),
        )
    )
    base_q = (
        _query_set(embeddings, n_queries)
        .select(
            "query_id",
            "q_embedding",
            "q_norm",
            buckets(F.col("q_embedding")).alias("bks"),
        )
        .select(
            "query_id",
            "q_embedding",
            "q_norm",
            F.posexplode(F.col("bks")).alias("q_t", "qb"),
        )
    )
    probes = [F.col("qb")]
    if multi_probe_bits >= 1:
        probes += [
            F.col("qb").bitwiseXOR(F.lit(2**p))
            for p in range(bits_per_table)
        ]
    q = base_q.select(
        "query_id",
        "q_embedding",
        "q_norm",
        "q_t",
        F.explode(F.array(*probes)).alias("q_b"),
    )
    joined = corpus.join(
        F.broadcast(q),
        (F.col("t") == F.col("q_t"))
        & (F.col("b") == F.col("q_b"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    cos = cosine_from_norms(
        F.col("q_embedding"), F.col("embedding"), F.col("q_norm"), F.col("norm")
    )
    # cosine BEFORE the dedup shuffle: a pair colliding in several tables
    # is collapsed by max (values identical), and only (ids, cos) scalars
    # move — never the vectors.
    scored = (
        joined.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim_raw"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim_raw").alias("cos_sim_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim_raw", 4).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


IVF_NUM_CENTROIDS = 16
IVF_NUM_PROBE = 2


def _centroid_matrix(centroids: DataFrame):
    """Collect the (tiny, ``n_centroids``-row) centroid table to a
    driver-side numpy matrix — the FAISS-train analog. Deliberate
    ``collect()``: the quantizer IS driver state in every real ANN
    system; what stays distributed is the corpus."""
    rows = sorted(centroids.collect(), key=lambda r: r["cell"])
    cells = np.array([r["cell"] for r in rows], dtype=np.int64)
    mat = np.array([r["c_embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0  # zero-norm centroid → sim 0, never wins
    return cells, mat / norms[:, None]


def _argmax_cell_udf(cells, cmat_normed):
    """Vectorized nearest-centroid assignment: one BLAS matmul per
    Arrow batch, ``argmax`` per row (first max = lowest cell id, the
    same tie-break as the window path's ``desc sim, asc cell``).

    Row norms divide out of ``argmax(dot/|c|/|v|)``, so only the
    centroid side is pre-normalized — one multiply-free kernel.
    """

    @F.pandas_udf("bigint")
    def _cell(emb: pd.Series) -> pd.Series:
        m = np.array(list(emb), dtype=np.float64)
        best = np.argmax(m @ cmat_normed.T, axis=1)
        return pd.Series(cells[best])

    return _cell


def _assign_cells(vectors: DataFrame, centroids: DataFrame, n_best: int) -> DataFrame:
    """Attach the ``n_best`` nearest centroid ids (by cosine) to each vector.

    ``n_best=1`` (both corpus passes of the index build) is a **narrow
    argmax**: the centroid matrix is collected driver-side (tiny) and
    each Arrow batch picks its best cell in one numpy matmul
    (``_argmax_cell_udf``) — one projection, zero Exchange on the
    corpus side. The naive alternative (explode 16 centroids per
    vector, rank with a ``Window.partitionBy(vec_id)``) shuffles
    n_centroids× the corpus by vec_id — a scale-killer at 100 TB.

    ``n_best>1`` is only ever the query side (``n_probe`` cells for a
    handful of query vectors), where the explode+window plan is fine.
    """
    if n_best == 1:
        cells, cmat = _centroid_matrix(centroids)
        return vectors.withColumn(
            "cell", _argmax_cell_udf(cells, cmat)(F.col("embedding"))
        )

    scored = vectors.join(F.broadcast(centroids))
    sim = cosine_from_norms(
        F.col("embedding"), F.col("c_embedding"), F.col("norm"), F.col("c_norm")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("cell"))
    return (
        scored.withColumn("c_sim", sim)
        .withColumn("c_rank", F.row_number().over(w))
        .filter(F.col("c_rank") <= n_best)
        .drop("c_embedding", "c_norm", "c_sim", "c_rank")
    )


def _refined_centroids(corpus: DataFrame, cells, cmat_normed, rows=None):
    """One Lloyd refinement as a single corpus pass with map-side
    combine: each Arrow batch assigns its vectors to the nearest seed
    AND emits per-cell partial ``(count, sum-vector)`` — so only
    ~``n_batches × n_cells`` tiny rows ever leave the executors,
    collected straight to the driver with zero Exchange. (The
    pure-DataFrame alternative — posexplode every vector's 64 dims and
    groupBy (cell, pos) — shuffles 64× the corpus.) The combined means
    become the refined quantizer matrix.

    ``rows`` (r17): the ``_train_rows`` probe of the SAME row set as
    ``corpus`` — the identical partial is computed driver-side (one
    batch) and folded through the unchanged combine.
    """

    def _batch_partials(mat: np.ndarray):
        best = np.argmax(mat @ cmat_normed.T, axis=1)
        out_c, out_n, out_s = [], [], []
        for j in np.unique(best):
            sel = mat[best == j]
            out_c.append(int(cells[j]))
            out_n.append(len(sel))
            out_s.append(sel.sum(axis=0))
        return out_c, out_n, out_s

    if rows is not None:
        out_c, out_n, out_s = _batch_partials(
            np.array([r["embedding"] for r in rows], dtype=np.float64)
        )
        combined = [
            {"cell": c, "n": n, "s": s}
            for c, n, s in zip(out_c, out_n, out_s)
        ]
    else:

        def partials(batches):
            for pdf in batches:
                m = np.array(list(pdf["embedding"]), dtype=np.float64)
                out_c, out_n, out_s = _batch_partials(m)
                yield pd.DataFrame(
                    {"cell": out_c, "n": out_n, "s": out_s}
                )

        # combine driver-side: the partials are ≤ n_batches × n_cells
        # rows of (cell, count, 64-dim sum) — collecting them directly
        # is one stage with zero Exchange; a posexplode+groupBy combine
        # would add a 64×-partials shuffle and a whole extra stage for
        # rows that fit in a single numpy call anyway.
        combined = (
            corpus.select("embedding")
            .mapInPandas(partials, "cell long, n long, s array<double>")
            .collect()
        )
    by_cell: dict[int, np.ndarray] = {}
    counts: dict[int, int] = {}
    for r in combined:
        vec = np.asarray(r["s"], dtype=np.float64)
        if r["cell"] in by_cell:
            by_cell[r["cell"]] = by_cell[r["cell"]] + vec
            counts[r["cell"]] += r["n"]
        else:
            by_cell[r["cell"]] = vec
            counts[r["cell"]] = r["n"]
    new_cells = np.array(sorted(by_cell), dtype=np.int64)
    mat = np.array([by_cell[c] for c in new_cells], dtype=np.float64)
    cnt = np.array([counts[c] for c in new_cells], dtype=np.float64)
    mat = mat / cnt[:, None]
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return new_cells, mat / norms[:, None], mat


def ivf_topk(
    embeddings: DataFrame,
    k: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    n_centroids: int = IVF_NUM_CENTROIDS,
    n_probe: int = IVF_NUM_PROBE,
    small_rows: list | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: train a coarse quantizer, bucket the
    corpus by nearest centroid, probe ``n_probe`` cells per query.

    Train is ONE corpus pass (seed assignment + Lloyd partial sums in a
    single Arrow kernel, ``_refined_centroids``), after which the
    quantizer is driver-side numpy state — the FAISS shape. Index is a
    second pass (argmax kernel, zero Exchange); at 100 TB the cell
    column is the physical partitioning key you'd bucket the vector
    table by, so a probe reads only its cells' files. Search computes
    the (tiny) query→probe-cell mapping driver-side and broadcast-joins
    it against the indexed corpus on cell; exact cosine re-ranks.
    Approximate by construction → rows-only driver check; quality is
    pinned by ``ann_recall``.
    """
    corpus = embeddings.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm")
    )

    # --- train: deterministic seeds, one Lloyd refinement, one pass ---
    # one scan serves both driver-side small sets (seeds ∪ queries);
    # callers that already hold them (ann_recall) pass small_rows in to
    # skip the job. Seeds are the n_centroids LOWEST vec_ids present
    # (sort/take, not a `< n_centroids` filter) so a gapped or filtered
    # id space still trains a full quantizer; queries keep the id-based
    # contract (`vec_id < n_queries`, mirrored by the exact oracle).
    rows = _train_rows(embeddings)
    if small_rows is None:
        if rows is not None:
            small_rows = sorted(rows, key=lambda r: r["vec_id"])[
                : max(n_centroids, n_queries)
            ]
        else:
            small_rows = (
                embeddings.select("vec_id", "embedding")
                .orderBy("vec_id")
                .limit(max(n_centroids, n_queries))
                .collect()
            )
    seed_rows = small_rows[:n_centroids]
    if len(seed_rows) < n_centroids:
        raise ValueError(
            f"ivf_topk: need >= {n_centroids} vectors to train the "
            f"quantizer, got {len(seed_rows)}"
        )
    seed_cells = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    seed_mat = np.array([r["embedding"] for r in seed_rows], dtype=np.float64)
    seed_norms = np.linalg.norm(seed_mat, axis=1)
    seed_norms[seed_norms == 0] = 1.0
    cells, cmat_normed, _ = _refined_centroids(
        corpus, seed_cells, seed_mat / seed_norms[:, None], rows=rows
    )

    # --- index: corpus bucketed by (refined) nearest cell -------------
    indexed = corpus.withColumn(
        "cell", _argmax_cell_udf(cells, cmat_normed)(F.col("embedding"))
    )

    # --- search: probe cells per query computed driver-side -----------
    q_rows = [r for r in small_rows if r["vec_id"] < n_queries]
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_norm = np.array(
        [_seq_l2_norm(r["embedding"]) for r in q_rows], dtype=np.float64
    )
    sims = q_mat @ cmat_normed.T  # row norm divides out of the ranking
    order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
    probe_rows = [
        (
            int(r["vec_id"]),
            [float(v) for v in r["embedding"]],
            float(q_norm[i]),
            int(cells[c]),
        )
        for i, r in enumerate(q_rows)
        for c in order[i]
    ]
    q_cells = driver_rows_df(embeddings.sparkSession,
        probe_rows,
        "query_id long, q_embedding array<double>, q_norm double, cell long",
    )
    cand = indexed.join(
        F.broadcast(q_cells),
        (indexed["cell"] == q_cells["cell"])
        & (indexed["vec_id"] != q_cells["query_id"]),
    )
    return _rerank_topk(cand, k)


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = IVF_NUM_CENTROIDS,
) -> None:
    """Persist an IVF index: the corpus bucketed by nearest cell and
    written PARTITIONED BY cell (``write_partitioned`` small-file
    discipline), plus the trained quantizer as a k-row side table.

    This is the serving layout the ``ivf_topk`` docstring promises: at
    100 TB, cell = the physical partition key, so a probe reads only
    its cells' files — partition pruning does the candidate filtering
    before a single vector byte is scanned (plan-pinned in tests).
    """
    from scholar_stream_spark.sources.table_sink import write_partitioned

    corpus = embeddings.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm")
    )
    rows = _train_rows(embeddings)
    if rows is not None:
        seed_rows = sorted(rows, key=lambda r: r["vec_id"])[:n_centroids]
    else:
        seed_rows = (
            embeddings.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(n_centroids)
            .collect()
        )
    if len(seed_rows) < n_centroids:
        raise ValueError(
            f"write_ivf_index: need >= {n_centroids} vectors to train "
            f"the quantizer, got {len(seed_rows)}"
        )
    seed_cells = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    seed_mat = np.array([r["embedding"] for r in seed_rows], dtype=np.float64)
    seed_norms = np.linalg.norm(seed_mat, axis=1)
    seed_norms[seed_norms == 0] = 1.0
    cells, cmat_normed, _ = _refined_centroids(
        corpus, seed_cells, seed_mat / seed_norms[:, None], rows=rows
    )
    indexed = corpus.withColumn(
        "cell", _argmax_cell_udf(cells, cmat_normed)(F.col("embedding"))
    )
    write_partitioned(
        indexed, f"{path}/vectors", ["cell"], sort_cols=["vec_id"]
    )
    quantizer = driver_rows_df(embeddings.sparkSession,
        [
            (int(c), [float(x) for x in cmat_normed[i]])
            for i, c in enumerate(cells)
        ],
        "cell long, centroid array<double>",
    )
    quantizer.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/quantizer"
    )


#: Embedding-drift screen knobs: micro-unit quantum for exact
#: component sums, and how many top-shifted dimensions to report per
#: label.
DRIFT_QUANT = 1_000_000
DRIFT_TOP_DIMS = 5


def embedding_drift(embeddings: DataFrame) -> DataFrame:
    """Embedding-centroid drift screen: per label, the dimensions whose
    MEAN moved most between two snapshot halves — the vector-modality
    companion to the scalar PSI screen (``population_stability`` flags
    shifted VALUES; this flags a shifted EMBEDDING DISTRIBUTION, the
    signal that an encoder was retrained or the underlying content
    changed under a frozen encoder). Halves are emulated
    ``vec_id % 2`` (deterministic; swap in a real snapshot column
    unchanged).

    Scale shape: ONE scan posexplodes to (label, dim, side) component
    rows — a ×dim blowup that map-side combine collapses to
    |labels|·dims·2 partials per partition BEFORE the only shuffle, so
    the exchange is grid-sized, not corpus-sized. Components are
    quantized to integer micro-units and summed EXACTLY (partition-
    order independent, engine-identical); each mean is one division of
    exact operands, the shift one subtraction — no accumulating float
    sums anywhere. Top-dims ranking is a window over the
    |labels|×dims grid with a (shift desc, dim) total order.

    Output: (label, dim, mean_ref, mean_cur, abs_shift) — top
    ``DRIFT_TOP_DIMS`` dims per label; label asc, shift desc, dim asc.
    """
    comp = embeddings.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_ref"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    q = comp.select(
        "label",
        "is_ref",
        "dim",
        F.floor(F.col("val").cast("double") * DRIFT_QUANT + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    grid = q.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("is_ref"), F.col("qv"))).alias("sq_ref"),
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
        .cast("long")
        .alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), F.col("qv"))).alias("sq_cur"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    denom = float(DRIFT_QUANT)
    stats = grid.select(
        "label",
        "dim",
        (
            F.col("sq_ref").cast("double")
            / (F.lit(denom) * F.col("n_ref").cast("double"))
        ).alias("mean_ref"),
        (
            F.col("sq_cur").cast("double")
            / (F.lit(denom) * F.col("n_cur").cast("double"))
        ).alias("mean_cur"),
    ).select(
        "label",
        "dim",
        "mean_ref",
        "mean_cur",
        F.abs(F.col("mean_ref") - F.col("mean_cur")).alias("abs_shift"),
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("abs_shift"), F.asc("dim")
    )
    return (
        stats.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= DRIFT_TOP_DIMS)
        .drop("_rk")
        .orderBy(F.asc("label"), F.desc("abs_shift"), F.asc("dim"))
    )


def embedding_data_card(embeddings: DataFrame) -> DataFrame:
    """Embedding-table data card: per-label vector counts, dimension
    bounds (a dim_min ≠ dim_max row IS the data-quality finding — mixed
    encoder outputs in one table), and exact L2-norm quantiles — plus a
    TOTAL rollup row, mirroring ``corpus_data_card`` for the vector
    modality. The norm distribution is the first thing an embedding
    reviewer asks for: un-normalized rows break cosine-vs-dot
    assumptions and norm outliers flag encoder failures.

    Scale shape: ONE narrow projection computes size + sequential-fold
    norm per row (JVM codegen, no Python), then a label-keyed map-side
    agg (|labels| rows) and a global fold — the vector table is
    scanned once and never shuffled beyond the keys-sized exchange.
    Exact ``percentile`` keeps it oracle-checkable; swap
    ``percentile_approx`` at extreme label cardinality (the documented
    ``value_percentiles`` trade).

    Output: (label, n_vectors, dim_min, dim_max, norm_p50, norm_p99,
    norm_min, norm_max), one row per label + label='TOTAL'.
    """
    base = embeddings.select(
        F.col("label").cast("string").alias("label"),
        F.size("embedding").alias("dim"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )

    def _aggs():
        return [
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("dim").cast("long").alias("dim_min"),
            F.max("dim").cast("long").alias("dim_max"),
            F.round(F.expr("percentile(nrm, 0.5)"), 4).alias("norm_p50"),
            F.round(F.expr("percentile(nrm, 0.99)"), 4).alias("norm_p99"),
            F.round(F.min("nrm"), 4).alias("norm_min"),
            F.round(F.max("nrm"), 4).alias("norm_max"),
        ]

    per_label = base.groupBy("label").agg(*_aggs())
    total = base.agg(*_aggs()).select(F.lit("TOTAL").alias("label"), "*")
    return per_label.unionByName(total)


def ivf_index_stats(spark, path: str) -> DataFrame:
    """IVF index health table: per-cell vector counts off the PERSISTED
    serving layout — the balance diagnostic read before trusting probe
    latencies (a hot cell serves every query routed to it; imbalance is
    why IVF probes miss their latency budget long before recall
    degrades). The ``lsh_index_stats`` role, for the IVF lifecycle.

    Scale shape: the vectors table is partitioned by cell on disk, so
    the per-cell count is a partition-column-only aggregate — column
    pruning means NO vector bytes are read at all (the scan schema is
    the partition key). Output is |cells|-sized.

    Output: (cell, n_vectors, share), cell-ordered, share = fraction
    of all indexed vectors.
    """
    cells = (
        spark.read.parquet(f"{path}/vectors")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )
    total = cells.agg(F.sum("n_vectors").alias("_total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("_total"), 4).alias("share"),
        )
        .orderBy("cell")
    )


def ivf_append_index(embeddings: DataFrame, path: str) -> None:
    """Append a NEW embedding batch to a persisted IVF index using the
    STORED quantizer — no retrain, no rewrite of existing files: the
    incremental half of the serving story (``write_ivf_index`` builds,
    this lands the nightly/streaming embedding batches). The quantizer
    loads driver-side (k rows), assignment is the same zero-Exchange
    argmax kernel as the build, and the write APPENDS cell-partitioned
    files, so existing partitions only gain files. Probes see the new
    vectors immediately (partition listing picks up the files).

    Operational notes, the FAISS pattern: retrain + rebuild periodically
    when the data distribution drifts (appends only ever use the frozen
    quantizer, so cells degrade gracefully, never silently re-map), and
    re-run compaction if micro-batch appends accrete small files.
    Idempotence is the CALLER's job (e.g. dedup the batch or key appends
    by batch id) — appending the same batch twice lands its vectors
    twice.
    """
    from scholar_stream_spark.sources.table_sink import write_partitioned

    spark = embeddings.sparkSession
    qrows = spark.read.parquet(f"{path}/quantizer").collect()
    cells = np.array([r["cell"] for r in qrows], dtype=np.int64)
    cmat_normed = np.array([r["centroid"] for r in qrows], dtype=np.float64)
    corpus = embeddings.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm")
    )
    indexed = corpus.withColumn(
        "cell", _argmax_cell_udf(cells, cmat_normed)(F.col("embedding"))
    )
    write_partitioned(
        indexed, f"{path}/vectors", ["cell"], sort_cols=["vec_id"],
        mode="append",
    )


def compact_ivf_index(
    spark, index_path: str, out_path: str, exclude_vec_ids=None
) -> None:
    """Rewrite an IVF index whose cell partitions have accreted small
    append files (``ivf_append_index`` once per micro-batch/night) back
    into the serving layout ``write_ivf_index`` produces — the IVF twin
    of ``compact_neardup_index``, closing the compaction promise in the
    append docstring. Every probe pays file-listing + parquet-footer
    reads per file in each probed cell, so after B appends a probe costs
    O(B) metadata per cell regardless of data size; compaction folds
    each cell back to few vec_id-sorted files (ONE task per cell via
    the hash-repartition in ``write_partitioned``, split only by the
    1M-row file cap) and copies the quantizer sidecar unchanged, so the
    compacted index is probe-identical by construction — same rows
    (minus ``exclude_vec_ids`` when given: the deletion path reuses
    this rewrite so the serving layout lives in one place), same
    frozen quantizer, same cell assignment. Compact to a NEW path
    and swap atomically; writing over a live index a probe is reading
    is the caller's race (same contract as the near-dup compactor).
    """
    from scholar_stream_spark.sources.table_sink import write_partitioned

    vectors = spark.read.option(
        "basePath", f"{index_path}/vectors"
    ).parquet(f"{index_path}/vectors")
    if exclude_vec_ids is not None:
        ids = driver_rows_df(spark,
            [(int(i),) for i in exclude_vec_ids], "vec_id long"
        )
        vectors = vectors.join(F.broadcast(ids), "vec_id", "left_anti")
    write_partitioned(
        vectors, f"{out_path}/vectors", ["cell"], sort_cols=["vec_id"]
    )
    spark.read.parquet(f"{index_path}/quantizer").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out_path}/quantizer")


def ivf_probe_index(
    spark,
    path: str,
    queries: list,
    k: int = ANN_TOPK,
    n_probe: int = IVF_NUM_PROBE,
) -> DataFrame:
    """Top-k search over a persisted IVF index (``write_ivf_index``).

    ``queries`` is a list of ``(query_id, embedding)`` rows (driver-side
    by contract — a query batch, not a corpus). The quantizer (k rows)
    loads driver-side; probe cells per query are picked by numpy; the
    vectors table is read WITH a ``cell IN (...)`` filter, so only the
    probed partitions' files are listed and scanned (PartitionFilters —
    the whole point of the layout); exact cosine re-ranks.
    """
    qrows = spark.read.parquet(f"{path}/quantizer").collect()
    cells = np.array([r["cell"] for r in qrows], dtype=np.int64)
    cmat_normed = np.array([r["centroid"] for r in qrows], dtype=np.float64)
    q_mat = np.array([list(e) for _, e in queries], dtype=np.float64)
    q_norm = np.array(
        [_seq_l2_norm(e) for _, e in queries], dtype=np.float64
    )
    q_norm[q_norm == 0] = 1.0
    sims = q_mat @ cmat_normed.T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
    probe_rows = [
        (
            int(qid),
            [float(v) for v in emb],
            float(q_norm[i]),
            int(cells[c]),
        )
        for i, (qid, emb) in enumerate(queries)
        for c in order[i]
    ]
    q_cells = driver_rows_df(spark,
        probe_rows,
        "query_id long, q_embedding array<double>, q_norm double, cell long",
    )
    probed_cells = sorted({r[3] for r in probe_rows})
    vectors = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cell").isin(probed_cells)  # partition pruning, plan-pinned
    )
    cand = vectors.join(
        F.broadcast(q_cells),
        (vectors["cell"] == q_cells["cell"])
        & (vectors["vec_id"] != q_cells["query_id"]),
    )
    return _rerank_topk(cand, k)


def _rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact-cosine re-rank of a candidate set to per-query top-k.

    Deliberately JVM-expression cosine, NOT an Arrow kernel: after the
    candidate join both vectors already sit JVM-side, so a per-pair
    pandas UDF would serialize 2×64 doubles per candidate to Python —
    measured ~2× slower than the interpreted ``aggregate`` dot at
    typical candidate densities. Arrow kernels win only when each row
    is shipped ONCE and scored against many queries in-kernel
    (``cosine_topk_pandas``'s batch matmul), not per pair."""
    cos = cosine_from_norms(
        F.col("q_embedding"), F.col("embedding"), F.col("q_norm"), F.col("norm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_raw"), F.asc("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim_raw"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim_raw", 4).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def cosine_topk_pandas(
    embeddings: DataFrame,
    k: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    q_rows: list | None = None,
) -> DataFrame:
    """Exact cosine top-k via a vectorized Arrow/numpy kernel — the
    wide-vector/huge-candidate-set variant of ``cosine_topk``
    (``functions/vectors.py`` module doc).

    The JVM-expression dot product costs one codegen'd loop per pair
    per dimension; for wide embeddings the winning layout is a matrix
    multiply. The (tiny, by contract) query set is collected to a
    normalized numpy matrix ONCE on the driver and closed over by a
    ``mapInPandas`` kernel: each Arrow batch of the corpus becomes one
    ``C @ Q.T`` BLAS call, and only each batch's per-query top-k rows
    are emitted — so the final ranking window shuffles at most
    (k × n_queries) rows per batch, never the corpus. Same output
    schema and values as ``cosine_topk`` (numpy's pairwise summation
    differs from sequential by ~1 ulp; equality after round-4 is
    asserted in tests).
    """
    return _batch_topk_search(embeddings, k, n_queries, q_rows=q_rows)


def _batch_topk_search(
    embeddings: DataFrame,
    k: int,
    n_queries: int,
    q_rows: list | None = None,
    corpus_transform=None,
) -> DataFrame:
    """Shared brute-force search kernel behind ``cosine_topk_pandas``
    (``corpus_transform=None``, exact) and ``cosine_topk_int8``
    (transform = quantize+dequantize) — one kernel to maintain, so
    tie-break/guard fixes cannot drift between the twins.

    Per-batch prune is STABLE under partitioning: candidates sort by
    (cosine desc, neighbor_id asc) — the same total order as the final
    ranking window — so a cosine tie straddling a batch's k-th slot
    always keeps the lower id, no matter how rows land in Arrow
    batches. Zero-norm rows divide by 1 (sim 0, never ranked)."""
    import numpy as np

    if q_rows is None:
        q_rows = (
            embeddings.filter(F.col("vec_id") < n_queries)
            .select("vec_id", "embedding")
            .collect()  # the query set is small by definition (= broadcast)
        )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = 1.0

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            if corpus_transform is not None:
                c_mat = corpus_transform(c_mat)
            c_norm = np.linalg.norm(c_mat, axis=1)
            c_norm[c_norm == 0] = 1.0
            sims = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                col = sims[:, j]
                cand = np.flatnonzero(ids != q_ids[j])  # self excluded
                if len(cand) == 0:
                    continue
                # lexsort: primary -cos (desc), secondary id (asc)
                order = np.lexsort((ids[cand], -col[cand]))[:k]
                top = cand[order]
                out_q.extend([q_ids[j]] * len(top))
                out_n.extend(ids[top])
                out_s.extend(col[top])
            yield pd.DataFrame(
                {
                    "query_id": np.array(out_q, dtype=np.int64),
                    "neighbor_id": np.array(out_n, dtype=np.int64),
                    "cos_sim_raw": np.array(out_s, dtype=np.float64),
                }
            )

    partial = embeddings.mapInPandas(
        kernel, "query_id long, neighbor_id long, cos_sim_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_raw"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim_raw", 4).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


#: int8 quantization range (symmetric, sign-preserving).
QUANT_MAX = 127


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization per vector — the storage/IO
    half of ANN at scale: a float32→int8 corpus is 4× smaller, so a
    probe reads 4× fewer bytes and the re-rank kernel's matmul runs on
    int8 with one dequant multiply per vector (FAISS ``SQ8`` shape).

    ``scale = max(|v_i|) / 127`` (1.0 for the all-zero vector so the
    division is total); ``q_i = clamp(floor(v_i/scale + 0.5), ±127)``
    — an explicit floor+0.5 round so Spark and the DuckDB oracle
    compute bit-identical integers (``round()``'s half-tie rule is
    engine-specific; floor is not). Emits per-vector audit scalars
    (sum, L1 norm, saturation count) rather than the int array itself
    so the result is hashable by the driver compare.

    One narrow projection over the embeddings scan — no shuffle. The
    array lambdas are interpreted (no codegen), the right trade at
    64-dim; for wide vectors swap the same arithmetic into a numpy
    ``mapInPandas`` kernel (see ``cosine_topk_pandas``).
    """
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(dv, F.abs))
    scale = F.when(mx == 0, F.lit(1.0)).otherwise(mx / F.lit(QUANT_MAX))
    staged = embeddings.select(
        "vec_id", dv.alias("dv"), scale.alias("scale")
    )
    q = F.transform(
        F.col("dv"),
        lambda x: F.least(
            F.lit(QUANT_MAX),
            F.greatest(
                F.lit(-QUANT_MAX),
                F.floor(x / F.col("scale") + F.lit(0.5)),
            ),
        ),
    )
    qd = staged.select("vec_id", "scale", q.alias("qv"))
    return qd.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("q_sum"),
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda acc, v: acc + F.abs(v)
        ).alias("q_l1"),
        F.size(F.filter("qv", lambda v: F.abs(v) == QUANT_MAX))
        .cast("long")
        .alias("n_sat"),
    )


def cosine_topk_int8(
    embeddings: DataFrame,
    k: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    q_rows: list | None = None,
) -> DataFrame:
    """Cosine top-k over the int8-QUANTIZED corpus — the memory/IO-bound
    serving path (FAISS ``SQ8``): at 100 TB the quantized corpus is what
    you persist and scan (4× fewer bytes than float32, 8× vs float64),
    and search runs on dequantized int8 with one scale multiply per
    vector. Approximate only through quantization error (sub-1% on unit
    -scale data), so top-k can flip on near-ties → rows-only driver
    check; ``ann_recall(method="int8")`` carries the quality signal
    with a pytest floor.

    Shares ``_batch_topk_search`` with the exact vectorized path (one
    kernel to maintain); the only difference is the in-kernel corpus
    transform: quantize with the SAME floor+0.5 symmetric scheme as
    ``quantize_embeddings`` then dequantize, so this operator measures
    exactly the persisted-SQ8 layout's fidelity while staying
    self-contained over the float input.
    """
    import numpy as np

    def sq8_roundtrip(c_mat):
        # symmetric int8: scale = max|v|/127 (1.0 for zero vectors),
        # q = clamp(floor(v/scale + 0.5)) — quantize_embeddings' rule
        mx = np.abs(c_mat).max(axis=1)
        mx[mx == 0] = float(QUANT_MAX)  # scale 1.0 below
        scale = mx / QUANT_MAX
        qv = np.clip(
            np.floor(c_mat / scale[:, None] + 0.5), -QUANT_MAX, QUANT_MAX
        ).astype(np.int8)
        return qv.astype(np.float64) * scale[:, None]

    return _batch_topk_search(
        embeddings, k, n_queries, q_rows=q_rows,
        corpus_transform=sq8_roundtrip,
    )


RECALL_METHODS = {
    "lsh", "ivf", "int8", "pq", "ivfpq", "opq", "opq_np", "ivfopq",
}


def ann_recall(
    embeddings: DataFrame,
    method: str = "lsh",
    k: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
) -> DataFrame:
    """Recall of an approximate ANN path against the exact baseline.

    One row: ``(method, n_exact, n_hits, recall)`` where recall =
    |approx ∩ exact| / |exact| over all (query, neighbor) top-k pairs.
    This is the self-check that keeps the approximate paths honest —
    they are deterministic (seeded hyperplanes / fixed IVF seeds) but
    not SQL-oracle-checkable, so the driver sees a rows-only check and
    THIS query carries the quality signal. pytest pins a recall floor.
    """
    if method not in RECALL_METHODS:
        raise ValueError(f"unknown ANN method: {method!r}")
    # collect the (tiny) seed∪query rows ONCE and hand them to both
    # sides — the exact kernel and the IVF train otherwise each run
    # their own driver-side lookup job over the same vectors (sort/take
    # like ivf_topk, so gapped id spaces still seed fully)
    small_rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(max(IVF_NUM_CENTROIDS, n_queries))
        .collect()
    )
    q_rows = [r for r in small_rows if r["vec_id"] < n_queries]
    # the vectorized kernel: identical result set (pinned by tests),
    # ~2× cheaper — and this query pays for the exact side twice
    exact = cosine_topk_pandas(embeddings, k, n_queries, q_rows=q_rows).select(
        "query_id", "neighbor_id"
    )
    if method == "lsh":
        approx = lsh_ann_topk(embeddings, k, n_queries)
    elif method == "int8":
        approx = cosine_topk_int8(embeddings, k, n_queries, q_rows=q_rows)
    elif method == "pq":
        approx = ann_pq_topk(embeddings, k, n_queries, q_rows=q_rows)
    elif method == "opq":
        approx = ann_opq_topk(embeddings, k, n_queries, q_rows=q_rows)
    elif method == "opq_np":
        approx = ann_opq_topk(
            embeddings, k, n_queries, q_rows=q_rows, mode="iterative"
        )
    elif method == "ivfpq":
        approx = ann_ivfpq_topk(embeddings, k, n_queries)
    elif method == "ivfopq":
        approx = ann_ivfopq_topk(embeddings, k, n_queries)
    else:
        approx = ivf_topk(embeddings, k, n_queries, small_rows=small_rows)
    hits = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = exact.join(hits, ["query_id", "neighbor_id"], "left")
    return joined.agg(
        F.lit(method).alias("method"),
        F.count(F.lit(1)).alias("n_exact"),
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce(F.sum("hit"), F.lit(0)) / F.count(F.lit(1)), 4
        ).alias("recall"),
    )


KMEANS_NUM_CLUSTERS = 8
KMEANS_NUM_ITERS = 4


def cluster_embeddings(
    embeddings: DataFrame,
    n_clusters: int = KMEANS_NUM_CLUSTERS,
    n_iters: int = KMEANS_NUM_ITERS,
    train_fraction: float | None = None,
) -> DataFrame:
    """Spherical k-means (cosine Lloyd's) over the embedding column —
    the topic/domain clustering step of a training-data pipeline
    (semantic mixture strata, cluster-balanced sampling, SemDeDup-style
    per-cluster pruning all key on this assignment).

    Same contract as the IVF quantizer train (the FAISS shape): the
    centroid matrix is DRIVER state (k × dim, tiny), and every Lloyd
    iteration is ONE corpus pass with map-side combine — the
    ``_refined_centroids`` Arrow kernel assigns each batch to its
    nearest centroid and emits per-cluster partial (count, sum-vector)
    rows, so only ~``n_batches × k`` tiny rows leave the executors and
    the corpus is never shuffled. Deterministic end to end: seeds are
    the ``n_clusters`` lowest vec_ids, iteration count is fixed, and
    argmax ties break to the lowest cluster id — identical output under
    any partitioning (pinned by a repartition test).

    Output: (vec_id, cluster_id, cos_to_centroid) — one row per vector;
    cluster ids are the seed vec_ids (0..k-1; a cluster that empties
    during refinement simply stops appearing). Iterative and
    floating-point-seeded → no SQL oracle (rows-only driver check);
    semantics are pytest-pinned instead.

    ``train_fraction`` is the 100 TB path (FAISS practice): Lloyd
    iterations run over a deterministic hash sample of the corpus
    (portable hash of vec_id — reproducible, partition-invariant) and
    only the single final assignment pass touches every vector. None
    (default) trains on the full corpus — the small-scale/bench
    behavior, unchanged.
    """
    if train_fraction is not None and not 0.0 < train_fraction <= 1.0:
        raise ValueError(
            f"train_fraction must be in (0, 1], got {train_fraction}"
        )
    # Driver-train fast path (r17): with full-corpus training and a
    # probe-sized corpus, every Lloyd round runs on the driver-held
    # matrix (identical arithmetic via _refined_centroids' shared
    # batch partials) — n_iters Spark jobs collapse into one bounded
    # collect. train_fraction keeps the distributed path: the hash
    # sample is a Spark expression and must stay the single source of
    # truth for which rows train.
    rows = None
    if train_fraction is None:
        rows = _train_rows(embeddings)
    # localCheckpoint: every distributed Lloyd iteration is one pass
    # over `corpus`, and without pinning, each pass re-executes the
    # scan (n_iters + 1 times total). Pinning costs one materialization
    # of (vec_id, embedding, norm) rows in executor storage; at true
    # corpus scale the standard alternative is FAISS practice — train
    # the centroids on a hash-sampled subset (``sampling.hash_sample``)
    # and assign the full corpus once. With driver-side training the
    # final assignment is the ONLY pass, so the checkpoint is skipped.
    corpus = embeddings.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm")
    )
    if rows is None:
        corpus = corpus.localCheckpoint(eager=False)
    # seeds are the n_clusters LOWEST vec_ids present — sort/take, not a
    # `vec_id < k` filter, so the contract holds for gapped or non-zero-
    # based id spaces (e.g. a pre-filtered embeddings table)
    if rows is not None:
        seed_rows = sorted(rows, key=lambda r: r["vec_id"])[:n_clusters]
    else:
        seed_rows = (
            embeddings.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(n_clusters)
            .collect()
        )
    if len(seed_rows) < n_clusters:
        raise ValueError(
            f"cluster_embeddings: need >= {n_clusters} rows to seed, "
            f"got {len(seed_rows)}"
        )
    cells = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    cmat = np.array([r["embedding"] for r in seed_rows], dtype=np.float64)
    norms = np.linalg.norm(cmat, axis=1)
    norms[norms == 0] = 1.0
    cmat_normed = cmat / norms[:, None]

    train = corpus
    if train_fraction is not None and train_fraction < 1.0:
        from scholar_stream_spark.operators.sampling import (
            SAMPLE_DENOM,
            sample_bucket,
        )

        # full sample_bucket granularity (1e-6), not a percent grid: a
        # validated-in-range fraction must never quantize to an EMPTY
        # training set (tf <= 0.005 would, on a 1% grid)
        thr = int(round(train_fraction * SAMPLE_DENOM))
        if thr < 1:
            raise ValueError(
                f"train_fraction={train_fraction} is below the sampling "
                f"granularity 1/{SAMPLE_DENOM}"
            )
        train = corpus.filter(sample_bucket("vec_id") < thr)
        # the range check above can't guarantee the HASH-sampled set is
        # non-empty on a small/skewed id space — and an empty training
        # set would silently erode every centroid in _refined_centroids,
        # then crash the final _assign kernel with an opaque numpy
        # argmax-on-empty-axis error. Probe once (limit(1) → early-exit
        # scan) and fail with an actionable message instead.
        if not train.limit(1).count():
            raise ValueError(
                f"cluster_embeddings: train_fraction={train_fraction} "
                "hash-sampled an EMPTY training set on this corpus — "
                "raise train_fraction (or pass None for full-corpus "
                "training)"
            )
    for _ in range(n_iters):
        cells, cmat_normed, _raw = _refined_centroids(
            train, cells, cmat_normed, rows=rows
        )
    if len(cells) == 0:
        # every seed cell emptied during refinement (possible only on a
        # degenerate training set, e.g. all-zero vectors): fail loudly —
        # the final assignment has nothing to argmax against
        raise ValueError(
            "cluster_embeddings: refinement lost every centroid "
            "(degenerate training set); train on more/cleaner data"
        )

    # the final assignment is already an Arrow pass — fuse the cosine
    # into it (cos = (v · ĉ_best)/|v|, centroids pre-normalized) instead
    # of re-attaching centroids with a broadcast join + JVM array
    # aggregate: the join tail cost ~40% of the whole operator at bench
    # scale for values the matmul had just computed anyway. Per-row
    # numpy arithmetic keeps the partition-invariance pin.
    final_cells, final_cmat = cells, cmat_normed

    @F.pandas_udf("cluster_id long, cos_to_centroid double")
    def _assign(emb: pd.Series) -> pd.DataFrame:
        m = np.array(list(emb), dtype=np.float64)
        sims = m @ final_cmat.T
        best = np.argmax(sims, axis=1)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        cos = sims[np.arange(len(m)), best] / norms
        return pd.DataFrame(
            {
                "cluster_id": final_cells[best].astype(np.int64),
                "cos_to_centroid": np.round(cos, 4),
            }
        )

    return corpus.select(
        "vec_id", _assign(F.col("embedding")).alias("a")
    ).select("vec_id", "a.cluster_id", "a.cos_to_centroid")


SEMDEDUP_COS_THRESHOLD = 0.95

#: Per-cluster pairing cap applied BY DEFAULT under ``profile="scale"``
#: (mirrors dedup.MAX_SHINGLE_DOC_FREQ): a cluster of m members
#: contributes m(m-1)/2 candidate pairs, so one mega-cluster on a skewed
#: embedding distribution re-creates the all-pairs blowup the k-means
#: blocking exists to prevent. Clusters above the cap are deterministically
#: sub-split into ceil(m / cap) hash blocks and pairs are only formed
#: within a block — cost drops from m² to ~m·cap per cluster (linear in
#: m), at the price of missing near-dup pairs that straddle blocks (the
#: same recall trade LSH banding makes). The portable/oracle profile
#: keeps the cap OFF for exact paper semantics.
SEMDEDUP_MAX_CLUSTER_PAIRING = 4096


def _resolve_cluster_cap(max_cluster_pairing, scale_profile: bool):
    """``"auto"`` → the scale default in the scale profile, off in the
    portable/oracle profile; any explicit int/None wins."""
    if max_cluster_pairing == "auto":
        return SEMDEDUP_MAX_CLUSTER_PAIRING if scale_profile else None
    return max_cluster_pairing


def semantic_prune(
    embeddings: DataFrame,
    n_clusters: int = KMEANS_NUM_CLUSTERS,
    n_iters: int = KMEANS_NUM_ITERS,
    threshold: float = SEMDEDUP_COS_THRESHOLD,
    profile: str = "oracle",
    max_cluster_pairing="auto",
) -> DataFrame:
    """SemDeDup-style semantic pruning: cluster the embedding corpus
    (``cluster_embeddings``), then inside each cluster drop every vector
    whose cosine to a LOWER-id cluster member is ≥ ``threshold`` — the
    "semantically redundant copies add nothing to training" pass
    (Abbas et al., SemDeDup), run after exact/near-text dedup.

    Scale shape is the SemDeDup paper's own trick: the pairwise join is
    quadratic only WITHIN a cluster (blocking by cluster id), and k
    bounds the block count — the cross-cluster pair space is never
    touched. The join keys co-partition both sides on cluster_id; the
    deterministic keep-lowest-vec_id survivor rule needs no ranking
    window, just a pair anti-join. ``profile="scale"`` additionally
    sub-splits clusters larger than ``max_cluster_pairing`` into
    deterministic hash blocks before pairing, bounding the per-cluster
    pair space on skewed embedding distributions (one mega-cluster can
    otherwise re-create the all-pairs blowup).

    Output: one row per SURVIVING vector — (vec_id, cluster_id,
    cos_to_centroid). Rows-only by design (inherits the iterative
    k-means); the pruning rule itself is pinned by pytest on
    constructed near-dup groups, and capped-vs-uncapped behavior is
    pinned both ways.
    """
    if profile not in ("oracle", "scale"):
        raise ValueError(f"unknown profile: {profile!r}")
    cap = _resolve_cluster_cap(max_cluster_pairing, profile == "scale")
    # localCheckpoint: the assignment is reused three times below (a/b
    # sides of the pair join + the final anti-join) and its corpus-wide
    # Arrow argmax kernel would otherwise re-execute per consumer
    assigned = cluster_embeddings(embeddings, n_clusters, n_iters)
    assigned = assigned.localCheckpoint(eager=False)
    # re-attach the vectors for the within-cluster cosine (one co-
    # partitioned equi-join on vec_id; cluster_embeddings' output is
    # deliberately narrow so non-pruning callers never carry the array)
    vec = embeddings.select("vec_id", "embedding")
    members = assigned.select("vec_id", "cluster_id").join(vec, "vec_id")
    group_cols = ["cluster_id"]
    if cap is not None:
        # deterministic sub-block id: ceil(size/cap) blocks per cluster
        # (1 block — i.e. a no-op — for every cluster within the cap);
        # sizes is ≤ k rows, so AQE broadcasts the join back
        sizes = assigned.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("_csize")
        )
        n_blocks = F.ceil(F.col("_csize") / F.lit(cap)).cast("long")
        members = members.join(F.broadcast(sizes), "cluster_id").withColumn(
            "_block", F.pmod(F.xxhash64("vec_id"), n_blocks)
        )
        group_cols.append("_block")
    thr = float(threshold)

    # r18 (guide §4.2; the r17 verdict's semantic_prune item): the
    # within-block pair space used to be a self-join evaluating an
    # INTERPRETED 64-term cosine fold per pair (250k pairs over only k
    # join keys at sf0.1 — single-digit task parallelism of per-row
    # lambda evaluation). One grouped Arrow kernel now runs the SAME
    # left-fold arithmetic vectorized: norms as the sequential
    # Σ x_i² fold, the pair dot as 64 elementwise accumulations in
    # index order — per (a, b) exactly JVM `dot`'s
    # (((0 + x₀y₀) + x₁y₁) + …), so every double (and the ≥ threshold
    # boundary decision) is bit-identical; zero-norm pairs divide to
    # NaN which fails the ≥ like the old NULL. The kernel emits each
    # dropped id once (groups partition the ids), so the old distinct
    # exchange disappears; memory is O(block · chunk) via row-chunking,
    # never the pair matrix for unbounded blocks at once.
    def _dropped_kernel(pdf):
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        x = np.array(list(pdf["embedding"]), dtype=np.float64)
        c = len(ids)
        if c < 2:
            return pd.DataFrame({"vec_id": ids[:0]})
        d = x.shape[1]
        nsq = np.zeros(c)
        for i in range(d):
            nsq += x[:, i] * x[:, i]
        nrm = np.sqrt(nsq)
        dropped = np.zeros(c, dtype=bool)
        chunk = max(1, 4_000_000 // c)
        for s0 in range(1, c, chunk):
            s1 = min(c, s0 + chunk)
            acc = np.zeros((s1 - s0, c))
            for i in range(d):
                acc += x[s0:s1, i, None] * x[None, :, i]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (nrm[s0:s1, None] * nrm[None, :])
            for j in range(s0, s1):
                if np.any(cos[j - s0, :j] >= thr):
                    dropped[j] = True
        return pd.DataFrame({"vec_id": ids[dropped]})

    dropped = members.select(*group_cols, "vec_id", "embedding").groupBy(
        *group_cols
    ).applyInPandas(_dropped_kernel, "vec_id long")
    return assigned.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "cluster_id", "cos_to_centroid"
    )


def delete_from_ivf_index(
    spark, index_path: str, out_path: str, vec_ids
) -> None:
    """Right-to-be-forgotten for the persisted IVF index: rewrite the
    vectors table WITHOUT the given vec_ids (the IVF twin of
    ``delete_from_neardup_index`` — a deleted embedding must stop
    being servable as a neighbor, not just vanish from the corpus).
    Deletions never retrain (the FAISS remove_ids contract): the
    frozen quantizer is copied unchanged, so probes keep
    partition-pruning identically.

    Implemented AS a compaction with an exclusion set
    (``compact_ivf_index(exclude_vec_ids=...)``). Write to a NEW path
    and swap atomically.
    """
    compact_ivf_index(
        spark, index_path, out_path, exclude_vec_ids=list(vec_ids)
    )


#: Tukey fence multiplier for the norm-outlier screen.
NORM_IQR_K = 1.5


def embedding_norm_outliers(embeddings: DataFrame) -> DataFrame:
    """Embedding L2-norm outlier list: the ACTIONABLE companion to
    ``embedding_data_card``'s norm quantiles — the card says a label's
    norm distribution looks wrong, THIS says which vectors to quarantine
    (norm outliers are how encoder failures — zero vectors, fp-overflow
    blowups, un-normalized batches mixed into a normalized table —
    surface in practice).

    Outliers by the Tukey IQR fence per label, with RANK-EXACT
    quartiles (value at row ``ceil(n/4)`` / ``ceil(3n/4)`` of the
    (norm, vec_id)-ordered label — integer rank arithmetic, the
    ``quality_deciles`` discipline, so both engines pick the SAME
    vector's norm and the fences are engine-identical IEEE arithmetic
    on identically-rounded quartiles).

    Scale shape: one narrow projection computes the sequential-fold
    norm per row (JVM codegen), one label-keyed sort exchange ranks
    it, the ≤|labels|-row fence table broadcasts back into a filter —
    the vector table never shuffles beyond the rank exchange.

    Output: (vec_id, label, norm, lo_fence, hi_fence), label asc,
    vec_id asc.
    """
    base = embeddings.select(
        "vec_id",
        "label",
        F.round(l2_norm(F.col("embedding")), 4).alias("norm"),
    )
    w = Window.partitionBy("label").orderBy("norm", "vec_id")
    ranked = base.select(
        "label", "norm", F.row_number().over(w).alias("rn")
    )
    counts = base.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    quarts = (
        ranked.join(F.broadcast(counts), "label")
        .filter(
            (F.col("rn") == F.expr("(n + 3) DIV 4"))
            | (F.col("rn") == F.expr("(3 * n + 3) DIV 4"))
        )
        .groupBy("label")
        .agg(
            F.min(
                F.when(
                    F.col("rn") == F.expr("(n + 3) DIV 4"), F.col("norm")
                )
            ).alias("q1"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(3 * n + 3) DIV 4"),
                    F.col("norm"),
                )
            ).alias("q3"),
        )
    )
    k = float(NORM_IQR_K)
    fences = quarts.select(
        "label",
        (F.col("q1") - k * (F.col("q3") - F.col("q1"))).alias("lo_fence"),
        (F.col("q3") + k * (F.col("q3") - F.col("q1"))).alias("hi_fence"),
    )
    return (
        base.join(F.broadcast(fences), "label")
        .filter(
            (F.col("norm") < F.col("lo_fence"))
            | (F.col("norm") > F.col("hi_fence"))
        )
        .select("vec_id", "label", "norm", "lo_fence", "hi_fence")
        .orderBy("label", "vec_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain ANN serving path
# (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011; the FAISS ``PQ``/``IVFPQ`` code family).
#
# The reference system has no vector search at all; this family extends
# the repo's ANN lifecycle (exact → LSH → IVF → int8) with the layout
# that actually serves web-scale corpora: each vector is stored as
# ``m`` sub-codes of ``log2(k*)`` bits (here 8 × 4 bits = 4 BYTES per
# 64-dim vector, a 64× reduction vs float32), and search scans codes
# with per-query lookup tables instead of touching floats.

#: Number of subspaces ``m`` — 64-dim vectors split into 8 × 8-dim
#: sub-vectors; each gets its own tiny codebook.
PQ_NUM_SUBSPACES = 8
#: Codebook size ``k*`` per subspace (4-bit codes). 16 keeps the demo
#: corpus (500 vectors) from degenerate over-fitting; production uses
#: 256 (8-bit) with the SAME shapes — only the constants change.
PQ_CODEBOOK_SIZE = 16
#: Lloyd refinement rounds per subspace (all subspaces train in the
#: same pass, so this is also the number of corpus scans).
PQ_TRAIN_ITERS = 4

#: Bounded driver-training probe (r17 optimization; the kcore/pagerank
#: hybrid precedent): below this row count the iterative trainers run
#: their IDENTICAL recurrences on a driver-collected copy of the
#: corpus — one bounded collect (``hybrid.bounded_probe``, ≤ ~50 MB at dim 64)
#: replaces n_rounds whole Spark jobs whose collected payload was
#: geometry-sized anyway (guide §1.2: at bench scale each extra round
#: is pure job-scheduling latency, not data). Above the cap every
#: trainer keeps its distributed one-pass-per-round shape unchanged —
#: at 100 TB the probe costs one early-exit CollectLimit scan and the
#: corpus is still never shuffled.
ANN_DRIVER_TRAIN_CAP = 100_000


def _train_rows(embeddings: DataFrame) -> list | None:
    """Bounded corpus probe for the driver-side training fast path:
    the collected ``(vec_id, embedding)`` rows when the corpus holds
    1..``ANN_DRIVER_TRAIN_CAP`` rows, else ``None`` (the distributed
    trainers take over — and the empty corpus keeps the distributed
    paths' error contracts)."""
    rows = hybrid.bounded_probe(
        embeddings.select("vec_id", "embedding"), ANN_DRIVER_TRAIN_CAP
    )
    return rows or None


def _pq_seed_codebook(
    embeddings: DataFrame,
    m: int,
    k: int,
    rotation: np.ndarray | None = None,
    rows: list | None = None,
):
    """Deterministic PQ seeds: the sub-vectors of the ``k`` LOWEST
    vec_ids seed every subspace (sort/take, so gapped id spaces seed
    fully — the ``cluster_embeddings`` contract). Returns the codebook
    as a numpy ``(m, k, dim/m)`` array — driver state of
    ``m·k·(dim/m) = dim·k`` floats (1 KiB here), independent of corpus
    size. ``rotation`` (OPQ): seeds live in the ROTATED space, same as
    every vector the trained codebook will quantize. ``rows``: the
    ``_train_rows`` probe — same k-lowest-vec_id seed set without the
    sort/take job."""
    if rows is not None:
        seed_rows = sorted(rows, key=lambda r: r["vec_id"])[:k]
    else:
        seed_rows = (
            embeddings.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(k)
            .collect()
        )
    if len(seed_rows) < k:
        raise ValueError(
            f"pq_train: need >= {k} rows to seed the codebooks, "
            f"got {len(seed_rows)}"
        )
    mat = np.array([r["embedding"] for r in seed_rows], dtype=np.float64)
    if rotation is not None:
        mat = mat @ rotation.T
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    dsub = dim // m
    # (k, dim) -> (k, m, dsub) -> (m, k, dsub)
    return np.ascontiguousarray(mat.reshape(k, m, dsub).transpose(1, 0, 2))


def _pq_assign(x_sub: np.ndarray, codebook: np.ndarray) -> np.ndarray:
    """Nearest-centroid codes per subspace. ``x_sub`` is ``(n, m,
    dsub)``, codebook ``(m, k, dsub)``; returns int codes ``(n, m)``.
    Squared-L2 argmin, ties to the LOWEST code (np.argmin's first-hit
    rule) — deterministic under any batching."""
    n, m, _ = x_sub.shape
    codes = np.empty((n, m), dtype=np.int64)
    for j in range(m):
        # |x|^2 - 2 x.c + |c|^2 ; |x|^2 constant per row -> drop it
        d = -2.0 * (x_sub[:, j, :] @ codebook[j].T) + (
            codebook[j] ** 2
        ).sum(axis=1)
        codes[:, j] = np.argmin(d, axis=1)
    return codes


def _pq_pass_partials(
    x: np.ndarray,
    cb: np.ndarray,
    m: int,
    k: int,
    dsub: int,
    rotation: np.ndarray | None,
):
    """One batch's Lloyd partials — (counts (m,k), sums (m,k,dsub)).
    The SINGLE arithmetic used by both the distributed kernel (per
    Arrow batch) and the driver fast path (whole probed corpus), so
    the two paths cannot drift."""
    if rotation is not None:
        x = x @ rotation.T
    xs = x.reshape(len(x), m, dsub)
    codes = _pq_assign(xs, cb)
    cnt = np.zeros((m, k), dtype=np.int64)
    sums = np.zeros((m, k, dsub))
    for j in range(m):
        cnt[j] = np.bincount(codes[:, j], minlength=k)
        np.add.at(sums[j], codes[:, j], xs[:, j, :])
    return cnt, sums


def _pq_train_codebook(
    embeddings: DataFrame,
    m: int = PQ_NUM_SUBSPACES,
    k: int = PQ_CODEBOOK_SIZE,
    n_iters: int = PQ_TRAIN_ITERS,
    recount: bool = False,
    rotation: np.ndarray | None = None,
    rows: list | None = None,
):
    """Shared PQ trainer: returns ``(codebook (m,k,dsub), counts (m,k))``.

    ``counts`` semantics: each Lloyd round's counts are accumulated
    from the assignment that PRODUCED that round's centroid update, so
    after the loop they reflect occupancy under the penultimate
    codebook. ``recount=True`` runs one extra assignment-only pass so
    the returned counts are occupancy under the EMITTED centroids
    (matching ``pq_index_stats``' recount) — ``pq_train`` pays this one
    scan; the ANN consumers discard counts and skip it.

    k-means contract (``cluster_embeddings``): the codebook is DRIVER
    state; every Lloyd round is ONE corpus pass. The ``mapInPandas``
    kernel assigns all ``m`` subspaces per Arrow batch and emits only
    per-(subspace, code) partials — ``cnt`` plus ``dsub`` component
    sums — so at most ``batches·m·k`` tiny rows leave the map side, and
    the executor-side ``groupBy(subspace, code)`` folds them to exactly
    ``m·k`` rows (128 here) before the driver collect. The corpus is
    never shuffled; empty cells keep their previous centroid (codes
    stay a fixed, dense 0..k-1 space — unlike IVF cells, PQ codes are a
    STORAGE format and must not disappear).

    ``rotation``: optional orthogonal (dim, dim) matrix applied to
    every vector (and the seeds) before the sub-vector split — the OPQ
    pre-rotation (Ge et al. 2013). Orthogonality preserves norms and
    inner products, so cosine semantics are unchanged; only the
    subspace decomposition the quantizer sees changes.

    ``rows`` (r17): the ``_train_rows`` probe — every Lloyd round runs
    ``_pq_pass_partials`` on the driver-held matrix instead of paying a
    Spark job whose collected payload is the same geometry-sized
    partials. The distributed loop below is byte-identical to before
    and still serves any corpus above the probe cap."""
    local_mat = None
    if rows is not None:
        local_mat = np.array(
            [r["embedding"] for r in rows], dtype=np.float64
        )
        corpus = None
    else:
        corpus = (
            embeddings
            .select("embedding")
            .localCheckpoint(eager=False)
        )
    codebook = _pq_seed_codebook(embeddings, m, k, rotation=rotation, rows=rows)
    dsub = codebook.shape[2]
    counts = np.zeros((m, k), dtype=np.int64)

    def _one_pass(cb: np.ndarray):
        """One corpus pass against ``cb``: (counts (m,k), sums (m,k,dsub)).

        combine DRIVER-side (the _refined_centroids shape): the
        partials are <= n_batches × m·k tiny rows, so collecting them
        directly is one zero-Exchange stage; the earlier
        groupBy(subspace, code) fold added a whole shuffle stage per
        Lloyd round for rows one numpy pass absorbs anyway (measured
        3.54 -> ~2 s on pq_train at sf0.1)."""
        if local_mat is not None:
            return _pq_pass_partials(local_mat, cb, m, k, dsub, rotation)

        def kernel(batches, cb=cb, rot=rotation):
            for pdf in batches:
                x = np.array(list(pdf["embedding"]), dtype=np.float64)
                if len(x) == 0:
                    continue
                cnt_b, sums_b = _pq_pass_partials(x, cb, m, k, dsub, rot)
                out = {"subspace": [], "code": [], "cnt": [], "s": []}
                for j in range(m):
                    nz = np.flatnonzero(cnt_b[j])
                    out["subspace"].extend([j] * len(nz))
                    out["code"].extend(nz.tolist())
                    out["cnt"].extend(cnt_b[j][nz].tolist())
                    out["s"].extend(sums_b[j][nz].tolist())
                yield pd.DataFrame(out)

        part_rows = corpus.mapInPandas(
            kernel, "subspace int, code int, cnt long, s array<double>"
        ).collect()
        cnt = np.zeros((m, k), dtype=np.int64)
        sums = np.zeros((m, k, dsub))
        for r in part_rows:
            j, c = r["subspace"], r["code"]
            cnt[j, c] += r["cnt"]
            sums[j, c, :] += np.asarray(r["s"], dtype=np.float64)
        return cnt, sums

    for _ in range(n_iters):
        counts, sums = _one_pass(codebook)
        new_cb = codebook.copy()
        nz = counts > 0
        new_cb[nz] = sums[nz] / counts[nz][:, None]
        codebook = new_cb
    if recount:
        counts, _ = _one_pass(codebook)
    return codebook, counts


def pq_train(
    embeddings: DataFrame,
    m: int = PQ_NUM_SUBSPACES,
    k: int = PQ_CODEBOOK_SIZE,
    n_iters: int = PQ_TRAIN_ITERS,
) -> DataFrame:
    """Train the PQ codebooks and emit them as a table — the artifact a
    serving layer persists next to the encoded corpus (FAISS index
    header shape).

    Output: (subspace, code, cell_count, centroid array<double>
    round-6), ordered (subspace, code) — always exactly ``m·k`` rows.
    ``cell_count`` is occupancy under the EMITTED centroids (one
    assignment-only recount pass after training), so it agrees with
    ``pq_index_stats``' recount of a persisted index by construction.
    Iterative float k-means → no SQL oracle (rows-only driver check);
    convergence, determinism under repartitioning, and
    reconstruction-error improvement over rounds are pytest-pinned.
    """
    codebook, counts = _pq_train_codebook(
        embeddings, m, k, n_iters, recount=True, rows=_train_rows(embeddings)
    )
    spark = embeddings.sparkSession
    rows = [
        (
            j,
            c,
            int(counts[j, c]),
            [float(round(v, 6)) for v in codebook[j, c, :]],
        )
        for j in range(m)
        for c in range(k)
    ]
    return driver_rows_df(spark,
        rows, "subspace int, code int, cell_count long, centroid array<double>"
    ).orderBy("subspace", "code")


def pq_codes(
    embeddings: DataFrame,
    m: int = PQ_NUM_SUBSPACES,
    k: int = PQ_CODEBOOK_SIZE,
    n_iters: int = PQ_TRAIN_ITERS,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """Encode every vector to its PQ codes — the compressed corpus you
    PERSIST at 100 TB (4 bytes/vector here vs 256 for float32; the
    scan side of ``ann_pq_topk``).

    One narrow Arrow projection over the embeddings scan (no shuffle):
    the trained codebook (1 KiB) is closed over by the kernel, each
    batch assigns codes and measures its own reconstruction quality.

    Output: (vec_id, codes array<int> length ``m``, recon_cos) where
    recon_cos is the cosine between the vector and its PQ
    reconstruction — the per-row fidelity audit (1.0 = lossless).
    Inherits the trainer's rows-only status; round-trip vs
    ``ann_pq_topk``'s in-kernel encoding is pytest-pinned.
    """
    if codebook is None:
        codebook, _ = _pq_train_codebook(
            embeddings, m, k, n_iters, rows=_train_rows(embeddings)
        )
    dsub = codebook.shape[2]
    cb = codebook

    def kernel(batches):
        for pdf in batches:
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(x) == 0:
                continue
            xs = x.reshape(len(x), m, dsub)
            codes = _pq_assign(xs, cb)
            recon = np.take_along_axis(
                cb[None, :, :, :],
                codes[:, :, None, None],
                axis=2,
            )[:, :, 0, :].reshape(len(x), -1)
            num = (x * recon).sum(axis=1)
            den = np.linalg.norm(x, axis=1) * np.linalg.norm(recon, axis=1)
            den[den == 0] = 1.0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                    "recon_cos": np.round(num / den, 4),
                }
            )

    return embeddings.mapInPandas(
        kernel, "vec_id long, codes array<int>, recon_cos double"
    )


def ann_pq_topk(
    embeddings: DataFrame,
    topk: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    q_rows: list | None = None,
    m: int = PQ_NUM_SUBSPACES,
    k_star: int = PQ_CODEBOOK_SIZE,
    rotation: np.ndarray | None = None,
    rows: list | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) cosine top-k over the PQ-compressed
    corpus — queries stay exact floats, database vectors are scored
    through their codes via per-query lookup tables (the PQ paper's
    ADC estimator, adapted to cosine).

    Per query the driver builds two tiny tables from the trained
    codebook: ``lut_ip[j][c] = q_j · centroid[j][c]`` and
    ``lut_sq[j][c] = |centroid[j][c]|²``. A database row's approximate
    cosine is then ``Σ_j lut_ip[j][code_j] / (|q| ·
    sqrt(Σ_j lut_sq[j][code_j]))`` — ``2m`` table lookups per
    (row, query), NO float-vector math on the scan side. The kernel
    encodes each Arrow batch in-place (identical codes to
    ``pq_codes``, pytest-pinned) and emits only the batch-local
    per-query top-k with the family's stable (cos desc, id asc)
    tie-break; the final ranking window shuffles at most
    ``topk·n_queries`` rows per batch.

    Approximate by construction (quantization error) → rows-only
    driver check; ``ann_recall(method="pq")`` carries the measured
    quality signal with a pytest floor. Same output schema as every
    other path: (query_id, neighbor_id, cos_sim, rank).
    """
    if rows is None:
        rows = _train_rows(embeddings)
    codebook, _ = _pq_train_codebook(
        embeddings, m, k_star, rotation=rotation, rows=rows
    )
    dsub = codebook.shape[2]
    if q_rows is None:
        if rows is not None:
            q_rows = [r for r in rows if r["vec_id"] < n_queries]
        else:
            q_rows = (
                embeddings.filter(F.col("vec_id") < n_queries)
                .select("vec_id", "embedding")
                .collect()
            )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    if rotation is not None:
        # queries live in the SAME rotated space as the codebook;
        # orthogonality keeps the cosine estimate's meaning unchanged
        q_mat = q_mat @ rotation.T
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = 1.0
    nq = len(q_ids)
    # lut_ip: (nq, m, k*) inner products; lut_sq: (m, k*) centroid norms²
    q_sub = q_mat.reshape(nq, m, dsub)
    lut_ip = np.einsum("qjd,jkd->qjk", q_sub, codebook)
    lut_sq = (codebook**2).sum(axis=2)
    cb = codebook

    def kernel(batches, rot=rotation):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(x) == 0:
                continue
            if rot is not None:
                x = x @ rot.T
            codes = _pq_assign(x.reshape(len(x), m, dsub), cb)
            # gather: ip[n, q] = sum_j lut_ip[q, j, codes[n, j]]
            ip = np.zeros((len(x), nq))
            rsq = np.zeros(len(x))
            for j in range(m):
                ip += lut_ip[:, j, codes[:, j]].T
                rsq += lut_sq[j, codes[:, j]]
            rnorm = np.sqrt(rsq)
            rnorm[rnorm == 0] = 1.0
            sims = ip / np.outer(rnorm, q_norm)
            out_q, out_n, out_s = [], [], []
            for qi in range(nq):
                col = sims[:, qi]
                cand = np.flatnonzero(ids != q_ids[qi])
                if len(cand) == 0:
                    continue
                order = np.lexsort((ids[cand], -col[cand]))[:topk]
                top = cand[order]
                out_q.extend([q_ids[qi]] * len(top))
                out_n.extend(ids[top])
                out_s.extend(col[top])
            yield pd.DataFrame(
                {
                    "query_id": np.array(out_q, dtype=np.int64),
                    "neighbor_id": np.array(out_n, dtype=np.int64),
                    "cos_sim_raw": np.array(out_s, dtype=np.float64),
                }
            )

    partial = embeddings.mapInPandas(
        kernel, "query_id long, neighbor_id long, cos_sim_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_raw"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim_raw", 4).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


#: ADC shortlist size for the re-ranked PQ path — candidates per query
#: the compressed scan hands to the exact re-rank (FAISS ``refine``
#: ratio: shortlist = 10 × final k).
PQ_RERANK_SHORTLIST = 50


def ann_pq_rerank_topk(
    embeddings: DataFrame,
    topk: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    shortlist: int = PQ_RERANK_SHORTLIST,
    m: int = PQ_NUM_SUBSPACES,
    k_star: int = PQ_CODEBOOK_SIZE,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """PQ-ADC shortlist + exact-cosine re-rank — the production PQ
    serving shape (FAISS ``IndexRefine`` over a PQ base): the
    compressed-domain scan does the heavy elimination (reads 4-byte
    codes, never floats), then ONE float pass over only
    ``shortlist × n_queries`` candidate vectors restores exact
    ordering. At 100 TB the float corpus is touched for ~``shortlist /
    corpus`` of its rows — here 50 of N per query — which is the whole
    point of PQ: the expensive layout is read at candidate density,
    not scan density.

    Plan: the shortlist (tiny by contract) broadcasts into a semi-ish
    join against the float corpus — one corpus scan, broadcast hash
    join, no shuffle of the vector table; the query vectors attach from
    a second broadcast; ``_rerank_topk`` shares the family's exact
    kernel and stable tie-break. Measured at sf0.001: recall 0.74 vs
    0.18 for the pure ADC top-k (pytest pins the floor AND the
    improvement).

    Rows-only driver check (inherits the trainer); output schema is the
    family's (query_id, neighbor_id, cos_sim, rank).
    """
    rows = _train_rows(embeddings)
    if rows is not None:
        q_rows = [r for r in rows if r["vec_id"] < n_queries]
    else:
        q_rows = (
            embeddings.filter(F.col("vec_id") < n_queries)
            .select("vec_id", "embedding")
            .collect()
        )
    cand_ids = ann_pq_topk(
        embeddings,
        topk=shortlist,
        n_queries=n_queries,
        q_rows=q_rows,
        m=m,
        k_star=k_star,
        rotation=rotation,
        rows=rows,
    ).select("query_id", F.col("neighbor_id").alias("vec_id"))
    spark = embeddings.sparkSession
    qdf = driver_rows_df(spark,
        [(int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in q_rows],
        "query_id long, q_embedding array<double>",
    ).select(
        "query_id",
        "q_embedding",
        l2_norm(F.col("q_embedding")).alias("q_norm"),
    )
    cand = (
        embeddings
        .select(
            "vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm")
        )
        .join(F.broadcast(cand_ids), "vec_id")
        .join(F.broadcast(qdf), "query_id")
    )
    return _rerank_topk(cand, topk)


def _opq_rotation(
    embeddings: DataFrame,
    m: int = PQ_NUM_SUBSPACES,
    rows: list | None = None,
):
    """Parametric OPQ rotation (Ge, He, Ke, Sun, "Optimized Product
    Quantization", CVPR 2013, §4 — the closed-form variant FAISS calls
    ``OPQMatrix`` pre-training): rotate into the FULL PCA eigenbasis,
    then allocate principal directions to the ``m`` subspaces by GREEDY
    EIGENVALUE-PRODUCT BALANCING — eigenvalues descending, each assigned
    to the non-full subspace with the smallest current log-eigenvalue
    sum — so every subspace carries (approximately) equal variance
    product, the paper's independence-times-balance objective for
    Gaussian data.

    The rotation is ORTHOGONAL (rows are permuted orthonormal
    eigenvectors), so norms, inner products, and cosines are exactly
    preserved; only the sub-vector split PQ quantizes changes. Driver
    state: dim×dim doubles (32 KiB at dim=64) from ONE corpus pass
    (``_gram_stats`` — the ``pca_components`` moments).

    Returns ``R (dim, dim)``: apply as ``x @ R.T``. NO mean shift —
    centering would change cosine semantics (this family serves cosine,
    not L2)."""
    if rows is not None:
        dim = len(rows[0]["embedding"])
    else:
        dim_probe = embeddings.select("embedding").first()
        dim = len(dim_probe["embedding"])
    if dim % m != 0:
        raise ValueError(f"opq: dim {dim} not divisible by m={m}")
    dsub = dim // m
    _mean, vals, _total, comps = _pca_basis(embeddings, dim, rows=rows)
    # greedy product balancing on log-eigenvalues (clip: zero/negative
    # eigenvalues carry no variance to balance). The min-sum greedy is
    # only a balancer for NON-NEGATIVE items — with λ < 1 the raw logs
    # are negative and "smallest sum" would select the FULLEST bucket
    # (collapsing to sequential allocation). Shifting by logs.min() is
    # balance-equivalent because every bucket ends with EXACTLY dsub
    # items: a constant shift moves every final bucket sum by the same
    # c·dsub.
    logs = np.log(np.maximum(vals, 1e-12))
    logs = logs - logs.min()
    bucket_log = np.zeros(m)
    bucket_fill = np.zeros(m, dtype=np.int64)
    assign: list[list[int]] = [[] for _ in range(m)]
    for i in range(dim):  # eigenvalues already descending
        open_b = np.flatnonzero(bucket_fill < dsub)
        j = open_b[np.argmin(bucket_log[open_b])]
        assign[j].append(i)
        bucket_log[j] += logs[i]
        bucket_fill[j] += 1
    order = [i for bucket in assign for i in bucket]
    return np.ascontiguousarray(comps[order, :])


#: Alternating-minimization rounds for non-parametric OPQ (Ge et al.
#: §5; FAISS ``OPQMatrix`` defaults to 25 tiny in-RAM rounds — here
#: each round is a full corpus pass, and the parametric seed already
#: lands near the optimum, so a few rounds close the remaining gap).
OPQ_NP_ITERS = 4


def _opq_pass_partials(
    x: np.ndarray,
    rot: np.ndarray,
    cb: np.ndarray,
    m: int,
    k_star: int,
    dsub: int,
    dim: int,
):
    """One batch's alternating-minimization partials — (counts,
    Lloyd sums, Procrustes scatter). Shared by the distributed kernel
    (per Arrow batch) and the driver fast path (whole probed corpus)."""
    xr = x @ rot.T
    xs = xr.reshape(len(x), m, dsub)
    codes = _pq_assign(xs, cb)
    cnt = np.zeros((m, k_star), dtype=np.int64)
    sums = np.zeros((m, k_star, dsub))
    y = np.empty_like(xs)
    for j in range(m):
        y[:, j, :] = cb[j][codes[:, j]]
        cnt[j] = np.bincount(codes[:, j], minlength=k_star)
        np.add.at(sums[j], codes[:, j], xs[:, j, :])
    scatter = x.T @ y.reshape(len(x), dim)
    return cnt, sums, scatter


def _opq_rotation_iterative(
    embeddings: DataFrame,
    m: int = PQ_NUM_SUBSPACES,
    k_star: int = PQ_CODEBOOK_SIZE,
    n_iter: int = OPQ_NP_ITERS,
    rows: list | None = None,
) -> np.ndarray:
    """Non-parametric OPQ rotation (Ge, He, Ke, Sun, "Optimized
    Product Quantization", CVPR 2013, §5 — the alternating
    minimization FAISS runs by default): seed with the parametric
    eigenvalue-balanced rotation (the paper's recommended init), then
    alternate (a) one Lloyd update of the codebook in the current
    rotated space with (b) an orthogonal-Procrustes update of the
    rotation against the codebook's reconstructions —
    ``R* = argmax tr(R·Σ xᵢyᵢᵀ) = V·Uᵀ`` from ``SVD(Σ xᵢyᵢᵀ) = USVᵀ``,
    where ``yᵢ`` is the reconstruction of ``R·xᵢ``'s codes. Directly
    minimizes the quantization distortion ``Σ‖R·xᵢ − yᵢ‖²`` instead of
    the parametric variant's Gaussian-assumption proxy — the one
    family member that can still gain on near-isotropic corpora.

    Scale shape: each round is ONE ``mapInPandas`` corpus pass whose
    kernel emits BOTH the Lloyd partials (≤ batches·m·k* tiny rows —
    the ``_pq_train_codebook`` shape) AND the Procrustes scatter
    (``dim`` rows of ``dim`` doubles per batch); everything collected
    is geometry-sized (m·k*·dsub + dim² driver floats), the corpus is
    never shuffled, and the dim×dim SVD runs on the driver. The
    returned rotation feeds the UNCHANGED trainer/ADC/refine kernels,
    so serving cost is identical to parametric OPQ.

    Returns ``R (dim, dim)`` orthogonal; apply as ``x @ R.T``.

    ``rows`` (r17): the ``_train_rows`` probe — each alternating round
    runs ``_opq_pass_partials`` on the driver-held matrix; the
    distributed loop (below the same fold) is unchanged for corpora
    above the cap.
    """
    rotation = _opq_rotation(embeddings, m, rows=rows)
    dim = rotation.shape[0]
    dsub = dim // m
    codebook, _ = _pq_train_codebook(
        embeddings, m, k_star, rotation=rotation, rows=rows
    )
    local_mat = None
    if rows is not None:
        local_mat = np.array(
            [r["embedding"] for r in rows], dtype=np.float64
        )
        corpus = None
    else:
        corpus = (
            embeddings
            .select("embedding")
            .localCheckpoint(eager=False)
        )
    schema = "kind int, idx int, code int, cnt long, s array<double>"

    def _one_pass(rot: np.ndarray, cb: np.ndarray):
        if local_mat is not None:
            return _opq_pass_partials(
                local_mat, rot, cb, m, k_star, dsub, dim
            )

        def kernel(batches, rot=rot, cb=cb):
            for pdf in batches:
                x = np.array(list(pdf["embedding"]), dtype=np.float64)
                if len(x) == 0:
                    continue
                cnt_b, sums_b, a = _opq_pass_partials(
                    x, rot, cb, m, k_star, dsub, dim
                )
                out = {
                    "kind": [], "idx": [], "code": [],
                    "cnt": [], "s": [],
                }
                for j in range(m):
                    nz = np.flatnonzero(cnt_b[j])
                    out["kind"].extend([0] * len(nz))
                    out["idx"].extend([j] * len(nz))
                    out["code"].extend(nz.tolist())
                    out["cnt"].extend(cnt_b[j][nz].tolist())
                    out["s"].extend(sums_b[j][nz].tolist())
                # Procrustes scatter partial: A = Σ xᵢ yᵢᵀ (dim×dim),
                # x ORIGINAL space, y the rotated-space reconstruction
                out["kind"].extend([1] * dim)
                out["idx"].extend(range(dim))
                out["code"].extend([0] * dim)
                out["cnt"].extend([0] * dim)
                out["s"].extend(a.tolist())
                yield pd.DataFrame(out)

        cnt = np.zeros((m, k_star), dtype=np.int64)
        sums = np.zeros((m, k_star, dsub))
        scatter = np.zeros((dim, dim))
        for r in corpus.mapInPandas(kernel, schema).collect():
            if r["kind"] == 0:
                j, c = r["idx"], r["code"]
                cnt[j, c] += r["cnt"]
                sums[j, c, :] += np.asarray(r["s"], dtype=np.float64)
            else:
                scatter[r["idx"], :] += np.asarray(
                    r["s"], dtype=np.float64
                )
        return cnt, sums, scatter

    for _ in range(n_iter):
        cnt, sums, scatter = _one_pass(rotation, codebook)
        nz = cnt > 0
        new_cb = codebook.copy()
        new_cb[nz] = sums[nz] / cnt[nz][:, None]
        codebook = new_cb
        u, _sv, vt = np.linalg.svd(scatter)
        # max tr(R·A) over orthogonal R, A = USVᵀ ⇒ R = VUᵀ
        rotation = np.ascontiguousarray(vt.T @ u.T)
    return rotation


def ann_opq_topk(
    embeddings: DataFrame,
    topk: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    q_rows: list | None = None,
    m: int = PQ_NUM_SUBSPACES,
    k_star: int = PQ_CODEBOOK_SIZE,
    mode: str = "parametric",
) -> DataFrame:
    """OPQ ADC top-k — ``ann_pq_topk`` with the parametric OPQ
    pre-rotation (FAISS ``OPQ{m},PQ{m}``): one extra corpus pass trains
    the rotation (PCA moments → eigenvalue-balanced eigenbasis,
    ``_opq_rotation``), then the SAME trainer / ADC scan / tie-breaks
    run in the rotated space — the rotation rides inside the existing
    Arrow kernels as one (batch × dim) @ (dim × dim) matmul, no extra
    shuffle, no new plan shape.

    Why it helps: plain PQ quantizes whatever sub-vector split the
    storage order dictates; correlated/unequal-variance dimensions make
    some subspaces carry most of the error. The balanced eigenbasis
    decorrelates ACROSS subspaces and equalizes their variance product —
    higher recall at the SAME 4 bytes/vector wherever the spectrum
    decays (measured on a planted anisotropic corpus: ADC recall 0.54
    vs 0.48, quantization distortion 0.96 vs 2.86 — and 0.26 vs 0.18
    on the sf0.001 corpus; both pinned). On a near-ISOTROPIC corpus
    there is nothing to balance and OPQ ties PQ within noise — the
    honest limit of the parametric variant.

    ``mode="iterative"`` (r13) closes that limit with the
    non-parametric alternating minimization
    (``_opq_rotation_iterative`` — Ge et al. §5, the FAISS default):
    seeded by the parametric rotation, it directly minimizes the
    quantization distortion, so it is pinned ≥ parametric on the
    anisotropic fixture; the trainer/ADC tail is byte-identical, only
    the rotation differs.

    Approximate by construction → rows-only; family schema
    (query_id, neighbor_id, cos_sim, rank).
    """
    rows = _train_rows(embeddings)
    if mode == "iterative":
        rotation = _opq_rotation_iterative(embeddings, m, k_star, rows=rows)
    else:
        rotation = _opq_rotation(embeddings, m, rows=rows)
    return ann_pq_topk(
        embeddings,
        topk=topk,
        n_queries=n_queries,
        q_rows=q_rows,
        m=m,
        k_star=k_star,
        rotation=rotation,
        rows=rows,
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    topk: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    n_centroids: int = IVF_NUM_CENTROIDS,
    n_probe: int = IVF_NUM_PROBE,
    m: int = PQ_NUM_SUBSPACES,
    k_star: int = PQ_CODEBOOK_SIZE,
    shortlist: int = PQ_RERANK_SHORTLIST,
    rotation: np.ndarray | None = None,
    rows: list | None = None,
) -> DataFrame:
    """IVF-PQ with exact refine — the composition FAISS ships as its
    production web-scale index (``IVFx,PQy`` + ``IndexRefine``): the
    coarse quantizer prunes the corpus to ``n_probe`` cells per query,
    PQ-ADC scores only those candidates through their codes, and one
    float pass over the ADC shortlist restores exact order.

    The three stages compose the repo's existing contracts: the IVF
    train (seeds + one Lloyd refinement, ONE corpus pass,
    ``_refined_centroids``), the PQ codebook train
    (``_pq_train_codebook``, raw-vector variant — FAISS
    ``by_residual=false``; residual encoding would couple the two
    quantizers for ~1 extra bit of precision at 4-bit codes), and the
    ADC + refine tail of ``ann_pq_rerank_topk``. At 100 TB the cell is
    the partition key (probes read only their cells' files), the codes
    are the bytes the candidate scan touches, and the float corpus is
    read at shortlist density only.

    Approximate by construction (cell pruning × quantization error) →
    rows-only; ``ann_recall(method="ivfpq")`` pins the floor. Family
    schema: (query_id, neighbor_id, cos_sim, rank).
    """
    corpus = embeddings.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm")
    )
    if rows is None:
        rows = _train_rows(embeddings)
    if rows is not None:
        small_rows = sorted(rows, key=lambda r: r["vec_id"])[
            : max(n_centroids, n_queries)
        ]
    else:
        small_rows = (
            embeddings.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(max(n_centroids, n_queries))
            .collect()
        )
    seed_rows = small_rows[:n_centroids]
    if len(seed_rows) < n_centroids:
        raise ValueError(
            f"ann_ivfpq_topk: need >= {n_centroids} vectors to train "
            f"the quantizer, got {len(seed_rows)}"
        )
    seed_cells = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    seed_mat = np.array(
        [r["embedding"] for r in seed_rows], dtype=np.float64
    )
    seed_norms = np.linalg.norm(seed_mat, axis=1)
    seed_norms[seed_norms == 0] = 1.0
    cells, cmat_normed, _ = _refined_centroids(
        corpus, seed_cells, seed_mat / seed_norms[:, None], rows=rows
    )
    # the COARSE quantizer always lives in the original space (cell
    # probing is a cosine argmax — rotation-invariant, so rotating it
    # would change nothing); only the fine PQ stage rotates (the FAISS
    # ``OPQ{m},IVF{x},PQ{m}`` factory string's placement)
    codebook, _counts = _pq_train_codebook(
        embeddings, m, k_star, rotation=rotation, rows=rows
    )
    dsub = codebook.shape[2]

    indexed = corpus.withColumn(
        "cell", _argmax_cell_udf(cells, cmat_normed)(F.col("embedding"))
    )

    # --- probe cells per query (driver-side, tiny) --------------------
    q_rows = [r for r in small_rows if r["vec_id"] < n_queries]
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = 1.0
    sims = q_mat @ cmat_normed.T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
    probe_rows = [
        (int(q_ids[i]), int(cells[c]))
        for i in range(len(q_ids))
        for c in order[i]
    ]
    spark = embeddings.sparkSession
    q_cells = driver_rows_df(spark, probe_rows, "query_id long, cell long")

    # --- ADC over the probed candidates -------------------------------
    nq = len(q_ids)
    q_fine = q_mat @ rotation.T if rotation is not None else q_mat
    q_sub = q_fine.reshape(nq, m, dsub)
    lut_ip = np.einsum("qjd,jkd->qjk", q_sub, codebook)
    lut_sq = (codebook**2).sum(axis=2)
    q_pos = {int(q): i for i, q in enumerate(q_ids)}
    cb = codebook

    cand = indexed.join(F.broadcast(q_cells), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )

    def kernel(batches, rot=rotation):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            qids = pdf["query_id"].to_numpy(dtype=np.int64)
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            if rot is not None:
                x = x @ rot.T
            codes = _pq_assign(x.reshape(len(x), m, dsub), cb)
            qi = np.array([q_pos[int(q)] for q in qids], dtype=np.int64)
            ip = np.zeros(len(x))
            rsq = np.zeros(len(x))
            for j in range(m):
                ip += lut_ip[qi, j, codes[:, j]]
                rsq += lut_sq[j, codes[:, j]]
            rnorm = np.sqrt(rsq)
            rnorm[rnorm == 0] = 1.0
            adc = ip / (rnorm * q_norm[qi])
            # batch-local shortlist per query (stable family tie-break)
            out = []
            df = pd.DataFrame(
                {"query_id": qids, "neighbor_id": ids, "adc_raw": adc}
            )
            for q, grp in df.groupby("query_id", sort=False):
                g = grp.sort_values(
                    ["adc_raw", "neighbor_id"], ascending=[False, True]
                ).head(shortlist)
                out.append(g)
            yield pd.concat(out) if out else df.iloc[:0]

    adc_ranked = cand.select(
        "query_id", "vec_id", "embedding"
    ).mapInPandas(
        kernel, "query_id long, neighbor_id long, adc_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_raw"), F.asc("neighbor_id")
    )
    short_ids = (
        adc_ranked.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist)
        .select("query_id", F.col("neighbor_id").alias("vec_id"))
    )

    # --- exact refine over the shortlist -------------------------------
    qdf = driver_rows_df(spark,
        [
            (int(r["vec_id"]), [float(v) for v in r["embedding"]])
            for r in q_rows
        ],
        "query_id long, q_embedding array<double>",
    ).select(
        "query_id",
        "q_embedding",
        l2_norm(F.col("q_embedding")).alias("q_norm"),
    )
    refine = (
        corpus.join(F.broadcast(short_ids), "vec_id")
        .join(F.broadcast(qdf), "query_id")
    )
    return _rerank_topk(refine, topk)


def ann_ivfopq_topk(
    embeddings: DataFrame,
    topk: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    **kw,
) -> DataFrame:
    """The full FAISS production factory string —
    ``OPQ{m},IVF{x},PQ{m}`` + ``IndexRefine`` — assembled from parts
    the repo already pins: the parametric OPQ rotation trains once
    (ONE extra corpus pass) and rides inside the IVF-PQ fine stage's
    Arrow kernels; the COARSE quantizer stays in the original space
    (cell probing is a cosine argmax — rotation-invariant), and the
    exact refine reads original floats. Same plan shape as
    ``ann_ivfpq_topk`` plus one batch-matmul per kernel.

    Rows-only (all three parents' rationale);
    ``ann_recall(method="ivfopq")`` carries the measured quality with
    a pytest floor. Family schema: (query_id, neighbor_id, cos_sim,
    rank).
    """
    rows = _train_rows(embeddings)
    rotation = _opq_rotation(
        embeddings, kw.get("m", PQ_NUM_SUBSPACES), rows=rows
    )
    return ann_ivfpq_topk(
        embeddings,
        topk=topk,
        n_queries=n_queries,
        rotation=rotation,
        rows=rows,
        **kw,
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical (BM25) + semantic
# (exact cosine) result lists — Cormack/Clarke/Büttcher RRF.

#: RRF smoothing constant (the paper's k=60).
RRF_K = 60
#: Per-branch list depth fed into the fusion.
RRF_DEPTH = 10
#: Fused results returned per query.
RRF_TOPK = 10


def hybrid_search_rrf(
    documents: DataFrame,
    embeddings: DataFrame,
    depth: int = RRF_DEPTH,
    topk: int = RRF_TOPK,
    k_rrf: int = RRF_K,
    semantic: str = "exact",
) -> DataFrame:
    """Hybrid search: BM25 and exact-cosine top-``depth`` lists fused
    by reciprocal-rank fusion — ``score(d) = Σ 1/(k + rank_d)`` over
    the lists that contain ``d`` (standard RRF; a doc missing from a
    branch simply contributes nothing). This is the fusion every
    production retrieval stack runs over its lexical + vector legs;
    RRF needs only RANKS, which sidesteps the incomparable-score
    problem between BM25 and cosine.

    Demo query pairing (documented contract): lexical query ``i`` of
    ``textops.BM25_QUERIES`` pairs with the semantic query vector
    ``vec_id = i`` (documents and embeddings share the 0-based id
    space in the test tables). Both branches are themselves
    oracle-checked operators, and the fusion arithmetic is exact
    (integer ranks, one division per contribution, ≤2 IEEE additions
    per doc — commutative, so partitioning cannot reorder a result),
    which makes the WHOLE hybrid table oracle-checkable — rare for a
    retrieval stack.

    Scale shape: both branch plans keep their own contracts (BM25's
    single scan; the semantic branch is pluggable — see ``semantic``);
    the fusion itself touches only ``2·depth·|queries|`` rows.

    ``semantic="exact"`` (default) runs the brute-force cosine
    baseline (oracle-parity — the whole hybrid table value-checks
    against SQL). ``semantic="ivfpq"`` swaps in ``ann_ivfpq_topk``
    unchanged (same family schema) — the approximate SERVING variant:
    at 100 TB the vector leg reads ``n_probe`` cells' codes instead of
    the corpus, and the fusion/lexical legs are untouched. Approximate
    by construction → rows-only, with the recall floor vs the exact
    hybrid pinned in pytest.

    Output: (query, doc_id, rrf_score, rank), rank by (score desc,
    doc_id asc).
    """
    from scholar_stream_spark.operators.textops import (  # noqa: PLC0415
        BM25_QUERIES,
        bm25_search,
    )

    n_q = len(BM25_QUERIES)
    lex = bm25_search(documents, topk=depth).select(
        "query", F.col("doc_id"), F.col("rank")
    )
    qmap = driver_rows_df(documents.sparkSession,
        [(qid, i) for i, (qid, _) in enumerate(BM25_QUERIES)],
        "query string, qidx long",
    )
    lex_c = lex.join(F.broadcast(qmap), "query").select(
        "qidx",
        "doc_id",
        (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rank"))).alias("c"),
    )
    if semantic == "ivfpq":
        sem_topk = ann_ivfpq_topk(embeddings, topk=depth, n_queries=n_q)
    else:
        sem_topk = cosine_topk(embeddings, k=depth, n_queries=n_q)
    sem = sem_topk.select(
        F.col("query_id").alias("qidx"),
        F.col("neighbor_id").alias("doc_id"),
        (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rank"))).alias("c"),
    )
    fused = (
        lex_c.unionByName(sem)
        .groupBy("qidx", "doc_id")
        .agg(F.sum("c").alias("rrf_raw"))
    )
    w = Window.partitionBy("qidx").orderBy(
        F.desc("rrf_raw"), F.asc("doc_id")
    )
    return (
        fused.join(F.broadcast(qmap), "qidx")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query",
            "doc_id",
            F.round("rrf_raw", 6).alias("rrf_score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _load_pq_index_meta(spark, path: str):
    """Driver-side load of a persisted PQ index's metadata: the
    ``(m, k*, dsub)`` codebook plus the optional OPQ rotation (absent
    for plain-PQ indexes — pre-r12 layouts load unchanged)."""
    cb_rows = sorted(
        spark.read.parquet(f"{path}/codebook").collect(),
        key=lambda r: (r["subspace"], r["code"]),
    )
    m = 1 + max(r["subspace"] for r in cb_rows)
    k_star = 1 + max(r["code"] for r in cb_rows)
    dsub = len(cb_rows[0]["centroid"])
    codebook = np.zeros((m, k_star, dsub))
    for r in cb_rows:
        codebook[r["subspace"], r["code"], :] = r["centroid"]
    rotation = None
    try:
        rot_rows = sorted(
            spark.read.parquet(f"{path}/rotation").collect(),
            key=lambda r: r["row_idx"],
        )
        if rot_rows:
            rotation = np.array(
                [r["coeffs"] for r in rot_rows], dtype=np.float64
            )
    except AnalysisException as exc:
        # ONLY a missing side table means "plain PQ" (pre-r12 layout).
        # Any other failure (corrupt parquet, permissions, transient
        # FS) on a real OPQ index must re-raise: silently probing
        # un-rotated queries against rotated codes would return wrong
        # neighbors with no error.
        cond = (
            exc.getCondition()
            if hasattr(exc, "getCondition")
            else getattr(exc, "getErrorClass", lambda: None)()
        )
        missing = cond == "PATH_NOT_FOUND" or (
            cond is None
            and (
                "PATH_NOT_FOUND" in str(exc)
                or "Path does not exist" in str(exc)
            )
        )
        if not missing:
            raise
        rotation = None
    return codebook, rotation


def write_pq_index(
    embeddings: DataFrame,
    path: str,
    m: int = PQ_NUM_SUBSPACES,
    k_star: int = PQ_CODEBOOK_SIZE,
    n_iters: int = PQ_TRAIN_ITERS,
    opq: bool = False,
    opq_mode: str = "parametric",
) -> None:
    """Persist a PQ index (FAISS ``IndexRefine(PQ)`` layout): one
    corpus table carrying BOTH the 4-byte codes and the float vectors
    as separate parquet COLUMNS, plus the trained codebook side table.
    Parquet's columnar layout is what makes this one table serve two
    access patterns: the ADC scan reads ONLY (vec_id, codes) — column
    pruning keeps the float bytes on disk — and the refine stage reads
    (vec_id, embedding) for the shortlist rows only. Encode is one
    Arrow pass (codes computed next to the pass-through vector — no
    self-join to reunite them).

    ``opq=True`` = FAISS ``OPQ{m},PQ{m}`` persisted: the rotation
    trains first, codes live in the ROTATED space, and the dim×dim
    rotation persists as a third side table so probes and appends
    rotate consistently forever after. ``opq_mode`` picks the trainer:
    ``"parametric"`` (eigenvalue-balanced, one moments pass) or
    ``"iterative"`` (``_opq_rotation_iterative`` — the Ge et al.
    alternating minimization FAISS defaults to; r13 measured it ≥
    parametric on both pinned corpora, and persisting it makes that
    recall gain servable from the index instead of only in-query —
    r13 verdict item 3). The persisted LAYOUT is mode-invariant: one
    rotation side table either way, so probes, appends, and pre-r14
    readers never see the difference. The STORED float vectors stay
    in the ORIGINAL space — the refine stage's exact cosine is
    rotation-invariant, and un-rotated floats keep the corpus
    readable by every non-PQ consumer.
    """
    if opq_mode not in ("parametric", "iterative"):
        raise ValueError(
            f"unknown opq_mode {opq_mode!r}: expected 'parametric' "
            "or 'iterative'"
        )
    train_rows = _train_rows(embeddings)
    if not opq:
        rotation = None
    elif opq_mode == "iterative":
        rotation = _opq_rotation_iterative(
            embeddings, m, k_star, rows=train_rows
        )
    else:
        rotation = _opq_rotation(embeddings, m, rows=train_rows)
    codebook, _ = _pq_train_codebook(
        embeddings, m, k_star, n_iters, rotation=rotation, rows=train_rows
    )
    dsub = codebook.shape[2]
    cb = codebook

    def kernel(batches, rot=rotation):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            if rot is not None:
                x = x @ rot.T
            codes = _pq_assign(x.reshape(len(x), m, dsub), cb)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                    "embedding": pdf["embedding"],
                }
            )

    corpus = embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, "vec_id long, codes array<int>, embedding array<double>"
    )
    corpus.write.mode("overwrite").parquet(f"{path}/corpus")
    spark = embeddings.sparkSession
    rows = [
        (j, c, [float(v) for v in codebook[j, c, :]])
        for j in range(m)
        for c in range(k_star)
    ]
    driver_rows_df(spark,
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")
    if rotation is not None:
        driver_rows_df(spark,
            [
                (i, [float(v) for v in rotation[i]])
                for i in range(rotation.shape[0])
            ],
            "row_idx int, coeffs array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/rotation")


def pq_index_stats(spark, path: str) -> DataFrame:
    """Code-occupancy health table off the persisted PQ layout: rows
    per (subspace, code) — skewed occupancy means the codebook under-
    fits that subspace (everything lands in few cells → ADC loses
    discrimination). Reads ONLY the codes column (column pruning);
    one |codes|-explode + map-side-combined rollup to ≤ m·k* rows.
    Output: (subspace, code, n_vectors). Rows-only (codes come from
    the trained quantizer); pinned against an inline recount."""
    corpus = spark.read.parquet(f"{path}/corpus").select("codes")
    return (
        corpus.select(
            F.posexplode("codes").alias("subspace", "code")
        )
        .groupBy("subspace", "code")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .orderBy("subspace", "code")
    )


def pq_probe_index(
    spark,
    path: str,
    topk: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    shortlist: int = PQ_RERANK_SHORTLIST,
) -> DataFrame:
    """Serve top-k from the PERSISTED PQ layout: the ADC scan touches
    only the (vec_id, codes) columns — the float vectors stay on disk
    until the refine stage reads the shortlist rows. No re-encoding
    anywhere: codes come straight off the parquet scan (the IO shape
    the index exists for; plan-pinned in tests — the ADC stage's
    ReadSchema must not contain the embedding column).

    Deterministic end to end (trained quantizer persisted, stable
    tie-breaks), so pytest pins this EQUAL to the inline
    ``ann_pq_rerank_topk`` on the same corpus — the persisted path
    cannot drift from the in-memory one (OPQ indexes pin against the
    inline path with the SAME persisted rotation). Rows-only driver
    check.
    """
    codebook, rotation = _load_pq_index_meta(spark, path)
    m, k_star, dsub = codebook.shape

    corpus = spark.read.parquet(f"{path}/corpus")
    q_rows = (
        corpus.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    if rotation is not None:
        # codes live in the rotated space; queries must follow (norms
        # are rotation-invariant, the refine stage stays un-rotated)
        q_mat = q_mat @ rotation.T
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = 1.0
    nq = len(q_ids)
    q_sub = q_mat.reshape(nq, m, dsub)
    lut_ip = np.einsum("qjd,jkd->qjk", q_sub, codebook)
    lut_sq = (codebook**2).sum(axis=2)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            ip = np.zeros((len(ids), nq))
            rsq = np.zeros(len(ids))
            for j in range(m):
                ip += lut_ip[:, j, codes[:, j]].T
                rsq += lut_sq[j, codes[:, j]]
            rnorm = np.sqrt(rsq)
            rnorm[rnorm == 0] = 1.0
            sims = ip / np.outer(rnorm, q_norm)
            out_q, out_n, out_s = [], [], []
            for qi in range(nq):
                col = sims[:, qi]
                cand = np.flatnonzero(ids != q_ids[qi])
                if len(cand) == 0:
                    continue
                order = np.lexsort((ids[cand], -col[cand]))[:shortlist]
                top = cand[order]
                out_q.extend([q_ids[qi]] * len(top))
                out_n.extend(ids[top])
                out_s.extend(col[top])
            yield pd.DataFrame(
                {
                    "query_id": np.array(out_q, dtype=np.int64),
                    "neighbor_id": np.array(out_n, dtype=np.int64),
                    "adc_raw": np.array(out_s, dtype=np.float64),
                }
            )

    adc = corpus.select("vec_id", "codes").mapInPandas(
        kernel, "query_id long, neighbor_id long, adc_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_raw"), F.asc("neighbor_id")
    )
    short_ids = (
        adc.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist)
        .select("query_id", F.col("neighbor_id").alias("vec_id"))
    )
    qdf = driver_rows_df(spark,
        [
            (int(r["vec_id"]), [float(v) for v in r["embedding"]])
            for r in q_rows
        ],
        "query_id long, q_embedding array<double>",
    ).select(
        "query_id",
        "q_embedding",
        l2_norm(F.col("q_embedding")).alias("q_norm"),
    )
    refine = (
        corpus.select(
            "vec_id",
            "embedding",
            l2_norm(F.col("embedding")).alias("norm"),
        )
        .join(F.broadcast(short_ids), "vec_id")
        .join(F.broadcast(qdf), "query_id")
    )
    return _rerank_topk(refine, topk)


def pq_append_index(embeddings: DataFrame, path: str) -> None:
    """Append a NEW embedding batch to a persisted PQ index using the
    STORED codebook — the incremental half of the PQ serving story
    (``write_pq_index`` trains+builds, this lands the nightly/streaming
    batches; ``ivf_append_index``'s operational contract): the codebook
    loads driver-side (m·k* rows), encoding is the same one-Arrow-pass
    kernel as the build (codes next to the pass-through vector, no
    self-join), and the write APPENDS corpus files — probes and stats
    see the new vectors on the next file listing. The codebook is
    FROZEN by design (FAISS pattern: appends never silently re-map
    codes; retrain+rebuild when drift accumulates — compare
    ``pq_index_stats`` occupancy over time to decide). Idempotence is
    the caller's job, same as the IVF twin. An OPQ index's persisted
    rotation applies to every appended batch — frozen together with
    the codebook it trained for.
    """
    spark = embeddings.sparkSession
    cb, rotation = _load_pq_index_meta(spark, path)
    m, k_star, dsub = cb.shape

    def kernel(batches, rot=rotation):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            if rot is not None:
                x = x @ rot.T
            codes = _pq_assign(x.reshape(len(x), m, dsub), cb)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                    "embedding": pdf["embedding"],
                }
            )

    (
        embeddings
        .select("vec_id", "embedding")
        .mapInPandas(
            kernel, "vec_id long, codes array<int>, embedding array<double>"
        )
        .write.mode("append")
        .parquet(f"{path}/corpus")
    )


#: Principal components kept by the PCA ops (demo budget; production
#: keeps 32-256 of a wider encoder).
PCA_COMPONENTS = 4


def _gram_stats(embeddings: DataFrame, rows: list | None = None):
    """One corpus pass → exact driver-side second-moment stats:
    ``(n, Σx (dim), Σ xxᵀ (dim×dim))``. Each Arrow batch emits ONE
    partial row (count, sum vector, flattened Gram); partials collect
    directly (≤ n_batches rows, zero Exchange — the
    ``_refined_centroids`` shape) and the driver folds them with
    ``math.fsum`` per component — fsum computes the exactly-rounded
    sum, so the fold is ORDER-INDEPENDENT and the stats are identical
    under any partitioning (pinned by the repartition test).

    ``rows`` (r17): the ``_train_rows`` probe — the same per-batch
    partial is computed driver-side from the probed matrix (one batch)
    and folded through the identical fsum path. When the distributed
    scan would have been one Arrow batch the arithmetic is
    bit-identical; otherwise the two paths differ only by float-sum
    association across batch boundaries — the same indeterminacy the
    distributed path itself has across partitionings (pinned in
    ``test_r17_opt.py``)."""
    import math

    if rows is not None:
        x = np.array([r["embedding"] for r in rows], dtype=np.float64)
        part_rows = [
            {
                "n": len(x),
                "s": x.sum(axis=0).tolist(),
                "g": (x.T @ x).ravel().tolist(),
            }
        ]
    else:

        def kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.array(list(pdf["embedding"]), dtype=np.float64)
                yield pd.DataFrame(
                    {
                        "n": [len(x)],
                        "s": [x.sum(axis=0).tolist()],
                        "g": [(x.T @ x).ravel().tolist()],
                    }
                )

        part_rows = (
            embeddings.select("embedding")
            .mapInPandas(kernel, "n long, s array<double>, g array<double>")
            .collect()
        )
    if not part_rows:
        raise ValueError("pca: empty embeddings table")
    dim = len(part_rows[0]["s"])
    n = sum(r["n"] for r in part_rows)
    s = np.array(
        [math.fsum(r["s"][i] for r in part_rows) for i in range(dim)]
    )
    g = np.array(
        [
            math.fsum(r["g"][i] for r in part_rows)
            for i in range(dim * dim)
        ]
    ).reshape(dim, dim)
    return n, s, g


def _pca_basis(embeddings: DataFrame, k: int, rows: list | None = None):
    """Top-``k`` eigenpairs of the (biased) covariance, deterministic:
    exact fsum moments, ``eigh`` on the symmetric matrix, eigenvalue-
    descending order with a fixed SIGN convention (each component's
    largest-|coefficient| entry is made positive — eigenvectors are
    only defined up to sign, and without the convention two runs could
    emit mirrored projections)."""
    n, s, g = _gram_stats(embeddings, rows=rows)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-vals, kind="stable")[:k]
    comps = vecs[:, order].T  # (k, dim)
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, vals[order], float(vals[vals > 0].sum()), comps


def pca_components(
    embeddings: DataFrame, k: int = PCA_COMPONENTS
) -> DataFrame:
    """Principal components of the embedding corpus — the
    dimensionality-reduction artifact (OPQ-style preprocessing for the
    PQ family, compression for storage, drift-eigenstructure for
    monitoring). ONE corpus pass for the exact second-moment stats
    (``_gram_stats``), an O(dim³) driver eigendecomposition (64³ —
    trivially driver-state), deterministic ordering and sign.

    Output: (component, eigenvalue, explained_var, vector), component
    0 = largest variance; explained_var = eigenvalue / trace.
    Rows-only (float eigendecomposition); determinism, orthonormality,
    and variance-recovery pinned in pytest.
    """
    _mean, vals, total, comps = _pca_basis(embeddings, k)
    spark = embeddings.sparkSession
    rows = [
        (
            i,
            float(round(vals[i], 6)),
            float(round(vals[i] / total, 6)) if total > 0 else 0.0,
            [float(round(v, 6)) for v in comps[i]],
        )
        for i in range(len(vals))
    ]
    return driver_rows_df(spark,
        rows,
        "component int, eigenvalue double, explained_var double,"
        " vector array<double>",
    ).orderBy("component")


def pca_project(
    embeddings: DataFrame, k: int = PCA_COMPONENTS
) -> DataFrame:
    """Project every vector onto the top-``k`` principal components —
    the narrow compressed representation (store 4 doubles instead of
    64 floats when downstream tasks tolerate it; also the standard
    2-D/4-D visualization/clustering input). The basis (k×dim, driver
    state) is closed over by one Arrow projection — no shuffle, no
    second pass; ``residual_frac`` audits per-row how much of the
    vector's energy the kept components miss.

    Output: (vec_id, pcs array<double> length k, residual_frac).
    Rows-only (inherits the eigenbasis); partition invariance and
    exact-recovery-on-planted-subspace pinned in pytest.
    """
    mean, _vals, _total, comps = _pca_basis(embeddings, k)
    mean_c = mean
    comps_c = comps

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            centered = x - mean_c
            pcs = centered @ comps_c.T
            tot = (centered**2).sum(axis=1)
            kept = (pcs**2).sum(axis=1)
            tot_safe = np.where(tot == 0, 1.0, tot)
            resid = np.clip(1.0 - kept / tot_safe, 0.0, 1.0)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "pcs": [np.round(p, 4).tolist() for p in pcs],
                    "residual_frac": np.round(resid, 4),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, "vec_id long, pcs array<double>, residual_frac double"
    )


#: MMR trade-off: 1.0 = pure relevance (reduces to ``cosine_topk``),
#: 0.0 = pure diversity. 0.7 is the Carbonell-Goldstein default zone.
MMR_LAMBDA = 0.7
#: Exact-cosine shortlist depth the greedy re-ranker runs over.
MMR_SHORTLIST = 30


def mmr_topk(
    embeddings: DataFrame,
    k: int = ANN_TOPK,
    n_queries: int = ANN_NUM_QUERIES,
    lam: float = MMR_LAMBDA,
    shortlist: int = MMR_SHORTLIST,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR '98) — the serving-side re-rank that keeps a
    result page from being k near-copies of the same document:
    greedily pick ``argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)``
    until k results are selected.

    Two-stage plan — the shape every production MMR uses: stage 1 is
    the EXACT cosine shortlist (``cosine_topk``'s plan verbatim, kept
    at raw precision so the λ=1 degenerate case reproduces the exact
    window order; swap in any ``ann_*_topk`` for the 100 TB
    path, exactly like ``hybrid_search_rrf_ann`` does for RRF), so
    the corpus is touched only by the already-audited shortlist plan;
    stage 2 re-ranks per query in ONE ``applyInPandas`` group of
    ≤``shortlist`` rows — the greedy loop is O(shortlist²·k) on a
    constant-bounded group, never the corpus. Candidate embeddings
    hash-join back on vec_id (the only added exchange, shortlist-
    density rows).

    Determinism: groups sort by neighbor_id before the loop; seeds are
    the shortlist's (desc relevance, asc id) order; ties in the greedy
    score break (score desc, neighbor_id asc). Pairwise sims are
    float64 matmuls of the same-ordered operands — run-stable, but
    float-iterative selection is not SQL-expressible, so the driver
    checks rows-only; pytest pins λ=1 ≡ ``cosine_topk``, shortlist
    containment, partition invariance, and a strict diversity win on
    the pinned corpus (max intra-set sim below plain top-k's).

    Output: (query_id, rank, neighbor_id, relevance, mmr_score) —
    relevance the stage-1 cos_sim (round 4), mmr_score round 4; the
    rank-1 seed scores ``λ·relevance`` (the empty-set max-sim term is
    0, so the seed is the pure-relevance argmax).
    """
    if k < 1:
        raise ValueError(f"mmr: k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"mmr: lambda must be in [0, 1], got {lam}")
    if shortlist < k:
        raise ValueError(
            f"mmr: shortlist ({shortlist}) must be >= k ({k})"
        )
    if n_queries < 1:
        # reject-degenerate-params discipline: _query_set would
        # silently yield an empty result otherwise
        raise ValueError(f"mmr: n_queries must be >= 1, got {n_queries}")
    # the cosine_topk plan, but keeping cos_sim_raw: the greedy loop's
    # λ=1 degenerate case must reproduce the exact window order
    # (raw desc, id asc) — the ROUNDED display value would collapse
    # near-ties and flip it
    q = _query_set(embeddings, n_queries)
    # scale_out restored for the exact rank-window consumers (r18, the
    # r17 verdict's watch item): unlike the light train/assign kernels
    # the r17 fan-out removal targeted, these multiply every corpus row
    # by |queries| interpreted 64-term cosine folds before the rank
    # window — measured 0.74 -> 0.45 s (hard negatives, isolated
    # best-of-5 at sf0.1) at native single-partition vs spread; at
    # 100 TB the scan is already wide and scale_out is a no-op.
    corpus = scale_out(embeddings).select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm")
    )
    joined = corpus.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )
    cos = cosine_from_norms(
        F.col("q_embedding"),
        F.col("embedding"),
        F.col("q_norm"),
        F.col("norm"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_raw"), F.asc("neighbor_id")
    )
    short = (
        joined.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim_raw"),
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= shortlist)
        .drop("_rk")
    )
    cand = short.join(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        ),
        "neighbor_id",
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy()
        rel = pdf["cos_sim_raw"].to_numpy(dtype=np.float64)
        m = np.array(list(pdf["embedding"]), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        unit = m / norms[:, None]
        pair = unit @ unit.T
        n = len(ids)
        take = min(k, n)
        selected: list[int] = []
        scores: list[float] = []
        remaining = np.ones(n, dtype=bool)
        for _step in range(take):
            if not selected:
                max_sim = np.zeros(n, dtype=np.float64)
            else:
                max_sim = pair[:, selected].max(axis=1)
            score = lam * rel - (1.0 - lam) * max_sim
            score_masked = np.where(remaining, score, -np.inf)
            best = np.lexsort((ids, -score_masked))[0]
            selected.append(int(best))
            scores.append(float(score[best]))
            remaining[best] = False
        out = pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "rank": np.arange(1, take + 1, dtype=np.int64),
                "neighbor_id": ids[selected],
                "relevance": np.round(rel[selected], 4),
                "mmr_score": np.round(np.array(scores), 4),
            }
        )
        return out

    schema = (
        "query_id long, rank long, neighbor_id long, "
        "relevance double, mmr_score double"
    )
    return cand.groupBy("query_id").applyInPandas(_mmr, schema=schema)

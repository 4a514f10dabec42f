"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end pipeline (producer
transforms → NDJSON wire → bronze landing shape → curated views) on
sf0.001 and returns the dashboard's top-N view.

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the §2.8 extended surface) as (spark, sf_dir) -> DataFrame callables;
``oracle_sql()`` holds the equivalent DuckDB SQL. The two sides share
their constants (hash params, thresholds, stopword lists) via the
operator modules so they cannot drift. Column names and types are
aligned pair-by-pair (aggregates aliased identically on both sides).

Deliberately WITHOUT oracle entries (rows-only check):
- ``synthetic_email``  — needs sha1. Probed 2026-08-13 against the local
  duckdb 1.0.0: ``SELECT sha1('abc')`` → "Scalar Function with name sha1
  does not exist" (``sha256`` exists, but the reference pins SHA-1 —
  ``ingestion/utils.py:8-11`` — so switching algorithms would break
  parity, and the crypto extension can't be loaded offline). Covered
  instead by a pytest asserting Spark-side equality with hashlib.sha1.
- ``ann_lsh_topk``     — approximate by construction (LSH recall)
- ``ann_ivf_topk``     — approximate by construction (IVF probe recall)
- ``ann_lsh_recall`` / ``ann_ivf_recall`` — the self-checks keeping the
  two approximate paths honest: recall vs the (oracle-checked) exact
  cosine baseline, floor-asserted in pytest.
- ``ann_int8_topk`` / ``ann_int8_recall`` — int8-quantized search
  (approximate via quantization error: near-tie neighbors can flip);
  same recall-harness treatment, floor pytest-pinned.
- ``pq_train`` ``pq_codes`` ``ann_pq_topk`` ``ann_pq_rerank_topk`` ``ann_pq_recall``
  — product quantization (iterative per-subspace float k-means,
  ``cluster_embeddings``' rationale); shape/determinism/
  training-progress/recall-floor pins in ``tests/test_r11_ops.py``.
- ``ann_ivfpq_topk`` / ``ann_ivfpq_recall`` — the IVF×PQ composition
  (both parents rows-only); recall floor pytest-pinned.
- ``ann_opq_topk`` / ``ann_opq_recall`` / ``opq_probe_index`` —
  parametric OPQ pre-rotation (float eigenbasis, inherits the PQ
  rationale); recall ≥ plain-PQ, orthogonality, persisted-probe ==
  inline-rerank, and frozen-rotation appends pytest-pinned
  (``tests/test_r12_ops.py``).
- ``ann_opq_iter_topk`` / ``ann_opq_iter_recall`` — non-parametric
  OPQ (alternating Lloyd + Procrustes-SVD rotation, Ge et al. §5 —
  the FAISS default; float-iterative, inherits the OPQ rationale);
  orthogonality and recall ≥ parametric pinned on BOTH the planted
  anisotropic fixture (0.60 vs 0.54) and the sf corpus (0.42 vs
  0.26) in ``tests/test_r13_ops.py``.
- ``ann_ivfopq_topk`` / ``ann_ivfopq_recall`` — the OPQ+IVF+PQ+refine
  composition (all three parents' rationale); recall floor 0.7
  pytest-pinned, measured 0.92 at sf0.001.
- ``hybrid_search_rrf_ann`` — ``hybrid_search_rrf`` with the semantic
  leg served by ``ann_ivfpq_topk`` (the approximate serving variant
  the exact entry's docstring promises); inherits the IVF-PQ rows-only
  rationale. Per-query overlap vs the ORACLE-CHECKED exact hybrid
  pytest-pinned (``tests/test_r13_ops.py``); the lexical leg and the
  fusion arithmetic are unchanged and stay value-checked through
  ``hybrid_search_rrf``.
- ``pq_index_stats`` / ``pq_probe_index`` — the persisted PQ serving
  layout (codes from the trained quantizer, ``ivf_index_stats``'
  rationale); stats pinned vs an inline recount, probe pinned EXACTLY
  equal to ``ann_pq_rerank_topk``, ADC scan plan-pinned codes-only.
- ``pca_components`` / ``pca_project`` — float eigendecomposition
  (deterministic via exact fsum moments + fixed eigh order/sign);
  orthonormality, variance recovery, planted-subspace exactness and
  partition invariance pinned in ``tests/test_r11_ops.py``.
- ``cluster_embeddings`` — iterative spherical k-means (Lloyd's); an
  SQL oracle would need a recursive-CTE re-implementation of the whole
  float iteration. Determinism + cluster semantics are pytest-pinned
  (identical output under repartitioning; separated groups recovered).
- ``semantic_prune`` — SemDeDup pruning over the k-means assignment;
  inherits ``cluster_embeddings``' rows-only status. The keep-lowest
  pruning rule itself is pytest-pinned on constructed near-dup groups.
- ``value_percentiles_sketch`` — approx_percentile is a sketch (not
  SQL-reproducible); the query itself emits exact-vs-sketch error and
  pytest pins the bound.
- ``distinct_users_sketch`` — approx_count_distinct (HyperLogLog) is a
  sketch; same self-checked treatment (per-group relative error).
- ``ivf_index_stats`` — per-cell counts off the persisted IVF layout,
  whose cell assignment comes from the k-means quantizer (inherits
  ``cluster_embeddings``' rows-only rationale); the counts are
  pytest-pinned against a recount of the same persisted table.
- ``bpe_train`` — iterative BPE merge training (a driver loop of
  vocab-sized rounds, ``cluster_embeddings``' rationale: an SQL oracle
  would need a recursive-CTE re-implementation of the whole fixed
  point). The learned merge table is pytest-pinned against a
  pure-Python reference trainer; ``bpe_merge_pairs`` (one round's
  statistic) IS oracle-checked.
- ``bpe_train_batched`` — the batched variant (same rationale);
  pinned in pytest against a pure-Python mirror of the SAME batched
  algorithm AND exactly equal to ``bpe_train`` at ``batch=1``.
- ``mmr_topk`` — Maximal-Marginal-Relevance diversified re-rank: the
  greedy selection is a float-iterative loop over pairwise cosine
  matmuls (each pick depends on all previous picks' float maxima —
  ``cluster_embeddings``' recursive-fixed-point rationale). The
  RELEVANCE leg stays value-checked through the oracle-backed
  ``ann_cosine_topk`` shortlist it reads; pytest pins λ=1 ≡ exact
  top-k, shortlist containment, partition invariance, and a strict
  max-intra-set-similarity win at λ=0.7 (``tests/test_r14_ops.py``).
- ``nation_pagerank`` — iterative-float PageRank fixpoint
  (``cluster_embeddings``' recursive-fixed-point rationale: an SQL
  oracle would need a recursive-CTE re-implementation of 20 damped
  power-iteration rounds). Pinned in pytest against a numpy
  power-iteration reference at 1e-9 on both a hand graph (incl. a
  dangling node) and the real trade graph, plus Σpr = 1 and
  partition invariance (``tests/test_r15_ops.py``). The edge-build
  revenue aggregate is the oracle-checked money idiom shared with
  ``nation_trade_flows``. r16: the registered entry surfaces the
  measured final-round L1 residual (bounded by 2·dᵀ in pytest).
- ``nation_kcore`` — iterative INTEGER h-index fixpoint (coreness):
  convergence is exact (checksum discipline, unlike pagerank's float
  budget) but the round count is data-dependent, so an SQL oracle
  would need a recursive CTE. Pinned in pytest against a brute-force
  peeling reference on the real sf0.001 trade graph + hand fixtures
  (``tests/test_r16_ops.py``); its input graph is the SAME strong
  support every r16 oracle-green graph op certifies.
- ``nation_hits`` — ``nation_pagerank``'s rationale verbatim
  (alternating float power-iteration half-steps with per-step L1
  normalization; the round budget is 8, tuned in r17 against the
  MEASURED residual trajectory — ≤ 5e-15 by round 8 on every tested
  trade graph, display-grain convergence at round 3); numpy-pinned at
  2e-6 display grain on the real trade graph, Σhub = Σauthority = 1
  invariants, and the same oracle-checked revenue edge build (shared
  ``_nation_revenue_edges`` kernel) as ``nation_pagerank``.
- ``user_kcore`` — ``nation_kcore``'s rationale verbatim (exact
  integer coreness — iterative fixpoint or driver peel, neither
  SQL-oracle-shaped), run on the USER co-activity graph; since the
  r17 hybrid the default path is exact Matula–Beck driver peeling
  below a 1M-edge probe (the dedup-CC precedent; the distributed
  h-index loop above it, both-paths-identical pinned); peeling
  reference on the real sf0.001 co-activity graph
  (``tests/test_r17_ops.py``), whose edge set is the SAME
  oracle-green `session_overlap_pairs` join the r17
  `user_triangles`/`user_clustering` oracles certify.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scholar_stream_spark.functions.hashing import (
    MINHASH_BANDS,
    MINHASH_PARAMS,
    MINHASH_PRIME,
    MINHASH_ROWS_PER_BAND,
    SIMHASH_BITS,
    hex48_sql,
)
from scholar_stream_spark.functions.text import (
    mask_email,
    normalize_text,
    synthetic_email,
)
from scholar_stream_spark.operators import (
    cdc,
    chunking,
    curation,
    dedup,
    graph,
    masking,
    multimodal,
    profiling,
    relational,
    sampling,
    similarity,
    temporal,
    textops,
)
from scholar_stream_spark.operators import transforms
from scholar_stream_spark.plans.catalog import init_catalog
from scholar_stream_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _customer_emails(customer: DataFrame) -> DataFrame:
    """Deterministic email column synthesized from customer (the masking
    demo input): every 10th key NULL, every (10k+5)th an @-less string."""
    email = (
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None).cast("string"))
        .when(F.col("c_custkey") % 10 == 5, F.lit("not-an-email"))
        .otherwise(
            F.concat(
                F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
                F.lit("@customers.example.com"),
            )
        )
    )
    return customer.select("c_custkey", email.alias("email"))


_CUSTOMER_EMAIL_SQL = """
    CASE WHEN c_custkey % 10 = 0 THEN NULL
         WHEN c_custkey % 10 = 5 THEN 'not-an-email'
         ELSE lower(replace(c_name, '#', '.')) || '@customers.example.com'
    END
"""


def _scd2_inputs(customer: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic SCD2 demo inputs from the customer table: the
    snapshot opens every customer at 2026-01-01; the change batch
    updates every 10th key's balance, deletes every (10k+5)th, inserts
    a shifted-key copy of every (10k+3)rd, and replays every (10k+7)th
    unchanged (the idempotency case)."""
    cur = customer.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    base = customer.select("c_custkey", "c_acctbal", "c_mktsegment")
    upd = base.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
        "c_mktsegment",
        F.lit(cdc.OP_UPSERT).alias("op"),
    )
    dele = base.filter(F.col("c_custkey") % 10 == 5).select(
        "c_custkey", "c_acctbal", "c_mktsegment", F.lit(cdc.OP_DELETE).alias("op")
    )
    ins = base.filter(F.col("c_custkey") % 10 == 3).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        "c_acctbal",
        "c_mktsegment",
        F.lit(cdc.OP_UPSERT).alias("op"),
    )
    same = base.filter(F.col("c_custkey") % 10 == 7).select(
        "c_custkey", "c_acctbal", "c_mktsegment", F.lit(cdc.OP_UPSERT).alias("op")
    )
    changes = upd.unionByName(dele).unionByName(ins).unionByName(same)
    return cur, changes


def _q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur, changes = _scd2_inputs(_t(spark, sf_dir, "customer"))
    return cdc.scd2_apply(
        cur,
        changes,
        key="c_custkey",
        tracked=["c_acctbal", "c_mktsegment"],
        change_ts=F.to_timestamp(F.lit("2026-06-01 00:00:00")),
    )


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half the docs (hash buckets < 50) stand in for the already-deduped
    corpus whose fingerprint index exists; the other half is the new
    ingest batch checked against it."""
    docs = _t(spark, sf_dir, "documents")
    bucket = sampling.split_bucket("CAST(doc_id AS STRING)")
    index = docs.filter(bucket < 50).select(
        F.md5(normalize_text(F.col("text"))).alias("fingerprint")
    )
    return dedup.incremental_dedup(docs.filter(bucket >= 50), index)


def _q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_q_dedup_incremental``'s split with the Bloom sidecar gating
    the index probe: the filter is built over the same index the batch
    anti-joins, so the result is identical by the zero-false-negative
    Bloom guarantee — this entry shares ``dedup_incremental``'s oracle
    SQL verbatim, making that guarantee itself driver-checked. Fixed
    geometry (2^16 bits, 7 hashes) keeps the entry deterministic at
    every SF; at real scale ``bloom_params`` sizes it from the index
    count."""
    docs = _t(spark, sf_dir, "documents")
    bucket = sampling.split_bucket("CAST(doc_id AS STRING)")
    index = docs.filter(bucket < 50).select(
        F.md5(normalize_text(F.col("text"))).alias("fingerprint")
    )
    n_bits, n_hashes = 1 << 16, 7
    bloom = dedup.build_fingerprint_bloom(index, n_bits, n_hashes)
    return dedup.incremental_dedup_bloom(
        docs.filter(bucket >= 50), index, bloom, n_bits, n_hashes
    )


def _para_injected(docs: DataFrame) -> DataFrame:
    """Deterministic multi-paragraph injection shared by the two
    paragraph-dedup entries (the synthetic corpus is single-line): a
    repeated newsletter paragraph everywhere, a second repeated one on
    even doc_ids. The oracle builds the byte-identical text in SQL."""
    return docs.select(
        "doc_id",
        "source",
        F.concat(
            F.substring("text", 1, 60),
            F.lit("\n\nSubscribe to our newsletter for updates."),
            F.when(
                (F.col("doc_id") % 2) == 0,
                F.lit("\n\nFollow Us On Social Media."),
            ).otherwise(F.lit("")),
            F.lit("\n\n"),
            F.expr("substring(text, 61)"),
        ).alias("text"),
    )


def _pii_injected_text() -> "F.Column":
    """Deterministic PII injection for the ``scrub_pii`` entry: one
    email, one long digit run, one separator-phone, one IPv4, one
    md5-derived UUID per doc, plus word-boundary NON-matches for the
    boundary-guarded patterns (``x1.2.3.4`` must not scrub as an IP,
    ``9555-123-4567`` must not scrub as a phone). The oracle builds the
    byte-identical suffix in SQL."""
    md5s = "md5(CAST(doc_id AS STRING))"
    uuid = F.expr(
        f"concat(substr({md5s},1,8),'-',substr({md5s},9,4),'-',"
        f"substr({md5s},13,4),'-',substr({md5s},17,4),'-',"
        f"substr({md5s},21,12))"
    )
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ref "),
        (F.col("doc_id") * 1234567 + 10000000).cast("string"),
        F.lit(" call "),
        F.format_string(
            "555-%03d-%04d",
            F.pmod(F.col("doc_id"), F.lit(1000)),
            F.pmod(F.col("doc_id"), F.lit(10000)),
        ),
        F.lit(" ip 10.0."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit("."),
        F.pmod(F.col("doc_id") * 7, F.lit(256)).cast("string"),
        F.lit(" id "),
        uuid,
        F.lit(" not-ip x1.2.3.4 not-phone 9555-123-4567"),
    ).alias("text")


def _q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same split idiom as ``_q_dedup_incremental``: buckets < 50 are the
    banded corpus index, the rest are the incoming batch near-dup-checked
    against it."""
    docs = _t(spark, sf_dir, "documents")
    bucket = sampling.split_bucket("CAST(doc_id AS STRING)")
    return dedup.incremental_neardup(
        docs.filter(bucket >= 50), docs.filter(bucket < 50)
    )


#: Persisted-index directories, built once per (kind, sf_dir) and
#: reused across calls in one process — index BUILD is a one-time
#: amortized cost in any serving deployment; the queries below measure
#: and value-check the PROBE path, which is the 100 TB serving shape.
#: Removed at interpreter exit so repeated bench/driver runs don't
#: accrete corpus-sized copies in /tmp.
_INDEX_CACHE: dict[tuple[str, str], str] = {}


def _cleanup_index_cache() -> None:
    import shutil  # noqa: PLC0415

    for path in _INDEX_CACHE.values():
        shutil.rmtree(path, ignore_errors=True)
    _INDEX_CACHE.clear()


import atexit  # noqa: E402

atexit.register(_cleanup_index_cache)


def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    key = ("ivf", sf_dir)
    if key not in _INDEX_CACHE:
        import tempfile  # noqa: PLC0415

        path = tempfile.mkdtemp(prefix="ssq_ivf_index_")
        similarity.write_ivf_index(_t(spark, sf_dir, "embeddings"), path)
        _INDEX_CACHE[key] = path
    return _INDEX_CACHE[key]


def _pq_index_dir(spark: SparkSession, sf_dir: str) -> str:
    key = ("pq", sf_dir)
    if key not in _INDEX_CACHE:
        import tempfile  # noqa: PLC0415

        path = tempfile.mkdtemp(prefix="ssq_pq_index_")
        similarity.write_pq_index(_t(spark, sf_dir, "embeddings"), path)
        _INDEX_CACHE[key] = path
    return _INDEX_CACHE[key]


def _opq_index_dir(spark: SparkSession, sf_dir: str) -> str:
    key = ("opq", sf_dir)
    if key not in _INDEX_CACHE:
        import tempfile  # noqa: PLC0415

        path = tempfile.mkdtemp(prefix="ssq_opq_index_")
        similarity.write_pq_index(
            _t(spark, sf_dir, "embeddings"), path, opq=True
        )
        _INDEX_CACHE[key] = path
    return _INDEX_CACHE[key]


def _neardup_index_dir(spark: SparkSession, sf_dir: str) -> str:
    key = ("neardup", sf_dir)
    if key not in _INDEX_CACHE:
        import tempfile  # noqa: PLC0415

        path = tempfile.mkdtemp(prefix="ssq_neardup_index_")
        docs = _t(spark, sf_dir, "documents")
        bucket = sampling.split_bucket("CAST(doc_id AS STRING)")
        dedup.write_neardup_index(docs.filter(bucket < 50), path)
        _INDEX_CACHE[key] = path
    return _INDEX_CACHE[key]


def _q_ivf_probe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k served from the PERSISTED IVF layout (``write_ivf_index``:
    cell-partitioned vector files + quantizer sidecar), probed with
    ``n_probe = n_centroids``. Exhaustive probing makes the candidate
    set the whole corpus, so the result is the EXACT cosine top-k —
    value-checkable against the same oracle as ``ann_cosine_topk``
    while still exercising the full serving path (quantizer load,
    partitioned read, broadcast probe join, re-rank). The default
    2-probe approximate read stays pytest-pinned result-identical to
    ``ivf_topk`` with its partition pruning plan-asserted."""
    path = _ivf_index_dir(spark, sf_dir)
    q_rows = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < similarity.ANN_NUM_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    return similarity.ivf_probe_index(
        spark,
        path,
        [(r["vec_id"], r["embedding"]) for r in q_rows],
        n_probe=similarity.IVF_NUM_CENTROIDS,
    )


def _q_incremental_neardup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental_neardup``'s split idiom served from the
    PERSISTED band/hash index (``write_neardup_index`` over the
    bucket<50 corpus half): the batch half probes two parquet tables,
    never re-shingling corpus text. MinHash banding is deterministic,
    so the probe is value-identical to the recompute path and shares
    its oracle SQL verbatim."""
    docs = _t(spark, sf_dir, "documents")
    bucket = sampling.split_bucket("CAST(doc_id AS STRING)")
    return dedup.incremental_neardup_indexed(
        docs.filter(bucket >= 50), _neardup_index_dir(spark, sf_dir)
    )


def _q_incr_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit(relational.INCR_CUTOFF).cast("timestamp")
    existing = relational.daily_rollup(ev.filter(F.col("ts") < cutoff))
    merged = relational.merge_rollup(existing, ev.filter(F.col("ts") >= cutoff))
    return relational.present_rollup(merged)


def _q_mask_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    emails = _customer_emails(_t(spark, sf_dir, "customer"))
    return emails.select(
        "c_custkey",
        mask_email(F.col("email"), role="R_ANALYST").alias("email_masked"),
    )


def _q_synthetic_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey", synthetic_email(F.col("c_name")).alias("email_synth")
    )


# ---------------------------------------------------------------------------
# driver API
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full reference pipeline shape, end-to-end in one
    logical plan — synthesize nested work records, validate/flatten to
    envelopes (P1-P9), encode to the NDJSON wire, land as
    (payload, metadata) bronze rows, build the curated views (V1-V12)
    with analyst-role masking (G1-G3), and return the dashboard top-N
    (Q2). No filesystem side effects: every stage is a DataFrame
    transformation over /root/testdata/sf0.001.
    """
    sf_dir = "/root/testdata/sf0.001"
    customer = _t(spark, sf_dir, "customer")
    works_json = customer.select(
        F.to_json(
            F.struct(
                F.concat(F.lit("W"), F.col("c_custkey").cast("string")).alias("id"),
                F.concat(
                    F.lit("10.1000/"), F.col("c_custkey").cast("string")
                ).alias("doi"),
                F.concat(F.lit("A Study by "), F.col("c_name")).alias("title"),
                (F.lit(1990) + (F.col("c_custkey") % 35)).alias(
                    "publication_year"
                ),
                F.struct(F.col("c_mktsegment").alias("display_name")).alias(
                    "host_venue"
                ),
                F.array(
                    F.struct(
                        F.struct(F.col("c_name").alias("display_name")).alias(
                            "author"
                        )
                    )
                ).alias("authorships"),
            )
        ).alias("value")
    )
    works = transforms.validate_works(works_json)
    envelopes = transforms.derive_envelope(works)
    lines = transforms.to_ndjson(envelopes)
    raw = lines.select(
        F.col("value").alias("payload"),
        F.to_json(
            F.struct(
                F.date_format(
                    F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"
                ).alias("IngestionTime"),
                F.lit("entry-batch").alias("batch_id"),
            )
        ).alias("metadata"),
    )
    views = init_catalog(spark, raw, role="R_ANALYST")
    return (
        views["vw_works"]
        .orderBy(F.desc("landed_ts"), F.desc("work_id"))
        .limit(50)
    )



#: Declarative table constraints for the orders table (the
#: check_constraints demo rule set — shared verbatim with the oracle).
ORDERS_RULES = (
    ("totalprice_nonnegative", "o_totalprice >= 0"),
    ("orderdate_not_null", "o_orderdate IS NOT NULL"),
    (
        "priority_known",
        "o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',"
        "'4-NOT SPECIFIED','5-LOW')",
    ),
    ("orderkey_positive", "o_orderkey > 0"),
)

#: Columns profiled by the profile_columns demo entry (orders table).
PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)

#: Driver-cap rotation (r13, AUTOMATED): CORRECTNESS runs check at
#: most 50 entries in ``queries()`` order. Since r13 the order is
#: least-recently-driver-checked first, computed from the committed
#: ``CORRECTNESS_r*.json`` artifacts at import time — never-checked
#: oracle-backed entries (i.e. new ops) lead, then entries ascending
#: by the last round they were driver-green, ties alphabetical. This
#: keeps the full oracle-backed cycle at ≤ ceil(n_oracle/50) windows
#: mechanically (``_N_ORACLE_BACKED`` entries ⇒ ≤ 4 windows; the
#: constant is asserted against ``len(oracle_sql())`` in
#: ``test_driver_cap_rotation_invariants`` — a structured pin, not a
#: comment regex), with no hand-curated tuple
#: to go stale (the
#: r12 verdict found 65 entries 3–4 windows old under manual
#: rotation). Rows-only entries still sit contiguously at the tail
#: (``test_driver_cap_rotation_invariants``). ``_DRIVER_FIRST`` is
#: assigned at the END of the module (it needs ``oracle_sql()``).


def _driver_first_order(oracle_names: tuple) -> tuple:
    """Order oracle-backed entries least-recently-driver-checked
    first, reading the committed ``CORRECTNESS_r*.json`` artifacts
    next to this module. An entry counts as checked in round N only
    if it was GREEN there (rows+schema+hash all true) — a red check
    must be retried next window, not pushed to the back. Missing or
    unreadable artifacts degrade to "never checked" (the entry
    leads), so a fresh clone without artifacts still produces a
    deterministic alphabetical order."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, v in data.items():
            green = isinstance(v, dict) and all(
                v.get(k) is True
                for k in ("rows_match", "schema_match", "hash_match")
            )
            if green:
                last[name] = max(last.get(name, -1), rnd)
    return tuple(
        sorted(oracle_names, key=lambda n: (last.get(n, -1), n))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        "scd2_apply": _q_scd2,
        # point-in-time read over the merged SCD2 table: after the batch
        # ts, so updated keys resolve to their new version, deleted keys
        # to none
        "scd2_as_of": lambda s, d: cdc.scd2_as_of(
            _q_scd2(s, d), F.to_timestamp(F.lit("2026-07-01 00:00:00"))
        ),
        "chunk_docs": lambda s, d: chunking.chunk_documents(
            _t(s, d, "documents")
        ),
        # connected components over the near-dup pair graph
        # (dedup.hybrid_components; oracle = DuckDB recursive CTE)
        "dedup_clusters": lambda s, d: dedup.neardup_clusters(
            _t(s, d, "documents")
        ),
        # cluster-aware survivor selection: best-quality member per
        # near-dup cluster (ties -> lowest doc_id)
        # removed-doc → survivor lineage map (clusters ⋈ survivors,
        # duplicate-population-sized end to end)
        "dedup_survivor_map": lambda s, d: dedup.dedup_survivor_map(
            _t(s, d, "documents")
        ),
        "dedup_keep_best": lambda s, d: dedup.keep_best_per_cluster(
            _t(s, d, "documents")
        ),
        # new-batch exact dedup against a persisted fingerprint index
        # (index never shuffled: broadcast batch-fps probe + anti-join)
        "dedup_incremental": _q_dedup_incremental,
        # Bloom-sidecar-gated variant: result-identical by the filter's
        # zero-false-negative guarantee (shares the oracle SQL)
        "dedup_incremental_bloom": _q_dedup_incremental_bloom,
        "dedup_incremental_neardup": _q_incremental_neardup,
        # data mixing: deterministic downsample to the target language
        # mixture (largest budget reachable without upsampling)
        "mixture_sample": lambda s, d: sampling.mixture_sample(
            _t(s, d, "documents")
        ),
        # mixture audit: actual vs target token shares + deviation (the
        # DoReMi-loop input; publish before AND after sampling)
        "mixture_report": lambda s, d: sampling.mixture_report(
            _t(s, d, "documents")
        ),
        # epoch-repeat upsampling to the same target mixture (scarce
        # strata repeat; the most abundant runs exactly once)
        "mixture_upsample": lambda s, d: sampling.mixture_upsample(
            _t(s, d, "documents")
        ),
        "quantize_embeddings": lambda s, d: similarity.quantize_embeddings(
            _t(s, d, "embeddings")
        ),
        # vector-modality data card: per-label + TOTAL counts, dim
        # bounds, exact norm quantiles (corpus_data_card's mirror)
        "embedding_data_card": lambda s, d: similarity.embedding_data_card(
            _t(s, d, "embeddings")
        ),
        # embedding-centroid drift screen: per-label top shifted
        # dimensions between snapshot halves (PSI's vector companion)
        # norm-outlier quarantine list (rank-exact IQR fences)
        "embedding_norm_outliers": lambda s, d: (
            similarity.embedding_norm_outliers(_t(s, d, "embeddings"))
        ),
        "embedding_drift": lambda s, d: similarity.embedding_drift(
            _t(s, d, "embeddings")
        ),
        # IVF cell-balance health table off the persisted serving
        # layout (rows-only: cell ids come from the k-means quantizer)
        "ivf_index_stats": lambda s, d: similarity.ivf_index_stats(
            s, _ivf_index_dir(s, d)
        ),
        "ann_cosine_topk": lambda s, d: similarity.cosine_topk(
            _t(s, d, "embeddings")
        ),
        # vectorized Arrow/numpy variant — same exact semantics, same
        # oracle (round-4 values agree; pinned by pytest)
        "ann_cosine_topk_vec": lambda s, d: similarity.cosine_topk_pandas(
            _t(s, d, "embeddings")
        ),
        # --- multimodal columns (SURVEY §2.8) ---
        "multimodal_blob_stats": lambda s, d: multimodal.blob_stats(
            _t(s, d, "documents")
        ),
        "multimodal_decode": lambda s, d: multimodal.decode_assets(
            multimodal.as_assets(_t(s, d, "documents"))
        ),
        "multimodal_features": lambda s, d: multimodal.feature_columns(
            multimodal.extract_features(multimodal.as_assets(_t(s, d, "documents")))
        ),
        "multimodal_frames": lambda s, d: multimodal.sample_frames(
            multimodal.decode_assets(multimodal.as_assets(_t(s, d, "documents")))
        ),
        # perceptual dHash per image asset (r17): 64 comparison bits
        # over the stubbed luminance plane, packed as 4x16-bit lanes
        "image_dhash": lambda s, d: multimodal.image_dhash(
            _t(s, d, "documents")
        ),
        # binary-modality near-dup: banded hamming join over the dHash
        # lanes (simhash_pairs machinery; complete for hamming < 8)
        "image_neardup_pairs": lambda s, d: multimodal.image_neardup_pairs(
            _t(s, d, "documents")
        ),
        # image dedup clusters: hybrid CC over the dHash pair graph
        # (the text dedup_clusters lifecycle on the binary modality)
        "image_neardup_clusters": lambda s, d: (
            multimodal.image_neardup_clusters(_t(s, d, "documents"))
        ),
        # deduplicated image table: one survivor (min asset id) per
        # near-dup cluster — the keep_best_per_cluster step for blobs
        "image_dedup_survivors": lambda s, d: (
            multimodal.image_dedup_survivors(_t(s, d, "documents"))
        ),
        # video near-dup: per-sampled-frame dHash fingerprints and the
        # frame-set-Jaccard pair join — the third modality's dedup
        "video_frame_signatures": lambda s, d: (
            multimodal.video_frame_signatures(_t(s, d, "documents"))
        ),
        # registered default is the CAPPED scale profile (hot
        # signatures pruned from candidate generation, scores
        # recounted exactly) — deterministic, so still oracle-exact;
        # the complete path is the max_sig_freq=None API default
        "video_neardup_pairs": lambda s, d: (
            multimodal.video_neardup_pairs(
                _t(s, d, "documents"),
                max_sig_freq=multimodal.VIDEO_SIG_FREQ_CAP,
            )
        ),
        # the capacity read pricing the signature join's quadratic
        # term before paying it (hot-signature skew is real: one
        # degenerate signature on 131 sf0.01 videos)
        "video_sig_density": lambda s, d: (
            multimodal.video_sig_density(_t(s, d, "documents"))
        ),
        # audio near-dup at the 1-second-window grain — the shared
        # segmented-fingerprint + set-Jaccard machinery on the third
        # binary modality (capped default, same rationale as video)
        "audio_window_signatures": lambda s, d: (
            multimodal.audio_window_signatures(_t(s, d, "documents"))
        ),
        "audio_neardup_pairs": lambda s, d: (
            multimodal.audio_neardup_pairs(
                _t(s, d, "documents"),
                max_sig_freq=multimodal.AUDIO_SIG_FREQ_CAP,
            )
        ),
        "audio_sig_density": lambda s, d: (
            multimodal.audio_sig_density(_t(s, d, "documents"))
        ),
        # lifecycle closers: the image family's clusters + keep-one
        # steps at the video/audio grains (capped pair graph — the
        # oracle-exact scale profile — feeding the hybrid CC)
        "video_neardup_clusters": lambda s, d: (
            multimodal.video_neardup_clusters(_t(s, d, "documents"))
        ),
        "video_dedup_survivors": lambda s, d: (
            multimodal.video_dedup_survivors(_t(s, d, "documents"))
        ),
        "audio_neardup_clusters": lambda s, d: (
            multimodal.audio_neardup_clusters(_t(s, d, "documents"))
        ),
        "audio_dedup_survivors": lambda s, d: (
            multimodal.audio_dedup_survivors(_t(s, d, "documents"))
        ),
        # the per-modality funnel report over the three capped cluster
        # builds (curation_funnel's binary-modality counterpart)
        "multimodal_dedup_funnel": lambda s, d: (
            multimodal.multimodal_dedup_funnel(_t(s, d, "documents"))
        ),
        "multimodal_resize": lambda s, d: multimodal.resize_plan(
            multimodal.decode_assets(multimodal.as_assets(_t(s, d, "documents")))
        ),
        # exact-substring dedup (ExactSubstr, Lee et al.): duplicated
        # window spans + their removal — new this round, so also ahead
        # of the long-green block
        "dup_spans": lambda s, d: dedup.duplicate_spans(
            _t(s, d, "documents")
        ),
        "remove_dup_spans": lambda s, d: dedup.remove_duplicate_spans(
            _t(s, d, "documents")
        ),
        # keep-one-occurrence removal policy (Lee et al.: deduplicate,
        # don't delete) — survivor = corpus-lowest (doc_id, start) per
        # window hash; default mode's contract unchanged
        "remove_dup_spans_first": lambda s, d: dedup.remove_duplicate_spans(
            _t(s, d, "documents"), keep="first"
        ),
        # corpus-level ExactSubstr coverage card (is span removal worth
        # running on this corpus?)
        "dup_span_coverage": lambda s, d: dedup.dup_span_coverage(
            _t(s, d, "documents")
        ),
        # MOSS winnowing fingerprints (guaranteed shared-run detection
        # at ~2/(w+1) selection density)
        "winnow_fingerprints": lambda s, d: dedup.winnow_fingerprints(
            _t(s, d, "documents")
        ),
        # MOSS matching step: pairs sharing >= min_shared fingerprints
        "winnow_neardup_pairs": lambda s, d: dedup.winnow_neardup_pairs(
            _t(s, d, "documents")
        ),
        # bigram LM scoring — one order deeper than unigram_logprob
        "bigram_logprob": lambda s, d: textops.bigram_logprob(
            _t(s, d, "documents")
        ),
        # MinHash estimator accuracy: estimated vs exact Jaccard with
        # the error column itself oracle-checked (deterministic hashes)
        "minhash_estimate": lambda s, d: dedup.minhash_estimate_pairs(
            _t(s, d, "documents")
        ),
        # corpus data card: per-lang + TOTAL rollup summary table
        "corpus_data_card": lambda s, d: textops.corpus_data_card(
            _t(s, d, "documents")
        ),
        # temperature mixture: shares derived as sqrt(T_l) instead of a
        # hand-written weight table (multilingual temperature sampling)
        "temperature_mixture": lambda s, d: sampling.temperature_mixture(
            _t(s, d, "documents")
        ),
        # C4 line-level cleaning over deterministically injected
        # multi-line text (the synthetic corpus is single-line; the
        # oracle injects the identical lines — the scrub_pii pattern)
        "clean_lines": lambda s, d: textops.clean_lines(
            _t(s, d, "documents").select(
                "doc_id",
                F.concat_ws(
                    "\n",
                    F.concat(F.substring("text", 1, 40), F.lit(".")),
                    F.lit("tiny"),
                    F.lit("please enable javascript to continue."),
                    F.lit("config = { debug: false }"),
                    F.substring("text", 41, 60),
                ).alias("text"),
            )
        ),
        # C4 document-level blocklist over deterministically injected
        # markers: every 3rd doc gets a mixed-case block word, every
        # 4th-mod-1 a shortener URL, every 5th-mod-2 a word-boundary
        # NON-match ("gamblingly") — keep, drop, and boundary paths all
        # exercised; the oracle injects the identical strings
        "blocklist_filter": lambda s, d: textops.blocklist_filter(
            _t(s, d, "documents").select(
                "doc_id",
                F.concat(
                    F.col("text"),
                    F.when(
                        (F.col("doc_id") % 3) == 0,
                        F.lit(" hot Gambling offer"),
                    ).otherwise(F.lit("")),
                    F.when(
                        (F.col("doc_id") % 4) == 1,
                        F.lit(" via bit.ly/deal today"),
                    ).otherwise(F.lit("")),
                    F.when(
                        (F.col("doc_id") % 5) == 2,
                        F.lit(" gamblingly speaking"),
                    ).otherwise(F.lit("")),
                ).alias("text"),
            )
        ),
        # Gopher A1.1 quality rules over deterministically injected
        # variety: every other doc gains three list-stopwords (rule
        # pass), every 7th a bullet line, every 5th-mod-1 an ellipsis
        # line, every 11th a symbol run — each rule fires on a known
        # subset; the oracle injects the identical strings
        "gopher_quality": lambda s, d: textops.gopher_quality(
            _t(s, d, "documents").select(
                "doc_id",
                F.concat(
                    F.when(
                        (F.col("doc_id") % 7) == 0,
                        F.lit("• bullet item\n"),
                    ).otherwise(F.lit("")),
                    F.col("text"),
                    F.when(
                        (F.col("doc_id") % 2) == 0,
                        F.lit(" that have with"),
                    ).otherwise(F.lit("")),
                    F.when(
                        (F.col("doc_id") % 11) == 0,
                        F.lit(" ### ##"),
                    ).otherwise(F.lit("")),
                    F.when(
                        (F.col("doc_id") % 5) == 1,
                        F.lit("\nwait for it..."),
                    ).otherwise(F.lit("")),
                ).alias("text"),
            )
        ),
        # Gopher within-doc repetition fractions over injected repeats:
        # every 4th-mod-1 doc gains a doubled 5-token phrase (duplicate
        # 5-gram coverage), every 3rd a line appearing twice (dup-line
        # rules); the small-vocabulary corpus supplies natural top-2/3-
        # gram variety on its own; the oracle injects identically
        "gopher_repetition": lambda s, d: textops.gopher_repetition(
            _t(s, d, "documents").select(
                "doc_id",
                F.concat(
                    F.col("text"),
                    F.when(
                        (F.col("doc_id") % 4) == 1,
                        F.lit(
                            " spark loves big fast data"
                            " spark loves big fast data"
                        ),
                    ).otherwise(F.lit("")),
                    F.when(
                        (F.col("doc_id") % 3) == 0,
                        F.concat(
                            F.lit("\n"),
                            F.substring("text", 1, 30),
                            F.lit("\n"),
                            F.substring("text", 1, 30),
                        ),
                    ).otherwise(F.lit("")),
                ).alias("text"),
            )
        ),
        # --- reference parity on testdata stand-ins (SURVEY §2.3/2.5) ---
        "latency_kpis": lambda s, d: relational.latency_kpis(_t(s, d, "events")),
        "topn_recent": lambda s, d: relational.topn_recent(_t(s, d, "orders")),
        "json_extract": lambda s, d: relational.json_props_extract(
            _t(s, d, "events")
        ),
        "sec_of_day": lambda s, d: relational.sec_of_day(_t(s, d, "events")),
        "mask_email": _q_mask_email,
        # --- relational completeness (SURVEY §2.8) ---
        "pricing_summary": lambda s, d: relational.pricing_summary(
            _t(s, d, "lineitem")
        ),
        # TPC-H Q3 shape: selective dim broadcast -> fact⋈fact on the
        # order key -> decimal-exact revenue -> TakeOrdered top-K
        "shipping_priority": lambda s, d: relational.shipping_priority(
            _t(s, d, "lineitem"), _t(s, d, "orders"), _t(s, d, "customer")
        ),
        # TPC-H Q4 shape: EXISTS via left-semi join on the order key
        "order_priority_check": lambda s, d: relational.order_priority_check(
            _t(s, d, "lineitem"), _t(s, d, "orders")
        ),
        # TPC-H Q13 shape: left-outer count distribution incl. the
        # zero-order customers
        "customer_distribution": lambda s, d: relational.customer_distribution(
            _t(s, d, "orders"), _t(s, d, "customer")
        ),
        # contamination audit: overlap fraction for EVERY train doc
        "contamination_report": lambda s, d: dedup.contamination_report(
            _t(s, d, "documents")
        ),
        # snapshot diff: added/removed/changed keys between two
        # deterministically perturbed views of the orders table
        "table_diff": lambda s, d: cdc.table_diff(
            _t(s, d, "orders").filter("o_orderkey % 7 != 0"),
            _t(s, d, "orders")
            .filter("o_orderkey % 10 != 0")
            .withColumn(
                "o_totalprice",
                F.when(
                    F.expr("o_orderkey % 5 = 0"),
                    F.col("o_totalprice") + 1,
                ).otherwise(F.col("o_totalprice")),
            ),
            "o_orderkey",
        ),
        # Deequ-style per-column completeness/cardinality profile
        "profile_columns": lambda s, d: profiling.profile_columns(
            _t(s, d, "orders"), PROFILE_COLS
        ),
        # declarative constraint checks, one scan for all rules
        "check_constraints": lambda s, d: profiling.check_constraints(
            _t(s, d, "orders"), ORDERS_RULES
        ),
        # join/agg-key skew diagnostics over the events user key
        "key_skew_profile": lambda s, d: relational.key_skew_profile(
            _t(s, d, "events"), "user_id"
        ),
        # TPC-H Q18 shape: aggregate-then-HAVING-then-join
        "large_orders": lambda s, d: relational.large_orders(
            _t(s, d, "lineitem"), _t(s, d, "orders"), _t(s, d, "customer")
        ),
        # TPC-H Q14 shape: promo revenue share (conditional aggregate
        # over a month-pruned fact ⋈ part join, no broadcast hint)
        "promo_revenue": lambda s, d: relational.promo_revenue(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        # TPC-H Q15 shape: aggregate-then-argmax-then-join on exact
        # decimal revenue (a 1-ulp flip would change the result SET)
        "top_supplier": lambda s, d: relational.top_supplier(
            _t(s, d, "lineitem"), _t(s, d, "supplier")
        ),
        # TPC-H Q19 shape: OR'd (brand, size, qty) bands with the
        # hand-hoisted coarse envelope pushed to both scans
        "brand_revenue_bands": lambda s, d: relational.brand_revenue_bands(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        # TPC-H Q17 shape: correlated avg-quantity scalar subquery
        # decorrelated to a window over the brand slice's single scan
        "avg_quantity_gate": lambda s, d: relational.avg_quantity_gate(
            _t(s, d, "lineitem"), _t(s, d, "part")
        ),
        # TPC-H Q21 shape: EXISTS/NOT-EXISTS cascade as left-semi +
        # left-anti self-joins on the per-(order, supplier) table
        "waiting_supplier": lambda s, d: relational.waiting_supplier(
            _t(s, d, "lineitem"), _t(s, d, "orders"), _t(s, d, "supplier")
        ),
        # BPE merge-pair counting (tokenizer-training step: weighted
        # adjacent char pairs over the distinct-word table)
        "bpe_merge_pairs": lambda s, d: textops.bpe_merge_pairs(
            _t(s, d, "documents")
        ),
        # RefinedWeb-style per-source token-share cap (portable-hash
        # thinning of over-cap sources; monotone in the cap)
        "source_share_cap": lambda s, d: sampling.source_share_cap(
            _t(s, d, "documents")
        ),
        # TPC-H Q22 shape: scalar-avg subquery as a 1-row broadcast +
        # NOT EXISTS as a left-anti join, integer-exact boundary
        "idle_customers": lambda s, d: relational.idle_customers(
            _t(s, d, "customer"), _t(s, d, "orders")
        ),
        # TPC-H Q11 shape: group HAVING vs grand total — the total
        # re-aggregates the group table, never re-scans the fact
        "nation_revenue_share": lambda s, d: relational.nation_revenue_share(
            _t(s, d, "lineitem"), _t(s, d, "supplier"), _t(s, d, "nation")
        ),
        # TPC-H Q2 shape: correlated min subquery as an argmin-payload
        # struct min (no join-back pass)
        "min_cost_supplier": lambda s, d: relational.min_cost_supplier(
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
            _t(s, d, "region"),
            _t(s, d, "part"),
        ),
        # iterative BPE trainer (rows-only: driver loop of vocab-sized
        # rounds — see module docstring)
        "bpe_train": lambda s, d: textops.bpe_train(_t(s, d, "documents")),
        # batched trainer: same vocab-sized rounds, ~n/batch driver
        # round-trips (rows-only, bpe_train's rationale)
        "bpe_train_batched": lambda s, d: textops.bpe_train_batched(
            _t(s, d, "documents")
        ),
        # PSI drift screen: per-type value-distribution shift across
        # the mid-series time cut
        "population_stability": lambda s, d: profiling.population_stability(
            _t(s, d, "events")
        ),
        # BPE ENCODE under the frozen trained merge table (the real
        # subword tokenize step; fold work is vocab-sized)
        "bpe_encode": lambda s, d: textops.bpe_encode(_t(s, d, "documents")),
        # TPC-H Q20 shape: nested IN + correlated scalar agg
        # decorrelated to one dual-pruned fact scan + semi-joins
        "surplus_suppliers": lambda s, d: relational.surplus_suppliers(
            _t(s, d, "lineitem"),
            _t(s, d, "part"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
        ),
        # TPC-H Q5 shape: join cycle (customer/supplier same-nation)
        # with region pruning pushed into both dimension slices
        "local_supplier_revenue": lambda s, d: relational.local_supplier_revenue(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
            _t(s, d, "region"),
        ),
        # TPC-H Q6 shape: filter-only global aggregate (pushdown proof)
        "forecast_revenue": lambda s, d: relational.forecast_revenue(
            _t(s, d, "lineitem")
        ),
        # TPC-H Q10 shape: returned-item customer ranking, both fact
        # filters pushed, top-20 via TakeOrdered
        "returned_top_customers": lambda s, d: relational.returned_top_customers(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "nation"),
        ),
        # TPC-H Q16 shape: supplier-variety count-distinct with pushed
        # part exclusions + broadcast anti-join on flagged suppliers
        "part_supplier_variety": lambda s, d: relational.part_supplier_variety(
            _t(s, d, "lineitem"), _t(s, d, "part"), _t(s, d, "supplier")
        ),
        # tokenizer fertility per source under the frozen merge table
        "bpe_fertility": lambda s, d: textops.bpe_fertility(
            _t(s, d, "documents")
        ),
        # TPC-H Q7 shape: bilateral trade flows, disjunctive pair
        # predicate collapsed by pre-pruning both dimension slices
        "nation_trade_flows": lambda s, d: relational.nation_trade_flows(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
        ),
        # TPC-H Q8 shape: one nation's market share in a region, by
        # order year (conditional-aggregate ratio, unrounded division)
        "market_share": lambda s, d: relational.market_share(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
            _t(s, d, "region"),
            _t(s, d, "part"),
        ),
        # TPC-H Q9 shape: product-family profit by (nation, year),
        # revenue and emulated supply cost as separate exact sums
        "product_profit": lambda s, d: relational.product_profit(
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
            _t(s, d, "nation"),
            _t(s, d, "part"),
        ),
        # TPC-H Q12 shape: late-shipment priority split per emulated
        # ship mode (dual conditional count, one aggregate pass)
        "shipmode_priority_counts": lambda s, d: (
            relational.shipmode_priority_counts(
                _t(s, d, "orders"), _t(s, d, "lineitem")
            )
        ),
        # hash-feature linear quality classifier (frozen in-plan
        # weights; the fastText-gate deployment plumbing end to end)
        "quality_classifier": lambda s, d: textops.quality_classifier(
            _t(s, d, "documents")
        ),
        # quality-quantile curriculum assignment (percentile boundaries
        # broadcast back — no global sort/ntile)
        "curriculum_phases": lambda s, d: sampling.curriculum_phases(
            _t(s, d, "documents")
        ),
        # LSH band-posting health table (predicts pair-join cost
        # without materializing any pair)
        "lsh_index_stats": lambda s, d: dedup.lsh_index_stats(
            _t(s, d, "documents")
        ),
        # per-type z-score outlier screen (exact fixed-point moments)
        "detect_outliers": lambda s, d: relational.detect_outliers(
            _t(s, d, "events")
        ),
        # ordered funnel conversion (view -> click -> purchase)
        "funnel_analysis": lambda s, d: relational.funnel_analysis(
            _t(s, d, "events")
        ),
        # first-order Markov transition matrix over user event streams
        "event_transitions": lambda s, d: relational.event_transitions(
            _t(s, d, "events")
        ),
        # Bloom semi-join reduction on a fact⋈fact join (oracle = the
        # plain join: the driver check proves result-transparency)
        "bloom_join_revenue": lambda s, d: relational.bloom_join_revenue(
            _t(s, d, "lineitem"), _t(s, d, "orders")
        ),
        # per-(type, hour) volume-spike screen (integer-exact moments)
        "event_rate_anomalies": lambda s, d: relational.event_rate_anomalies(
            _t(s, d, "events")
        ),
        # equal-count histogram (quantile bin edges, no global sort)
        "value_equidepth_bins": lambda s, d: relational.value_equidepth_bins(
            _t(s, d, "events")
        ),
        # weekly retention cohorts (first-event week × activity week)
        "retention_cohorts": lambda s, d: relational.retention_cohorts(
            _t(s, d, "events")
        ),
        # deterministic quality-weighted downsample (FineWeb-Edu idea)
        "quality_weighted_sample": lambda s, d: (
            sampling.quality_weighted_sample(_t(s, d, "documents"))
        ),
        # exact fixed-point Pearson correlation matrix over lineitem
        "corr_matrix": lambda s, d: relational.corr_matrix(
            _t(s, d, "lineitem")
        ),
        # full analytic ranking-function family (tie/determinism rules)
        "window_rank_suite": lambda s, d: relational.window_rank_suite(
            _t(s, d, "events")
        ),
        # RFM segmentation: rank-exact global quintile scores -> cells
        "rfm_segments": lambda s, d: relational.rfm_segments(
            _t(s, d, "orders")
        ),
        # two-period value-tier flow matrix (churn/upsell review);
        # tier 0 = absent that period
        "segment_migration": lambda s, d: relational.segment_migration(
            _t(s, d, "orders")
        ),
        # median/MAD robust outlier screen (rank-exact selections)
        "mad_outliers": lambda s, d: relational.mad_outliers(
            _t(s, d, "events")
        ),
        # per-nation customer-decile Lorenz/Pareto concentration table
        "revenue_concentration": lambda s, d: relational.revenue_concentration(
            _t(s, d, "orders"), _t(s, d, "customer"), _t(s, d, "nation")
        ),
        # per-repeat-customer reorder-interval profile (lag window)
        "customer_order_gaps": lambda s, d: relational.customer_order_gaps(
            _t(s, d, "orders")
        ),
        # deterministic T5-style span-corruption masking plan (portable
        # hash placement, non-overlap structural)
        "span_corruption_plan": lambda s, d: chunking.span_corruption_plan(
            _t(s, d, "documents")
        ),
        # market-basket part-pair affinity on the fact table (baskets =
        # orders; pairs from per-order sorted arrays, never a self-join)
        "part_pair_affinity": lambda s, d: relational.part_pair_affinity(
            _t(s, d, "lineitem")
        ),
        # lineitems-per-order histogram (two tiny integer rollups)
        "order_linecount_histogram": lambda s, d: (
            relational.order_linecount_histogram(_t(s, d, "lineitem"))
        ),
        # market-segment x order-priority demand-mix grid
        "segment_priority_matrix": lambda s, d: (
            relational.segment_priority_matrix(
                _t(s, d, "orders"), _t(s, d, "customer")
            )
        ),
        # ABC (Pareto) inventory classification — exact-decimal
        # cumulative-share boundaries
        "pareto_parts": lambda s, d: relational.pareto_parts(
            _t(s, d, "lineitem")
        ),
        # month-over-month revenue trend (exact-decimal sums, lag
        # window over the <=|months| aggregate)
        "monthly_revenue_trend": lambda s, d: (
            relational.monthly_revenue_trend(_t(s, d, "orders"))
        ),
        # per-nation MoM growth drill-down (lag over the tiny
        # nation x month grid; 25-row dim broadcast)
        "revenue_growth_by_nation": lambda s, d: (
            relational.revenue_growth_by_nation(
                _t(s, d, "orders"), _t(s, d, "customer"),
                _t(s, d, "nation"),
            )
        ),
        # per-nation OLS slope/intercept/R^2 from exact sums (the
        # fitted-trend companion to the MoM lag table)
        "revenue_trend_by_nation": lambda s, d: (
            relational.revenue_trend_by_nation(
                _t(s, d, "orders"), _t(s, d, "customer"),
                _t(s, d, "nation"),
            )
        ),
        # chi-square independence + Cramér's V over the segment x
        # priority contingency grid (one-row statistic)
        "segment_priority_chi2": lambda s, d: (
            relational.segment_priority_chi2(
                _t(s, d, "orders"), _t(s, d, "customer")
            )
        ),
        # per-nation supplier-concentration HHI (exact decimal sum of
        # squares, one closing division)
        "supplier_hhi": lambda s, d: relational.supplier_hhi(
            _t(s, d, "lineitem"), _t(s, d, "supplier"), _t(s, d, "nation")
        ),
        # referential-integrity audit over the star schema's FK edges
        "fk_integrity_report": lambda s, d: profiling.fk_integrity_report(
            {
                t: _t(s, d, t)
                for t in (
                    "lineitem", "orders", "part", "supplier",
                    "customer", "nation", "region",
                )
            }
        ),
        # order->ship latency percentiles per priority (rank-exact)
        "shipping_delay_profile": lambda s, d: (
            relational.shipping_delay_profile(
                _t(s, d, "orders"), _t(s, d, "lineitem")
            )
        ),
        # per-source token-length histogram (fixed-width integer
        # buckets — the pre-packing context-length report)
        "doclen_histogram": lambda s, d: textops.doclen_histogram(
            _t(s, d, "documents")
        ),
        # exact-fingerprint overlap matrix between sources (provenance
        # companion to neardup_source_matrix)
        "cross_source_overlap": lambda s, d: dedup.cross_source_overlap(
            _t(s, d, "documents")
        ),
        # near-dup cluster-size histogram incl. the singleton row —
        # partitions the whole corpus (dedup budget table)
        "dedup_cluster_sizes": lambda s, d: dedup.dedup_cluster_sizes(
            _t(s, d, "documents")
        ),
        "revenue_by_region": lambda s, d: relational.revenue_by_region(
            _t(s, d, "orders"),
            _t(s, d, "customer"),
            _t(s, d, "nation"),
            _t(s, d, "region"),
        ),
        "top_orders_per_customer": lambda s, d: relational.top_orders_per_customer(
            _t(s, d, "orders")
        ),
        "user_setops": lambda s, d: relational.user_setops(_t(s, d, "events")),
        "rollup_orders": lambda s, d: relational.rollup_orders(_t(s, d, "orders")),
        "cube_orders": lambda s, d: relational.cube_orders(_t(s, d, "orders")),
        "pivot_user_events": lambda s, d: relational.pivot_user_event_counts(
            _t(s, d, "events")
        ),
        "distinct_users_salted": lambda s, d: relational.distinct_users_by_type_salted(
            _t(s, d, "events")
        ),
        "value_percentiles": lambda s, d: relational.value_percentiles(
            _t(s, d, "events")
        ),
        # statistical aggregates (stddev/corr/OLS trend) in one
        # map-side-combined pass
        "stats_by_type": lambda s, d: relational.stats_by_type(
            _t(s, d, "events")
        ),
        "windowed_agg": lambda s, d: relational.windowed_event_agg(
            _t(s, d, "events")
        ),
        # skew-proof salted join (provably identical to the plain join:
        # the oracle IS the plain join)
        "salted_join_revenue": lambda s, d: relational.salted_join_revenue(
            _t(s, d, "orders"), _t(s, d, "customer")
        ),
        # incremental aggregate maintenance: history rollup + delta fold
        # must exactly equal the one-shot rollup (the oracle)
        "incr_rollup": _q_incr_rollup,
        "vocab_coverage": lambda s, d: textops.vocab_coverage(
            _t(s, d, "documents")
        ),
        # Misra-Gries candidates + exact recount: output is exact (the
        # sketch only prunes), so it IS oracle-checkable
        "heavy_hitters": lambda s, d: textops.heavy_hitters(
            _t(s, d, "documents")
        ),
        # --- temporal operators (SURVEY §2.8) ---
        "asof_join": lambda s, d: temporal.asof_join_events(
            _t(s, d, "events")
        ),
        "sessionize": lambda s, d: temporal.sessionize(_t(s, d, "events")),
        # sweep-line concurrency profile over the sessionized stream
        # ("how many users at once, for how long")
        "session_concurrency": lambda s, d: temporal.session_concurrency(
            _t(s, d, "events")
        ),
        # damped weighted PageRank over the nation trade graph (which
        # nations are CENTRAL, not just high-volume); rows-only —
        # float-iterative, numpy-reference-pinned. with_residual
        # surfaces the measured final-round L1 step in the driver
        # artifact (r15 verdict item 4: the fixed 20-round budget's
        # convergence is evidence, not assertion)
        "nation_pagerank": lambda s, d: graph.nation_pagerank(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
            with_residual=True,
        ),
        # --- combinatorial graph family (r16): exactly-SQL-expressible
        # network structure over the nation trade graph; the strong
        # support threshold is integer-exact (cnt*n_lanes >= total) so
        # the oracle boundary decision is bit-identical ---
        # per-nation directed degree/strength screen
        "graph_degree_profile": lambda s, d: graph.trade_degree_profile(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
        ),
        # two-way-flow share of the above-mean trade lanes (1 row)
        "graph_reciprocity": lambda s, d: graph.trade_reciprocity(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
        ),
        # global triangle census + transitivity (degree-ordered
        # orientation kernel: each triangle enumerated exactly once)
        "nation_triangles": lambda s, d: graph.trade_triangle_census(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
        ),
        # per-nation local clustering coefficient (brokers vs blocs)
        "nation_clustering": lambda s, d: graph.trade_clustering(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
        ),
        # common-neighbor / Jaccard / Adamic-Adar link prediction over
        # non-adjacent strong-trade pairs (wedge-bounded pair space)
        "nation_link_prediction": lambda s, d: graph.trade_link_prediction(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
        ),
        # Newman degree assortativity of the strong trade graph
        # (rich-club vs hub-and-spoke; integer-exact moments)
        "nation_assortativity": lambda s, d: graph.trade_assortativity(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
        ),
        # coreness (k-core) of the strong trade graph — integer
        # h-index fixpoint with EXACT checksum convergence; rows-only
        # (iterative), peeling-reference-pinned
        "nation_kcore": lambda s, d: graph.trade_kcore(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
        ),
        # Kleinberg HITS hubs/authorities over the revenue trade graph
        # (the directed dual pagerank's single score collapses);
        # rows-only (float-iterative), numpy-pinned
        "nation_hits": lambda s, d: graph.nation_hits(
            _t(s, d, "customer"),
            _t(s, d, "orders"),
            _t(s, d, "lineitem"),
            _t(s, d, "supplier"),
        ),
        # --- user co-activity graph (r17): the SAME combinatorial
        # kernels on a |users|-node non-grid graph (nodes = users, an
        # edge per co-active pair — the oracle-checked overlap join),
        # where the degree-ordered orientation bound actually binds ---
        # global triangle census + transitivity of co-activity (1 row)
        "user_triangles": lambda s, d: graph.user_triangles(
            _t(s, d, "events")
        ),
        # per-user local clustering on the co-activity graph
        # (coordinated rings vs incidental overlap)
        "user_clustering": lambda s, d: graph.user_clustering(
            _t(s, d, "events")
        ),
        # coreness of the co-activity graph — rows-only (iterative
        # integer fixpoint), peeling-reference-pinned
        "user_kcore": lambda s, d: graph.user_kcore(
            _t(s, d, "events")
        ),
        # Newman assortativity of co-activity (rich club vs
        # hub-and-spoke; decimal-exact moments at user cardinality)
        "user_assortativity": lambda s, d: graph.user_assortativity(
            _t(s, d, "events")
        ),
        # per-user Goh-Barabasi gap burstiness (bot/automation screen;
        # exact decimal moments off the sessionize order)
        "user_burstiness": lambda s, d: temporal.user_burstiness(
            _t(s, d, "events")
        ),
        # contrastive-training hard negatives: top-k most-similar
        # vectors BELOW the near-dup band (ANCE/DPR mining step)
        "ann_hard_negatives": lambda s, d: similarity.hard_negatives_topk(
            _t(s, d, "embeddings")
        ),
        # cross-user co-active session pairs (bucketized interval
        # overlap join -- equi-join on time buckets, exact verify)
        "session_overlap_pairs": lambda s, d: (
            temporal.session_overlap_pairs(_t(s, d, "events"))
        ),
        # per-bucket candidate density of the overlap join — the
        # flash-crowd capacity observation run BEFORE paying the
        # quadratic pairwise cost (r15 verdict item 6)
        "session_overlap_density": lambda s, d: (
            temporal.session_overlap_density(_t(s, d, "events"))
        ),
        # inter-event gap histogram: the evidence behind the
        # sessionization gap constant (bimodality check)
        "session_gap_profile": lambda s, d: (
            temporal.session_gap_profile(_t(s, d, "events"))
        ),
        # per-nation monthly revenue + 3-month trailing moving average
        # (the bounded-FRAME window exemplar; smooths the MoM deltas)
        "rolling_revenue_by_nation": lambda s, d: (
            relational.rolling_revenue_by_nation(
                _t(s, d, "orders"), _t(s, d, "customer")
            )
        ),
        # per-user out-of-order arrival audit — the watermark-sizing
        # report (integer-microsecond lateness, one user-keyed shuffle)
        "event_order_audit": lambda s, d: temporal.event_order_audit(
            _t(s, d, "events")
        ),
        # session-level event-type co-occurrence: support + lift per
        # unordered type pair (array-comprehension pairs, no self-join)
        "session_type_lift": lambda s, d: temporal.session_type_lift(
            _t(s, d, "events")
        ),
        "change_filter": lambda s, d: temporal.change_filter(
            _t(s, d, "events")
        ),
        "range_join": lambda s, d: temporal.range_join_events(
            _t(s, d, "events")
        ),
        "value_histogram": lambda s, d: relational.value_histogram(
            _t(s, d, "events")
        ),
        "split_assign": lambda s, d: sampling.assign_splits(
            _t(s, d, "documents")
        ),
        # leakage-safe splits: hash on the near-dup cluster id so every
        # cluster member shares a split (zero cross-split near-dups)
        "cluster_safe_splits": lambda s, d: sampling.cluster_safe_splits(
            _t(s, d, "documents")
        ),
        # near-dup leakage audit over the default doc-keyed splits
        "split_leakage_report": lambda s, d: sampling.split_leakage_report(
            _t(s, d, "documents")
        ),
        "pack_docs": lambda s, d: sampling.pack_documents(
            _t(s, d, "documents")
        ),
        "curate_corpus": lambda s, d: curation.curate_corpus(
            _t(s, d, "documents")
        ),
        # per-source curation funnel: cumulative survival counts at
        # each curate gate (quality -> lang -> dedup -> split)
        "curation_funnel": lambda s, d: curation.curation_funnel(
            _t(s, d, "documents")
        ),
        # token-budget plan: per-stratum epochs / sampling-rate table
        # for an externally-fixed training-token budget
        "token_budget_plan": lambda s, d: sampling.token_budget_plan(
            _t(s, d, "documents")
        ),
        # token-exact packing under the frozen BPE merge table
        "bpe_pack_docs": lambda s, d: sampling.bpe_pack_docs(
            _t(s, d, "documents")
        ),
        # output-layout planner: per-source file counts for a target
        # file size (the small-files-problem table)
        "shard_size_plan": lambda s, d: sampling.shard_size_plan(
            _t(s, d, "documents")
        ),
        # Z-order layout plan: per-z-bucket row counts + both columns'
        # min/max spans (the OPTIMIZE ZORDER audit table)
        "zorder_layout": lambda s, d: sampling.zorder_layout(
            _t(s, d, "events")
        ),
        # deterministic training-order shuffle: (shard, pos) coordinates
        # from the portable hash — reproducible, resumable epoch order
        "corpus_shuffle": lambda s, d: sampling.corpus_shuffle(
            _t(s, d, "documents")
        ),
        # boilerplate audit: top repeated paragraphs with doc/source
        # spread, over the shared injected multi-paragraph corpus
        "boilerplate_paragraphs": lambda s, d: dedup.boilerplate_paragraphs(
            _para_injected(_t(s, d, "documents"))
        ),
        # tokenizer-migration impact: token counts under two merge
        # tables from one vocab-sized double-fold projection
        "tokenizer_swap_report": lambda s, d: textops.tokenizer_swap_report(
            _t(s, d, "documents")
        ),
        # near-dup threshold sweep: pair/doc counts at each candidate
        # Jaccard cut from ONE loosest-threshold pair pipeline
        "dedup_threshold_sweep": lambda s, d: dedup.dedup_threshold_sweep(
            _t(s, d, "documents")
        ),
        # packing-efficiency report over the pack_documents layout
        "packing_efficiency": lambda s, d: sampling.packing_efficiency(
            _t(s, d, "documents")
        ),
        # per-source n-gram type/token diversity ratio
        "ngram_diversity": lambda s, d: textops.ngram_diversity(
            _t(s, d, "documents")
        ),
        # per-source exact rank-based quality-score deciles
        "quality_deciles": lambda s, d: curation.quality_deciles(
            _t(s, d, "documents")
        ),
        # mojibake repair audit: per-rule hit counts over an in-query
        # deterministically corrupted corpus; after-repair all-zero
        "fix_encoding_report": lambda s, d: curation.fix_encoding_report(
            _t(s, d, "documents")
        ),
        # C4 sentence-level gate signals per source (3-sentence floor,
        # terminal punctuation, words per sentence)
        "sentence_stats": lambda s, d: textops.sentence_stats(
            _t(s, d, "documents")
        ),
        # per-source character-class composition (the FineWeb/Dolma
        # non-alphabetic gate input; other_frac spike = markup/mojibake)
        "char_class_profile": lambda s, d: textops.char_class_profile(
            _t(s, d, "documents")
        ),
        # per-source Flesch reading ease / FK grade, micro-averaged on
        # exact integer counts (the canonical readability gate)
        "readability_profile": lambda s, d: textops.readability_profile(
            _t(s, d, "documents")
        ),
        # flagship composition: curate -> decontaminate -> mixture as
        # ONE Catalyst plan (no materialization between stages)
        "pipeline_end_to_end": lambda s, d: curation.pretraining_pipeline(
            _t(s, d, "documents")
        ),
        "reservoir_sample": lambda s, d: sampling.stratified_reservoir(
            _t(s, d, "documents")
        ),
        "hash_sample": lambda s, d: sampling.hash_sample(
            _t(s, d, "documents"), 0.1
        ).select("doc_id", "lang"),
        # Efraimidis-Spirakis weighted WITHOUT-replacement exact-k
        # sample (weight = doc length; deterministic portable-hash u)
        "weighted_sample_topk": lambda s, d: sampling.weighted_sample_topk(
            _t(s, d, "documents").select(
                "doc_id", F.length("text").cast("long").alias("weight")
            )
        ),
        # PII scrub demo: inject deterministic emails/ids/phones/IPs/
        # UUIDs into the text (the synthetic corpus has none) so every
        # redaction pattern is exercised, plus one word-boundary
        # NON-match per boundary-guarded pattern (x-prefixed IP,
        # 9-prefixed phone); the oracle injects the identical suffix.
        "scrub_pii": lambda s, d: textops.scrub_pii(
            _t(s, d, "documents").select("doc_id", _pii_injected_text())
        ),
        # DSIR importance resampling: held-out English docs (hash
        # buckets >= 80, lang='en') stand in for the curated target;
        # the rest of the corpus is scored/resampled toward it
        "dsir_sample": lambda s, d: sampling.dsir_sample(
            _t(s, d, "documents").filter(
                sampling.split_bucket("CAST(doc_id AS STRING)") < 80
            ),
            _t(s, d, "documents").filter(
                (sampling.split_bucket("CAST(doc_id AS STRING)") >= 80)
                & (F.col("lang") == "en")
            ),
        ),
        "repetition_stats": lambda s, d: textops.repetition_stats(
            _t(s, d, "documents")
        ),
        # --- text analysis (SURVEY §2.8) ---
        "token_counts": lambda s, d: textops.token_counts(_t(s, d, "documents")),
        # BM25 ranked retrieval for the fixed demo query set (Lucene
        # idf variant; one narrow corpus scan, no inverted index)
        "bm25_search": lambda s, d: textops.bm25_search(
            _t(s, d, "documents")
        ),
        # hybrid lexical+semantic retrieval fused by reciprocal-rank
        # fusion — exact-arithmetic fusion, so oracle-checkable whole
        "hybrid_search_rrf": lambda s, d: similarity.hybrid_search_rrf(
            _t(s, d, "documents"), _t(s, d, "embeddings")
        ),
        # the approximate SERVING variant: semantic leg via IVF-PQ
        # (rows-only — see module docstring; overlap floor vs the
        # exact hybrid pinned in tests/test_r13_ops.py)
        "hybrid_search_rrf_ann": lambda s, d: similarity.hybrid_search_rrf(
            _t(s, d, "documents"), _t(s, d, "embeddings"),
            semantic="ivfpq",
        ),
        # MMR diversified re-rank over the exact shortlist (rows-only
        # — see module docstring; lambda=1 ≡ exact top-k, diversity
        # win and partition invariance pinned in tests/test_r14_ops.py)
        "mmr_topk": lambda s, d: similarity.mmr_topk(
            _t(s, d, "embeddings")
        ),
        "unigram_logprob": lambda s, d: textops.unigram_logprob(
            _t(s, d, "documents")
        ),
        # CCNet head/middle/tail perplexity strata per language —
        # threshold-broadcast design, no per-language corpus sort
        "perplexity_buckets": lambda s, d: textops.perplexity_buckets(
            _t(s, d, "documents")
        ),
        "text_quality": lambda s, d: textops.text_quality(_t(s, d, "documents")),
        "lang_profile": lambda s, d: textops.lang_profile(_t(s, d, "documents")),
        # per-source language mix + label-agreement (mixture report;
        # shares the lang_profile argmax rule + oracle generator)
        "lang_mix_by_source": lambda s, d: textops.lang_mix_by_source(
            _t(s, d, "documents")
        ),
        "doc_fingerprint": lambda s, d: textops.doc_fingerprints(
            _t(s, d, "documents")
        ),
        "tfidf_top_terms": lambda s, d: textops.tfidf_top_terms(
            _t(s, d, "documents")
        ),
        # --- dedup (SURVEY §2.8) ---
        "dedup_first_event": lambda s, d: dedup.first_event_per_key(
            _t(s, d, "events")
        ),
        "dedup_exact_stats": lambda s, d: dedup.exact_dedup_stats(
            _t(s, d, "documents")
        ),
        "dedup_ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs(
            _t(s, d, "documents")
        ),
        # value-identical AllPairs prefix-filtered form: candidate
        # fan-out bounded by shingle rarity with NO completeness loss
        # (the honest version of the max_doc_freq cap); shares the
        # uncapped oracle
        "dedup_jaccard_prefix": lambda s, d: dedup.jaccard_prefix_pairs(
            _t(s, d, "documents")
        ),
        # asymmetric companion: near-SUBSET pairs by exact shingle
        # containment (inter/min-size, integer-exact boundary)
        "ngram_containment_pairs": lambda s, d: dedup.ngram_containment_pairs(
            _t(s, d, "documents")
        ),
        "dedup_minhash_lsh": lambda s, d: dedup.minhash_lsh_pairs(
            _t(s, d, "documents")
        ),
        # cross-source duplication matrix: verified near-dup pairs
        # rolled up to (source_a, source_b) cells — the mixture-design
        # signal for per-source dedup budgets
        "neardup_source_matrix": lambda s, d: dedup.neardup_source_matrix(
            _t(s, d, "documents")
        ),
        "dedup_simhash": lambda s, d: dedup.simhash_pairs(_t(s, d, "documents")),
        "dedup_embedding": lambda s, d: dedup.embedding_neardup_pairs(
            _t(s, d, "embeddings")
        ),
        # character-level fuzzy dedup: prefix-blocked pair join +
        # threshold levenshtein verify (catches in-place edits that
        # shingle Jaccard misses)
        "dedup_fuzzy": lambda s, d: dedup.fuzzy_neardup_pairs(
            _t(s, d, "documents")
        ),
        # pretraining hygiene: train docs sharing word shingles with
        # the held-out test split (broadcast eval-ngram semi-join)
        "decontaminate": lambda s, d: dedup.decontaminate(
            _t(s, d, "documents")
        ),
        # -------------------------------------------------------------
        # rows-only entries (no oracle_sql — see module docstring).
        # Kept LAST so a row-capped driver run always covers every
        # oracle-backed entry above first.
        # -------------------------------------------------------------
        "synthetic_email": _q_synthetic_email,
        # HLL distinct vs exact with error surfaced (sketch => rows-only
        # driver check; pytest pins the error against the rsd)
        "distinct_users_sketch": lambda s, d: relational.distinct_users_sketch_accuracy(
            _t(s, d, "events")
        ),
        # sketch percentiles vs exact with the error surfaced (the
        # ann_recall pattern; sketch => rows-only driver check, pytest
        # pins the error bound)
        "value_percentiles_sketch": lambda s, d: relational.value_percentiles_accuracy(
            _t(s, d, "events")
        ),
        "ann_lsh_topk": lambda s, d: similarity.lsh_ann_topk(
            _t(s, d, "embeddings")
        ),
        "ann_ivf_topk": lambda s, d: similarity.ivf_topk(
            _t(s, d, "embeddings")
        ),
        # recall self-checks: approx top-k joined against the exact
        # baseline — the quality signal for the two rows-only ANN paths
        "ann_lsh_recall": lambda s, d: similarity.ann_recall(
            _t(s, d, "embeddings"), method="lsh"
        ),
        "ann_ivf_recall": lambda s, d: similarity.ann_recall(
            _t(s, d, "embeddings"), method="ivf"
        ),
        # int8-quantized search (FAISS SQ8 shape): approximate only via
        # quantization error; recall floor pytest-pinned
        "ann_int8_topk": lambda s, d: similarity.cosine_topk_int8(
            _t(s, d, "embeddings")
        ),
        "ann_int8_recall": lambda s, d: similarity.ann_recall(
            _t(s, d, "embeddings"), method="int8"
        ),
        # product quantization (Jégou 2011 / FAISS PQ): codebook train,
        # compressed-corpus encode, ADC scan, and the re-ranked serving
        # path — all rows-only (iterative float k-means); shapes,
        # determinism, and recall floors pinned in tests/test_r11_ops.py
        "pq_train": lambda s, d: similarity.pq_train(
            _t(s, d, "embeddings")
        ),
        "pq_codes": lambda s, d: similarity.pq_codes(
            _t(s, d, "embeddings")
        ),
        "ann_pq_topk": lambda s, d: similarity.ann_pq_topk(
            _t(s, d, "embeddings")
        ),
        "ann_pq_rerank_topk": lambda s, d: similarity.ann_pq_rerank_topk(
            _t(s, d, "embeddings")
        ),
        "ann_pq_recall": lambda s, d: similarity.ann_recall(
            _t(s, d, "embeddings"), method="pq"
        ),
        # OPQ: parametric pre-rotation (PCA eigenbasis + eigenvalue-
        # product balancing, Ge 2013) before the SAME PQ trainer/ADC —
        # higher recall at identical 4 bytes/vector (pinned >= plain PQ)
        "ann_opq_topk": lambda s, d: similarity.ann_opq_topk(
            _t(s, d, "embeddings")
        ),
        "ann_opq_recall": lambda s, d: similarity.ann_recall(
            _t(s, d, "embeddings"), method="opq"
        ),
        # non-parametric (alternating-minimization) OPQ — Ge et al. §5,
        # the FAISS default; rows-only, ≥-parametric pins in
        # tests/test_r13_ops.py
        "ann_opq_iter_topk": lambda s, d: similarity.ann_opq_topk(
            _t(s, d, "embeddings"), mode="iterative"
        ),
        "ann_opq_iter_recall": lambda s, d: similarity.ann_recall(
            _t(s, d, "embeddings"), method="opq_np"
        ),
        # PCA basis + projection (OPQ-style preprocessing; exact fsum
        # moments, deterministic eigh ordering/sign)
        "pca_components": lambda s, d: similarity.pca_components(
            _t(s, d, "embeddings")
        ),
        "pca_project": lambda s, d: similarity.pca_project(
            _t(s, d, "embeddings")
        ),
        # persisted PQ serving layout: codes+floats as separate parquet
        # COLUMNS of one table — the ADC scan is column-pruned to codes
        "pq_index_stats": lambda s, d: similarity.pq_index_stats(
            s, _pq_index_dir(s, d)
        ),
        "pq_probe_index": lambda s, d: similarity.pq_probe_index(
            s, _pq_index_dir(s, d)
        ),
        # OPQ persisted serving path: same layout + a rotation side
        # table; probes/appends rotate consistently forever after
        "opq_probe_index": lambda s, d: similarity.pq_probe_index(
            s, _opq_index_dir(s, d)
        ),
        # IVF-PQ + exact refine — the FAISS production composition
        # (cell pruning × code scan × shortlist float pass)
        "ann_ivfpq_topk": lambda s, d: similarity.ann_ivfpq_topk(
            _t(s, d, "embeddings")
        ),
        "ann_ivfpq_recall": lambda s, d: similarity.ann_recall(
            _t(s, d, "embeddings"), method="ivfpq"
        ),
        # the full FAISS factory string OPQ{m},IVF{x},PQ{m} + refine
        "ann_ivfopq_topk": lambda s, d: similarity.ann_ivfopq_topk(
            _t(s, d, "embeddings")
        ),
        "ann_ivfopq_recall": lambda s, d: similarity.ann_recall(
            _t(s, d, "embeddings"), method="ivfopq"
        ),
        # spherical k-means over the embedding corpus (driver-held k×dim
        # centroids, one map-side-combined corpus pass per iteration)
        "cluster_embeddings": lambda s, d: similarity.cluster_embeddings(
            _t(s, d, "embeddings")
        ),
        # SemDeDup-style pruning: within-cluster cosine near-dups dropped
        "semantic_prune": lambda s, d: similarity.semantic_prune(
            _t(s, d, "embeddings")
        ),
        # --- persisted-index serving paths (new r6): the 100 TB probe
        # shapes, value-certified end-to-end against the same oracles
        # as their recompute twins ---
        "ivf_probe_index": _q_ivf_probe_index,
        "incremental_neardup_indexed": _q_incremental_neardup_indexed,
        # paragraph-level exact dedup (Dolma/C4/CCNet unit) over
        # deterministically injected paragraphs: the synthetic corpus is
        # single-line, so the entry splices in a corpus-wide boilerplate
        # paragraph and an every-other-doc one (mixed case — exercises
        # the normalization) around the real text; the oracle injects
        # the identical strings (the clean_lines/scrub_pii idiom)
        "remove_dup_paragraphs": lambda s, d: dedup.remove_dup_paragraphs(
            _para_injected(_t(s, d, "documents"))
        ),
        # keep-one-occurrence paragraph policy (content-dup mode, vs
        # the default drop-all boilerplate mode) — survivor = lowest
        # (doc_id, pos) per paragraph key
        "remove_dup_paragraphs_first": lambda s, d: (
            dedup.remove_dup_paragraphs(
                _para_injected(_t(s, d, "documents")), keep="first"
            )
        ),
        # sorted-neighborhood record-linkage candidates over the
        # distinct part-name spine (Hernandez-Stolfo blocking; the
        # fuzzy-match complement to exact/shingled dedup)
        "snm_candidate_pairs": lambda s, d: dedup.snm_candidate_pairs(
            _t(s, d, "part")
        ),
        # transitive closure of the SNM match graph -> entities with
        # survivor records (Hernandez-Stolfo step 4; shared CC kernel)
        "snm_entity_clusters": lambda s, d: dedup.snm_entity_clusters(
            _t(s, d, "part")
        ),
        # member -> canonical replacement map for the SNM entities
        # (the dedup_survivor_map shape for parts; shares the
        # recursive-CTE oracle's reach/labeled CTEs)
        "snm_survivor_map": lambda s, d: dedup.snm_survivor_map(
            _t(s, d, "part")
        ),
        # COMPLETE edit-distance self-join (q-gram prefix filtering;
        # the no-false-negative complement to SNM's sliding window)
        "edit_distance_pairs": lambda s, d: dedup.edit_distance_pairs(
            _t(s, d, "part")
        ),
        # per-doc char-level Shannon entropy (repeated-junk LOW /
        # base64-blob HIGH quality gate)
        "char_entropy": lambda s, d: textops.char_entropy(
            _t(s, d, "documents")
        ),
        # PMI over sliding-window co-occurrence (the SGNS/GloVe
        # association statistic; Church-Hanks collocations)
        "pmi_cooccurrence": lambda s, d: textops.pmi_cooccurrence(
            _t(s, d, "documents")
        ),
        # k-anonymity equivalence-class size histogram over the
        # customer quasi-identifiers (the governance measurement
        # companion to apply_masking)
        "k_anonymity_audit": lambda s, d: masking.k_anonymity_audit(
            _t(s, d, "customer")
        ),
        # l-diversity histogram: distinct-sensitive-value counts per
        # QI class (the homogeneity attack k-anonymity misses)
        "l_diversity_audit": lambda s, d: masking.l_diversity_audit(
            _t(s, d, "customer")
        ),
        # t-closeness histogram: variational distance between each
        # class's sensitive distribution and the global one (the
        # skewness attack l-diversity misses)
        "t_closeness_audit": lambda s, d: masking.t_closeness_audit(
            _t(s, d, "customer")
        ),
        # generalization-ladder decision table: re-measure k/l/t on
        # each coarsening rung and mark the first rung passing all
        # three (the ENFORCEMENT step the audits only measure)
        "generalize_qi_report": lambda s, d: masking.generalize_qi_report(
            _t(s, d, "customer"), _t(s, d, "nation")
        ),
        # the enforcement output itself: customer with the QI columns
        # coarsened at the minimal passing rung, audit-rerunnable
        "generalize_quasi_identifiers": lambda s, d: (
            masking.generalize_quasi_identifiers(
                _t(s, d, "customer"), _t(s, d, "nation")
            )
        ),
        # record suppression, the other k-anonymity enforcement lever:
        # drop rows in sub-k QI classes, keep survivors uncoarsened
        "suppress_small_classes": lambda s, d: (
            masking.suppress_small_classes(_t(s, d, "customer"))
        ),
        # Heaps'-law bigram vocabulary-growth curve by corpus decile
        # (the unseen-vocabulary signal read before freezing a vocab)
        "vocab_growth": lambda s, d: textops.vocab_growth(
            _t(s, d, "documents")
        ),
        # Zipf rank-frequency OLS fit over the bigram type-frequency
        # table (corpus-health next to vocab_growth's Heaps curve)
        "zipf_fit": lambda s, d: textops.zipf_fit(_t(s, d, "documents")),
    }
    # apply the driver-cap rotation: _DRIVER_FIRST (least-recently-
    # driver-checked oracle-backed entries first — computed, not
    # hand-curated), then any oracle-backed stragglers in literal
    # order, rows-only entries contiguously last
    oracle_backed = set(oracle_sql())
    ordered = {name: q.pop(name) for name in _DRIVER_FIRST if name in q}
    for name in [n for n in q if n in oracle_backed]:
        ordered[name] = q.pop(name)
    ordered.update(q)
    return ordered


def profile_pairs() -> dict[str, dict[str, Callable[[SparkSession, str], DataFrame]]]:
    """The operators that carry BOTH a portable/oracle profile (exact
    paper semantics, mirrored by the SQL oracle — what ``queries()``
    runs) and a ``scale`` profile (xxhash64 fast hashes, the hot-shingle
    doc-freq cap, the SemDeDup cluster-pairing cap). Each scale path
    trades recall or exactness for speed, so the two give different
    outputs; they are correctness-pinned in pytest, and ``bench.py``
    times each pair both ways so the deltas are measured, not
    asserted."""
    docs = lambda s, d: _t(s, d, "documents")  # noqa: E731
    return {
        "dedup_minhash_lsh": {
            "oracle": lambda s, d: dedup.minhash_lsh_pairs(docs(s, d)),
            "scale": lambda s, d: dedup.minhash_lsh_pairs(
                docs(s, d), hash_profile="fast"
            ),
        },
        "dedup_simhash": {
            "oracle": lambda s, d: dedup.simhash_pairs(docs(s, d)),
            "scale": lambda s, d: dedup.simhash_pairs(
                docs(s, d), hash_profile="fast"
            ),
        },
        "dedup_ngram_jaccard": {
            "oracle": lambda s, d: dedup.ngram_jaccard_pairs(docs(s, d)),
            "scale": lambda s, d: dedup.ngram_jaccard_pairs(
                docs(s, d), max_doc_freq=dedup.MAX_SHINGLE_DOC_FREQ
            ),
        },
        "neardup_source_matrix": {
            "oracle": lambda s, d: dedup.neardup_source_matrix(docs(s, d)),
            "scale": lambda s, d: dedup.neardup_source_matrix(
                docs(s, d), max_doc_freq=dedup.MAX_SHINGLE_DOC_FREQ
            ),
        },
        "dedup_threshold_sweep": {
            "oracle": lambda s, d: dedup.dedup_threshold_sweep(docs(s, d)),
            "scale": lambda s, d: dedup.dedup_threshold_sweep(
                docs(s, d), max_doc_freq=dedup.MAX_SHINGLE_DOC_FREQ
            ),
        },
        "dedup_incremental_neardup": {
            "oracle": _q_incremental_neardup,
            "scale": lambda s, d: dedup.incremental_neardup(
                docs(s, d).filter(
                    sampling.split_bucket("CAST(doc_id AS STRING)") >= 50
                ),
                docs(s, d).filter(
                    sampling.split_bucket("CAST(doc_id AS STRING)") < 50
                ),
                hash_profile="fast",
            ),
        },
        "dedup_clusters": {
            "oracle": lambda s, d: dedup.neardup_clusters(docs(s, d)),
            "scale": lambda s, d: dedup.neardup_clusters(
                docs(s, d), profile="scale"
            ),
        },
        "semantic_prune": {
            "oracle": lambda s, d: similarity.semantic_prune(
                _t(s, d, "embeddings")
            ),
            "scale": lambda s, d: similarity.semantic_prune(
                _t(s, d, "embeddings"), profile="scale"
            ),
        },
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (same constants as the Spark operators)
# ---------------------------------------------------------------------------

_EMBED_DIM = similarity.EMBED_DIM


def _dot_sql(a: str, b: str) -> str:
    """Sequential left-associative double dot product — matches the order
    of Spark's aggregate() accumulation exactly (bit-identical doubles)."""
    terms = " + ".join(
        f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, _EMBED_DIM + 1)
    )
    return f"(0.0 + {terms})"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )


def _shingle_ctes(n: int = dedup.SHINGLE_N) -> str:
    return f"""
toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws) - {n} + 2),
                                     i -> array_to_string(ws[i:i+{n - 1}], ' '))) AS shingle
        FROM toks WHERE len(ws) >= {n}
    )
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""


def _jaccard_tail(threshold: float) -> str:
    return f"""
inter AS (
    SELECT c.d1, c.d2, count(*) AS n_inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.d1
    JOIN sh sb ON sb.doc_id = c.d2 AND sa.shingle = sb.shingle
    GROUP BY c.d1, c.d2
)
SELECT i.d1, i.d2,
       round(i.n_inter / (s1.n_sh + s2.n_sh - i.n_inter), 4) AS jaccard
FROM inter i
JOIN sizes s1 ON s1.doc_id = i.d1
JOIN sizes s2 ON s2.doc_id = i.d2
WHERE i.n_inter / (s1.n_sh + s2.n_sh - i.n_inter) >= {threshold}
"""


def _remove_dup_paragraphs_sql(keep: str = "none") -> str:
    """``remove_dup_paragraphs`` oracle (keep="none" drops every
    occurrence; keep="first" exempts the corpus-lowest (doc_id, pos)
    survivor per paragraph key via ``row_number()=1`` — mirroring the
    Spark side's ``min(struct(doc_id, pos))``)."""
    survivor_filter = " AND rn > 1" if keep == "first" else ""
    return f"""
            WITH injected AS (
                SELECT doc_id,
                       substr(text, 1, 60)
                       || chr(10) || chr(10)
                       || 'Subscribe to our newsletter for updates.'
                       || CASE WHEN doc_id % 2 = 0
                               THEN chr(10) || chr(10)
                                    || 'Follow Us On Social Media.'
                               ELSE '' END
                       || chr(10) || chr(10) || substr(text, 61) AS text
                FROM documents
            ),
            sp AS (
                SELECT doc_id,
                       string_split(text, chr(10) || chr(10)) AS ps
                FROM injected
            ),
            pk AS (
                -- normalize with the explicit whitespace class (incl.
                -- \\x0b) so the paragraph key matches Spark's Java-\\s
                -- normalize_text byte-for-byte (the dup_spans fix)
                SELECT doc_id, u.i - 1 AS pos, ps[u.i] AS para,
                       md5(trim(regexp_replace(lower(ps[u.i]),
                                               '{dedup.SUBSTR_WS_RE}', ' ',
                                               'g'))) AS pkey
                FROM sp, unnest(generate_series(1, len(ps))) AS u(i)
                WHERE trim(ps[u.i]) <> ''
            ),
            dupw AS (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY pkey) AS c,
                       row_number() OVER (PARTITION BY pkey
                                          ORDER BY doc_id, pos) AS rn
                FROM pk
            ),
            drops AS (
                SELECT doc_id, pos FROM dupw
                WHERE c >= {dedup.PARA_MIN_COUNT}{survivor_filter}
            ),
            kept AS (
                SELECT doc_id,
                       array_to_string(list(para ORDER BY pos),
                                       chr(10) || chr(10)) AS clean_text,
                       count(*) AS n_kept
                FROM pk
                WHERE NOT EXISTS (SELECT 1 FROM drops
                                  WHERE drops.doc_id = pk.doc_id
                                    AND drops.pos = pk.pos)
                GROUP BY doc_id
            ),
            tot AS (
                -- totals straight off the (injected) document rows, NOT
                -- off pk: a doc with zero non-blank paragraphs must
                -- still emit a (doc_id, '', 0, 0) row, matching the
                -- operator's totals-from-documents shape
                SELECT doc_id,
                       CAST(len(list_filter(ps, p -> trim(p) <> ''))
                            AS BIGINT) AS n_paragraphs
                FROM sp
            )
            SELECT tot.doc_id,
                   coalesce(kept.clean_text, '') AS clean_text,
                   tot.n_paragraphs,
                   CAST(tot.n_paragraphs - coalesce(kept.n_kept, 0)
                        AS BIGINT) AS n_removed_paragraphs
            FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id
    """


def _scrub_pii_sql() -> str:
    """``scrub_pii`` oracle: the byte-identical injected suffix (see
    ``_pii_injected_text``) plus a redaction chain and count list BOTH
    generated from ``textops.PII_RULES`` — one rule table drives the
    Spark side and the oracle, so pattern or order drift is
    impossible."""
    md5s = "md5(CAST(doc_id AS VARCHAR))"
    uuid = (
        f"substr({md5s},1,8) || '-' || substr({md5s},9,4) || '-' || "
        f"substr({md5s},13,4) || '-' || substr({md5s},17,4) || '-' || "
        f"substr({md5s},21,12)"
    )
    scrub = "text"
    for _, pat, token in textops.PII_RULES:
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    counts = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
        f" AS {name}"
        for name, pat, _ in textops.PII_RULES
    )
    return f"""
        WITH injected AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com ref '
                        || CAST(doc_id * 1234567 + 10000000 AS VARCHAR)
                        || ' call ' || printf('555-%03d-%04d',
                                              doc_id % 1000,
                                              doc_id % 10000)
                        || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                        || ' id ' || {uuid}
                        || ' not-ip x1.2.3.4 not-phone 9555-123-4567'
                       AS text
            FROM documents
        )
        SELECT doc_id, {scrub} AS scrubbed,
               {counts}
        FROM injected
    """


def _dsir_sample_sql() -> str:
    """``dsir_sample`` oracle: the same split (corpus = hash buckets
    < 80, target = buckets >= 80 AND lang='en'), the same hashed
    unigram+bigram features, the same quantized per-bucket log-weights
    (floor(lw·1e6+0.5) — exact integer sums thereafter), and the same
    centered/tempered keep rule."""
    from scholar_stream_spark.operators import sampling as _s

    b = _s.DSIR_BUCKETS
    a = _s.DSIR_SMOOTHING
    rate = _s.DSIR_RATE
    sharp = _s.DSIR_SHARPNESS
    denom = _s.SAMPLE_DENOM
    hb = hex48_sql("CAST(doc_id AS VARCHAR)")
    return f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split(trim(regexp_replace(lower(text), '\\s+',
                                                    ' ', 'g')), ' ') AS ws,
                   ({hb}) % 100 AS split_b
            FROM documents
        ),
        cg AS (
            SELECT doc_id, ws[u.i] AS g
            FROM toks, unnest(generate_series(1, len(ws))) AS u(i)
            WHERE split_b < 80
            UNION ALL
            SELECT doc_id, ws[u.i] || ' ' || ws[u.i + 1] AS g
            FROM toks, unnest(generate_series(1, len(ws) - 1)) AS u(i)
            WHERE split_b < 80 AND len(ws) >= 2
        ),
        tg AS (
            SELECT doc_id, ws FROM toks
            WHERE split_b >= 80 AND lang = 'en'
        ),
        tgg AS (
            SELECT ws[u.i] AS g
            FROM tg, unnest(generate_series(1, len(ws))) AS u(i)
            UNION ALL
            SELECT ws[u.i] || ' ' || ws[u.i + 1] AS g
            FROM tg, unnest(generate_series(1, len(ws) - 1)) AS u(i)
            WHERE len(ws) >= 2
        ),
        cb AS (SELECT doc_id, ({hex48_sql("g")}) % {b} AS bucket FROM cg),
        tb AS (SELECT ({hex48_sql("g")}) % {b} AS bucket FROM tgg),
        tc AS (SELECT bucket, count(*) AS tc FROM tb GROUP BY bucket),
        cc AS (SELECT bucket, count(*) AS cc FROM cb GROUP BY bucket),
        lm AS (
            SELECT coalesce(tc.bucket, cc.bucket) AS bucket,
                   coalesce(tc.tc, 0) AS tc, coalesce(cc.cc, 0) AS cc
            FROM tc FULL OUTER JOIN cc ON tc.bucket = cc.bucket
        ),
        tot AS (SELECT SUM(tc) AS nt, SUM(cc) AS nc FROM lm),
        w AS (
            SELECT bucket,
                   CAST(floor((ln((tc + {a}) / (nt + {a * b}))
                               - ln((cc + {a}) / (nc + {a * b})))
                              * 1000000 + 0.5) AS BIGINT) AS lw_q
            FROM lm, tot
        ),
        scored AS (
            SELECT cb.doc_id,
                   CAST(count(*) AS BIGINT) AS n_ngrams,
                   SUM(w.lw_q) AS lr_q
            FROM cb JOIN w ON cb.bucket = w.bucket
            GROUP BY cb.doc_id
        ),
        m AS (SELECT SUM(lr_q) / SUM(n_ngrams) / 1000000.0 AS mean_lr
              FROM scored),
        keep AS (
            SELECT s.doc_id, s.n_ngrams,
                   s.lr_q / s.n_ngrams / 1000000.0 AS lr,
                   least(1.0, {rate} * exp({sharp} *
                       (s.lr_q / s.n_ngrams / 1000000.0 - m.mean_lr)))
                       AS p
            FROM scored s, m
        )
        SELECT doc_id, n_ngrams,
               round(lr, 4) AS log_ratio,
               round(p, 4) AS p_keep
        FROM keep
        WHERE ({hb}) % {denom} < p * {denom}
    """


def _curriculum_sql() -> str:
    """``curriculum_phases`` oracle: the raw (unrounded) quality score
    from the ``_text_quality_sql`` feature mapping, quantized to the
    same 1e-6 integers, with ``quantile_cont`` boundaries at the SAME
    fractional literals the Spark side generates."""
    stop_list = ", ".join(f"'{w}'" for w in textops.STOPWORDS)
    n = sampling.CURRICULUM_PHASES
    bound_sel = ", ".join(
        f"quantile_cont(sq, {i / n!r}) AS b{i}" for i in range(1, n)
    )
    phase = " + ".join(
        f"(CASE WHEN sq > b{i} THEN 1 ELSE 0 END)" for i in range(1, n)
    )
    return f"""
        WITH feat AS (
            SELECT doc_id,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS BIGINT) AS nt,
                   length(replace(text, ' ', '')) AS n_nonspace,
                   len(list_filter(regexp_split_to_array(trim(text),
                                                         '\\s+'),
                                   t -> t IN ({stop_list}))) AS n_stop
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CASE WHEN nt < 5 THEN 0.0
                        ELSE 1.0 - abs(n_nonspace / nt - 4.0) / 10.0
                             - (n_stop / nt) * 0.5 END AS score
            FROM feat
        ),
        q AS (
            SELECT doc_id, score,
                   CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS sq
            FROM s
        ),
        b AS (SELECT {bound_sel} FROM q)
        SELECT doc_id, round(score, 4) AS quality_score,
               CAST(1 + {phase} AS INTEGER) AS phase
        FROM q, b
    """


def _lsh_index_stats_sql() -> str:
    """``lsh_index_stats`` oracle: the shared shingle/band CTEs with a
    bucket-count rollup on top."""
    return f"""
        WITH {_shingle_ctes()},
        {_minhash_band_ctes()},
        buckets AS (
            SELECT band, key, count(*) AS c FROM bands GROUP BY band, key
        )
        SELECT CAST(band AS INTEGER) AS band,
               CAST(SUM(c) AS BIGINT) AS n_postings,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(MAX(c) AS BIGINT) AS max_bucket,
               CAST(SUM(c * (c - 1)) // 2 AS BIGINT) AS est_candidate_pairs
        FROM buckets
        GROUP BY band
    """


def _split_case_sql() -> str:
    """The SPLIT_BOUNDS bucket→name CASE, shared by the three
    split-assignment oracles."""
    return "CASE " + " ".join(
        f"WHEN bucket >= {lo} AND bucket < {hi} THEN '{name}'"
        for name, lo, hi in sampling.SPLIT_BOUNDS
    ) + " END"


def _cluster_safe_splits_sql() -> str:
    """``cluster_safe_splits`` oracle: clusters CTE LEFT-joined to the
    corpus, split key = coalesce(cluster_id, doc_id), same hash/bounds
    as ``split_assign``."""
    return f"""
        WITH cl AS (SELECT * FROM ({_clusters_sql()})),
        keyed AS (
            SELECT d.doc_id,
                   CAST(coalesce(cl.cluster_id, d.doc_id) AS BIGINT)
                       AS split_key
            FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
        ),
        b AS (
            SELECT doc_id, split_key,
                   CAST(({hex48_sql("CAST(split_key AS VARCHAR)")}) % 100
                        AS BIGINT) AS bucket
            FROM keyed
        )
        SELECT doc_id, split_key, bucket, {_split_case_sql()} AS split
        FROM b
    """


def _split_leakage_sql() -> str:
    """``split_leakage_report`` oracle: the ngram-Jaccard pair table
    joined twice to the default doc-keyed split assignment."""
    return f"""
        WITH p AS (SELECT d1, d2 FROM ({_ngram_jaccard_sql()})),
        s AS (
            SELECT doc_id, {_split_case_sql()} AS split
            FROM (SELECT doc_id,
                         ({hex48_sql("CAST(doc_id AS VARCHAR)")}) % 100
                             AS bucket
                  FROM documents)
        )
        SELECT least(s1.split, s2.split) AS split_a,
               greatest(s1.split, s2.split) AS split_b,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM p
        JOIN s s1 ON p.d1 = s1.doc_id
        JOIN s s2 ON p.d2 = s2.doc_id
        GROUP BY 1, 2
    """


def _winnow_sql() -> str:
    """``winnow_fingerprints`` oracle: same k-gram hash (portable 48-bit
    over the space-joined slice), same window minima, same distinct."""
    k, w = dedup.WINNOW_K, dedup.WINNOW_WINDOW
    kgram_hash = hex48_sql(f"array_to_string(ws[i : i + {k} - 1], ' ')")
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text),
                                         '{dedup.SUBSTR_WS_RE}') AS ws
            FROM documents
        ),
        hs AS (
            SELECT doc_id,
                   list_transform(range(1, len(ws) - {k} + 2),
                                  i -> {kgram_hash}) AS hs
            FROM toks WHERE len(ws) >= {k}
        ),
        sel AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(hs) - {w} + 1, 1) + 1),
                       j -> list_min(hs[j : j + {w} - 1]))) AS fps
            FROM hs
        )
        SELECT doc_id, unnest(fps) AS fingerprint FROM sel
    """


def _dup_span_coverage_sql() -> str:
    """``dup_span_coverage`` oracle: one rollup over the shared span
    CTEs plus token totals from the same tokenization."""
    return f"""
        WITH {_dup_spans_ctes()},
        span_agg AS (
            SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
                       AS n_docs_with_dups,
                   CAST(coalesce(SUM(span_end - span_start), 0) AS BIGINT)
                       AS dup_tokens,
                   count(*) AS n_spans
            FROM merged
        ),
        tok_agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(ws)) AS BIGINT) AS total_tokens
            FROM toks
        )
        SELECT n_docs, n_docs_with_dups, total_tokens, dup_tokens,
               round(dup_tokens / CAST(total_tokens AS DOUBLE), 4)
                   AS coverage,
               round(CASE WHEN n_spans > 0
                          THEN dup_tokens / CAST(n_spans AS DOUBLE)
                          ELSE 0.0 END, 4) AS mean_span_tokens
        FROM tok_agg, span_agg
    """


def _mixture_report_sql() -> str:
    """``mixture_report`` oracle: same token formula as the quality
    features, target weights inlined from the SAME constant dict."""
    # ::DOUBLE on every weight literal: a bare 0.2 is DECIMAL(2,1) in
    # DuckDB and the decimal propagates through round/coalesce into the
    # output dtype, hash-mismatching Spark's double
    values = ", ".join(
        f"('{k}', {float(v)!r}::DOUBLE)"
        for k, v in sorted(sampling.MIXTURE_WEIGHTS.items())
    )
    return f"""
        WITH base AS (
            SELECT lang AS stratum,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS BIGINT) AS nt
            FROM documents
        ),
        per AS (
            SELECT stratum, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(nt) AS BIGINT) AS n_tokens
            FROM base GROUP BY stratum
        ),
        tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tt FROM per),
        w(stratum, tgt) AS (VALUES {values})
        SELECT per.stratum, n_docs, n_tokens,
               round(n_tokens / tt, 4) AS token_share,
               round(coalesce(tgt, 0.0), 4) AS target_share,
               round(n_tokens / tt - coalesce(tgt, 0.0), 4) AS deviation
        FROM per CROSS JOIN tot
        LEFT JOIN w ON per.stratum = w.stratum
    """


def _bpe_pack_sql() -> str:
    """``bpe_pack_docs`` oracle: per-word token counts via the
    separator-rewrite encode (``_bpe_encode_sql``) folded into the
    pack_docs offset CTEs."""
    enc = _bpe_sep_expr()
    return f"""
        WITH words AS (
            SELECT doc_id, w AS word
            FROM documents,
                 UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
            WHERE w <> ''
        ),
        wc AS (
            SELECT doc_id, word, count(*) AS c
            FROM words GROUP BY doc_id, word
        ),
        vocab AS (SELECT DISTINCT word FROM words),
        enc AS (
            SELECT word,
                   CAST(len(string_split(trim({enc}, chr(1)),
                                         chr(1) || chr(1))) AS BIGINT)
                       AS nt
            FROM vocab
        ),
        doc_toks AS (
            SELECT doc_id, CAST(SUM(c * nt) AS BIGINT) AS n_doc_tokens
            FROM wc JOIN enc USING (word) GROUP BY doc_id
        ),
        base AS (
            SELECT d.doc_id,
                   ({hex48_sql("CAST(d.doc_id AS VARCHAR)")})
                       % {sampling.PACK_NUM_SHARDS} AS shard,
                   CAST(coalesce(n_doc_tokens, 0) AS BIGINT)
                       AS n_doc_tokens
            FROM documents d LEFT JOIN doc_toks ON d.doc_id = doc_toks.doc_id
        ),
        offs AS (
            SELECT doc_id, shard, n_doc_tokens,
                   COALESCE(SUM(n_doc_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS start
            FROM base
        )
        SELECT doc_id, shard, n_doc_tokens,
               CAST(floor(start / {sampling.PACK_BUDGET_TOKENS})
                    AS BIGINT) AS pack_seq,
               CAST(start % {sampling.PACK_BUDGET_TOKENS} AS BIGINT)
                   AS offset_in_pack
        FROM offs
    """


def _norm_outliers_sql() -> str:
    """``embedding_norm_outliers`` oracle: the card's sequential-fold
    norm + rank-exact quartiles + identical IEEE fence math."""
    k = similarity.NORM_IQR_K
    return f"""
        WITH base AS (
            SELECT vec_id, label,
                   round(sqrt({_dot_sql("embedding", "embedding")}), 4)
                       AS norm
            FROM embeddings
        ),
        ranked AS (
            SELECT label, norm,
                   row_number() OVER (PARTITION BY label
                                      ORDER BY norm, vec_id) AS rn
            FROM base
        ),
        nn AS (SELECT label, count(*) AS n FROM base GROUP BY label),
        q AS (
            SELECT r.label,
                   MIN(CASE WHEN rn = (n + 3) // 4 THEN norm END) AS q1,
                   MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN norm END)
                       AS q3
            FROM ranked r JOIN nn USING (label) GROUP BY r.label
        ),
        f AS (
            SELECT label, q1 - {k!r} * (q3 - q1) AS lo_fence,
                   q3 + {k!r} * (q3 - q1) AS hi_fence
            FROM q
        )
        SELECT b.vec_id, b.label, b.norm, f.lo_fence, f.hi_fence
        FROM base b JOIN f USING (label)
        WHERE b.norm < f.lo_fence OR b.norm > f.hi_fence
        ORDER BY b.label, b.vec_id
    """


def _boilerplate_sql() -> str:
    """``boilerplate_paragraphs`` oracle: the shared injected corpus
    (source carried), normalized with the explicit whitespace class so
    keys match Spark's Java-``\\s`` normalize_text byte-for-byte."""
    return f"""
        WITH injected AS (
            SELECT doc_id, source,
                   substr(text, 1, 60)
                   || chr(10) || chr(10)
                   || 'Subscribe to our newsletter for updates.'
                   || CASE WHEN doc_id % 2 = 0
                           THEN chr(10) || chr(10)
                                || 'Follow Us On Social Media.'
                           ELSE '' END
                   || chr(10) || chr(10) || substr(text, 61) AS text
            FROM documents
        ),
        sp AS (
            SELECT doc_id, source,
                   string_split(text, chr(10) || chr(10)) AS ps
            FROM injected
        ),
        pk AS (
            SELECT doc_id, source,
                   trim(regexp_replace(lower(ps[u.i]),
                                       '{dedup.SUBSTR_WS_RE}', ' ', 'g'))
                       AS paragraph
            FROM sp, unnest(generate_series(1, len(ps))) AS u(i)
            WHERE trim(ps[u.i]) <> ''
        ),
        agg AS (
            SELECT paragraph,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources
            FROM pk GROUP BY paragraph
        )
        SELECT paragraph, n_occurrences, n_docs, n_sources
        FROM agg WHERE n_docs >= {dedup.PARA_MIN_COUNT}
        ORDER BY n_docs DESC, n_occurrences DESC, paragraph ASC
        LIMIT {dedup.BOILERPLATE_TOP_K}
    """


def _tokenizer_swap_sql() -> str:
    """``tokenizer_swap_report`` oracle: two separator-rewrite encode
    chains (full + truncated merge tables) over the distinct vocab."""
    enc_a = _bpe_sep_expr()
    enc_b = _bpe_sep_expr(merges=textops.BPE_MERGES_SMALL)
    return f"""
        WITH words AS (
            SELECT source, w AS word
            FROM documents,
                 UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
            WHERE w <> ''
        ),
        wc AS (
            SELECT source, word, count(*) AS f
            FROM words GROUP BY source, word
        ),
        vocab AS (SELECT DISTINCT word FROM words),
        enc AS (
            SELECT word,
                   CAST(len(string_split(trim({enc_a}, chr(1)),
                                         chr(1) || chr(1))) AS BIGINT)
                       AS na,
                   CAST(len(string_split(trim({enc_b}, chr(1)),
                                         chr(1) || chr(1))) AS BIGINT)
                       AS nb
            FROM vocab
        ),
        per AS (
            SELECT source, CAST(SUM(f) AS BIGINT) AS n_words,
                   CAST(SUM(f * na) AS BIGINT) AS tokens_a,
                   CAST(SUM(f * nb) AS BIGINT) AS tokens_b
            FROM wc JOIN enc USING (word) GROUP BY source
        )
        SELECT source, n_words, tokens_a, tokens_b,
               round(tokens_a / n_words, 6) AS fertility_a,
               round(tokens_b / n_words, 6) AS fertility_b,
               round(tokens_b / tokens_a, 6) AS token_ratio
        FROM per ORDER BY source
    """


def _threshold_sweep_sql() -> str:
    """``dedup_threshold_sweep`` oracle: the jaccard pair pipeline at
    the loosest threshold, swept over the literal threshold axis."""
    th = sorted(dedup.SWEEP_THRESHOLDS)
    values = ", ".join(f"({float(t)!r}::DOUBLE)" for t in th)
    loose = f"""
WITH {_shingle_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_jaccard_tail(min(th))}
"""
    return f"""
        WITH p AS (SELECT d1, d2, jaccard FROM ({loose})),
        t(threshold) AS (VALUES {values}),
        tagged AS (
            SELECT t.threshold, p.d1, p.d2
            FROM p JOIN t ON p.jaccard >= t.threshold
        ),
        np AS (
            SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
            FROM tagged GROUP BY threshold
        ),
        nd AS (
            SELECT threshold, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
            FROM (
                SELECT threshold, unnest([d1, d2]) AS doc FROM tagged
            ) u GROUP BY threshold
        )
        SELECT t.threshold,
               CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
        FROM t LEFT JOIN np USING (threshold)
               LEFT JOIN nd USING (threshold)
        ORDER BY t.threshold
    """


def _token_budget_sql() -> str:
    """``token_budget_plan`` oracle: weight VALUES normalized from the
    SAME constant dict, targets floored on the identical literal-double
    product, ratio columns single divisions of exact integers."""
    total = sum(sampling.MIXTURE_WEIGHTS.values())
    values = ", ".join(
        f"('{k}', {float(v / total)!r}::DOUBLE)"
        for k, v in sorted(sampling.MIXTURE_WEIGHTS.items())
    )
    budget = float(sampling.PLAN_BUDGET_TOKENS)
    return f"""
        WITH per AS (
            SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(length(text) - length(replace(text, ' ', ''))
                            + 1) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang
        ),
        w(stratum, wn) AS (VALUES {values}),
        t AS (
            SELECT per.stratum, n_docs, n_tokens,
                   CAST(floor({budget!r} * coalesce(wn, 0.0)) AS BIGINT)
                       AS target_tokens
            FROM per LEFT JOIN w ON per.stratum = w.stratum
        )
        SELECT stratum, n_docs, n_tokens, target_tokens,
               round(CAST(target_tokens AS DOUBLE) / n_tokens, 6)
                   AS epochs,
               round(least(1.0, CAST(target_tokens AS DOUBLE) / n_tokens),
                     6) AS sample_rate,
               (CAST(target_tokens AS DOUBLE) / n_tokens) > 1.0
                   AS needs_upsample
        FROM t ORDER BY stratum
    """


def _packing_efficiency_sql() -> str:
    """``packing_efficiency`` oracle: the pack_docs offset CTEs rolled
    up per shard; n_packs in integer ceil arithmetic."""
    b = sampling.PACK_BUDGET_TOKENS
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   ({hex48_sql("CAST(doc_id AS VARCHAR)")})
                       % {sampling.PACK_NUM_SHARDS} AS shard,
                   CAST(length(text) - length(replace(text, ' ', ''))
                        + 1 AS BIGINT) AS n_doc_tokens
            FROM documents
        ), offs AS (
            SELECT shard, n_doc_tokens,
                   COALESCE(SUM(n_doc_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) % {b}
                       AS offset_in_pack
            FROM toks
        ), per AS (
            SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_doc_tokens) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN offset_in_pack + n_doc_tokens
                                      > {b} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_split_docs
            FROM offs GROUP BY shard
        )
        SELECT shard, n_docs,
               CAST((n_tokens + {b - 1}) // {b} AS BIGINT) AS n_packs,
               n_tokens,
               round(CAST(n_tokens AS DOUBLE)
                     / (((n_tokens + {b - 1}) // {b}) * {b}), 6)
                   AS fill_rate,
               n_split_docs,
               round(CAST(n_split_docs AS DOUBLE) / n_docs, 6)
                   AS split_frac
        FROM per ORDER BY shard
    """


def _ngram_diversity_sql() -> str:
    """``ngram_diversity`` oracle: the gopher_repetition n-gram slice
    idiom rolled up to per-source distinct/total counts."""
    n = textops.DIVERSITY_N
    return f"""
        WITH base AS (
            SELECT source,
                   regexp_split_to_array(trim(text), '\\s+') AS ws
            FROM documents
        ),
        g AS (
            SELECT source, array_to_string(ws[i:i+{n - 1}], ' ') AS g
            FROM base, unnest(range(1, len(ws) - {n - 2})) AS t(i)
            WHERE len(ws) >= {n}
        ),
        pg AS (
            SELECT source, g, count(*) AS c FROM g GROUP BY source, g
        ),
        gs AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS n_grams,
                   CAST(count(*) AS BIGINT) AS n_distinct_grams
            FROM pg GROUP BY source
        ),
        d AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        )
        SELECT d.source, n_docs,
               CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(n_distinct_grams, 0) AS BIGINT)
                   AS n_distinct_grams,
               CASE WHEN coalesce(n_grams, 0) > 0
                    THEN round(CAST(n_distinct_grams AS DOUBLE)
                               / n_grams, 6)
                    ELSE 0.0 END AS gram_ttr
        FROM d LEFT JOIN gs ON d.source = gs.source
        ORDER BY d.source
    """


def _fix_encoding_sql() -> str:
    """``fix_encoding_report`` oracle, generated from the SAME
    ``curation.MOJIBAKE_RULES`` table the Spark operator compiles its
    replace chain from (one rule table, both engines — the
    ``lang_profile`` shared-definition discipline). Injection, repair
    chain, and the (length-difference)//rule-length occurrence count
    are literal SQL mirrors of the Column expressions."""
    rules = curation.MOJIBAKE_RULES
    n = len(rules)
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    inject_case = " ".join(
        f"WHEN {i} THEN 'x{esc(bad)}y{esc(bad)}'"
        for i, (_, bad, _) in enumerate(rules)
    )
    fixed = "t"
    for _, bad, good in rules:
        fixed = f"replace({fixed}, '{esc(bad)}', '{esc(good)}')"
    arms = []
    for name, bad, _ in rules:
        b, ln = esc(bad), len(bad)
        arms.append(f"""
            SELECT '{name}' AS rule,
                   CAST(SUM((length(t) - length(replace(t, '{b}', '')))
                            // {ln}) AS BIGINT) AS n_hits,
                   CAST(SUM(CASE WHEN length(t)
                                      > length(replace(t, '{b}', ''))
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
                   CAST(SUM((length(f) - length(replace(f, '{b}', '')))
                            // {ln}) AS BIGINT) AS n_hits_after
            FROM fixed""")
    union = "\n            UNION ALL\n".join(arms)
    return f"""
        WITH injected AS (
            SELECT text || ' ' || CASE CAST(doc_id % {n} AS INT)
                   {inject_case} END AS t
            FROM documents
        ),
        fixed AS (SELECT t, {fixed} AS f FROM injected)
        {union}
    """


def _quality_deciles_sql() -> str:
    """``quality_deciles`` oracle: the _curate_sql score formula +
    rank-based decile selection in integer arithmetic."""
    stop_list = ", ".join(f"'{w}'" for w in textops.STOPWORDS)
    nd = curation.QUALITY_N_DECILES
    return f"""
        WITH feat AS (
            SELECT doc_id, source,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS BIGINT) AS n_doc_tokens,
                   length(replace(text, ' ', '')) AS n_nonspace,
                   len(list_filter(regexp_split_to_array(trim(text),
                                                         '\\s+'),
                                   t -> t IN ({stop_list}))) AS n_stop
            FROM documents
        ),
        scored AS (
            SELECT source, doc_id,
                   round(CASE WHEN n_doc_tokens < 5 THEN 0.0
                         ELSE 1.0 - abs(n_nonspace / n_doc_tokens - 4.0)
                              / 10.0
                              - (n_stop / n_doc_tokens) * 0.5 END, 4)
                       AS score
            FROM feat
        ),
        ranked AS (
            SELECT source, score,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY score, doc_id) AS rn
            FROM scored
        ),
        n AS (SELECT source, count(*) AS n FROM scored GROUP BY source),
        t AS (
            SELECT source, d AS decile, (d * n + {nd - 1}) // {nd} AS rn
            FROM n, unnest(range(1, {nd + 1})) AS td(d)
        )
        SELECT r.source, CAST(t.decile AS INT) AS decile, r.score
        FROM ranked r JOIN t ON r.source = t.source AND r.rn = t.rn
        ORDER BY r.source, decile
    """


def _embedding_card_sql() -> str:
    """``embedding_data_card`` oracle: the same sequential-fold L2 norm
    as the ANN oracles (``_dot_sql`` — bit-identical to Spark's
    ``aggregate`` accumulation), exact quantiles, per-label + TOTAL."""
    aggs = """CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(MIN(dim) AS BIGINT) AS dim_min,
               CAST(MAX(dim) AS BIGINT) AS dim_max,
               round(quantile_cont(nrm, 0.5), 4) AS norm_p50,
               round(quantile_cont(nrm, 0.99), 4) AS norm_p99,
               round(MIN(nrm), 4) AS norm_min,
               round(MAX(nrm), 4) AS norm_max"""
    return f"""
        WITH base AS (
            SELECT CAST(label AS VARCHAR) AS label,
                   len(embedding) AS dim,
                   sqrt({_dot_sql("embedding", "embedding")}) AS nrm
            FROM embeddings
        )
        SELECT label, {aggs} FROM base GROUP BY label
        UNION ALL
        SELECT 'TOTAL' AS label, {aggs} FROM base
    """


def _equidepth_sql() -> str:
    """``value_equidepth_bins`` oracle: quantile_cont boundaries over
    the 1e-6-quantized value at the SAME fractional literals, same
    bin-by-comparison assignment."""
    n = relational.EQUIDEPTH_BINS
    bound_sel = ", ".join(
        f"quantile_cont(vq, {i / n!r}) AS b{i}" for i in range(1, n)
    )
    bin_expr = "1 + " + " + ".join(
        f"(CASE WHEN vq > b{i} THEN 1 ELSE 0 END)" for i in range(1, n)
    )
    return f"""
        WITH q AS (
            SELECT value,
                   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
            FROM events
        ),
        b AS (SELECT {bound_sel} FROM q)
        SELECT CAST({bin_expr} AS INTEGER) AS bin,
               CAST(count(*) AS BIGINT) AS n_events,
               round(MIN(value), 4) AS lo,
               round(MAX(value), 4) AS hi
        FROM q, b
        GROUP BY 1
    """


def _brand_bands_where() -> str:
    """The Q19-shaped disjunction, generated from the SAME band table
    the Spark operator reads (``relational.BRAND_BANDS``)."""
    return " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
        f" AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in relational.BRAND_BANDS
    )


def _quality_classifier_sql() -> str:
    """``quality_classifier`` oracle: same hashed unigram+bigram
    features as the DSIR oracle, same frozen integer milli-weights
    (hash(salt‖bucket) mod span − half), exact integer logit sum."""
    b = textops.QC_BUCKETS
    span = textops.QC_WEIGHT_SPAN
    half = (span - 1) // 2
    salt = textops.QC_WEIGHT_SALT
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+',
                                                    ' ', 'g')), ' ') AS ws
            FROM documents
        ),
        cg AS (
            SELECT doc_id, ws[u.i] AS g
            FROM toks, unnest(generate_series(1, len(ws))) AS u(i)
            UNION ALL
            SELECT doc_id, ws[u.i] || ' ' || ws[u.i + 1] AS g
            FROM toks, unnest(generate_series(1, len(ws) - 1)) AS u(i)
            WHERE len(ws) >= 2
        ),
        wq AS (
            SELECT doc_id,
                   ({hex48_sql(f"concat('{salt}', bucket)")}) % {span}
                       - {half} AS w_q
            FROM (SELECT doc_id, ({hex48_sql("g")}) % {b} AS bucket
                  FROM cg)
        ),
        scored AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_ngrams,
                   SUM(w_q) AS logit_q
            FROM wq GROUP BY doc_id
        )
        SELECT doc_id, n_ngrams,
               round(logit_q / n_ngrams / 1000.0, 4) AS logit,
               round(1.0 / (1.0 + exp(-(logit_q / n_ngrams / 1000.0))),
                     4) AS score,
               logit_q >= 0 AS label
        FROM scored
    """


def _dup_spans_ctes(keep: str = "all") -> str:
    """Shared window-hash → duplicated-hit → gaps-and-islands CTE text
    for the ExactSubstr oracles (mirrors dedup.duplicate_spans).

    Tokenizes with the SAME explicit class as the Spark side
    (``dedup.SUBSTR_WS_RE``, which includes ``\\x0b``) rather than
    RE2's ``\\s`` (which does not): on text containing a vertical tab
    the two engines would otherwise split differently and the span
    offsets silently diverge (round-5 advice).

    ``keep="first"`` exempts the survivor occurrence per window hash —
    the corpus-lowest (doc_id, start), expressed as ``row_number() = 1``
    under that exact ordering, mirroring the Spark side's
    ``min(struct(doc_id, start))`` survivor."""
    w = dedup.SUBSTR_WINDOW
    survivor_filter = " AND rn > 1" if keep == "first" else ""
    return f"""
toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '{dedup.SUBSTR_WS_RE}') AS ws
    FROM documents
),
wins AS (
    SELECT doc_id, u.start,
           md5(array_to_string(ws[u.start+1 : u.start+{w}], ' ')) AS h
    FROM toks, unnest(generate_series(0, len(ws) - {w})) AS u(start)
    WHERE len(ws) >= {w}
),
dupwins AS (
    SELECT doc_id, start,
           count(*) OVER (PARTITION BY h) AS c,
           row_number() OVER (PARTITION BY h
                              ORDER BY doc_id, start) AS rn
    FROM wins
),
ds AS (SELECT doc_id, start FROM dupwins
       WHERE c >= {dedup.SUBSTR_MIN_COUNT}{survivor_filter}),
isl AS (
    SELECT doc_id, start,
           CASE WHEN start > coalesce(
                    max(start + {w}) OVER (
                        PARTITION BY doc_id ORDER BY start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1)
                THEN 1 ELSE 0 END AS new_i
    FROM ds
),
grp AS (
    SELECT doc_id, start,
           SUM(new_i) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS island
    FROM isl
),
merged AS (
    SELECT doc_id,
           CAST(MIN(start) AS BIGINT) AS span_start,
           CAST(MAX(start) + {w} AS BIGINT) AS span_end
    FROM grp GROUP BY doc_id, island
)"""


def _dup_spans_sql() -> str:
    return f"""
WITH {_dup_spans_ctes()}
SELECT doc_id, span_start, span_end,
       span_end - span_start AS span_tokens
FROM merged
"""


def _remove_dup_spans_sql(keep: str = "all") -> str:
    return f"""
WITH {_dup_spans_ctes(keep)},
tok2 AS (
    SELECT doc_id, u.i - 1 AS pos, ws[u.i] AS tok
    FROM toks, unnest(generate_series(1, len(ws))) AS u(i)
),
kept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM tok2 t
    WHERE NOT EXISTS (SELECT 1 FROM merged m
                      WHERE m.doc_id = t.doc_id
                        AND t.pos >= m.span_start AND t.pos < m.span_end)
),
agg AS (
    SELECT doc_id,
           array_to_string(list(tok ORDER BY pos), ' ') AS clean_text,
           CAST(count(*) AS BIGINT) AS n_kept_tokens
    FROM kept GROUP BY doc_id
)
SELECT toks.doc_id,
       coalesce(agg.clean_text, '') AS clean_text,
       coalesce(agg.n_kept_tokens, 0) AS n_kept_tokens,
       CAST(len(toks.ws) - coalesce(agg.n_kept_tokens, 0) AS BIGINT)
           AS n_removed_tokens
FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id
"""


def _ngram_jaccard_sql() -> str:
    return f"""
WITH {_shingle_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_jaccard_tail(dedup.JACCARD_THRESHOLD)}
"""


def _ngram_containment_sql() -> str:
    """``ngram_containment_pairs`` oracle: same shingle CTEs and
    intersection join as the Jaccard sibling; the boundary is the
    identical integer test (``n_inter·den ≥ num·min(n1,n2)``)."""
    num, den = dedup.CONTAINMENT_NUM, dedup.CONTAINMENT_DEN
    return f"""
WITH {_shingle_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
    SELECT c.d1, c.d2, count(*) AS n_inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.d1
    JOIN sh sb ON sb.doc_id = c.d2 AND sa.shingle = sb.shingle
    GROUP BY c.d1, c.d2
)
SELECT i.d1, i.d2,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(s1.n_sh AS BIGINT) AS n1,
       CAST(s2.n_sh AS BIGINT) AS n2,
       round(CAST(i.n_inter AS DOUBLE) / CAST(s1.n_sh AS DOUBLE), 4)
           AS c12,
       round(CAST(i.n_inter AS DOUBLE) / CAST(s2.n_sh AS DOUBLE), 4)
           AS c21
FROM inter i
JOIN sizes s1 ON s1.doc_id = i.d1
JOIN sizes s2 ON s2.doc_id = i.d2
WHERE i.n_inter * {den} >= {num} * least(s1.n_sh, s2.n_sh)
"""


def _source_matrix_sql() -> str:
    """Near-dup pairs (the ngram-Jaccard pipeline verbatim) rolled up
    to unordered (source_a, source_b) cells with an over-the-result
    share denominator."""
    return f"""
WITH {_shingle_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT i.d1, i.d2
    FROM (
        SELECT c.d1, c.d2, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.d1
        JOIN sh sb ON sb.doc_id = c.d2 AND sa.shingle = sb.shingle
        GROUP BY c.d1, c.d2
    ) i
    JOIN sizes s1 ON s1.doc_id = i.d1
    JOIN sizes s2 ON s2.doc_id = i.d2
    WHERE i.n_inter / (s1.n_sh + s2.n_sh - i.n_inter)
          >= {dedup.JACCARD_THRESHOLD}
),
cells AS (
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents da ON pairs.d1 = da.doc_id
    JOIN documents db ON pairs.d2 = db.doc_id
    GROUP BY 1, 2
)
SELECT source_a, source_b, n_pairs,
       n_pairs / CAST(SUM(n_pairs) OVER () AS DOUBLE) AS pair_share
FROM cells
ORDER BY source_a, source_b
"""


def _clusters_sql() -> str:
    """Connected components of the ngram near-dup graph: min reachable
    doc_id per node via a recursive CTE (UNION dedups, so the recursion
    terminates at the transitive closure)."""
    return f"""
WITH RECURSIVE {_shingle_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT i.d1, i.d2
    FROM (
        SELECT c.d1, c.d2, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.d1
        JOIN sh sb ON sb.doc_id = c.d2 AND sa.shingle = sb.shingle
        GROUP BY c.d1, c.d2
    ) i
    JOIN sizes s1 ON s1.doc_id = i.d1
    JOIN sizes s2 ON s2.doc_id = i.d2
    WHERE i.n_inter / (s1.n_sh + s2.n_sh - i.n_inter)
          >= {dedup.JACCARD_THRESHOLD}
),
edges AS (
    SELECT d1 AS s, d2 AS t FROM pairs
    UNION
    SELECT d2, d1 FROM pairs
),
reach(node, r) AS (
    SELECT s, s FROM edges
    UNION
    SELECT e.t, reach.r FROM reach JOIN edges e ON reach.node = e.s
),
labeled AS (
    SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labeled
"""


def _chunk_sql() -> str:
    size, overlap = chunking.CHUNK_SIZE, chunking.CHUNK_OVERLAP
    stride = size - overlap
    return f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
    FROM documents
)
SELECT doc_id,
       CAST(u.start // {stride} AS BIGINT) AS chunk_idx,
       CAST(u.start AS BIGINT) AS start_token,
       CAST(least({size}, len(ws) - u.start) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(ws, u.start + 1, u.start + {size}), ' ')
           AS chunk_text
FROM toks,
     unnest(generate_series(0, len(ws) - 1, {stride})) AS u(start)
"""


def _scd2_sql() -> str:
    return """
WITH cur AS (
    SELECT c_custkey, c_acctbal, c_mktsegment,
           TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM customer
),
chg AS (
    SELECT c_custkey, round(c_acctbal + 100, 2) AS c_acctbal,
           c_mktsegment, 'U' AS op
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_acctbal, c_mktsegment, 'D'
    FROM customer WHERE c_custkey % 10 = 5
    UNION ALL
    SELECT c_custkey + 1000000, c_acctbal, c_mktsegment, 'U'
    FROM customer WHERE c_custkey % 10 = 3
    UNION ALL
    SELECT c_custkey, c_acctbal, c_mktsegment, 'U'
    FROM customer WHERE c_custkey % 10 = 7
),
j AS (
    SELECT cur.c_custkey AS ck, cur.c_acctbal AS ca,
           cur.c_mktsegment AS cm, cur.valid_from, cur.valid_to,
           chg.c_custkey AS gk, chg.c_acctbal AS ga,
           chg.c_mktsegment AS gm, chg.op,
           (cur.c_acctbal IS DISTINCT FROM chg.c_acctbal
            OR cur.c_mktsegment IS DISTINCT FROM chg.c_mktsegment)
               AS differs
    FROM cur FULL OUTER JOIN chg ON cur.c_custkey = chg.c_custkey
)
SELECT ck AS c_custkey, ca AS c_acctbal, cm AS c_mktsegment,
       valid_from, TIMESTAMP '2026-06-01 00:00:00' AS valid_to, FALSE AS is_current
FROM j
WHERE ck IS NOT NULL AND gk IS NOT NULL
  AND (op = 'D' OR (op = 'U' AND differs))
UNION ALL
SELECT ck, ca, cm, valid_from, valid_to, TRUE
FROM j
WHERE ck IS NOT NULL
  AND (gk IS NULL OR (op = 'U' AND NOT differs))
UNION ALL
SELECT gk, ga, gm, TIMESTAMP '2026-06-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
FROM j
WHERE op = 'U' AND (ck IS NULL OR differs)
"""


def _quantize_sql() -> str:
    m = similarity.QUANT_MAX
    return f"""
WITH staged AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) AS mx
    FROM embeddings
),
scaled AS (
    SELECT vec_id, dv,
           CASE WHEN mx = 0 THEN 1.0 ELSE mx / {m} END AS scale
    FROM staged
),
q AS (
    SELECT vec_id, scale,
           list_transform(dv,
               x -> least({m}, greatest(-{m},
                          CAST(floor(x / scale + 0.5) AS BIGINT)))) AS qv
    FROM scaled
)
SELECT vec_id, round(scale, 6) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1,
       CAST(len(list_filter(qv, v -> abs(v) = {m})) AS BIGINT) AS n_sat
FROM q
"""


def _minhash_band_ctes() -> str:
    """The shared sig/bands CTE text (shingle hashes → 32 MinHash sigs →
    banded keys) used by both the full-corpus pair oracle and the
    incremental batch-vs-index oracle."""
    sig_exprs = ",\n           ".join(
        f"list_min(list_transform(hs, x -> ({a} * (x % {MINHASH_PRIME}) + {b})"
        f" % {MINHASH_PRIME})) AS s{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    band_selects = []
    for band in range(MINHASH_BANDS):
        lo = band * MINHASH_ROWS_PER_BAND
        key = " || '-' || ".join(
            f"CAST(s{j} AS VARCHAR)" for j in range(lo, lo + MINHASH_ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {band} AS band, {key} AS key FROM sig"
        )
    bands_union = "\n    UNION ALL\n    ".join(band_selects)
    return f"""
hsh AS (SELECT doc_id, {hex48_sql("shingle")} AS h FROM sh),
hs AS (SELECT doc_id, list(h) AS hs FROM hsh GROUP BY doc_id),
sig AS (SELECT doc_id, {sig_exprs} FROM hs),
bands AS (
    {bands_union}
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_shingle_ctes()},
{_minhash_band_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
{_jaccard_tail(dedup.JACCARD_THRESHOLD)}
"""


def _minhash_estimate_sql() -> str:
    n_sig = len(MINHASH_PARAMS)
    sig_eq = " + ".join(
        f"CASE WHEN sa.s{j} = sb.s{j} THEN 1 ELSE 0 END"
        for j in range(n_sig)
    )
    return f"""
WITH {_shingle_ctes()},
{_minhash_band_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
inter AS (
    SELECT c.d1, c.d2, count(*) AS n_inter
    FROM cand c
    JOIN sh s1 ON s1.doc_id = c.d1
    JOIN sh s2 ON s2.doc_id = c.d2 AND s1.shingle = s2.shingle
    GROUP BY c.d1, c.d2
),
jac AS (
    SELECT i.d1, i.d2,
           round(i.n_inter / (z1.n_sh + z2.n_sh - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes z1 ON z1.doc_id = i.d1
    JOIN sizes z2 ON z2.doc_id = i.d2
    WHERE i.n_inter / (z1.n_sh + z2.n_sh - i.n_inter)
          >= {dedup.JACCARD_THRESHOLD}
)
SELECT jac.d1, jac.d2, jac.jaccard,
       round(({sig_eq}) / {float(n_sig)}, 4) AS est_jaccard,
       round(abs(({sig_eq}) / {float(n_sig)} - jac.jaccard), 4) AS abs_err
FROM jac
JOIN sig sa ON sa.doc_id = jac.d1
JOIN sig sb ON sb.doc_id = jac.d2
"""


def _incremental_neardup_sql() -> str:
    """Batch (hash buckets ≥ 50) vs corpus index (buckets < 50): the
    same banded-candidate + exact-verify pipeline, restricted to
    cross-set pairs — mirrors ``_q_incremental_neardup``."""
    return f"""
WITH {_shingle_ctes()},
{_minhash_band_ctes()},
spl AS (
    SELECT doc_id,
           ({hex48_sql("CAST(doc_id AS VARCHAR)")}) % 100 AS bucket
    FROM documents
),
cand AS (
    SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS corpus_id
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.key = b.key
    JOIN spl pa ON pa.doc_id = a.doc_id
    JOIN spl pb ON pb.doc_id = b.doc_id
    WHERE pa.bucket < 50 AND pb.bucket >= 50
),
inter AS (
    SELECT c.new_id, c.corpus_id, count(*) AS n_inter
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.new_id
    JOIN sh sb ON sb.doc_id = c.corpus_id AND sa.shingle = sb.shingle
    GROUP BY c.new_id, c.corpus_id
)
SELECT i.new_id, i.corpus_id,
       round(i.n_inter / (s1.n_sh + s2.n_sh - i.n_inter), 4) AS jaccard
FROM inter i
JOIN sizes s1 ON s1.doc_id = i.new_id
JOIN sizes s2 ON s2.doc_id = i.corpus_id
WHERE i.n_inter / (s1.n_sh + s2.n_sh - i.n_inter)
      >= {dedup.JACCARD_THRESHOLD}
"""


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        f"SUM((h >> {b}) & 1) AS c{b}" for b in range(SIMHASH_BITS)
    )
    sim_expr = " + ".join(
        f"CASE WHEN 2 * c{b} - n_feat >= 0 THEN {2 ** b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH {_shingle_ctes()},
hsh AS (SELECT doc_id, ({hex48_sql("shingle")}) % {2 ** SIMHASH_BITS} AS h FROM sh),
sums AS (SELECT doc_id, count(*) AS n_feat, {bit_sums} FROM hsh GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({sim_expr} AS BIGINT) AS simhash FROM sums)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_HAMMING_MAX}
"""


def _embedding_neardup_sql() -> str:
    cos = _cos_sql("a.embedding", "b.embedding")
    return f"""
WITH pairs AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS label,
           {cos} AS cos_raw
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT v1, v2, label, round(cos_raw, 4) AS cos_sim
FROM pairs WHERE cos_raw >= {dedup.EMBED_COS_THRESHOLD}
"""


def _fuzzy_neardup_sql() -> str:
    """Prefix-blocked bounded-edit-distance pairs (dedup_fuzzy).

    Mirrors ``dedup.fuzzy_neardup_pairs``: normalize (lower + collapse
    whitespace + trim, same text as the doc_fingerprint oracle), cap at
    FUZZY_VERIFY_CHARS, block on the first FUZZY_BLOCK_CHARS, verify
    with levenshtein. DuckDB's levenshtein has no threshold argument;
    filtering the unbounded distance to <= FUZZY_MAX_EDITS keeps
    exactly the rows Spark's early-exit threshold form returns.
    """
    return f"""
WITH normed AS (
    SELECT doc_id,
           substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                  1, {dedup.FUZZY_VERIFY_CHARS}) AS body
    FROM documents
),
blk AS (
    SELECT doc_id, body,
           substr(body, 1, {dedup.FUZZY_BLOCK_CHARS}) AS blk
    FROM normed
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       levenshtein(a.body, b.body) AS edits
FROM blk a
JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.body, b.body) <= {dedup.FUZZY_MAX_EDITS}
"""


def _decontaminate_sql() -> str:
    """Train-split docs sharing distinct shingles with the test split.

    Reuses the dedup shingle CTEs; the split is the same hash-bucket
    CASE as the split_assign oracle, so both operators stay pinned to
    one assignment definition.
    """
    bounds = {name: (lo, hi) for name, lo, hi in sampling.SPLIT_BOUNDS}
    lo_e, hi_e = bounds["test"]
    lo_c, hi_c = bounds["train"]
    return f"""
WITH {_shingle_ctes()},
spl AS (
    SELECT doc_id,
           ({hex48_sql("CAST(doc_id AS VARCHAR)")}) % 100 AS bucket
    FROM documents
),
eval_sh AS (
    SELECT DISTINCT s.shingle
    FROM sh s JOIN spl p ON s.doc_id = p.doc_id
    WHERE p.bucket >= {lo_e} AND p.bucket < {hi_e}
)
SELECT s.doc_id, count(*) AS n_hits
FROM sh s
JOIN spl p ON s.doc_id = p.doc_id
JOIN eval_sh e ON s.shingle = e.shingle
WHERE p.bucket >= {lo_c} AND p.bucket < {hi_c}
GROUP BY s.doc_id
"""


def _contamination_report_sql() -> str:
    """Per-train-doc eval-overlap audit (contamination_report).

    Totals come from the split table LEFT-JOINed to the shingle counts
    (a doc shorter than the shingle width has 0 shingles but must still
    emit a row — the remove_dup_paragraphs lesson), hits from the same
    eval-shingle semi-join as the decontaminate oracle."""
    bounds = {name: (lo, hi) for name, lo, hi in sampling.SPLIT_BOUNDS}
    lo_e, hi_e = bounds["test"]
    lo_c, hi_c = bounds["train"]
    return f"""
WITH {_shingle_ctes()},
spl AS (
    SELECT doc_id,
           ({hex48_sql("CAST(doc_id AS VARCHAR)")}) % 100 AS bucket
    FROM documents
),
eval_sh AS (
    SELECT DISTINCT s.shingle
    FROM sh s JOIN spl p ON s.doc_id = p.doc_id
    WHERE p.bucket >= {lo_e} AND p.bucket < {hi_e}
),
tot AS (
    SELECT p.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_shingles
    FROM spl p LEFT JOIN (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ) c ON p.doc_id = c.doc_id
    WHERE p.bucket >= {lo_c} AND p.bucket < {hi_c}
),
hit AS (
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM sh s
    JOIN spl p ON s.doc_id = p.doc_id
    JOIN eval_sh e ON s.shingle = e.shingle
    WHERE p.bucket >= {lo_c} AND p.bucket < {hi_c}
    GROUP BY s.doc_id
)
SELECT t.doc_id, t.n_shingles,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(CASE WHEN t.n_shingles > 0
                  THEN coalesce(h.n_hits, 0) / t.n_shingles
                  ELSE 0.0 END, 4) AS overlap_frac
FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
"""


def _profile_columns_sql() -> str:
    """One-pass wide aggregate + UNION-ALL unpivot mirroring
    profile_columns over PROFILE_COLS."""
    metrics = ",\n           ".join(
        f"count({c}) AS nn{i}, count(DISTINCT {c}) AS nd{i}"
        for i, c in enumerate(PROFILE_COLS)
    )
    branches = "\n            UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST(n AS BIGINT) AS n_rows,"
        f" CAST(nn{i} AS BIGINT) AS n_nonnull,"
        f" CAST(n - nn{i} AS BIGINT) AS n_null,"
        f" CAST(nd{i} AS BIGINT) AS n_distinct FROM m"
        for i, c in enumerate(PROFILE_COLS)
    )
    return f"""
            WITH m AS (
                SELECT count(*) AS n,
           {metrics}
                FROM orders
            )
            {branches}
        """


def _check_constraints_sql() -> str:
    """One-pass conditional sums + UNION-ALL unpivot mirroring
    check_constraints over ORDERS_RULES (NULL predicate = violation)."""
    metrics = ",\n           ".join(
        f"coalesce(sum(CASE WHEN NOT coalesce({pred}, FALSE)"
        f" THEN 1 ELSE 0 END), 0) AS v{i}"
        for i, (_, pred) in enumerate(ORDERS_RULES)
    )
    branches = "\n            UNION ALL ".join(
        f"SELECT '{name}' AS rule, CAST(n AS BIGINT) AS n_rows,"
        f" CAST(v{i} AS BIGINT) AS n_violations,"
        f" (v{i} = 0) AS passed FROM m"
        for i, (name, _) in enumerate(ORDERS_RULES)
    )
    return f"""
            WITH m AS (
                SELECT count(*) AS n,
           {metrics}
                FROM orders
            )
            {branches}
        """


def _mixture_sample_sql() -> str:
    """Mixture downsampling oracle (mixture_sample).

    Weight literals are CAST AS DOUBLE (DuckDB parses bare 0.2 as
    DECIMAL; Spark's F.lit(0.2) is a double — the threshold arithmetic
    must run in the same type), and the threshold expression keeps the
    Spark side's exact association ((budget*w)/t)*denom so the IEEE
    result is bit-identical.
    """
    values = ", ".join(
        f"('{lang}', CAST({w!r} AS DOUBLE))"
        for lang, w in sorted(sampling.MIXTURE_WEIGHTS.items())
    )
    return f"""
WITH w(lang, w_l) AS (VALUES {values}),
base AS (
    SELECT doc_id, lang,
           CAST(length(text) - length(replace(text, ' ', ''))
                + 1 AS BIGINT) AS n_tokens,
           ({hex48_sql("CAST(doc_id AS VARCHAR)")})
               % {sampling.SAMPLE_DENOM} AS bucket
    FROM documents
    WHERE lang IN (SELECT lang FROM w)
),
tot AS (
    SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS t_l
    FROM base GROUP BY lang
),
b AS (
    SELECT min(t_l / w_l) AS budget FROM tot JOIN w USING (lang)
),
thr AS (
    SELECT tot.lang,
           CASE WHEN t_l / w_l = budget
                THEN CAST({sampling.SAMPLE_DENOM} AS BIGINT)
                ELSE CAST(floor(budget * w_l / t_l
                                * {sampling.SAMPLE_DENOM}) AS BIGINT)
           END AS thr
    FROM tot JOIN w USING (lang) CROSS JOIN b
)
SELECT base.doc_id, base.lang AS stratum, base.n_tokens
FROM base JOIN thr ON base.lang = thr.lang
WHERE base.bucket < thr.thr
"""


def _mixture_upsample_sql() -> str:
    """Epoch-repeat upsampling oracle (mixture_upsample): same fixed
    -point scaled-epochs trick as the Spark side — integer DIV/%% of
    ``floor(B*w_l/T_l*DENOM)`` (pinned to DENOM for the binding
    stratum) so repeat counts are engine-identical."""
    values = ", ".join(
        f"('{lang}', CAST({w!r} AS DOUBLE))"
        for lang, w in sorted(sampling.MIXTURE_WEIGHTS.items())
    )
    denom = sampling.SAMPLE_DENOM
    return f"""
WITH w(lang, w_l) AS (VALUES {values}),
base AS (
    SELECT doc_id, lang,
           CAST(length(text) - length(replace(text, ' ', ''))
                + 1 AS BIGINT) AS n_tokens,
           ({hex48_sql("CAST(doc_id AS VARCHAR)")})
               % {denom} AS bucket
    FROM documents
    WHERE lang IN (SELECT lang FROM w)
),
tot AS (
    SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS t_l
    FROM base GROUP BY lang
),
b AS (
    SELECT max(t_l / w_l) AS budget FROM tot JOIN w USING (lang)
),
e AS (
    SELECT tot.lang,
           CASE WHEN t_l / w_l = budget
                THEN CAST({denom} AS BIGINT)
                ELSE CAST(floor(budget * w_l / t_l * {denom}) AS BIGINT)
           END AS esc
    FROM tot JOIN w USING (lang) CROSS JOIN b
),
reps AS (
    SELECT base.doc_id, base.lang AS stratum, base.n_tokens,
           (esc // {denom})
           + CASE WHEN base.bucket < esc % {denom} THEN 1 ELSE 0 END AS rep
    FROM base JOIN e ON base.lang = e.lang
)
SELECT doc_id, stratum, n_tokens, CAST(u.i AS BIGINT) AS epoch
FROM reps, unnest(generate_series(0, rep - 1)) AS u(i)
"""


def _pipeline_sql() -> str:
    """curate → decontaminate → mixture as one nested-CTE chain: the
    stage subqueries ARE the standalone oracle texts (verbatim nesting
    — no second definition to drift), with the mixture thresholds
    computed over the cleaned set.

    Alignment with ``curation.pretraining_pipeline``: curate widens its
    pred_lang filter to ``LANG_ORDER`` (everything the marker lang-ID
    can emit), and the mixture stratifies on the ground-truth ``lang``
    TAG joined back from ``documents`` — weights come from the shared
    ``curation.PIPELINE_WEIGHTS`` key-set on both sides."""
    values = ", ".join(
        f"('{lang}', CAST({w!r} AS DOUBLE))"
        for lang, w in sorted(curation.PIPELINE_WEIGHTS.items())
    )
    curate_nested = _curate_sql(lang_filter=textops.LANG_ORDER)
    return f"""
WITH curated AS (SELECT * FROM ({curate_nested})),
flagged AS (SELECT doc_id FROM ({_decontaminate_sql()})),
clean AS (
    SELECT c.doc_id, d.lang AS stratum,
           c.n_doc_tokens AS n_tokens,
           ({hex48_sql("CAST(c.doc_id AS VARCHAR)")})
               % {sampling.SAMPLE_DENOM} AS bucket
    FROM curated c
    JOIN documents d ON d.doc_id = c.doc_id
    WHERE NOT EXISTS (SELECT 1 FROM flagged f
                      WHERE f.doc_id = c.doc_id)
),
w(lang, w_l) AS (VALUES {values}),
base AS (
    SELECT * FROM clean WHERE stratum IN (SELECT lang FROM w)
),
tot AS (
    SELECT stratum, CAST(sum(n_tokens) AS BIGINT) AS t_l
    FROM base GROUP BY stratum
),
b AS (
    SELECT min(t_l / w_l) AS budget
    FROM tot JOIN w ON w.lang = tot.stratum
),
thr AS (
    SELECT tot.stratum,
           CASE WHEN t_l / w_l = budget
                THEN CAST({sampling.SAMPLE_DENOM} AS BIGINT)
                ELSE CAST(floor(budget * w_l / t_l
                                * {sampling.SAMPLE_DENOM}) AS BIGINT)
           END AS thr
    FROM tot JOIN w ON w.lang = tot.stratum CROSS JOIN b
)
SELECT base.doc_id, base.stratum, base.n_tokens
FROM base JOIN thr ON base.stratum = thr.stratum
WHERE base.bucket < thr.thr
"""


def _gap_profile_sql() -> str:
    """Oracle for session_gap_profile — CASE bounds generated FROM
    temporal.GAP_PROFILE_BOUNDS_US so the two sides cannot drift."""
    cases, lo, los = [], 0, {}
    for label, hi in temporal.GAP_PROFILE_BOUNDS_US:
        cases.append(f"WHEN _gap < {hi} THEN '{label}'")
        los[label] = lo
        lo = hi
    los[">=1d"] = lo
    case = "CASE " + " ".join(cases) + " ELSE '>=1d' END"
    lo_case = (
        "CASE "
        + " ".join(
            f"WHEN gap_bucket = '{lab}' THEN CAST({v} AS BIGINT)"
            for lab, v in los.items()
        )
        + " END"
    )
    return f"""
            WITH g AS (
                SELECT epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                           AS _gap
                FROM events
            ), hist AS (
                SELECT {case} AS gap_bucket,
                       CAST(count(*) AS BIGINT) AS n_gaps
                FROM g WHERE _gap IS NOT NULL
                GROUP BY 1
            ), tot AS (
                SELECT CAST(SUM(n_gaps) AS BIGINT) AS _tot FROM hist
            )
            SELECT {lo_case} AS bucket_lo_us,
                   gap_bucket, n_gaps,
                   round(CAST(n_gaps AS DOUBLE)
                         / CAST(_tot AS DOUBLE), 6) AS pct
            FROM hist CROSS JOIN tot
    """


def _gen_qi_cells_sql() -> str:
    """Shared finest-grain QI cells CTE body for the generalization
    oracle SQLs — mirrors masking._qi_cells exactly (sentinel-coalesced
    segment, NULL-keeping nation/band, base band = K_ANON_BAL_BAND)."""
    b = float(masking.K_ANON_BAL_BAND)
    return f"""cells AS (
                SELECT CAST(c_nationkey AS BIGINT) AS _nat,
                       CAST(n_regionkey AS BIGINT) AS _reg,
                       COALESCE(c_mktsegment, '(null)') AS _seg,
                       floor(c_acctbal / {b!r}) AS _band1,
                       CAST(count(*) AS BIGINT) AS _m
                FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1, 2, 3, 4
            ), seg_tot AS (
                SELECT _seg, CAST(SUM(_m) AS BIGINT) AS _g
                FROM cells GROUP BY 1
            ), n_total AS (
                SELECT CAST(SUM(_m) AS BIGINT) AS _n FROM cells
            )"""


def _gen_qi_levels_sql() -> str:
    """UNION ALL of one stats row per generalization-ladder rung,
    generated FROM masking.QI_GENERALIZATION_LADDER so the oracle can
    never drift from the ladder the Spark op walks."""
    b = masking.K_ANON_BAL_BAND
    blocks = []
    for lvl, (geo, mult) in enumerate(masking.QI_GENERALIZATION_LADDER):
        gx = {"nation": "_nat", "region": "_reg"}.get(
            geo, "CAST(-1 AS BIGINT)"
        )
        bx = (
            f"floor(_band1 / {float(mult)!r})"
            if mult is not None
            else "CAST(0 AS BIGINT)"
        )
        width = (
            f"CAST({mult * b} AS BIGINT)"
            if mult is not None
            else "CAST(NULL AS BIGINT)"
        )
        blocks.append(f"""
                SELECT CAST({lvl} AS INT) AS level,
                       '{geo}' AS geo_level,
                       {width} AS band_width,
                       k.n_classes, k.min_class_size, l.min_l, t._max_t
                FROM (
                    SELECT CAST(count(*) AS BIGINT) AS n_classes,
                           CAST(MIN(_sz) AS BIGINT) AS min_class_size
                    FROM (SELECT SUM(_m) AS _sz FROM cells
                          GROUP BY {gx}, _seg, {bx}) kc
                ) k CROSS JOIN (
                    SELECT CAST(MIN(_ld) AS BIGINT) AS min_l
                    FROM (SELECT count(*) AS _ld
                          FROM (SELECT {gx} AS _gg, {bx} AS _bb, _seg
                                FROM cells GROUP BY 1, 2, 3) sc0
                          GROUP BY _gg, _bb) lc
                ) l CROSS JOIN (
                    SELECT MAX(_t) AS _max_t FROM (
                        SELECT 0.5 * (SUM(
                                   abs(CAST(_mc AS DOUBLE)
                                       / CAST(_n_c AS DOUBLE)
                                       - CAST(_g AS DOUBLE)
                                       / CAST(_n AS DOUBLE))
                                   - CAST(_g AS DOUBLE)
                                   / CAST(_n AS DOUBLE)
                               ) + 1.0) AS _t
                        FROM (SELECT {gx} AS _gg, {bx} AS _bb, _seg,
                                     CAST(SUM(_m) AS BIGINT) AS _mc
                              FROM cells GROUP BY 1, 2, 3) sc
                        JOIN (SELECT {gx} AS _gg, {bx} AS _bb,
                                     CAST(SUM(_m) AS BIGINT) AS _n_c
                              FROM cells GROUP BY 1, 2) cl
                          ON sc._gg IS NOT DISTINCT FROM cl._gg
                         AND sc._bb IS NOT DISTINCT FROM cl._bb
                        JOIN seg_tot ON sc._seg = seg_tot._seg
                        CROSS JOIN n_total
                        GROUP BY sc._gg, sc._bb
                    ) pt
                ) t""")
    return "\nUNION ALL\n".join(blocks)


def _gen_qi_report_sql() -> str:
    k, l_ = masking.K_ANON_K, masking.L_DIVERSITY_L
    t = masking.T_CLOSENESS_T
    return f"""
            WITH {_gen_qi_cells_sql()}, levels AS (
                {_gen_qi_levels_sql()}
            ), flagged AS (
                SELECT *,
                       min_class_size >= {k} AS k_ok,
                       min_l >= {l_} AS l_ok,
                       _max_t <= {t!r} AS t_ok
                FROM levels
            )
            SELECT level, geo_level, band_width, n_classes,
                   min_class_size, min_l,
                   round(_max_t, 6) AS max_t,
                   k_ok, l_ok, t_ok,
                   level = (SELECT MIN(level) FROM flagged
                            WHERE k_ok AND l_ok AND t_ok) AS chosen
            FROM flagged
    """


def _gen_qi_table_sql() -> str:
    """Generalized customer table at the chosen rung — the enforcement
    output. The chosen level is recomputed in-SQL (same flagged CTE as
    the report), then per-rung CASE branches rebuild the exact
    projection generalize_quasi_identifiers emits."""
    b = float(masking.K_ANON_BAL_BAND)
    geo_cases, bal_cases = [], []
    for lvl, (geo, mult) in enumerate(masking.QI_GENERALIZATION_LADDER):
        gexpr = {
            "nation": "c_nationkey",
            "region": "CAST(n_regionkey AS INT)",
        }.get(geo, "CAST(-1 AS INT)")
        bexpr = (
            f"floor(c_acctbal / {float(mult) * b!r}) * {float(mult) * b!r}"
            if mult is not None
            else "0.0"
        )
        geo_cases.append(f"WHEN _lvl = {lvl} THEN {gexpr}")
        bal_cases.append(f"WHEN _lvl = {lvl} THEN {bexpr}")
    geo_case = "\n                       ".join(geo_cases)
    bal_case = "\n                       ".join(bal_cases)
    k, l_ = masking.K_ANON_K, masking.L_DIVERSITY_L
    t = masking.T_CLOSENESS_T
    return f"""
            WITH {_gen_qi_cells_sql()}, levels AS (
                {_gen_qi_levels_sql()}
            ), pick AS (
                -- degenerate-criteria parity (r15 ADVICE): when NO
                -- rung passes, MIN over the empty set is NULL; the
                -- Spark op raises ValueError there, and without the
                -- IS NOT NULL guard this CTE would instead emit 1500
                -- rows of NULL c_nationkey/c_acctbal (every CASE
                -- branch misses) — silently hash-divergent. The guard
                -- makes the oracle fail LOUDLY too (zero rows ⇒ a
                -- row-count red, never a plausible-looking table).
                -- Unreachable with the shipped ladder: its last rung
                -- collapses to one class and always passes.
                SELECT MIN(level) AS _lvl FROM levels
                WHERE min_class_size >= {k} AND min_l >= {l_}
                  AND _max_t <= {t!r}
            )
            SELECT c_custkey, c_name,
                   CASE {geo_case}
                       END AS c_nationkey,
                   CAST(CASE {bal_case}
                       END AS DOUBLE) AS c_acctbal,
                   c_mktsegment
            FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
            CROSS JOIN (SELECT _lvl FROM pick WHERE _lvl IS NOT NULL) pick
    """


def _coactivity_graph_sql() -> str:
    """Shared CTE chain for the user co-activity kernels (r17): gap
    sessionization (the ``session_overlap_pairs`` oracle's CTEs
    verbatim), then the canonical a<b undirected co-activity edge set
    — one edge per user pair with at least one overlapping CLOSED
    session interval (exact integer-microsecond predicate; the oracle
    mirrors the Spark side's bucketized join RESULT with a direct
    interval self-join — different plan, identical set)."""
    return f"""
            o AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            ), flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN prev_ts IS NULL
                              OR date_diff('second', prev_ts, ts)
                                 > {temporal.SESSION_GAP_SECONDS}
                            THEN 1 ELSE 0 END AS is_new
                FROM o
            ), runs AS (
                SELECT user_id, ts,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
                           AS session_seq
                FROM flagged
            ), sess AS (
                SELECT user_id,
                       epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
                FROM runs GROUP BY user_id, session_seq
            ), und AS (
                SELECT DISTINCT sa.user_id AS a, sb.user_id AS b
                FROM sess sa JOIN sess sb
                  ON sa.user_id < sb.user_id
                 AND sa.s <= sb.e AND sb.s <= sa.e
            )"""


def _trade_graph_sql() -> str:
    """Shared CTE chain for the combinatorial graph family: directed
    shipment-count lanes, the integer-exact above-mean strong set
    (cnt·n_lanes ≥ total_cnt — no float mean, bit-identical to the
    Spark side), and the canonical a<b undirected support."""
    return """
            lanes AS (
                SELECT CAST(s_nationkey AS BIGINT) AS src,
                       CAST(c_nationkey AS BIGINT) AS dst,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2
            ), nl AS (
                SELECT src, dst, cnt FROM lanes WHERE src <> dst
            ), tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n_lanes,
                       CAST(SUM(cnt) AS BIGINT) AS total_cnt
                FROM nl
            ), strong AS (
                SELECT src, dst FROM nl, tot
                WHERE cnt * n_lanes >= total_cnt
            ), und AS (
                SELECT DISTINCT LEAST(src, dst) AS a,
                       GREATEST(src, dst) AS b
                FROM strong
            )"""


def _ann_topk_sql() -> str:
    cos = _cos_sql("q.q_embedding", "e.embedding")
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_embedding
    FROM embeddings WHERE vec_id < {similarity.ANN_NUM_QUERIES}
),
c AS (
    SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos_raw
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.query_id
),
r AS (
    SELECT query_id, neighbor_id, cos_raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
    FROM c
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cos_sim, rank
FROM r WHERE rank <= {similarity.ANN_TOPK}
"""


def _ann_hard_neg_sql() -> str:
    """`_ann_topk_sql` with the near-dup band excluded BEFORE ranking
    (hard-negative mining: the most similar thing that is not the same
    content). The band test compares the same left-to-right dot both
    engines compute, so the boundary is exact for the same reason the
    rank order is."""
    cos = _cos_sql("q.q_embedding", "e.embedding")
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_embedding
    FROM embeddings WHERE vec_id < {similarity.ANN_NUM_QUERIES}
),
c AS (
    SELECT q.query_id, e.vec_id AS neighbor_id, {cos} AS cos_raw
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.query_id
),
b AS (
    SELECT * FROM c WHERE cos_raw < {similarity.HARD_NEG_MAX_COS!r}
),
r AS (
    SELECT query_id, neighbor_id, cos_raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
    FROM b
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cos_sim, rank
FROM r WHERE rank <= {similarity.ANN_TOPK}
"""


def _lang_case_sql() -> str:
    """The pred_lang CASE expression, shared by ``lang_profile`` and
    ``curate_corpus`` oracle texts (mirrors textops.pred_lang_from_hits)."""

    def hits(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in textops.LANG_MARKERS[lang])
        return (
            "len(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
            f" t -> t IN ({words})))"
        )

    branches = []
    for lang in textops.LANG_ORDER:
        conds = [f"{hits(lang)} > 0"] + [
            f"{hits(lang)} >= {hits(other)}"
            for other in textops.LANG_ORDER
            if other != lang
        ]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


def _curate_sql(lang_filter: tuple = None) -> str:
    stop_list = ", ".join(f"'{w}'" for w in textops.STOPWORDS)
    split_case = "CASE " + " ".join(
        f"WHEN bucket >= {lo} AND bucket < {hi} THEN '{name}'"
        for name, lo, hi in sampling.SPLIT_BOUNDS
    ) + " END"
    langs = ", ".join(
        f"'{x}'" for x in (lang_filter or curation.CURATE_LANGS)
    )
    splits = ", ".join(f"'{x}'" for x in curation.CURATE_SPLITS)
    return f"""
        WITH feat AS (
            SELECT doc_id,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS BIGINT) AS n_doc_tokens,
                   length(replace(text, ' ', '')) AS n_nonspace,
                   len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   t -> t IN ({stop_list}))) AS n_stop,
                   {_lang_case_sql()} AS pred_lang,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fingerprint,
                   ({hex48_sql("CAST(doc_id AS VARCHAR)")}) % 100 AS bucket
            FROM documents
        ), scored AS (
            SELECT doc_id, n_doc_tokens,
                   round(CASE WHEN n_doc_tokens < 5 THEN 0.0
                         ELSE 1.0 - abs(n_nonspace / n_doc_tokens - 4.0) / 10.0
                              - (n_stop / n_doc_tokens) * 0.5 END, 4)
                       AS quality_score,
                   pred_lang, fingerprint, {split_case} AS split
            FROM feat
        ), passed AS (
            SELECT * FROM scored
            WHERE quality_score >= {curation.CURATE_MIN_QUALITY}
              AND pred_lang IN ({langs})
        ), dd AS (
            SELECT *, row_number() OVER (PARTITION BY fingerprint
                                         ORDER BY doc_id) AS rn
            FROM passed
        )
        SELECT doc_id, n_doc_tokens, quality_score, pred_lang, split
        FROM dd WHERE rn = 1 AND split IN ({splits})
    """


def _funnel_sql() -> str:
    """The curate gates re-expressed as cumulative per-source counts —
    same feat/scored CTEs as ``_curate_sql`` with ``source`` carried
    and the dedup survivor as a windowed min over passers."""
    stop_list = ", ".join(f"'{w}'" for w in textops.STOPWORDS)
    split_case = "CASE " + " ".join(
        f"WHEN bucket >= {lo} AND bucket < {hi} THEN '{name}'"
        for name, lo, hi in sampling.SPLIT_BOUNDS
    ) + " END"
    langs = ", ".join(f"'{x}'" for x in curation.CURATE_LANGS)
    splits = ", ".join(f"'{x}'" for x in curation.CURATE_SPLITS)
    minq = curation.CURATE_MIN_QUALITY
    return f"""
        WITH feat AS (
            SELECT doc_id, source,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS BIGINT) AS n_doc_tokens,
                   length(replace(text, ' ', '')) AS n_nonspace,
                   len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   t -> t IN ({stop_list}))) AS n_stop,
                   {_lang_case_sql()} AS pred_lang,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fingerprint,
                   ({hex48_sql("CAST(doc_id AS VARCHAR)")}) % 100 AS bucket
            FROM documents
        ), scored AS (
            SELECT doc_id, source,
                   round(CASE WHEN n_doc_tokens < 5 THEN 0.0
                         ELSE 1.0 - abs(n_nonspace / n_doc_tokens - 4.0) / 10.0
                              - (n_stop / n_doc_tokens) * 0.5 END, 4)
                       AS quality_score,
                   pred_lang, fingerprint, {split_case} AS split
            FROM feat
        ), flags AS (
            SELECT source, split,
                   quality_score >= {minq} AS pq,
                   (quality_score >= {minq}
                    AND pred_lang IN ({langs})) AS pl,
                   doc_id,
                   MIN(CASE WHEN quality_score >= {minq}
                             AND pred_lang IN ({langs})
                        THEN doc_id END)
                       OVER (PARTITION BY fingerprint) AS min_id
            FROM scored
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN pq THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_quality,
               CAST(SUM(CASE WHEN pl THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_lang,
               CAST(SUM(CASE WHEN pl AND doc_id = min_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
               CAST(SUM(CASE WHEN pl AND doc_id = min_id
                             AND split IN ({splits})
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_final
        FROM flags
        GROUP BY source
        ORDER BY source
    """


def _text_quality_sql() -> str:
    """Quality-score oracle, factored out because ``dedup_keep_best``
    nests it verbatim as its quality CTE — one definition, no drift."""
    stop_list = ", ".join(f"'{w}'" for w in textops.STOPWORDS)
    return f"""
            WITH feat AS (
                SELECT doc_id,
                       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
                           AS nt,
                       length(replace(text, ' ', '')) AS n_nonspace,
                       len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                       t -> t IN ({stop_list}))) AS n_stop
                FROM documents
            )
            SELECT doc_id, nt AS n_tokens,
                   round(n_nonspace / nt, 4) AS mean_token_len,
                   round(n_stop / nt, 4) AS stopword_ratio,
                   round(CASE WHEN nt < 5 THEN 0.0
                         ELSE 1.0 - abs(n_nonspace / nt - 4.0) / 10.0
                              - (n_stop / nt) * 0.5 END, 4) AS quality_score
            FROM feat
        """


def _hybrid_rrf_sql() -> str:
    """Hybrid RRF oracle: the lexical branch nests ``_bm25_sql()``
    verbatim (one BM25 definition), the semantic branch is the exact
    cosine ranked under the family tie-break, and the fusion is
    exact-integer ranks → one division per contribution → a ≤2-term
    commutative sum — engine-identical end to end."""
    assert similarity.RRF_DEPTH == textops.BM25_TOPK, (
        "hybrid oracle reuses _bm25_sql(), so the fused lexical depth "
        "must equal BM25_TOPK"
    )
    n_q = len(textops.BM25_QUERIES)
    cos = _cos_sql("q.q_embedding", "e.embedding")
    qmap_vals = ", ".join(
        f"('{qid}', {i})" for i, (qid, _) in enumerate(textops.BM25_QUERIES)
    )
    k_rrf = float(similarity.RRF_K)
    return f"""
        WITH lex0 AS ({_bm25_sql()}),
        qmap(query, qidx) AS (VALUES {qmap_vals}),
        lex AS (
            SELECT qidx, doc_id,
                   1.0 / ({k_rrf} + rank) AS c
            FROM lex0 JOIN qmap USING (query)
        ),
        sem_q AS (
            SELECT vec_id AS qidx, embedding AS q_embedding
            FROM embeddings WHERE vec_id < {n_q}
        ),
        sem_c AS (
            SELECT q.qidx, e.vec_id AS doc_id, {cos} AS cos_raw
            FROM sem_q q CROSS JOIN embeddings e
            WHERE e.vec_id <> q.qidx
        ),
        sem_r AS (
            SELECT qidx, doc_id,
                   row_number() OVER (PARTITION BY qidx
                       ORDER BY cos_raw DESC, doc_id ASC) AS rank
            FROM sem_c
        ),
        sem AS (
            SELECT qidx, doc_id, 1.0 / ({k_rrf} + rank) AS c
            FROM sem_r WHERE rank <= {similarity.RRF_DEPTH}
        ),
        fused AS (
            SELECT qidx, doc_id, SUM(c) AS rrf_raw
            FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT qidx, doc_id, rrf_raw,
                   row_number() OVER (PARTITION BY qidx
                       ORDER BY rrf_raw DESC, doc_id ASC) AS rank
            FROM fused
        )
        SELECT query, doc_id, round(rrf_raw, 6) AS rrf_score,
               CAST(rank AS BIGINT) AS rank
        FROM ranked JOIN qmap USING (qidx)
        WHERE rank <= {similarity.RRF_TOPK}
    """


def _corr_sql() -> str:
    """corr_matrix oracle — HUGEINT exact moments (DuckDB's 128-bit
    integer stands in for Spark's DECIMAL(38,0); both are exact, and
    the final cast-to-double of the SAME exact integer rounds
    nearest-even identically in both engines)."""
    cols = relational.CORR_COLS
    qcols = ", ".join(
        f"CAST(floor({c} * 100 + 0.5) AS BIGINT) AS q_{c}" for c in cols
    )
    sums = ["CAST(count(*) AS HUGEINT) AS n"]
    pairs = []
    for c in cols:
        sums.append(f"SUM(CAST(q_{c} AS HUGEINT)) AS s_{c}")
    for i, a in enumerate(cols):
        for b in cols[i:]:
            sums.append(
                f"SUM(CAST(q_{a} AS HUGEINT) * CAST(q_{b} AS HUGEINT))"
                f" AS s_{a}_{b}"
            )
            if a != b:
                pairs.append((a, b))
    selects = [
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"round(CAST(n * s_{a}_{b} - s_{a} * s_{b} AS DOUBLE) / "
        f"sqrt(CAST(n * s_{a}_{a} - s_{a} * s_{a} AS DOUBLE)"
        f" * CAST(n * s_{b}_{b} - s_{b} * s_{b} AS DOUBLE)), 6) AS corr"
        f" FROM s"
        for a, b in pairs
    ]
    return (
        "WITH q AS (SELECT " + qcols + " FROM lineitem), "
        "s AS (SELECT " + ", ".join(sums) + " FROM q) "
        + " UNION ALL ".join(selects)
    )


def _zorder_sql() -> str:
    """Z-order layout oracle — the Morton interleave comes from the
    SAME generator as the operator (``sampling.morton_interleave_expr``,
    duckdb dialect) so the bit math cannot drift; quantization mirrors
    the identical multiply-then-divide + floor + clamp order."""
    bits = sampling.ZORDER_BITS
    maxq = (1 << bits) - 1
    shift = 2 * bits - sampling.ZORDER_BUCKET_BITS
    morton = sampling.morton_interleave_expr("qx", "qy", bits, "duckdb")

    def q(col: str, lo: str, hi: str) -> str:
        return (
            f"CASE WHEN {hi} - {lo} = 0 THEN 0 ELSE "
            f"least({maxq}, greatest(0, CAST(floor((CAST({col} AS DOUBLE)"
            f" - {lo}) * {float(maxq)} / ({hi} - {lo})) AS BIGINT))) END"
        )

    return f"""
        WITH bounds AS (
            SELECT CAST(min(user_id) AS DOUBLE) AS min_u,
                   CAST(max(user_id) AS DOUBLE) AS max_u,
                   CAST(min(value) AS DOUBLE) AS min_v,
                   CAST(max(value) AS DOUBLE) AS max_v
            FROM events
        ), staged AS (
            SELECT user_id, value,
                   {q('user_id', 'min_u', 'max_u')} AS qx,
                   {q('value', 'min_v', 'max_v')} AS qy
            FROM events CROSS JOIN bounds
        )
        SELECT CAST(({morton}) >> {shift} AS INT) AS zbucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(user_id) AS BIGINT) AS min_user,
               CAST(max(user_id) AS BIGINT) AS max_user,
               round(min(value), 4) AS min_value,
               round(max(value), 4) AS max_value
        FROM staged GROUP BY 1
    """


def _fk_integrity_sql() -> str:
    """FK-audit oracle generated from the SAME ``profiling.FK_EDGES``
    literal as the operator — one edge list, no drift. NULL FKs count
    as orphans on both sides (Spark: null never equi-joins so it
    survives the anti join; SQL: ``NOT EXISTS`` over an unknown
    predicate is true)."""
    parts = []
    for child, fk, parent, pk in profiling.FK_EDGES:
        orphans = (
            f"(SELECT count(*) FROM {child} c WHERE NOT EXISTS "
            f"(SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))"
        )
        parts.append(
            f"SELECT '{child}' AS child_table, '{fk}' AS fk_column,"
            f" '{parent}' AS parent_table,"
            f" CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_rows,"
            f" CAST({orphans} AS BIGINT) AS n_orphans,"
            f" round(CAST({orphans} AS DOUBLE)"
            f" / CAST((SELECT count(*) FROM {child}) AS DOUBLE), 6)"
            f" AS orphan_frac"
        )
    return " UNION ALL ".join(parts)


def _bm25_sql() -> str:
    """BM25 oracle — generated from the SAME constants as the operator
    (``textops.BM25_QUERIES``/``K1``/``B``/``TOPK``) so the query set,
    hyper-parameters, and the exact left-to-right term-sum order cannot
    drift between engines. Float parity: avgdl is one IEEE division of
    exact integers, idf operands are exact, and each score is a literal
    expression (no float aggregation) — bit-identical doubles."""
    k1, b = textops.BM25_K1, textops.BM25_B
    qs = textops.BM25_QUERIES
    all_terms = sorted({t for _, ts in qs for t in ts})
    k1p1, one_b = repr(k1 + 1.0), repr(1.0 - b)
    k1r, br = repr(k1), repr(b)
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}"
        for t in all_terms
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}"
        for t in all_terms
    )

    def term(t: str) -> str:
        return (
            f"(ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
            f" * CAST(tf_{t} AS DOUBLE) * {k1p1}"
            f" / (CAST(tf_{t} AS DOUBLE) + {k1r} * ({one_b} + {br}"
            f" * CAST(dl AS DOUBLE) / avgdl)))"
        )

    union = " UNION ALL ".join(
        f"SELECT doc_id, '{qid}' AS query, "
        + " + ".join(term(t) for t in terms)
        + " AS score_raw FROM per_doc CROSS JOIN stats"
        for qid, terms in qs
    )
    return f"""
        WITH base AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text),
                       '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ), per_doc AS (
            SELECT doc_id, len(toks) AS dl, {tf_cols} FROM base
        ), stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS sum_dl,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS avgdl,
                   {df_cols}
            FROM per_doc
        ), scored AS ({union}),
        ranked AS (
            SELECT query, doc_id, score_raw,
                   row_number() OVER (PARTITION BY query
                       ORDER BY score_raw DESC, doc_id ASC) AS rank
            FROM scored WHERE score_raw > 0
        )
        SELECT query, doc_id, round(score_raw, 4) AS score,
               CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {textops.BM25_TOPK}
    """


def _unigram_sql() -> str:
    """Unigram-LM scoring oracle, factored out because the CCNet-style
    ``perplexity_buckets`` oracle nests it verbatim as its first CTE —
    one definition, no drift."""
    return """
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                           ' ')) AS term
                FROM documents
            ),
            freq AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
            total AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM freq)
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_lm_tokens,
                   round(avg(ln(f.c / total.n_total)), 4) AS logprob,
                   round(exp(-avg(ln(f.c / total.n_total))), 4) AS ppl
            FROM tok t JOIN freq f USING (term) CROSS JOIN total
            GROUP BY t.doc_id
        """


def _lang_profile_sql() -> str:
    en_words = ", ".join(f"'{w}'" for w in textops.LANG_MARKERS["en"])
    en_hits = (
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
        f" t -> t IN ({en_words})))"
    )
    return f"""
SELECT doc_id, lang AS labeled_lang, {_lang_case_sql()} AS pred_lang,
       CAST({en_hits} AS BIGINT) AS en_hits
FROM documents
"""


_MM_MEDIA_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN 'image' "
    "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"
)

_MM_MS_PER_FRAME = 1000 // multimodal.VIDEO_FPS


def _mm_b(i: int) -> str:
    return multimodal.hexbyte_sql("hx", i)


def _mm_dhash_lane_sql(j: int) -> str:
    """One 16-bit dHash lane as generated integer SQL (r17): the
    luminance plane is ``ascii`` of the byte-sampled text (the
    documents are pure ASCII — byte == code point, pinned in pytest),
    position ``1 + (k*n)//72`` mirroring the UDF's ``blob[(k*n)//72]``
    exactly; each lane sums 16 adjacent-comparison bits at their
    ``1 << (i % 16)`` positions — pure integer arithmetic, engine-
    portable (the `hexbyte_sql` generated-expression idiom)."""
    cells = multimodal.DHASH_GRID_ROWS * multimodal.DHASH_GRID_COLS
    per_row = multimodal.DHASH_GRID_COLS - 1

    def luma(k: int) -> str:
        return f"ascii(substr(text, 1 + (({k} * n) // {cells}), 1))"

    terms = []
    for i in range(16 * j, 16 * j + 16):
        r, c = divmod(i, per_row)
        k = r * multimodal.DHASH_GRID_COLS + c
        terms.append(
            f"(CASE WHEN {luma(k)} < {luma(k + 1)} "
            f"THEN {1 << (i % 16)} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + f" AS INT) AS lane{j}"


def _mm_dhash_sig_sql() -> str:
    """Shared CTE body: the per-image dHash signature table."""
    lanes = ", ".join(
        _mm_dhash_lane_sql(j) for j in range(multimodal.DHASH_N_LANES)
    )
    return f"""
img AS (
    SELECT doc_id AS asset_id, text, length(text) AS n
    FROM documents WHERE doc_id % 3 = 0
), sig AS (
    SELECT asset_id, {lanes} FROM img
)"""


def _mm_dhash_sql() -> str:
    return f"""
WITH {_mm_dhash_sig_sql()}
SELECT asset_id, lane0, lane1, lane2, lane3 FROM sig ORDER BY asset_id
"""


def _mm_neardup_sql() -> str:
    """Brute-force n² verify at oracle scale (the image subset is
    hundreds of rows at sf0.01) — different plan from the Spark side's
    banded join, identical pair set by the pigeonhole completeness
    proof, which is the point of pinning values not plans."""
    ham = " + ".join(
        f"bit_count(xor(a.lane{j}, b.lane{j}))"
        for j in range(multimodal.DHASH_N_LANES)
    )
    return f"""
WITH {_mm_dhash_sig_sql()}
SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
       CAST({ham} AS INT) AS hamming
FROM sig a JOIN sig b ON a.asset_id < b.asset_id
WHERE {ham} <= {multimodal.DHASH_HAMMING_MAX}
ORDER BY asset_a, asset_b
"""


def _mm_clusters_sql() -> str:
    """Image near-dup clusters: brute-force pairs at oracle scale +
    the `dedup_clusters` recursive-reachability idiom (min reachable
    node = min of the component on a symmetric edge set)."""
    ham = " + ".join(
        f"bit_count(xor(a.lane{j}, b.lane{j}))"
        for j in range(multimodal.DHASH_N_LANES)
    )
    return f"""
WITH RECURSIVE {_mm_dhash_sig_sql()},
pairs AS (
    SELECT a.asset_id AS d1, b.asset_id AS d2
    FROM sig a JOIN sig b ON a.asset_id < b.asset_id
    WHERE {ham} <= {multimodal.DHASH_HAMMING_MAX}
),
edges AS (
    SELECT d1 AS s, d2 AS t FROM pairs
    UNION
    SELECT d2, d1 FROM pairs
),
reach(node, r) AS (
    SELECT s, s FROM edges
    UNION
    SELECT e.t, reach.r FROM reach JOIN edges e ON reach.node = e.s
),
labeled AS (
    SELECT node AS asset_id, MIN(r) AS cluster_id FROM reach GROUP BY node
)
SELECT asset_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labeled ORDER BY asset_id
"""


def _mm_survivors_sql() -> str:
    """Deduplicated image table: the clusters CTE chain, then every
    image NOT a non-representative cluster member (ASCII pin makes
    length(text) == octet bytes; md5 over the same bytes)."""
    ham = " + ".join(
        f"bit_count(xor(a.lane{j}, b.lane{j}))"
        for j in range(multimodal.DHASH_N_LANES)
    )
    return f"""
WITH RECURSIVE {_mm_dhash_sig_sql()},
pairs AS (
    SELECT a.asset_id AS d1, b.asset_id AS d2
    FROM sig a JOIN sig b ON a.asset_id < b.asset_id
    WHERE {ham} <= {multimodal.DHASH_HAMMING_MAX}
),
edges AS (
    SELECT d1 AS s, d2 AS t FROM pairs
    UNION
    SELECT d2, d1 FROM pairs
),
reach(node, r) AS (
    SELECT s, s FROM edges
    UNION
    SELECT e.t, reach.r FROM reach JOIN edges e ON reach.node = e.s
),
labeled AS (
    SELECT node AS asset_id, MIN(r) AS cluster_id FROM reach GROUP BY node
)
SELECT i.asset_id, CAST(i.n AS BIGINT) AS n_bytes,
       md5(i.text) AS checksum
FROM img i
WHERE NOT EXISTS (SELECT 1 FROM labeled l
                  WHERE l.asset_id = i.asset_id
                    AND l.cluster_id <> l.asset_id)
ORDER BY i.asset_id
"""


def _mm_frame_lane_sql(j: int) -> str:
    """One 16-bit frame-dHash lane as generated integer SQL (r17): the
    frame's luminance plane samples byte ``min(off + (k*seg)//72,
    n-1)`` — `_frame_dhash_lanes_py` position-for-position (``least``
    mirrors the python clamp; substr is 1-based hence the ``1 +``);
    same adjacent-comparison bit layout as `_mm_dhash_lane_sql`."""
    cells = multimodal.DHASH_GRID_ROWS * multimodal.DHASH_GRID_COLS
    per_row = multimodal.DHASH_GRID_COLS - 1

    def luma(k: int) -> str:
        return (
            f"ascii(substr(text, 1 + least(off + (({k} * seg) // {cells}),"
            f" n - 1), 1))"
        )

    terms = []
    for i in range(16 * j, 16 * j + 16):
        r, c = divmod(i, per_row)
        k = r * multimodal.DHASH_GRID_COLS + c
        terms.append(
            f"(CASE WHEN {luma(k)} < {luma(k + 1)} "
            f"THEN {1 << (i % 16)} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + f" AS INT) AS lane{j}"


def _mm_frame_sig_sql() -> str:
    """Shared CTE body: per-sampled-frame dHash signatures for video
    assets — the decode stub's frame count (md5 byte 5), `sample_frames`'
    stride, and each frame's own byte-stream slice as its plane."""
    k = multimodal.FRAME_SAMPLE_MAX
    lanes = ", ".join(
        _mm_frame_lane_sql(j) for j in range(multimodal.DHASH_N_LANES)
    )
    return f"""
vid AS (
    SELECT doc_id AS asset_id, text, length(text) AS n, md5(text) AS hx
    FROM documents WHERE doc_id % 3 = 2
), vfr AS (
    SELECT asset_id, text, n, 1 + {_mm_b(5)} AS n_frames FROM vid
), vst AS (
    SELECT asset_id, text, n, n_frames,
           greatest(1, CAST(floor(n_frames / {k}.0) AS INT)) AS step
    FROM vfr
), vfx AS (
    SELECT asset_id, text, n, n_frames,
           unnest(range(0, n_frames, step)) AS frame_idx
    FROM vst
), vfo AS (
    SELECT asset_id, text, n, CAST(frame_idx AS INT) AS frame_idx,
           (frame_idx * n) // n_frames AS off,
           ((frame_idx + 1) * n) // n_frames
             - (frame_idx * n) // n_frames AS seg
    FROM vfx
), fsig AS (
    SELECT asset_id, frame_idx, {lanes} FROM vfo
)"""


def _mm_frame_sig_entry_sql() -> str:
    return f"""
WITH {_mm_frame_sig_sql()}
SELECT asset_id, frame_idx, lane0, lane1, lane2, lane3
FROM fsig ORDER BY asset_id, frame_idx
"""


def _mm_audio_sig_sql() -> str:
    """Shared CTE body: per-sampled-window dHash signatures for audio
    assets — the decode stub's whole-second window count
    (``duration_ms // 1000``), the `sample_frames` stride, each
    window's own byte-stream slice as its plane (the frame lane SQL
    reused verbatim — same off/seg/n column contract)."""
    k = multimodal.AUDIO_WINDOW_MAX
    ms = multimodal.AUDIO_WINDOW_MS
    lanes = ", ".join(
        _mm_frame_lane_sql(j) for j in range(multimodal.DHASH_N_LANES)
    )
    return f"""
aud AS (
    SELECT doc_id AS asset_id, text, length(text) AS n, md5(text) AS hx
    FROM documents WHERE doc_id % 3 = 1
), awr AS (
    SELECT asset_id, text, n,
           (1000 + 10 * ({_mm_b(3)} * 256 + {_mm_b(4)})) // {ms}
             AS n_windows
    FROM aud
), awt AS (
    SELECT asset_id, text, n, n_windows,
           greatest(1, CAST(floor(n_windows / {k}.0) AS INT)) AS step
    FROM awr
), awx AS (
    SELECT asset_id, text, n, n_windows,
           unnest(range(0, n_windows, step)) AS window_idx
    FROM awt
), awo AS (
    SELECT asset_id, text, n, CAST(window_idx AS INT) AS window_idx,
           (window_idx * n) // n_windows AS off,
           ((window_idx + 1) * n) // n_windows
             - (window_idx * n) // n_windows AS seg
    FROM awx
), asig AS (
    SELECT asset_id, window_idx, {lanes} FROM awo
)"""


def _mm_audio_sig_entry_sql() -> str:
    return f"""
WITH {_mm_audio_sig_sql()}
SELECT asset_id, window_idx, lane0, lane1, lane2, lane3
FROM asig ORDER BY asset_id, window_idx
"""


def _mm_video_neardup_sql() -> str:
    """Frame-set Jaccard pairs, CAPPED profile (the registered
    default): hot signatures (> `VIDEO_SIG_FREQ_CAP` assets) pruned
    from candidate generation via NOT EXISTS, surviving pairs'
    intersections recounted over ALL signatures — the Spark plan's
    exact arithmetic (the cap is deterministic, so the scale profile
    is itself oracle-checkable; integer cross-multiplied threshold,
    one IEEE division)."""
    return _mm_sig_jaccard_sql(
        _mm_frame_sig_sql(), "fsig",
        cap=multimodal.VIDEO_SIG_FREQ_CAP,
        pct=multimodal.VIDEO_JACCARD_MIN_PCT,
    )


def _mm_audio_neardup_sql() -> str:
    """The capped set-Jaccard pair SQL on the audio window-signature
    table (same generic builder — Spark side shares the machinery via
    `_sig_set_jaccard_pairs`, the oracle shares it here)."""
    return _mm_sig_jaccard_sql(
        _mm_audio_sig_sql(), "asig",
        cap=multimodal.AUDIO_SIG_FREQ_CAP,
        pct=multimodal.VIDEO_JACCARD_MIN_PCT,
    )


def _mm_sig_pairs_body(sig_cte: str, sig_table: str, cap: int,
                       pct: int) -> str:
    """CTE-body fragment ending in ``gpairs`` — the capped, gated
    set-Jaccard pair table; shared by the pair entries, the cluster
    entries (reachability over gpairs) and the survivor entries."""
    lanes = [f"lane{j}" for j in range(multimodal.DHASH_N_LANES)]
    on = " AND ".join(f"a.{c} = b.{c}" for c in lanes)
    hot_match = " AND ".join(f"h.{c} = s.{c}" for c in lanes)
    sab = " AND ".join(f"sa.{c} = sb.{c}" for c in lanes)
    return f"""{sig_cte},
sset AS (
    SELECT DISTINCT asset_id, lane0, lane1, lane2, lane3 FROM {sig_table}
), cnt AS (
    SELECT asset_id, COUNT(*) AS n_sigs FROM sset GROUP BY asset_id
), hot AS (
    SELECT lane0, lane1, lane2, lane3
    FROM sset GROUP BY 1, 2, 3, 4 HAVING COUNT(*) > {cap}
), nh AS (
    SELECT * FROM sset s
    WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE {hot_match})
), cand AS (
    SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b
    FROM nh a JOIN nh b ON {on} AND a.asset_id < b.asset_id
), ix AS (
    SELECT c.asset_a, c.asset_b, COUNT(*) AS n_shared
    FROM cand c
    JOIN sset sa ON sa.asset_id = c.asset_a
    JOIN sset sb ON sb.asset_id = c.asset_b AND {sab}
    GROUP BY 1, 2
), gpairs AS (
    SELECT asset_a, asset_b, n_shared, ca.n_sigs AS n_a,
           cb.n_sigs AS n_b,
           CAST(n_shared AS DOUBLE)
             / (ca.n_sigs + cb.n_sigs - n_shared) AS jaccard
    FROM ix
    JOIN cnt ca ON ix.asset_a = ca.asset_id
    JOIN cnt cb ON ix.asset_b = cb.asset_id
    WHERE n_shared * 100 >= {pct} * (ca.n_sigs + cb.n_sigs - n_shared)
)"""


def _mm_sig_jaccard_sql(sig_cte: str, sig_table: str, cap: int,
                        pct: int) -> str:
    return f"""
WITH {_mm_sig_pairs_body(sig_cte, sig_table, cap, pct)}
SELECT asset_a, asset_b, n_shared, n_a, n_b, jaccard
FROM gpairs ORDER BY asset_a, asset_b
"""


_MM_REACH_CTES = """
edges AS (
    SELECT asset_a AS s, asset_b AS t FROM gpairs
    UNION
    SELECT asset_b, asset_a FROM gpairs
),
reach(node, r) AS (
    SELECT s, s FROM edges
    UNION
    SELECT e.t, reach.r FROM reach JOIN edges e ON reach.node = e.s
),
labeled AS (
    SELECT node AS asset_id, MIN(r) AS cluster_id FROM reach GROUP BY node
)"""


def _mm_sig_clusters_sql(sig_cte: str, sig_table: str, cap: int,
                         pct: int) -> str:
    """Connected components over the gated pair graph — the
    `_mm_clusters_sql` recursive-reachability idiom on the segment
    modalities."""
    return f"""
WITH RECURSIVE {_mm_sig_pairs_body(sig_cte, sig_table, cap, pct)},
{_MM_REACH_CTES}
SELECT asset_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labeled ORDER BY asset_id
"""


def _mm_sig_survivors_sql(sig_cte: str, sig_table: str,
                          base_table: str, cap: int, pct: int) -> str:
    """Keep-one step: every modality asset NOT a non-representative
    cluster member (the `_mm_survivors_sql` idiom; the base CTE
    carries text + byte length under the ASCII pin)."""
    return f"""
WITH RECURSIVE {_mm_sig_pairs_body(sig_cte, sig_table, cap, pct)},
{_MM_REACH_CTES}
SELECT v.asset_id, CAST(v.n AS BIGINT) AS n_bytes,
       md5(v.text) AS checksum
FROM {base_table} v
WHERE NOT EXISTS (SELECT 1 FROM labeled l
                  WHERE l.asset_id = v.asset_id
                    AND l.cluster_id <> l.asset_id)
ORDER BY v.asset_id
"""


def _mm_sig_density_sql() -> str:
    return _mm_density_generic_sql(_mm_frame_sig_sql(), "fsig")


def _mm_audio_density_sql() -> str:
    return _mm_density_generic_sql(_mm_audio_sig_sql(), "asig")


def _mm_density_generic_sql(sig_cte: str, sig_table: str) -> str:
    """1-row capacity read over a signature table: postings, distinct
    keys, hottest key, and the exact candidate-pair bill the signature
    join would generate (integer ``//`` matching Spark's ``div``;
    CASTs because DuckDB SUM widens BIGINT to HUGEINT)."""
    return f"""
WITH {sig_cte},
sset AS (
    SELECT DISTINCT asset_id, lane0, lane1, lane2, lane3 FROM {sig_table}
), per_sig AS (
    SELECT lane0, lane1, lane2, lane3, COUNT(*) AS c
    FROM sset GROUP BY 1, 2, 3, 4
)
SELECT CAST(SUM(c) AS BIGINT) AS n_postings,
       COUNT(*) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS max_sig_freq,
       CAST(SUM(c * (c - 1)) // 2 AS BIGINT) AS candidate_pairs
FROM per_sig
"""


def _mm_funnel_sql() -> str:
    """Per-modality funnel: each modality's clusters entry SQL wrapped
    as a derived table (one cluster evaluation per modality), counts +
    the exact keep-one identity for n_survivors."""
    blocks = []
    for mt, mod, cluster_sql in (
        ("audio", 1, _mm_sig_clusters_sql(
            _mm_audio_sig_sql(), "asig",
            cap=multimodal.AUDIO_SIG_FREQ_CAP,
            pct=multimodal.VIDEO_JACCARD_MIN_PCT,
        )),
        ("image", 0, _mm_clusters_sql()),
        ("video", 2, _mm_sig_clusters_sql(
            _mm_frame_sig_sql(), "fsig",
            cap=multimodal.VIDEO_SIG_FREQ_CAP,
            pct=multimodal.VIDEO_JACCARD_MIN_PCT,
        )),
    ):
        blocks.append(f"""
SELECT '{mt}' AS media_type, a.n_assets, c.n_dup_members, c.n_clusters,
       a.n_assets - c.n_dup_members + c.n_clusters AS n_survivors
FROM (SELECT COUNT(*) AS n_assets FROM documents
      WHERE doc_id % 3 = {mod}) a,
     (SELECT COUNT(*) AS n_dup_members,
             COUNT(DISTINCT cluster_id) AS n_clusters
      FROM ({cluster_sql}) t) c""")
    return "\nUNION ALL\n".join(blocks) + "\nORDER BY media_type\n"


def _mm_decode_sql() -> str:
    """Oracle replica of the deterministic fake decoder (md5-derived)."""
    return f"""
WITH h AS (SELECT doc_id, md5(text) AS hx, doc_id % 3 AS m FROM documents)
SELECT doc_id AS asset_id,
       {_MM_MEDIA_SQL} AS media_type,
       CASE WHEN m <> 1 THEN 64 + {_mm_b(0)} END AS width,
       CASE WHEN m <> 1 THEN 64 + {_mm_b(1)} END AS height,
       CASE WHEN m = 0 THEN 3 END AS n_channels,
       CASE WHEN m = 1 THEN 8000 + 100 * {_mm_b(2)} END AS sample_rate,
       CASE WHEN m = 1 THEN CAST(1000 + 10 * ({_mm_b(3)} * 256 + {_mm_b(4)}) AS BIGINT)
            WHEN m = 2 THEN CAST((1 + {_mm_b(5)}) * {_MM_MS_PER_FRAME} AS BIGINT)
       END AS duration_ms,
       CASE WHEN m = 2 THEN 1 + {_mm_b(5)} END AS n_frames
FROM h
"""


def _mm_features_sql() -> str:
    cols = ",\n       ".join(
        f"{_mm_b(i)} / 256.0 AS f{i}" for i in range(multimodal.FEATURE_DIM)
    )
    return f"""
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
SELECT doc_id AS asset_id, {_MM_MEDIA_SQL} AS media_type,
       {cols}
FROM h
"""


def _mm_frames_sql() -> str:
    k = multimodal.FRAME_SAMPLE_MAX
    return f"""
WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents WHERE doc_id % 3 = 2),
v AS (SELECT doc_id, 1 + {_mm_b(5)} AS n_frames FROM h),
s AS (SELECT doc_id, n_frames,
             greatest(1, CAST(floor(n_frames / {k}.0) AS INT)) AS step
      FROM v),
fx AS (SELECT doc_id, unnest(range(0, n_frames, step)) AS frame_idx FROM s)
SELECT doc_id AS asset_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * {_MM_MS_PER_FRAME} AS BIGINT) AS frame_ts_ms
FROM fx
"""


def _mm_resize_sql() -> str:
    side = multimodal.RESIZE_MAX_SIDE
    return f"""
WITH h AS (SELECT doc_id, md5(text) AS hx, doc_id % 3 AS m FROM documents
           WHERE doc_id % 3 <> 1),
d AS (SELECT doc_id, m, 64 + {_mm_b(0)} AS width, 64 + {_mm_b(1)} AS height FROM h)
SELECT doc_id AS asset_id,
       CASE WHEN m = 0 THEN 'image' ELSE 'video' END AS media_type,
       width, height,
       CASE WHEN greatest(width, height) > {side}
            THEN CAST(floor(width * {side}.0 / greatest(width, height)) AS INT)
            ELSE width END AS target_width,
       CASE WHEN greatest(width, height) > {side}
            THEN CAST(floor(height * {side}.0 / greatest(width, height)) AS INT)
            ELSE height END AS target_height
FROM d
"""


def _bpe_sep_expr(col: str = "word", merges=None) -> str:
    """The double-separator rewrite chain over ``col`` (see
    ``_bpe_encode_sql`` for why this equals the Spark fold)."""
    enc = (
        "chr(1) || chr(1) || "
        f"regexp_replace({col}, '(.)', '\\1' || chr(1) || chr(1), 'g')"
    )
    for a, b in merges if merges is not None else textops.BPE_FROZEN_MERGES:
        pat = f"chr(1) || '{a}' || chr(1) || chr(1) || '{b}' || chr(1)"
        rep = f"chr(1) || '{a}{b}' || chr(1)"
        enc = f"replace({enc}, {pat}, {rep})"
    return enc


def _bpe_encode_sql() -> str:
    """DuckDB replica of the ``bpe_word_tokens`` fold via separator
    string-rewriting: every symbol is wrapped in DOUBLE ``chr(1)``
    boundaries and each ranked merge is one ``replace`` whose pattern
    consumes ONE separator from each side — adjacent merge sites never
    share consumed characters, so replace-all's leftmost-nonoverlapping
    scan is exactly the fold's semantics (pinned against the fold on
    adversarial words in ``tests/test_bpe_encode.py``). Sound because
    the corpus contains no ``chr(1)`` (asserted in the same test);
    symbol-boundary alignment is forced because symbols cannot contain
    the separator, so a pattern's leading separator can only land on
    the second character of a ``chr(1)chr(1)`` boundary run.
    """
    enc = _bpe_sep_expr()
    return f"""
        WITH words AS (
            SELECT w AS word
            FROM documents,
                 UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
            WHERE w <> ''
        ),
        freq AS (SELECT word, count(*) AS f FROM words GROUP BY word),
        enc AS (SELECT {enc} AS s, f FROM freq),
        toks AS (
            SELECT tok.token AS token, f
            FROM enc,
                 UNNEST(string_split(trim(s, chr(1)), chr(1) || chr(1)))
                     AS tok(token)
        )
        SELECT token, CAST(SUM(f) AS BIGINT) AS tf
        FROM toks GROUP BY token
        ORDER BY tf DESC, token ASC
    """


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{w}'" for w in textops.STOPWORDS)
    exact_sum = relational.exact_sum_double
    oracles = _oracle_sql_dict(stop_list, exact_sum)
    # the Bloom-gated probe is RESULT-IDENTICAL to the plain index probe
    # (zero-false-negative guarantee) — sharing the SQL text makes the
    # guarantee itself driver-checked
    oracles["dedup_incremental_bloom"] = oracles["dedup_incremental"]
    return oracles


def _oracle_sql_dict(stop_list: str, exact_sum) -> dict[str, str]:
    return {
        "latency_kpis": f"""
            WITH now_t AS (SELECT max(ts) AS _now FROM events)
            SELECT round(avg(value), 4) AS avg_value,
                   min(value) AS min_value,
                   max(value) AS max_value,
                   count(*) AS n_samples,
                   _now - INTERVAL '{relational.KPI_WINDOW_HOURS} hours' AS window_start,
                   _now AS window_end
            FROM events, now_t
            WHERE ts >= _now - INTERVAL '{relational.KPI_WINDOW_HOURS} hours'
            GROUP BY _now
        """,
        "topn_recent": f"""
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
            FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC
            LIMIT {relational.TOPN_DEFAULT}
        """,
        "json_extract": """
            SELECT event_id,
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_error
            FROM events
            WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
              AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        """,
        "sec_of_day": """
            SELECT event_id,
                   date_diff('second', date_trunc('day', ts), ts) AS sec_of_day,
                   hour(ts) AS hour_of_day
            FROM events
        """,
        "mask_email": f"""
            WITH e AS (SELECT c_custkey, {_CUSTOMER_EMAIL_SQL} AS email FROM customer)
            SELECT c_custkey,
                   CASE WHEN email IS NULL THEN NULL
                        WHEN instr(email, '@') = 0 THEN '***'
                        ELSE left(email, 1) || '***' || substr(email, instr(email, '@'))
                   END AS email_masked
            FROM e
        """,
        "pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   {exact_sum('l_quantity')} AS sum_qty,
                   {exact_sum('l_extendedprice')} AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order,
                   {exact_sum('l_quantity')} / count(*) AS avg_qty
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '{relational.PRICING_CUTOFF}'
            GROUP BY l_returnflag, l_linestatus
        """,
        "shipping_priority": f"""
            SELECT o_orderkey, o_orderdate, o_orderpriority,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                       AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = '{relational.SHIPPING_SEGMENT}'
              AND o_orderdate < TIMESTAMP '{relational.SHIPPING_CUTOFF}'
              AND l_shipdate > TIMESTAMP '{relational.SHIPPING_CUTOFF}'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate ASC, o_orderkey ASC
            LIMIT {relational.SHIPPING_TOPN}
        """,
        "table_diff": """
            WITH o AS (
                SELECT * FROM orders WHERE o_orderkey % 7 <> 0
            ),
            n AS (
                SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 5 = 0
                            THEN o_totalprice + 1
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 10 <> 0
            ),
            d AS (
                SELECT coalesce(n.o_orderkey, o.o_orderkey) AS key,
                       CASE WHEN o.o_orderkey IS NULL THEN 'added'
                            WHEN n.o_orderkey IS NULL THEN 'removed'
                            WHEN NOT (
                                o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                                AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                                AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                                AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
                                AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority
                            ) THEN 'changed' END AS change_type
                FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
            )
            SELECT key, change_type FROM d WHERE change_type IS NOT NULL
        """,
        "profile_columns": _profile_columns_sql(),
        "check_constraints": _check_constraints_sql(),
        "key_skew_profile": """
            WITH counts AS (
                SELECT user_id, count(*) AS c FROM events GROUP BY user_id
            )
            SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(max(c) AS BIGINT) AS max_count,
                   round(quantile_cont(c, 0.5), 4) AS p50_count,
                   round(quantile_cont(c, 0.9), 4) AS p90_count,
                   round(quantile_cont(c, 0.99), 4) AS p99_count,
                   round(max(c) * count(*) / sum(c), 4) AS skew_ratio
            FROM counts
        """,
        "large_orders": f"""
            WITH qual AS (
                SELECT l_orderkey,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                            AS DOUBLE) AS total_qty
                FROM lineitem
                GROUP BY l_orderkey
                HAVING total_qty >= {relational.LARGE_ORDER_MIN_QTY}
            )
            SELECT c_name, o_custkey, o_orderkey, o_orderdate,
                   o_totalprice, total_qty
            FROM orders
            JOIN qual ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT {relational.LARGE_ORDER_TOPN}
        """,
        "promo_revenue": f"""
            WITH s AS (
                SELECT CAST(SUM(CASE WHEN p_type = '{relational.PROMO_TYPE}'
                                THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                     * (1 - CAST(l_discount
                                                 AS DECIMAL(18,2)))
                                ELSE CAST(0 AS DECIMAL(18,2)) END)
                            AS DOUBLE) AS promo_revenue,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                * (1 - CAST(l_discount AS DECIMAL(18,2))))
                            AS DOUBLE) AS total_revenue
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '{relational.PROMO_MONTH_START}'
                  AND l_shipdate < TIMESTAMP '{relational.PROMO_MONTH_END}'
            )
            SELECT round(promo_revenue, 4) AS promo_revenue,
                   round(total_revenue, 4) AS total_revenue,
                   round(100.0 * promo_revenue / total_revenue, 4)
                       AS promo_share_pct
            FROM s
        """,
        "top_supplier": f"""
            WITH per AS (
                SELECT l_suppkey,
                       SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2))))
                           AS rev
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '{relational.TOP_SUPPLIER_START}'
                  AND l_shipdate < TIMESTAMP '{relational.TOP_SUPPLIER_END}'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name,
                   round(CAST(rev AS DOUBLE), 4) AS total_revenue
            FROM per
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev = (SELECT MAX(rev) FROM per)
            ORDER BY s_suppkey
        """,
        "brand_revenue_bands": f"""
            SELECT p_brand,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2))))
                              AS DOUBLE), 4) AS revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE {_brand_bands_where()}
            GROUP BY p_brand
        """,
        "avg_quantity_gate": f"""
            WITH sel AS (
                SELECT p_partkey FROM part
                WHERE p_brand = '{relational.AVG_QTY_BRAND}'
            ),
            li AS (
                SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
                       l_extendedprice
                FROM lineitem JOIN sel ON p_partkey = l_partkey
            ),
            g AS (
                SELECT q, l_extendedprice,
                       SUM(q) OVER (PARTITION BY l_partkey) AS sum_qty,
                       COUNT(*) OVER (PARTITION BY l_partkey) AS cnt
                FROM li
            )
            SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                              AS DOUBLE) / 7.0, 4) AS avg_yearly
            FROM g WHERE q * 5 * cnt < sum_qty
        """,
        "waiting_supplier": f"""
            WITH f AS (
                SELECT l_orderkey, l_suppkey,
                       MAX(CASE WHEN l_shipdate > o_orderdate
                                     + INTERVAL {relational.WAITING_LATE_DAYS} DAY
                                THEN TRUE ELSE FALSE END) AS late
                FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                WHERE o_orderstatus = 'F'
                GROUP BY 1, 2
            )
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM f l1 JOIN supplier ON s_suppkey = l1.l_suppkey
            WHERE l1.late
              AND EXISTS (SELECT 1 FROM f l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM f l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.late)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT {relational.WAITING_TOPN}
        """,
        "bpe_merge_pairs": f"""
            WITH words AS (
                SELECT w AS word
                FROM documents,
                     UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
                WHERE w <> ''
            ),
            freq AS (SELECT word, count(*) AS f FROM words GROUP BY word),
            pairs AS (
                SELECT substring(word, CAST(i AS INT), 1) AS a,
                       substring(word, CAST(i AS INT) + 1, 1) AS b,
                       f
                FROM freq,
                     UNNEST(range(1, CAST(length(word) AS BIGINT))) AS g(i)
                WHERE length(word) >= 2
            )
            SELECT a, b, CAST(SUM(f) AS BIGINT) AS pair_count
            FROM pairs GROUP BY a, b
            ORDER BY pair_count DESC, a, b
            LIMIT {textops.BPE_TOP_N}
        """,
        "source_share_cap": f"""
            WITH base AS (
                SELECT doc_id, source,
                       CAST(length(text) - length(replace(text, ' ', ''))
                            + 1 AS BIGINT) AS n_tokens,
                       ({hex48_sql("CAST(doc_id AS VARCHAR)")})
                           % {sampling.SAMPLE_DENOM} AS bucket
                FROM documents
            ),
            tot AS (
                SELECT source, CAST(SUM(n_tokens) AS DOUBLE) AS t_s
                FROM base GROUP BY source
            ),
            grand AS (SELECT SUM(t_s) AS t_all FROM tot),
            thr AS (
                SELECT source,
                       CASE WHEN t_s <= CAST({sampling.SOURCE_CAP_FRACTION!r}
                                            AS DOUBLE) * t_all
                            THEN CAST({sampling.SAMPLE_DENOM} AS BIGINT)
                            ELSE CAST(floor(CAST({sampling.SOURCE_CAP_FRACTION!r}
                                                 AS DOUBLE)
                                            * t_all / t_s
                                            * {sampling.SAMPLE_DENOM})
                                      AS BIGINT)
                       END AS thr
                FROM tot CROSS JOIN grand
            )
            SELECT base.doc_id, base.source, base.n_tokens
            FROM base JOIN thr ON base.source = thr.source
            WHERE base.bucket < thr.thr
        """,
        "idle_customers": f"""
            WITH s AS (
                SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sm,
                       COUNT(*) AS n
                FROM customer WHERE c_acctbal > 0
            )
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_custs,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       AS total_acctbal
            FROM customer, s
            WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > sm
              AND NOT EXISTS (
                  SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority
                        = '{relational.IDLE_EXCLUDED_PRIORITY}'
              )
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "nation_revenue_share": f"""
            WITH by_nation AS (
                SELECT n_name,
                       SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2))))
                           AS rev
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                GROUP BY n_name
            ),
            tot AS (SELECT SUM(rev) AS total FROM by_nation)
            SELECT n_name,
                   CAST(rev AS DOUBLE) AS revenue,
                   round(CAST(rev AS DOUBLE) / CAST(total AS DOUBLE), 6)
                       AS share
            FROM by_nation, tot
            WHERE rev * {relational.SHARE_DENOM} > total * {relational.SHARE_NUM}
            ORDER BY revenue DESC, n_name
        """,
        "min_cost_supplier": f"""
            WITH nk AS (
                SELECT n_nationkey, n_name
                FROM nation JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = '{relational.MIN_COST_REGION}'
            ),
            sups AS (
                SELECT s_suppkey, s_name, n_name
                FROM supplier JOIN nk ON s_nationkey = n_nationkey
            ),
            cand AS (
                SELECT l_partkey,
                       l_extendedprice / l_quantity AS price,
                       l_suppkey
                FROM lineitem JOIN sups ON l_suppkey = s_suppkey
            ),
            best AS (
                SELECT l_partkey, price, l_suppkey,
                       row_number() OVER (
                           PARTITION BY l_partkey
                           ORDER BY price, l_suppkey
                       ) AS rn
                FROM cand
            )
            SELECT p_partkey, p_name, s_name, n_name,
                   round(price, 4) AS unit_price
            FROM best
            JOIN sups ON best.l_suppkey = sups.s_suppkey
            JOIN part ON best.l_partkey = p_partkey
            WHERE rn = 1
            ORDER BY unit_price DESC, p_partkey
            LIMIT {relational.MIN_COST_TOPN}
        """,
        "population_stability": f"""
            WITH bounds AS (
                SELECT event_type AS t, min(value) AS vmin,
                       max(value) AS vmax
                FROM events
                WHERE ts < TIMESTAMP '{profiling.PSI_CUTOFF}'
                  AND value IS NOT NULL
                GROUP BY event_type
            ),
            counts AS (
                SELECT e.event_type AS t,
                       CASE WHEN (vmax - vmin) / {profiling.PSI_BINS} = 0
                            THEN 0
                            ELSE CAST(least(greatest(floor(
                                     (value - vmin)
                                     / ((vmax - vmin) / {profiling.PSI_BINS})
                                 ), 0), {profiling.PSI_BINS} - 1) AS BIGINT)
                       END AS bin,
                       CAST(SUM(CASE WHEN ts < TIMESTAMP
                                          '{profiling.PSI_CUTOFF}'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                       CAST(SUM(CASE WHEN ts >= TIMESTAMP
                                          '{profiling.PSI_CUTOFF}'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
                FROM events e JOIN bounds ON e.event_type = bounds.t
                WHERE value IS NOT NULL
                GROUP BY 1, 2
            ),
            grid AS (
                SELECT t, CAST(i AS BIGINT) AS bin
                FROM bounds,
                     UNNEST(range(0, {profiling.PSI_BINS})) AS g(i)
            ),
            fgrid AS (
                SELECT grid.t, grid.bin,
                       COALESCE(n_ref, 0) AS n_ref,
                       COALESCE(n_cur, 0) AS n_cur
                FROM grid LEFT JOIN counts
                  ON grid.t = counts.t AND grid.bin = counts.bin
            ),
            tot AS (
                SELECT t, n_ref, n_cur,
                       CAST(SUM(n_ref) OVER (PARTITION BY t) AS BIGINT)
                           AS tot_ref,
                       CAST(SUM(n_cur) OVER (PARTITION BY t) AS BIGINT)
                           AS tot_cur
                FROM fgrid
            ),
            terms AS (
                SELECT t, tot_ref, tot_cur,
                       CAST(round(
                           ((n_ref + 1) / (tot_ref + {profiling.PSI_BINS})
                            - (n_cur + 1) / (tot_cur + {profiling.PSI_BINS}))
                           * ln(((n_ref + 1)
                                 / (tot_ref + {profiling.PSI_BINS}))
                                / ((n_cur + 1)
                                   / (tot_cur + {profiling.PSI_BINS})))
                           * 1e9
                       ) AS BIGINT) AS tq
                FROM tot
            )
            SELECT t AS event_type,
                   CAST(MAX(tot_ref) AS BIGINT) AS n_ref,
                   CAST(MAX(tot_cur) AS BIGINT) AS n_cur,
                   round(SUM(tq) / 1e9, 6) AS psi
            FROM terms
            GROUP BY t
            ORDER BY psi DESC, event_type
        """,
        "bpe_encode": _bpe_encode_sql(),
        "surplus_suppliers": f"""
            SELECT s_suppkey, s_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = '{relational.SURPLUS_NATION}'
              AND s_suppkey IN (
                  SELECT ps.l_suppkey
                  FROM (SELECT DISTINCT l_partkey, l_suppkey
                        FROM lineitem) ps
                  JOIN part ON ps.l_partkey = p_partkey
                  WHERE p_name LIKE '%{relational.SURPLUS_PART_TOKEN}%'
                    AND CAST(p_size % {relational.AVAIL_MOD}
                             AS DECIMAL(18,2)) * 2 > (
                        SELECT SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                        FROM lineitem l
                        WHERE l.l_partkey = ps.l_partkey
                          AND l.l_suppkey = ps.l_suppkey
                          AND l.l_shipdate >= TIMESTAMP
                              '{relational.SURPLUS_YEAR}-01-01 00:00:00'
                          AND l.l_shipdate < TIMESTAMP
                              '{relational.SURPLUS_YEAR + 1}-01-01 00:00:00'
                    )
              )
            ORDER BY s_name, s_suppkey
        """,
        "local_supplier_revenue": f"""
            SELECT n_name,
                   CAST(SUM({relational.DISCOUNTED_PRICE}) AS DOUBLE)
                       AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey
              AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = '{relational.LOCAL_REGION}'
              AND o_orderdate >= TIMESTAMP
                  '{relational.LOCAL_YEAR}-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP
                  '{relational.LOCAL_YEAR + 1}-01-01 00:00:00'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "forecast_revenue": f"""
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_discount AS DECIMAL(18,2)))
                        AS DOUBLE) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP
                  '{relational.FORECAST_YEAR}-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP
                  '{relational.FORECAST_YEAR + 1}-01-01 00:00:00'
              AND l_quantity < {relational.FORECAST_MAX_QTY}
              AND CAST(l_discount AS DECIMAL(18,2))
                  BETWEEN {relational.FORECAST_DISC_LO}
                      AND {relational.FORECAST_DISC_HI}
        """,
        "returned_top_customers": f"""
            WITH rev AS (
                SELECT o_custkey,
                       SUM({relational.DISCOUNTED_PRICE}) AS _rev
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                WHERE o_orderdate >= TIMESTAMP
                      '{relational.RETURNED_QUARTER} 00:00:00'
                  AND o_orderdate < TIMESTAMP
                      '{relational.RETURNED_QUARTER} 00:00:00'
                      + INTERVAL 3 MONTH
                  AND l_returnflag = 'R'
                GROUP BY o_custkey
            )
            SELECT c_custkey, c_name,
                   CAST(_rev AS DOUBLE) AS revenue,
                   c_acctbal, n_name
            FROM rev
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            ORDER BY revenue DESC, c_custkey
            LIMIT {relational.RETURNED_TOPN}
        """,
        "part_supplier_variety": f"""
            SELECT p_brand, p_type, p_size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
                       AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
            JOIN part ON ps.l_partkey = p_partkey
            WHERE p_brand <> '{relational.VARIETY_EXCL_BRAND}'
              AND p_type NOT LIKE '{relational.VARIETY_EXCL_TYPE_PREFIX}%'
              AND p_size IN {relational.VARIETY_SIZES}
              AND ps.l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier
                  WHERE s_suppkey % {relational.VARIETY_FLAG_MOD} = 0
              )
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "bpe_fertility": f"""
            WITH words AS (
                SELECT source, w AS word
                FROM documents,
                     UNNEST(regexp_split_to_array(trim(text), '\\s+'))
                         AS t(w)
                WHERE w <> ''
            ),
            freq AS (
                SELECT source, word, count(*) AS f
                FROM words GROUP BY source, word
            ),
            enc AS (
                SELECT word,
                       CAST(len(string_split(
                           trim({_bpe_sep_expr()}, chr(1)),
                           chr(1) || chr(1))) AS BIGINT) AS n_toks,
                       CAST(length(word) AS BIGINT) AS n_ch
                FROM (SELECT DISTINCT word FROM freq)
            )
            SELECT source,
                   CAST(SUM(f) AS BIGINT) AS n_words,
                   CAST(SUM(f * n_toks) AS BIGINT) AS n_tokens,
                   CAST(SUM(f * n_ch) AS BIGINT) AS n_chars,
                   round(SUM(f * n_toks) / CAST(SUM(f) AS DOUBLE), 6)
                       AS tokens_per_word,
                   round(SUM(f * n_ch) / CAST(SUM(f * n_toks) AS DOUBLE), 6)
                       AS chars_per_token
            FROM freq JOIN enc USING (word)
            GROUP BY source
            ORDER BY source
        """,
        "nation_trade_flows": f"""
            SELECT sn.n_name AS supp_nation,
                   cn.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   CAST(SUM({relational.DISCOUNTED_PRICE}) AS DOUBLE)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE ((sn.n_name = '{relational.TRADE_NATION_A}'
                    AND cn.n_name = '{relational.TRADE_NATION_B}')
                OR (sn.n_name = '{relational.TRADE_NATION_B}'
                    AND cn.n_name = '{relational.TRADE_NATION_A}'))
              AND l_shipdate >= TIMESTAMP
                  '{relational.TRADE_YEAR_LO}-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP
                  '{relational.TRADE_YEAR_HI + 1}-01-01 00:00:00'
            GROUP BY 1, 2, 3
            ORDER BY 1, 2, 3
        """,
        "market_share": f"""
            WITH agg AS (
                SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                       CAST(SUM(CASE WHEN sn.n_name =
                                '{relational.SHARE_NATION}'
                            THEN CAST({relational.DISCOUNTED_PRICE}
                                 AS DECIMAL(28,4))
                            ELSE CAST(0 AS DECIMAL(28,4)) END)
                            AS DOUBLE) AS nation_revenue,
                       CAST(SUM(CAST({relational.DISCOUNTED_PRICE}
                                AS DECIMAL(28,4))) AS DOUBLE)
                           AS total_revenue
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation sn ON s_nationkey = sn.n_nationkey
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation cn ON c_nationkey = cn.n_nationkey
                JOIN region ON cn.n_regionkey = r_regionkey
                WHERE p_type = '{relational.SHARE_PART_TYPE}'
                  AND r_name = '{relational.SHARE_REGION}'
                  AND o_orderdate >= TIMESTAMP
                      '{relational.SHARE_YEAR_LO}-01-01 00:00:00'
                  AND o_orderdate < TIMESTAMP
                      '{relational.SHARE_YEAR_HI + 1}-01-01 00:00:00'
                GROUP BY 1
            )
            SELECT o_year, nation_revenue, total_revenue,
                   nation_revenue / total_revenue AS mkt_share
            FROM agg
            ORDER BY o_year
        """,
        "product_profit": f"""
            SELECT n_name,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(SUM({relational.DISCOUNTED_PRICE}) AS DOUBLE)
                   - CAST(SUM(CAST(p_retailprice AS DECIMAL(10,2))
                              * CAST({relational.PROFIT_COST_FACTOR}
                                     AS DECIMAL(3,2))
                              * CAST(l_quantity AS DECIMAL(10,2)))
                          AS DOUBLE) AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%{relational.PROFIT_PART_TOKEN}%'
            GROUP BY 1, 2
            ORDER BY n_name ASC, o_year DESC
        """,
        "shipmode_priority_counts": f"""
            WITH lines AS (
                SELECT l_orderkey, l_shipdate,
                       CASE l_linenumber % 3
                           WHEN 0 THEN 'AIR'
                           WHEN 1 THEN 'MAIL'
                           ELSE 'SHIP'
                       END AS ship_mode
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP
                      '{relational.SHIPMODE_YEAR}-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP
                      '{relational.SHIPMODE_YEAR + 1}-01-01 00:00:00'
            )
            SELECT ship_mode,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                            ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                            ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lines
            JOIN orders ON l_orderkey = o_orderkey
            WHERE ship_mode IN ('MAIL', 'SHIP')
              AND l_shipdate > o_orderdate
                  + INTERVAL {relational.SHIPMODE_LATE_DAYS} DAYS
            GROUP BY ship_mode
            ORDER BY ship_mode
        """,
        "quality_classifier": _quality_classifier_sql(),
        "detect_outliers": f"""
            WITH quant AS (
                SELECT event_id, event_type, value,
                       CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
                FROM events
            ),
            m AS (
                SELECT event_type, count(*) AS n,
                       CAST(SUM(CAST(vq AS DECIMAL(38,0))) AS DOUBLE) AS s1,
                       CAST(SUM(CAST(vq AS DECIMAL(19,0))
                                * CAST(vq AS DECIMAL(19,0))) AS DOUBLE) AS s2
                FROM quant GROUP BY event_type
            ),
            st AS (
                SELECT event_type, s1 / n AS mu,
                       sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))
                           AS sigma
                FROM m
            )
            SELECT event_id, q.event_type, value,
                   round((vq - mu) / sigma, 4) AS z_score
            FROM quant q JOIN st ON q.event_type = st.event_type
            WHERE sigma > 0
              AND abs(round((vq - mu) / sigma, 4))
                  > {relational.OUTLIER_Z_THRESHOLD}
        """,
        "funnel_analysis": f"""
            WITH s1 AS (
                SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = '{relational.FUNNEL_STEPS[0]}'
                GROUP BY user_id
            ),
            s2 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = '{relational.FUNNEL_STEPS[1]}'
                  AND e.ts > s1.t
                GROUP BY e.user_id
            ),
            s3 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = '{relational.FUNNEL_STEPS[2]}'
                  AND e.ts > s2.t
                GROUP BY e.user_id
            ),
            n AS (
                SELECT 1 AS step_index, '{relational.FUNNEL_STEPS[0]}' AS step,
                       (SELECT count(*) FROM s1) AS n_users
                UNION ALL
                SELECT 2, '{relational.FUNNEL_STEPS[1]}',
                       (SELECT count(*) FROM s2)
                UNION ALL
                SELECT 3, '{relational.FUNNEL_STEPS[2]}',
                       (SELECT count(*) FROM s3)
            )
            SELECT CAST(step_index AS BIGINT) AS step_index, step,
                   CAST(n_users AS BIGINT) AS n_users,
                   round(n_users / first_value(n_users)
                         OVER (ORDER BY step_index), 4) AS conversion
            FROM n
        """,
        "retention_cohorts": """
            WITH firsts AS (
                -- CAST to TIMESTAMP: duckdb's date_trunc('week', ts)
                -- yields DATE; the Spark side emits TIMESTAMP and the
                -- contract aligns dtypes pair-by-pair
                SELECT user_id,
                       CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
                           AS cohort_week
                FROM events GROUP BY user_id
            ),
            activity AS (
                SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
                FROM events
            ),
            aligned AS (
                SELECT a.user_id, f.cohort_week,
                       CAST(date_diff('day', f.cohort_week, a.week) / 7
                            AS BIGINT) AS week_offset
                FROM activity a JOIN firsts f USING (user_id)
            ),
            active AS (
                SELECT cohort_week, week_offset,
                       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
                FROM aligned GROUP BY cohort_week, week_offset
            ),
            sizes AS (
                SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
                FROM firsts GROUP BY cohort_week
            )
            SELECT active.cohort_week, week_offset, n_active, n_cohort,
                   round(n_active / n_cohort, 4) AS retention_rate
            FROM active JOIN sizes USING (cohort_week)
        """,
        "quality_weighted_sample": f"""
            WITH feat AS (
                SELECT doc_id,
                       CAST(length(text) - length(replace(text, ' ', ''))
                            + 1 AS BIGINT) AS nt,
                       length(replace(text, ' ', '')) AS n_nonspace,
                       len(list_filter(
                           regexp_split_to_array(trim(text), '\\s+'),
                           t -> t IN ({", ".join(f"'{w}'" for w in textops.STOPWORDS)})
                       )) AS n_stop,
                       ({hex48_sql("CAST(doc_id AS VARCHAR)")})
                           % {sampling.SAMPLE_DENOM} AS bucket
                FROM documents
            ),
            scored AS (
                SELECT doc_id, bucket,
                       CASE WHEN nt < 5 THEN 0.0
                            ELSE 1.0 - abs(n_nonspace / nt - 4.0) / 10.0
                                 - (n_stop / nt) * 0.5 END AS q
                FROM feat
            ),
            p AS (
                SELECT doc_id, bucket, q,
                       least(1.0, greatest(0.0, q)
                             * {sampling.QUALITY_SAMPLE_SCALE}) AS p_keep
                FROM scored
            )
            SELECT doc_id, round(q, 4) AS quality_score,
                   round(p_keep, 4) AS p_keep
            FROM p
            WHERE bucket < p_keep * {sampling.SAMPLE_DENOM}
        """,
        "order_priority_check": f"""
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS order_count
            FROM orders o
            WHERE o.o_orderdate >=
                      TIMESTAMP '{relational.PRIORITY_WINDOW_START}'
              AND o.o_orderdate < TIMESTAMP '{relational.PRIORITY_WINDOW_END}'
              AND EXISTS (
                  SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate >= o.o_orderdate
                        + INTERVAL {relational.PRIORITY_LATE_DAYS} DAY
              )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "customer_distribution": f"""
            WITH per_cust AS (
                SELECT c.c_custkey,
                       CAST(count(o.o_custkey) AS BIGINT) AS c_count
                FROM customer c
                LEFT JOIN (
                    SELECT o_custkey FROM orders
                    WHERE o_orderpriority <>
                          '{relational.CUSTDIST_EXCLUDED_PRIORITY}'
                ) o ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey
            )
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM per_cust
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "window_rank_suite": """
            SELECT event_id, event_type, value,
                   CAST(rank() OVER w_val AS BIGINT) AS rnk,
                   CAST(dense_rank() OVER w_val AS BIGINT) AS dense_rnk,
                   round(percent_rank() OVER w_val, 6) AS pct_rank,
                   round(cume_dist() OVER w_val, 6) AS cume,
                   CAST(ntile(4) OVER w_tot AS BIGINT) AS tile
            FROM events
            WINDOW w_val AS (PARTITION BY event_type ORDER BY value),
                   w_tot AS (PARTITION BY event_type
                             ORDER BY value, event_id)
        """,
        "rfm_segments": """
            WITH now_d AS (SELECT max(o_orderdate) AS now_dt FROM orders),
            per_cust AS (
                SELECT o_custkey,
                       CAST(date_diff('day', max(o_orderdate),
                                      (SELECT now_dt FROM now_d))
                            AS BIGINT) AS recency_days,
                       CAST(count(*) AS BIGINT) AS frequency,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
                FROM orders GROUP BY o_custkey
            ), ranked AS (
                SELECT o_custkey, monetary,
                       row_number() OVER (ORDER BY recency_days ASC,
                                          o_custkey ASC) AS rk_r,
                       row_number() OVER (ORDER BY frequency DESC,
                                          o_custkey ASC) AS rk_f,
                       row_number() OVER (ORDER BY monetary DESC,
                                          o_custkey ASC) AS rk_m,
                       count(*) OVER () AS n
                FROM per_cust
            ), scored AS (
                SELECT o_custkey, monetary,
                       CAST(5 - ((rk_r - 1) * 5) // n AS INT) AS r_score,
                       CAST(5 - ((rk_f - 1) * 5) // n AS INT) AS f_score,
                       CAST(5 - ((rk_m - 1) * 5) // n AS INT) AS m_score
                FROM ranked
            )
            SELECT r_score, f_score, m_score,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   CAST(SUM(monetary) AS DOUBLE) AS total_revenue
            FROM scored GROUP BY 1, 2, 3
        """,
        # two-period value-tier flow; same integer-quintile rule as
        # rfm_segments, tier 0 = absent that period
        "segment_migration": f"""
            WITH per AS (
                SELECT o_custkey,
                       SUM(CASE WHEN o_orderdate
                                < DATE '{relational.MIGRATION_SPLIT_DATE}'
                           THEN CAST(o_totalprice AS DECIMAL(18,2))
                           END) AS rev1,
                       SUM(CASE WHEN o_orderdate
                                >= DATE '{relational.MIGRATION_SPLIT_DATE}'
                           THEN CAST(o_totalprice AS DECIMAL(18,2))
                           END) AS rev2
                FROM orders GROUP BY o_custkey
            ), t1 AS (
                SELECT o_custkey,
                       CAST(5 - ((row_number() OVER (ORDER BY rev1 DESC,
                                 o_custkey ASC) - 1) * 5)
                            // (count(*) OVER ()) AS INT) AS tier1
                FROM per WHERE rev1 IS NOT NULL
            ), t2 AS (
                SELECT o_custkey,
                       CAST(5 - ((row_number() OVER (ORDER BY rev2 DESC,
                                 o_custkey ASC) - 1) * 5)
                            // (count(*) OVER ()) AS INT) AS tier2
                FROM per WHERE rev2 IS NOT NULL
            )
            SELECT COALESCE(t1.tier1, 0) AS p1_tier,
                   COALESCE(t2.tier2, 0) AS p2_tier,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   CAST(COALESCE(SUM(per.rev2),
                                 CAST(0 AS DECIMAL(18,2)))
                        AS DOUBLE) AS revenue_p2
            FROM per
            LEFT JOIN t1 USING (o_custkey)
            LEFT JOIN t2 USING (o_custkey)
            GROUP BY 1, 2
        """,
        "mad_outliers": f"""
            WITH base AS (
                SELECT event_id, event_type, value FROM events
            ), ranked AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                           ORDER BY value, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM base
            ), med_tbl AS (
                SELECT event_type, value AS med FROM ranked
                WHERE rn = (n + 1) // 2
            ), devs AS (
                SELECT b.event_id, b.event_type, b.value, m.med,
                       abs(b.value - m.med) AS abs_dev
                FROM base b JOIN med_tbl m USING (event_type)
            ), dev_ranked AS (
                SELECT event_type, abs_dev,
                       row_number() OVER (PARTITION BY event_type
                           ORDER BY abs_dev, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM devs
            ), mad_tbl AS (
                SELECT event_type, abs_dev AS mad FROM dev_ranked
                WHERE rn = (n + 1) // 2
            )
            SELECT d.event_id, d.event_type, d.value, d.med, t.mad,
                   round(d.abs_dev, 4) AS abs_dev
            FROM devs d JOIN mad_tbl t USING (event_type)
            WHERE d.abs_dev > {relational.MAD_K} * t.mad
        """,
        "part_pair_affinity": f"""
            WITH op AS (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ), pairs AS (
                SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                       CAST(count(*) AS BIGINT) AS co_count
                FROM op a JOIN op b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2
            ), singles AS (
                SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
                FROM op GROUP BY 1
            ), tot AS (
                SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
                    AS n_orders FROM op
            )
            SELECT part_a, part_b, co_count,
                   sa.cnt AS cnt_a, sb.cnt AS cnt_b,
                   round(CAST(co_count * n_orders AS DOUBLE)
                         / CAST(sa.cnt * sb.cnt AS DOUBLE), 6) AS lift
            FROM pairs
            JOIN singles sa ON sa.l_partkey = part_a
            JOIN singles sb ON sb.l_partkey = part_b
            CROSS JOIN tot
            ORDER BY co_count DESC, part_a, part_b
            LIMIT {relational.PART_AFFINITY_TOPK}
        """,
        "fk_integrity_report": _fk_integrity_sql(),
        "order_linecount_histogram": """
            WITH per_order AS (
                SELECT l_orderkey,
                       CAST(count(*) AS BIGINT) AS n_lines
                FROM lineitem GROUP BY l_orderkey
            ), hist AS (
                SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
                FROM per_order GROUP BY n_lines
            )
            SELECT n_lines, n_orders,
                   round(CAST(n_orders AS DOUBLE)
                         / CAST(SUM(n_orders) OVER () AS DOUBLE), 6)
                       AS order_share
            FROM hist
        """,
        "segment_priority_matrix": """
            WITH grid AS (
                SELECT c_mktsegment, o_orderpriority,
                       CAST(count(*) AS BIGINT) AS n_orders,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS _rev
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY c_mktsegment, o_orderpriority
            )
            SELECT c_mktsegment, o_orderpriority, n_orders,
                   CAST(_rev AS DOUBLE) AS revenue,
                   round(CAST(n_orders AS DOUBLE)
                         / CAST(SUM(n_orders) OVER (
                               PARTITION BY c_mktsegment) AS DOUBLE), 6)
                       AS segment_share
            FROM grid
        """,
        "pareto_parts": """
            WITH per_part AS (
                SELECT l_partkey,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                * (1 - CAST(l_discount AS DECIMAL(18,2))))
                            AS DECIMAL(18,4)) AS rev
                FROM lineitem GROUP BY l_partkey
            ), cumed AS (
                SELECT rev,
                       CAST(SUM(rev) OVER (
                           ORDER BY rev DESC, l_partkey ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
                            AS DECIMAL(25,4)) AS cum,
                       CAST(SUM(rev) OVER () AS DECIMAL(25,4)) AS total
                FROM per_part
            ), classed AS (
                SELECT rev, total,
                       CASE WHEN cum * 10 <= total * 7 THEN 'A'
                            WHEN cum * 10 <= total * 9 THEN 'B'
                            ELSE 'C' END AS abc_class
                FROM cumed
            )
            SELECT abc_class,
                   CAST(count(*) AS BIGINT) AS n_parts,
                   CAST(SUM(rev) AS DOUBLE) AS revenue,
                   round(CAST(SUM(rev) AS DOUBLE)
                         / CAST(MAX(total) AS DOUBLE), 6) AS revenue_share
            FROM classed GROUP BY abc_class
        """,
        "monthly_revenue_trend": """
            WITH monthly AS (
                SELECT strftime(o_orderdate, '%Y-%m') AS month,
                       CAST(count(*) AS BIGINT) AS n_orders,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS _rev
                FROM orders GROUP BY 1
            )
            SELECT month, n_orders,
                   CAST(_rev AS DOUBLE) AS revenue,
                   round(CAST(_rev - lag(_rev) OVER (ORDER BY month)
                              AS DOUBLE)
                         / CAST(lag(_rev) OVER (ORDER BY month)
                                AS DOUBLE), 6) AS mom_growth
            FROM monthly
        """,
        "revenue_growth_by_nation": """
            WITH grid AS (
                SELECT n_name AS nation,
                       strftime(o_orderdate, '%Y-%m') AS month,
                       CAST(count(*) AS BIGINT) AS n_orders,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS _rev
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1, 2
            )
            SELECT nation, month, n_orders,
                   CAST(_rev AS DOUBLE) AS revenue,
                   round(CAST(_rev - lag(_rev) OVER (
                                  PARTITION BY nation ORDER BY month)
                              AS DOUBLE)
                         / CAST(lag(_rev) OVER (
                                    PARTITION BY nation ORDER BY month)
                                AS DOUBLE), 6) AS mom_growth
            FROM grid
        """,
        "revenue_trend_by_nation": """
            WITH grid AS (
                SELECT n_name AS nation,
                       CAST(year(o_orderdate) * 12
                            + month(o_orderdate) AS BIGINT) AS x,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1, 2
            ), sums AS (
                SELECT nation,
                       CAST(count(*) AS BIGINT) AS n_months,
                       CAST(SUM(x) AS BIGINT) AS _sx,
                       CAST(SUM(x * x) AS BIGINT) AS _sx2,
                       SUM(y) AS _sy,
                       SUM(CAST(x AS DECIMAL(18,0)) * y) AS _sxy,
                       SUM(y * y) AS _sy2
                FROM grid GROUP BY 1
            )
            SELECT nation, n_months,
                   round(CASE WHEN (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)
                        - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)) <> 0.0 THEN
                       (CAST(n_months AS DOUBLE) * CAST(_sxy AS DOUBLE)
                        - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
                       / (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)
                        - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)) END, 6)
                       AS slope,
                   round(CASE WHEN (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)
                        - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)) <> 0.0 THEN
                       (CAST(_sy AS DOUBLE) -
                        ((CAST(n_months AS DOUBLE) * CAST(_sxy AS DOUBLE)
                          - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
                         / (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)
                          - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)))
                        * CAST(_sx AS DOUBLE)) / CAST(n_months AS DOUBLE) END, 6)
                       AS intercept,
                   round(CASE WHEN (CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)
                        - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)) <> 0.0
                        AND (CAST(n_months AS DOUBLE) * CAST(_sy2 AS DOUBLE)
                        - CAST(_sy AS DOUBLE) * CAST(_sy AS DOUBLE)) <> 0.0 THEN
                       ((CAST(n_months AS DOUBLE) * CAST(_sxy AS DOUBLE)
                         - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
                        * (CAST(n_months AS DOUBLE) * CAST(_sxy AS DOUBLE)
                         - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE)))
                       / ((CAST(n_months AS DOUBLE) * CAST(_sx2 AS DOUBLE)
                         - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE))
                        * (CAST(n_months AS DOUBLE) * CAST(_sy2 AS DOUBLE)
                         - CAST(_sy AS DOUBLE) * CAST(_sy AS DOUBLE))) END, 6)
                       AS r2
            FROM sums
        """,
        "segment_priority_chi2": """
            WITH grid AS (
                SELECT COALESCE(c_mktsegment, '(null)') AS segment,
                       COALESCE(o_orderpriority, '(null)') AS priority,
                       CAST(count(*) AS BIGINT) AS obs
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2
            ), row_tot AS (
                SELECT segment, CAST(SUM(obs) AS BIGINT) AS row_tot
                FROM grid GROUP BY 1
            ), col_tot AS (
                SELECT priority, CAST(SUM(obs) AS BIGINT) AS col_tot
                FROM grid GROUP BY 1
            ), totals AS (
                SELECT CAST(SUM(obs) AS BIGINT) AS n_orders,
                       CAST(count(DISTINCT segment) AS BIGINT) AS _r,
                       CAST(count(DISTINCT priority) AS BIGINT) AS _c
                FROM grid
            ), terms AS (
                SELECT n_orders, _r, _c,
                       (CAST(obs AS DOUBLE) * CAST(n_orders AS DOUBLE)
                        - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
                       * (CAST(obs AS DOUBLE) * CAST(n_orders AS DOUBLE)
                        - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
                       / (CAST(n_orders AS DOUBLE)
                        * (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)))
                       - (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
                       / CAST(n_orders AS DOUBLE) AS _term
                FROM grid
                JOIN row_tot USING (segment)
                JOIN col_tot USING (priority)
                CROSS JOIN totals
            ), folded AS (
                SELECT n_orders, _r, _c,
                       SUM(_term) + CAST(n_orders AS DOUBLE) AS _chi2
                FROM terms GROUP BY 1, 2, 3
            )
            SELECT round(_chi2, 6) AS chi2,
                   CAST((_r - 1) * (_c - 1) AS BIGINT) AS dof,
                   n_orders,
                   round(CASE WHEN least(_r - 1, _c - 1) > 0 THEN
                       sqrt(_chi2 / (CAST(n_orders AS DOUBLE)
                            * CAST(least(_r - 1, _c - 1) AS DOUBLE)))
                       END, 6) AS cramers_v
            FROM folded
        """,
        "char_entropy": """
            WITH chars AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(text, '(?s).')) AS ch
                FROM documents
            ), h AS (
                SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
                FROM chars GROUP BY 1, 2
            ), per_doc AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n_chars,
                       SUM(CAST(c AS DOUBLE)
                           * ln(CAST(c AS DOUBLE))) AS _clnc
                FROM h GROUP BY 1
            )
            SELECT doc_id, n_chars,
                   round(ln(CAST(n_chars AS DOUBLE))
                         - _clnc / CAST(n_chars AS DOUBLE), 4)
                       AS entropy
            FROM per_doc
        """,
        "pmi_cooccurrence": f"""
            WITH t AS (
                SELECT string_split(
                           trim(regexp_replace(lower(text), '\\s+', ' ',
                                               'g')), ' ') AS ws
                FROM documents
            ), pairs AS (
                SELECT unnest(
                    list_concat({", ".join(
                        f"CASE WHEN len(ws) >= {d + 1} THEN "
                        f"list_transform(range(1, len(ws) - {d} + 1), "
                        f"i -> CASE WHEN ws[i] <= ws[i + {d}] "
                        f"THEN ws[i] || ' ' || ws[i + {d}] "
                        f"ELSE ws[i + {d}] || ' ' || ws[i] END) "
                        f"ELSE [] END"
                        for d in range(1, textops.PMI_WINDOW + 1)
                    )})) AS pair
                FROM t
            ), pair_counts AS (
                SELECT pair, CAST(count(*) AS BIGINT) AS pair_count
                FROM pairs GROUP BY 1
            ), unigrams AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT unnest(ws) AS tok FROM t)
                WHERE tok <> '' GROUP BY 1
            ), n_tok AS (
                SELECT CAST(SUM(cnt) AS DOUBLE) AS _n_tok FROM unigrams
            ), n_pair AS (
                SELECT CAST(SUM(pair_count) AS DOUBLE) AS _n_pair
                FROM pair_counts
            ), gated AS (
                SELECT string_split(pair, ' ')[1] AS w_a,
                       string_split(pair, ' ')[2] AS w_b,
                       pair_count
                FROM pair_counts
                WHERE pair_count >= {textops.PMI_MIN_COUNT}
            )
            SELECT w_a, w_b, pair_count,
                   ua.cnt AS count_a, ub.cnt AS count_b,
                   round(ln(((CAST(pair_count AS DOUBLE) * _n_tok)
                             * _n_tok)
                            / ((_n_pair * CAST(ua.cnt AS DOUBLE))
                               * CAST(ub.cnt AS DOUBLE))), 4) AS pmi
            FROM gated
            JOIN unigrams ua ON gated.w_a = ua.tok
            JOIN unigrams ub ON gated.w_b = ub.tok
            CROSS JOIN n_tok CROSS JOIN n_pair
        """,
        "k_anonymity_audit": f"""
            WITH classes AS (
                SELECT c_nationkey, c_mktsegment,
                       floor(c_acctbal / {float(masking.K_ANON_BAL_BAND)})
                           AS _band,
                       CAST(count(*) AS BIGINT) AS group_size
                FROM customer GROUP BY 1, 2, 3
            )
            SELECT group_size,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(SUM(group_size) AS BIGINT) AS n_customers,
                   group_size < {masking.K_ANON_K} AS at_risk
            FROM classes GROUP BY group_size
        """,
        "l_diversity_audit": f"""
            WITH cells AS (
                SELECT c_nationkey,
                       floor(c_acctbal / {float(masking.K_ANON_BAL_BAND)})
                           AS _band,
                       c_mktsegment,
                       CAST(count(*) AS BIGINT) AS _m
                FROM customer GROUP BY 1, 2, 3
            ), classes AS (
                SELECT c_nationkey, _band,
                       CAST(count(*) AS BIGINT) AS l_distinct,
                       CAST(SUM(_m) AS BIGINT) AS _size
                FROM cells GROUP BY 1, 2
            )
            SELECT l_distinct,
                   CAST(count(*) AS BIGINT) AS n_classes,
                   CAST(SUM(_size) AS BIGINT) AS n_customers,
                   l_distinct < {masking.L_DIVERSITY_L} AS at_risk
            FROM classes GROUP BY l_distinct
        """,
        "t_closeness_audit": f"""
            WITH cells AS (
                SELECT c_nationkey,
                       floor(c_acctbal / {float(masking.K_ANON_BAL_BAND)})
                           AS _band,
                       COALESCE(c_mktsegment, '(null)') AS _seg,
                       CAST(count(*) AS BIGINT) AS _m
                FROM customer GROUP BY 1, 2, 3
            ), classes AS (
                SELECT c_nationkey, _band,
                       CAST(SUM(_m) AS BIGINT) AS _n_c
                FROM cells GROUP BY 1, 2
            ), seg_tot AS (
                SELECT _seg, CAST(SUM(_m) AS BIGINT) AS _g
                FROM cells GROUP BY 1
            ), n_total AS (
                SELECT CAST(SUM(_m) AS BIGINT) AS _n FROM cells
            ), per_class AS (
                SELECT cells.c_nationkey, cells._band, _n_c,
                       0.5 * (SUM(
                           abs(CAST(_m AS DOUBLE) / CAST(_n_c AS DOUBLE)
                               - CAST(_g AS DOUBLE) / CAST(_n AS DOUBLE))
                           - CAST(_g AS DOUBLE) / CAST(_n AS DOUBLE)
                       ) + 1.0) AS _t
                FROM cells
                JOIN classes
                  ON cells.c_nationkey IS NOT DISTINCT FROM classes.c_nationkey
                 AND cells._band IS NOT DISTINCT FROM classes._band
                JOIN seg_tot ON cells._seg = seg_tot._seg
                CROSS JOIN n_total
                GROUP BY 1, 2, 3
            )
            SELECT CAST(floor(_t * 10.0) AS INT) AS t_bucket,
                   CAST(count(*) AS BIGINT) AS n_classes,
                   CAST(SUM(_n_c) AS BIGINT) AS n_customers,
                   _t > {masking.T_CLOSENESS_T!r} AS at_risk
            FROM per_class GROUP BY 1, 4
        """,
        "session_gap_profile": _gap_profile_sql(),
        "rolling_revenue_by_nation": f"""
            WITH monthly AS (
                SELECT CAST(c_nationkey AS BIGINT) AS nation_key,
                       strftime(o_orderdate, '%Y-%m') AS month,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS _rev
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2
            )
            SELECT nation_key, month,
                   round(CAST(_rev AS DOUBLE), 2) AS revenue,
                   round(CAST(SUM(_rev) OVER w AS DOUBLE)
                         / CAST(count(*) OVER w AS DOUBLE), 4) AS ma
            FROM monthly
            WINDOW w AS (PARTITION BY nation_key ORDER BY month
                         ROWS BETWEEN
                         {relational.ROLLING_REVENUE_MONTHS - 1}
                         PRECEDING AND CURRENT ROW)
        """,
        "graph_degree_profile": f"""
            WITH {_trade_graph_sql()},
            o AS (
                SELECT src AS nation_key,
                       CAST(count(*) AS BIGINT) AS out_degree,
                       CAST(SUM(cnt) AS BIGINT) AS out_shipments
                FROM nl GROUP BY 1
            ), i AS (
                SELECT dst AS nation_key,
                       CAST(count(*) AS BIGINT) AS in_degree,
                       CAST(SUM(cnt) AS BIGINT) AS in_shipments
                FROM nl GROUP BY 1
            )
            SELECT nation_key,
                   COALESCE(out_degree, 0) AS out_degree,
                   COALESCE(in_degree, 0) AS in_degree,
                   COALESCE(out_shipments, 0) AS out_shipments,
                   COALESCE(in_shipments, 0) AS in_shipments
            FROM o FULL OUTER JOIN i USING (nation_key)
            ORDER BY nation_key
        """,
        "graph_reciprocity": f"""
            WITH {_trade_graph_sql()},
            counts AS (
                -- COALESCE: SUM over zero rows is NULL, but the Spark
                -- side counts a filtered join (0 on an empty strong
                -- set) — the degenerate-input parity discipline
                SELECT CAST(count(*) AS BIGINT) AS n_strong_lanes,
                       CAST(COALESCE(SUM(CASE WHEN EXISTS (
                            SELECT 1 FROM strong r
                            WHERE r.src = s.dst AND r.dst = s.src
                       ) THEN 1 ELSE 0 END), 0) AS BIGINT)
                           AS n_reciprocated
                FROM strong s
            )
            SELECT n_strong_lanes, n_reciprocated,
                   round(CAST(n_reciprocated AS DOUBLE)
                         / n_strong_lanes, 6) AS reciprocity
            FROM counts
        """,
        "nation_triangles": f"""
            WITH {_trade_graph_sql()},
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e1.b = e2.a
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ), deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und)
                GROUP BY 1
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
                   (SELECT CAST(count(*) AS BIGINT) FROM tri)
                       AS n_triangles,
                   CASE WHEN (SELECT SUM(deg * (deg - 1) // 2) FROM deg)
                             > 0
                        THEN round(
                            3.0 * (SELECT count(*) FROM tri)
                            / (SELECT SUM(deg * (deg - 1) // 2)
                               FROM deg), 6)
                   END AS transitivity
        """,
        "nation_clustering": f"""
            WITH {_trade_graph_sql()},
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e1.b = e2.a
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ), pn AS (
                SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                FROM (SELECT x AS node FROM tri
                      UNION ALL SELECT y FROM tri
                      UNION ALL SELECT z FROM tri)
                GROUP BY 1
            ), deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS degree
                FROM (SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und)
                GROUP BY 1
            )
            SELECT deg.node AS nation_key, degree,
                   COALESCE(pn.n_triangles, 0) AS n_triangles,
                   CASE WHEN degree > 1 THEN round(
                       COALESCE(pn.n_triangles, 0)
                       / (degree * (degree - 1) / 2.0), 6)
                   END AS clustering
            FROM deg LEFT JOIN pn USING (node)
            ORDER BY nation_key
        """,
        "nation_link_prediction": f"""
            WITH {_trade_graph_sql()},
            adj AS (
                SELECT a, b FROM und
                UNION ALL SELECT b, a FROM und
            ), deg AS (
                SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
                FROM adj GROUP BY 1
            ), pairs AS (
                SELECT n1.b AS na, n2.b AS nb, 1.0 / LN(d.deg) AS aa
                FROM adj n1
                JOIN adj n2 ON n1.a = n2.a AND n1.b < n2.b
                JOIN deg d ON d.node = n1.a
            ), open_pairs AS (
                SELECT * FROM pairs p
                WHERE NOT EXISTS (SELECT 1 FROM und
                                  WHERE a = p.na AND b = p.nb)
            ), scored AS (
                -- canonical-order float sum (r16 ADVICE item 1): fold
                -- the sorted 1/ln(deg) terms sequentially, mirroring
                -- the Spark side's aggregate(sort_array(collect_list))
                -- — same doubles, same order, bit-identical result
                SELECT na AS nation_a, nb AS nation_b,
                       CAST(count(*) AS BIGINT) AS common_neighbors,
                       list_reduce(
                           list_prepend(0.0::DOUBLE,
                                        list_sort(list(aa))),
                           (acc, v) -> acc + v) AS aa_sum
                FROM open_pairs GROUP BY 1, 2
            )
            SELECT nation_a, nation_b, common_neighbors,
                   round(common_neighbors
                         / CAST(da.deg + db.deg - common_neighbors
                                AS DOUBLE), 6) AS jaccard,
                   round(aa_sum, 6) AS adamic_adar
            FROM scored
            JOIN deg da ON da.node = nation_a
            JOIN deg db ON db.node = nation_b
            ORDER BY nation_a, nation_b
        """,
        "nation_assortativity": f"""
            WITH {_trade_graph_sql()},
            deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und)
                GROUP BY 1
            ), stubs AS (
                SELECT a, b FROM und
                UNION ALL SELECT b, a FROM und
            ), jk AS (
                SELECT da.deg AS j, db.deg AS k
                FROM stubs
                JOIN deg da ON da.node = stubs.a
                JOIN deg db ON db.node = stubs.b
            ), mo AS (
                SELECT CAST(count(*) AS BIGINT) AS m2,
                       CAST(SUM(j * k) AS BIGINT) AS sjk,
                       CAST(SUM(j) AS BIGINT) AS sj,
                       CAST(SUM(j * j) AS BIGINT) AS sj2
                FROM jk
            ), mom AS (
                SELECT m2,
                       CAST(sj AS DOUBLE) / m2 AS mean,
                       CAST(sjk AS DOUBLE) / m2 AS ejk,
                       CAST(sj2 AS DOUBLE) / m2 AS ej2
                FROM mo
            )
            SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
                   CASE WHEN ej2 - mean * mean > 0
                        THEN round((ejk - mean * mean)
                                   / (ej2 - mean * mean), 6)
                   END AS assortativity
            FROM mom
        """,
        "user_triangles": f"""
            WITH {_coactivity_graph_sql()},
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e1.b = e2.a
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ), deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und)
                GROUP BY 1
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
                   (SELECT CAST(count(*) AS BIGINT) FROM tri)
                       AS n_triangles,
                   CASE WHEN (SELECT SUM(deg * (deg - 1) // 2) FROM deg)
                             > 0
                        THEN round(
                            3.0 * (SELECT count(*) FROM tri)
                            / (SELECT SUM(deg * (deg - 1) // 2)
                               FROM deg), 6)
                   END AS transitivity
        """,
        "user_assortativity": f"""
            WITH {_coactivity_graph_sql()},
            deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und)
                GROUP BY 1
            ), stubs AS (
                SELECT a, b FROM und
                UNION ALL SELECT b, a FROM und
            ), jk AS (
                SELECT da.deg AS j, db.deg AS k
                FROM stubs
                JOIN deg da ON da.node = stubs.a
                JOIN deg db ON db.node = stubs.b
            ), mo AS (
                -- HUGEINT moments, mirroring the Spark side's
                -- DECIMAL(38,0): exact at user cardinality where
                -- int64 could clip
                SELECT CAST(count(*) AS BIGINT) AS m2,
                       SUM(CAST(j AS HUGEINT) * CAST(k AS HUGEINT))
                           AS sjk,
                       SUM(CAST(j AS HUGEINT)) AS sj,
                       SUM(CAST(j AS HUGEINT) * CAST(j AS HUGEINT))
                           AS sj2
                FROM jk
            ), mom AS (
                SELECT m2,
                       CAST(sj AS DOUBLE) / m2 AS mean,
                       CAST(sjk AS DOUBLE) / m2 AS ejk,
                       CAST(sj2 AS DOUBLE) / m2 AS ej2
                FROM mo
            )
            SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
                   CASE WHEN ej2 - mean * mean > 0
                        THEN round((ejk - mean * mean)
                                   / (ej2 - mean * mean), 6)
                   END AS assortativity
            FROM mom
        """,
        "user_clustering": f"""
            WITH {_coactivity_graph_sql()},
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e1.b = e2.a
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ), pn AS (
                SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                FROM (SELECT x AS node FROM tri
                      UNION ALL SELECT y FROM tri
                      UNION ALL SELECT z FROM tri)
                GROUP BY 1
            ), deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS degree
                FROM (SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und)
                GROUP BY 1
            )
            SELECT deg.node AS user_id, degree,
                   COALESCE(pn.n_triangles, 0) AS n_triangles,
                   CASE WHEN degree > 1 THEN round(
                       COALESCE(pn.n_triangles, 0)
                       / (degree * (degree - 1) / 2.0), 6)
                   END AS clustering
            FROM deg LEFT JOIN pn USING (node)
            ORDER BY user_id
        """,
        "user_burstiness": f"""
            WITH o AS (
                SELECT user_id,
                       epoch_us(ts) AS us,
                       lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
                FROM events
            ), g AS (
                SELECT user_id, us - prev AS gap
                FROM o WHERE prev IS NOT NULL
            ), a AS (
                SELECT user_id,
                       CAST(count(*) AS BIGINT) AS n_gaps,
                       SUM(CAST(gap AS HUGEINT)) AS s1,
                       SUM(CAST(gap AS HUGEINT)
                           * CAST(gap AS HUGEINT)) AS s2
                FROM g GROUP BY 1
                HAVING count(*) >= {temporal.BURSTINESS_MIN_GAPS}
            ), m1 AS (
                SELECT user_id, n_gaps,
                       CAST(s1 AS DOUBLE) / n_gaps AS mu,
                       CAST(s2 AS DOUBLE) / n_gaps AS ex2
                FROM a
            ), m2 AS (
                SELECT user_id, n_gaps, mu,
                       sqrt(greatest(ex2 - mu * mu, 0.0)) AS sig
                FROM m1
            )
            SELECT user_id, n_gaps,
                   round(mu, 2) AS mean_gap_us,
                   round(sig, 2) AS std_gap_us,
                   CASE WHEN sig + mu > 0
                        THEN round((sig - mu) / (sig + mu), 6)
                   END AS burstiness
            FROM m2 ORDER BY user_id
        """,
        "ann_hard_negatives": _ann_hard_neg_sql(),
        "generalize_qi_report": _gen_qi_report_sql(),
        "generalize_quasi_identifiers": _gen_qi_table_sql(),
        "suppress_small_classes": f"""
            SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   c_mktsegment
            FROM customer
            QUALIFY count(*) OVER (
                PARTITION BY c_nationkey, c_mktsegment,
                             floor(c_acctbal
                                   / {float(masking.K_ANON_BAL_BAND)!r})
            ) >= {masking.K_ANON_K}
        """,
        "snm_candidate_pairs": f"""
            WITH spine AS (
                SELECT p_name,
                       CAST(count(*) AS BIGINT) AS n_parts
                FROM part GROUP BY 1
            ), ranked AS (
                SELECT p_name, n_parts,
                       row_number() OVER (ORDER BY p_name) AS rk
                FROM spine
            )
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev,
                   a.n_parts AS parts_a, b.n_parts AS parts_b
            FROM ranked a JOIN ranked b
              ON b.rk BETWEEN a.rk + 1 AND a.rk + {dedup.SNM_WINDOW}
            WHERE levenshtein(a.p_name, b.p_name)
                  BETWEEN 1 AND {dedup.SNM_MAX_DIST}
        """,
        "snm_entity_clusters": f"""
            WITH RECURSIVE spine AS (
                SELECT p_name,
                       CAST(count(*) AS BIGINT) AS n_parts
                FROM part GROUP BY 1
            ), ranked AS (
                SELECT p_name, n_parts,
                       row_number() OVER (ORDER BY p_name) AS rk
                FROM spine
            ), pairs AS (
                SELECT a.p_name AS na, b.p_name AS nb
                FROM ranked a JOIN ranked b
                  ON b.rk BETWEEN a.rk + 1 AND a.rk + {dedup.SNM_WINDOW}
                WHERE levenshtein(a.p_name, b.p_name)
                      BETWEEN 1 AND {dedup.SNM_MAX_DIST}
            ), edges AS (
                SELECT na AS s, nb AS t FROM pairs
                UNION
                SELECT nb, na FROM pairs
            ), reach(node, r) AS (
                SELECT s, s FROM edges
                UNION
                SELECT e.t, reach.r FROM reach
                JOIN edges e ON reach.node = e.s
            ), labeled AS (
                SELECT node, MIN(r) AS canon FROM reach GROUP BY node
            )
            SELECT canon AS canonical_name,
                   CAST(count(*) AS BIGINT) AS n_names,
                   CAST(SUM(sp.n_parts) AS BIGINT) AS n_parts
            FROM labeled JOIN spine sp ON labeled.node = sp.p_name
            GROUP BY 1
        """,
        "snm_survivor_map": f"""
            WITH RECURSIVE spine AS (
                SELECT p_name,
                       CAST(count(*) AS BIGINT) AS n_parts
                FROM part GROUP BY 1
            ), ranked AS (
                SELECT p_name, n_parts,
                       row_number() OVER (ORDER BY p_name) AS rk
                FROM spine
            ), pairs AS (
                SELECT a.p_name AS na, b.p_name AS nb
                FROM ranked a JOIN ranked b
                  ON b.rk BETWEEN a.rk + 1 AND a.rk + {dedup.SNM_WINDOW}
                WHERE levenshtein(a.p_name, b.p_name)
                      BETWEEN 1 AND {dedup.SNM_MAX_DIST}
            ), edges AS (
                SELECT na AS s, nb AS t FROM pairs
                UNION
                SELECT nb, na FROM pairs
            ), reach(node, r) AS (
                SELECT s, s FROM edges
                UNION
                SELECT e.t, reach.r FROM reach
                JOIN edges e ON reach.node = e.s
            ), labeled AS (
                SELECT node, MIN(r) AS canon FROM reach GROUP BY node
            ), widths AS (
                SELECT canon, CAST(count(*) AS BIGINT) AS n_names
                FROM labeled GROUP BY 1
            )
            SELECT l.node AS p_name, l.canon AS canonical_name,
                   sp.n_parts AS n_parts, w.n_names AS n_names
            FROM labeled l
            JOIN spine sp ON l.node = sp.p_name
            JOIN widths w ON l.canon = w.canon
            WHERE l.node <> l.canon
        """,
        "edit_distance_pairs": f"""
            WITH spine AS (SELECT DISTINCT p_name FROM part)
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev
            FROM spine a JOIN spine b
              ON a.p_name < b.p_name
             AND abs(length(a.p_name) - length(b.p_name))
                 <= {dedup.EDJOIN_MAX_DIST}
            WHERE levenshtein(a.p_name, b.p_name)
                  BETWEEN 1 AND {dedup.EDJOIN_MAX_DIST}
        """,
        "vocab_growth": f"""
            WITH ranked AS (
                SELECT list_filter(
                           regexp_split_to_array(lower(text),
                                                 '[^a-z0-9]+'),
                           x -> x <> '') AS toks,
                       row_number() OVER (ORDER BY doc_id) AS r,
                       count(*) OVER () AS n
                FROM documents
            ), bucketed AS (
                SELECT CAST((r - 1) * {textops.VOCAB_GROWTH_BUCKETS}
                            // n + 1 AS INT) AS bucket,
                       toks
                FROM ranked
            ), grams AS (
                SELECT bucket,
                       unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])) AS gram
                FROM bucketed
            ), firsts AS (
                SELECT gram, min(bucket) AS bucket FROM grams GROUP BY 1
            ), newt AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS new_types
                FROM firsts GROUP BY 1
            ), occ AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS bucket_grams
                FROM grams GROUP BY 1
            ), docs AS (
                SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs
                FROM bucketed GROUP BY 1
            ), grid AS (
                SELECT d.bucket, d.n_docs,
                       COALESCE(newt.new_types, 0) AS new_types,
                       COALESCE(occ.bucket_grams, 0) AS bucket_grams
                FROM docs d
                LEFT JOIN newt ON d.bucket = newt.bucket
                LEFT JOIN occ ON d.bucket = occ.bucket
            ), cum AS (
                SELECT bucket, n_docs, new_types,
                       CAST(SUM(new_types) OVER (ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                           AS cum_types,
                       bucket_grams,
                       CAST(SUM(bucket_grams) OVER (ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                           AS cum_grams
                FROM grid
            )
            SELECT bucket, n_docs, new_types, cum_types,
                   bucket_grams, cum_grams,
                   CASE WHEN cum_grams > 0 THEN
                       round(CAST(cum_types AS DOUBLE)
                             / CAST(cum_grams AS DOUBLE), 6)
                   END AS type_token_ratio
            FROM cum
        """,
        "zipf_fit": """
            WITH t AS (
                SELECT list_filter(
                           regexp_split_to_array(lower(text),
                                                 '[^a-z0-9]+'),
                           x -> x <> '') AS toks
                FROM documents
            ), grams AS (
                SELECT unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])) AS gram
                FROM t
            ), freq AS (
                SELECT gram, CAST(count(*) AS BIGINT) AS cnt
                FROM grams GROUP BY 1
            ), ranked AS (
                SELECT cnt,
                       row_number() OVER (ORDER BY cnt DESC, gram ASC)
                           AS _rk
                FROM freq
            ), m AS (
                SELECT CAST(count(*) AS BIGINT) AS n_types,
                       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                       SUM(CAST(round(ln(CAST(_rk AS DOUBLE)), 9)
                                AS DECIMAL(12,9))) AS _sx,
                       SUM(CAST(round(ln(CAST(cnt AS DOUBLE)), 9)
                                AS DECIMAL(12,9))) AS _sy,
                       SUM(CAST(round(ln(CAST(_rk AS DOUBLE)), 9)
                                AS DECIMAL(12,9))
                           * CAST(round(ln(CAST(cnt AS DOUBLE)), 9)
                                  AS DECIMAL(12,9))) AS _sxy,
                       SUM(CAST(round(ln(CAST(_rk AS DOUBLE)), 9)
                                AS DECIMAL(12,9))
                           * CAST(round(ln(CAST(_rk AS DOUBLE)), 9)
                                  AS DECIMAL(12,9))) AS _sxx,
                       SUM(CAST(round(ln(CAST(cnt AS DOUBLE)), 9)
                                AS DECIMAL(12,9))
                           * CAST(round(ln(CAST(cnt AS DOUBLE)), 9)
                                  AS DECIMAL(12,9))) AS _syy
                FROM ranked
            )
            SELECT n_types, n_tokens,
                   round(CASE WHEN (CAST(n_types AS DOUBLE)
                                    * CAST(_sxx AS DOUBLE)
                                    - CAST(_sx AS DOUBLE)
                                    * CAST(_sx AS DOUBLE)) > 0 THEN
                       (CAST(n_types AS DOUBLE) * CAST(_sxy AS DOUBLE)
                        - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
                       / (CAST(n_types AS DOUBLE) * CAST(_sxx AS DOUBLE)
                          - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE))
                       END, 6) AS slope,
                   round(CASE WHEN (CAST(n_types AS DOUBLE)
                                    * CAST(_sxx AS DOUBLE)
                                    - CAST(_sx AS DOUBLE)
                                    * CAST(_sx AS DOUBLE)) > 0 THEN
                       (CAST(_sy AS DOUBLE)
                        - ((CAST(n_types AS DOUBLE)
                            * CAST(_sxy AS DOUBLE)
                            - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
                           / (CAST(n_types AS DOUBLE)
                              * CAST(_sxx AS DOUBLE)
                              - CAST(_sx AS DOUBLE)
                              * CAST(_sx AS DOUBLE)))
                          * CAST(_sx AS DOUBLE))
                       / CAST(n_types AS DOUBLE)
                       END, 6) AS intercept,
                   round(CASE WHEN (CAST(n_types AS DOUBLE)
                                    * CAST(_sxx AS DOUBLE)
                                    - CAST(_sx AS DOUBLE)
                                    * CAST(_sx AS DOUBLE)) > 0
                              AND (CAST(n_types AS DOUBLE)
                                   * CAST(_syy AS DOUBLE)
                                   - CAST(_sy AS DOUBLE)
                                   * CAST(_sy AS DOUBLE)) > 0 THEN
                       ((CAST(n_types AS DOUBLE) * CAST(_sxy AS DOUBLE)
                         - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
                        * (CAST(n_types AS DOUBLE)
                           * CAST(_sxy AS DOUBLE)
                           - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE)))
                       / ((CAST(n_types AS DOUBLE)
                           * CAST(_sxx AS DOUBLE)
                           - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE))
                          * (CAST(n_types AS DOUBLE)
                             * CAST(_syy AS DOUBLE)
                             - CAST(_sy AS DOUBLE)
                             * CAST(_sy AS DOUBLE)))
                       END, 6) AS r2
            FROM m
        """,
        "supplier_hhi": """
            WITH per_sup AS (
                SELECT l_suppkey,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                * (1 - CAST(l_discount AS DECIMAL(18,2))))
                            AS DECIMAL(18,4)) AS rev
                FROM lineitem GROUP BY l_suppkey
            ), j AS (
                SELECT n_name, rev
                FROM per_sup
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
            )
            SELECT n_name,
                   CAST(count(*) AS BIGINT) AS n_suppliers,
                   CAST(SUM(rev) AS DOUBLE) AS total_revenue,
                   round(CAST(SUM(CAST(rev AS DECIMAL(19,4))
                                  * CAST(rev AS DECIMAL(19,4)))
                              AS DOUBLE)
                         / (CAST(SUM(rev) AS DOUBLE)
                            * CAST(SUM(rev) AS DOUBLE)), 6) AS hhi
            FROM j GROUP BY n_name
        """,
        "span_corruption_plan": f"""
            WITH base AS (
                SELECT doc_id,
                       CAST(length(text) - length(replace(text, ' ', ''))
                            + 1 AS BIGINT) AS n
                FROM documents
            ), planned AS (
                SELECT doc_id, n,
                       (n * {chunking.SPAN_NOISE_PCT} // 100)
                           // {chunking.SPAN_LEN} AS n_spans
                FROM base
            ), spans AS (
                SELECT doc_id, n, n // n_spans AS stride, u.k
                FROM planned,
                     unnest(range(CAST(n_spans AS BIGINT))) AS u(k)
                WHERE n_spans > 0
            )
            SELECT doc_id,
                   CAST(k AS BIGINT) AS mask_id,
                   CAST(k * stride
                        + ({hex48_sql(
                            "CAST(doc_id AS VARCHAR) || ':' "
                            "|| CAST(k AS VARCHAR)"
                        )})
                          % greatest(stride - {chunking.SPAN_LEN} + 1, 1)
                        AS BIGINT) AS start_token,
                   CAST({chunking.SPAN_LEN} AS BIGINT) AS span_len,
                   n AS n_doc_tokens
            FROM spans
        """,
        "customer_order_gaps": """
            WITH gaps AS (
                SELECT o_custkey,
                       CAST(date_diff('day',
                           lag(o_orderdate) OVER (
                               PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey),
                           o_orderdate) AS BIGINT) AS gap_days
                FROM orders
            )
            SELECT o_custkey,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   min(gap_days) AS min_gap_days,
                   max(gap_days) AS max_gap_days,
                   round(CAST(sum(gap_days) AS DOUBLE)
                         / CAST(count(gap_days) AS DOUBLE), 4)
                       AS avg_gap_days
            FROM gaps GROUP BY o_custkey
            HAVING min(gap_days) IS NOT NULL
        """,
        "doclen_histogram": f"""
            WITH base AS (
                SELECT source,
                       CAST(length(text) - length(replace(text, ' ', ''))
                            + 1 AS BIGINT) AS nt
                FROM documents
            ), rolled AS (
                SELECT source,
                       CAST((nt // {textops.DOCLEN_BUCKET_WIDTH})
                            * {textops.DOCLEN_BUCKET_WIDTH} AS BIGINT)
                           AS bucket_lo,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(nt) AS BIGINT) AS total_tokens
                FROM base GROUP BY 1, 2
            )
            SELECT source, bucket_lo, n_docs, total_tokens,
                   round(CAST(n_docs AS DOUBLE)
                         / CAST(sum(n_docs) OVER (PARTITION BY source)
                                AS DOUBLE), 6) AS doc_frac
            FROM rolled
        """,
        "cross_source_overlap": """
            WITH sf AS (
                SELECT DISTINCT source,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                           'g'))) AS fp
                FROM documents
            ), per_src AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_distinct
                FROM sf GROUP BY source
            ), pairs AS (
                SELECT a.source AS source_a, b.source AS source_b,
                       CAST(count(*) AS BIGINT) AS n_common
                FROM sf a JOIN sf b
                  ON a.fp = b.fp AND a.source < b.source
                GROUP BY 1, 2
            ), grid AS (
                SELECT a.source AS source_a, b.source AS source_b
                FROM per_src a, per_src b WHERE a.source < b.source
            )
            SELECT g.source_a, g.source_b,
                   na.n_distinct AS n_a, nb.n_distinct AS n_b,
                   CAST(coalesce(p.n_common, 0) AS BIGINT) AS n_common,
                   round(CAST(coalesce(p.n_common, 0) AS DOUBLE)
                         / CAST(na.n_distinct + nb.n_distinct
                                - coalesce(p.n_common, 0) AS DOUBLE),
                         6) AS jaccard
            FROM grid g
            LEFT JOIN pairs p ON p.source_a = g.source_a
                             AND p.source_b = g.source_b
            JOIN per_src na ON na.source = g.source_a
            JOIN per_src nb ON nb.source = g.source_b
        """,
        "shipping_delay_profile": """
            WITH lags AS (
                SELECT o_orderpriority, l_orderkey, l_linenumber,
                       CAST(date_diff('day', o_orderdate, l_shipdate)
                            AS BIGINT) AS lag_days
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), ranked AS (
                SELECT o_orderpriority, lag_days,
                       row_number() OVER (PARTITION BY o_orderpriority
                           ORDER BY lag_days, l_orderkey, l_linenumber)
                           AS rn,
                       count(*) OVER (PARTITION BY o_orderpriority) AS n
                FROM lags
            ), picks AS (
                SELECT o_orderpriority,
                       max(n) AS n_lineitems,
                       min(CASE WHEN rn = (n + 1) // 2
                                THEN lag_days END) AS median_lag_days,
                       max(CASE WHEN rn = (9 * n + 9) // 10
                                THEN lag_days END) AS p90_lag_days
                FROM ranked
                WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
                GROUP BY o_orderpriority
            )
            SELECT p.o_orderpriority, p.n_lineitems, p.median_lag_days,
                   p.p90_lag_days, mx.max_lag_days
            FROM picks p JOIN (
                SELECT o_orderpriority, max(lag_days) AS max_lag_days
                FROM lags GROUP BY o_orderpriority
            ) mx USING (o_orderpriority)
        """,
        "revenue_concentration": """
            WITH per_cust AS (
                SELECT o_custkey,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                FROM orders GROUP BY o_custkey
            ), j AS (
                SELECT n_name, rev, o_custkey
                FROM per_cust
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
            ), ranked AS (
                SELECT n_name, rev,
                       row_number() OVER (PARTITION BY n_name
                           ORDER BY rev DESC, o_custkey ASC) AS rk,
                       count(*) OVER (PARTITION BY n_name) AS n_cust
                FROM j
            ), dec AS (
                SELECT n_name,
                       CAST(((rk - 1) * 10) // n_cust AS INT) + 1 AS decile,
                       CAST(count(*) AS BIGINT) AS n_customers,
                       SUM(rev) AS dec_rev
                FROM ranked GROUP BY 1, 2
            )
            SELECT n_name, decile, n_customers,
                   CAST(dec_rev AS DOUBLE) AS decile_revenue,
                   round(CAST(dec_rev AS DOUBLE)
                         / CAST(SUM(dec_rev) OVER (PARTITION BY n_name)
                                AS DOUBLE), 6) AS revenue_share,
                   round(CAST(SUM(dec_rev) OVER (PARTITION BY n_name
                              ORDER BY decile
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS DOUBLE)
                         / CAST(SUM(dec_rev) OVER (PARTITION BY n_name)
                                AS DOUBLE), 6) AS cum_share
            FROM dec
        """,
        "revenue_by_region": f"""
            SELECT r_name, count(*) AS n_orders,
                   {exact_sum('o_totalprice')} AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "top_orders_per_customer": f"""
            SELECT o_custkey, o_orderkey, o_totalprice, rank_in_customer
            FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey ASC)
                           AS rank_in_customer
                FROM orders
            )
            WHERE rank_in_customer <= {relational.TOP_ORDERS_PER_CUSTOMER}
        """,
        "user_setops": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        """,
        "rollup_orders": f"""
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   {exact_sum('o_totalprice')} AS revenue
            FROM orders
            GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """,
        "cube_orders": f"""
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   {exact_sum('o_totalprice')} AS revenue
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """,
        "pivot_user_events": f"""
            SELECT user_id,
                   {', '.join(
                       f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT)"
                       f" AS {t}"
                       for t in relational.EVENT_TYPES
                   )}
            FROM events GROUP BY user_id
        """,
        "distinct_users_salted": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_distinct_users
            FROM events GROUP BY event_type
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50_value,
                   round(quantile_cont(value, 0.95), 4) AS p95_value,
                   count(*) AS n_samples
            FROM events GROUP BY event_type
        """,
        "windowed_agg": f"""
            SELECT time_bucket(INTERVAL '{relational.WINDOWED_AGG_HOURS} hours', ts)
                       AS window_start,
                   count(*) AS n_events,
                   round(avg(value), 4) AS avg_value
            FROM events
            GROUP BY 1
        """,
        # the oracle for the salted join is the PLAIN join: salting must
        # be observationally identical
        "salted_join_revenue": """
            SELECT c.c_mktsegment,
                   count(*) AS n_orders,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
        # exact-moment statistics: the formulas are the SAME strings the
        # Spark operator compiles (relational.STATS_*_SQL) — decimal
        # moments in, identical IEEE double ops out
        "stats_by_type": f"""
            WITH q AS (
                SELECT event_type,
                       CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS yq,
                       date_diff('second', date_trunc('day', ts), ts) AS xs
                FROM events
                WHERE value IS NOT NULL AND ts IS NOT NULL
            ),
            m AS (
                SELECT event_type,
                       count(*) AS n,
                       SUM(CAST(xs AS DECIMAL(38,0))) AS sx,
                       SUM(CAST(yq AS DECIMAL(38,0))) AS sy,
                       SUM(CAST(xs AS DECIMAL(19,0)) * CAST(yq AS DECIMAL(19,0))) AS sxy,
                       SUM(CAST(xs AS DECIMAL(19,0)) * CAST(xs AS DECIMAL(19,0))) AS sxx,
                       SUM(CAST(yq AS DECIMAL(19,0)) * CAST(yq AS DECIMAL(19,0))) AS syy
                FROM q GROUP BY event_type
            )
            SELECT event_type, n,
                   {relational.STATS_SD_SQL} AS sd_value,
                   {relational.STATS_CORR_SQL} AS corr_value_time,
                   {relational.STATS_SLOPE_SQL} AS trend_slope,
                   {relational.STATS_INTERCEPT_SQL} AS trend_intercept
            FROM m
        """,
        # the oracle for incremental maintenance is the ONE-SHOT rollup:
        # history + delta fold must be exactly it
        "incr_rollup": """
            SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
                   event_type,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "vocab_coverage": f"""
            WITH tok AS (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
                FROM documents
            ),
            tf AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
            total AS (SELECT SUM(tf) AS total FROM tf),
            top AS (
                SELECT token, tf,
                       row_number() OVER (ORDER BY tf DESC, token ASC) AS rank
                FROM tf
                ORDER BY tf DESC, token ASC
                LIMIT {textops.VOCAB_TOP_N}
            )
            SELECT rank, token, tf,
                   round(SUM(tf) OVER (ORDER BY rank) / total.total, 6)
                       AS coverage
            FROM top, total
        """,
        "heavy_hitters": f"""
            WITH tok AS (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
                FROM documents
            ),
            tf AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
            total AS (SELECT SUM(tf) AS total FROM tf)
            SELECT token, tf, round(tf / CAST(total AS DOUBLE), 6) AS freq
            FROM tf, total
            WHERE tf > total / {float(textops.HH_K)}
        """,
        "bm25_search": _bm25_sql(),
        "hybrid_search_rrf": _hybrid_rrf_sql(),
        "token_counts": f"""
            SELECT doc_id,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
                       AS n_ws_tokens,
                   CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                       AS BIGINT) AS n_distinct_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_measured,
                   CAST(len(regexp_extract_all(text, '{textops.BPE_UNIT_RE}'))
                       AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "clean_lines": f"""
            WITH injected AS (
                SELECT doc_id,
                       substr(text, 1, 40) || '.' || chr(10) ||
                       'tiny' || chr(10) ||
                       'please enable javascript to continue.' || chr(10) ||
                       'config = {{ debug: false }}' || chr(10) ||
                       substr(text, 41, 60) AS text
                FROM documents
            ),
            split_lines AS (
                SELECT doc_id, string_split(text, chr(10)) AS ls FROM injected
            ),
            kept AS (
                SELECT doc_id, ls,
                       list_filter(ls, l ->
                           length(trim(l)) > 0
                           AND right(trim(l), 1) IN
                               ({", ".join(f"'{t}'" for t in textops.C4_TERMINALS)})
                           AND length(trim(l))
                               - length(replace(trim(l), ' ', '')) + 1
                               >= {textops.C4_MIN_LINE_WORDS}
                           AND {" AND ".join(
                               f"NOT contains(lower(l), '{m}')"
                               for m in textops.C4_BAD_MARKERS)}
                       ) AS kl
                FROM split_lines
            )
            SELECT doc_id,
                   array_to_string(kl, chr(10)) AS clean_text,
                   CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(len(kl) AS BIGINT) AS n_kept_lines
            FROM kept
        """,
        "gopher_quality": f"""
            WITH injected AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN '• bullet item' || chr(10) ELSE '' END
                       || text
                       || CASE WHEN doc_id % 2 = 0
                               THEN ' that have with' ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN ' ### ##' ELSE '' END
                       || CASE WHEN doc_id % 5 = 1
                               THEN chr(10) || 'wait for it...' ELSE '' END
                           AS text
                FROM documents
            ),
            feats AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS ws,
                       string_split(text, chr(10)) AS ls,
                       length(text) - length(replace(text, '#', ''))
                           AS n_hash,
                       len(string_split(text, '...')) - 1 AS n_ell
                FROM injected
            ),
            m AS (
                SELECT doc_id,
                       len(ws) AS n_words,
                       list_sum(list_transform(ws, w -> length(w)))
                           / len(ws) AS mean_word_len,
                       (n_hash + n_ell) / len(ws) AS symbol_ratio,
                       len(list_filter(ls, l ->
                           regexp_matches(trim(l), '^[•*-]')))
                           / len(ls) AS bullet_frac,
                       len(list_filter(ls, l ->
                           regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
                           / len(ls) AS ellipsis_frac,
                       len(list_filter(ws, w ->
                           regexp_matches(w, '[A-Za-z]')))
                           / len(ws) AS alpha_frac,
                       len(list_filter(
                           [{", ".join(f"'{s}'" for s in textops.GOPHER_STOPWORDS)}],
                           s -> list_contains(
                               list_transform(ws, w -> regexp_replace(
                                   lower(w), '[^a-z0-9]', '', 'g')),
                               s))) AS n_stop
                FROM feats
            )
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   round(mean_word_len, 4) AS mean_word_len,
                   round(symbol_ratio, 4) AS symbol_word_ratio,
                   round(bullet_frac, 4) AS bullet_line_frac,
                   round(ellipsis_frac, 4) AS ellipsis_line_frac,
                   round(alpha_frac, 4) AS alpha_word_frac,
                   CAST(n_stop AS BIGINT) AS n_stopwords_present,
                   (n_words >= {textops.GOPHER_MIN_WORDS}
                    AND n_words <= {textops.GOPHER_MAX_WORDS}
                    AND mean_word_len >= {textops.GOPHER_MIN_MEAN_WORD_LEN}
                    AND mean_word_len <= {textops.GOPHER_MAX_MEAN_WORD_LEN}
                    AND symbol_ratio <= {textops.GOPHER_MAX_SYMBOL_WORD_RATIO}
                    AND bullet_frac <= {textops.GOPHER_MAX_BULLET_LINE_FRAC}
                    AND ellipsis_frac <= {textops.GOPHER_MAX_ELLIPSIS_LINE_FRAC}
                    AND alpha_frac >= {textops.GOPHER_MIN_ALPHA_WORD_FRAC}
                    AND n_stop >= {textops.GOPHER_MIN_STOPWORDS}) AS passes
            FROM m
        """,
        "gopher_repetition": """
            WITH injected AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 4 = 1
                               THEN ' spark loves big fast data'
                                    || ' spark loves big fast data'
                               ELSE '' END
                       || CASE WHEN doc_id % 3 = 0
                               THEN chr(10) || substr(text, 1, 30)
                                    || chr(10) || substr(text, 1, 30)
                               ELSE '' END AS text
                FROM documents
            ),
            base AS (
                SELECT doc_id, string_split(text, chr(10)) AS lines,
                       regexp_split_to_array(trim(text), '\\s+') AS ws
                FROM injected
            ),
            lc AS (
                SELECT doc_id, g, count(*) AS c
                FROM (SELECT doc_id, unnest(lines) AS g FROM base) u
                GROUP BY doc_id, g
            ),
            line_m AS (
                SELECT doc_id,
                       sum(c) FILTER (WHERE c >= 2) AS dup_lines,
                       sum(c * length(g)) FILTER (WHERE c >= 2)
                           AS dup_line_chars
                FROM lc GROUP BY doc_id
            ),
            g2 AS (
                SELECT doc_id, max(c * length(g)) AS top2_chars FROM (
                    SELECT doc_id, g, count(*) AS c FROM (
                        SELECT doc_id,
                               array_to_string(ws[i:i+1], ' ') AS g
                        FROM base, unnest(range(1, len(ws))) AS t(i)
                        WHERE len(ws) >= 2
                    ) gg GROUP BY doc_id, g
                ) gc GROUP BY doc_id
            ),
            g3 AS (
                SELECT doc_id, max(c * length(g)) AS top3_chars FROM (
                    SELECT doc_id, g, count(*) AS c FROM (
                        SELECT doc_id,
                               array_to_string(ws[i:i+2], ' ') AS g
                        FROM base, unnest(range(1, len(ws) - 1)) AS t(i)
                        WHERE len(ws) >= 3
                    ) gg GROUP BY doc_id, g
                ) gc GROUP BY doc_id
            ),
            g5 AS (
                SELECT doc_id, g, count(*) AS c, list(i) AS starts FROM (
                    SELECT doc_id, i,
                           array_to_string(ws[i:i+4], ' ') AS g
                    FROM base, unnest(range(1, len(ws) - 3)) AS t(i)
                    WHERE len(ws) >= 5
                ) gg GROUP BY doc_id, g
            ),
            dup5cov AS (
                SELECT DISTINCT doc_id, p FROM (
                    SELECT doc_id, unnest(starts) AS s
                    FROM g5 WHERE c >= 2
                ) ds, unnest(generate_series(s, s + 4)) AS q(p)
            ),
            dup5 AS (
                SELECT d.doc_id, sum(length(b.ws[d.p])) AS dup5_chars
                FROM dup5cov d JOIN base b USING (doc_id)
                GROUP BY d.doc_id
            ),
            den AS (
                SELECT doc_id, len(lines) AS n_lines,
                       coalesce(list_sum(
                           list_transform(lines, l -> length(l))), 0)
                           AS line_chars,
                       coalesce(list_sum(
                           list_transform(ws, w -> length(w))), 0)
                           AS char_sum,
                       len(ws) AS n_words
                FROM base
            )
            SELECT den.doc_id,
                   round(CASE WHEN n_lines > 0 THEN least(1.0,
                       coalesce(dup_lines, 0) / n_lines)
                       ELSE 0.0 END, 4) AS dup_line_frac,
                   round(CASE WHEN line_chars > 0 THEN least(1.0,
                       coalesce(dup_line_chars, 0) / line_chars)
                       ELSE 0.0 END, 4) AS dup_line_char_frac,
                   round(CASE WHEN char_sum + n_words - 1 > 0
                       THEN least(1.0, coalesce(top2_chars, 0)
                                       / (char_sum + n_words - 1))
                       ELSE 0.0 END, 4) AS top_2gram_char_frac,
                   round(CASE WHEN char_sum + n_words - 1 > 0
                       THEN least(1.0, coalesce(top3_chars, 0)
                                       / (char_sum + n_words - 1))
                       ELSE 0.0 END, 4) AS top_3gram_char_frac,
                   round(CASE WHEN char_sum > 0 THEN least(1.0,
                       coalesce(dup5_chars, 0) / char_sum)
                       ELSE 0.0 END, 4) AS dup_5gram_char_frac
            FROM den
            LEFT JOIN line_m USING (doc_id)
            LEFT JOIN g2 USING (doc_id)
            LEFT JOIN g3 USING (doc_id)
            LEFT JOIN dup5 USING (doc_id)
        """,
        "blocklist_filter": f"""
            WITH injected AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' hot Gambling offer' ELSE '' END
                       || CASE WHEN doc_id % 4 = 1
                               THEN ' via bit.ly/deal today' ELSE '' END
                       || CASE WHEN doc_id % 5 = 2
                               THEN ' gamblingly speaking' ELSE '' END
                           AS text
                FROM documents
            ),
            flags AS (
                SELECT doc_id,
                       regexp_matches(lower(text),
                           '\\b({"|".join(textops.C4_BLOCK_WORDS)})\\b')
                           AS has_block_word,
                       regexp_matches(lower(text),
                           '{textops.C4_BLOCK_URL_RE}') AS has_block_url
                FROM injected
            )
            SELECT doc_id, has_block_word, has_block_url,
                   (has_block_word OR has_block_url) AS blocked
            FROM flags
        """,
        "bigram_logprob": """
            WITH t AS (
                SELECT doc_id,
                       string_split(
                           trim(regexp_replace(lower(text), '\\s+', ' ',
                                               'g')), ' ') AS ws
                FROM documents
            ),
            bg AS (
                SELECT doc_id, ws[u.i] AS w1, ws[u.i + 1] AS w2
                FROM t, unnest(generate_series(1, len(ws) - 1)) AS u(i)
                WHERE len(ws) >= 2
            ),
            cnt AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
            ctx AS (
                SELECT w1, CAST(SUM(c) AS DOUBLE) AS cc FROM cnt GROUP BY w1
            )
            SELECT bg.doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(ln(cnt.c / ctx.cc)), 4) AS logprob,
                   round(exp(-avg(ln(cnt.c / ctx.cc))), 4) AS ppl
            FROM bg
            JOIN cnt USING (w1, w2)
            JOIN ctx USING (w1)
            GROUP BY bg.doc_id
        """,
        "unigram_logprob": _unigram_sql(),
        "perplexity_buckets": f"""
            WITH lm AS ({_unigram_sql()}),
            scored AS (
                SELECT lm.doc_id, d.lang, lm.ppl
                FROM lm JOIN documents d ON d.doc_id = lm.doc_id
            ),
            hist AS (
                SELECT lang, ppl, count(*) AS c
                FROM scored GROUP BY lang, ppl
            ),
            cum AS (
                SELECT lang, ppl,
                       SUM(c) OVER (PARTITION BY lang ORDER BY ppl
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum,
                       SUM(c) OVER (PARTITION BY lang) AS n
                FROM hist
            ),
            thr AS (
                -- DISCRETE quantiles off the distinct-ppl histogram:
                -- actual data values, no interpolation formula to
                -- disagree with Spark on (see perplexity_buckets doc)
                SELECT lang,
                       min(CASE WHEN cum >= ceil({textops.PPL_BUCKET_LO} * n)
                                THEN ppl END) AS t_lo,
                       min(CASE WHEN cum >= ceil({textops.PPL_BUCKET_HI} * n)
                                THEN ppl END) AS t_hi
                FROM cum GROUP BY lang
            )
            SELECT s.doc_id, s.lang, s.ppl,
                   CASE WHEN s.ppl <= t.t_lo THEN 'head'
                        WHEN s.ppl <= t.t_hi THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored s JOIN thr t ON s.lang = t.lang
        """,
        "text_quality": _text_quality_sql(),
        "dedup_keep_best": f"""
            WITH cl AS (SELECT * FROM ({_clusters_sql()})),
            tq AS (SELECT doc_id, quality_score
                   FROM ({_text_quality_sql()})),
            r AS (
                SELECT cl.cluster_id, cl.doc_id, tq.quality_score,
                       cl.cluster_size,
                       row_number() OVER (
                           PARTITION BY cl.cluster_id
                           ORDER BY tq.quality_score DESC, cl.doc_id ASC
                       ) AS rn
                FROM cl JOIN tq ON cl.doc_id = tq.doc_id
            )
            SELECT cluster_id, doc_id AS survivor_id, quality_score,
                   cluster_size
            FROM r WHERE rn = 1
        """,
        "lang_profile": _lang_profile_sql(),
        "lang_mix_by_source": f"""
            WITH per AS (
                SELECT source, lang AS labeled_lang,
                       {_lang_case_sql()} AS pred_lang
                FROM documents
            ), rolled AS (
                SELECT source, pred_lang,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(SUM(CASE WHEN pred_lang = labeled_lang
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS agree
                FROM per GROUP BY source, pred_lang
            )
            SELECT source, pred_lang, n_docs,
                   round(CAST(n_docs AS DOUBLE)
                         / CAST(SUM(n_docs) OVER (PARTITION BY source)
                                AS DOUBLE), 6) AS share_of_source,
                   round(CAST(agree AS DOUBLE)
                         / CAST(n_docs AS DOUBLE), 6)
                       AS label_agree_frac
            FROM rolled
        """,
        "curate_corpus": _curate_sql(),
        "curation_funnel": _funnel_sql(),
        "fix_encoding_report": _fix_encoding_sql(),
        "sentence_stats": f"""
            WITH per AS (
                SELECT source,
                       CAST(len(regexp_extract_all(text,
                            '{textops.SENTENCE_TERM_RE}')) AS BIGINT)
                           AS ns,
                       CAST(length(text)
                            - length(replace(text, ' ', '')) + 1
                            AS BIGINT) AS nw,
                       CASE WHEN regexp_matches(text,
                            '{textops.TERMINAL_END_RE}')
                            THEN 1 ELSE 0 END AS term
                FROM documents
            ), rolled AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(SUM(ns) AS BIGINT) AS n_sentences,
                       CAST(SUM(nw) AS BIGINT) AS words,
                       CAST(SUM(CASE WHEN ns >= {textops.C4_MIN_SENTENCES}
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_min3,
                       CAST(SUM(term) AS BIGINT) AS n_term
                FROM per GROUP BY source
            )
            SELECT source, n_docs, n_sentences,
                   round(CAST(n_sentences AS DOUBLE)
                         / CAST(n_docs AS DOUBLE), 6)
                       AS avg_sentences_per_doc,
                   CASE WHEN n_sentences > 0
                        THEN round(CAST(words AS DOUBLE)
                                   / CAST(n_sentences AS DOUBLE), 6)
                        END AS avg_words_per_sentence,
                   round(CAST(n_min3 AS DOUBLE)
                         / CAST(n_docs AS DOUBLE), 6) AS min3_frac,
                   round(CAST(n_term AS DOUBLE)
                         / CAST(n_docs AS DOUBLE), 6) AS terminal_frac
            FROM rolled
        """,
        "char_class_profile": f"""
            WITH per AS (
                SELECT source,
                       CAST(length(text) AS BIGINT) AS nc,
                       CAST(length(text) - length(regexp_replace(
                            text, '[A-Za-z]', '', 'g')) AS BIGINT)
                           AS na,
                       CAST(length(text) - length(regexp_replace(
                            text, '[0-9]', '', 'g')) AS BIGINT) AS nd,
                       CAST(length(text) - length(regexp_replace(
                            text, '{textops.CHAR_CLASS_WS_RE}', '',
                            'g')) AS BIGINT) AS nw
                FROM documents
            ), rolled AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(SUM(nc) AS BIGINT) AS n_chars,
                       CAST(SUM(na) AS BIGINT) AS alpha,
                       CAST(SUM(nd) AS BIGINT) AS digit,
                       CAST(SUM(nw) AS BIGINT) AS space
                FROM per GROUP BY source
            )
            SELECT source, n_docs, n_chars,
                   round(CAST(alpha AS DOUBLE)
                         / CAST(n_chars AS DOUBLE), 6) AS alpha_frac,
                   round(CAST(digit AS DOUBLE)
                         / CAST(n_chars AS DOUBLE), 6) AS digit_frac,
                   round(CAST(space AS DOUBLE)
                         / CAST(n_chars AS DOUBLE), 6) AS space_frac,
                   round(CAST(n_chars - alpha - digit - space AS DOUBLE)
                         / CAST(n_chars AS DOUBLE), 6) AS other_frac
            FROM rolled
        """,
        # Flesch scores micro-averaged on exact integer counts; the
        # two ratios are single IEEE divisions and the affine score
        # forms evaluate in the same literal order as the Spark side,
        # so the doubles are bit-identical before the round-6.
        "readability_profile": f"""
            WITH per AS (
                SELECT source,
                       CAST(length(text)
                            - length(replace(text, ' ', '')) + 1
                            AS BIGINT) AS w,
                       CAST(len(regexp_extract_all(text,
                            '{textops.SENTENCE_TERM_RE}')) AS BIGINT)
                           AS s,
                       CAST(len(regexp_extract_all(lower(text),
                            '{textops.SYLLABLE_RE}')) AS BIGINT) AS y
                FROM documents
            ), rolled AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(SUM(w) AS BIGINT) AS words,
                       CAST(SUM(s) AS BIGINT) AS sentences,
                       CAST(SUM(y) AS BIGINT) AS syllables
                FROM per GROUP BY source
            )
            SELECT source, n_docs, words, sentences, syllables,
                   CASE WHEN sentences > 0 THEN
                        round(CAST(words AS DOUBLE)
                              / CAST(sentences AS DOUBLE), 6)
                   END AS words_per_sentence,
                   CASE WHEN words > 0 THEN
                        round(CAST(syllables AS DOUBLE)
                              / CAST(words AS DOUBLE), 6)
                   END AS syllables_per_word,
                   CASE WHEN sentences > 0 AND words > 0 THEN
                        round(206.835
                              - 1.015 * (CAST(words AS DOUBLE)
                                         / CAST(sentences AS DOUBLE))
                              - 84.6 * (CAST(syllables AS DOUBLE)
                                        / CAST(words AS DOUBLE)), 6)
                   END AS flesch_reading_ease,
                   CASE WHEN sentences > 0 AND words > 0 THEN
                        round(0.39 * (CAST(words AS DOUBLE)
                                      / CAST(sentences AS DOUBLE))
                              + 11.8 * (CAST(syllables AS DOUBLE)
                                        / CAST(words AS DOUBLE))
                              - 15.59, 6)
                   END AS fk_grade
            FROM rolled
        """,
        "token_budget_plan": _token_budget_sql(),
        "zorder_layout": _zorder_sql(),
        "corr_matrix": _corr_sql(),
        "corpus_shuffle": f"""
            WITH staged AS (
                SELECT doc_id, source,
                       {hex48_sql("CONCAT('" + sampling.SHUFFLE_SALT
                                  + ":', CAST(doc_id AS STRING))")} AS hkey
                FROM documents
            )
            SELECT doc_id, source,
                   CAST(hkey % {sampling.SHUFFLE_SHARDS} AS INT) AS shard,
                   CAST(row_number() OVER (
                            PARTITION BY hkey % {sampling.SHUFFLE_SHARDS}
                            ORDER BY hkey ASC, doc_id ASC) AS BIGINT) AS pos
            FROM staged
        """,
        "bpe_pack_docs": _bpe_pack_sql(),
        "tokenizer_swap_report": _tokenizer_swap_sql(),
        "boilerplate_paragraphs": _boilerplate_sql(),
        "embedding_norm_outliers": _norm_outliers_sql(),
        "shard_size_plan": f"""
            WITH per AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(SUM(n_chars) AS BIGINT) AS n_bytes
                FROM documents GROUP BY source
            ),
            f AS (
                SELECT source, n_docs, n_bytes,
                       CAST(greatest(1, (n_bytes
                            + {sampling.SHARD_TARGET_BYTES - 1})
                            // {sampling.SHARD_TARGET_BYTES}) AS BIGINT)
                           AS n_files
                FROM per
            )
            SELECT source, n_docs, n_bytes, n_files,
                   CAST((n_docs + n_files - 1) // n_files AS BIGINT)
                       AS docs_per_file,
                   round(CAST(n_bytes AS DOUBLE) / n_files, 2)
                       AS avg_file_bytes
            FROM f ORDER BY source
        """,
        "dedup_threshold_sweep": _threshold_sweep_sql(),
        "packing_efficiency": _packing_efficiency_sql(),
        "ngram_diversity": _ngram_diversity_sql(),
        "quality_deciles": _quality_deciles_sql(),
        "pipeline_end_to_end": _pipeline_sql(),
        "scrub_pii": _scrub_pii_sql(),
        "repetition_stats": """
            WITH tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(trim(text), '\\s+'))
                               AS term
                    FROM documents
                )
                GROUP BY doc_id, term
            )
            SELECT doc_id,
                   CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   COUNT(*) AS n_distinct,
                   round(1.0 - COUNT(*) / SUM(tf), 4) AS dup_token_ratio,
                   round(MAX(tf) / SUM(tf), 4) AS top_token_ratio
            FROM tf GROUP BY doc_id
        """,
        "reservoir_sample": f"""
            WITH ranked AS (
                SELECT doc_id, lang AS stratum,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY ({hex48_sql("CAST(doc_id AS VARCHAR)")})
                                    % {sampling.SAMPLE_DENOM},
                                    doc_id) AS sample_rank
                FROM documents
            )
            SELECT doc_id, stratum, CAST(sample_rank AS BIGINT) AS sample_rank
            FROM ranked
            WHERE sample_rank <= {sampling.RESERVOIR_PER_STRATUM}
        """,
        "hash_sample": f"""
            SELECT doc_id, lang
            FROM documents
            WHERE ({hex48_sql("CAST(doc_id AS VARCHAR)")})
                  % {sampling.SAMPLE_DENOM}
                  < {int(0.1 * sampling.SAMPLE_DENOM)}
        """,
        "weighted_sample_topk": f"""
            WITH b AS (
                SELECT doc_id,
                       CAST(length(text) AS BIGINT) AS weight,
                       ln((({hex48_sql("CAST(doc_id AS VARCHAR)")})
                           % {sampling.SAMPLE_DENOM} + 0.5)
                          / {float(sampling.SAMPLE_DENOM)!r})
                       / CAST(length(text) AS DOUBLE) AS _es
                FROM documents
                WHERE length(text) > 0
            )
            SELECT doc_id, weight, round(_es, 6) AS es_key
            FROM b
            ORDER BY _es DESC, doc_id ASC
            LIMIT {sampling.WEIGHTED_TOPK_K}
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS fingerprint
            FROM documents
        """,
        "asof_join": f"""
            WITH sides AS (
                SELECT user_id, ts,
                       CASE WHEN event_type = '{temporal.ASOF_RIGHT_TYPE}'
                            THEN 0 ELSE 1 END AS side,
                       event_id, value
                FROM events
                WHERE event_type IN ('{temporal.ASOF_RIGHT_TYPE}',
                                     '{temporal.ASOF_LEFT_TYPE}')
            ), m AS (
                SELECT *,
                    last_value(CASE WHEN side = 0 THEN
                        {{'ts': ts, 'event_id': event_id, 'value': value}}
                        END IGNORE NULLS)
                        OVER (PARTITION BY user_id
                              ORDER BY ts, side, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS mm
                FROM sides
            )
            SELECT event_id, user_id, ts,
                   mm.event_id AS matched_event_id,
                   mm.ts AS matched_ts,
                   round(mm.value, 4) AS matched_value
            FROM m WHERE side = 1
        """,
        "change_filter": """
            WITH o AS (
                SELECT event_id, user_id, ts, event_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                           AS prev_type
                FROM events
            )
            SELECT event_id, user_id, ts, event_type, prev_type
            FROM o
            WHERE prev_type IS NULL OR prev_type <> event_type
        """,
        "session_type_lift": f"""
            WITH o AS (
                SELECT user_id, ts, event_id, event_type,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            ), flagged AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN prev_ts IS NULL
                              OR date_diff('second', prev_ts, ts)
                                 > {temporal.SESSION_GAP_SECONDS}
                            THEN 1 ELSE 0 END AS is_new
                FROM o
            ), runs AS (
                SELECT user_id, event_type,
                       SUM(is_new) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS session_seq
                FROM flagged
            ), st AS (
                SELECT DISTINCT user_id, session_seq, event_type FROM runs
            ), tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n_sessions
                FROM (SELECT DISTINCT user_id, session_seq FROM st)
            ), tc AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n_one
                FROM st GROUP BY 1
            ), pairs AS (
                SELECT a.event_type AS type_a, b.event_type AS type_b,
                       CAST(count(*) AS BIGINT) AS n_sessions_both
                FROM st a JOIN st b
                  ON a.user_id = b.user_id
                 AND a.session_seq = b.session_seq
                 AND a.event_type < b.event_type
                GROUP BY 1, 2
            )
            SELECT type_a, type_b, n_sessions_both,
                   round(CAST(n_sessions_both AS DOUBLE)
                         / CAST(n_sessions AS DOUBLE), 6) AS support,
                   round(CAST(n_sessions_both * n_sessions AS DOUBLE)
                         / CAST(na.n_one * nb.n_one AS DOUBLE), 4) AS lift
            FROM pairs CROSS JOIN tot
            JOIN tc na ON na.event_type = type_a
            JOIN tc nb ON nb.event_type = type_b
        """,
        "event_order_audit": """
            WITH staged AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                       max(epoch_us(ts)) OVER (PARTITION BY user_id
                           ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS prev_max_us
                FROM events
            )
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN prev_max_us > ts_us
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_out_of_order,
                   round(CAST(sum(CASE WHEN prev_max_us > ts_us
                                       THEN 1 ELSE 0 END) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE), 4) AS ooo_frac,
                   CAST(coalesce(max(CASE WHEN prev_max_us > ts_us
                                          THEN prev_max_us - ts_us END),
                                 0) AS BIGINT) AS max_lateness_us
            FROM staged GROUP BY user_id
        """,
        "sessionize": f"""
            WITH o AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            ), flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN prev_ts IS NULL
                              OR date_diff('second', prev_ts, ts)
                                 > {temporal.SESSION_GAP_SECONDS}
                            THEN 1 ELSE 0 END AS is_new
                FROM o
            ), runs AS (
                SELECT user_id, ts,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
                           AS session_seq
                FROM flagged
            )
            SELECT user_id, session_seq, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end,
                   date_diff('second', min(ts), max(ts)) AS duration_seconds
            FROM runs GROUP BY user_id, session_seq
        """,
        "session_concurrency": f"""
            WITH o AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            ), flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN prev_ts IS NULL
                              OR date_diff('second', prev_ts, ts)
                                 > {temporal.SESSION_GAP_SECONDS}
                            THEN 1 ELSE 0 END AS is_new
                FROM o
            ), runs AS (
                SELECT user_id, ts,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
                           AS session_seq
                FROM flagged
            ), sess AS (
                SELECT epoch_us(min(ts)) AS s,
                       epoch_us(max(ts)) + 1 AS e
                FROM runs GROUP BY user_id, session_seq
            ), pts AS (
                SELECT s AS t, 1 AS d FROM sess
                UNION ALL
                SELECT e AS t, -1 AS d FROM sess
            ), net AS (
                SELECT t, CAST(SUM(d) AS BIGINT) AS _net
                FROM pts GROUP BY 1
            ), iv AS (
                SELECT t,
                       SUM(_net) OVER (ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS _lvl,
                       lead(t) OVER (ORDER BY t) AS _next_t
                FROM net
            )
            SELECT CAST(_lvl AS BIGINT) AS concurrency,
                   CAST(count(*) AS BIGINT) AS n_intervals,
                   CAST(SUM(_next_t - t) AS BIGINT) AS total_us
            FROM iv WHERE _next_t IS NOT NULL
            GROUP BY 1
        """,
        "session_overlap_pairs": f"""
            WITH o AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            ), flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN prev_ts IS NULL
                              OR date_diff('second', prev_ts, ts)
                                 > {temporal.SESSION_GAP_SECONDS}
                            THEN 1 ELSE 0 END AS is_new
                FROM o
            ), runs AS (
                SELECT user_id, ts,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
                           AS session_seq
                FROM flagged
            ), sess AS (
                SELECT user_id,
                       epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
                FROM runs GROUP BY user_id, session_seq
            )
            SELECT a.user_id AS user_a, b.user_id AS user_b,
                   CAST(count(*) AS BIGINT) AS n_overlaps,
                   CAST(SUM(least(a.e, b.e)
                            - greatest(a.s, b.s) + 1) AS BIGINT)
                       AS overlap_us
            FROM sess a JOIN sess b
              ON a.user_id < b.user_id
             AND a.s <= b.e AND b.s <= a.e
            GROUP BY 1, 2
        """,
        "session_overlap_density": f"""
            WITH o AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            ), flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN prev_ts IS NULL
                              OR date_diff('second', prev_ts, ts)
                                 > {temporal.SESSION_GAP_SECONDS}
                            THEN 1 ELSE 0 END AS is_new
                FROM o
            ), runs AS (
                SELECT user_id, ts,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
                           AS session_seq
                FROM flagged
            ), sess AS (
                SELECT user_id,
                       epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
                FROM runs GROUP BY user_id, session_seq
            ), probes AS (
                SELECT user_id,
                       unnest(generate_series(
                           s // {temporal.OVERLAP_BUCKET_SECONDS * 1_000_000},
                           e // {temporal.OVERLAP_BUCKET_SECONDS * 1_000_000}
                       )) AS bkt
                FROM sess
            ), per_user AS (
                SELECT bkt, user_id,
                       CAST(count(*) AS BIGINT) AS n_u
                FROM probes GROUP BY 1, 2
            )
            SELECT CAST(bkt * {temporal.OVERLAP_BUCKET_SECONDS * 1_000_000}
                        AS BIGINT) AS bucket_lo_us,
                   CAST(SUM(n_u) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_users,
                   CAST((SUM(n_u) * SUM(n_u) - SUM(n_u * n_u)) // 2
                        AS BIGINT) AS n_candidates
            FROM per_user
            GROUP BY bkt
            ORDER BY bucket_lo_us
        """,
        "range_join": f"""
            SELECT l.event_id, l.user_id, l.ts,
                   r.event_id AS matched_event_id,
                   r.ts AS matched_ts,
                   date_diff('second', r.ts, l.ts) AS gap_seconds
            FROM events l
            JOIN events r
              ON l.user_id = r.user_id
             AND l.event_type = '{temporal.ASOF_LEFT_TYPE}'
             AND r.event_type = '{temporal.ASOF_RIGHT_TYPE}'
             AND r.ts <= l.ts
             AND date_diff('second', r.ts, l.ts)
                 <= {temporal.RANGE_JOIN_MAX_GAP_SECONDS}
        """,
        "value_histogram": f"""
            WITH b AS (
                SELECT min(value) AS vmin, max(value) AS vmax FROM events
            ), binned AS (
                SELECT CAST(CASE WHEN vmax = vmin THEN 0 ELSE least(
                           floor((value - vmin)
                                 / ((vmax - vmin) / {relational.VALUE_HISTOGRAM_BINS})),
                           {relational.VALUE_HISTOGRAM_BINS - 1}) END AS BIGINT)
                           AS bin,
                       vmin, vmax
                FROM events, b
                WHERE value IS NOT NULL
            )
            SELECT bin,
                   round(vmin + bin * ((vmax - vmin)
                         / {relational.VALUE_HISTOGRAM_BINS}), 4) AS bin_lo,
                   count(*) AS n
            FROM binned GROUP BY bin, vmin, vmax
        """,
        "split_assign": f"""
            WITH h AS (
                SELECT doc_id,
                       ({hex48_sql("CAST(doc_id AS VARCHAR)")}) % 100 AS bucket
                FROM documents
            )
            SELECT doc_id, bucket,
                   CASE {' '.join(
                       f"WHEN bucket >= {lo} AND bucket < {hi} THEN '{name}'"
                       for name, lo, hi in sampling.SPLIT_BOUNDS
                   )} END AS split
            FROM h
        """,
        "pack_docs": f"""
            WITH toks AS (
                SELECT doc_id,
                       ({hex48_sql("CAST(doc_id AS VARCHAR)")})
                           % {sampling.PACK_NUM_SHARDS} AS shard,
                       CAST(length(text) - length(replace(text, ' ', ''))
                            + 1 AS BIGINT) AS n_doc_tokens
                FROM documents
            ), offs AS (
                SELECT doc_id, shard, n_doc_tokens,
                       COALESCE(SUM(n_doc_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS start
                FROM toks
            )
            SELECT doc_id, shard, n_doc_tokens,
                   CAST(floor(start / {sampling.PACK_BUDGET_TOKENS})
                        AS BIGINT) AS pack_seq,
                   CAST(start % {sampling.PACK_BUDGET_TOKENS} AS BIGINT)
                       AS offset_in_pack
            FROM offs
        """,
        "tfidf_top_terms": f"""
            WITH pairs AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM pairs GROUP BY doc_id, term
            ), idf AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ), n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf, idf.df,
                       tf.tf * ln(CAST(n.n_docs AS DOUBLE) / idf.df) AS tfidf
                FROM tf JOIN idf USING (term), n
            ), r AS (
                SELECT *,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY tfidf DESC, term ASC)
                           AS rank
                FROM scored
            )
            SELECT doc_id, term, tf, df, round(tfidf, 4) AS tfidf, rank
            FROM r WHERE rank <= {textops.TFIDF_TOP_K}
        """,
        "dedup_first_event": """
            SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
            FROM (
                SELECT user_id, event_type, event_id, ts,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts ASC, event_id ASC) AS rn
                FROM events
            )
            WHERE rn = 1
        """,
        "dedup_exact_stats": """
            SELECT count(*) AS n_docs,
                   count(DISTINCT md5(text)) AS n_unique,
                   count(*) - count(DISTINCT md5(text)) AS n_dupes
            FROM documents
        """,
        "dup_spans": _dup_spans_sql(),
        "remove_dup_spans": _remove_dup_spans_sql(),
        "remove_dup_spans_first": _remove_dup_spans_sql("first"),
        "dsir_sample": _dsir_sample_sql(),
        "curriculum_phases": _curriculum_sql(),
        "lsh_index_stats": _lsh_index_stats_sql(),
        "mixture_report": _mixture_report_sql(),
        "winnow_fingerprints": _winnow_sql(),
        "cluster_safe_splits": _cluster_safe_splits_sql(),
        "split_leakage_report": _split_leakage_sql(),
        "event_rate_anomalies": f"""
            WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS hour,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY event_type, date_trunc('hour', ts)
            ),
            m AS (
                SELECT event_type, count(*) AS n,
                       SUM(n_events) AS s1,
                       SUM(n_events * n_events) AS s2
                FROM hourly GROUP BY event_type
            ),
            st AS (
                SELECT event_type,
                       s1 / CAST(n AS DOUBLE) AS mu,
                       sqrt(greatest(s2 / CAST(n AS DOUBLE)
                            - (s1 / CAST(n AS DOUBLE))
                              * (s1 / CAST(n AS DOUBLE)), 0.0)) AS sigma
                FROM m
            )
            SELECT h.event_type, h.hour, h.n_events,
                   round((h.n_events - st.mu) / st.sigma, 4) AS z_score
            FROM hourly h JOIN st ON h.event_type = st.event_type
            WHERE st.sigma > 0
              AND abs(round((h.n_events - st.mu) / st.sigma, 4))
                  > {relational.RATE_Z_THRESHOLD}
        """,
        "value_equidepth_bins": _equidepth_sql(),
        "bloom_join_revenue": f"""
            SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2))))
                              AS DOUBLE), 4) AS revenue
            FROM orders
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '{relational.BLOOM_JOIN_PRIORITY}'
              AND o_orderdate >= TIMESTAMP '{relational.BLOOM_JOIN_START}'
              AND o_orderdate < TIMESTAMP '{relational.BLOOM_JOIN_END}'
        """,
        "event_transitions": """
            WITH pairs AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS to_type
                FROM events
            ),
            counts AS (
                SELECT from_type, to_type,
                       CAST(count(*) AS BIGINT) AS n_transitions
                FROM pairs WHERE to_type IS NOT NULL
                GROUP BY from_type, to_type
            )
            SELECT from_type, to_type, n_transitions,
                   round(n_transitions / CAST(SUM(n_transitions) OVER (
                       PARTITION BY from_type) AS DOUBLE), 4)
                       AS p_transition
            FROM counts
        """,
        "winnow_neardup_pairs": f"""
            WITH fps AS ({_winnow_sql()})
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM fps a
            JOIN fps b ON a.fingerprint = b.fingerprint
                      AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= {dedup.WINNOW_MIN_SHARED}
        """,
        "dup_span_coverage": _dup_span_coverage_sql(),
        "remove_dup_paragraphs": _remove_dup_paragraphs_sql(),
        "remove_dup_paragraphs_first": _remove_dup_paragraphs_sql("first"),
        "dedup_ngram_jaccard": _ngram_jaccard_sql(),
        # the prefix-filtered form is value-identical by construction
        # (AllPairs completeness) -> same oracle text
        "dedup_jaccard_prefix": _ngram_jaccard_sql(),
        "ngram_containment_pairs": _ngram_containment_sql(),
        "dedup_minhash_lsh": _minhash_sql(),
        "neardup_source_matrix": _source_matrix_sql(),
        "minhash_estimate": _minhash_estimate_sql(),
        "dedup_incremental_neardup": _incremental_neardup_sql(),
        # the persisted-index probe is value-identical to the recompute
        # path by construction (deterministic banding), so it shares
        # the oracle verbatim — as does the exhaustive IVF probe with
        # the exact-cosine oracle
        "incremental_neardup_indexed": _incremental_neardup_sql(),
        "ivf_probe_index": _ann_topk_sql(),
        "dedup_simhash": _simhash_sql(),
        "dedup_embedding": _embedding_neardup_sql(),
        "dedup_fuzzy": _fuzzy_neardup_sql(),
        "decontaminate": _decontaminate_sql(),
        "contamination_report": _contamination_report_sql(),
        "mixture_sample": _mixture_sample_sql(),
        "mixture_upsample": _mixture_upsample_sql(),
        "corpus_data_card": f"""
            WITH feat AS (
                SELECT lang,
                       CAST(length(text) - length(replace(text, ' ', ''))
                            + 1 AS BIGINT) AS nt,
                       length(replace(text, ' ', '')) AS n_nonspace,
                       len(list_filter(
                           regexp_split_to_array(trim(text), '\\s+'),
                           t -> t IN ({", ".join(f"'{w}'" for w in textops.STOPWORDS)})
                       )) AS n_stop
                FROM documents
            ),
            scored AS (
                SELECT lang, nt,
                       CASE WHEN nt < 5 THEN 0.0
                            ELSE 1.0 - abs(n_nonspace / nt - 4.0) / 10.0
                                 - (n_stop / nt) * 0.5 END AS q
                FROM feat
            )
            SELECT CASE WHEN GROUPING(lang) = 1 THEN 'TOTAL'
                        ELSE coalesce(lang, '(null)') END AS lang,
                   count(*) AS n_docs,
                   CAST(SUM(nt) AS BIGINT) AS n_tokens,
                   round(avg(nt), 4) AS avg_doc_tokens,
                   round(quantile_cont(nt, 0.5), 4) AS p50_doc_tokens,
                   round(avg(q), 4) AS mean_quality
            FROM scored
            GROUP BY ROLLUP(lang)
        """,
        "temperature_mixture": f"""
            WITH base AS (
                SELECT doc_id, lang AS stratum,
                       CAST(length(text) - length(replace(text, ' ', ''))
                            + 1 AS BIGINT) AS n_tokens,
                       ({hex48_sql("CAST(doc_id AS VARCHAR)")})
                           % {sampling.SAMPLE_DENOM} AS bucket
                FROM documents
            ),
            tot AS (
                SELECT stratum, CAST(sum(n_tokens) AS BIGINT) AS t_l
                FROM base GROUP BY stratum
            ),
            wt AS (
                SELECT stratum, t_l, sqrt(CAST(t_l AS DOUBLE)) AS w_l
                FROM tot
            ),
            b AS (SELECT min(t_l / w_l) AS budget FROM wt),
            thr AS (
                SELECT wt.stratum,
                       CASE WHEN t_l / w_l = budget
                            THEN CAST({sampling.SAMPLE_DENOM} AS BIGINT)
                            ELSE CAST(floor(budget * w_l / t_l
                                            * {sampling.SAMPLE_DENOM})
                                      AS BIGINT)
                       END AS thr
                FROM wt CROSS JOIN b
            )
            SELECT base.doc_id, base.stratum, base.n_tokens
            FROM base JOIN thr ON base.stratum = thr.stratum
            WHERE base.bucket < thr.thr
        """,
        "dedup_incremental": f"""
            WITH fp AS (
                SELECT doc_id,
                       md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                               'g'))) AS fingerprint,
                       ({hex48_sql("CAST(doc_id AS VARCHAR)")})
                           % 100 AS bucket
                FROM documents
            ),
            idx AS (
                SELECT DISTINCT fingerprint FROM fp WHERE bucket < 50
            ),
            batch AS (
                SELECT doc_id, fingerprint,
                       row_number() OVER (PARTITION BY fingerprint
                                          ORDER BY doc_id) AS rn
                FROM fp WHERE bucket >= 50
            )
            SELECT b.doc_id, b.fingerprint
            FROM batch b
            WHERE b.rn = 1
              AND NOT EXISTS (SELECT 1 FROM idx
                              WHERE idx.fingerprint = b.fingerprint)
        """,
        "dedup_clusters": _clusters_sql(),
        "dedup_cluster_sizes": f"""
            WITH cl AS (SELECT * FROM ({_clusters_sql()})),
            hist AS (
                SELECT cluster_size,
                       CAST(count(*) AS BIGINT) AS n_clusters,
                       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
                FROM (SELECT DISTINCT cluster_id, cluster_size FROM cl)
                GROUP BY cluster_size
            ),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total
                    FROM documents),
            cltot AS (SELECT CAST(coalesce(sum(n_docs), 0) AS BIGINT)
                          AS n_cl FROM hist),
            full_h AS (
                SELECT * FROM hist
                UNION ALL
                SELECT CAST(1 AS BIGINT), n_total - n_cl, n_total - n_cl
                FROM tot, cltot
            )
            SELECT cluster_size, n_clusters, n_docs,
                   round(CAST(n_docs AS DOUBLE)
                         / CAST((SELECT n_total FROM tot) AS DOUBLE),
                         6) AS doc_frac
            FROM full_h WHERE n_clusters > 0
        """,
        "dedup_survivor_map": f"""
            WITH cl AS (SELECT * FROM ({_clusters_sql()})),
            tq AS (SELECT doc_id, quality_score
                   FROM ({_text_quality_sql()})),
            r AS (
                SELECT cl.cluster_id, cl.doc_id,
                       row_number() OVER (
                           PARTITION BY cl.cluster_id
                           ORDER BY tq.quality_score DESC, cl.doc_id ASC
                       ) AS rn
                FROM cl JOIN tq ON cl.doc_id = tq.doc_id
            ),
            kb AS (SELECT cluster_id, doc_id AS survivor_id
                   FROM r WHERE rn = 1)
            SELECT cl.doc_id, kb.survivor_id, cl.cluster_id,
                   cl.cluster_size
            FROM cl JOIN kb ON cl.cluster_id = kb.cluster_id
            WHERE cl.doc_id <> kb.survivor_id
        """,
        "scd2_as_of": f"""
            WITH scd AS ({_scd2_sql()})
            SELECT * FROM scd
            WHERE valid_from <= TIMESTAMP '2026-07-01 00:00:00'
              AND (valid_to IS NULL
                   OR TIMESTAMP '2026-07-01 00:00:00' < valid_to)
        """,
        "chunk_docs": _chunk_sql(),
        "scd2_apply": _scd2_sql(),
        "quantize_embeddings": _quantize_sql(),
        "embedding_data_card": _embedding_card_sql(),
        "embedding_drift": f"""
            WITH comp AS (
                SELECT label,
                       vec_id % 2 = 0 AS is_ref,
                       CAST(u.i - 1 AS INT) AS dim,
                       CAST(floor(CAST(embedding[u.i] AS DOUBLE)
                                  * {similarity.DRIFT_QUANT} + 0.5)
                            AS BIGINT) AS qv
                FROM embeddings,
                     unnest(generate_series(1, len(embedding))) AS u(i)
            ),
            grid AS (
                SELECT label, dim,
                       SUM(CASE WHEN is_ref THEN qv END) AS sq_ref,
                       CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_ref,
                       SUM(CASE WHEN NOT is_ref THEN qv END) AS sq_cur,
                       CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_cur
                FROM comp GROUP BY label, dim
            ),
            stats AS (
                SELECT label, dim,
                       CAST(sq_ref AS DOUBLE)
                           / (CAST({similarity.DRIFT_QUANT} AS DOUBLE)
                              * CAST(n_ref AS DOUBLE)) AS mean_ref,
                       CAST(sq_cur AS DOUBLE)
                           / (CAST({similarity.DRIFT_QUANT} AS DOUBLE)
                              * CAST(n_cur AS DOUBLE)) AS mean_cur
                FROM grid
            ),
            ranked AS (
                SELECT label, dim, mean_ref, mean_cur,
                       abs(mean_ref - mean_cur) AS abs_shift,
                       row_number() OVER (
                           PARTITION BY label
                           ORDER BY abs(mean_ref - mean_cur) DESC, dim
                       ) AS rk
                FROM stats
            )
            SELECT label, dim, mean_ref, mean_cur, abs_shift
            FROM ranked WHERE rk <= {similarity.DRIFT_TOP_DIMS}
            ORDER BY label, abs_shift DESC, dim
        """,
        "ann_cosine_topk": _ann_topk_sql(),
        "ann_cosine_topk_vec": _ann_topk_sql(),
        "multimodal_blob_stats": f"""
            SELECT doc_id AS asset_id, {_MM_MEDIA_SQL} AS media_type,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS checksum
            FROM documents
        """,
        "multimodal_decode": _mm_decode_sql(),
        "image_dhash": _mm_dhash_sql(),
        "image_neardup_pairs": _mm_neardup_sql(),
        "image_neardup_clusters": _mm_clusters_sql(),
        "image_dedup_survivors": _mm_survivors_sql(),
        "video_frame_signatures": _mm_frame_sig_entry_sql(),
        "video_neardup_pairs": _mm_video_neardup_sql(),
        "video_sig_density": _mm_sig_density_sql(),
        "audio_window_signatures": _mm_audio_sig_entry_sql(),
        "audio_neardup_pairs": _mm_audio_neardup_sql(),
        "audio_sig_density": _mm_audio_density_sql(),
        "video_neardup_clusters": _mm_sig_clusters_sql(
            _mm_frame_sig_sql(), "fsig",
            cap=multimodal.VIDEO_SIG_FREQ_CAP,
            pct=multimodal.VIDEO_JACCARD_MIN_PCT,
        ),
        "video_dedup_survivors": _mm_sig_survivors_sql(
            _mm_frame_sig_sql(), "fsig", "vid",
            cap=multimodal.VIDEO_SIG_FREQ_CAP,
            pct=multimodal.VIDEO_JACCARD_MIN_PCT,
        ),
        "audio_neardup_clusters": _mm_sig_clusters_sql(
            _mm_audio_sig_sql(), "asig",
            cap=multimodal.AUDIO_SIG_FREQ_CAP,
            pct=multimodal.VIDEO_JACCARD_MIN_PCT,
        ),
        "audio_dedup_survivors": _mm_sig_survivors_sql(
            _mm_audio_sig_sql(), "asig", "aud",
            cap=multimodal.AUDIO_SIG_FREQ_CAP,
            pct=multimodal.VIDEO_JACCARD_MIN_PCT,
        ),
        "multimodal_dedup_funnel": _mm_funnel_sql(),
        "multimodal_features": _mm_features_sql(),
        "multimodal_frames": _mm_frames_sql(),
        "multimodal_resize": _mm_resize_sql(),
    }


#: Count of oracle-backed entries — the structured form of the rotation
#: note's "N entries" claim (two r14 review rounds caught the comment
#: stale; a constant asserted against len(oracle_sql()) cannot drift).
_N_ORACLE_BACKED = 226

# Computed HERE (end of module) because it needs oracle_sql(); see the
# rotation note above _driver_first_order.
_DRIVER_FIRST = _driver_first_order(tuple(oracle_sql()))

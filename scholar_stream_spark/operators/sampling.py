"""Deterministic sampling / split assignment (SURVEY.md §2.8 pipeline
surface).

Training pipelines need splits that are REPRODUCIBLE (same doc → same
split, on any cluster, any partitioning, forever) and ASSIGNED IN THE
PLAN (no materialized split column to keep in sync). Random sampling
(``df.sample``/``rand()``) fails both. The standard answer is hash
bucketing: bucket = hash(stable_key) mod 100, split by bucket ranges.

The hash is the engine's portable md5-derived 48-bit hash
(``functions/hashing.py``), so the assignment is bit-identical in the
DuckDB oracle — the split operator itself is correctness-checked, which
matters more for splits than for most operators (a drifting split
silently leaks val/test into train).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scholar_stream_spark.functions.hashing import hex48_spark_sql
from scholar_stream_spark.plans.hybrid import driver_rows_df
from scholar_stream_spark.plans.partitioning import scale_out

#: Default split ranges over the 100 hash buckets: [0,90) train,
#: [90,95) val, [95,100) test.
SPLIT_BOUNDS = (("train", 0, 90), ("val", 90, 95), ("test", 95, 100))


def split_bucket(key_sql: str) -> "F.Column":
    """Hash bucket in [0, 100) from a stable key's SQL expression."""
    return F.expr(f"{hex48_spark_sql(key_sql)} % 100")


def assign_splits(
    documents: DataFrame,
    key_col: str = "doc_id",
    bounds: tuple = SPLIT_BOUNDS,
) -> DataFrame:
    """(key, bucket, split) — deterministic train/val/test assignment.

    A narrow projection: one md5 per row, no shuffle, no state. The
    same expression evaluated at training time and at eval time always
    agrees — the property ``rand()``-based splits do not have.
    """
    bucket = split_bucket(f"CAST({key_col} AS STRING)")
    split = None
    for name, lo, hi in bounds:
        cond = (F.col("bucket") >= lo) & (F.col("bucket") < hi)
        split = (
            F.when(cond, F.lit(name))
            if split is None
            else split.when(cond, F.lit(name))
        )
    return (
        documents.select(
            F.col(key_col), bucket.cast("long").alias("bucket")
        )
        .withColumn("split", split)
    )


def cluster_safe_splits(
    documents: DataFrame, bounds: tuple = SPLIT_BOUNDS
) -> DataFrame:
    """Leakage-safe train/val/test assignment: hash-split on the
    near-dup CLUSTER id instead of the document id, so every member of
    a near-dup cluster lands in the SAME split — the fix for the
    classic eval-contamination bug where doc-keyed splits put two
    near-copies on opposite sides of the train/test boundary and the
    model "generalizes" to text it effectively saw. Docs with no
    near-dup keep their own id as the split key (identical to
    ``assign_splits`` for them, so turning this on doesn't reshuffle
    the non-duplicated corpus).

    Composition: ``neardup_clusters`` labels (duplicate-population-
    sized) LEFT-join the corpus on doc_id; the split key is
    ``coalesce(cluster_id, doc_id)`` through the same portable-hash
    bucket machinery as every split/sample operator. By construction,
    every near-dup pair above the cluster threshold is intra-cluster,
    hence intra-split — ``split_leakage_report`` over this assignment
    is provably empty (pytest-pinned).

    Output: (doc_id, split_key, bucket, split).
    """
    from scholar_stream_spark.operators.dedup import (  # noqa: PLC0415
        neardup_clusters,
    )

    labels = neardup_clusters(documents).select("doc_id", "cluster_id")
    keyed = documents.select("doc_id").join(labels, "doc_id", "left")
    key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    split = None
    for name, lo, hi in bounds:
        cond = (F.col("bucket") >= lo) & (F.col("bucket") < hi)
        split = (
            F.when(cond, F.lit(name))
            if split is None
            else split.when(cond, F.lit(name))
        )
    return (
        keyed.select(
            "doc_id",
            key.cast("long").alias("split_key"),
        )
        .withColumn(
            "bucket",
            F.expr(
                f"{hex48_spark_sql('CAST(split_key AS STRING)')} % 100"
            ).cast("long"),
        )
        .withColumn("split", split)
    )


def split_leakage_report(
    documents: DataFrame, splits: DataFrame | None = None
) -> DataFrame:
    """Cross-split near-dup leakage audit: how many near-dup pairs
    straddle a split boundary — the number that tells you whether the
    held-out set is actually held out (a doc-keyed hash split leaks
    every near-dup pair whose members hash apart; each leaked pair is
    eval data the model trained on). Run it BEFORE trusting any eval
    on a freshly split corpus; ``cluster_safe_splits`` is the fix and
    reports zero here by construction.

    Composition: the near-dup pair table (rare-by-construction)
    joins the (doc_id, split) assignment twice — both joins are
    pair-table-sized — and rolls up to a |split-pairs|-row report.

    Output: (split_a, split_b, n_pairs), split names ordered within
    each row, cross-split rows are the leakage.
    """
    from scholar_stream_spark.operators.dedup import (  # noqa: PLC0415
        ngram_jaccard_pairs,
    )

    if splits is None:
        splits = assign_splits(documents)
    s = splits.select("doc_id", "split")
    pairs = ngram_jaccard_pairs(documents).select("d1", "d2")
    j = (
        pairs.join(
            s.withColumnRenamed("doc_id", "d1").withColumnRenamed(
                "split", "_s1"
            ),
            "d1",
        )
        .join(
            s.withColumnRenamed("doc_id", "d2").withColumnRenamed(
                "split", "_s2"
            ),
            "d2",
        )
    )
    return (
        j.select(
            F.least("_s1", "_s2").alias("split_a"),
            F.greatest("_s1", "_s2").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


#: Uniform-sample denominator: hash buckets for fraction sampling.
SAMPLE_DENOM = 1_000_000

#: Per-stratum reservoir size default.
RESERVOIR_PER_STRATUM = 50


def sample_bucket(key_col: str) -> "F.Column":
    """Portable-hash sample bucket in [0, SAMPLE_DENOM) from a stable
    key — THE reproducible-selection primitive every sampling operator
    keys on (one definition; the hash and denominator are
    oracle-parity-critical, so they must never drift per call site)."""
    return F.expr(
        f"{hex48_spark_sql(f'CAST({key_col} AS STRING)')} % {SAMPLE_DENOM}"
    )


def hash_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id"
) -> DataFrame:
    """Deterministic uniform sample: keep a row iff its portable hash
    bucket falls below ``fraction`` of the bucket space.

    Unlike ``df.sample`` the result is identical on any cluster, any
    partitioning, any Spark version — the property a training pipeline
    needs so a re-run selects the SAME subset. A narrow filter (no
    shuffle, pushes past everything except the hash itself).
    """
    return df.filter(sample_bucket(key_col) < int(fraction * SAMPLE_DENOM))


def stratified_reservoir(
    df: DataFrame,
    strata_col: str = "lang",
    n_per_stratum: int = RESERVOIR_PER_STRATUM,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum reservoir: the ``n_per_stratum`` rows
    with the smallest portable-hash values in each stratum — a uniform
    sample per stratum (hash uniformity) that is exactly reproducible,
    unlike ``sampleBy``.

    One shuffle (the per-stratum ranking window). At 100 TB, don't rank
    whole strata: pre-filter with ``hash_sample`` at a fraction that
    overshoots ``n_per_stratum`` (e.g. 3n/|stratum| from table stats)
    and rank only the survivors — the window then sees thousands of
    rows per stratum, not billions. The result is identical because the
    reservoir ranks on the SAME bucket value ``hash_sample`` filters on
    (the pre-filter is a prefix of the ranking order) — verified by
    ``test_reservoir_consistent_with_prefilter``.

    Output: (key, stratum, sample_rank).
    """
    bucket = sample_bucket(key_col)
    w = Window.partitionBy(strata_col).orderBy(
        bucket.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
        .select(
            F.col(key_col),
            F.col(strata_col).alias("stratum"),
            F.col("sample_rank").cast("long").alias("sample_rank"),
        )
    )


#: Default target language mixture (uniform over the corpus langs).
#: Real pipelines read these from a data-mixing config (DoReMi-style
#: domain weights); frozen literals keep the oracle bit-identical.
MIXTURE_WEIGHTS: dict[str, float] = {
    "de": 0.2, "en": 0.2, "es": 0.2, "fr": 0.2, "zh": 0.2,
}


def mixture_sample(
    documents: DataFrame,
    weights: dict[str, float] = MIXTURE_WEIGHTS,
    key_col: str = "doc_id",
    strata_col: str = "lang",
) -> DataFrame:
    """Deterministic downsampling to a target language/domain mixture —
    the data-mixing step that follows dedup + decontamination in a
    pretraining pipeline (an over-represented language is downsampled
    so the kept corpus matches the target token shares).

    Math: with per-stratum token totals ``T_l`` and target shares
    ``w_l``, the largest token budget reachable WITHOUT upsampling is
    ``B = min_l(T_l / w_l)`` (the scarcest stratum relative to its
    share binds, keep fraction exactly 1). Every stratum then keeps
    fraction ``f_l = B * w_l / T_l`` of its documents, selected by the
    portable hash bucket — the same reproducible-selection machinery
    as ``hash_sample``, so a re-run (or the DuckDB oracle) picks the
    SAME documents. Fractions are document-count fractions, so token
    shares match in expectation (hash uniformity), which is how
    production mixers work — exact token matching would need a
    sequential knapsack.

    Plan shape at 100 TB: one map-side-combined ``groupBy(lang)`` over
    the corpus (reduces to ≤|langs| rows), driver-free derivation of
    the per-stratum thresholds from those rows (two tiny joins + a
    1-row budget aggregate, all broadcast), then one filtered corpus
    scan joined against the broadcast |langs|-row threshold table.
    The corpus is never shuffled; strata absent from ``weights`` are
    dropped (weight 0).

    Output: (key, stratum, n_tokens) for kept documents.
    """
    from scholar_stream_spark.operators.textops import n_tokens

    base = documents.select(
        F.col(key_col),
        F.col(strata_col).alias("stratum"),
        n_tokens(F.col("text")).alias("n_tokens"),
        sample_bucket(key_col).alias("bucket"),
    )
    return mixture_select(base, weights, key_col=key_col)


def mixture_report(
    documents: DataFrame,
    weights: dict[str, float] = MIXTURE_WEIGHTS,
    strata_col: str = "lang",
) -> DataFrame:
    """Mixture audit table: actual per-stratum document/token counts
    and token shares against the target weights — the report a mixing
    pipeline publishes BEFORE sampling (how far off is the raw corpus)
    and AFTER (did the sample land on target); the deviation column is
    the number a DoReMi-style weight-tuning loop consumes. Strata
    absent from ``weights`` audit against target 0 (they'd be dropped).

    Scale shape: ONE map-side-combined groupBy over the corpus reduces
    to ≤|strata| rows; the total folds back as a 1-row broadcast
    crossJoin and the weight table is a literal |weights|-row
    broadcast — the corpus is scanned once and never shuffled.

    Output: (stratum, n_docs, n_tokens, token_share, target_share,
    deviation), one row per stratum present in the corpus.
    """
    from scholar_stream_spark.operators.textops import (  # noqa: PLC0415
        n_tokens,
    )

    base = documents.select(
        F.col(strata_col).alias("stratum"),
        n_tokens(F.col("text")).alias("nt"),
    )
    per = base.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("_tt"))
    wdf = driver_rows_df(documents.sparkSession,
        [(k, float(v)) for k, v in sorted(weights.items())],
        "stratum string, _tgt double",
    )
    share = F.col("n_tokens") / F.col("_tt")
    tgt = F.coalesce(F.col("_tgt"), F.lit(0.0))
    return (
        per.crossJoin(F.broadcast(tot))
        .join(F.broadcast(wdf), "stratum", "left")
        .select(
            "stratum",
            "n_docs",
            "n_tokens",
            F.round(share, 4).alias("token_share"),
            F.round(tgt, 4).alias("target_share"),
            F.round(share - tgt, 4).alias("deviation"),
        )
    )


def mixture_select(
    base: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
) -> DataFrame:
    """The mixture-selection core over a prepared ``(key, stratum,
    n_tokens, bucket)`` frame — split out so pipeline compositions
    (e.g. curate → decontaminate → mix) can feed already-computed
    token counts and strata instead of re-deriving them from text."""
    w_expr = F.create_map(
        *[F.lit(x) for kv in sorted(weights.items()) for x in kv]
    )
    base = base.filter(F.col("stratum").isin(*weights))
    totals = base.groupBy("stratum").agg(F.sum("n_tokens").alias("t_l"))
    weighted = totals.withColumn("w_l", w_expr[F.col("stratum")])
    budget = weighted.agg(
        F.min(F.col("t_l") / F.col("w_l")).alias("budget")
    )
    # The binding stratum (t_l/w_l == budget — bit-exact: min returns
    # one of its inputs) is pinned to the full bucket space: computing
    # its fraction as (budget*w_l/t_l)*DENOM re-rounds through IEEE and
    # can floor to DENOM-1, silently dropping ~1-per-DENOM of the very
    # stratum the math promises to keep whole.
    thresholds = weighted.crossJoin(F.broadcast(budget)).select(
        "stratum",
        F.when(
            F.col("t_l") / F.col("w_l") == F.col("budget"),
            F.lit(SAMPLE_DENOM).cast("long"),
        )
        .otherwise(
            F.floor(
                F.col("budget") * F.col("w_l") / F.col("t_l") * SAMPLE_DENOM
            )
        )
        .alias("thr"),
    )
    return (
        base.join(F.broadcast(thresholds), "stratum")
        .filter(F.col("bucket") < F.col("thr"))
        .select(key_col, "stratum", "n_tokens")
    )


def mixture_upsample(
    documents: DataFrame,
    weights: dict[str, float] = MIXTURE_WEIGHTS,
    key_col: str = "doc_id",
    strata_col: str = "lang",
) -> DataFrame:
    """Deterministic UPSAMPLING to a target mixture — the epoch-repeat
    complement of ``mixture_sample``: instead of cutting abundant
    strata down to the scarcest, scarce strata repeat (the Llama/GPT
    data-recipe pattern: run high-value domains for multiple epochs
    while the largest domain runs once).

    Math: with token totals ``T_l`` and target shares ``w_l``, the
    budget is ``B = max_l(T_l / w_l)`` (the most ABUNDANT stratum
    relative to its share runs exactly one epoch); every stratum then
    repeats ``e_l = B * w_l / T_l ≥ 1`` times — each doc appears
    ``floor(e_l)`` times plus once more when its hash bucket falls
    below the fractional remainder, so the repeated token share matches
    the target in expectation and a re-run (or the oracle) repeats the
    SAME documents. The fixed-point trick from ``mixture_select``
    applies: ``e_l`` is computed once as an integer
    ``floor(B*w_l/T_l * DENOM)`` (pinned to exactly DENOM for the
    binding stratum — IEEE re-rounding must not drop it to DENOM-1),
    then split into whole epochs and remainder by integer div/mod, so
    both engines derive identical repeat counts.

    Plan shape: one map-side-combined groupBy to ≤|strata| rows, tiny
    broadcast threshold table, then the corpus scan explodes a
    per-row ``sequence(0, rep-1)`` — no shuffle of the corpus, output
    size = sum of repeats (the point of the operator).

    Output: (key, stratum, n_tokens, epoch) with epoch ∈ [0, rep_doc).
    """
    from scholar_stream_spark.operators.textops import n_tokens

    base = documents.select(
        F.col(key_col),
        F.col(strata_col).alias("stratum"),
        n_tokens(F.col("text")).alias("n_tokens"),
        sample_bucket(key_col).alias("bucket"),
    ).filter(F.col("stratum").isin(*weights))
    w_expr = F.create_map(
        *[F.lit(x) for kv in sorted(weights.items()) for x in kv]
    )
    totals = base.groupBy("stratum").agg(F.sum("n_tokens").alias("t_l"))
    weighted = totals.withColumn("w_l", w_expr[F.col("stratum")])
    budget = weighted.agg(
        F.max(F.col("t_l") / F.col("w_l")).alias("budget")
    )
    esc = (
        F.when(
            F.col("t_l") / F.col("w_l") == F.col("budget"),
            F.lit(SAMPLE_DENOM).cast("long"),
        )
        .otherwise(
            F.floor(
                F.col("budget") * F.col("w_l") / F.col("t_l") * SAMPLE_DENOM
            )
        )
    )
    reps_tbl = weighted.crossJoin(F.broadcast(budget)).select(
        "stratum", esc.alias("esc")
    )
    # integer DIV/% — no float round-trip between the two engines
    rep = F.expr(f"esc DIV {SAMPLE_DENOM}") + F.when(
        F.col("bucket") < F.col("esc") % SAMPLE_DENOM, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        base.join(F.broadcast(reps_tbl), "stratum")
        .withColumn("rep", rep)
        .select(
            key_col,
            "stratum",
            "n_tokens",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("rep") - 1)
            ).alias("epoch"),
        )
    )


#: Default per-source token-share cap (RefinedWeb-style "no domain
#: dominates" rule). The synthetic documents table is uniform at 5%
#: per source, so 4% makes the cap bite on every source in tests;
#: production corpora set this from the curation policy (~1-2%).
SOURCE_CAP_FRACTION = 0.04


def source_share_cap(
    documents: DataFrame,
    cap: float = SOURCE_CAP_FRACTION,
    key_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source share cap — the RefinedWeb-style domain-curation
    rule: no single source (domain) may contribute more than ``cap``
    of the corpus's total tokens, so one crawl-heavy domain cannot
    dominate the training mixture. Sources already under the cap pass
    whole; over-cap sources are deterministically thinned to the cap
    by the portable hash bucket — the same reproducible-selection
    machinery as ``mixture_sample``, so a re-run (or the oracle) keeps
    the SAME documents. ``cap`` is relative to the PRE-cap corpus
    total (the well-defined one-pass rule; capping against the kept
    total is a fixed-point and pipelines iterate the one-pass rule if
    they need it). Keep-sets are MONOTONE in ``cap``: raising the cap
    only adds documents (the threshold is non-decreasing in cap and
    under-cap strata pin to the full bucket space — the
    ``mixture_select`` fixed-point trick, so IEEE re-rounding can
    never drop a row from a source the math says to keep whole).

    Scale shape: one map-side-combined ``groupBy(source)`` reduces the
    corpus to ≤|sources| rows, the grand total folds back as a 1-row
    broadcast, and the keep decision is a broadcast-joined threshold
    filter on the single corpus scan — the corpus is never shuffled.

    Output: (key, source, n_tokens) for kept documents.
    """
    from scholar_stream_spark.operators.textops import n_tokens

    base = documents.select(
        F.col(key_col),
        F.col(source_col).alias("source"),
        n_tokens(F.col("text")).alias("n_tokens"),
        sample_bucket(key_col).alias("bucket"),
    )
    totals = base.groupBy("source").agg(
        F.sum("n_tokens").cast("double").alias("t_s")
    )
    grand = totals.agg(F.sum("t_s").alias("t_all"))
    thresholds = totals.crossJoin(F.broadcast(grand)).select(
        "source",
        F.when(
            F.col("t_s") <= F.lit(float(cap)) * F.col("t_all"),
            F.lit(SAMPLE_DENOM).cast("long"),
        )
        .otherwise(
            F.floor(
                F.lit(float(cap))
                * F.col("t_all")
                / F.col("t_s")
                * SAMPLE_DENOM
            )
        )
        .alias("thr"),
    )
    return (
        base.join(F.broadcast(thresholds), "source")
        .filter(F.col("bucket") < F.col("thr"))
        .select(key_col, "source", "n_tokens")
    )


#: Temperature exponent for temperature_mixture. Pinned to 0.5 (the
#: middle of the usual 0.3–0.7 multilingual range) because
#: ``T_l^0.5 = sqrt(T_l)`` and IEEE-754 sqrt is CORRECTLY ROUNDED —
#: bit-identical across Spark and DuckDB, where a general pow() carries
#: no such guarantee and a 1-ulp divergence could flip a floor()ed
#: keep-threshold and desynchronize document selection.
TEMP_MIXTURE_ALPHA = 0.5


def temperature_mixture(
    documents: DataFrame,
    key_col: str = "doc_id",
    strata_col: str = "lang",
) -> DataFrame:
    """Temperature-weighted mixture sampling: target shares are DERIVED
    from the corpus as ``w_l ∝ T_l^α`` (α = ``TEMP_MIXTURE_ALPHA``) —
    the multilingual temperature-sampling rule (e.g. mBERT/XLM-R
    exponent-smoothed sampling) that upweights small languages without
    hand-written share tables. Normalization cancels algebraically in
    the budget math (``B = min(T_l/w_l)``, ``f_l = B·w_l/T_l``), so the
    unnormalized ``sqrt(T_l)`` feeds the same no-upsampling machinery
    as ``mixture_sample``: the stratum minimizing ``T_l^(1-α)`` — the
    smallest — is kept whole, larger strata downsample toward its
    temperature share.

    Same 100 TB shape as ``mixture_sample``: one map-side-combined
    ``groupBy(lang)``, broadcast-only threshold derivation, corpus
    never shuffled, portable-hash selection (reproducible, oracle-
    checked). Output: (key, stratum, n_tokens) for kept documents.
    """
    from scholar_stream_spark.operators.textops import n_tokens

    base = documents.select(
        F.col(key_col),
        F.col(strata_col).alias("stratum"),
        n_tokens(F.col("text")).alias("n_tokens"),
        sample_bucket(key_col).alias("bucket"),
    )
    totals = base.groupBy("stratum").agg(F.sum("n_tokens").alias("t_l"))
    weighted = totals.withColumn(
        "w_l", F.sqrt(F.col("t_l").cast("double"))
    )
    budget = weighted.agg(
        F.min(F.col("t_l") / F.col("w_l")).alias("budget")
    )
    # binding-stratum pin + floor()ed fractions: identical discipline
    # (and expression association) as mixture_select
    thresholds = weighted.crossJoin(F.broadcast(budget)).select(
        "stratum",
        F.when(
            F.col("t_l") / F.col("w_l") == F.col("budget"),
            F.lit(SAMPLE_DENOM).cast("long"),
        )
        .otherwise(
            F.floor(
                F.col("budget") * F.col("w_l") / F.col("t_l") * SAMPLE_DENOM
            )
        )
        .alias("thr"),
    )
    return (
        base.join(F.broadcast(thresholds), "stratum")
        .filter(F.col("bucket") < F.col("thr"))
        .select(key_col, "stratum", "n_tokens")
    )


#: Sequence-packing defaults: token budget per training sequence and
#: the number of independent packing shards.
PACK_BUDGET_TOKENS = 2048
PACK_NUM_SHARDS = 32


def pack_documents(
    documents: DataFrame,
    budget_tokens: int = PACK_BUDGET_TOKENS,
    n_shards: int = PACK_NUM_SHARDS,
) -> DataFrame:
    """Concat-then-chunk sequence packing (the GPT-pretraining layout):
    documents are laid out as a continuous token stream and cut into
    ``budget_tokens``-sized packs; each doc is assigned to the pack
    containing its START offset.

    True bin-packing (next-fit with remainder reset) is a sequential
    recurrence — not distributable and not what pretraining loaders do
    anyway. Offset packing IS a prefix sum, which distributes: shard the
    corpus by a stable hash of doc_id (shards pack independently — the
    unit of parallelism AND of reproducibility), order by doc_id within
    the shard, one running-sum window. One shuffle, on the shard key;
    skew-free by construction (hash sharding). The assignment is fully
    deterministic: same corpus → same packs on any cluster layout, and
    the portable hash makes it oracle-checkable.

    Output: (doc_id, shard, n_doc_tokens, pack_seq, offset_in_pack).
    Global pack id at scale = (shard, pack_seq).
    """
    from scholar_stream_spark.operators.textops import n_tokens

    shard = F.expr(
        f"{hex48_spark_sql('CAST(doc_id AS STRING)')} % {n_shards}"
    ).cast("long")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = documents.select(
        "doc_id",
        shard.alias("shard"),
        n_tokens(F.col("text")).alias("n_doc_tokens"),
    )
    start = F.coalesce(F.sum("n_doc_tokens").over(w), F.lit(0))
    return toks.select(
        "doc_id",
        "shard",
        "n_doc_tokens",
        F.floor(start / budget_tokens).alias("pack_seq"),
        (start % budget_tokens).alias("offset_in_pack"),
    )


#: Quality-weighted sampling scale: acceptance probability multiplier
#: on the composite quality score (1.0 = probability equals the
#: clamped score).
QUALITY_SAMPLE_SCALE = 1.0


def quality_weighted_sample(
    documents: DataFrame,
    scale: float = QUALITY_SAMPLE_SCALE,
    key_col: str = "doc_id",
) -> DataFrame:
    """Quality-weighted downsample (the FineWeb-Edu/CCNet idea: spend
    the token budget on the good documents): keep each document with
    probability proportional to its composite quality score —
    ``p_keep = least(1, greatest(0, score) · scale)`` — decided by the
    SAME portable hash bucket every sampling operator keys on, so the
    selection is deterministic across clusters, partitionings, and
    re-runs (and a kept doc stays kept when ``scale`` only increases:
    the bucket threshold is monotone in p_keep).

    Scale shape: identical to ``hash_sample`` — a narrow per-row filter
    (the score and the hash are both row-local), zero shuffles. The
    score reuses ``textops.quality_parts`` so the weighting can never
    drift from the published ``text_quality``/data-card numbers.

    Output (kept rows only): (doc_id, quality_score, p_keep).
    """
    from scholar_stream_spark.operators.textops import quality_parts

    _, _, _, score = quality_parts(F.col("text"))
    p_keep = F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), score) * F.lit(scale)
    )
    return (
        documents.select(
            F.col(key_col),
            F.round(score, 4).alias("quality_score"),
            F.round(p_keep, 4).alias("p_keep"),
            sample_bucket(key_col).alias("_bucket"),
            p_keep.alias("_p_raw"),
        )
        .filter(F.col("_bucket") < F.col("_p_raw") * SAMPLE_DENOM)
        .drop("_bucket", "_p_raw")
    )


#: Curriculum phases: how many quality-ordered stages the corpus is
#: split into (phase 1 = lowest-quality quantile, trained first in an
#: easy-to-hard curriculum — or dropped entirely as a budget knob).
CURRICULUM_PHASES = 4


def curriculum_phases(
    documents: DataFrame,
    n_phases: int = CURRICULUM_PHASES,
    key_col: str = "doc_id",
) -> DataFrame:
    """Quality-ordered curriculum assignment: each document gets a
    phase in [1, n_phases] by quality-score quantile — the corpus
    ordering step of curriculum training (and a coarse quality-tier
    label for mixture budgeting) without ever globally sorting the
    corpus.

    Scale shape: the naive ``ntile`` over a global ORDER BY is a
    single-partition sort of the whole corpus — the exact anti-pattern
    the top-K pins in this module exist to prevent. Instead: ONE
    map-side-combined aggregate computes the n−1 exact percentile
    boundaries of the 1e-6-QUANTIZED score (integers, so the boundary
    arithmetic is engine-identical — the ``detect_outliers`` idiom),
    the one-row boundary table broadcasts back, and assignment is a
    narrow comparison projection. Score shares
    ``textops.quality_parts``, so phases can never disagree with the
    published ``text_quality`` numbers.

    Output: (doc_id, quality_score, phase), every input row.
    """
    from scholar_stream_spark.operators.textops import (  # noqa: PLC0415
        quality_parts,
    )

    if n_phases < 2:
        raise ValueError("curriculum_phases: need at least two phases")
    _, _, _, score = quality_parts(F.col("text"))
    sq = F.expr(
        "CAST(floor(_score * 1000000 + 0.5) AS BIGINT)"
    )
    scored = documents.select(
        F.col(key_col), score.alias("_score")
    ).select(key_col, "_score", sq.alias("sq"))
    bounds = scored.agg(
        *[
            F.expr(f"percentile(sq, {i / n_phases!r})").alias(f"b{i}")
            for i in range(1, n_phases)
        ]
    )
    phase = F.lit(1)
    for i in range(1, n_phases):
        phase = phase + F.when(F.col("sq") > F.col(f"b{i}"), 1).otherwise(0)
    return (
        scored.crossJoin(F.broadcast(bounds))
        .select(
            F.col(key_col),
            F.round("_score", 4).alias("quality_score"),
            phase.cast("int").alias("phase"),
        )
    )


#: DSIR defaults: hashed n-gram feature buckets, add-one smoothing, the
#: base keep rate the importance ratio scales, and the sharpness applied
#: to the centered per-gram log-likelihood ratio (raw summed LLRs are
#: length-dominated — a 300-token doc's sum is ~±50 nats, saturating any
#: keep probability — so the keep rule uses the length-normalized,
#: corpus-mean-centered ratio with a temperature, the same shaping idea
#: as ``temperature_mixture``).
DSIR_BUCKETS = 4096
DSIR_SMOOTHING = 1.0
DSIR_RATE = 0.25
DSIR_SHARPNESS = 8.0


def _dsir_bucket_rows(
    df: DataFrame, key_col: str | None, n_buckets: int
) -> DataFrame:
    """Hashed n-gram feature rows for DSIR: word unigrams + bigrams of
    the lowercased whitespace tokens, each hashed into ``n_buckets``
    with the engine's portable 48-bit hash (oracle-parity-critical —
    the bucket assignment IS the feature space, so Spark and the DuckDB
    oracle must agree bit-for-bit). Returns (key?, bucket) rows, one
    per n-gram OCCURRENCE."""
    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    keys = [F.col(key_col)] if key_col else []
    toks = df.select(*keys, ws.alias("ws"))
    grams = F.concat(
        F.col("ws"),
        F.when(F.size("ws") < 2, F.array().cast("array<string>")).otherwise(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(ws[i-1], ' ', ws[i]))"
            )
        ),
    )
    exploded = toks.select(*keys, F.explode(grams).alias("g"))
    return exploded.select(
        *keys,
        F.expr(f"{hex48_spark_sql('g')} % {n_buckets}").alias("bucket"),
    )


def dsir_sample(
    corpus: DataFrame,
    target: DataFrame,
    rate: float = DSIR_RATE,
    n_buckets: int = DSIR_BUCKETS,
    smoothing: float = DSIR_SMOOTHING,
    sharpness: float = DSIR_SHARPNESS,
    key_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    each corpus document by how much more likely its hashed-n-gram
    features are under the TARGET distribution than under the raw
    corpus, and keep documents with probability proportional to that
    importance ratio — the distribution-matching sampler that pulls a
    general crawl toward a curated target domain.

    Model: bag-of-hashed-n-grams (unigrams+bigrams → ``n_buckets``
    buckets); add-``smoothing`` bucket unigram LMs for target p and
    corpus q; per-doc ``log_ratio`` = the PER-GRAM average of
    ``log p(b_g) − log q(b_g)`` (length-normalized — the raw DSIR sum
    scales with document length and saturates any keep probability).
    The keep rule centers that ratio on its corpus-wide per-gram mean
    and tempers it: ``p_keep = min(1, rate · exp(sharpness ·
    (log_ratio − mean)))`` — target-like docs keep at several times
    ``rate``, anti-target docs at a fraction of it, and the expected
    keep fraction stays ~``rate``. Selection is the engine's
    portable-hash rule shared with ``hash_sample``/
    ``quality_weighted_sample``: kept iff the doc's sample bucket <
    p_keep — deterministic across clusters, partitionings, re-runs.

    Scale shape, corpus-linear: one n-gram explode per side feeding
    map-side-combined bucket counts (the intermediates are
    |buckets|-sized, NOT corpus-sized); the two count tables and their
    totals fold into one |buckets|-row weight table that BROADCASTS
    back onto the corpus n-gram stream; one doc-keyed aggregate sums
    the weights. Nothing pairwise, no corpus-sized shuffle beyond the
    doc-keyed score rollup. Per-bucket log-weights are quantized to
    1e-6 integer units before the per-doc sum (the ``detect_outliers``
    fixed-point idiom), so the sum is order-independent and cannot
    1-ulp-drift between engines or partitionings.

    Output (kept rows only): (doc_id, n_ngrams, log_ratio, p_keep).
    """
    tgt_counts = (
        _dsir_bucket_rows(target, None, n_buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    # collapse the corpus n-gram stream to (doc, bucket, tf) FIRST: the
    # corpus-sized explode then feeds BOTH consumers (the bucket LM and
    # the per-doc scoring) as one much smaller doc-bucket table instead
    # of being recomputed per consumer — same trick as tf-idf's tf table
    crp = (
        _dsir_bucket_rows(corpus, key_col, n_buckets)
        .groupBy(key_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
        # pinned: feeds the bucket LM AND the per-doc scoring — without
        # the pin each consumer re-runs the corpus explode (r17 opt;
        # the before plan held 48 Exchanges of duplicated subtrees)
        .localCheckpoint(eager=False)
    )
    crp_counts = crp.groupBy("bucket").agg(
        F.sum("tf").cast("long").alias("cc")
    )
    lm = (
        tgt_counts.join(crp_counts, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("tc", F.lit(0)).alias("tc"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
        # |buckets| rows, two consumers (totals + weights)
        .localCheckpoint(eager=False)
    )
    totals = lm.agg(
        F.sum("tc").alias("nt"), F.sum("cc").alias("nc")
    )
    a, b = float(smoothing), int(n_buckets)
    lw = F.log(
        (F.col("tc") + F.lit(a)) / (F.col("nt") + F.lit(a * b))
    ) - F.log((F.col("cc") + F.lit(a)) / (F.col("nc") + F.lit(a * b)))
    # totals is ONE row and lm is |buckets| rows — the crossJoin is a
    # broadcast of a scalar, not a data join
    weights = lm.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(lw * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("lw_q"),
    )
    scored = (
        crp.join(F.broadcast(weights), "bucket")
        .groupBy(key_col)
        .agg(
            F.sum("tf").cast("long").alias("n_ngrams"),
            F.sum(F.col("tf") * F.col("lw_q")).alias("lr_q"),
        )
        # doc-sized, two consumers (the centering mean + the keep rule)
        .localCheckpoint(eager=False)
    )
    # corpus-wide per-gram mean LLR from the SAME scored table — exact
    # integer sums, so the centering scalar is engine-identical; the
    # one-row crossJoin is a scalar broadcast
    mean_row = scored.agg(
        (F.sum("lr_q") / F.sum("n_ngrams") / F.lit(1000000.0)).alias(
            "_mean_lr"
        )
    )
    log_ratio = F.col("lr_q") / F.col("n_ngrams") / F.lit(1000000.0)
    p_keep = F.least(
        F.lit(1.0),
        F.lit(float(rate))
        * F.exp(F.lit(float(sharpness)) * (log_ratio - F.col("_mean_lr"))),
    )
    return (
        scored.crossJoin(F.broadcast(mean_row))
        .select(
            F.col(key_col),
            "n_ngrams",
            F.round(log_ratio, 4).alias("log_ratio"),
            F.round(p_keep, 4).alias("p_keep"),
            sample_bucket(key_col).alias("_bucket"),
            p_keep.alias("_p_raw"),
        )
        .filter(F.col("_bucket") < F.col("_p_raw") * SAMPLE_DENOM)
        .drop("_bucket", "_p_raw")
    )


#: Token-budget planning defaults: the total training-token budget the
#: plan is drawn against. Demo-sized for the synthetic corpora;
#: production plans pass the real run budget (e.g. 1e12).
PLAN_BUDGET_TOKENS = 200_000


def token_budget_plan(
    documents: DataFrame,
    weights: dict[str, float] = MIXTURE_WEIGHTS,
    budget_tokens: int = PLAN_BUDGET_TOKENS,
    strata_col: str = "lang",
) -> DataFrame:
    """Token-budget plan: the per-stratum epochs / sampling-rate table a
    data-recipe designer reads BEFORE launching a run (the Llama-paper
    "Epochs" column) — given target mixture weights and a total token
    budget, how many tokens each stratum must contribute, how many
    epochs of it that consumes (>1 = the stratum repeats; the
    overfitting-risk flag), and the keep-rate when it holds a surplus.

    Relation to the mixers: ``mixture_sample``/``mixture_upsample``
    EXECUTE a mixture at the largest/smallest no-upsampling budget the
    corpus supports; this op PLANS an arbitrary externally-fixed
    budget, which is how real recipes are written (the budget comes
    from the compute grant, not from the corpus).

    Math: normalized weight ``w_l`` over the strata PRESENT in
    ``weights``; ``target_tokens_l = floor(budget · w_l)`` (floored on
    a literal-double product — engine-identical); ``epochs_l =
    target/T_l`` and ``sample_rate_l = min(1, target/T_l)`` are single
    IEEE divisions of exact integer operands. Strata in the corpus but
    not in ``weights`` plan at weight 0 (they'd be dropped); strata in
    ``weights`` but absent from the corpus are omitted (nothing to
    scan — the report is corpus-grounded).

    Scale shape: ONE map-side-combined groupBy over the corpus to
    ≤|strata| rows; the weight table is a literal broadcast map; no
    second pass, the corpus is never shuffled.

    Output: (stratum, n_docs, n_tokens, target_tokens, epochs,
    sample_rate, needs_upsample), stratum asc.
    """
    from scholar_stream_spark.operators.textops import n_tokens

    total_w = sum(weights.values())
    w_expr = F.create_map(
        *[
            F.lit(x)
            for k, v in sorted(weights.items())
            for x in (k, v / total_w)
        ]
    )
    per = (
        documents.select(
            F.col(strata_col).alias("stratum"),
            n_tokens(F.col("text")).alias("nt"),
        )
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    target = F.floor(
        F.lit(float(budget_tokens))
        * F.coalesce(w_expr[F.col("stratum")], F.lit(0.0))
    ).cast("long")
    epochs = F.col("target_tokens").cast("double") / F.col(
        "n_tokens"
    ).cast("double")
    return (
        per.withColumn("target_tokens", target)
        .select(
            "stratum",
            "n_docs",
            "n_tokens",
            "target_tokens",
            F.round(epochs, 6).alias("epochs"),
            F.round(F.least(F.lit(1.0), epochs), 6).alias("sample_rate"),
            (epochs > 1.0).alias("needs_upsample"),
        )
        .orderBy("stratum")
    )


def packing_efficiency(
    documents: DataFrame,
    budget_tokens: int = PACK_BUDGET_TOKENS,
    n_shards: int = PACK_NUM_SHARDS,
) -> DataFrame:
    """Packing-efficiency report over the ``pack_documents`` layout:
    per shard, how full the packs are (fill_rate — only the final
    partial pack wastes budget under offset packing) and how many
    documents straddle a pack boundary (split_frac — the fraction of
    docs whose attention span is cut by the sequence boundary, THE
    quality/efficiency trade the packer owns; sequence-aware loaders
    read this before choosing budget_tokens).

    Scale shape: the packed layout is the shared ``pack_documents``
    prefix-sum pipeline (its one shuffle, on the shard key); this adds
    a map-side-combined groupBy to ≤``n_shards`` rows. Counts are
    exact integers; ``n_packs = ceil(n_tokens / budget)`` in integer
    arithmetic; each ratio is one IEEE division of exact operands.

    Output: (shard, n_docs, n_packs, n_tokens, fill_rate,
    n_split_docs, split_frac), shard asc.
    """
    packed = pack_documents(documents, budget_tokens, n_shards)
    b = int(budget_tokens)
    per = packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_doc_tokens").cast("long").alias("n_tokens"),
        F.sum(
            F.when(
                F.col("offset_in_pack") + F.col("n_doc_tokens") > b, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_split_docs"),
    )
    n_packs = F.expr(f"(n_tokens + {b - 1}) DIV {b}")
    return per.select(
        "shard",
        "n_docs",
        n_packs.cast("long").alias("n_packs"),
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double")
            / (n_packs * b).cast("double"),
            6,
        ).alias("fill_rate"),
        "n_split_docs",
        F.round(
            F.col("n_split_docs").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("split_frac"),
    ).orderBy("shard")


def bpe_pack_docs(
    documents: DataFrame,
    budget_tokens: int = PACK_BUDGET_TOKENS,
    n_shards: int = PACK_NUM_SHARDS,
    merges: tuple[tuple[str, str], ...] | None = None,
) -> DataFrame:
    """Token-exact sequence packing under the frozen BPE merge table —
    ``pack_documents`` with REAL tokenizer lengths instead of
    whitespace counts (the gap between them is exactly the fertility
    ``bpe_fertility`` measures: a high-fertility source under-fills
    whitespace-budgeted packs by that factor, so whitespace packing
    mis-sizes every sequence the loader emits).

    Scale shape: the expensive fold chain runs once per DISTINCT word
    (vocab-sized, the ``bpe_encode`` contract) — per-doc token counts
    come from a (doc, word)-reduced count joined to the encoded
    vocabulary (word-keyed exchange, AQE-sized) and summed per doc;
    docs with no words keep n=0 via a left join back to the corpus.
    The layout itself is the shared offset-packing prefix sum: hash
    sharding, one shard-keyed window, deterministic on any cluster.

    Output: (doc_id, shard, n_doc_tokens, pack_seq, offset_in_pack)
    with ``n_doc_tokens`` in BPE tokens — schema-compatible with
    ``pack_documents`` so downstream loaders switch tokenizers without
    a shape change.
    """
    from scholar_stream_spark.operators.textops import (
        BPE_FROZEN_MERGES,
        bpe_word_tokens,
    )

    merges = merges if merges is not None else BPE_FROZEN_MERGES
    wc = (
        documents.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda w: w != "",
                )
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    enc = (
        wc.select("word")
        .distinct()
        .select(
            "word",
            F.size(bpe_word_tokens(F.col("word"), merges)).alias("nt"),
        )
    )
    doc_toks = (
        wc.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("nt")).cast("long").alias("n_doc_tokens")
        )
    )
    shard = F.expr(
        f"{hex48_spark_sql('CAST(doc_id AS STRING)')} % {n_shards}"
    ).cast("long")
    toks = (
        documents.select("doc_id")
        .join(doc_toks, "doc_id", "left")
        .select(
            "doc_id",
            shard.alias("shard"),
            F.coalesce("n_doc_tokens", F.lit(0))
            .cast("long")
            .alias("n_doc_tokens"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_doc_tokens").over(w), F.lit(0))
    return toks.select(
        "doc_id",
        "shard",
        "n_doc_tokens",
        F.floor(start / budget_tokens).alias("pack_seq"),
        (start % budget_tokens).alias("offset_in_pack"),
    )


#: Output-layout target file size (bytes of text per output file).
#: Demo-sized for the synthetic corpora; production parquet targets
#: ~512 MB-1 GB per file.
SHARD_TARGET_BYTES = 64 * 1024


def shard_size_plan(
    documents: DataFrame, target_bytes: int = SHARD_TARGET_BYTES
) -> DataFrame:
    """Output-layout plan: per source, how many files a write should
    produce for a target file size — the small-files-problem planner
    (a 100 TB write that defaults to one file per shuffle partition
    per source emits millions of KB-sized files; the fix is
    ``repartitionByRange(n_files)`` per source before the write, and
    THIS table is where n_files comes from).

    Scale shape: ONE map-side-combined groupBy to ≤|sources| rows;
    ``n_files = max(1, ceil(bytes / target))`` in integer arithmetic;
    ``docs_per_file`` integer-ceil too, ``avg_file_bytes`` one IEEE
    division of exact integers.

    Output: (source, n_docs, n_bytes, n_files, docs_per_file,
    avg_file_bytes), source asc.
    """
    t = int(target_bytes)
    per = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_bytes"),
    )
    n_files = F.greatest(F.lit(1), F.expr(f"(n_bytes + {t - 1}) DIV {t}"))
    return (
        per.withColumn("n_files", n_files.cast("long"))
        .select(
            "source",
            "n_docs",
            "n_bytes",
            "n_files",
            F.expr("(n_docs + n_files - 1) DIV n_files")
            .cast("long")
            .alias("docs_per_file"),
            F.round(
                F.col("n_bytes").cast("double")
                / F.col("n_files").cast("double"),
                2,
            ).alias("avg_file_bytes"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout planner — the Delta/Iceberg OPTIMIZE ZORDER shape

#: Per-dimension quantization bits (2^8 = 256 bins per dimension).
ZORDER_BITS = 8
#: Bucket = top bits of the interleaved code (2^6 = 64 target files).
ZORDER_BUCKET_BITS = 6


def morton_interleave_expr(qx: str, qy: str, bits: int, dialect: str) -> str:
    """Bit-interleave expression string for Spark SQL or DuckDB — ONE
    generator so the engines cannot drift. The sum of single-bit terms
    is exact integer arithmetic; ``dialect`` only changes the shift
    spelling (Spark has no ``<<``/``>>`` operators, DuckDB has no
    ``shiftleft``)."""
    if dialect == "spark":
        def shr(c, i):
            return f"shiftright({c}, {i})" if i else c
        def shl(c, i):
            return f"shiftleft({c}, {i})" if i else c
    elif dialect == "duckdb":
        def shr(c, i):
            return f"({c} >> {i})" if i else c
        def shl(c, i):
            return f"({c} << {i})" if i else c
    else:  # pragma: no cover
        raise ValueError(f"unknown dialect: {dialect!r}")
    terms = []
    for i in range(bits):
        terms.append(shl(f"(({shr(qx, i)}) & 1)", 2 * i))
        terms.append(shl(f"(({shr(qy, i)}) & 1)", 2 * i + 1))
    return " + ".join(terms)


def zorder_layout(
    events: DataFrame,
    bits: int = ZORDER_BITS,
    bucket_bits: int = ZORDER_BUCKET_BITS,
) -> DataFrame:
    """Z-order layout plan for the events table on (user_id, value) —
    what ``OPTIMIZE ... ZORDER BY (user_id, value)`` would produce,
    summarized as the per-file min/max ranges that make it worth doing:
    a multi-dimensional query (``user_id BETWEEN ... AND value > ...``)
    prunes files on BOTH columns' ranges, which linear layouts can't
    give (sort by user_id and every file spans all values; Z-order
    keeps both ranges narrow per file).

    Each row quantizes to ``bits`` bins per dimension against global
    min/max bounds (1-row broadcast aggregate — the only extra pass),
    bits interleave into a Morton code (exact integer sum of 1-bit
    terms, shared-generator expression), and the top ``bucket_bits``
    of the code pick the target file. Output is the layout AUDIT —
    per z-bucket row count + per-column min/max span — not a rewrite:
    at 100 TB the actual write is ``repartitionByRange(n_files,
    zval)`` on the same code, and THIS table is how you check the
    span-narrowing before paying for it.

    Engine parity: quantization is ``floor((x - min) * (2^bits - 1)
    / (max - min))`` — identical IEEE multiply-then-divide order both
    sides, floor exact; everything after is integer arithmetic.

    Output: (zbucket, n_rows, min_user, max_user, min_value,
    max_value), zbucket ascending.
    """
    maxq = (1 << bits) - 1
    bounds = events.agg(
        F.min(F.col("user_id").cast("double")).alias("min_u"),
        F.max(F.col("user_id").cast("double")).alias("max_u"),
        F.min(F.col("value").cast("double")).alias("min_v"),
        F.max(F.col("value").cast("double")).alias("max_v"),
    )

    def quant(col: str, lo: str, hi: str) -> F.Column:
        span = F.col(hi) - F.col(lo)
        raw = F.floor(
            (F.col(col).cast("double") - F.col(lo))
            * F.lit(float(maxq))
            / span
        )
        q = F.when(span == 0, F.lit(0).cast("long")).otherwise(
            F.least(F.lit(maxq).cast("long"), F.greatest(F.lit(0).cast("long"), raw))
        )
        return q

    staged = (
        events.select("user_id", "value")
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            "value",
            quant("user_id", "min_u", "max_u").alias("qx"),
            quant("value", "min_v", "max_v").alias("qy"),
        )
    )
    shift = 2 * bits - bucket_bits
    return (
        staged.select(
            "user_id",
            "value",
            F.expr(
                f"shiftright({morton_interleave_expr('qx', 'qy', bits, 'spark')}, {shift})"
            ).cast("int").alias("zbucket"),
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("user_id").cast("long").alias("min_user"),
            F.max("user_id").cast("long").alias("max_user"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .orderBy("zbucket")
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle — the training-order materialization

#: Shard count for the shuffled layout (production: thousands; the
#: demo keeps the per-shard tables readable).
SHUFFLE_SHARDS = 16
#: Version salt: bump to issue a DIFFERENT but equally-deterministic
#: global order (new training run, same corpus).
SHUFFLE_SALT = "shuffle-v1"


def corpus_shuffle(
    documents: DataFrame,
    n_shards: int = SHUFFLE_SHARDS,
    salt: str = SHUFFLE_SALT,
) -> DataFrame:
    """Deterministic global shuffle order for training: every document
    gets a (shard, pos) coordinate — shard from the portable hash of
    (salt, doc_id), position from the hash-then-id order WITHIN the
    shard. Reading shards round-robin reproduces one global
    pseudo-random permutation of the corpus: the property a trainer
    needs (epoch order reproducible across re-runs, resumable mid-epoch
    by (shard, pos) checkpoint) that ``df.orderBy(rand())`` cannot give
    (non-deterministic) and a global ``row_number`` cannot scale to (a
    single-partition window over the corpus).

    Scale shape: the hash is a narrow projection; the only exchange is
    the shard-keyed ranking window — ``n_shards``-way parallel, each
    shard ~|corpus|/n_shards (hash uniformity), AQE handles stragglers.
    The salt changes the permutation wholesale; epochs = salts.

    Engine parity: the hash is the repo-wide portable 48-bit md5
    derivation (``sample_bucket``'s primitive), shard is integer mod,
    pos is a rank over exact integers with doc_id tie-break.

    Output: (doc_id, source, shard, pos).
    """
    hkey = F.expr(
        hex48_spark_sql(
            f"CONCAT('{salt}:', CAST(doc_id AS STRING))"
        )
    ).cast("long")
    staged = scale_out(documents).select(
        "doc_id", "source", hkey.alias("hkey")
    )
    w = Window.partitionBy("shard").orderBy(F.asc("hkey"), F.asc("doc_id"))
    return (
        staged.withColumn(
            "shard", (F.col("hkey") % n_shards).cast("int")
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "source", "shard", "pos")
    )


#: Default sample size for the weighted-without-replacement top-k.
WEIGHTED_TOPK_K = 100


def weighted_sample_topk(
    df: DataFrame,
    k: int = WEIGHTED_TOPK_K,
    weight_col: str = "weight",
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly k rows, one pass
    — Efraimidis & Spirakis (IPL 2006): give every row the key
    ``u^(1/w)`` (u uniform, w its weight) and keep the k largest; the
    result is distributed exactly as sequential weighted draws without
    replacement. The missing quadrant of the sampling family:
    `hash_sample` is uniform-Bernoulli, `quality_weighted_sample` is
    weighted-Bernoulli (random SIZE, no k control), `stratified_
    reservoir` is uniform-per-stratum — this is weighted AND
    exact-size, the "sample 10k docs ∝ quality/length" primitive a
    mixture designer actually asks for.

    Determinism (the family contract): u derives from the portable
    hash bucket — ``u = (bucket + 0.5)/DENOM`` (never 0 or 1, so ln
    is finite) — identical on any cluster, partitioning, or engine;
    rows rank by ``ln(u)/w`` DESC (the monotone log of the ES key —
    same order, no cross-engine ``pow``), ties broken by key. The
    bucket's ~10⁶ distinct low-precision rationals keep ``ln``
    bit-identical across libms. Rows with NULL or non-positive
    weight are excluded (an ES key is undefined there), stated
    contract.

    Scale shape: a narrow projection (hash + ln, zero shuffle) into a
    global top-k — ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge of
    k-row partials), never a full sort. Output: (key, weight,
    es_key round 6).
    """
    if k < 1:
        raise ValueError(f"weighted_topk: k must be >= 1, got {k}")
    w = F.col(weight_col).cast("double")
    u = (sample_bucket(key_col) + F.lit(0.5)) / F.lit(
        float(SAMPLE_DENOM)
    )
    return (
        df.filter(F.col(weight_col).isNotNull() & (w > 0))
        .withColumn("_es", F.log(u) / w)
        .orderBy(F.desc("_es"), F.asc(key_col))
        .limit(k)
        .select(
            key_col,
            weight_col,
            F.round("_es", 6).alias("es_key"),
        )
    )

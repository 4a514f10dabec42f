"""Streaming dedup ingest: append-only corpus + fingerprint index
(SURVEY §2.8 dedup surface, streaming half).

The batch operator (``dedup.incremental_dedup``) answers "which of
these new docs are genuinely new"; this module keeps that check running
against a live ingest stream. Each micro-batch is deduped against the
persisted fingerprint index, survivors are appended to the corpus, and
their fingerprints to the index — so the corpus NEVER holds two docs
with one fingerprint, across batches, forever.

Effectively-once without a transactional table format, via two
mechanisms that compose:

- **batch_id-keyed overwrite writes** — each batch writes to
  ``<path>/batch=<id>`` with overwrite, so a redelivered micro-batch
  rewrites its own directory instead of appending twice (the standard
  idempotent-``foreachBatch`` layout; the ``batch=`` naming doubles as
  a partition column for free pruning on batch provenance).
- **the index check itself** — a batch replayed AFTER its index write
  landed finds all its fingerprints indexed and selects nothing new.
  Dedup ingest is self-healing under at-least-once delivery in a way
  plain append sinks are not.

Scale: per-batch cost is the incremental_dedup plan (index scanned,
never shuffled; exchanges batch-sized) plus two batch-sized writes.
The index directory stays narrow (one string column) — at 100 TB of
corpus the index is ~2% of it and partition-pruned by ``batch=``.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from scholar_stream_spark.operators.dedup import (
    build_fingerprint_bloom,
    incremental_dedup,
    incremental_dedup_bloom,
)
from scholar_stream_spark.plans.hybrid import driver_rows_df

_INDEX_SCHEMA = "fingerprint string"
_BLOOM_SCHEMA = "word int, bits long"

#: Fixed Bloom geometry for a streaming ingest deployment: the filter
#: accretes ADDITIVELY (per-batch (word,bits) deltas OR'd read-side),
#: so every batch must share one geometry for the life of the index —
#: 2^20 bits / 5 hashes holds ~10^5 fingerprints at ~1% FP and degrades
#: gracefully (more false positives = more index probes, never a missed
#: duplicate). Re-size at compaction time, rebuilding the sidecar.
STREAM_BLOOM_BITS = 1 << 20
STREAM_BLOOM_HASHES = 5

#: Analysis error classes that mean "no index landed yet" — anything
#: else (corrupt footer, permissions) must RAISE: silently treating a
#: damaged index as empty would admit every historical duplicate.
_EMPTY_INDEX_ERRORS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def read_index(
    spark: SparkSession, index_path: str, exclude_batch: int | None = None
) -> DataFrame:
    """The fingerprint index as a DataFrame (empty if nothing landed).

    The not-yet-created case is detected from the read's error class,
    not a driver-local ``os.path`` probe — the index lives wherever
    the corpus lives (HDFS/object storage at scale), and a local-FS
    check there would silently report "no index" forever.

    ``exclude_batch`` drops that batch's own partition — REQUIRED when
    deduping batch N on a replay: its first (possibly partial) attempt
    already landed ``batch=N`` fingerprints, and reading them back
    would make the replay select zero survivors and overwrite the
    corpus directory with nothing. Excluding self makes the replay
    recompute the identical survivor set, so the overwrite is a
    byte-level no-op. Partition pruning turns the exclusion into a
    directory skip, not a filter over index rows."""
    try:
        idx = spark.read.option("basePath", index_path).parquet(index_path)
    except AnalysisException as exc:
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        if any(code in cond or code in str(exc) for code in _EMPTY_INDEX_ERRORS):
            return driver_rows_df(spark, [], _INDEX_SCHEMA)
        raise
    if exclude_batch is not None:
        idx = idx.filter(F.col("batch") != exclude_batch)
    return idx.select("fingerprint")


def read_bloom(
    spark: SparkSession, bloom_path: str, exclude_batch: int | None = None
) -> DataFrame:
    """The ingest's Bloom sidecar, merged across batch deltas: each
    landed batch contributes a sparse (word, bits) delta under
    ``batch=<id>``, and the filter for the WHOLE index is their bitwise
    OR — one groupBy over a table bounded by n_bits/64 · n_batches rows
    (compaction folds it back to ≤ n_bits/64). Same self-exclusion rule
    as ``read_index``; empty (nothing landed) means "no members", which
    fails safe: every probe comes back maybe=False only when provably
    absent from an empty set — i.e. everything is clean, matching the
    empty index."""
    try:
        df = spark.read.option("basePath", bloom_path).parquet(bloom_path)
    except AnalysisException as exc:
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        if any(code in cond or code in str(exc) for code in _EMPTY_INDEX_ERRORS):
            return driver_rows_df(spark, [], _BLOOM_SCHEMA)
        raise
    if exclude_batch is not None:
        df = df.filter(F.col("batch") != exclude_batch)
    return df.groupBy("word").agg(F.expr("bit_or(bits)").alias("bits"))


def _landed_batches(spark: SparkSession, path: str) -> set[int]:
    """The ``batch=<id>`` partition ids landed under ``path`` (empty if
    nothing landed). Read through the same object-store-safe parquet
    path as ``read_index`` — the distinct is over the partition column
    only, so it costs a listing + footer reads, never data pages."""
    try:
        df = spark.read.option("basePath", path).parquet(path)
    except AnalysisException as exc:
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        if any(code in cond or code in str(exc) for code in _EMPTY_INDEX_ERRORS):
            return set()
        raise
    return {int(r["batch"]) for r in df.select("batch").distinct().collect()}


def _backfill_bloom(
    spark: SparkSession, index_path: str, bloom_path: str, missing: set[int]
) -> None:
    """Rebuild the Bloom deltas for index batches that landed WITHOUT a
    sidecar (bloom_path enabled mid-stream): one delta per missing
    batch, derived from that batch's own landed fingerprints, so the
    merged filter covers the whole index again. One-time migration
    cost — a scan of just the missing partitions."""
    idx = spark.read.option("basePath", index_path).parquet(index_path)
    for b in sorted(missing):
        fps = idx.filter(F.col("batch") == b).select("fingerprint")
        build_fingerprint_bloom(
            fps, STREAM_BLOOM_BITS, STREAM_BLOOM_HASHES
        ).write.mode("overwrite").parquet(
            os.path.join(bloom_path, f"batch={b}")
        )


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    index_path: str,
    bloom_path: str | None = None,
) -> None:
    """Land one micro-batch: dedup vs index, then batch_id-keyed
    idempotent writes (corpus first — replaying after a partial
    failure overwrites the same directories, never duplicates).

    With ``bloom_path`` set, the index probe is Bloom-gated
    (``incremental_dedup_bloom``): the merged sidecar rules most of a
    fresh batch out before the index anti-join, and the batch writes
    its survivors' (word, bits) DELTA under ``batch=<id>`` — additive,
    so the merged filter always covers exactly the index's batches;
    a replayed batch overwrites its own delta like every other write
    here. At 100 TB this turns the per-batch index scan into an
    only-on-collision cost; result-identical either way (pinned).

    Coverage gate: the Bloom guarantee (maybe=False ⇒ definitely
    absent) only holds if EVERY landed index batch contributed a
    delta. Enabling ``bloom_path`` on an index with pre-sidecar
    batches would otherwise silently admit their duplicates —
    maybe=False would skip the probe for fingerprints the filter
    never saw. So each batch first compares the two ``batch=``
    partition sets and BACKFILLS any missing deltas from the index's
    own fingerprints before gating; the sidecar is safe to enable (or
    re-enable) at any point in the stream's life."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    # collapse in-batch doc_id redeliveries FIRST (deterministic keep:
    # smallest text) — incremental_dedup keys on fingerprint, so a
    # doc_id delivered twice would otherwise fan out the join below
    # and land twice in the corpus
    w = Window.partitionBy("doc_id").orderBy(F.asc_nulls_last("text"))
    batch_df = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    index = read_index(spark, index_path, exclude_batch=batch_id)
    if bloom_path is not None:
        missing = (
            _landed_batches(spark, index_path)
            - {int(batch_id)}
            - _landed_batches(spark, bloom_path)
        )
        if missing:
            _backfill_bloom(spark, index_path, bloom_path, missing)
    if bloom_path is None:
        survivors = incremental_dedup(batch_df, index)
    else:
        survivors = incremental_dedup_bloom(
            batch_df,
            index,
            read_bloom(spark, bloom_path, exclude_batch=batch_id),
            STREAM_BLOOM_BITS,
            STREAM_BLOOM_HASHES,
        )
    # one computation feeding two writes: materialize the batch-sized
    # survivor set once instead of re-running the dedup plan per sink
    survivors = survivors.localCheckpoint(eager=True)
    docs = batch_df.join(F.broadcast(survivors.select("doc_id")), "doc_id")
    docs.write.mode("overwrite").parquet(
        os.path.join(corpus_path, f"batch={batch_id}")
    )
    survivors.select("fingerprint").write.mode("overwrite").parquet(
        os.path.join(index_path, f"batch={batch_id}")
    )
    if bloom_path is not None:
        build_fingerprint_bloom(
            survivors.select("fingerprint"),
            STREAM_BLOOM_BITS,
            STREAM_BLOOM_HASHES,
        ).write.mode("overwrite").parquet(
            os.path.join(bloom_path, f"batch={batch_id}")
        )


def start_dedup_ingest(
    docs_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = False,
    bloom_path: str | None = None,
) -> StreamingQuery:
    """Run the dedup ingest against a document stream (``doc_id``,
    ``text``, + any payload columns). The checkpoint gives
    at-least-once micro-batches; the batch_id-keyed writes and the
    index check upgrade the corpus/index state to effectively-once.
    ``bloom_path`` enables the Bloom-gated probe (see
    ``ingest_batch``)."""

    def land(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(batch_df, batch_id, corpus_path, index_path, bloom_path)

    writer = docs_stream.writeStream.foreachBatch(land).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Near-dup ingest: the LSH analog of the exact pipeline above
# ---------------------------------------------------------------------------

_HASHES_SCHEMA = "doc_id long, hs array<bigint>"
_BANDS_SCHEMA = "doc_id long, band int, key string"


def _read_or_empty(
    spark: SparkSession, path: str, schema: str, exclude_batch: int | None
) -> DataFrame:
    try:
        df = spark.read.option("basePath", path).parquet(path)
    except AnalysisException as exc:
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        if any(code in cond or code in str(exc) for code in _EMPTY_INDEX_ERRORS):
            return driver_rows_df(spark, [], schema)
        raise
    if exclude_batch is not None:
        df = df.filter(F.col("batch") != exclude_batch)
    return df.drop("batch")


def read_neardup_index(
    spark: SparkSession, index_path: str, exclude_batch: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """The persisted near-dup index as (hash arrays, band postings) —
    both empty before the first batch lands. Same self-exclusion rule as
    ``read_index``: a replayed batch must not see its own partial
    postings or it would reject all of itself."""
    return (
        _read_or_empty(spark, f"{index_path}/hashes", _HASHES_SCHEMA, exclude_batch),
        _read_or_empty(spark, f"{index_path}/bands", _BANDS_SCHEMA, exclude_batch),
    )


def neardup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    index_path: str,
    threshold: float | None = None,
    hash_profile: str = "portable",
) -> None:
    """Land one micro-batch with NEAR-dup rejection: drop every batch
    doc that near-dups the existing corpus (via the persisted LSH
    index) or an already-KEPT lower-id doc in the same batch (exact
    sequential greedy keep-lowest: scanning ids ascending, a doc is
    rejected iff it near-dups a doc that itself survived — so in a
    chain A~B, B~C with A≁C, A and C are both kept and only B drops,
    exactly as if the docs had arrived one at a time), then append
    survivors' docs,
    hash arrays, and band postings under ``batch=<id>`` overwrite
    directories. Batch text is shingled exactly ONCE (the grouped-hash
    table is checkpointed and feeds the corpus probe, the in-batch
    pairing, and both index writes); corpus text is never read at all.
    Replay-safe like the exact pipeline: self-excluding index read +
    batch_id-keyed overwrites make redelivery a byte-level no-op.
    """
    from scholar_stream_spark.operators import dedup as ddp

    if batch_df.isEmpty():
        return
    if threshold is None:
        threshold = ddp.JACCARD_THRESHOLD
    spark = batch_df.sparkSession
    # collapse doc_id redeliveries first (same rule as ingest_batch)
    w = Window.partitionBy("doc_id").orderBy(F.asc_nulls_last("text"))
    batch_df = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )
    cap = ddp._resolve_doc_freq_cap("auto", hash_profile == "fast")
    # first batch stamps the index's hash-space params; later batches
    # (and any out-of-band incremental_neardup_indexed probe) must match
    # them or fail loudly — mixed hash spaces silently match nothing
    try:
        ddp.check_neardup_index_params(
            spark, index_path, ddp.SHINGLE_N, hash_profile, cap
        )
    except AnalysisException as exc:
        cond = getattr(exc, "getCondition", lambda: None)() or ""
        if not any(
            code in cond or code in str(exc) for code in _EMPTY_INDEX_ERRORS
        ):
            raise
        ddp.write_neardup_index_params(
            spark, index_path, ddp.SHINGLE_N, hash_profile, cap
        )
    bg = ddp._grouped_shingle_hashes(
        batch_df, ddp.SHINGLE_N, hash_profile, cap
    ).localCheckpoint(eager=True)  # one shingling, four consumers
    bb = ddp._band_keys_from_grouped(bg)
    idx_hashes, idx_bands = read_neardup_index(
        spark, index_path, exclude_batch=batch_id
    )
    corpus_hits = ddp._neardup_probe(bg, bb, idx_hashes, idx_bands, threshold)
    # in-batch near-dups: keep-lowest doc_id (pairs always have d1 < d2)
    in_cand = (
        bb.alias("a")
        .join(
            bb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    in_pairs = ddp._verify_jaccard_hashed(in_cand, bg, threshold)
    # Resolve the in-batch pair graph with EXACT sequential greedy, not
    # "reject every d2": rejecting every doc with ANY lower-id partner
    # also drops docs whose only near-dup was itself rejected (chain
    # A~B, B~C would keep only A; sequential arrival keeps A and C).
    # The verified pair list is micro-batch-bounded by construction
    # (near-dup pairs within ONE ingest batch), so it is driver-sized
    # by the same contract as the batch itself; scanning ids ascending,
    # a doc rejects iff a KEPT neighbor precedes it.
    # A doc the corpus already rejected was never "kept", so it must not
    # block its in-batch neighbors either — seed the scan with the
    # corpus-hit ids (batch-bounded, one probe-plan execution).
    corpus_rejects: set[int] = {
        r["new_id"] for r in corpus_hits.select("new_id").distinct().collect()
    }
    adj: dict[int, set[int]] = {}
    for r in in_pairs.select("d1", "d2").collect():
        adj.setdefault(r["d1"], set()).add(r["d2"])
        adj.setdefault(r["d2"], set()).add(r["d1"])
    kept_ids: set[int] = set()
    in_rejects: list[int] = []
    for node in sorted(adj):
        if node in corpus_rejects:
            continue  # already rejected; can never block a later doc
        if adj[node] & kept_ids:  # kept_ids holds only lower ids here
            in_rejects.append(node)
        else:
            kept_ids.add(node)
    all_rejects = sorted(corpus_rejects | set(in_rejects))
    rejects = driver_rows_df(spark,
        [(int(x),) for x in all_rejects], "doc_id long"
    )
    # one computation feeding three writes (same discipline as
    # ingest_batch): without this, the corpus-probe pipeline — index
    # scans + candidate/verify joins — would re-execute per sink
    survivors = batch_df.join(rejects, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    survivors.write.mode("overwrite").parquet(
        os.path.join(corpus_path, f"batch={batch_id}")
    )
    keep = survivors.select("doc_id")
    bg.join(F.broadcast(keep), "doc_id").write.mode("overwrite").parquet(
        os.path.join(index_path, "hashes", f"batch={batch_id}")
    )
    bb.join(F.broadcast(keep), "doc_id").write.mode("overwrite").parquet(
        os.path.join(index_path, "bands", f"batch={batch_id}")
    )


def start_neardup_ingest(
    docs_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = False,
    threshold: float | None = None,
) -> StreamingQuery:
    """Near-dup-rejecting corpus construction over a document stream —
    the streaming face of ``write_neardup_index`` +
    ``incremental_neardup_indexed``."""

    def land(batch_df: DataFrame, batch_id: int) -> None:
        neardup_ingest_batch(
            batch_df, batch_id, corpus_path, index_path, threshold=threshold
        )

    writer = docs_stream.writeStream.foreachBatch(land).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

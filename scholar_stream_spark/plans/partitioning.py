"""Partitioning hygiene for compute-heavy narrow pipelines.

Spark parallelizes a parquet scan by file splits (row groups). When a
compute-heavy *narrow* pipeline (shingle explode, md5 sketching, Arrow
decode UDFs) hangs off a small scan — a handful of files, or one fat
row group — every expression in it runs on that handful of cores, no
matter how many the cluster has: there is no shuffle before the work to
spread it.

``scale_out`` fixes exactly that case: if the input's planned
parallelism is below the session's shuffle parallelism, round-robin
repartition it first (a shuffle of the *small input*, by construction
cheap — the condition only fires when the scan is small). At 100 TB the
scan already yields thousands of splits and this is a structural no-op:
no Exchange is added, the check costs only plan metadata.

This is deliberately NOT an unconditional ``repartition()`` — that
would full-shuffle a 100 TB input to "parallelize" work that is already
parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Memoized planned-parallelism per (session, logical-plan semantic hash).
#: ``df.rdd.getNumPartitions()`` forces a physical-plan compile — cheap
#: once, but operators call ``scale_out`` on every invocation and benches
#: build the same scans repeatedly. The semantic hash is computed from
#: the logical plan only (no physical planning). A hash collision could
#: at worst reuse a stale partition count — a performance heuristic
#: miss, never a correctness issue.
_PLAN_PARTITIONS_CACHE: dict[tuple[int, int], int] = {}
_CACHE_MAX = 256


def scale_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure ``df`` has at least shuffle-parallelism partitions.

    Returns ``df`` untouched when its planned partitioning is already
    wide enough (the 100 TB case); otherwise round-robin repartitions to
    ``min_partitions`` (default: ``spark.sql.shuffle.partitions``).
    """
    # Streaming DataFrames pass through untouched: planned-parallelism
    # inspection (`.rdd`) is illegal on a stream, and micro-batch
    # parallelism is the source's concern — this also keeps every
    # scale_out-wrapped stateless operator directly usable on a
    # readStream (batch/stream parity, pinned in test_streaming).
    if df.isStreaming:
        return df
    if min_partitions is None:
        min_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    key = (id(df.sparkSession), df.semanticHash())
    n = _PLAN_PARTITIONS_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_PLAN_PARTITIONS_CACHE) >= _CACHE_MAX:
            _PLAN_PARTITIONS_CACHE.clear()
        _PLAN_PARTITIONS_CACHE[key] = n
    if n >= min_partitions:
        return df
    return df.repartition(min_partitions)

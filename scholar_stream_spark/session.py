"""SparkSession factory.

Session-level decisions (why each config):

- ``spark.sql.session.timeZone=UTC``: the reference pipeline is UTC
  end-to-end (producer stamps ``datetime.now(timezone.utc)``, the
  dashboard forces ``ALTER SESSION SET TIMEZONE='UTC'`` —
  reference ``ingestion/producer.py:87``, ``app/home.py:65``).
- ``spark.sql.ansi.enabled=false``: the reference's analytical layer is
  deliberately lenient — ``TRY_TO_TIMESTAMP_TZ`` / ``TRY_TO_NUMBER``
  return NULL on malformed input (reference
  ``sql/04_views_curated.sql:18-32``) and array-head extraction of an
  empty ``authorships`` list yields NULL (``ingestion/schema.py:59-60``).
  Spark 4 defaults ANSI on; we opt out so ``arr[0]`` / lenient casts are
  NULL-on-error, and still use explicit ``try_cast``/``try_to_timestamp``
  everywhere it matters.
- AQE on (+ coalescePartitions + skewJoin): at 100 TB the right shuffle
  partitioning is data-dependent; AQE re-plans post-shuffle, coalesces
  tiny partitions and splits skewed ones at runtime.
- ``autoBroadcastJoinThreshold`` left at default (10 MB) — dimension
  tables (region/nation/customer at small SF) broadcast automatically;
  operators that KNOW a side is small hint ``broadcast()`` explicitly.
- Arrow enabled: every pandas interchange (``toPandas``, pandas UDFs,
  ``mapInPandas`` in the multimodal ops) goes through Arrow batches.
- ``spark.sql.shuffle.partitions`` follows the master. On a ``local``
  master it is the master's thread count (``defaultParallelism``): the
  reference serves small reads on one machine, where each stage costs
  its task count in scheduling, not data, so 32 tasks on 4 threads ran
  8 waves of near-empty tasks for every shuffle and every
  ``scale_out`` repartition. On any other master it stays at
  ``DEFAULT_SHUFFLE_PARTITIONS``: a cluster's core count is not known
  when the session starts, executors come and go, and at 100 TB AQE
  coalesces the 32-way shuffle down or splits skew up at run time.
  An explicit ``shuffle_partitions`` always wins.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Shuffle parallelism on a non-local master. On a real cluster this is
#: sized to ~2-3x total executor cores (or left to AQE's
#: ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
DEFAULT_SHUFFLE_PARTITIONS = 32


def derived_shuffle_partitions(master: str, default_parallelism: int) -> int:
    """Shuffle parallelism for a session on ``master`` whose context
    reports ``default_parallelism``: the local thread count on a
    ``local`` master, ``DEFAULT_SHUFFLE_PARTITIONS`` elsewhere."""
    if master.startswith("local"):
        return default_parallelism
    return DEFAULT_SHUFFLE_PARTITIONS


def get_spark(
    app_name: str = "scholar-stream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    so bench/test runs use the provisioned cores; on a real cluster the
    caller passes the cluster master / relies on spark-submit.
    ``shuffle_partitions`` defaults to ``derived_shuffle_partitions``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy (r17 optimization round, guide §3.1/§9): let the
        # planner pick shuffled-hash over sort-merge when the per-
        # partition build side fits — skips both sort passes; measured
        # −7% across the 20 join-heaviest queries at sf0.1 with
        # identical results (full oracle mirror green under this conf).
        # The AQE threshold additionally rewrites sort-merge to
        # shuffled-hash at runtime when every post-shuffle partition is
        # under 64 MB — a size-gated, scale-safe bound (sort-merge
        # remains the fallback whenever the build side could not fit).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64MB",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: keep row-group pruning + nested-column pruning on
        # (defaults, pinned here because the curated views rely on them).
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # UI is dead weight in tests/bench containers.
        .config("spark.ui.enabled", "false")
    )
    conf = {}
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        # the thread count is only known once the context is up
        # (``local[*]``); the conf is a runtime one, so set it now
        sc = spark.sparkContext
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(derived_shuffle_partitions(sc.master, sc.defaultParallelism)),
        )
    return spark

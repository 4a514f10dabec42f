"""Type-adaptive loaders for the benchmark parquet tables.

The generated ``events.parquet`` has shipped with two different ``ts``
physical types across testdata generations: TIMESTAMP(NANOS) (which
Spark's reader only surfaces as int64 via the ``nanosAsLong`` legacy
conf) and plain ``timestamp[us]``. ``load_events`` sniffs the landed
dtype after the read and floor-converts nanos→micros only when the
column actually arrived as ``bigint`` — matching DuckDB's ns→µs
truncation on its view — so the same code path works against either
generation. All other tables are parquet reads whose schema is
inferred once per file version (``_SCHEMAS``): inference is a Spark job
of its own, which every read of a table would otherwise pay again.
"""

from __future__ import annotations

import os
import weakref
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Inferred parquet schemas, per session (inference reads the session's
#: confs): absolute path -> (stamp, schema). A rewrite changes the stamp
#: and replaces the entry, so each session holds one entry per path.
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()


def _stamp(path: str) -> tuple:
    """``(size, mtime_ns)`` of a file, or of each entry of a directory."""
    if os.path.isdir(path):
        with os.scandir(path) as it:
            entries = [(e.name, e.stat()) for e in it]
        return tuple(
            sorted((n, st.st_size, st.st_mtime_ns) for n, st in entries)
        )
    st = os.stat(path)
    return (st.st_size, st.st_mtime_ns)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read ``{sf_dir}/events.parquet`` with a normalized timestamp ``ts``.

    Works whether the file carries int64 nanos (legacy TIMESTAMP(NANOS))
    or a plain parquet timestamp; the output ``ts`` is always
    ``timestamp`` at microsecond precision.
    """
    # The legacy conf is a session-global: set it only for this read and
    # restore the prior value so later TIMESTAMP(NANOS) parquet reads in
    # the same session keep whatever behavior the caller configured.
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        # force schema resolution while the conf is active; the physical
        # scan re-reads the footer lazily but the resolved schema (and
        # our dtype branch below) is what the plan locks in
        dtype = dict(df.dtypes).get("ts")
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # Streaming watermarks require TIMESTAMP (not NTZ); the session
        # timezone is pinned UTC (session.py), so this cast relabels the
        # type without shifting any wall-clock value.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read any benchmark table; routes ``events`` through ``load_events``.

    The schema of any other table is inferred on its first read and
    remembered per session and file version (``_SCHEMAS``); URI paths
    and paths that cannot be stat-ed are inferred on every read.
    """
    if name == "events":
        return load_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    if urlsplit(path).scheme:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    try:
        stamp = _stamp(key)
    except OSError:
        return spark.read.parquet(path)
    schemas = _SCHEMAS.setdefault(spark, {})
    hit = schemas.get(key)
    if hit is not None and hit[0] == stamp:
        # a fresh relation all the same: self-joins keep distinct
        # attributes
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[key] = (stamp, df.schema)
    return df

"""Driver/distributed hybrids: one bounded probe picks the branch.

Many operators keep a driver fast path (numpy, union-find or peeling
over a collected copy, no per-round Spark jobs) next to the
distributed plan a 100 TB input takes. The input decides, never a user
option: the driver branch runs iff ``bounded_probe`` finds at most
``cap`` rows, and those rows are its input, so the common small case
costs one bounded job. Each site keeps its own empty-input rule and
any second bound on the probe rows (the triangle node cap).

Tests force every distributed branch at once by monkeypatching
``bounded_probe`` on this module to return ``None``, so call sites
call it as ``hybrid.bounded_probe``, never through a bare import.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

#: Edge cap shared by every graph hybrid (connected components,
#: PageRank, HITS, k-core, triangles, assortativity): 1M edge rows is
#: tens of MB on the driver; the largest graph a query builds at sf0.1
#: (user co-activity, ~142k edges) sits well below it.
DRIVER_EDGE_CAP = 1_000_000


def bounded_probe(df: DataFrame, cap: int, *, arrow: bool = False):
    """The rows of ``df`` when it holds at most ``cap`` of them, else
    ``None`` — one ``limit(cap + 1)`` job either way.

    ``arrow=True`` returns a pandas DataFrame collected as one Arrow
    batch instead of a list of Rows: a 142k-edge probe costs ~1 s as
    py4j Row deserialization and ~50 ms as Arrow (r17)."""
    head = df.limit(cap + 1)
    rows = head.toPandas() if arrow else head.collect()
    return rows if len(rows) <= cap else None


#: One parallelize slice per this many driver rows. Driver-built tables
#: are bounded by construction at every call site (query batches, param
#: rows, probe-capped kernel outputs), so slice counts stay small; the
#: constant only matters for the largest driver-CC maps (~100k rows →
#: 2 slices).
_ROWS_PER_SLICE = 65536


def driver_rows_df(spark, rows, schema, rows_per_slice: int = _ROWS_PER_SLICE):
    """``createDataFrame`` for a driver-held row list WITHOUT the default
    defaultParallelism-way slicing.

    ``spark.createDataFrame(list, ...)`` parallelizes the list into
    ``defaultParallelism`` slices (32 on local[32]) no matter how small
    it is, and every downstream task touching a slice pays a
    Python-worker round-trip to deserialize it. The pathological case is
    ``coalesce(1).write``: the single task drains all 32 slices
    SEQUENTIALLY — a 256-row codebook write measured 4.4 s vs 0.31 s
    with one slice (13x). Broadcast builds and tiny join sides pay the
    same tax in parallel (32 scheduled tasks for rows that fit one).

    Slices scale with ``len(rows)`` so an unusually large driver table
    still parallelizes; at 1 slice per 64k rows the driver-CC cluster
    maps (the largest caller, probe-bounded ~100k rows) get 2.

    Arrow transfer (r17 opt, guide §6 "Arrow for driver transfers"): the
    rows are packed into ONE pyarrow Table with the Arrow schema
    derived from the declared Spark schema — no per-row pickling, no
    Python-worker deserialization downstream, and exact types by
    construction (int64 stays int64; no pandas float round-trip).
    Measured: 1500-row noop 0.23 → 0.10 s, coalesce(1) parquet write
    0.36 → 0.24 s, values/schema/NULLs/decimals/timestamps verified
    identical. A row pyarrow cannot convert to the declared schema
    raises.
    """
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
    from pyspark.sql.types import (  # noqa: PLC0415
        StructType,
        _parse_datatype_string,
    )

    data = rows if isinstance(rows, list) else list(rows)
    st = (
        schema
        if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    arrow_schema = to_arrow_schema(st)
    arrays = [
        pa.array([r[i] for r in data], type=f.type)
        for i, f in enumerate(arrow_schema)
    ]
    df = spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema)
    )
    # the Arrow conversion still chunks defaultParallelism ways; a
    # narrow coalesce restores the size-scaled slice contract
    return df.coalesce(max(1, math.ceil(len(data) / rows_per_slice)))

"""Partitioned table writes — the silver/gold sink discipline
(SURVEY §2.1 sink surface, generalized beyond the NDJSON wire).

At 100 TB the WRITE layout decides later read cost, and the default
``df.write.partitionBy(...)`` has a trap: every task holds an open file
per partition value it sees, so T tasks × P partitions = T×P small
files (and T×P open file handles). The fix is structural, not a config:
repartition BY the partition columns first, so each partition value
lands in few tasks, then cap rows per file for bounded memory at read
time. ``sortWithinPartitions`` adds clustering (e.g. by a join/filter
key) so min/max parquet stats actually prune.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from scholar_stream_spark.plans.hybrid import driver_rows_df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    max_records_per_file: int | None = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a partitioned parquet table with small-file
    discipline: shuffle rows to their partition first (bounded file
    count), optionally cluster within files, cap rows per file.

    AQE's coalescing keeps the pre-write shuffle from producing tiny
    tasks; a skewed partition value still splits across tasks (and
    therefore files), which is correct — one giant file would serialize
    the read instead.
    """
    out = df.repartition(*[df[c] for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.partitionBy(*partition_cols).parquet(path)


#: Files smaller than this count as "small" in the health report (the
#: classic HDFS/object-store small-file threshold heuristic: files well
#: under one row group give scans footer-read overhead per data byte).
SMALL_FILE_BYTES = 1 << 20


def table_file_stats(spark, path: str) -> "DataFrame":
    """Small-file health of a parquet table directory: file count,
    byte totals/extremes, and how many files sit under the small-file
    threshold — the number that tells an operator WHEN to run the
    compaction operators (`compact_neardup_index`,
    `compact_fingerprint_index`, `compact_ivf_index` — this module's
    `write_partitioned` is the prevention, this report is the
    monitoring). A streaming sink that accretes thousands of tiny
    part files pays file-listing + footer reads proportional to FILE
    COUNT, not data size, on every scan.

    This is deliberately a DRIVER-side metadata walk (Hadoop
    FileSystem listing, no Spark job): the listing cost IS the quantity
    being measured, and it is bounded by file count — the same bound
    the report exists to keep small. Hidden/_SUCCESS/checksum files are
    excluded, matching what a scan would read.

    Output: one row (n_files, total_bytes, min_bytes, max_bytes,
    mean_bytes, n_small, small_frac).
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    sizes = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        sizes.append(int(st.getLen()))
    n = len(sizes)
    total = sum(sizes)
    n_small = sum(1 for s in sizes if s < SMALL_FILE_BYTES)
    return driver_rows_df(spark,
        [(
            n,
            total,
            min(sizes) if sizes else 0,
            max(sizes) if sizes else 0,
            round(total / n, 4) if n else 0.0,
            n_small,
            round(n_small / n, 4) if n else 0.0,
        )],
        "n_files long, total_bytes long, min_bytes long, max_bytes long,"
        " mean_bytes double, n_small long, small_frac double",
    )

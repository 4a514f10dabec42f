"""Per-query fixed costs: the session's shuffle parallelism and the
parquet schema inference of ``load_table``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from scholar_stream_spark.session import (
    DEFAULT_SHUFFLE_PARTITIONS,
    derived_shuffle_partitions,
)
from scholar_stream_spark.sources.tables import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_derived_shuffle_partitions_follow_the_master():
    assert derived_shuffle_partitions("local[3]", 3) == 3
    assert derived_shuffle_partitions("local", 1) == 1
    for master in ("spark://head:7077", "yarn", "k8s://https://api:6443"):
        assert derived_shuffle_partitions(master, 64) == 32
    assert DEFAULT_SHUFFLE_PARTITIONS == 32


def test_shared_session_runs_the_library_default(spark):
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


_LOCAL_MASTERS = """
import json, sys
from scholar_stream_spark.session import get_spark
out = {}
for master in ("local[3]", "local", "local[*]"):
    s = get_spark(app_name="derived-partitions", master=master)
    out[master] = int(s.conf.get("spark.sql.shuffle.partitions"))
    out["cores"] = s._jvm.java.lang.Runtime.getRuntime().availableProcessors()
    s.stop()
s = get_spark(app_name="explicit-partitions", master="local[3]",
              shuffle_partitions=7)
out["explicit"] = int(s.conf.get("spark.sql.shuffle.partitions"))
s.stop()
print(json.dumps(out))
"""


def test_local_masters_derive_their_thread_count():
    """A fresh process per master set: the shared test session stays
    as it is."""
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _LOCAL_MASTERS],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["local[3]"] == 3
    assert got["local"] == 1
    assert got["local[*]"] == got["cores"]
    assert got["explicit"] == 7


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_each_schema_once(spark, tmp_path):
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                  "v": pa.array(["a", "b", "c"])}),
        str(tmp_path / "t.parquet"),
    )
    first, n_first = _jobs_in(
        spark, "schema-first", lambda: load_table(spark, str(tmp_path), "t")
    )
    second, n_second = _jobs_in(
        spark, "schema-second", lambda: load_table(spark, str(tmp_path), "t")
    )
    assert n_first >= 1  # the inference job the memo saves
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    # each read is its own relation: a self-join resolves both sides
    pairs = first.alias("a").join(second.alias("b"), "k").select("a.v", "b.v")
    assert sorted(pairs.collect()) == [("a", "a"), ("b", "b"), ("c", "c")]


def test_load_table_reinfers_a_rewritten_table(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,), (2,)], "k long").write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    spark.createDataFrame([("x", 0.5)], "name string, w double").write.mode(
        "overwrite"
    ).parquet(path)
    again = load_table(spark, str(tmp_path), "t")
    assert dict(again.dtypes) == {"name": "string", "w": "double"}
    assert again.collect() == [("x", 0.5)]

"""Local mirror of the driver's correctness gate.

For every entry in ``__spark_entry__.queries()`` with an oracle, run the
Spark query AND the DuckDB SQL at sf0.01 and compare row count, sorted
column names, and (order-insensitively) every value — the same contract
the driver's CORRECTNESS check applies, but strict on values so drift is
caught here first. Oracle-less queries get the weaker rows-and-schema
check.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_LARGE, SF_ORACLE, force_above_cap

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    """``duck(sf_dir)`` → a DuckDB connection with views over that
    scale factor's tables, opened once per module."""
    cons = {}

    def con(sf_dir):
        if sf_dir not in cons:
            c = cons[sf_dir] = duckdb.connect()
            for t in TABLES:
                c.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
        return cons[sf_dir]

    yield con
    for c in cons.values():
        c.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype("string")
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(
        drop=True
    )
    return df


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def _compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    # dtype KINDS must agree before any value coercion: the driver's
    # value hash is dtype-sensitive, so a Spark BIGINT vs oracle float64
    # (the HUGEINT drift class) must fail HERE, not only in the driver.
    # Exception: an all-NULL object column (e.g. an empty result set)
    # carries no kind information.
    for col in spark_pdf.columns:
        sk, dk = _kind(spark_pdf[col]), _kind(duck_pdf[col])
        if sk != dk and not (
            (sk == "object" and spark_pdf[col].isna().all())
            or (dk == "object" and duck_pdf[col].isna().all())
        ):
            raise AssertionError(
                f"{name}.{col}: dtype kind {sk} (spark) vs {dk} (oracle) — "
                "the driver hash would mismatch even on equal values"
            )
    s = _normalize(spark_pdf)
    d = _normalize(duck_pdf)
    for col in s.columns:
        sv, dv = s[col], d[col]
        if pd.api.types.is_float_dtype(sv):
            mism = ~(
                (sv.isna() & dv.isna())
                | (sv == dv)
            )
            bad = s[mism]
            assert mism.sum() == 0, (
                f"{name}.{col}: {int(mism.sum())} float mismatches; "
                f"first: spark={sv[mism].head(3).tolist()} "
                f"duck={dv[mism].head(3).tolist()}"
            )
        else:
            mism = ~((sv.isna() & dv.isna()) | (sv == dv))
            assert mism.sum() == 0, (
                f"{name}.{col}: {int(mism.sum())} mismatches; "
                f"first: spark={sv[mism].head(3).tolist()} "
                f"duck={dv[mism].head(3).tolist()}"
            )


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

#: Every oracle-backed query whose plan reaches a driver/distributed
#: hybrid (``plans.hybrid.bounded_probe``): connected components
#: (``dedup.hybrid_components``), triangles and clustering, degree
#: assortativity, and the QI ladder report and its enforcement. At
#: sf0.01 every input sits far below its cap, so each runs a second
#: time forced above it: the distributed branch a large corpus takes,
#: on whole queries.
HYBRID_QUERIES = [
    "audio_dedup_survivors",
    "audio_neardup_clusters",
    "cluster_safe_splits",
    "dedup_cluster_sizes",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_survivor_map",
    "generalize_qi_report",
    "generalize_quasi_identifiers",
    "image_dedup_survivors",
    "image_neardup_clusters",
    "multimodal_dedup_funnel",
    "nation_assortativity",
    "nation_clustering",
    "nation_triangles",
    "snm_entity_clusters",
    "snm_survivor_map",
    "user_assortativity",
    "user_clustering",
    "user_triangles",
    "video_dedup_survivors",
    "video_neardup_clusters",
]
#: Queries whose sf0.01 output is empty, so they also run at sf0.1,
#: where they have rows to compare (on both branches).
SF_LARGE_QUERIES = ["image_neardup_clusters"]
CASES = (
    [pytest.param(n, False, SF_ORACLE, id=n) for n in sorted(QUERIES)]
    + [
        pytest.param(n, True, SF_ORACLE, id=f"{n}-above-cap")
        for n in HYBRID_QUERIES
    ]
    + [
        pytest.param(n, above, SF_LARGE, id=f"{n}-sf0.1{suffix}")
        for n in SF_LARGE_QUERIES
        for above, suffix in ((False, ""), (True, "-above-cap"))
    ]
)


@pytest.mark.parametrize("name,above_cap,sf_dir", CASES)
def test_query_matches_oracle(
    name, above_cap, sf_dir, spark, duck, monkeypatch
):
    if above_cap:
        force_above_cap(monkeypatch)
    sdf = QUERIES[name](spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if name not in ORACLES:
        # rows-only contract: runs, has rows, stable schema
        assert len(spark_pdf.columns) > 0
        assert len(spark_pdf) >= 0
        return
    duck_pdf = duck(sf_dir).execute(ORACLES[name]).fetchdf()
    if sf_dir != SF_ORACLE:
        # an sf0.1 input exists because sf0.01 is empty: it must not be
        assert len(duck_pdf) > 0, name
    _compare(name, spark_pdf, duck_pdf)


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


# DuckDB output types that survive the driver's pandas round-trip with
# the same value semantics Spark produces. Anything else (HUGEINT from
# an uncast SUM, DECIMAL from bare numeric literals/aggregates, ...)
# surfaces as float64/object on the oracle side and hash-mismatches the
# driver's value comparison even when every value is equal — the bug
# class that hit stats_by_type (r2) and pack_docs/repetition_stats (r4).
_SPARK_COMPATIBLE_TYPES = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "FLOAT", "DOUBLE",
    "VARCHAR", "BOOLEAN", "DATE",
    "TIMESTAMP", "TIMESTAMP WITH TIME ZONE",
}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_output_types_spark_compatible(name, duck):
    rows = duck(SF_ORACLE).execute(f"DESCRIBE {ORACLES[name]}").fetchall()
    bad = [
        (col, typ)
        for col, typ, *_ in rows
        if typ not in _SPARK_COMPATIBLE_TYPES
        and not typ.endswith("[]")  # array cols are compared element-wise
    ]
    assert not bad, (
        f"{name}: oracle SQL leaks non-Spark-compatible output types {bad}; "
        "CAST the offending aggregate/expression (e.g. AS BIGINT/DOUBLE) "
        "so the driver's value hash sees identical dtypes"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "work_id" in df.columns and "email" in df.columns

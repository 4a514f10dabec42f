"""ANSI-mode regression: the portable hash must be overflow-free.

The driver's correctness harness runs a Spark 4 session with the default
``spark.sql.ansi.enabled=true``, while the engine's own session factory
opts out (lenient casts).  Round 1 shipped a 32-bit positional multiply
in ``hex48_sql`` that threw ARITHMETIC_OVERFLOW under ANSI — these tests
pin every portable-hash operator to run clean with ANSI on, and to
produce results identical to the ANSI-off run (no silent wraparound
divergence either way).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scholar_stream_spark.functions.hashing import hex48_spark_sql, hex48_sql
from scholar_stream_spark.operators import dedup
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


@pytest.fixture()
def ansi_on(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_hex48_is_64bit_under_ansi(ansi_on):
    # 16^11 place value: any 32-bit multiply overflows for hex digits >= 2.
    h = hex48_sql("'x'")
    row = ansi_on.sql(f"SELECT {h} AS h, md5('x') AS m").first()
    assert row["h"] == int(row["m"][:12], 16)
    assert 0 <= row["h"] < 2**48


def test_hex48_spark_conv_equals_duckdb_positional_sum(ansi_on):
    """The Spark conv() form and the DuckDB positional-sum form are two
    texts for ONE function — pin their equality (both run fine in Spark)."""
    import duckdb

    for probe in ("'x'", "'hello world'", "''"):
        fast = ansi_on.sql(
            f"SELECT {hex48_spark_sql(probe)} AS h"
        ).first()["h"]
        slow_spark = ansi_on.sql(f"SELECT {hex48_sql(probe)} AS h").first()["h"]
        slow_duck = duckdb.sql(f"SELECT {hex48_sql(probe)} AS h").fetchone()[0]
        assert fast == slow_spark == slow_duck, probe


def test_minhash_lsh_ansi_matches_lenient(spark, docs):
    lenient = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        strict = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in dedup.minhash_lsh_pairs(docs).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert strict == lenient
    assert len(strict) > 0


def test_simhash_ansi_matches_lenient(spark, docs):
    lenient = {
        (r["d1"], r["d2"], r["hamming"])
        for r in dedup.simhash_pairs(docs).collect()
    }
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        strict = {
            (r["d1"], r["d2"], r["hamming"])
            for r in dedup.simhash_pairs(docs).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert strict == lenient


def test_minhash_signatures_ansi(ansi_on, docs):
    # signatures themselves (the stage that overflowed) compute clean
    sigs = dedup.minhash_signatures(docs)
    assert sigs.count() == docs.count()
    first = sigs.select(F.col("s0")).first()
    assert first["s0"] is not None


def _chain_edges(spark, n: int, base: int):
    """Symmetric chain base..base+n-1 — needs >2 star rounds, so the
    kernel's convergence checksum actually executes multiple
    iterations. ``base`` near 2^62 makes a LongType sum of ids/hashes
    overflow within a handful of rows, which is exactly the class the
    DECIMAL(38,0) cast exists for."""
    rows = [(base + i, base + i + 1) for i in range(n - 1)]
    rows += [(b, a) for a, b in rows]
    return spark.createDataFrame(rows, "d1 long, d2 long")


@pytest.mark.parametrize("kernel", ["star"])
def test_cc_kernels_distributed_loop_under_ansi(ansi_on, kernel):
    """The CORRECTNESS_r14 hole: no oracle entry had ever executed the
    distributed star loop, and its xxhash64 convergence checksum summed
    as LongType threw ARITHMETIC_OVERFLOW under the driver's ANSI-on
    Spark 4 session. Drive the kernel directly on a multi-round edge
    set with ids near 2^62 — overflow-certain for any LongType running
    sum — and pin the labels."""
    base = 2**62 + 7
    edges = _chain_edges(ansi_on, 40, base)
    got = {
        r["node"]: r["lbl"]
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {base + i: base for i in range(40)}


def test_star_kernel_raises_loudly_at_round_cap(spark):
    """The star kernel must NOT fall out of its loop silently: a
    non-fixpoint edge set makes the star-forest extraction emit wrong
    labels. On a 2^10-node chain, one alternated round cannot reach the
    fixpoint-confirmation state (detection needs a no-change round), so
    max_iter=1 must raise, and the default cap must succeed."""
    edges = _chain_edges(spark, 1024, 10_000)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iter=1)
    ok = dedup.connected_components(edges)
    assert ok.select(F.countDistinct("lbl")).first()[0] == 1


def _fleet_names():
    import __spark_entry__ as entry_mod

    return sorted(entry_mod.queries())


@pytest.mark.parametrize("name", _fleet_names())
def test_fleet_ansi_smoke(ansi_on, name):
    """Structural ANSI gate (r14 verdict item 2): EVERY queries() entry
    must execute under the driver's ANSI-on session. Three ANSI
    incidents (r1 hex48, r9 decimal casts, r14 star checksum) each
    slipped past a hand-curated name list; this sweep makes the class
    unreintroducible. Values are proven by the sf0.01 oracle sweep
    (test_oracle.py) — this proves ANSI-executability at sf0.001, so
    .first() (which still runs the whole plan for aggregates/sorts/joins
    and any overflow-prone expression) is the right cheap probe."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[name](ansi_on, SF_SMALL)
    df.first()  # None (empty result) is fine — throwing is the failure


def test_round2_queries_run_under_ansi(spark):
    """Every round-2 query family that does integer arithmetic must run
    clean under the driver's ANSI-on session and produce results
    identical to the lenient run (no silent wraparound either way)."""
    import __spark_entry__ as entry_mod

    sf_dir = SF_SMALL
    names = [
        "stats_by_type",
        "quantize_embeddings",
        "chunk_docs",
        "scd2_apply",
        "scd2_as_of",
        "incr_rollup",
        "vocab_coverage",
        "heavy_hitters",
        "value_percentiles_sketch",
        "salted_join_revenue",
        "dedup_clusters",
        "value_histogram",
        # round-5 additions with integer span/lane arithmetic
        "dup_spans",
        "remove_dup_spans",
        "dedup_simhash",
    ]
    queries = entry_mod.queries()
    lenient = {
        n: sorted(map(tuple, queries[n](spark, sf_dir).collect()))
        for n in names
    }
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for n in names:
            strict = sorted(map(tuple, queries[n](spark, sf_dir).collect()))
            assert strict == lenient[n], f"{n}: ANSI-on result differs"
            assert len(strict) > 0, f"{n}: empty result"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)

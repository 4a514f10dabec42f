"""Property-based check of both branches of ``dedup.hybrid_components``
— the driver union-find and the distributed star kernel — against a
Python union-find reference.

The star kernel's correctness hinges on the large-star/small-star emit
rules and the convergence check. Hypothesis drives adversarial small
graphs — chains, cliques-with-bridges, self-contained stars, duplicate
and reversed edges — and both branches must produce the exact
union-find labels (min member id per component) and component sizes
for every node that appears in an edge.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from scholar_stream_spark.operators import dedup
from tests.conftest import force_above_cap

edge = st.tuples(
    st.integers(min_value=0, max_value=14),
    st.integers(min_value=0, max_value=14),
)


def _reference_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(edge, min_size=1, max_size=25))
def test_cc_kernels_match_union_find(spark, edges):
    # drop self-loops: a doc is trivially its own cluster and the pair
    # generators never emit them
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    want = _reference_labels(edges)
    sizes = Counter(want.values())
    for forced in (False, True):  # driver, then star
        with pytest.MonkeyPatch.context() as mp:
            if forced:
                force_above_cap(mp)
            got = {
                r["node"]: (r["lbl"], r["size"])
                for r in dedup.hybrid_components(df).collect()
            }
        assert got == {n: (lbl, sizes[lbl]) for n, lbl in want.items()}, (
            forced,
            edges,
        )

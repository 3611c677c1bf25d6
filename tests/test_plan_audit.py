"""Plan audit (SURVEY §7 step 9 as a regression guard): no Python in
the hot path.

Every registered query's physical plan must be free of row-at-a-time
Python (`BatchEvalPython`); Arrow-batched Python stages (MapInPandas /
FlatMapGroupsInPandas / ArrowEvalPython) are allowed ONLY in the
queries that deliberately use them for dense math or opaque-binary
decode. Anything else must stay inside JVM whole-stage codegen.
"""

import pytest

from flink_user_behavior_analysis_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# queries whose design includes an Arrow-batched Python stage, each
# listed on purpose: a query absent here must plan no Python at all
ARROW_ALLOWED = {
    "ann_topk",              # BLAS query-matrix scan (mapInArrow)
    "ann_topk_ivf",          # numpy centroid assignment (mapInArrow)
    "ann_topk_ivf_trained",  # same assignment scan, trained centroids
    "ann_topk_pq",           # PQ codebook fit + ADC scan (mapInArrow)
    "ann_topk_ivfpq",        # coarse routing + ADC scan (mapInArrow)
    "ann_topk_ivfpq_stored",  # route+ADC probe over stored cells
    "ann_topk_pq_stored",    # ADC probe over stored codes (mapInArrow)
    "ann_topk_filtered_stored",  # filtered ADC probe over stored cells
    "ann_recall_lsh",        # brute-force leg reuses ann_topk's scan
    "ann_recall_lsh_mp",     # same, multiprobe approximate leg
    "ann_recall_pq_stored",  # brute-force leg + stored-code ADC probe
    "ann_recall_ivfpq_stored",  # brute-force leg + stored-cell ADC probe
    "dedup_embedding_cosine",  # blocked GEMM (applyInPandas)
    "dedup_semantic",        # per-cell GEMM pair kernel (r12)
    "dedup_semantic_stored",  # probe on the GEMM kernels (r13):
                              # cogroup vs-corpus + within-delta
    "dedup_embedding_cosine_lsh",  # per-bucket blocked GEMM (applyInPandas)
    "dedup_embedding_cosine_lsh_mt",  # same, one stage per LSH table
    "semdedup_drift",        # centroid assignment kernel (mapInArrow)
    "dedup_simhash",         # SimHash signatures, hashlib md5 (mapInArrow)
    "doc_fingerprints",      # per-document fingerprints (mapInArrow)
    "winnow_fingerprints",   # winnowing over md5 k-gram hashes (mapInArrow)
    "winnow_overlap",        # same fingerprint kernel, both sides
    "duplicated_spans",      # span hashing kernel (mapInArrow)
    "duplicated_spans_inc",  # same kernel over the delta
    "duplicated_spans_inc_stored",  # same kernel, stored span counts
    "remove_dup_spans",      # same span kernel, feeding the cut
    "multimodal_decode",     # PPM codec over binary payloads (mapInArrow)
    "multimodal_headers",    # PNG/JPEG header parse over binary payloads
    "image_phash_dedup",     # aHash over PPM pixel bytes (r11)
    "image_phash_neardup",   # same hash pass feeding the banded join
}

ARROW_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
               "ArrowEvalPython", "FlatMapCoGroupsInPandas")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_python_in_hot_path(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in the plan"
    )
    if name not in ARROW_ALLOWED:
        hits = [n for n in ARROW_NODES if n in plan]
        assert not hits, f"{name}: unexpected Python stage {hits}"
    # a CartesianProduct is always a scale bug: it means a join lost
    # its equi-condition AND its broadcast (the deliberate 1-row
    # scalar-broadcast cross joins compile to BroadcastNestedLoop,
    # which is fine exactly because the build side is one row)
    assert "CartesianProduct" not in plan, (
        f"{name}: cartesian product in the plan"
    )


@pytest.mark.parametrize("name", ["shipping_priority",
                                  "returned_customers",
                                  "large_volume_orders"])
def test_global_topk_windows_push_down_to_take_ordered(spark, name):
    """Every global `row_number() ... where rnk <= k` in the
    relational suite must keep compiling to TakeOrderedAndProject
    (distributed per-partition top-k, then a k-row window) — the
    window-group-limit pushdown is what makes these safe at a
    fact-sized input, so losing it (e.g. by adding a column the
    optimizer can't see through) would silently reintroduce the
    single-task global sort."""
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, (
        f"{name}: rank filter no longer pushes down to a top-k"
    )
    assert "SinglePartition" not in plan, (
        f"{name}: single-partition exchange appeared in the plan"
    )


def test_staged_queries_free_of_python_and_cartesian(spark):
    """The ONE plan audit for the r8 STAGED queries, run before they
    ever hit the driver window: no Python stages (row-at-a-time OR
    Arrow, except semdedup_drift's allowlisted centroid-assignment
    kernel), no cartesian product,
    and Q21's top-10 must compile to TakeOrderedAndProject (the
    window-group-limit pushdown), NOT a fact-sized single-partition
    window sort."""
    from flink_user_behavior_analysis_spark.queries import (
        cheapest_supplier_per_part,
        discounted_band_revenue,
        customer_order_distribution,
        forecast_revenue_change,
        idle_rich_customers,
        nation_market_share,
        promo_revenue_share,
        small_qty_revenue,
        sole_late_suppliers,
        supplier_part_variety,
        top_revenue_supplier,
    )
    from flink_user_behavior_analysis_spark.queries_pipeline import (
        q_semdedup_drift,
    )

    for fn in (small_qty_revenue, sole_late_suppliers,
               idle_rich_customers, supplier_part_variety,
               q_semdedup_drift, top_revenue_supplier,
               discounted_band_revenue, cheapest_supplier_per_part,
               promo_revenue_share, nation_market_share,
               forecast_revenue_change, customer_order_distribution):
        plan = fn(spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BatchEvalPython" not in plan, fn.__name__
        if fn.__name__.removeprefix("q_") not in ARROW_ALLOWED:
            hits = [n for n in ARROW_NODES if n in plan]
            assert not hits, f"{fn.__name__}: unexpected Python stage {hits}"
        assert "CartesianProduct" not in plan, fn.__name__
        if fn is supplier_part_variety:
            # Q16's NOT-IN exclusion must stay a BROADCAST anti join
            # (the exclusion list is a filtered dim): a shuffled or
            # nested-loop anti here would exchange the lineitem fact
            # on suppkey purely to drop a handful of suppliers.
            assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (
                "Q16's NOT-IN no longer compiles to a broadcast "
                "anti join")
            assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        if fn is sole_late_suppliers:
            assert "TakeOrderedAndProject" in plan, (
                "Q21's rnk<=10 filter no longer pushes down to a "
                "top-k — the global window would sort every supplier "
                "in one task")
        if fn is discounted_band_revenue:
            # Q19: the disjunction's common conjuncts must reach the
            # lineitem scan as pushed filters — an un-extracted OR
            # would scan every lineitem row into the join
            assert "PushedFilters: [" in plan and "l_quantity" in plan, (
                "Q19's quantity bounds no longer push to the scan")
            assert "BroadcastHashJoin" in plan, fn.__name__
        if fn is nation_market_share:
            # Q8: at most ONE non-broadcast join (li⋈orders — at
            # tiny SF even that broadcasts; at scale it is the lone
            # fact exchange); all five dim legs must be broadcast
            # hash joins. Counting BHJ alone would keep passing if
            # one dim leg fell back to a shuffle (r8 review).
            non_broadcast = (plan.count("SortMergeJoin")
                             + plan.count("ShuffledHashJoin"))
            assert non_broadcast <= 1, (
                f"{fn.__name__}: {non_broadcast} shuffled joins — a "
                f"dim leg lost its broadcast")
            assert plan.count("BroadcastHashJoin") >= 5, fn.__name__
        if fn is cheapest_supplier_per_part:
            # Q2's join-back is an equi join on (part, cost) — a
            # nested-loop here would pair every cost row with every
            # per-part min. (top_revenue_supplier legitimately
            # carries one BNLJ: the broadcast 1-row global-max cross
            # join.)
            assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
            assert "BroadcastHashJoin" in plan, fn.__name__


def test_revenue_deciles_has_no_global_window(spark):
    """VERDICT r6 #1 regression guard: the decile assignment must be
    distributed — no Window node may consume an
    `Exchange SinglePartition` (the signature of an unpartitioned
    ntile/row_number funneling the whole frame through one task).
    The fix ranks over a range-partitioned frame with per-partition
    offsets (queries.global_rank), so the plan has a range Exchange
    and per-partition Windows, never a single-partition one."""
    df = QUERIES["revenue_deciles"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan  # the per-partition row_number is still there
    assert "SinglePartition" not in plan, (
        "revenue_deciles funnels the per-user frame through one task"
    )
    # the range exchange now runs INSIDE the localCheckpoint that
    # freezes partition ids (leak fix: checkpoint blocks are
    # GC-freed, a CacheManager persist is not), so the visible plan
    # reads the checkpointed blocks instead of showing the exchange
    assert ("rangepartitioning" in plan.lower()
            or "existingrdd" in plan.lower()), (
        "expected a distributed range exchange (or its checkpointed "
        "result) feeding the rank window"
    )

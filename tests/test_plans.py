"""Physical-plan guards (SURVEY.md §4, 100 TB design review).

These assert the plan SHAPES that matter at scale — filter/column
pushdown into the parquet scan, broadcast of small dims, sort+limit
fusing to TakeOrderedAndProject, no CartesianProduct where a broadcast
NLJ is intended — so a refactor can't silently regress them. The
correctness suite can't catch these: a plan that shuffles everything
still returns the right rows.
"""

from __future__ import annotations

import pytest

from polars_express_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QS = all_queries()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_of(name: str, spark):
    return _plan(QS[name](spark, SF_DIR))


def test_q05_filter_pushdown_reaches_scan(spark):
    """l_shipdate/l_discount predicates must reach the parquet reader."""
    p = plan_of("q05_filter_project", spark)
    assert "PushedFilters:" in p
    assert "l_shipdate" in p.split("PushedFilters:")[1].split("\n")[0]


def test_q05_column_pruning(spark):
    """A 4-column projection must not read the full 16-column lineitem."""
    p = plan_of("q05_filter_project", spark)
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema


def test_q13_broadcasts_filtered_dims(spark):
    """TPC-H Q3 shape: the filtered customer side must broadcast, and the
    final top-10 must be TakeOrderedAndProject, not a global sort."""
    p = plan_of("q13_multi_join", spark)
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q01_preview_is_limit_not_sort_all(spark):
    p = plan_of("q01_preview", spark)
    assert "TakeOrderedAndProject" in p or "CollectLimit" in p


def test_q02_topk_fuses(spark):
    """sort+limit 20 must fuse to distributed top-k."""
    p = plan_of("q02_sort_slice", spark)
    assert "TakeOrderedAndProject" in p


def test_q35_probe_side_broadcast(spark):
    """The bounded probe side must broadcast; the candidate scan must not
    shuffle for the join. (Inspect the underlying brute-force plan — the
    registered q35 serves the per-session materialization of it, whose
    own plan is just a checkpoint scan.)"""
    from polars_express_spark.queries.similarity import _cosine_topk_plan

    p = _plan(_cosine_topk_plan(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q16_cross_join_is_broadcast_nlj(spark):
    """region × nation: tiny dims → broadcast NLJ, never a shuffled
    cartesian."""
    p = plan_of("q16_cross_join", spark)
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_q34_dedup_partial_aggregation(spark):
    """The lang rollup must plan partial (map-side) + final HashAggregate."""
    p = plan_of("q34_exact_dedup", spark)
    assert p.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", ["q_ngram_jaccard", "q_minhash_lsh", "q_embed_neardup"])
def test_neardup_queries_never_cartesian(spark, name):
    """Candidate generation must come from equi-joins (shingle / band
    bucket / label+tile), never a materialized cross join."""
    p = plan_of(name, spark)
    assert "CartesianProduct" not in p


def test_range_join_is_bucketed_equi_join(spark):
    """The point-in-interval join must plan as a hash equi-join on the
    bucket key (broadcast here — the interval side is tiny) with the
    exact range check as a residual condition — NEVER a nested-loop or
    cartesian over the raw range predicate, which is O(|L|·|R|) at
    100 TB."""
    p = plan_of("q_range_join", spark)
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tfidf_partial_aggregation_and_broadcast_count(spark):
    """Both tf and df aggregations must combine map-side; the 1-row
    corpus count must broadcast, not shuffle."""
    p = plan_of("q_tfidf", spark)
    assert p.count("HashAggregate") >= 4  # partial+final for tf and df
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_scd2_merge_no_cartesian(spark):
    """The SCD2 snapshot merge is one key equi-join (broadcast or
    shuffled) plus a union — no nested loop anywhere."""
    p = plan_of("q_scd2_merge", spark)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pack_bins_is_one_grouped_map_shuffle(spark):
    """Sequence packing must be ONE hash shuffle on the block key into
    an Arrow grouped-map (FlatMapGroupsInPandas) — the per-block scan
    never widens beyond its block, and no second aggregation pass
    exists."""
    p = plan_of("q_pack_bins", spark)
    assert "FlatMapGroupsInPandas" in p
    # count tree nodes, not the per-node detail sections that repeat
    # the operator name below the tree
    assert p.count("+- Exchange") <= 1


def test_decontaminate_benchmark_side_broadcasts(spark):
    """The contamination probe must be a broadcast semi-join of corpus
    shingles against the (tiny) benchmark shingle set — never a shuffled
    join of the corpus on shingle strings."""
    p = plan_of("q_decontaminate", spark)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_bloom_probe_filters_at_scan_and_broadcasts(spark):
    """The Bloom probe must be a scalar filter on the fact side (bit_get
    over the broadcast 1-row bitmap frame — BEFORE any exchange) and the
    dim side must broadcast-hash-join; the only nested loop allowed is
    the intended 1-row bitmap attach."""
    p = plan_of("q_bloom_prune", spark)
    assert "bit_get" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # exactly ONE BNLJ: the 1-row bitmap broadcast, never a data join
    tree = p.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") == 1


def test_cms_probe_broadcasts_sketch(spark):
    """Point queries join the ≤ d·w-row sketch as the broadcast side —
    the probe stream itself must never shuffle on the sketch key."""
    p = plan_of("q_cms_tokens", spark)
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2  # partial+final sketch build


def test_gapfill_all_joins_keyed(spark):
    """Grid join and forward-fill window must be keyed operations —
    no nested loop / cartesian from the sequence explode."""
    p = plan_of("q_gapfill", spark)
    assert "Window" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_zorder_partial_agg_and_topk_fusion(spark):
    p = plan_of("q_zorder", spark)
    assert p.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in p


def test_cdc_queries_keyed_joins_only(spark):
    """Merge-on-read, snapshot diff, and the interval overlap all ride
    key/bucket equi-joins — no nested loop, no cartesian."""
    for name in ["q_merge_on_read", "q_snapshot_diff", "q_interval_overlap"]:
        p = plan_of(name, spark)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_profile_is_single_scan(spark):
    """The column profile must read customer ONCE — one scan node, the
    multi-distinct planned via Expand, never per-column rescans."""
    p = plan_of("q_profile", spark)
    tree = p.split("\n\n")[0]  # the plan tree, not per-node details
    assert tree.count("Scan parquet") == 1
    assert "Expand" in p


def test_radius_join_is_bucketed_equi_join(spark):
    """Proximity search must plan as a cell equi-join with the exact
    distance as a residual — never a cartesian over the raw predicate."""
    p = plan_of("q_radius_join", spark)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_market_basket_topk_fuses_before_lift_joins(spark):
    """The top-20 pair selection must fuse to TakeOrderedAndProject and
    the item-frequency joins must ride the broadcast of those 20 rows —
    never a cartesian, and never a global sort of all pairs."""
    p = plan_of("q_market_basket", spark)
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_ks_test_no_global_window_over_base_data(spark):
    """The ECDF running counts ride the two-level bucketed prefix sum:
    the intra-bucket Window is partitioned by the bucket key, and the
    only unpartitioned Window is over the 32-row offsets frame (input =
    the aggregated subtotals, behind a partial+final HashAggregate) —
    the raw per-value frame never funnels through one window task."""
    p = plan_of("q_ks_test", spark)
    tree = p.split("\n\n")[0]
    assert tree.count("Window") == 2
    det = p.split("\n\n", 1)[1] if "\n\n" in p else p
    # intra-bucket window carries the bucket partition key
    assert "__bkt" in det
    assert p.count("HashAggregate") >= 4  # per-value agg + subtotals, partial+final


def test_winsorize_thresholds_broadcast_back(spark):
    """The per-group percentile thresholds (≤5 rows) must broadcast onto
    the scan — the fact side must not shuffle for the threshold join."""
    p = plan_of("q_winsorize", spark)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_zipf_topk_fuses_before_rank_window(spark):
    """The top-200 vocabulary cut must fuse to TakeOrderedAndProject so
    the global rank window only ever sees the bounded 200-row frame."""
    p = plan_of("q_zipf_fit", spark)
    assert "TakeOrderedAndProject" in p


def test_tokenize_vocab_broadcasts(spark):
    """The top-V vocab must ride a broadcast onto the token stream — the
    corpus must never shuffle on token strings for the encode join — and
    the vocab count must combine map-side."""
    p = plan_of("q_tokenize_ids", spark)
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2


def test_classifier_weights_broadcast(spark):
    """The kilobyte weight table must broadcast; the per-doc score is one
    partial+final aggregate."""
    p = plan_of("q_classifier_score", spark)
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2
    assert "CartesianProduct" not in p


def test_hierarchy_plan_stays_flat(spark):
    """Pointer doubling with per-round localCheckpoint: the final plan
    must NOT contain the 2^rounds-deep self-join tree — at most one join
    is visible (the last round's), everything earlier truncated."""
    p = plan_of("q_hierarchy", spark)
    tree = p.split("\n\n")[0]
    assert tree.count("Scan ExistingRDD") + tree.count("LocalTableScan") + tree.count("Scan parquet") <= 3
    assert "CartesianProduct" not in p


def test_semdedup_block_join_only(spark):
    """The quadratic step must be an equi-join on (label, bucket) —
    never a cartesian; both einsum stages are Arrow-batched
    (ArrowEvalPython/MapInPandas), not row-at-a-time."""
    p = plan_of("q_semdedup", spark)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInPandas" in p


def test_unicode_norm_single_map_stage(spark):
    """NFC normalization is one zero-shuffle Arrow map over the scan."""
    p = plan_of("q_unicode_norm", spark)
    tree = p.split("\n\n")[0]
    assert "MapInPandas" in p
    assert tree.count("+- Exchange") == 0


def test_e2e_curation_broadcasts_probe_sides(spark):
    """The capstone pipeline: benchmark ids + shingle set must ride
    broadcasts (the corpus never shuffles for the contamination probe);
    dedup is the only corpus-keyed exchange besides the final rollup."""
    p = plan_of("q_e2e_curation", spark)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_pseudonymize_single_scan_rollup(spark):
    p = plan_of("q_pseudonymize", spark)
    assert "sha2" in p
    assert "CartesianProduct" not in p


def test_lpa_keyed_joins_only(spark):
    p = plan_of("q_lpa_communities", spark)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_lm_score_model_broadcasts(spark):
    """The vocab²-bounded LM table must ride a broadcast onto the
    held-out bigram stream — the corpus must not shuffle on bigrams."""
    p = plan_of("q_lm_score", spark)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_weighted_median_no_per_group_window_over_base_data(spark):
    """r7 rebuild + r10 crossing-bucket prune: every window spec
    carries the bucket key (the offsets/totals windows order the tiny
    subtotal frame by __bkt; the intra-bucket running sum partitions by
    (group, __bkt)), so no task ever sorts a whole group — the old
    shape, PARTITION BY l_returnflag alone, serialized the engine to 3
    reducer tasks however many executors exist. And the big-frame
    window's input is the broadcast semi-pruned crossing bucket, not
    all buckets: the join against the crossing-bucket frame must sit
    BELOW the value-ordered window in the plan."""
    p = plan_of("q_weighted_median", spark)
    tree = p.split("\n\n")[0]
    assert tree.count("Window") == 2
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "__bkt" in spec, f"window not bucket-partitioned: {spec}"
    # the equal-value pre-aggregation (map-side combine) must exist:
    # partial+final for (group, value) agg, subtotals, crossing pick,
    # and the final min — and min_by marks the crossing-bucket pick
    assert p.count("HashAggregate") >= 6
    assert "min_by" in p
    # the value-ordered (intra-bucket) window runs AFTER a broadcast
    # join in the tree — i.e. over the pruned crossing bucket only
    lines = tree.splitlines()
    w_value = next(
        i for i, ln in enumerate(lines) if "Window" in ln
    )  # outermost Window in the tree is the intra-bucket one
    assert any(
        "BroadcastHashJoin" in ln for ln in lines[w_value:]
    ), "intra-bucket window is not fed by the crossing-bucket prune join"


def test_market_basket_pairs_without_self_join(spark):
    """The r8 rework generates co-purchase pairs from per-order basket
    arrays, so the plan's only joins are the broadcast top-20/item-count
    attachments — no sort-merge self-join of the line items, and no
    cartesian anywhere. A reintroduced pair self-join would show up as
    SortMergeJoin over the full scan."""
    p = plan_of("q_market_basket", spark)
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    # pair expansion is expression-level: a Generate (explode) node over
    # the basket arrays, not a join
    assert "Generate" in p, p


def test_winsorize_no_buffering_percentile(spark):
    """q_winsorize's thresholds ride exact_quantiles: the plan must use
    the GK sketch (approx_percentile / percentile_approx) for the
    bracket, never the buffering exact percentile aggregate."""
    p = plan_of("q_winsorize", spark)
    low = p.lower()
    assert "percentile_approx" in low or "approx_percentile" in low, p
    # the buffering aggregate renders as percentile(...); strip the
    # approx spellings and no percentile call may remain
    stripped = low.replace("percentile_approx", "").replace("approx_percentile", "")
    assert "percentile(" not in stripped, p


def test_tpch_pack_never_cartesian(spark):
    """r9 TPC-H pack: every join in the five plans is keyed — no
    CartesianProduct or BroadcastNestedLoopJoin anywhere (Q5's snowflake
    included, whose c_nationkey = s_nationkey edge could degrade to a
    residual-only join if the equi-keys were mis-declared)."""
    for name in ("q_tpch_q5", "q_tpch_q10", "q_tpch_q13", "q_tpch_q17",
                 "q_tpch_q18"):
        p = plan_of(name, spark)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoop" not in p, name


def test_tpch_q5_dims_broadcast_and_filters_push(spark):
    """Q5's region filter must reach the region scan, and the
    region→nation→supplier chain must broadcast (no shuffle for dim
    attachment)."""
    p = plan_of("q_tpch_q5", spark)
    assert "BroadcastHashJoin" in p
    pushed = [seg.split("\n")[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("AFRICA" in s for s in pushed), pushed
    assert any("o_orderdate" in s for s in pushed), pushed


def test_tpch_q10_topk_fuses_and_returnflag_pushes(spark):
    """Q10's top-20 must be TakeOrderedAndProject (per-partition heap,
    no global sort of the per-customer aggregate) and the returnflag
    filter must reach the lineitem scan."""
    p = plan_of("q_tpch_q10", spark)
    assert "TakeOrderedAndProject" in p
    pushed = [seg.split("\n")[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("l_returnflag" in s and "R" in s for s in pushed), pushed


def test_tpch_q17_single_derivation_window(spark):
    """Q17's decorrelated per-part threshold is a WINDOW over the one
    brand-slice derivation (r11: the aggregate-and-rejoin shape
    derived the slice twice — Catalyst does not dedupe common
    subplans): exactly ONE lineitem scan, one Window, and the
    UNHINTED part-slice join still broadcasts at test SF by size
    (the r10 de-hinting must not silently demote it locally)."""
    p = plan_of("q_tpch_q17", spark)
    assert p.count("lineitem.parquet") == 1, p
    tree = p.split("\n\n")[0]
    assert tree.count("Window") == 1, tree
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_tpch_no_sf_proportional_broadcast_hints():
    """r10 scale-posture guard: an explicit `F.broadcast` hint is
    BINDING — AQE will not demote it when the hinted side outgrows the
    threshold — so the TPC-H pack may hint only frames whose size is
    CONSTANT in SF: region (r, 5 rows), nation (n/n1/n2, 25 rows),
    1-row scalar aggregates (mx, avg_bal), and Q15's winner set (top).
    supplier/part/customer slices and per-part thresholds all grow
    linearly with SF and must stay unhinted (r9 verdict finding #1)."""
    import pathlib
    import re

    src = (
        pathlib.Path(__file__).parent.parent
        / "polars_express_spark" / "queries" / "tpch.py"
    ).read_text()
    hinted = re.findall(r"F\.broadcast\((\w+)\)", src)
    allowed = {"r", "n", "n1", "n2", "mx", "avg_bal", "top", "tot"}
    assert set(hinted) <= allowed, sorted(set(hinted) - allowed)
    # the regex only sees simple names — an inline F.broadcast(expr)
    # would evade it, so forbid that form outright in this module
    assert not re.search(r"F\.broadcast\(\s*load_table", src)
    assert not re.search(r"F\.broadcast\(\s*\n", src)


def test_weighted_quantile_no_group_cardinality_broadcast_hints():
    """r11 (same posture, applied to weighted.py's own frames): bounds
    and crossb are GROUP-cardinality — tiny for the documented uses but
    unbounded for a high-cardinality group key, so they must not carry
    a binding hint; the threshold/AQE decides (the plan test above
    proves BHJ is still chosen by size at test SF)."""
    import pathlib

    src = (
        pathlib.Path(__file__).parent.parent
        / "polars_express_spark" / "operators" / "weighted.py"
    ).read_text()
    assert "F.broadcast(" not in src


def test_tpch_q18_aggregates_before_joining(spark):
    """Q18's HAVING spine must aggregate lineitem BEFORE any join: the
    first join input is the filtered per-order aggregate, so the plan
    has a HashAggregate under the join, and the final top-100 fuses to
    TakeOrderedAndProject."""
    p = plan_of("q_tpch_q18", spark)
    assert "TakeOrderedAndProject" in p
    join_pos = p.find("Join")
    agg_pos = p.find("HashAggregate")
    assert agg_pos != -1 and join_pos != -1
    assert "total_qty" in p


def test_rolling_median_single_window_shuffle(spark):
    """q_rolling_median is one window over user_id — exactly one hash
    exchange, no join, no UDF (the order statistic is expression-level:
    array_sort + element_at inside the window projection)."""
    p = plan_of("q_rolling_median", spark)
    assert p.count("hashpartitioning(user_id") == 1, p
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "array_sort" in p or "sort_array" in p, p
    # the sorted frame must be materialized ONCE — a naive projection
    # extracts one collect_list per index reference (observed: 7)
    assert p.count("collect_list") == 1, p.count("collect_list")


def test_tpch_pack2_join_shapes(spark):
    """r9 TPC-H pack, second wave. Q7/Q8/Q15/Q19: keyed joins only.
    Q22 is allowed exactly ONE BroadcastNestedLoopJoin — the 1-row
    scalar avg-balance attach (a non-equi compare against a broadcast
    single-row aggregate, the accepted scalar-attachment pattern);
    its NOT EXISTS must decorrelate to a left anti join."""
    for name in ("q_tpch_q7", "q_tpch_q8", "q_tpch_q15", "q_tpch_q19"):
        p = plan_of(name, spark)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoop" not in p, name
    p22 = plan_of("q_tpch_q22", spark)
    # count tree nodes only — the formatted detail sections repeat names
    assert p22.split("\n\n")[0].count("BroadcastNestedLoopJoin") == 1, p22
    assert "CartesianProduct" not in p22, p22
    assert "LeftAnti" in p22, p22


def test_tpch_q19_is_equi_join_with_residual(spark):
    """Q19's OR-of-ANDs predicate must NOT demote the join to a nested
    loop: Catalyst extracts p_partkey = l_partkey as the hash key and
    keeps the disjunction as a residual, with implied brand filters
    pushed to the part scan."""
    p = plan_of("q_tpch_q19", spark)
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p, p
    pushed = [seg.split("\n")[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("p_brand" in s for s in pushed), pushed


def test_tpch_q15_max_attaches_by_broadcast(spark):
    """Q15's scalar max must attach to the per-supplier revenue frame
    by broadcast (1-row side, hinted), and the winner set `top` — not
    SF-proportional supplier — must be the broadcast side of the final
    attach (r10: the inverted hint from r9 is fixed; no SMJ may appear
    at test SF)."""
    p = plan_of("q_tpch_q15", spark)
    assert p.count("BroadcastHashJoin") >= 1, p
    assert "SortMergeJoin" not in p, p


def test_tpch_q6_pure_scan_aggregate(spark):
    """Q6 is the pushdown showcase: no join at all, all three
    predicates (shipdate window, discount band, quantity cap) reach
    the parquet reader, and the projection prunes to the 4 touched
    columns — at 100 TB this must be one embarrassingly parallel scan
    with constant aggregate state."""
    p = plan_of("q_tpch_q6", spark)
    assert "Join" not in p, p
    pushed = [seg.split("\n")[0] for seg in p.split("PushedFilters:")[1:]]
    joined = " ".join(pushed)
    assert "l_shipdate" in joined and "l_discount" in joined, pushed
    assert "l_quantity" in joined, pushed
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_tpch_pack3_join_shapes(spark):
    """r10 TPC-H third wave. Q4's EXISTS must decorrelate to a LEFT
    SEMI hash join (the non-equi date residual rides the orderkey
    equi-key — never a nested loop); Q12/Q14 are keyed joins with the
    shipdate window pushed to the lineitem scan; none may plan a
    CartesianProduct or BNLJ."""
    for name in ("q_tpch_q4", "q_tpch_q12", "q_tpch_q14"):
        p = plan_of(name, spark)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoop" not in p, name
    p4 = plan_of("q_tpch_q4", spark)
    assert "LeftSemi" in p4, p4
    for name in ("q_tpch_q12", "q_tpch_q14"):
        p = plan_of(name, spark)
        pushed = [seg.split("\n")[0] for seg in p.split("PushedFilters:")[1:]]
        assert any("l_shipdate" in s for s in pushed), (name, pushed)


def test_bm25_posting_join_no_python(spark):
    """q_bm25_rank must stay JVM-side end to end (no Arrow/Python eval
    nodes), attach the 2-row query-term frame by BroadcastHashJoin, and
    carry exactly ONE BroadcastNestedLoopJoin — the declared 1-row
    (N, sum_dl) scalar stats attach."""
    p = plan_of("q_bm25_rank", spark)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    tree = p.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert tree.count("BroadcastNestedLoopJoin") == 1, tree
    assert "CartesianProduct" not in tree, tree


def test_dup_spans_no_all_pairs(spark):
    """q_dup_spans' duplicate detection must be a shingle-keyed
    aggregate + semi-join — never an all-pairs comparison (no
    cartesian/BNLJ) — with the islands window as the only doc-keyed
    sort, and pure JVM rowgen (no Python eval) for the shingling."""
    p = plan_of("q_dup_spans", spark)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    tree = p.split("\n\n")[0]
    assert "CartesianProduct" not in tree and "BroadcastNestedLoop" not in tree, tree
    assert "LeftSemi" in tree, tree
    assert tree.count("Window") == 1, tree


def test_perplexity_keyed_lm_join_no_python(spark):
    """q_perplexity must stay JVM-side (no Python eval), join the LM
    tables by hash equi-joins, and carry exactly ONE
    BroadcastNestedLoopJoin — the declared 1-row vocab-size attach."""
    p = plan_of("q_perplexity", spark)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    tree = p.split("\n\n")[0]
    assert tree.count("BroadcastNestedLoopJoin") == 1, tree
    assert "CartesianProduct" not in tree, tree


def test_tpch_pack4_join_shapes(spark):
    """r11 TPC-H fourth wave (Q2/Q9/Q11/Q16/Q20 — the partsupp-derived
    set). No CartesianProduct anywhere; BNLJ only in Q11 (exactly one —
    the declared 1-row global-total attach). Q2's top-100 fuses to
    TakeOrderedAndProject with the part filters pushed to the scan.
    Q16's NOT-IN blacklist is a LEFT ANTI hash join. Q20's two derived
    relations (all-time availability, window demand) fuse into ONE
    lineitem scan, with both semi-join stages present."""
    for name in ("q_tpch_q2", "q_tpch_q9", "q_tpch_q16", "q_tpch_q20"):
        p = plan_of(name, spark)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoop" not in p, name
    p2 = plan_of("q_tpch_q2", spark)
    assert "TakeOrderedAndProject" in p2, p2
    pushed = [seg.split("\n")[0] for seg in p2.split("PushedFilters:")[1:]]
    assert any("p_size" in s and "p_type" in s for s in pushed), pushed
    # the per-part min is a window over the ONE supply derivation —
    # never an aggregate-and-rejoin that re-scans the fact
    assert p2.count("lineitem.parquet") == 1, p2
    assert p2.split("\n\n")[0].count("Window") == 1, p2
    p11 = plan_of("q_tpch_q11", spark).split("\n\n")[0]
    assert "CartesianProduct" not in p11, p11
    assert p11.count("BroadcastNestedLoopJoin") == 1, p11
    p16 = plan_of("q_tpch_q16", spark)
    assert "LeftAnti" in p16, p16
    p20 = plan_of("q_tpch_q20", spark)
    tree20 = p20.split("\n\n")[0]
    assert tree20.count("LeftSemi") >= 2, tree20
    assert p20.count("lineitem.parquet") == 1, p20
    # the LIKE filters reach the part scan as string pushdowns
    p9 = plan_of("q_tpch_q9", spark)
    assert "StringContains(p_name,red)" in p9, p9
    assert "StringStartsWith(p_name,small)" in p20, p20


def test_tpch_q21_single_pass_window(spark):
    """Q21's EXISTS/NOT-EXISTS correlation must be ONE pass: exactly
    one lineitem scan (a groupBy+rejoin formulation re-scans the
    lineitem⋈orders frame — Catalyst does not dedupe common subplans),
    one Window node carrying both per-order supplier sets, no
    SortMergeJoin, and no countDistinct Expand."""
    p = plan_of("q_tpch_q21", spark)
    assert p.count("lineitem.parquet") == 1, p.count("lineitem.parquet")
    tree = p.split("\n\n")[0]
    assert tree.count("Window") == 1, tree
    assert "SortMergeJoin" not in tree, tree
    assert "Expand" not in tree, tree
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


# Queries whose plans legitimately contain BroadcastNestedLoopJoin
# nodes: every one is a broadcast attach of a BOUNDED (1-row aggregate /
# kilobyte sketch / bitmap / threshold) frame to a data stream — O(n)
# compares against constant-size state — or the declared q16 cross join.
# A BNLJ between two DATA-sized sides would be a scale killer; keeping
# this an explicit allowlist means any new one fails the sweep until
# it is reviewed and declared here.
_BNLJ_ALLOWED = {
    "q16_cross_join",       # declared tiny-dim cross join (5 × 25 rows)
    "q31_nulls",            # null-count scalar attaches
    "q_bloom_prune",        # 1-row bitmap frame attach
    "q_bm25_rank",          # 1-row (N, sum_dl) stats attach
    "q_chi2",               # grand-total attach
    "q_control_chart",      # global mean/stddev attach
    "q_domain_mix",         # per-corpus totals attach
    "q_embed_pca",          # total-variance scalar attach
    "q_fk_audit",           # per-table total attaches
    "q_funnel",             # step-total attaches
    "q_heavy_hitters",      # corpus-total + threshold attaches
    "q_histogram",          # global min/max bounds attach
    "q_hll_union",          # per-register union attach
    "q_ks_test",            # per-arm total attaches
    "q_market_basket",      # basket-count scalar attach
    "q_percentile_approx",  # global-group bracket/anchor attaches
    "q_perplexity",         # 1-row vocab-size attach
    "q_pmi",                # corpus-total attach
    "q_simhash",            # hamming-threshold scalar attach
    "q_tfidf",              # corpus doc-count attach
    "q_tpch_q11",           # 1-row global-total share threshold attach
    "q_tpch_q22",           # scalar avg-balance threshold attach
    "q_train_split",        # split-threshold attaches
    "q_triangles",          # wedge/triangle total attaches
}


def test_registry_wide_no_cartesian_and_declared_bnlj_only(spark):
    """Scale-hazard sweep over EVERY registered query's plan: no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin only in the
    reviewed allowlist above. This is the global form of the per-query
    guards — a new operator that demotes to a cartesian (mis-declared
    equi-keys, an accidental unkeyed join) fails here before the bench
    or the driver ever see it. Tree section only (formatted detail
    sections repeat node names)."""
    offenders_cart, offenders_bnlj = [], []
    for name, fn in QS.items():
        tree = _plan(fn(spark, SF_DIR)).split("\n\n")[0]
        if "CartesianProduct" in tree:
            offenders_cart.append(name)
        if "BroadcastNestedLoopJoin" in tree and name not in _BNLJ_ALLOWED:
            offenders_bnlj.append(name)
    assert not offenders_cart, f"CartesianProduct in: {offenders_cart}"
    assert not offenders_bnlj, f"undeclared BNLJ in: {offenders_bnlj}"


def _assert_one_fused_pass_over_doc_id_exchange(p: str) -> None:
    """Operator order of a formatted plan's tree section (parent printed
    first) must be exactly MapInPandas / hash-Exchange on doc_id / Scan
    parquet, with no Sort and no cached relation anywhere."""
    assert "CartesianProduct" not in p
    assert "InMemoryRelation" not in p and "InMemoryTableScan" not in p, p
    assert "rangepartitioning" not in p, p
    assert p.count("hashpartitioning(") == 1, p
    assert "hashpartitioning(doc_id" in p, p
    seq, sorts = [], []
    for line in p.splitlines():
        t = line.strip(" +-:*")
        if t.startswith("(1) Scan"):  # details section begins
            break
        for op in ("Exchange", "MapInPandas", "Scan parquet"):
            if t.startswith(op):
                seq.append(op)
        if t.startswith("Sort"):
            sorts.append(t)
    assert not sorts, p
    assert seq == ["MapInPandas", "Exchange", "Scan parquet"], seq


# every multimodal corpus query is a write→read round trip built by
# multimodal_corpus._roundtrip, except these two
_NOT_ROUNDTRIPS = {"q_multimodal_meta", "q_multimodal_frames"}
_ROUNDTRIPS = sorted(
    n for n, fn in QS.items()
    if fn.__module__.endswith(".multimodal_corpus") and n not in _NOT_ROUNDTRIPS
)


def test_roundtrip_list_is_derived_from_the_registry():
    assert len(_ROUNDTRIPS) == 50, _ROUNDTRIPS


@pytest.mark.parametrize("name", _ROUNDTRIPS)
def test_codec_roundtrip_plan_shape(spark, name):
    """Pin the round-trip scale shape: ONE parquet scan, ONE hash
    exchange of the small document rows on doc_id under the Python
    tier (without it the single-split documents scan runs the Python
    codecs on one core), and the writer and every reader stage fused
    into a SINGLE MapInPandas pass (each extra MapInPandas node is a
    separate Python runner with its own handshake plus a JVM round trip
    of the payload bytes). No Sort or range exchange (result order is
    not part of a query's contract) and no InMemoryRelation (nothing is
    persisted per invocation). A query that bypasses the skeleton, drops
    the repartition, splits the pipeline into chained Python nodes or
    puts a presentation sort back fails here, not in a bench
    regression."""
    _assert_one_fused_pass_over_doc_id_exchange(plan_of(name, spark))

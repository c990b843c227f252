"""Physical-plan regression tests: the properties that make these
operators scale are asserted on `.explain("formatted")` output so a
refactor can't silently reintroduce a full scan, a lost broadcast, or
an un-limited window sort."""

from __future__ import annotations

import contextlib
import io

import pytest

from talkdesk_async_etl_spark.plans.registry import load_all
from tests.conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        load_all()[name].fn(spark, SF_SMALL).explain("formatted")
    return buf.getvalue()


def test_projection_prunes_scan(spark):
    plan = plan_of(spark, "project_columns")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderkey" in read and "o_totalprice" in read
    assert "o_custkey" not in read and "o_orderpriority" not in read


def test_filters_push_into_scan(spark):
    plan = plan_of(spark, "filter_conj_eq")
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "EqualTo(o_orderstatus,F)" in pushed
    assert "o_orderpriority" in pushed  # both conjuncts reach the scan


def test_dimension_join_broadcasts(spark):
    plan = plan_of(spark, "join_broadcast_lookup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_broadcast_builds_on_bounded_dim_only(spark):
    """The hard broadcast hint must land on the fixed-cardinality
    nation dimension (25 rows at every SF), never on the SF-scaling
    customer side — a broadcast of a table that grows with the data
    OOMs the build side at 100 TB."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        load_all()["join_broadcast_lookup"].fn(spark, SF_SMALL).explain("simple")
    lines = buf.getvalue().splitlines()
    bx = next(i for i, l in enumerate(lines) if "BroadcastExchange" in l)
    # The first scan below the exchange is its build-side child.
    scan = next(l for l in lines[bx:] if "FileScan" in l or "Scan parquet" in l)
    assert "nation" in scan, scan
    assert "customer" not in scan, scan


def test_window_topk_pushes_group_limit(spark):
    plan = plan_of(spark, "window_topk_per_group")
    # Partial + final WindowGroupLimit: map tasks forward <=K rows/key.
    assert plan.count("WindowGroupLimit") >= 2


def test_global_topk_avoids_full_sort(spark):
    plan = plan_of(spark, "sort_topk_global")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_flagship_partial_aggregates(spark):
    plan = plan_of(spark, "agg_conditional_sum")
    # Two-level HashAggregate = map-side partial aggregation.
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", ["agg_count_per_key", "join_fk_monitoring"])
def test_single_shuffle_aggregations(spark, name):
    """The collapsed per-key counts must not multiply shuffles: one
    shuffle Exchange for the aggregation (dimension broadcasts are
    fine and excluded — they ship the small side, not the fact)."""
    import re

    plan = plan_of(spark, name)
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) <= 1, shuffles


def test_spread_repartitions_single_task_scan(spark):
    """Testdata shape: one row group → one task; spread=True must widen
    the scan to the session's default parallelism."""
    from talkdesk_async_etl_spark.sources.io import read_table

    df = read_table(spark, SF_SMALL, "documents", spread=True)
    assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_spread_is_noop_on_already_parallel_scan(spark, tmp_path):
    """100 TB shape: a table that already splits into >= default
    parallelism tasks must NOT be prefixed with a repartition shuffle —
    spread=True is a no-op and the plan has no Exchange."""
    import contextlib as _ctx
    import io as _io

    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.sources.io import read_table

    target = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "wide")
    spark.range(10_000).withColumn("v", F.rand(7)).repartition(target * 2).write.parquet(
        src + "/wide.parquet"
    )
    # Tiny test files would bin-pack into one scan task under the
    # default 128 MB bins; cap the bin at the per-file open cost so
    # each file is one task, i.e. the real multi-file-table shape.
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4194304")
    try:
        df = read_table(spark, src, "wide", spread=True)
        assert df.rdd.getNumPartitions() >= target
        buf = _io.StringIO()
        with _ctx.redirect_stdout(buf):
            df.explain("formatted")
        assert "Exchange" not in buf.getvalue()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_tpch_q6_pushes_all_predicates_and_prunes(spark):
    """Q6 is the canonical pushdown probe: every predicate must reach
    the parquet scan and the ReadSchema must carry exactly the four
    referenced columns."""
    plan = plan_of(spark, "tpch_q6")
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, pushed
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read and "l_orderkey" not in read


def test_tpch_q3_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "tpch_q3")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_minhash_signatures_computed_inside_scan(spark):
    """MinHash-LSH's scale contract: the 64-permutation signature fold
    happens inside the scan task — the plan's first Exchange is the
    banding candidate join, never an upstream shuffle of shingle or
    signature rows. A regression to the naive explode-shingles-then-
    aggregate shape would multiply shuffle bytes by |shingles|x64/|docs|."""
    import re

    plan = plan_of(spark, "dedup_minhash_lsh")
    # Exchanges budget: candidate-dedup distinct + final verification
    # joins/aggregations; the repartition of the tiny testdata scan is
    # a RoundRobinPartitioning, not a hash shuffle of exploded rows.
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for cols in hash_exchanges:
        assert "band_key" in cols or "doc_a" in cols or "doc_b" in cols, (
            f"unexpected pre-banding shuffle on: {cols}"
        )


def test_ivf_broadcasts_queries_never_shuffles_corpus(spark):
    """Multi-table LSH: the probe join must broadcast the (tiny) query
    side; the exploded corpus never exchanges before the join. The only
    exchanges allowed are the candidate dedup + final ranking window."""
    plan = plan_of(spark, "sim_topk_ivf")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # corpus side: scan → explode → join with no Exchange in between;
    # downstream dedup-agg + window account for all exchanges.
    assert plan.count("Exchange hashpartitioning") <= 2


def test_tpch_q4_compiles_exists_to_semi_join(spark):
    """Q4's correlated EXISTS must plan as a LEFT SEMI join (each order
    forwarded at most once) — never an inner join + distinct, which
    would shuffle the full late-lineitem multiplicity just to discard
    it."""
    plan = plan_of(spark, "tpch_q4")
    assert "LeftSemi" in plan, plan[:800]
    assert "HashAggregate" in plan  # grouped count still aggregates


def test_tpch_q7_broadcasts_both_nation_roles(spark):
    """Q7 joins the 25-row nation dimension twice (supplier role and
    customer role); BOTH legs must broadcast — a sort-merge join on a
    fixed-cardinality dimension would shuffle the fact side twice for
    50 rows of build data."""
    import re

    plan = plan_of(spark, "tpch_q7")
    assert "SortMergeJoin" not in plan
    n_scans = len(re.findall(r"nation\.parquet", plan))
    assert n_scans == 2, f"expected 2 nation scan locations, plan has {n_scans}"
    assert plan.count("BroadcastHashJoin") >= 2


def test_tpch_q18_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "tpch_q18")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_tpch_q19_pushes_predicate_envelopes(spark):
    """Q19's disjunction mixes columns from both join sides, so the
    exact predicate evaluates post-join — but the single-side envelopes
    Catalyst extracts from the OR (p_brand IN (...), and the p_size /
    l_quantity ranges) must still reach the scans."""
    plan = plan_of(spark, "tpch_q19")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    part_pushed = next((l for l in pushed if "p_brand" in l), None)
    assert part_pushed is not None, pushed
    li_pushed = next((l for l in pushed if "l_quantity" in l), None)
    assert li_pushed is not None, pushed


def test_tfidf_ranks_per_doc_without_global_sort(spark):
    """The per-doc top-K ranking must partition by doc_id (group-local
    sort), never range-partition the whole scored relation."""
    plan = plan_of(spark, "text_tfidf_top_terms")
    assert "Exchange rangepartitioning" not in plan
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_tpch_q13_keeps_outer_join_with_condition_filter(spark):
    """Q13's priority predicate must ride the OUTER join condition — as
    a WHERE it would delete the zero-order customers the histogram
    counts. The plan must keep a LeftOuter join."""
    plan = plan_of(spark, "tpch_q13")
    assert "LeftOuter" in plan, plan[:600]


def test_tpch_q15_and_q22_broadcast_scalar_subqueries(spark):
    """The one-row aggregate (max revenue / average balance) must come
    back as a broadcast — never a shuffle join against a single row."""
    for name in ("tpch_q15", "tpch_q22"):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
    assert "LeftAnti" in plan_of(spark, "tpch_q22")


def test_tpch_q8_broadcasts_fixed_dims_only(spark):
    """Q8's seven-join tree: broadcast hints must land only on the
    fixed-cardinality nation/region legs; the SF-scaling
    part/customer/supplier joins stay with AQE. No sort-merge against
    a hinted dimension."""
    plan = plan_of(spark, "tpch_q8")
    assert plan.count("BroadcastHashJoin") >= 3  # n1, region, n2
    import re

    n_scans = len(re.findall(r"nation\.parquet", plan))
    assert n_scans == 2, f"expected 2 nation scan locations, got {n_scans}"


def test_tpch_q17_aggregates_only_branded_parts(spark):
    """Q17's decorrelated average must aggregate the SEMI-JOINED
    lineitem subset (the brand's parts), not every part in the corpus —
    the plan's aggregate sits above a semi join, and no sort-merge
    appears at test scale."""
    plan = plan_of(spark, "tpch_q17")
    assert "LeftSemi" in plan, plan[:600]
    assert plan.count("HashAggregate") >= 2


def test_salted_join_spreads_key_over_salts(spark):
    """The salted join's physical join key must be the (key, salt)
    PAIR — hash partitioning on both columns is what spreads a hot key
    across tasks — and the unsalted single-column partitioning must not
    appear on the fact side."""
    plan = plan_of(spark, "join_skew_salted")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    # the join condition carries both equalities
    assert "salt" in plan


def _exchanges(plan: str) -> list[str]:
    import re

    return re.findall(r"\(\d+\) Exchange\b", plan)


def test_sampling_ops_stay_in_scan_stage(spark):
    """D7's zero-shuffle claim: beyond the fixture-shape spread
    repartition, the sampler (pure predicate) and the upsampler
    (explode in-scan) must add NO exchange and NO aggregate."""
    for name in ("sample_deterministic", "text_mixture_upsample"):
        plan = plan_of(spark, name)
        assert len(_exchanges(plan)) <= 1, (name, _exchanges(plan))
        assert "HashAggregate" not in plan, name


def test_shuffle_shards_one_group_exchange(spark):
    """The export manifest pays one aggregation shuffle (plus the
    fixture spread) with map-side partials."""
    plan = plan_of(spark, "sample_shuffle_shards")
    assert len(_exchanges(plan)) <= 2, _exchanges(plan)
    # min/max over the md5 string key has no fixed-width agg buffer, so
    # Spark picks SortAggregate — the partial+final pair is what matters
    # (the sort key is the 16-value shard nibble: cheap at any scale).
    assert plan.count("SortAggregate") >= 2 or plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_corr_regr_single_fused_aggregate(spark):
    """All six statistics must share one two-level aggregate pass —
    a second aggregation node pair would mean a second scan."""
    plan = plan_of(spark, "agg_corr_regr")
    assert len(_exchanges(plan)) <= 2, _exchanges(plan)
    # exactly one partial+final pair (Object- or plain HashAggregate)
    import re

    aggs = re.findall(r"\(\d+\) (?:Object)?HashAggregate\b", plan)
    assert len(aggs) == 2, aggs


def test_funnel_twin_is_one_aggregate_no_join_no_window(spark):
    """The stateful funnel's batch twin must stay a single conditional-
    min hash aggregate — a join or window here would mean the twin no
    longer mirrors the per-key streaming state update."""
    plan = plan_of(spark, "stream_funnel_state")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_cdc_latest_wins_pushes_group_limit(spark):
    """The rank-1-per-key upsert read must plan WindowGroupLimit: map
    tasks forward at most one candidate row per key version-order, so
    the window shuffle carries ~|keys| rows, not the whole append log."""
    plan = plan_of(spark, "cdc_latest_wins")
    assert "WindowGroupLimit" in plan


def test_lateral_topn_decorrelates_to_group_limit(spark):
    """join_lateral_topn must NOT execute one inner subquery per outer
    row: Catalyst decorrelates the correlated LATERAL into a join with
    a per-key WindowGroupLimit. A per-row re-scan would show multiple
    customer FileScans or a nested-loop shape."""
    import re

    plan = plan_of(spark, "join_lateral_topn")
    assert "WindowGroupLimit" in plan
    # formatted output prints each node twice (tree + detail section);
    # count detail headers for the true scan count: one per table.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2


def test_profile_distinct_branch_stays_hash_aggregated(spark):
    """agg_profile_columns splits string min/max from the count-distinct
    Expand precisely so the expanded relation hash-aggregates; if the
    branches re-fuse, the variable-width buffers force a SortAggregate
    over the ×7-expanded rows (measured 2.6 vs 2.0 s at sf0.1)."""
    plan = plan_of(spark, "agg_profile_columns")
    tree = plan.splitlines()
    exp_idx = next(i for i, l in enumerate(tree) if "Expand (" in l)
    # The node printed directly above the Expand in the tree is its
    # consumer — the distinct-dedup aggregate. It must be hash-based.
    assert "HashAggregate" in tree[exp_idx - 1], tree[exp_idx - 1]


def test_levenshtein_blocks_before_scoring(spark):
    """dedup_levenshtein must join on the (lang, length-band) block key
    — an unconditioned self-join would be the quadratic cross product."""
    plan = plan_of(spark, "dedup_levenshtein")
    assert "Join" in plan and "Cross" not in plan
    assert "levenshtein" in plan  # thresholded scoring in the plan


def test_theta_sketch_single_scan(spark):
    """agg_theta_sketch_ok computes both sketches and all exact counts
    from ONE scan of orders (the CASE-WHEN single-pass shape)."""
    import re

    plan = plan_of(spark, "agg_theta_sketch_ok")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_gap_fill_densifies_after_last_exchange(spark):
    """agg_gap_fill_daily's dense grid must be generated AFTER the
    final shuffle (explode against the per-user map), so no Exchange
    consumes the exploded relation."""
    plan = plan_of(spark, "agg_gap_fill_daily")
    # The formatted tree prints root-first, so everything printed
    # before the Generate (the explode) is closer to the root: none of
    # it may be an Exchange — only projections sit above densification.
    tree = plan[: plan.index("(1) Scan")]
    gen_at = tree.index("Generate")
    assert "Exchange" not in tree[:gen_at], tree[:gen_at]
    assert "Exchange" in tree[gen_at:]  # the sparse-side shuffles exist


def test_triangle_count_closes_wedges_with_equi_joins(spark):
    """graph_triangle_count must never degrade to a cross product:
    wedge generation and the closing probe are hash equi-joins (on u
    and on the (v1, v2) pair key), and the node-sized degree/nation
    relations broadcast. A BroadcastNestedLoopJoin or CartesianProduct
    here would be the sum(deg^2) blowup degree orientation exists to
    prevent."""
    import contextlib
    import io

    from talkdesk_async_etl_spark.operators.graph import triangle_count_plan

    # The registered query materializes inside its cache scope (the
    # result is ≤25 rows), so explain the exposed lazy builder instead.
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        triangle_count_plan(spark, SF_SMALL).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan  # degree + nation lookups


def test_tpch_q21_compiles_exists_pair_to_semi_and_anti(spark):
    """Q21's correlated EXISTS / NOT EXISTS self-join pair must plan
    as LEFT SEMI + LEFT ANTI hash/sort joins on the order key — never
    a cross product or an inner-join-plus-distinct that would carry
    the per-order lineitem multiplicity through the shuffle."""
    import contextlib
    import io

    from talkdesk_async_etl_spark.operators.tpch_deep import tpch_q21_plan

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tpch_q21_plan(spark, SF_SMALL).explain("formatted")
    plan = buf.getvalue()
    assert "LeftSemi" in plan, plan[:800]
    assert "LeftAnti" in plan, plan[:800]
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan  # top-100 without a global sort


def test_tpch_q20_single_lineitem_scan_window_threshold(spark):
    """Q20's correlated aggregate subquery decorrelates to ONE
    lineitem scan: per-(supplier, part) hash agg, then the per-part
    total as a window sum OVER that aggregate — the plan must contain
    exactly one lineitem scan, a Window node, and a semi join for the
    part-name IN-subquery."""
    import re

    plan = plan_of(spark, "tpch_q20")
    n_scans = len(re.findall(r"lineitem\.parquet", plan))
    assert n_scans == 1, f"expected 1 lineitem scan location, plan has {n_scans}"
    assert "Window" in plan
    assert "LeftSemi" in plan


def test_bloom_probe_is_codegen_literal_no_smj(spark):
    """join_bloom_prefilter_ok's probe predicate must be a literal
    bloom lookup inside the scan stage (element_at on a literal array
    + bitwiseAND), and the attestation membership join must broadcast
    — a SortMergeJoin would mean the 'runtime filter' shipped the
    probe side somewhere."""
    plan = plan_of(spark, "join_bloom_prefilter_ok")
    assert "element_at" in plan, plan[:600]
    assert "SortMergeJoin" not in plan


def test_cms_cells_partial_aggregate(spark):
    """agg_cms_topk_ok's sketch build must partial-aggregate map-side:
    two-level HashAggregate around the (depth, bucket) exchange so the
    shuffle carries ≤ depth×width cells per partition, never the
    exploded fact rows."""
    plan = plan_of(spark, "agg_cms_topk_ok")
    assert plan.count("HashAggregate") >= 2
    # The deliberate 1-row n_total crossJoin plans as a broadcast
    # nested loop of a single row — benign; a CartesianProduct (both
    # sides unbounded) is the failure this test guards against.
    assert "CartesianProduct" not in plan


def test_ewma_single_group_exchange(spark):
    """udaf_ewma_timeseries: one hash exchange on the USER-BUCKET key
    into FlatMapGroupsInPandas — the Arrow group-map boundary — and
    nothing after it. (Bucketing users instead of grouping per user
    cuts the per-call Arrow floor ~25×; every user still lands wholly
    in one bucket.)"""
    import re

    plan = plan_of(spark, "udaf_ewma_timeseries")
    assert "FlatMapGroupsInPandas" in plan
    hash_ex = re.findall(r"Exchange hashpartitioning\(([^),]*)", plan)
    assert all("bucket" in c for c in hash_ex), hash_ex


def test_hof_lambda_stays_in_scan_stage(spark):
    """scalar_higher_order_lambda is a pure per-row vector op: the
    plan must contain NO exchange at all — the lambdas compile into
    the scan's projection."""
    plan = plan_of(spark, "scalar_higher_order_lambda")
    assert "Exchange" not in plan, plan[:800]
    assert "transform" in plan and "zip_with" in plan


def test_table_checksum_partial_aggregates(spark):
    """scan_table_checksum: the md5 fold must partial-aggregate
    map-side (two-level HashAggregate) — the whole point of bit_xor's
    associativity is that a 100 TB checksum shuffles |groups| rows."""
    plan = plan_of(spark, "scan_table_checksum")
    assert plan.count("HashAggregate") >= 2
    assert "md5" in plan


def test_tpch_q2_joinback_broadcasts_dims_topk(spark):
    """Q2's min-cost join-back must stay equi-join (partkey + cost),
    broadcast the part/supplier dims, and take the top-100 without a
    global sort."""
    plan = plan_of(spark, "tpch_q2")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:800]


def test_tpch_q9_single_lineitem_scan_broadcast_dims(spark):
    """Q9's five-way join reads lineitem ONCE; the name-filtered part
    dim and supplier⋈nation broadcast so the only big shuffle is the
    lineitem⋈orders order-key join."""
    import re

    plan = plan_of(spark, "tpch_q9")
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1
    assert plan.count("BroadcastHashJoin") >= 2, plan[:800]
    assert "CartesianProduct" not in plan


def test_tpch_q11_threshold_is_one_row_broadcast(spark):
    """Q11's global-scalar threshold joins back as a broadcast of a
    ONE-row aggregate (BroadcastNestedLoopJoin over a single row is
    the expected — and cheap — shape for a keyless scalar join); the
    part-value aggregate itself must hash-aggregate with partials.
    The static plan shows the val subtree twice (filter side + totals
    side); the contract is that AQE's exchange reuse collapses it so
    lineitem is scanned ONCE at runtime — asserted on the
    post-execution final plan."""
    plan = plan_of(spark, "tpch_q11")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan
    df = load_all()["tpch_q11"].fn(spark, SF_SMALL)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "ReusedExchange" in buf.getvalue()


def test_tpch_q12_pushes_ship_window_to_scan(spark):
    """Q12's one-year ship window must reach the lineitem scan as
    PushedFilters; the late-predicate (needs both sides) evaluates
    post-join."""
    plan = plan_of(spark, "tpch_q12")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "l_shipdate" in l]
    assert pushed, plan[:800]


def test_tpch_q16_anti_join_before_distinct_count(spark):
    """Q16's complaint-supplier exclusion must plan as a broadcast
    LEFT ANTI join, and the count-distinct must run through the
    Expand/partial-aggregate pipeline (never a re-shuffle of raw
    pairs per group)."""
    plan = plan_of(spark, "tpch_q16")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "Expand" in plan or "distinct" in plan.lower()


def test_fill_forward_single_window_exchange(spark):
    """Forward-fill must be ONE user-key exchange + window sort feeding
    the rollup — no self-join, no second exchange on the same key
    (the agg reuses the window's hashpartitioning)."""
    import re

    plan = plan_of(spark, "window_fill_forward")
    assert "Window" in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan[:800]


def test_cogroup_asof_coparitions_both_sides(spark):
    """The cogroup must plan as FlatMapCoGroupsInPandas with BOTH event
    streams exchanged on the same bucket key — two hash exchanges, one
    aligned Python stage, no join operator."""
    import re

    plan = plan_of(spark, "udaf_cogroup_asof")
    assert "FlatMapCoGroupsInPandas" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan[:800]
    assert "Join" not in plan


def test_sessionize_gap_single_exchange(spark):
    """Gaps-and-islands must ride ONE user-key exchange end-to-end:
    the lag window, the running-sum window, and the per-session
    aggregate all accept hashpartitioning(user_id) (grouping on
    (user_id, session_no) is clustered by the user subset) — a second
    exchange would mean the island numbering got re-shuffled."""
    import re

    plan = plan_of(spark, "window_sessionize_gap")
    assert "Window" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan[:800]


def test_segment_dedup_builds_segments_in_scan(spark):
    """Segment windows must be built by in-scan higher-order
    expressions (Generate/explode directly over the transform — never
    a pre-shuffle array projection, the codegen cliff) and the
    cross-doc count's exchange must be reused for the join-back."""
    plan = plan_of(spark, "text_segment_dedup")
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    df = load_all()["text_segment_dedup"].fn(spark, SF_SMALL)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "ReusedExchange" in buf.getvalue() or "tableCacheQueryStage" in buf.getvalue()


def test_map_in_arrow_zero_shuffle(spark):
    """The Arrow-batch norm pass must be scan → (spread repartition) →
    Python, with NO hash exchange and no aggregate — embarrassingly
    parallel by construction."""
    import re

    plan = plan_of(spark, "udf_map_in_arrow")
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan[:600]
    assert not re.search(r"Exchange hashpartitioning", plan)
    assert "HashAggregate" not in plan


def test_scd2_is_union_window_not_range_join(spark):
    """The SCD2 point-in-time enrichment must plan as the union-window
    carry (one user-key exchange, Window, no Join operator) — never
    the oracle's range-predicate join."""
    import re

    plan = plan_of(spark, "join_scd2_point_in_time")
    assert "Window" in plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2, plan[:800]


def test_match_pattern_single_exchange(spark):
    """All three pattern carries must ride ONE user-key exchange —
    adding a pattern step adds a carry (possibly a chained Window
    layer when it nests an earlier carry, each with a key-identical
    local sort), never a shuffle or a join."""
    import re

    plan = plan_of(spark, "window_match_pattern")
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan[:800]
    # chained carries: at most the two dependent Window layers
    assert len(re.findall(r"\(\d+\) Window\b", plan)) <= 2, plan[:800]


def test_stratified_exact_pushes_group_limit(spark):
    """Exact per-stratum sampling must plan partial+final
    WindowGroupLimit — map tasks forward at most K rows per stratum,
    so the lang-key exchange never carries the corpus."""
    plan = plan_of(spark, "sample_stratified_exact")
    assert plan.count("WindowGroupLimit") >= 2, plan[:800]


def test_band_join_broadcasts_nested_loop(spark):
    """The keyless band join must plan BroadcastNestedLoopJoin with
    the 5-row band dim as the build side — the fact stream never
    shuffles for classification."""
    import re

    plan = plan_of(spark, "join_band_nonequi")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 1  # only the 5-group agg


def test_feature_hashing_single_aggregate_no_join(spark):
    """The hashing trick must be one in-scan explode + one doc-key
    aggregate with map-side partials — no vocabulary join, no second
    exchange (the whole point vs TF-IDF's dictionary pass)."""
    import re

    plan = plan_of(spark, "text_feature_hashing")
    assert "Join" not in plan
    assert "Generate" in plan  # the word explode
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2


def test_sql_udf_scalar_inlines_no_python(spark):
    """The SQL-defined function must inline into codegen — no Python
    eval node of any flavour may appear in the plan."""
    plan = plan_of(spark, "sql_udf_scalar")
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert "HashAggregate" in plan


def test_sql_udf_table_inlines_to_filtered_scan(spark):
    """The SQL table function resolves to a plain filtered scan-agg —
    the n_chars bound must reach the parquet scan as a pushed filter."""
    plan = plan_of(spark, "sql_udf_table")
    assert "EvalPython" not in plan
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "LessThan(n_chars,600)" in pushed


def test_python_datasource_plans_requested_partitions(spark):
    """The Python DataSource must plan exactly the requested splits."""
    from talkdesk_async_etl_spark.operators.engine_api import (
        _PYDS_PARTS,
        _PYDS_ROWS,
        SynthRowsDataSource,
    )

    spark.dataSource.register(SynthRowsDataSource)
    df = (
        spark.read.format("synthrows")
        .option("n_rows", _PYDS_ROWS)
        .option("partitions", _PYDS_PARTS)
        .load()
    )
    assert df.rdd.getNumPartitions() == _PYDS_PARTS


def test_spatial_grid_broadcasts_replicated_build_side(spark):
    """The radius join must broadcast the ×9-replicated supplier side
    and never explode the customer probe side: exactly the two
    build-side Generates, one BroadcastHashJoin, no cartesian."""
    import re

    plan = plan_of(spark, "join_spatial_grid")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # the two sequence(-1,1) explodes, both under the broadcast side
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 2


def test_cooccurrence_single_user_exchange(spark):
    """Pair mining: ONE exchange builds the per-user sets (collect_set
    partial-aggregates map-side; no separate distinct), pairs explode
    in-scan, and the support count re-aggregates on the pair key."""
    plan = plan_of(spark, "agg_cooccurrence_pairs")
    assert plan.count("hashpartitioning(user_id") == 1
    assert plan.count("hashpartitioning(et_a") == 1


def test_logreg_score_zero_shuffle_no_udf(spark):
    """In-scan model scoring: the whole model is a codegen'd
    projection — no exchange, no Python eval node."""
    plan = plan_of(spark, "ml_logreg_score")
    assert "Exchange hashpartitioning" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan


def test_arrow_udtf_uses_arrow_eval(spark):
    """udtf_arrow_tokens must plan the ARROW UDTF evaluator, not the
    row-at-a-time pickled one."""
    plan = plan_of(spark, "udtf_arrow_tokens")
    assert "ArrowEvalPythonUDTF" in plan


def test_bpe_apply_zero_shuffle(spark):
    """The merge chain is a scan projection: no exchange beyond the
    fixture-spread repartition, no Python."""
    plan = plan_of(spark, "text_bpe_apply")
    assert "hashpartitioning" not in plan
    assert "EvalPython" not in plan


def test_substring_spans_two_keyed_exchanges_no_join(spark):
    """dedup_substring_spans claims duplicate marking as a window
    count (no join-back relation): the whole plan is the read spread
    plus exactly two keyed exchanges — gram-hash, then doc_id (both
    window passes and both aggregates share the doc exchange) — and
    joins nowhere."""
    plan = plan_of(spark, "dedup_substring_spans")
    assert _n_exchanges(plan) <= 3, plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_bpe_train_round_plan_one_exchange(spark):
    """Each BPE training round pays exactly ONE corpus-sized exchange
    (the pair-count aggregate, partial+final); the argmax plans as
    TakeOrderedAndProject (top-1, no extra sort shuffle) and nothing
    reaches Python. Pinned on the per-round counting plan directly —
    the registered query's returned table is the driver-built merge
    list, so the scale claim lives in the round job."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.text import _bpe_pair_counts

    base = spark.range(64).select(F.lit("a b c a b").alias("e"))
    round_df = (
        _bpe_pair_counts(base)
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(1)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        round_df.explain("formatted")
    plan = buf.getvalue()
    assert _n_exchanges(plan) == 1, plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan


def _n_exchanges(plan: str) -> int:
    import re

    # Formatted-plan detail entries: "(N) Exchange" — counted once per
    # node (the tree section prints "Exchange (N)" instead).
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_importance_sampling_is_zero_shuffle(spark):
    """sample_importance_weighted claims a pure row-local scan: hash,
    clamp, integer compare, one division. The only Exchange allowed is
    the spread helper's round-robin read repartition — no keyed
    shuffle, no join."""
    plan = plan_of(spark, "sample_importance_weighted")
    assert _n_exchanges(plan) <= 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" not in plan and "Sort" not in plan


def test_scd2_build_single_exchange_serves_both_windows(spark):
    """cdc_scd2_build runs lag (change detect) then lead (interval
    close) over the same (user_id) partitioning — Catalyst must plan
    ONE exchange feeding both Window nodes, not two."""
    plan = plan_of(spark, "cdc_scd2_build")
    assert _n_exchanges(plan) == 1, plan
    import re

    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan


def test_novelty_shingles_computed_inside_scan(spark):
    """text_novelty_shingles' shingle hashes must be scan-side array
    expressions feeding an in-stage explode, with the min-owner
    aggregate joined back on the 8-byte hash key. The owner relation
    is shingle-VOCABULARY-sized, so the scale-honest plan is a
    co-partitioned shuffle join (the agg output is already hash(h)-
    partitioned — exchange reuse); at test scale AQE may legally
    demote it to a broadcast. Either way: no cartesian, and at most 5
    exchanges (spread round-robin, join sides on h / owner agg, final
    doc agg)."""
    plan = plan_of(spark, "text_novelty_shingles")
    assert "Generate" in plan  # in-scan array -> explode
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert _n_exchanges(plan) <= 5, plan


def test_hypertable_rollup_scans_raw_once(spark):
    """agg_hypertable_rollup's lattice claim, pinned: the three grains
    must share ONE parquet scan of raw events (the minute/hour partials
    are persisted; the unpersisted lazy form re-scans raw per union
    branch — exactly what this test would catch)."""
    import re

    plan = plan_of(spark, "agg_hypertable_rollup")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_cdc_chunking_in_scan_cuts_no_join(spark):
    """text_cdc_chunking claims the cut filter runs in-scan before the
    ONE doc-keyed exchange the window and final aggregate share (the
    sentinel union adds a second scan branch, not a join): generate +
    filter inside the scan stage, join-free, Python-free."""
    plan = plan_of(spark, "text_cdc_chunking")
    assert _n_exchanges(plan) <= 3, plan
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert "Generate" in plan  # grams explode in-scan


def test_chunk_level_dedup_single_hash_window_no_pair_join(spark):
    """dedup_chunk_level marks duplicate chunks with a window count
    over the chunk hash — no pair/self-join relation; the only join in
    the plan is the doc-keyed span→tokens join back (co-partitioned
    equi-join), never a hash-pair join."""
    plan = plan_of(spark, "dedup_chunk_level")
    import re

    joins = re.findall(r"\(\d+\) \w*Join\w*", plan)
    assert len(joins) <= 2, joins  # the one span->tokens join (+AQE variant)
    assert "EvalPython" not in plan


def test_table_diff_group_limit_sample(spark):
    """scan_table_diff's per-class key sample must plan as
    WindowGroupLimit (map tasks forward <=5 keys per class) — the
    plan-review finding that made the hand-salted pre-window
    redundant. The diff join itself is the full-outer SortMergeJoin.
    Pinned on the lazy keyed_table_diff core (the registered query
    returns a collect_release'd 3-row local relation, which explains
    as Scan ExistingRDD — the triangle_count_plan precedent)."""
    import contextlib
    import io

    from talkdesk_async_etl_spark.operators.relational import keyed_table_diff_plan
    from talkdesk_async_etl_spark.plans.cache import cache_scope
    from talkdesk_async_etl_spark.sources.io import read_table

    o = read_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    with cache_scope():
        core = keyed_table_diff_plan(
            o, o.filter("o_orderkey % 2 = 0"), "o_orderkey",
            [("o_orderstatus", "status")],
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            core.explain("formatted")
    plan = buf.getvalue()
    assert "WindowGroupLimit" in plan
    assert "FullOuter" in plan


def test_balanced_classes_group_limit(spark):
    """sample_balanced_classes re-enters the data-dependent minority
    count as a LITERAL precisely so the rank filter plans as
    WindowGroupLimit — pin that it does."""
    plan = plan_of(spark, "sample_balanced_classes")
    assert "WindowGroupLimit" in plan


def test_cumulative_distinct_no_join_two_aggs(spark):
    """window_cumulative_distinct is two map-side-combinable
    aggregates plus the tiny day-grain running sum — no join, no
    Python, and the first aggregate must show a partial pass (the
    map-side combine that makes the corpus scan cheap)."""
    plan = plan_of(spark, "window_cumulative_distinct")
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert "partial_min" in plan or "partial_count" in plan, plan


def test_pmi_collocations_broadcast_vocab(spark):
    """text_pmi_collocations' unigram joins must broadcast the
    vocabulary-sized count relation (Heaps' law makes it tiny relative
    to the corpus) and the final top-k must be TakeOrdered, not a
    global sort."""
    plan = plan_of(spark, "text_pmi_collocations")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_first_touch_shares_user_exchange(spark):
    """window_attribution_first_touch: ONE user-keyed exchange serves
    the running-first window; the channel rollup adds the small final
    aggregate exchange; nothing else shuffles and nothing joins."""
    plan = plan_of(spark, "window_attribution_first_touch")
    assert _n_exchanges(plan) <= 3, plan
    assert "Join" not in plan


def test_manifest_delta_partition_pruned(spark):
    """scan_file_manifest_delta's claim that processed files are never
    read: the delta scan carries PartitionFilters on file_id (the hive
    partition column), so pruning happens at file listing, not as a
    post-scan filter."""
    plan = plan_of(spark, "scan_file_manifest_delta")
    import re

    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("file_id" in l and "[]" not in l.split("PartitionFilters")[1][:4]
               for l in pf), pf


def test_curation_pipeline_scans_corpus_once(spark):
    """pipeline_curation_e2e's fuse contract (VERDICT r11 task 4):
    the corpus parquet is scanned ONCE into the persisted base — every
    stage and every audit aggregate reads a persisted parent, so the
    6-branch audit union must show exactly one Scan parquet node and
    zero row-at-a-time Python (the pack walk is grouped Arrow). Pinned
    on the lazy core (the registered query collect_release's to an
    ExistingRDD)."""
    import contextlib
    import io
    import re

    from talkdesk_async_etl_spark.operators.curation import curation_audit_plan
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    with cache_scope():
        core = curation_audit_plan(spark, SF_SMALL)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            core.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None
    assert "FlatMapGroupsInPandas" in plan  # the pack walk, Arrow-grouped


def test_gini_customer_grain_window_and_broadcasts(spark):
    """agg_gini_concentration: the rank window runs on the CUSTOMER
    grain after the per-customer rollup, both dims broadcast (no
    sort-merge join anywhere), and no cartesian/NLJ appears."""
    plan = plan_of(spark, "agg_gini_concentration")
    assert plan.count("SortMergeJoin") == 0
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_cusum_single_type_exchange_no_join(spark):
    """events_cusum_drift after the fuse: day-grain collapse + the
    stacked windows + the rank-gated final aggregate — NO join (the
    peak pick folds into the groupBy) and exactly one Scan."""
    import re

    plan = plan_of(spark, "events_cusum_drift")
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) >= 2


def test_decision_stump_one_scan_no_join(spark):
    """ml_decision_stump: the 28-split grid posexplodes IN the scan
    task — one parquet scan, a Generate node, zero joins except the
    bounded n/pos recombination, and no Python anywhere."""
    import re

    plan = plan_of(spark, "ml_decision_stump")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2  # sums + exact share
    assert "Generate" in plan
    assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None


def test_hamming_topk_bounded_broadcast_shape(spark):
    """sim_hamming_topk: the 5-row query side broadcasts (the
    allowlisted bounded NLJ), the corpus side never sort-merges, and
    WindowGroupLimit bounds the per-partition top-k."""
    plan = plan_of(spark, "sim_hamming_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_range_sort_plans_range_partitioning(spark):
    """sort_range_partitioned_ok's checksum relation aside, the ranged
    layout must come from a rangepartitioning exchange (the terasort
    shape) — asserted on the intermediate the operator builds."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.sources.io import read_table

    o = read_table(spark, SF_SMALL, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    ranged = o.repartitionByRange(8, F.col("cents"), F.col("o_orderkey")).sortWithinPartitions(
        "cents", "o_orderkey"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ranged.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan.lower()


def test_seasonal_dow_med_broadcast_back(spark):
    """window_seasonal_dow_baseline: the 35-cell median relation
    broadcasts back onto the day-grain rescan (the winsorize/MAD
    trade) — a broadcast join, not a sort-merge."""
    plan = plan_of(spark, "window_seasonal_dow_baseline")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bounce_windows_share_user_exchange(spark):
    """window_session_bounce: the lag window, island cumsum, and
    in-session rank stack on ONE user-keyed exchange — at most two
    exchanges total (user key + the final entry-type rollup)."""
    import re

    plan = plan_of(spark, "window_session_bounce")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3
    assert len(re.findall(r"\(\d+\) Window", plan)) >= 2


def test_source_rollup_digest_shuffle_only(spark):
    """text_source_quality_rollup: the dup mark shuffles 128-bit
    digests (fingerprint window) then regroups by source — two keyed
    exchanges, no join."""
    import re

    plan = plan_of(spark, "text_source_quality_rollup")
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3


def test_ams_sketch_and_exact_share_grain(spark):
    """agg_ams_f2_ok: sketch and exact branches share the (type, user)
    grain collapse; the final 5-row recombination is a broadcast-sized
    join, never sort-merge on the corpus."""
    plan = plan_of(spark, "agg_ams_f2_ok")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_backtest_both_lags_one_window_sort(spark):
    """window_seasonal_naive_backtest: both lags ride one type-keyed
    window sort over the day-grain relation — no join, one scan."""
    import re

    plan = plan_of(spark, "window_seasonal_naive_backtest")
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_incremental_pipeline_plan_shape(spark):
    """pipeline_incremental_e2e's plan contract (VERDICT r12 task 3):
    the 5-row audit union reads the LANDING parquet exactly three
    times — the done-files scan and the new-files scan are both
    PARTITION-PRUNED on file_id, the idempotence recheck is the only
    full scan — the stored snapshot enters as ExistingRDD
    (localCheckpoint: the merge plan provably cannot reach the epoch-1
    scan), and there is no row-at-a-time Python, no sort-merge join,
    and no cartesian anywhere."""
    import contextlib
    import io
    import re

    from talkdesk_async_etl_spark.operators.curation import incremental_audit_plan
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    with cache_scope():
        core = incremental_audit_plan(spark, SF_SMALL)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            core.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("file_id" in l and "< 5" in l for l in pf), pf
    assert any("file_id" in l and ">= 5" in l for l in pf), pf
    assert "Scan ExistingRDD" in plan  # the checkpointed snapshot
    assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_one_scan_no_smj(spark):
    """sim_topk_ivfpq's composition contract (VERDICT r12 task 5): the
    embeddings parquet is scanned ONCE (cell assignment and PQ encoding
    are in-scan literal expressions — the corpus never shuffles for
    either), the shortlist windows plan partial+final WindowGroupLimit,
    the rerank join broadcasts, and there is no sort-merge join, no
    cartesian, and no Python anywhere."""
    import contextlib
    import io
    import re

    from talkdesk_async_etl_spark.operators.similarity import sim_topk_ivfpq
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    with cache_scope():
        df = sim_topk_ivfpq(spark, SF_SMALL)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("WindowGroupLimit") >= 2
    assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None


def test_ks_drift_grid_is_domain_bounded(spark):
    """agg_ks_source_drift: one corpus scan feeds the (source, value)
    collapse; the grid build's nested-loop joins are the allowlisted
    bounded broadcasts (domain-sized relations), and the cumulative
    windows run source-keyed — no sort-merge join anywhere."""
    import re

    plan = plan_of(spark, "agg_ks_source_drift")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None


def test_mwu_and_autocorr_single_scan_no_join(spark):
    """agg_mann_whitney_auc and events_autocorr_lag both collapse to
    the value/day grain in one scan and never join."""
    import re

    for name in ("agg_mann_whitney_auc", "events_autocorr_lag"):
        plan = plan_of(spark, name)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, name
        assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None, name
        assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None, name


def test_bootstrap_in_scan_explode_no_join(spark):
    """sample_bootstrap_replicates: the 16-way replicate explode and
    the md5 weight draw run inside the scan task (Generate over one
    parquet scan, zero joins); the only exchange carries the 16-group
    partials."""
    import re

    plan = plan_of(spark, "sample_bootstrap_replicates")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Generate" in plan
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    # two exchanges max: the spread repartition (testdata's one-row-
    # group parquet; a no-op at scale) + the 16-group partial merge
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_tukey_fences_broadcast_winsorize_shape(spark):
    """agg_tukey_outlier_fences: the dims and the 25-row quartile table
    broadcast back onto the persisted cents relation (the winsorize
    shape) — no sort-merge join, no cartesian."""
    plan = plan_of(spark, "agg_tukey_outlier_fences")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_chi2_and_dispersion_domain_bounded(spark):
    """agg_chi2_independence / text_dispersion_dp: one corpus scan
    each; all joins are the allowlisted bounded broadcasts (zero-fill
    grids, 1-row totals) — no sort-merge join anywhere."""
    import re

    for name in ("agg_chi2_independence", "text_dispersion_dp"):
        plan = plan_of(spark, name)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, name
        assert "SortMergeJoin" not in plan, name
        assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None, name


def test_rake_two_token_windows_no_join(spark):
    """text_rake_keywords: phrase structure via two token-grain
    windows (flag walk + phrase length), zero joins, one scan, and
    the in-scan posexplode Generate."""
    import re

    plan = plan_of(spark, "text_rake_keywords")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Generate" in plan
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert len(re.findall(r"\(\d+\) Window", plan)) >= 2


def test_richness_single_scan_no_join(spark):
    """text_lexical_richness: one token pass to the spectrum grain,
    one source aggregate, zero joins."""
    import re

    plan = plan_of(spark, "text_lexical_richness")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None


def test_binary_files_scans_binary_source(spark):
    """scan_binary_files: the read-back plans a binaryFile scan (not a
    parquet detour) with the md5 fold as a scan-side projection — no
    joins, no Python."""
    import re

    plan = plan_of(spark, "scan_binary_files")
    assert "binaryFile" in plan
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None


def test_ntile_replans_have_no_window_exec(spark):
    """VERDICT r13 task 3: window_rfm_scores and agg_decile_shares were
    the repo's last two single-partition ntile windows. Re-planned as
    two_pass_ntile (range shuffle -> local sort -> broadcast
    |partitions|-row offset theta-join -> closed-form bucket), the
    plans must carry NO WindowExec of any kind (partitioned or not),
    one sorted exchange per ordering, with the rank probe a
    BroadcastHashJoin on the partition id. At this fixture's SF the
    r16 size_hint fires (events=1000 / customers=150 row bounds), so
    each ordering's exchange is the degenerate single-partition form
    Catalyst plans for RangePartitioning(1) — the hint-off range shape
    is pinned separately in test_two_pass_ntile_size_hint_shapes."""
    import re

    for name, n_sorts in (("window_rfm_scores", 3), ("agg_decile_shares", 1)):
        plan = plan_of(spark, name)
        assert re.search(r"\(\d+\) Window", plan) is None, name
        assert len(re.findall(r"rangepartitioning", plan)) == 0, name
        assert len(re.findall(r"\(\d+\) Sort\b", plan)) >= n_sorts, name
        assert "BroadcastHashJoin" in plan, name


def test_two_pass_ntile_size_hint_shapes(spark):
    """two_pass_ntile's r16 size_hint contract: no hint (or a bound
    above the fits-one-partition rule) keeps the genuine
    rangepartitioning exchange — the cluster shape; a bound under it
    degenerates the exchange to SinglePartition (no range-bounds
    sampling pass, no near-empty partition fan) with the REST of the
    two-pass machinery unchanged — still no WindowExec either way."""
    import re

    from pyspark.sql import functions as F

    from talkdesk_async_etl_spark.operators.stats import two_pass_ntile
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )

    def plan_str(out):
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        return buf.getvalue()

    with cache_scope():
        p_range = plan_str(
            two_pass_ntile(df, [F.col("k"), F.col("id")], 5, "b")
        )
        p_big = plan_str(
            two_pass_ntile(df, [F.col("k"), F.col("id")], 5, "b", size_hint=10**9)
        )
        p_one = plan_str(
            two_pass_ntile(df, [F.col("k"), F.col("id")], 5, "b", size_hint=1000)
        )
    assert "rangepartitioning" in p_range
    assert "rangepartitioning" in p_big
    assert "rangepartitioning" not in p_one
    assert "SinglePartition" in p_one
    for p in (p_range, p_big, p_one):
        assert re.search(r"\(\d+\) Window", p) is None


def test_training_export_pipeline_scans_corpus_once(spark):
    """pipeline_training_export_e2e's fuse contract (VERDICT r13 task
    4): the corpus parquet is scanned ONCE into the persisted base —
    every stage and every audit aggregate reads a persisted parent —
    and the only other source is the stage-6 JSONL round-trip read.
    The pack walk is grouped Arrow (no row-at-a-time Python). The
    plan's only nested-loop joins are the audit's 1-row-aggregate
    cross joins (the tpch_q11 bounded scalar shape, same as the other
    three pipeline demonstrators): exactly 9 by construction — one per
    arow() stage row (6) + one in the split-stage out3 + two in the
    pack-stage out4 — so the count is pinned; a 10th would mean a
    data-sized relation slipped into a cartesian."""
    import contextlib
    import io
    import re

    from talkdesk_async_etl_spark.operators.curation import (
        training_export_audit_plan,
    )
    from talkdesk_async_etl_spark.plans.cache import cache_scope

    with cache_scope():
        core = training_export_audit_plan(spark, SF_SMALL)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            core.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert re.search(r"\(\d+\) Scan json", plan) is not None
    assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None
    assert "FlatMapGroupsInPandas" in plan  # the pack walk, Arrow-grouped
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 9
    assert len(re.findall(r"\(\d+\) CartesianProduct", plan)) == 0
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 0


def test_spearman_grid_collapse_no_nlj(spark):
    """agg_spearman_corr: one corpus scan collapsing to the (lang,x,y)
    grid; midrank windows are lang-PARTITIONED (never unpartitioned);
    the closing joins are hash joins on (lang, value) — no NLJ."""
    import re

    plan = plan_of(spark, "agg_spearman_corr")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window [" not in plan or "windowspecdefinition(lang" in plan


def test_contingency_grid_bounded_and_weighted_pct_joinfree(spark):
    """agg_contingency_residuals: the zero-fill grid is the bounded
    sources x langs cross join (allowlisted KS shape) and the margins
    broadcast. agg_weighted_percentile: NO join of any kind — one
    collapse + lang-partitioned windows + final aggregate."""
    import re

    plan = plan_of(spark, "agg_contingency_residuals")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BroadcastHashJoin" in plan

    plan2 = plan_of(spark, "agg_weighted_percentile")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan2)) == 1
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan2) is None


def test_wave2_plans_log2_joinfree_heaps_range_burst_takeordered(spark):
    """agg_log2_histogram: pure in-scan projection + one hash agg —
    join-free, window-free. text_heaps_law: decile rank via the
    range-partitioned two-pass helper (no unpartitioned WindowExec
    anywhere). text_burstiness: the top-20 cut must plan as
    TakeOrderedAndProject, never a global sort."""
    import re

    plan = plan_of(spark, "agg_log2_histogram")
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert re.search(r"\(\d+\) Window", plan) is None
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1

    plan2 = plan_of(spark, "text_heaps_law")
    assert re.search(r"\(\d+\) Window", plan2) is None
    # r16 size_hint: at this fixture's 500-doc bound the decile rank's
    # range exchange degenerates to the single-partition form; the
    # hint-off range shape is pinned in
    # test_two_pass_ntile_size_hint_shapes.
    assert "rangepartitioning" not in plan2
    assert "SinglePartition" in plan2

    plan3 = plan_of(spark, "text_burstiness")
    assert "TakeOrderedAndProject" in plan3
    assert "Exchange rangepartitioning" not in plan3


def test_range_bucket_join_is_equi_not_nlj(spark):
    """join_range_bucket_equi's entire reason to exist: the pure range
    join must plan as a HASH join on the time slot (probe exploded to
    <=2 slots) with the range residual as join filter — zero
    nested-loop/cartesian nodes anywhere."""
    import re

    plan = plan_of(spark, "join_range_bucket_equi")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"\(\d+\) (BroadcastHashJoin|SortMergeJoin)", plan)
    assert re.search(r"\(\d+\) Generate", plan)  # the 2-slot explode


def test_jsonl_gzip_readback_plans_json_scan(spark):
    """scan_jsonl_gzip: the returned relation aggregates the
    DECOMPRESSED json read-back (Scan json, no Python, no join)."""
    import re

    plan = plan_of(spark, "scan_jsonl_gzip")
    assert re.search(r"\(\d+\) Scan json", plan)
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None


def test_silhouette_broadcast_centroids_and_markov_checkpointed(spark):
    """sim_silhouette_centroid: centroids broadcast, corpus never
    sort-merge-joins, the top-2 cut rides a WindowGroupLimit.
    events_markov_stationary: the returned relation reads the
    checkpointed final iterate (ExistingRDD) with broadcast joins —
    the corpus-sized window lives before the first lineage cut."""
    plan = plan_of(spark, "sim_silhouette_centroid")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan

    plan2 = plan_of(spark, "events_markov_stationary")
    assert "ExistingRDD" in plan2
    assert "SortMergeJoin" not in plan2


def test_welch_single_pass_and_ab_single_exchange(spark):
    """agg_welch_ttest: ONE fused moment aggregate (count/Σx/Σx² in a
    single two-level HashAggregate pass), join-free.
    sample_ab_allocation: distinct-user collapse + in-scan md5
    bucketing, join-free, window-free."""
    import re

    plan = plan_of(spark, "agg_welch_ttest")
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert plan.count("HashAggregate") >= 2  # partial + final

    plan2 = plan_of(spark, "sample_ab_allocation")
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan2) is None
    assert re.search(r"\(\d+\) Window", plan2) is None


def test_vocab_overlap_term_keyed_and_runs_collapsed(spark):
    """text_source_vocab_overlap: one corpus scan to the distinct
    (source, term) grain; the self-join is term-keyed (hash join) with
    |sources|-row broadcast size joins — no NLJ. agg_runs_test: one
    corpus collapse, type-keyed windows only, the median relation
    broadcasts back."""
    import re

    plan = plan_of(spark, "text_source_vocab_overlap")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    plan2 = plan_of(spark, "agg_runs_test")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan2)) == 1
    assert "BroadcastHashJoin" in plan2
    assert "BroadcastNestedLoopJoin" not in plan2


def test_ab_power_two_collapses_one_scalar_broadcast(spark):
    """agg_ab_power_mde: two map-side-combinable collapses (distinct
    users, per-type moments) + the 1-row arms broadcast — no SMJ, no
    window."""
    import re

    plan = plan_of(spark, "agg_ab_power_mde")
    assert "SortMergeJoin" not in plan
    assert re.search(r"\(\d+\) Window", plan) is None
    assert "BroadcastExchange" in plan


def test_streak_and_interval_merge_single_user_exchange(spark):
    """window_streak_days: distinct (user,day) collapse first, then
    user-keyed windows — no join. join_interval_merge: the running-max,
    flag, and island windows all share ONE user-keyed sort (a single
    Window exchange), then grain-sized aggregates — no join."""
    import re

    plan = plan_of(spark, "window_streak_days")
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1

    plan2 = plan_of(spark, "join_interval_merge")
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan2) is None
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan2)) <= 1


def test_pr_curve_one_aggregate_bounded_tail(spark):
    """ml_eval_pr_curve: the corpus collapses in ONE conditional
    aggregate — exactly two parquet scans (documents + labels), no
    sort-merge join anywhere, a stack() Generate fanning the single
    aggregate row to the 21-cut grid, exactly the one allowlisted
    1-row PR-AUC nested-loop broadcast, and no Python."""
    import re

    plan = plan_of(spark, "ml_eval_pr_curve")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "Generate" in plan
    assert re.search(r"\(\d+\) BatchEvalPython\b", plan) is None


def test_round15_eval_stats_plan_shapes(spark):
    """Round-15 wave shapes: ROC collapses to the quantization-bounded
    histogram with no nested loop and no sort-merge; calibration and
    CUPED carry exactly their one allowlisted scalar broadcast;
    OLS trend is join-free — two stacked hash aggregates over one
    scan, not even a window."""
    import re

    plan = plan_of(spark, "ml_eval_roc_auc")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 0

    plan = plan_of(spark, "ml_calibration_bins")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "events_ols_trend")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert re.search(r"\(\d+\) Window", plan) is None

    plan = plan_of(spark, "agg_ab_cuped")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "SortMergeJoin" not in plan


def test_round15_wave_c_plan_shapes(spark):
    """Round-15 wave C: assoc rules carry exactly the one allowlisted
    1-row total broadcast over a single persisted grain scan;
    conversion latency is one corpus scan with cohort-partitioned
    windows and no sort-merge join; zipf is one corpus scan with no
    nested loop (the fit runs on the 100-row bounded relation)."""
    import re

    plan = plan_of(spark, "agg_assoc_rules")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "window_conversion_latency")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 0

    plan = plan_of(spark, "text_zipf_slope")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 0


def test_round15_wave_d_plan_shapes(spark):
    """Round-15 wave D: every events-family kernel is ONE parquet scan
    with all later work on the persisted day grain (no sort-merge, no
    nested loop; changepoint's windows are type-partitioned); the
    multiclass confusion eval is one scan + four broadcast hash joins
    over domain-bounded relations (no SMJ after the explicit
    broadcasts); NDCG has no nested-loop join (its exact top-k core
    is the Arrow kernel's corpus scan); kfold is one scan
    with a single broadcast join back."""
    import re

    for name in (
        "agg_kendall_tau",
        "events_ewma_smooth",
        "events_seasonal_decompose",
    ):
        plan = plan_of(spark, name)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, name
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert re.search(r"\(\d+\) Window", plan) is None, name

    plan = plan_of(spark, "events_changepoint_binary")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # windows exist but are type-partitioned (the day grain), never
    # a single-partition global sort
    assert "Window" in plan

    plan = plan_of(spark, "ml_eval_confusion_multiclass")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 4
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = plan_of(spark, "ml_eval_ndcg")
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 0
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "sample_kfold_assign")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round15_wave_e_plan_shapes(spark):
    """Round-15 wave E: HHI is join-free (two stacked hash aggregates
    over one scan); seasonality strength and hapax run on the one
    persisted grain with broadcast equi-joins only; churn's single
    sort-merge join is the full-outer self-join of the user-week
    grain on its natural key (full outer cannot broadcast — and at
    scale SMJ on the grain key is the right plan); TV distance carries
    exactly its one allowlisted bounded NLJ (the 1-row corpus-total
    shape) and MRR none (its exact top-k core is the Arrow kernel's
    corpus scan); Brier is the scored-labels
    tree plus one 2-group aggregate."""
    import re

    plan = plan_of(spark, "agg_hhi_concentration")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert re.search(r"\(\d+\) [A-Za-z]*Join", plan) is None
    assert re.search(r"\(\d+\) Window", plan) is None

    for name in ("events_seasonality_strength", "text_hapax_share"):
        plan = plan_of(spark, name)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, name
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    plan = plan_of(spark, "events_user_churn_weekly")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1  # full outer
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"\(\d+\) Window", plan) is None

    plan = plan_of(spark, "text_tv_distance_sources")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "ml_eval_mrr")
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 0
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "ml_eval_brier")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"\(\d+\) Window", plan) is None


def test_round15_wave_f_plan_shapes(spark):
    """Round-15 wave F: the levenshtein verify stage is broadcast
    equi-joins only (the DP runs on the bounded candidate pairs, no
    NLJ, no sort-merge); length quartiles is one source-partitioned
    rank window + a |sources|-row broadcast; negative sampling
    carries exactly its allowlisted 1-row count broadcast and ONE
    shuffle join; the lift table's nested loops are all the
    allowlisted two_pass_ntile offset/Lorenz/totals shapes; the hour
    profile is one corpus exchange with a 24-row-per-type window."""
    import re

    plan = plan_of(spark, "dedup_levenshtein_verify")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "text_length_quartiles")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "partitionBy=\\[source" in plan.replace("PartitionBy", "partitionBy") or "source" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "sample_negative_pairs")
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "SortMergeJoin" not in plan

    plan = plan_of(spark, "ml_eval_lift_table")
    assert "SortMergeJoin" not in plan  # everything broadcasts

    plan = plan_of(spark, "events_hour_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan

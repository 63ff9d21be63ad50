"""Physical-plan audits (SURVEY.md §4): the scale properties we rely on
must be visible in `explain`, not assumed. Each test asserts the plan
artifact that makes the operator viable at 100 TB — a regression here means
a silent 10-1000× scale cliff, not a wrong answer."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from oeem_etl_spark.catalog import load_table
from oeem_etl_spark.plans import load_all
from oeem_etl_spark.plans import registry


@pytest.fixture(scope="module", autouse=True)
def _loaded():
    load_all()


def plan_of(df) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_projection_pushed_to_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_returnflag", "l_quantity"
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"l_returnflag", "l_quantity", "l_shipdate"}, read_cols


def test_q01_aggregates_partially_before_shuffle(spark, sf_dir):
    q = registry.queries()["q01_pricing_summary"]
    plan = plan_of(q(spark, sf_dir))
    # partial_* aggregates = map-side combine: the shuffle carries one row
    # per (flag, status) per partition, not 600k rows
    assert "partial_sum" in plan and "Exchange" in plan


def test_q02_joins_are_broadcast(spark, sf_dir):
    q = registry.queries()["q02_top_revenue_customers"]
    plan = plan_of(q(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan
    # global top-k plans as TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_dedupe_keep_latest_by_is_hash_aggregate(spark, sf_dir):
    from oeem_etl_spark.operators.relational import dedupe_keep_latest_by

    ev = load_table(spark, sf_dir, "events")
    out = dedupe_keep_latest_by(ev, ["user_id", "event_type"], ["ts", "event_id"])
    plan = plan_of(out)
    assert "max_by" in plan and "partial_max_by" in plan
    assert "Window" not in plan  # the point: no per-partition global sort


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    from oeem_etl_spark.operators.relational import topk_per_group

    ev = load_table(spark, sf_dir, "events")
    out = topk_per_group(
        ev, partition_by=["user_id"], order_by=[F.col("value").desc()], k=3
    )
    plan = plan_of(out)
    # Spark 4 rank-pushdown: each partition pre-prunes to k rows before the
    # final window — without this, top-k sorts the full group
    assert "WindowGroupLimit" in plan, plan


def test_exact_dedup_shuffles_digest_not_text(spark, sf_dir):
    from oeem_etl_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = exact_dedup(docs.select("doc_id", "text"), "text", "doc_id")
    plan = plan_of(out)
    m = re.search(r"hashpartitioning\(([^,]+)", plan)
    assert m and "__digest" in m.group(1), plan


def test_broadcast_dims_in_stream_static_join(spark, sf_dir):
    from oeem_etl_spark.streaming import ops

    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    plan = plan_of(ops.enrich(ev, dim, "user_id"))
    assert "BroadcastHashJoin" in plan


def test_t05_six_way_join_no_sort_merge(spark, sf_dir):
    """The Q5-shape chain must stay all-broadcast: the lineitem fact is
    never shuffled for a join, only for the final aggregation."""
    q = registry.queries()["t05_regional_volume"]
    plan = plan_of(q(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_t04_exists_plans_as_broadcast_semi_join(spark, sf_dir):
    """Correlated EXISTS with a residual non-equi predicate: LeftSemi with
    join condition, orders date filter pushed to the parquet scan."""
    q = registry.queries()["t04_order_priority"]
    plan = plan_of(q(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(o_orderdate" in plan


def test_l19_eval_grams_broadcast_corpus_unshuffled(spark, sf_dir):
    """Decontamination: the (tiny) eval gram list broadcasts; the corpus
    gram explode must not shuffle on the gram string."""
    q = registry.queries()["l19_decontaminate"]
    plan = plan_of(q(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # exactly one gram shuffle — the eval side's distinct (tiny by
    # construction); the corpus gram stream must reach the semi join
    # shuffle-free
    assert len(re.findall(r"hashpartitioning\(gram", plan)) == 1, plan


def test_t10_scans_prune_columns(spark, sf_dir):
    """Returned-items rollup reads only the needed lineitem columns."""
    q = registry.queries()["t10_returned_items"]
    plan = plan_of(q(spark, sf_dir))
    m = [
        set(c.split(":")[0] for c in g.split(","))
        for g in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    ]
    li_reads = [s for s in m if "l_orderkey" in s]
    assert li_reads and all(
        s <= {"l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"}
        for s in li_reads
    ), li_reads


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The three join strategies must be selectable per side — at cluster
    scale the right pick is data-dependent and the hints are the override
    when AQE/statistics guess wrong."""
    from oeem_etl_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    cases = {
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "broadcast": "BroadcastHashJoin",
    }
    for hint, node in cases.items():
        plan = plan_of(
            li.join(orders.hint(hint), F.col("l_orderkey") == F.col("o_orderkey"))
        )
        assert node in plan, (hint, plan[:500])


def test_t08_eight_way_join_stays_broadcast(spark, sf_dir):
    """The deepest join chain (Q8 shape) must not shuffle the fact for any
    of its seven dimension attachments."""
    q = registry.queries()["t08_market_share"]
    plan = plan_of(q(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4, plan.count("BroadcastHashJoin")


def test_t13_on_clause_filter_precedes_join(spark, sf_dir):
    """Q13 shape: the o_orderpriority predicate must prune the orders side
    BEFORE its exchange (pushed to the scan), and both aggregations must
    combine map-side (partial_count) so the low-cardinality second key
    never concentrates raw rows."""
    q = registry.queries()["t13_customer_distribution"]
    plan = plan_of(q(spark, sf_dir))
    assert "PushedFilters" in plan and "1-URGENT" in plan, plan
    assert "partial_count" in plan


def test_l26_shuffles_digests_not_text(spark, sf_dir):
    """Incremental dedup: every exchange carries the 16-byte digest (plus
    key/meta columns) — the document text column must be projected away
    before any shuffle."""
    q = registry.queries()["l26_incremental_dedup"]
    plan = plan_of(q(spark, sf_dir))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    # the within-batch dedup is a hash aggregate on the digest, not a sort
    assert "max_by" in plan or "min_by" in plan, plan


def test_l3e_arrow_topk_shuffles_only_local_winners(spark, sf_dir):
    """Arrow top-k: the only wide operator above the Python stage is the
    final window merge over per-batch winners — no cross join, no global
    sort of the full score matrix."""
    q = registry.queries()["l3e_topk_arrow"]
    plan = plan_of(q(spark, sf_dir))
    assert "MapInPandas" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_t11_threshold_is_broadcast_single_fact_shuffle(spark, sf_dir):
    """Q11 shape: the supplier region filter must reach lineitem as a
    broadcast hash join (the fact side never shuffles for it), the partkey
    aggregation must combine map-side, and the scalar threshold must attach
    as a broadcast of the 1-row total — never a CartesianProduct. The pv
    subtree appears twice in the static plan (once for values, once for the
    total); at runtime AQE must collapse the duplicate into a
    ReusedExchange so the fact is scanned and aggregated exactly once."""
    q = registry.queries()["t11_part_value_concentration"]
    df = q(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(l_partkey" in plan, plan
    df.collect()
    assert "ReusedExchange" in plan_of(df)


def test_t12_date_window_pushed_to_scan(spark, sf_dir):
    """Q12 shape: the l_shipdate year window must prune at the parquet scan
    (PushedFilters), and the conditional counts must partial-aggregate
    map-side so the 2-row result never concentrates raw lines."""
    q = registry.queries()["t12_late_line_priority"]
    plan = plan_of(q(spark, sf_dir))
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", plan), plan
    assert "partial_sum" in plan


def test_t20_nested_semi_chain_broadcasts(spark, sf_dir):
    """Q20 shape: both membership tests (part-name filter into lineitem,
    qualifying-supplier set into supplier) must be broadcast LEFT-SEMI
    joins; the only fact shuffle is the (suppkey, partkey) aggregate."""
    q = registry.queries()["t20_excess_shippers"]
    plan = plan_of(q(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_t21_decorrelated_window_single_fact_exchange(spark, sf_dir):
    """Q21 shape after decorrelation: the EXISTS / NOT EXISTS pair is ONE
    window over l_orderkey (no self-joins of the fact table — LeftSemi/
    LeftAnti would mean the rewrite regressed), the window reuses the
    orderkey exchange the lineitem⋈orders join produced (exactly one
    hashpartitioning of the fact side), the supplier attach broadcasts,
    and the top-20 is a TakeOrdered, not a global sort."""
    q = registry.queries()["t21_waiting_supplier"]
    plan = plan_of(q(spark, sf_dir))
    assert "Window" in plan, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    assert plan.count("hashpartitioning(l_orderkey") <= 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_l27_pipeline_is_two_shuffles(spark, sf_dir):
    """The composed curation funnel (dedup -> quality -> split -> rollup)
    must stay a single linear job with exactly two hash exchanges: the
    dedup digest and the final language rollup. Quality predicates and the
    split projection are narrow — if either ever introduces a join or an
    extra exchange, the composition has stopped fusing."""
    q = registry.queries()["l27_corpus_pipeline"]
    plan = plan_of(q(spark, sf_dir))
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert [k.split("#")[0] for k in keys] == ["__digest", "lang"], keys
    assert "Join" not in plan, plan


def shuffle_exchanges(plan: str) -> int:
    """Count shuffle Exchange nodes in a formatted plan (detail-line form
    "(N) Exchange" is one line per node; BroadcastExchange doesn't match)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_l33_contamination_score_broadcasts_eval_grams(spark, sf_dir):
    q = registry.queries()["l33_contamination_score"]
    plan = plan_of(q(spark, sf_dir))
    # the eval gram list joins as a broadcast; the corpus path shuffles
    # only for the eval-distinct and the per-doc count (no SortMergeJoin)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Generate" in plan, plan
    assert shuffle_exchanges(plan) <= 2, plan


def test_k23_calendarize_is_map_side_until_rollup(spark, sf_dir):
    q = registry.queries()["k23_calendarize"]
    plan = plan_of(q(spark, sf_dir))
    # r10: the per-(interval × month) explode is gone — the bounded
    # contribution generator (≤3 rows/interval) feeds the ONE data-bearing
    # shuffle (the monthly rollup, map-side combined); the second exchange
    # is the O(months)-row axis-bounds aggregate over the persisted
    # rollup. orders⋈lineitem still broadcasts; no join introduced.
    assert "Generate" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan
    assert shuffle_exchanges(plan) <= 2, plan


def test_l34_quantile_gate_broadcasts_thresholds(spark, sf_dir):
    q = registry.queries()["l34_quality_quantile_gate"]
    plan = plan_of(q(spark, sf_dir))
    # the n_langs-row threshold frame must come back as a broadcast join —
    # the corpus side is filtered with no shuffle
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_e7_e8_single_window_sort_each(spark, sf_dir):
    for name in ("e7_rolling_distinct", "e8_distribution_ranks"):
        q = registry.queries()[name]
        plan = plan_of(q(spark, sf_dir))
        # one shuffle on the partition key feeding Window — a second
        # exchange would mean the frame order wasn't reused
        assert shuffle_exchanges(plan) == 1, (name, plan)
        assert "Window" in plan, (name, plan)


def test_k27_one_exchange_then_broadcast_overlap(spark, sf_dir):
    """k27's as-of stage costs exactly one hash exchange on user_id (the
    union+window plan); the period overlap join must be a broadcast
    nested loop, never adding a second fact shuffle; the final period
    rollup aggregates partially map-side."""
    q = registry.queries()["k27_rated_billing"]
    plan = plan_of(q(spark, sf_dir))
    # exactly one Window (the as-of forward-fill) fed by one user_id sort
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    # hash exchanges: users-distinct, as-of window, final rollup — no more
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_m6_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """m6's bloom bitmap must appear as a pure filter over the lineitem
    scan (rows die pre-exchange), and the rollup's Expand sits above the
    grouped map, not below the join."""
    q = registry.queries()["m6_bloom_rebased_rollup"]
    plan = plan_of(q(spark, sf_dir))
    # the library bloom probe is a pure bit_get/xxhash64 expression filter
    # over the fact scan (operators/pruning.py), codegen-able, no UDF
    assert "bit_get" in plan and "xxhash64" in plan, plan
    assert "Expand" in plan, plan
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan, plan


def test_l41_canon_join_is_broadcast(spark, sf_dir):
    """The fuzzy levenshtein theta-join must broadcast the 10-row
    canonical vocabulary (nested loop over predictions only)."""
    q = registry.queries()["l41_knn_label_canon"]
    plan = plan_of(q(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_g6_set_ops_share_key_partitioning(spark, sf_dir):
    """g6 compiles INTERSECT/EXCEPT to aggregates/joins over user_id
    hash exchanges — assert no cartesian and no broadcast of the
    (potentially huge) distinct-keys sides at scale shape."""
    q = registry.queries()["g6_snapshot_reconcile"]
    plan = plan_of(q(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_h17_fuzzy_join_no_cartesian(spark, sf_dir):
    """The deletion-neighborhood fuzzy join must plan as a hash equi-join
    on the variant key — a BroadcastNestedLoopJoin / CartesianProduct
    would mean candidate generation silently fell back to all-pairs."""
    q = registry.queries()["h17_fuzzy_join"]
    plan = plan_of(q(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ") Generate" in plan and "explode" in plan, plan


def test_k29_interpolate_same_shape_as_fill_gaps(spark, sf_dir):
    """Interpolation adds window passes but no extra exchange family:
    grid generate + one join + windows, no UDFs (no BatchEvalPython /
    ArrowEvalPython nodes)."""
    q = registry.queries()["k29_interpolate_gaps"]
    plan = plan_of(q(spark, sf_dir))
    assert "Window" in plan, plan
    assert "EvalPython" not in plan, plan


def test_k31_winsorize_broadcasts_cutoffs(spark, sf_dir):
    """The p05/p95 cutoff table is per-group tiny — it must broadcast
    back onto the stream, never shuffle the raw events for the clamp."""
    q = registry.queries()["k31_winsorize"]
    plan = plan_of(q(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_b9_stratified_sample_is_pure_filter(spark, sf_dir):
    """Deterministic stratified sampling is a per-row expression: the
    plan must contain no Exchange at all (scan → filter → project)."""
    q = registry.queries()["b9_stratified_sample"]
    plan = plan_of(q(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_d19_histogram_partial_aggregates(spark, sf_dir):
    """The histogram is one map-combinable aggregate: partial_* before
    the exchange, and the bucket arithmetic is integer (no UDFs)."""
    q = registry.queries()["d19_histogram"]
    plan = plan_of(q(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "EvalPython" not in plan, plan


def test_k32_ewma_single_window_no_python(spark, sf_dir):
    q = registry.queries()["k32_ewma"]
    plan = plan_of(q(spark, sf_dir))
    # formatted plans print each node twice (tree + details): 2 hits = 1 node
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert "EvalPython" not in plan, plan


def test_l44_repetition_counts_shuffle_terms_not_tokens(spark, sf_dir):
    """Both signal families aggregate (doc, term) BEFORE their per-doc
    rollup: the plan must show partial aggregation under each explode so
    the exchanges carry counts, not raw token instances."""
    q = registry.queries()["l44_repetition_signals"]
    plan = plan_of(q(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert ") Generate" in plan and "explode" in plan, plan


def test_l47_bm25_prunes_terms_map_side(spark, sf_dir):
    """The token explode is filtered to the 5 query terms BEFORE any
    exchange (the shuffle carries hit rows only), corpus stats and df
    ride broadcast joins, and no Python surface appears."""
    q = registry.queries()["l47_bm25_retrieval"]
    plan = plan_of(q(spark, sf_dir))
    assert "EvalPython" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "partial_count" in plan, plan
    # Every term-IN Filter node must sit DIRECTLY on a Generate (node ids
    # are child-first, so the explode is node N-1) — i.e. the prune happens
    # before any aggregate/exchange touches the token stream.
    import re as _re

    prune_nodes = [
        int(m.group(1))
        for m in _re.finditer(r"\((\d+)\) Filter\nInput.*\nCondition : term#\d+ IN", plan)
    ]
    assert prune_nodes, plan
    for n in prune_nodes:
        assert f"({n - 1}) Generate" in plan, (n, plan)


def test_k34_spatial_candidates_are_equi_join(spark, sf_dir):
    """The candidate stage must be a hash EQUI-join on the cell key (the
    scale path), never a cartesian; the single BroadcastNestedLoopJoin
    allowed is the exact fallback fed by the thin unresolved tail."""
    q = registry.queries()["k34_nearest_station"]
    plan = plan_of(q(spark, sf_dir))
    assert "EvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("CartesianProduct") == 0, plan
    # formatted plans print each node twice (tree + detail header): count
    # the detail headers only
    bnlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnlj) <= 1, plan


def test_k35_dst_day_has_23_local_hours(spark, sf_dir):
    """The +69-day shift must actually cross the 2024-03-10 spring-forward:
    that civil day shows 23 distinct local hours, neighbors show 24 — if
    tz conversion silently degraded to a fixed offset, this pins it."""
    import datetime as _dt

    q = registry.queries()["k35_dst_local_rollup"]
    rows = {r["local_day"]: r["n_local_hours"] for r in q(spark, sf_dir).collect()}
    assert rows[_dt.datetime(2024, 3, 10)] == 23, rows
    assert rows[_dt.datetime(2024, 3, 11)] == 24, rows


def test_l48_prefix_join_no_cartesian(spark, sf_dir):
    """Prefix filtering must plan as equi-joins on the shingle key plus a
    per-document window — never a cartesian/nested-loop pair stage."""
    q = registry.queries()["l48_jaccard_prefix_join"]
    plan = plan_of(q(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert not re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan), plan
    assert "EvalPython" not in plan, plan
    # the candidate join shuffles on the shingle token key
    assert re.search(r"hashpartitioning\(__tok", plan), plan


def test_a26_ivm_joins_broadcast_no_fact_shuffle_before_merge(spark, sf_dir):
    q = registry.queries()["a26_incremental_join_maintenance"]
    plan = plan_of(q(spark, sf_dir))
    # all four IVM terms broadcast the dim side; the only exchanges are
    # the partial-aggregate merges (one row per nation per term)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_d23_k_anonymity_two_hash_aggregates(spark, sf_dir):
    q = registry.queries()["d23_k_anonymity"]
    plan = plan_of(q(spark, sf_dir))
    # class-size count then audit rollup, both map-side combined; no
    # window, no join — O(classes) shuffle rows
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Window" not in plan and "Join" not in plan.replace("Joined", "")


def test_k39_peak_join_is_broadcast(spark, sf_dir):
    q = registry.queries()["k39_peak_demand"]
    plan = plan_of(q(spark, sf_dir))
    # one-row-per-month peak frame broadcast into the contributor join;
    # the own-peak join is month×user sized and may hash either way, but
    # nothing sort-merges the raw event stream
    assert "BroadcastHashJoin" in plan, plan


def test_l49_importance_vocab_join_no_text_shuffle(spark, sf_dir):
    q = registry.queries()["l49_importance_weights"]
    plan = plan_of(q(spark, sf_dir))
    # totals ride a broadcast nested loop (3 numbers); the text column
    # never appears in any exchange — only doc_id/token/weight rows move
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange" in line and "text" in line:
            raise AssertionError(f"text column in exchange: {line}")


def test_t02_fact_single_shuffle_dims_broadcast(spark, sf_dir):
    q = registry.queries()["t02_min_cost_supplier"]
    plan = plan_of(q(spark, sf_dir))
    # dims (supplier->nation->region chain, filtered part) all broadcast
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan
    # fact scans only the 4 needed columns
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
    }, plan


def test_dense_ids_no_data_sized_single_partition(spark, sf_dir):
    # the operator's whole point: the only SinglePartition exchange is over
    # the B-row bucket-count frame, never over the key data
    from oeem_etl_spark.operators.ids import dense_ids

    cust = load_table(spark, sf_dir, "customer")
    plan = plan_of(dense_ids(cust, "c_name", buckets=16))
    # data-sized side: one range exchange + one bucket-id hash exchange
    assert "rangepartitioning(c_name" in plan, plan
    # exactly ONE SinglePartition exchange — the B-row bucket-count frame;
    # a second would mean the key data itself is being single-tasked
    assert plan.count("SinglePartition") == 1, plan
    # global key windows would show as an empty-partition Window sort on
    # c_name over a SinglePartition exchange — assert the window is bucketed
    assert re.search(r"row_number\(\) windowspecdefinition\(__b", plan), plan


def test_zorder_key_stays_in_codegen(spark, sf_dir):
    from oeem_etl_spark.operators.layout import zorder_key

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("cx"),
        (F.col("o_orderkey") % 256).alias("cy"),
    )
    df = o.withColumn("z", zorder_key(["cx", "cy"], bits=8))
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # formatted explain marks codegen nodes with '*'
    assert re.search(r"\* Project", plan), plan


def test_bpe_word_freq_partial_aggregates(spark, sf_dir):
    from oeem_etl_spark.operators.bpe import word_freq

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(word_freq(docs, top_words=200))
    # the one corpus-sized pass must map-side combine, and the top-k bound
    # must plan as TakeOrdered, not a global sort
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_j11_cogroup_plans_as_cogroup_not_join(spark, sf_dir):
    q = registry.queries()["j11_cogroup_asof"]
    plan = plan_of(q(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    # both sides shuffle once on user_id only
    assert plan.count("hashpartitioning(user_id") == 2, plan


def _plan_bounds():
    import json
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "tools" / "plan_bounds.json"
    return json.loads(path.read_text())


@pytest.mark.parametrize("name", sorted(_plan_bounds()))
def test_headline_plan_within_recorded_bounds(spark, sf_dir, name):
    """The plan audit as a GATE, not an artifact:
    every headline query's STATIC plan must stay within the structural
    bounds committed in tools/plan_bounds.json — no new Python eval
    nodes, shuffle-exchange count <= the recorded value, every parquet
    scan at most as wide as recorded, and pushed filters still present
    where recorded. A regression here is a silent scale cliff; after an
    INTENTIONAL plan change, regenerate with
    `python tools/plan_audit.py --bounds`."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from plan_audit import static_bounds

    bounds = _plan_bounds()[name]
    q = registry.queries()[name]
    got = static_bounds(plan_of(q(spark, sf_dir)))
    assert got["python_evals"] <= bounds["python_evals"], got
    assert got["shuffle_exchanges"] <= bounds["shuffle_exchanges"], got
    for table, s in got["scans"].items():
        ref = bounds["scans"].get(table)
        assert ref is not None, f"new scan of {table}: {s}"
        assert s["max_cols"] <= ref["max_cols"], (table, s, ref)
        if ref["has_filters"]:
            assert s["has_filters"], f"pushed filters lost on {table}"


def test_bounds_set_matches_recorded_bounds():
    """`plan_audit.py --bounds` records exactly BOUNDS_SET, so the set and
    tools/plan_bounds.json must name the same registered queries, once
    each: a name added to one side only is a query whose plan no gate
    checks."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from plan_audit import BOUNDS_SET

    assert len(BOUNDS_SET) == len(set(BOUNDS_SET)), BOUNDS_SET
    assert set(BOUNDS_SET) == set(_plan_bounds())
    missing = set(BOUNDS_SET) - set(registry.all_queries())
    assert not missing, f"unregistered BOUNDS_SET names: {sorted(missing)}"


def test_label_propagation_rounds_are_checkpoint_backed(spark, sf_dir):
    # each round ends in localCheckpoint, so the returned frame's lineage is
    # a checkpoint scan, not the whole iterative join tree — the property
    # that keeps round N's plan O(1) instead of O(N)
    from oeem_etl_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    plan = plan_of(label_propagation(edges, rounds=2))
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "hashpartitioning" not in plan, plan  # no join tree in lineage

"""Physical-plan CONTRACTS for representative queries.

tools/plan_audit.py reports plans for human review; these tests pin the
load-bearing physical properties as hard assertions so a regression
(lost pushdown, a broadcast degrading to shuffle, a window top-k losing
the group-limit optimization, codegen dropping out) fails CI instead of
silently shipping a 100x-at-scale slowdown. Each assertion names the
property that matters at 100 TB, not the whole plan text."""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plans(spark):
    qs = entry.queries()

    def plan_of(name: str) -> str:
        # formatted explain prints scans with UNtruncated PushedFilters /
        # ReadSchema and tags operators with their codegen id; the raw
        # executedPlan().toString() elides long field lists with "..."
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, SF).explain("formatted")
        return buf.getvalue()

    return plan_of


def test_q6_filters_reach_the_scan(plans):
    """TPC-H Q6: every predicate is pushed into the parquet scan — the
    scan, not a post-scan Filter, eliminates non-qualifying row groups."""
    p = plans("agg_forecast_revenue_q6")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity,24.0)" in p


def test_q6_column_pruning(plans):
    """Q6 reads 4 of lineitem's 11 columns; a full-width ReadSchema would
    multiply scan bytes at 100 TB."""
    p = plans("agg_forecast_revenue_q6")
    scan_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in scan_schema and "l_returnflag" not in scan_schema


def test_q14_part_dimension_broadcasts(plans):
    """Q14: the part dimension joins as a broadcast hash join — a
    sort-merge join here would shuffle the date-pruned fact for a
    dimension that fits in memory."""
    p = plans("join_promo_revenue_share_q14")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_topk_per_group_has_group_limit(plans):
    """rank<=k over a window must plan the WindowGroupLimit pushdown
    (Spark 3.5+): each partition keeps a k-heap instead of fully sorting
    every group before filtering."""
    p = plans("topk_per_group_lineitems")
    assert "WindowGroupLimit" in p


def test_global_topk_never_fully_sorts(plans):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject, not a global
    Sort: a total sort of a 100 TB fact to read 10 rows is the classic
    scale failure."""
    p = plans("tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in p


def test_q4_exists_plans_as_semi_join(plans):
    """The correlated EXISTS must be a left-semi join (first match wins),
    never an inner join + distinct over the multiplied rows."""
    p = plans("agg_late_orders_by_priority_q4")
    assert "LeftSemi" in p


def test_anti_join_for_not_exists(plans):
    """NOT EXISTS must plan as an anti join, not an outer-join +
    null-filter (which materializes the full outer result)."""
    p = plans("join_anti_customers_without_orders")
    assert "LeftAnti" in p


def test_keyed_scan_pushes_keys_not_collects(plans):
    """The engine's keyed scan (reference S2: IN-list batches of 500,
    `CopyUtils.java:393-425`) must plan as a distributed semi-join — no
    driver-collected literal IN-list anywhere in the plan."""
    p = plans("keyed_scan_orders")
    assert "LeftSemi" in p
    assert "In(o_custkey" not in p and " IN (" not in p


def test_dedup_exact_shuffles_digest_not_text(plans):
    """Exact dedup aggregates on a fixed-width digest: the exchange key
    must be the md5 column, never the raw document text."""
    p = plans("dedup_exact")
    ex_lines = [
        l for l in p.splitlines() if "hashpartitioning" in l and "Arguments" in l
    ]
    assert ex_lines and all(
        "md5" in l or "__h" in l or "_groupingexpression" in l for l in ex_lines
    )
    assert all("text" not in l for l in ex_lines)


def test_q18_single_lineitem_scan(plans):
    """Q18's docstring claims the IN-subquery HAVING set and the output
    measure come from ONE aggregation — i.e. lineitem is scanned once,
    where the SQL form reads it twice (subquery + outer join)."""
    p = plans("tpch_q18_large_volume_customers")
    assert p.count("lineitem.parquet") == 1


def test_prefix_filter_guard_not_pruned(plans):
    """The max_bucket guard must survive optimization: it was once
    attached as a dropped column and silently pruned by Catalyst (dead
    code) — the plan must still contain the assert_true expression."""
    p = plans("dedup_jaccard_prefix_filter")
    # assert_true lowers to `if (cond) true else isnull(raise_error(...))`
    assert "raise_error" in p and "max_bucket" in p


def test_triangle_counting_has_no_nested_loop(plans):
    """Degree-ordered triangle counting must plan every join as a hash/
    sort-merge equi-join — the orientation precondition exists precisely
    so no stage falls back to a nested-loop pair expansion."""
    p = plans("graph_triangle_counts")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # the wedge-closing step stays a semi-join: triangles are counted,
    # closing edges are never materialized per wedge
    assert "LeftSemi" in p


def test_cms_heavy_hitters_broadcasts_the_grid(plans):
    """Point-querying the count-min grid must broadcast the (depth x
    width) sketch — shuffling probe rows against a 4096-row frame would
    invert the design."""
    p = plans("sketch_cms_heavy_hitters")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_shard_manifest_is_one_agg_pass(plans):
    """The shard manifest is a pure aggregation: no join anywhere — both
    hash draws are per-row expressions over one documents scan."""
    p = plans("train_shard_manifest")
    assert "Join" not in p
    # formatted explain lists the single scan twice: tree node + detail
    assert p.count("Scan parquet") == 2


def _pinned(plan: str, *keys: str) -> bool:
    """True iff some exchange line hash-partitions on exactly these key
    prefixes with a REPARTITION_BY_NUM origin (the r14 pins: an explicit
    count is the ONLY origin AQE's byte-based coalescing cannot fold back
    to one task — ENSURE_REQUIREMENTS and bare REPARTITION_BY_COL are
    both coalescible)."""
    for line in plan.splitlines():
        if "REPARTITION_BY_NUM" in line and all(
            f"{k}#" in line for k in keys
        ) and "hashpartitioning" in line:
            return True
    return False


def test_banded_rescore_exchange_is_pinned(plans):
    """similarity_topk_lsh_banded (exact scorer): the candidate exchange
    under the distinct/rescore/window is pinned at defaultParallelism —
    AQE otherwise coalesces the few-hundred-KB id-pair payload to ONE
    task and serializes the 64-term dot rescore (r14: 582 ms CPU on 1 of
    32 cores; 17% end-to-end win from the pin, AB_SF01_r14_pinrepart2)."""
    assert _pinned(plans("similarity_topk_lsh_banded"), "query_id")


def test_vectorized_rescore_exchange_not_pinned(plans):
    """The Arrow-scorer twin must NOT carry the pin: splitting its one
    Arrow batch into per-core slivers trades the numpy reduction for 32
    Python-worker round-trips (measured neutral-to-worse over 12
    alternating rounds, AB_SF01_r14_pinvec)."""
    assert not _pinned(plans("similarity_topk_lsh_vectorized"), "query_id")


def test_ngram_posting_exchange_is_pinned(plans):
    """dedup_ngram_jaccard: the shingle-posting exchange feeding the
    quadratic pair-emit stage is pinned — byte-based coalescing ran that
    stage on 6 of 32 cores at sf0.1 (16% end-to-end win)."""
    assert _pinned(plans("dedup_ngram_jaccard"), "sh")


def test_minhash_pair_exchanges_are_pinned(plans):
    """dedup_minhash_lsh: both the band-bucket exchange (under the
    window-count + self-join pair stream) and the pair exchange (under
    the distinct/verify) are pinned."""
    p = plans("dedup_minhash_lsh")
    assert _pinned(p, "bucket")
    assert _pinned(p, "id_a", "id_b")


def test_counted_side_plans_one_exchange(spark):
    """A table's whole copy check (``walk._counted``: both sides' distinct
    key tuples and the found side's ``count(*)``) plans exactly one
    shuffle exchange: the grouping of the tagged union. AQE starts one
    Spark job per query stage, so each further exchange is one more job
    per table."""
    from oracle_schema_copy_spark.operators.walk import _counted

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    want = li.filter("l_orderkey % 2 = 0").select("l_orderkey", "l_linenumber")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _counted(li, want, ["l_orderkey", "l_linenumber"], "lineitem").explain()
    nodes = [l.lstrip(" +-:") for l in buf.getvalue().splitlines()]
    assert sum(n.startswith("Exchange") for n in nodes) == 1


def test_seed_frame_broadcasts_before_its_cache_exists(spark):
    """Seed ids sit on the driver, so ``walk.seed_frame`` is broadcast and
    the walk never caches it: a keyed scan over the bare frame plans a
    broadcast semi-join. Sized from its RDD alone, the frame reads as
    ``Long.MaxValue`` bytes and the scan would shuffle the whole table."""
    from oracle_schema_copy_spark.operators import walk

    keys = walk.seed_frame(spark, "o_orderkey", [3, 1, 3, 2])
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plan = walk.keyed_scan(orders, "o_orderkey", keys)._jdf.queryExecution()
    text = plan.executedPlan().toString()
    assert "BroadcastHashJoin" in text and "SortMergeJoin" not in text
    assert "InMemoryTableScan" not in text
    # duplicates dropped on the driver, first occurrence kept
    assert [r.o_orderkey for r in keys.collect()] == [3, 1, 2]


@pytest.mark.parametrize("name", ["similarity_topk_pq_adc", "similarity_topk_ivfpq"])
def test_pq_codebook_aggregates_once(plans, name):
    """A PQ composition collects the codebook once and hands the rows to
    both the encoder and the lookup table: the plan it returns holds no
    codebook aggregation (``pq_codebooks``' collect_list of subspace
    positions), which would recompute the corpus-wide centroid pass a
    second time. IVF routing's own centroid assembly may remain."""
    assert "collect_list(struct(spos" not in plans(name)

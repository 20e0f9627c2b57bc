"""Physical-plan quality gates (the 100 TB checklist): predicate
pushdown reaches the parquet scan, column pruning holds, dims are
broadcast, aggregates are partial+final, codegen is on."""

from __future__ import annotations

import pytest

import __spark_entry__  # noqa: F401 — populates the registry
from flink_sql_toolkit_spark import tables
from flink_sql_toolkit_spark.operators.registry import QUERIES
from flink_sql_toolkit_spark.operators.relational import q6_revenue_forecast


@pytest.fixture(autouse=True)
def cold_scans(spark, monkeypatch):
    """These gates verify the COLD-path plan — the one a 100 TB run
    sees, where fact tables exceed the hot-cache budget and stream
    from parquet. Disable the interactive hot cache and drop any
    cached plans (Spark's CacheManager substitutes InMemoryRelation
    into matching sub-plans session-wide, which would hide the scan
    the assertions inspect)."""
    monkeypatch.setattr(tables, "HOT_CACHE_BUDGET_BYTES", 0)
    tables.clear()
    spark.catalog.clearCache()
    yield
    tables.clear()


def plan_of(spark, sf_dir, name: str) -> str:
    return (
        QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )


def test_q6_filters_push_to_scan(spark, sf_dir):
    plan = (
        q6_revenue_forecast(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan
    # all three filterable predicates reach the scan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1][:400]


def test_q1_reads_only_needed_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read_schema  # pruned
    assert "l_quantity" in read_schema


def test_star_joins_broadcast_dims(spark, sf_dir):
    for q in ("q3_shipping_priority", "q5_regional_revenue", "q10_returned_items"):
        plan = plan_of(spark, sf_dir, q)
        assert "BroadcastHashJoin" in plan, q


def test_aggregates_are_partial_final(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_codegen_spans_exist(spark, sf_dir):
    # AQE finalizes the plan at execution time — run, then inspect
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen stages
    assert "*(" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_no_cartesian_in_bucketed_similarity(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sim_lsh_bucketed")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_exact"])
def test_dedup_has_partial_aggregation(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_q18_scans_lineitem_once(spark, sf_dir):
    """The HAVING aggregate is reused as the output total — a second
    lineitem scan/join is a regression (see dialect_queries.q18)."""
    plan = plan_of(spark, sf_dir, "q18_large_orders")
    assert plan.count("lineitem.parquet") == 1


def test_minhash_signature_pipeline_runs_once(spark, sf_dir):
    """Candidate pairs come from bucket grouping, not a band
    self-join — the documents scan (and the whole shingle→signature
    lineage above it) must appear exactly once."""
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert plan.count("documents.parquet") == 1


def test_minhash_lsh_shuffle_topology(spark, sf_dir):
    """Exactly 3 shuffles: doc_id (signature agg), band/band_key
    (bucket window + collect_set share one Exchange — the cap filter
    runs between them, BEFORE aggregation, so no oversized bucket is
    ever materialized as an array), and pair distinct. A 4th
    Exchange means the size-gate regressed into a separate pass."""
    import re as _re

    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    exchanges = len(_re.findall(r"\bExchange hashpartitioning", plan))
    assert exchanges == 3, f"expected 3 shuffles, plan has {exchanges}"
    # the cap filter sits between the Window and the collect_set
    assert "Window" in plan


@pytest.mark.parametrize("name", ["sim_lsh_bucketed", "sim_ivf_topk"])
def test_ann_single_shuffle(spark, sf_dir, name):
    """Candidate (query, neighbor) pairs are unique by construction
    (one bucket/cell per corpus vector × pairwise-distinct probes),
    so the ANN paths need no post-join distinct — the ONLY shuffle
    is the per-query top-k window. A second Exchange here means a
    redundant candidate-set shuffle crept back in.

    sim_ivf_topk is checked via the pure serve path (the REGISTERED
    entry is the r14 np2∪np4 variant family — two branches, two
    windows by design; the benched operator is the single branch).

    Assumes the query side broadcasts (fixture query count under
    similarity.BROADCAST_QUERY_LIMIT); past the limit the join
    legitimately shuffles both sides and this gate doesn't apply."""
    if name == "sim_ivf_topk":
        from flink_sql_toolkit_spark.operators.similarity import sim_ivf_topk

        plan = (
            sim_ivf_topk(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
    else:
        plan = plan_of(spark, sf_dir, name)
    import re as _re

    exchanges = len(_re.findall(r"\bExchange hashpartitioning", plan))
    assert exchanges == 1, f"{name}: expected 1 shuffle, plan has {exchanges}"
    if name == "sim_ivf_topk":
        # r14 fused serve pass: ONE MapInPandas corpus scan (assign +
        # cell-group score + per-group top-k), ZERO ArrowEvalPython
        # stages — the query-side assignment moved to the driver
        # (bit-identity pinned by
        # test_ivf_fused_scan_matches_join_plan_bit_for_bit) and the
        # equi-join disappeared with it. A reappearing ArrowEvalPython
        # means the fused path stopped being taken (or the kernel
        # duplication hazard from the r13 plan returned — see the
        # coalesce/explode_outer notes in similarity.py, which still
        # guard the past-broadcast-limit fallback plan).
        assert plan.count("MapInPandas") == 1, plan.count("MapInPandas")
        arrow = plan.count("ArrowEvalPython")
        assert arrow == 0, f"fused path not taken: {arrow} Arrow stages"


def test_asof_self_is_window_not_join(spark, sf_dir):
    """Self as-of over one table must compile to a lag() window —
    one shuffle, linear — never a self-join + row_number prune
    (O(orders-per-customer²) fan-out; see asof.asof_prev_order)."""
    from flink_sql_toolkit_spark.operators.asof import asof_prev_order

    plan = (
        asof_prev_order(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("orders.parquet") == 1


def test_tvf_wrapper_preserves_pushdown(spark, sf_dir):
    """The r10 TVF cleanup projection (SELECT * EXCEPT(helpers) +
    window_time) must be transparent to Catalyst: a WHERE on a source
    column still reaches the parquet scan as a pushed filter, and the
    scan reads only the referenced columns."""
    from flink_sql_toolkit_spark.dialect import rewrite
    from flink_sql_toolkit_spark.tables import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    sql = rewrite(
        "SELECT user_id, window_start, COUNT(*) AS n FROM TABLE("
        "TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTE)) "
        "WHERE user_id = 3 GROUP BY user_id, window_start"
    )
    plan = spark.sql(sql)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(user_id), IsNotNull(ts), EqualTo(user_id,3)]" in plan
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # column pruning: only the two referenced source columns are read
    assert "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>" in scan_line


def test_xxhash64_paths_keep_md5_topology(spark, sf_dir):
    """The production hash option must not change the plan shape:
    xxhash64 dedup keeps the single-scan / 3-shuffle MinHash topology
    and exact dedup keeps its partial aggregation (r11 — the option
    is a pure expression swap, proven here rather than assumed)."""
    import re as _re

    from flink_sql_toolkit_spark.operators.dedup import (
        dedup_exact_on,
        dedup_minhash_lsh,
    )

    plan = (
        dedup_minhash_lsh(spark, sf_dir, hash_fn="xxhash64")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("documents.parquet") == 1
    assert len(_re.findall(r"\bExchange hashpartitioning", plan)) == 3
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eplan = (
        dedup_exact_on(docs, hash_fn="xxhash64")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_count" in eplan or "partial" in eplan.lower()

"""Fixture-table loading: the derived-state store and its persist budget."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_sql_toolkit_spark import tables
from flink_sql_toolkit_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture()
def empty_store(spark):
    """Start and end with no stored entries. clearCache as well —
    Spark's CacheManager matches logical plans session-wide, so a scan
    persisted by an earlier test would make a fresh DataFrame report
    as cached."""
    tables.clear()
    spark.catalog.clearCache()
    yield
    tables.clear()


def _spent(spark) -> int:
    return sum(n for _v, n in tables._STORE.get(spark, {}).values())


def test_plan_cache_returns_same_dataframe(spark):
    a = load_table(spark, SF_DIR, "region")
    b = load_table(spark, SF_DIR, "region")
    assert a is b  # analyzed plan reused — no second footer read


def test_plan_cache_keyed_by_dir(spark):
    a = load_table(spark, SF_DIR, "region")
    b = load_table(spark, "/root/testdata/sf0.01", "region")
    assert a is not b


def test_hot_cache_respects_budget(spark, monkeypatch, empty_store):
    # a budget smaller than any fixture: nothing may be persisted
    monkeypatch.setattr(tables, "HOT_CACHE_BUDGET_BYTES", 1)
    df = load_table(spark, SF_DIR, "nation")
    assert df.storageLevel.useMemory is False
    assert _spent(spark) == 0


def test_hot_cache_persists_within_budget(spark, monkeypatch, empty_store):
    monkeypatch.setattr(tables, "HOT_CACHE_BUDGET_BYTES", 1 << 30)
    # supplier is tiny — drop the size floor so this test exercises
    # the budget/persist path (the floor has its own test below)
    monkeypatch.setattr(tables, "HOT_CACHE_MIN_BYTES", 0)
    df = load_table(spark, SF_DIR, "supplier")
    assert df.storageLevel.useMemory is True
    size = os.path.getsize(os.path.join(SF_DIR, "supplier.parquet"))
    assert _spent(spark) >= size
    # results identical to an uncached read
    raw = spark.read.parquet(os.path.join(SF_DIR, "supplier.parquet"))
    assert df.count() == raw.count()


def test_hot_cache_small_tables_persist_at_natural_width(spark, monkeypatch, empty_store):
    """r14: tables under HOT_CACHE_MIN_BYTES persist at their NATURAL
    partitioning (no defaultParallelism repartition) — the r6 loss
    that justified skipping them was the 32-near-empty-task scan
    shape, not the caching. A cached dim makes every broadcast build
    collect from the block manager instead of running a cold one-task
    parquet job per query execution."""
    monkeypatch.setattr(tables, "HOT_CACHE_BUDGET_BYTES", 1 << 30)
    monkeypatch.setattr(tables, "HOT_CACHE_MIN_BYTES", 8 << 20)
    tiny = load_table(spark, SF_DIR, "supplier")
    assert tiny.storageLevel.useMemory is True
    # natural (single-row-group fixture) partitioning, NOT fanned out
    assert tiny.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    # results identical to an uncached read
    raw = spark.read.parquet(os.path.join(SF_DIR, "supplier.parquet"))
    assert tiny.count() == raw.count()


def test_fanout_repartition_spreads_partitions(spark):
    """fanout_repartition spreads a single-partition source across
    defaultParallelism partitions at use-site."""
    df = load_table(spark, SF_DIR, "documents")
    spread = tables.fanout_repartition(df)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fanout_rows_per_task_adaptive_width(spark, empty_store):
    """r14: with a rows_per_task hint the fanout width derives from
    the table's row count — clamp(ceil(rows/rpt), 1, parallelism) —
    instead of a constant tuned for either local mode or a cluster.
    A huge rpt collapses to 1 partition; rpt=1 saturates to full
    parallelism (the cluster/rehearsal-scale behavior)."""
    n = tables.table_rows(spark, SF_DIR, "embeddings")
    assert n > 0
    wide = tables.load_fanout_table(spark, SF_DIR, "embeddings", rows_per_task=1)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    narrow = tables.load_fanout_table(
        spark, SF_DIR, "embeddings", rows_per_task=n * 10
    )
    assert narrow.rdd.getNumPartitions() == 1
    mid = tables.load_fanout_table(
        spark, SF_DIR, "embeddings", rows_per_task=max(1, n // 4)
    )
    assert 1 <= mid.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    # width variants are stored independently, and clear() drops every
    # one of them plus the row count, refunding the budget
    assert tables.load_fanout_table(
        spark, SF_DIR, "embeddings", rows_per_task=1
    ) is wide
    tables.clear()
    assert _spent(spark) == 0
    assert not tables._STORE.get(spark)
    assert wide.is_cached is False
    assert tables.load_fanout_table(
        spark, SF_DIR, "embeddings", rows_per_task=1
    ) is not wide


def test_external_rewrite_is_read_at_new_row_count(spark, tmp_path, empty_store):
    """Every fixture table is fingerprinted, not only the embeddings:
    a table rewritten outside the engine (here `nation`, doubled from
    25 to 50 rows) is re-read at its new row count, and the stale
    persisted copy is released and its bytes refunded."""
    src = os.path.join(SF_DIR, "nation.parquet")
    dst = tmp_path / "nation.parquet"
    shutil.copy(src, dst)
    first = load_table(spark, str(tmp_path), "nation")
    assert first.count() == 25
    assert tables.table_rows(spark, str(tmp_path), "nation") == 25
    t = pq.read_table(src)
    pq.write_table(pa.concat_tables([t, t]), dst)
    again = load_table(spark, str(tmp_path), "nation")
    assert again is not first
    assert first.is_cached is False
    assert again.count() == 50
    assert tables.table_rows(spark, str(tmp_path), "nation") == 50
    assert _spent(spark) <= os.path.getsize(dst)


def test_fingerprint_change_evicts_in_every_session(spark, tmp_path, empty_store):
    """The eviction rule holds across sessions: a lookup in one
    session that sees a new fingerprint drops the table's entries in
    every other session too."""
    src = os.path.join(SF_DIR, "region.parquet")
    dst = tmp_path / "region.parquet"
    shutil.copy(src, dst)
    other = spark.newSession()
    stale = load_table(other, str(tmp_path), "region")
    t = pq.read_table(src)
    pq.write_table(pa.concat_tables([t, t]), dst)
    assert load_table(spark, str(tmp_path), "region").count() == 10
    assert not tables._STORE.get(other)
    assert stale.is_cached is False


def test_store_survives_concurrent_lookups_and_rewrites(spark, tmp_path, empty_store):
    """More threads than cores look up entries while one thread keeps
    rewriting the source: no lookup fails, and after one more lookup
    the store holds entries of the current fingerprint only."""
    import sys
    import threading
    import time

    src = (str(tmp_path), "t")
    path = tmp_path / "t.parquet"
    path.write_bytes(b"x")
    errors: list[BaseException] = []

    def build() -> object:
        time.sleep(0.001)  # widen the window in which the source changes
        return object()

    def worker(i: int) -> None:
        try:
            for j in range(300):
                if i == 0 and j % 10 == 0:
                    path.write_bytes(b"x" * (j + 2))
                tables.derived(spark, "stress", (j % 5,), build, source=src)
        except Exception as e:  # noqa: BLE001 — asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    tables.derived(spark, "stress", (0,), object, source=src)
    current = tables.fingerprint(*src)
    keys = [k for k in tables._STORE[spark] if k[0] == src]
    assert keys and all(k[1] == current for k in keys)

"""Test-table loading + registration (TESTDATA.md star schema).

Tables are the driver's parquet fixtures: TPC-H-ish star schema plus
``events`` (stream), ``documents`` / ``embeddings`` (LLM-pipeline).
Loaded lazily with ``spark.read.parquet`` — Catalyst handles column
pruning / predicate pushdown into the scan.
"""

from __future__ import annotations

import math
import os
import threading
from collections.abc import Callable
from weakref import WeakKeyDictionary

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_sql_toolkit_spark.compat import ensure_time_type

# The derived-state store. An interactive session (the reference's
# gateway keeps sessions alive across statements) re-derives the same
# things statement after statement: a fixture table's analyzed scan
# plan (a driver-side file listing + parquet footer read, ~0.15-0.2 s
# per query at sf0.1), its persisted copy, its row count, and the
# similarity operators' models (collected query matrix, anchors,
# centroids, broadcasts). Every such value is ONE entry here, keyed by
# (session, source table, source fingerprint, kind, params); sessions
# are held weakly, so a stopped session frees its entries.
#
# Eviction is one rule: a lookup that sees its source table's
# fingerprint change (`fingerprint` — pure os.stat, so an engine DML
# write, an external rewrite and a fixture regeneration all count)
# first drops every entry of that table in every session. A dropped
# DataFrame is unpersisted and a dropped Broadcast destroyed; a cached
# scan pins its file listing and Spark's CacheManager matches plans by
# path, so without the unpersist a grown table would be served stale.
#
# A persisted DataFrame charges its source's on-disk bytes to its
# session's budget; dropping the entry refunds them. Sizing the budget:
# at sf0.1 every fixture fits; at 100 TB the fact tables exceed it and
# stream from parquet while the dims stay hot. The fixture files are
# single-row-group parquet, so a cold scan is one task on one core
# (~0.4 s for 600k-row lineitem); the warm in-memory scan restores
# parallel access. SPARK_GRAFT_HOT_CACHE_BUDGET=0 turns persisting off.
HOT_CACHE_BUDGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_HOT_CACHE_BUDGET", str(1 << 30))
)
# Tables at or over this size persist repartitioned to every core;
# smaller ones persist at their NATURAL partitioning (r14). The r6
# floor A/B (9 iters each at sf0.1) rejected caching small tables
# repartitioned to defaultParallelism — 32 near-empty tasks per scan
# of a 300 KB dim cost +70% on asof_prev_order and tvf_tumble — but
# kept single-partition the cached copy wins twice: broadcast builds
# collect from the block manager instead of running a cold one-task
# parquet job (100-500 ms per build, OPTIMIZATION_r14.md), and
# repeated scans skip parquet decode. Operators whose per-row compute
# fans out AFTER the scan (shingle explode + md5 over documents,
# vector dots over embeddings) take their own width from
# `load_fanout_table` instead of taxing every light consumer.
HOT_CACHE_MIN_BYTES = 8 << 20

_STORE: "WeakKeyDictionary[SparkSession, dict[tuple, tuple[object, int]]]" = (
    WeakKeyDictionary()
)
_FINGERPRINTS: dict[tuple[str, str], tuple] = {}  # source -> last seen
_LOCK = threading.Lock()


def fingerprint(sf_dir: str, name: str) -> tuple:
    """(path, size, mtime_ns) of every file of a fixture table,
    file-or-directory parquet. Pure os.stat, no Spark job."""
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    if os.path.isdir(path):
        entries = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                fp = os.path.join(root, f)
                st = os.stat(fp)
                entries.append(
                    (os.path.relpath(fp, path), st.st_size, st.st_mtime_ns)
                )
        return tuple(entries)
    if not os.path.exists(path):
        return ()
    st = os.stat(path)
    return ((path, st.st_size, st.st_mtime_ns),)


def _table_bytes(sf_dir: str, name: str) -> int:
    return sum(size for _f, size, _t in fingerprint(sf_dir, name))


def derived(
    spark: SparkSession,
    kind: str,
    params: tuple,
    build: Callable[[], object],
    source: tuple[str, str] | None = None,
):
    """The stored ``build()`` for (``spark``, ``source``, ``kind``,
    ``params``), building it on a miss. ``source`` is the fixture
    table (sf_dir, name) the value derives from; ``None`` for values
    keyed by their own plan (the similarity probe verdict). ``build``
    runs outside the store's lock, so a failed build stores nothing,
    a racing miss may build twice (the first value stored wins), and
    a value whose source changed while it was built is not stored.
    """
    src = (os.path.abspath(source[0]), source[1]) if source else None
    token = fingerprint(*src) if src else ()
    key = (src, token, kind, params)
    with _LOCK:
        if src is not None:
            if _FINGERPRINTS.get(src, token) != token:
                for entries in _STORE.values():
                    for k in [k for k in entries if k[0] == src]:
                        _release(entries.pop(k)[0])
            _FINGERPRINTS[src] = token
        entries = _STORE.setdefault(spark, {})
        if key in entries:
            return entries[key][0]
    value = build()
    cached = isinstance(value, DataFrame) and value.is_cached
    nbytes = sum(size for _f, size, _t in token) if cached else 0
    with _LOCK:
        if src is not None and _FINGERPRINTS.get(src) != token:
            return value
        return entries.setdefault(key, (value, nbytes))[0]


def clear() -> None:
    """Release every entry of every session and forget every
    fingerprint (tests, and bench.py's cold pass)."""
    with _LOCK:
        for entries in _STORE.values():
            for value, _n in entries.values():
                _release(value)
        _STORE.clear()
        _FINGERPRINTS.clear()


def _release(value: object) -> None:
    try:
        if isinstance(value, DataFrame):
            value.unpersist()
        elif isinstance(value, Broadcast):
            value.destroy()
    except Exception:  # session or context already stopped
        pass


def _fits(spark: SparkSession, size: int) -> bool:
    """Whether ``size`` more persisted bytes fit the session's budget."""
    with _LOCK:
        spent = sum(n for _v, n in _STORE.get(spark, {}).values())
    return HOT_CACHE_BUDGET_BYTES > 0 and spent + size <= HOT_CACHE_BUDGET_BYTES


def fanout_repartition(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Spread a small single-row-group source across cores before
    per-row-heavy compute (shingle explode+md5, ≥256-dim dots). The
    one small shuffle buys a fully parallel compute stage; at cluster
    scale splittable multi-row-group parquet makes this a no-op-cost
    rebalance of an already-parallel scan. ``parts`` overrides the
    default full-parallelism width (see ``load_fanout_table``'s
    ``rows_per_task``)."""
    if parts is None:
        parts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(parts) if parts > 1 else df


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a fixture table (one parquet footer count job)."""
    return derived(
        spark, "rows", (), lambda: load_table(spark, sf_dir, name).count(),
        source=(sf_dir, name),
    )


def load_fanout_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    rows_per_task: int | None = None,
) -> DataFrame:
    """`load_table` + `fanout_repartition` + budgeted persist, one
    stored copy per width, so every heavy consumer (shingle/vector
    pipelines) shares ONE repartitioned warm copy — while light
    consumers keep the plain `load_table` plan and never pay the
    repartition (r4's shared-cache version taxed `dedup_exact` 1.28×
    to subsidize these pipelines).

    ``rows_per_task`` makes the width SCALE-ADAPTIVE: parts =
    clamp(ceil(rows / rows_per_task), 1, defaultParallelism) — at
    cluster/rehearsal scale this saturates to full parallelism, while
    a tiny corpus stops paying per-task dispatch for near-empty tasks
    (r14, guide §2: a trivial 32-task Arrow stage measured ~1.5 s
    steady-state on local[32] vs ~0.4-0.8 s at 1-8 tasks; sim_ivf
    end-to-end −28% at sf0.1). ``None`` keeps the full-parallelism
    width (the right call for consumers whose per-ROW compute is
    heavy, e.g. the shingle explode+md5 pipelines)."""
    width = spark.sparkContext.defaultParallelism
    parts = width
    if rows_per_task is not None:
        rows = table_rows(spark, sf_dir, name)
        parts = max(1, min(width, math.ceil(rows / rows_per_task)))
    base = load_table(spark, sf_dir, name)
    # ADVICE r14 #4: a persisted table at or over the floor is ALREADY
    # repartitioned to defaultParallelism (load_table), so a fanout at
    # that width is the same frame — reuse it instead of persisting a
    # duplicate (the sf1+/cluster shape, where the duplicate costs).
    # The SMALL-table duplicate stays deliberately: an r15 paired A/B
    # of reading the fanout through the persisted plain copy read
    # text_quality +16%, dedup_minhash +14.8%, sim_lsh +15.7% (1-2/9
    # pair wins) — the per-execution in-memory repartition costs more
    # than the ≤8 MB second copy saves. Both copies charge the budget.
    if (
        base.is_cached
        and parts == width
        and _table_bytes(sf_dir, name) >= HOT_CACHE_MIN_BYTES
    ):
        return base

    def build() -> DataFrame:
        df = fanout_repartition(base, parts)
        return df.persist() if _fits(spark, _table_bytes(sf_dir, name)) else df

    return derived(spark, "fanout", (parts,), build, source=(sf_dir, name))


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The session's stored scan of a fixture table (persisted within
    the budget; see the store comment above)."""
    return derived(
        spark, "plan", (), lambda: _scan(spark, sf_dir, name),
        source=(sf_dir, name),
    )


def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Set here (not only in build_spark) because the driver's verify
    # harness supplies its own SparkSession; it's a runtime SQL conf.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ensure_time_type(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # Parquet TIMESTAMP(NANOS) columns arrive as long (see session.py
    # nanosAsLong conf); convert to Spark's micros timestamps. Integer
    # `div` — ns since 1970 exceeds double's 2^53 exact range.
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.typeName() == "long":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    size = _table_bytes(sf_dir, name)
    if not _fits(spark, size):
        return df
    parts = spark.sparkContext.defaultParallelism
    if size >= HOT_CACHE_MIN_BYTES and parts > 1:
        # the fixtures are single-row-group files → a cold scan is one
        # partition; spread the cached copy across every core. Sizing
        # by bytes-on-disk (tried in r3: ~512 KB/partition)
        # under-parallelized snappy-compressed fact tables — at sf0.1
        # `orders` (2.7 MB) got 5 partitions and `events` (2.0 MB) got
        # 3, a measured 3-3.7× regression on the TVF/window queries.
        # The one-time repartition shuffle is paid at cache build, not
        # per query. At cluster scale the budget rejects the fact
        # tables and splittable parquet makes scan parallelism a
        # non-issue; this is a local-mode/fixture concern only.
        df = df.repartition(parts)
    return df.persist()


def register_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view; return the frames.

    Temp-view registration keeps everything declarative — queries over
    the views get full pushdown/pruning, identical to reading the
    parquet directly.
    """
    frames: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        frames[name] = df
    return frames

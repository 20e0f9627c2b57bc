"""Similarity search over embedding columns (100 TB north star).

- ``sim_topk_bruteforce``: exact cosine top-k — the correctness
  baseline. Query set broadcast against the corpus; one pass, no
  driver collection. O(|Q|·N) — fine when |Q| is small or as the
  per-bucket kernel below.
- ``sim_lsh_bucketed``: the scale path — sign-bit LSH buckets from
  fixed anchor hyperplanes; each query only scans its own bucket
  (expected N/2^bits of the corpus). Anchors here are deterministic
  corpus vectors so the DuckDB oracle reproduces the bucketing; in
  production they'd be random Gaussian planes broadcast to executors.
- ``sim_embedding_neardup``: near-duplicate pairs (cosine ≥ 0.99)
  inside LSH buckets — embedding-space dedup without O(n²).

Determinism: dot products are left-to-right folds over the same float
values in both engines (Spark ``F.aggregate`` / DuckDB ``list_sum``
over a comprehension), elements cast to double before multiply.

Vectors are unit-normalized (FIXTURES.md) so dot product == cosine.

Everything derived from the corpus and reused across builds (the
collected query matrix, its dim, anchors, centroids, the serve paths'
broadcasts) lives in ``tables.derived``'s store, keyed by the
embeddings table's fingerprint: a rewrite of the corpus drops and
releases all of it before anything is re-derived.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from flink_sql_toolkit_spark.operators.registry import register
from flink_sql_toolkit_spark.tables import (
    derived,
    load_fanout_table,
    load_table,
    table_rows,
)

# Fixture default for the oracle-gated registry entries (→ 16
# buckets). Index width is a *parameter* everywhere (``n_bits`` on the
# LSH path, ``k`` on the IVF path) — production sizing is 12–16 bits /
# k≈√N, and tests/test_advanced_ops.py exercises 12 bits and k=64 on
# generated clustered vectors with a recall floor vs brute force.
N_ANCHORS = 4
EMBED_DIM = 64  # fixture embedding width (TESTDATA.md)
QUERY_MOD = 50  # vec_id % QUERY_MOD == 0 are the query vectors
TOP_K = 5

# A query side is only broadcast when it is verifiably small. The
# registered queries derive Q from the corpus (vec_id % 50 == 0 — 2%
# of it), and a corpus-proportional F.broadcast would grow to TBs at
# the 100 TB target while overriding AQE's size sanity check. Past the
# limit the join runs unhinted: shuffle equi-join on the bucket /
# cluster key for the ANN paths, partitioned nested-loop for brute
# force.
BROADCAST_QUERY_LIMIT = 100_000

# Scale-adaptive fanout width for the embeddings passes (r14, guide
# §2 "partitioning must derive from input size, not a constant"): the
# Arrow assignment/matmul kernels and the candidate-scoring stages
# run at clamp(ceil(N/rows), 1, defaultParallelism) tasks. At
# rehearsal scale (sf1/sf2: N ≥ 20k) this saturates to full
# parallelism — identical to the r13 width — while the sf0.1 fixture
# (N = 2,000) stops paying 32-way per-task dispatch for 62-row
# batches (a trivial 32-task Arrow stage costs ~1.5 s steady-state
# on local[32]; sim_ivf measured −28% end-to-end at 4 tasks).
SIM_FANOUT_ROWS_PER_TASK = 500


def _emb_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_fanout_table(
        spark, sf_dir, "embeddings", rows_per_task=SIM_FANOUT_ROWS_PER_TASK
    )


# Same degenerate-bucket hazard as dedup's LSH banding: a bucket with
# B members yields B² near-dup pairs. Oversized buckets are excluded
# from the pair self-join and surfaced via `neardup_dense_buckets`.
NEARDUP_BUCKET_CAP = 10_000


def _query_side(
    q: DataFrame,
    limit: int = BROADCAST_QUERY_LIMIT,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Broadcast ``q`` only when it is known-small.

    The probe is `limit(n+1).count()` — Spark's CollectLimit
    terminates the scan early, so the check never pays a full corpus
    pass. Callers whose ``q`` has an expensive derived lineage
    (bucketing, cluster assignment) pass ``probe`` = the cheap
    upstream frame whose row count upper-bounds |Q| to within the
    caller's known fan-out (the probe job is then a pushed-filter
    parquet scan, not a re-run of the corpus-wide lineage). Above the
    limit the frame is returned unhinted and Catalyst/AQE picks the
    shuffle strategy.
    """
    counted = probe if probe is not None else q
    if _probe_is_small(counted, limit):
        return F.broadcast(q)
    return q


def _corpus(sf_dir: str) -> tuple[str, str]:
    """The store source every corpus-derived value is keyed by."""
    return (sf_dir, "embeddings")


def _as_matrix(rows) -> tuple:
    """(ids int64[n], vectors float64[n, dim]) of (id, vector) rows."""
    import numpy as np  # noqa: PLC0415

    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    mat = (
        np.asarray([list(r[1]) for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0), dtype=np.float64)
    )
    return ids, mat


def _query_matrix(spark: SparkSession, sf_dir: str):
    """(qids, qmat) of the fixture query slice (vec_id % QUERY_MOD ==
    0), collected once per corpus fingerprint — the ANN serve paths'
    driver-held model input (r15, ADVICE r14 #3: the fused paths
    re-collected |Q| embeddings on EVERY build)."""
    return derived(
        spark, "qmat", (),
        lambda: _as_matrix(
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") % QUERY_MOD == 0)
            .select("vec_id", "embedding")
            .collect()
        ),
        source=_corpus(sf_dir),
    )


def _plan_key(df: DataFrame) -> tuple:
    """``df``'s plan semanticHash plus (uri, size, mtime_ns) of every
    local file it reads. Two scans of one path hash alike, so a file
    rewritten in place must change the key through its stat."""
    files = []
    for uri in df.inputFiles():
        parsed = urlparse(uri)
        st = None
        if parsed.scheme in ("", "file"):
            try:
                st = os.stat(unquote(parsed.path))
            except OSError:  # gone since the plan listed it
                pass
        files.append((uri, st.st_size, st.st_mtime_ns) if st else (uri,))
    return df._jdf.queryExecution().logical().semanticHash(), tuple(files)


def _probe_is_small(counted: DataFrame, limit: int) -> bool:
    """The probe verdict for a given lineage is stable within a
    session, so repeated query builds (bench iterations, paged
    re-execution) skip the extra count job; keyed by the plan and its
    input files, not by a source table."""
    return derived(
        counted.sparkSession, "probe", (*_plan_key(counted), limit),
        lambda: counted.limit(limit + 1).count() <= limit,
    )


# Byte budget for the fused serve paths' driver-held query matrix
# (r15, ADVICE r14 #3): BROADCAST_QUERY_LIMIT is a ROW cap, but the
# collected matrix is rows×dim×8 bytes — at dim 64 the 100k-row cap
# is ~51 MB, at dim 4096 it would be 3.2 GB of driver Python plus the
# pickled broadcast. The effective row cap is therefore
# min(row limit, byte budget / row bytes), with the dim probed by one
# pushed-limit scan and stored per corpus fingerprint.
FUSED_QUERY_MAX_BYTES = 256 << 20


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    def build() -> int:
        row = (
            load_table(spark, sf_dir, "embeddings")
            .select(F.size("embedding").alias("d"))
            .limit(1)
            .collect()
        )
        return int(row[0].d) if row else 0

    return derived(spark, "dim", (), build, source=_corpus(sf_dir))


def _fused_row_limit(spark: SparkSession, sf_dir: str, row_limit: int) -> int:
    dim = _emb_dim(spark, sf_dir)
    if dim <= 0:
        return row_limit
    return min(row_limit, FUSED_QUERY_MAX_BYTES // (dim * 8))


def dot(a: Column, b: Column) -> Column:
    """Dot product, elements cast to double: a JVM sequential fold
    (codegen, no Python), the oracle-deterministic form. At the
    fixture's dim 64 it beats an Arrow-batched numpy kernel (SCALE.md
    "Similarity search")."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_sql(a: str, b: str) -> str:
    """DuckDB mirror: list_sum folds left-to-right like F.aggregate."""
    return (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"FOR i IN range(1, len({a}) + 1)])"
    )


# Fixed-point scale for CLUSTER-ASSIGNMENT dots (not the served
# cosines). Quantizing both operands to 1e-6 ints makes the dot an
# integer sum: every product ≤ 1e12 and every partial sum ≤ dim·1e12
# < 2^53 is exactly representable, so numpy's BLAS float64 matmul,
# Spark, and DuckDB agree BIT-FOR-BIT in any summation order — which
# lets the assignment argmax run as one Arrow-batched matmul instead
# of k interpreted HOF folds per row (the k≈√N scaling made the fold
# path O(N·√N) interpreted lambdas — slower than brute force).
_ASSIGN_Q = 1_000_000


def _quantize(x):
    """round(x · 1e6) half away from zero — Spark's F.round / DuckDB
    round() semantics (np.round is banker's and would diverge on
    exact .5). Returns integer-valued float64 (exact below 2^53)."""
    import numpy as np  # noqa: PLC0415

    return np.where(x >= 0, np.floor(x * _ASSIGN_Q + 0.5),
                    np.ceil(x * _ASSIGN_Q - 0.5))


def _q_sql(x: str, scale: int = _ASSIGN_Q) -> str:
    """DuckDB mirror of ``_quantize`` — the IDENTICAL half-away-from-
    zero floor/ceil form, not DuckDB's round() (ADVICE r13 #3: a
    double one ULP below a .5 boundary, e.g. 0.49999999999999994,
    rounds UP under floor(x+0.5) but DOWN under C round(); sharing the
    exact expression makes any edge rounding shared rather than
    engine-dependent)."""
    return (
        f"CAST(CASE WHEN ({x}) >= 0 THEN floor(({x}) * {scale} + 0.5) "
        f"ELSE ceil(({x}) * {scale} - 0.5) END AS BIGINT)"
    )


def _qdot_sql(a: str, b: str) -> str:
    """DuckDB mirror of the quantized assignment dot (BIGINT exact)."""
    return (
        f"list_sum([{_q_sql(f'CAST({a}[i] AS DOUBLE)')}"
        f" * {_q_sql(f'CAST({b}[i] AS DOUBLE)')} "
        f"FOR i IN range(1, len({a}) + 1)])"
    )


def _topp_ids(emb_mat, cq, id_vec, p: int):
    """The ONE top-p assignment implementation (r14): quantized-integer
    matmul + stable argsort. Every consumer — the Arrow assignment
    kernel, the fused IVF scan kernel's per-batch cell assignment, and
    the driver-side query-probe computation — calls THIS function, so
    their probe lists are bit-identical by construction, not by
    parallel re-implementation. ``id_vec`` is ascending, so a stable
    argsort over the negated dots is exactly (dot DESC, cluster id
    ASC) — the SQL list-sort over {d: -dot, cid} structs mirrors it
    (``_ivf_assign_sql``). Exactness of the matmul: see ``_ASSIGN_Q``.
    """
    import numpy as np  # noqa: PLC0415

    d = _quantize(emb_mat) @ cq  # exact: integer-valued float64 < 2^53
    order = np.argsort(-d, axis=1, kind="stable")[:, :p]
    return id_vec[order]


def _assign_topp_kernel(cents: list[list[float]], ids: list[int], p: int):
    """Arrow-batched top-p cluster assignment (the IVF probe list):
    one quantized-integer matmul per batch against the (≤ IVF_K_MAX)·
    dim centroid matrix (closure-captured — the same broadcast-small-
    model shape as the LSH anchors). Returns the p nearest cluster ids
    ordered by (dot DESC, cluster id ASC) — see ``_topp_ids``.
    probes[0] is always the plain argmax (first position of the max).
    Generalizes r13's fixed top-2 struct (VERDICT r13 ask #1 — probe
    depth is the recall dial; a fixed top-2 left none to turn)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    cq = _quantize(np.asarray(cents, dtype=np.float64)).T  # dim × k
    id_vec = np.asarray(ids, dtype=np.int64)
    p = min(p, len(ids))

    def _assign(emb):
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        e = np.vstack(emb.to_numpy()).astype(np.float64)
        return pd.Series(list(_topp_ids(e, cq, id_vec, p)))

    # type-hint eval mode, but with REAL class objects assigned to
    # __annotations__: the module's deferred annotations would turn
    # inline hints into strings that pyspark resolves against module
    # globals where pd is not bound. Object annotations skip string
    # resolution and avoid the deprecated PandasUDFType path.
    _assign.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    return pandas_udf(_assign, "array<bigint>")


def _topk_scan_kernel(bq, top_k: int):
    """``mapInPandas`` brute-force scorer: per Arrow batch, compute
    the |batch|×|Q| cosine block and emit the batch's per-query top-k
    candidates (ordered by cosine DESC, neighbor_id ASC — the same
    total order the final window uses, so the union of per-batch
    top-ks provably contains the global top-k). The accumulation runs
    dimension-ascending (``acc += E[:, i] * q[:, i]`` outer product
    per i), which IS the left-to-right fold — every cosine is
    bit-identical to ``dot()``'s HOF form and the oracle's list_sum.
    Self-pairs (vec_id == query_id) are masked exactly like the join
    condition. ``bq`` is a Spark broadcast of (qids, qmat)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def kernel(batches):
        qids, qmat = bq.value
        nq = len(qids)
        for b in batches:
            if len(b) == 0 or nq == 0:
                continue
            ids = b["vec_id"].to_numpy(dtype=np.int64)
            emb_block = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
            dim = emb_block.shape[1]
            acc = np.zeros((len(ids), nq))
            for i in range(dim):  # i ascending == left-to-right fold
                acc += np.outer(emb_block[:, i], qmat[:, i])
            out_q: list = []
            out_n: list = []
            out_c: list = []
            for j in range(nq):
                col = acc[:, j]
                cand = np.flatnonzero(ids != qids[j])  # no self-pairs
                if len(cand) == 0:
                    continue
                order = np.lexsort((ids[cand], -col[cand]))[:top_k]
                sel = cand[order]
                out_q.extend([qids[j]] * len(sel))
                out_n.extend(ids[sel])
                out_c.extend(col[sel])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "cosine": np.asarray(out_c, dtype=np.float64),
                }
            )

    return kernel


def _lsh_scan_kernel(bq, anchors: list[list[float]], top_k: int):
    """Fused LSH serve pass (r15, VERDICT r14 ask #6 — the same shape
    that won brute force and IVF in r14): ONE ``mapInPandas`` over the
    corpus replaces {the bucketing projection (n_bits interpreted HOF
    fold dots per corpus row), the probe-side explode + broadcast +
    equi-join on the bucket string, and the per-pair interpreted HOF
    fold}. Per batch: compute each row's anchor dots by
    dimension-ascending accumulation (``acc += E[:, i] * A[:, i]``
    outer product per i — the left-to-right fold, so every dot is
    bit-identical to ``lsh_buckets``'s ``dot() >= 0`` test and the
    oracle's list_sum), reduce the sign bits to an integer bucket key
    (bit j == anchor j, the same ordering as the bucket string), then
    score each bucket-group present against exactly the queries
    probing that bucket (``bq`` carries bucket-key → query indices:
    each query probes its own bucket plus the n_bits Hamming-1 flips,
    so per-batch compute keeps LSH's expected N/2^bits fraction).
    Cosines accumulate dimension-ascending too — bit-identical to the
    join path's ``dot()``. Per-(batch, bucket, query) top-k is emitted
    under the final window's total order (cosine DESC, neighbor_id
    ASC), so the union provably contains the global top-k (any kept
    pair lives in some group with fewer than k better candidates
    anywhere). Self-pairs masked exactly like the join condition."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    amat = np.asarray(anchors, dtype=np.float64)  # n_bits × dim
    nbits = len(anchors)
    weights = 1 << np.arange(nbits, dtype=np.int64)

    def kernel(batches):
        qids, qmat, bucket_map = bq.value
        for b in batches:
            if len(b) == 0 or len(qids) == 0:
                continue
            vids = b["vec_id"].to_numpy(dtype=np.int64)
            emb_block = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
            dim = emb_block.shape[1]
            acc = np.zeros((len(vids), nbits))
            for i in range(dim):  # i ascending == left-to-right fold
                acc += np.outer(emb_block[:, i], amat[:, i])
            keys = (acc >= 0) @ weights
            out_q: list = []
            out_n: list = []
            out_c: list = []
            for kk in np.unique(keys):
                qs = bucket_map.get(int(kk))
                if qs is None:
                    continue
                rows = np.flatnonzero(keys == kk)
                sub = emb_block[rows]
                sub_ids = vids[rows]
                sacc = np.zeros((len(rows), len(qs)))
                for i in range(dim):  # left-to-right fold again
                    sacc += np.outer(sub[:, i], qmat[qs, i])
                for jj, j in enumerate(qs):
                    col = sacc[:, jj]
                    cand = np.flatnonzero(sub_ids != qids[j])  # no self
                    if len(cand) == 0:
                        continue
                    order = np.lexsort((sub_ids[cand], -col[cand]))[:top_k]
                    sel = cand[order]
                    out_q.extend([qids[j]] * len(sel))
                    out_n.extend(sub_ids[sel])
                    out_c.extend(col[sel])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "cosine": np.asarray(out_c, dtype=np.float64),
                }
            )

    return kernel


def _ivf_scan_kernel(bq, cents: list[list[float]], ids: list[int], top_k: int):
    """Fused IVF serve pass (r14, guide §4.2/§8 — the same shape that
    won brute force): ONE ``mapInPandas`` over the corpus replaces the
    {query-side assignment Arrow stage + broadcast + equi-join +
    interpreted HOF fold}. Per batch: assign each row's coarse cell
    (``_topp_ids`` p=1 — identical math to ``_assign_topp_kernel``),
    then for each cell present score ONLY that cell-group against the
    queries probing the cell (``bq`` carries cell → query indices, so
    per-batch compute keeps IVF's ~nprobe/k corpus fraction — this is
    NOT a masked brute force). Cosines accumulate dimension-ascending
    (``acc += E[:, i] * q[:, i]`` outer product per i) — the
    left-to-right fold, bit-identical to ``dot()``'s HOF form and the
    oracle's list_sum; subgroup selection cannot change a kept pair's
    value because each acc element accumulates its own scalars in the
    same i order. Per-(batch, cell, query) top-k is emitted under the
    final window's total order (cosine DESC, neighbor_id ASC): any
    global top-k pair lives in some group and fewer than k candidates
    beat it anywhere, so the union provably contains the global
    top-k. Self-pairs masked exactly like the join condition."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    cq = _quantize(np.asarray(cents, dtype=np.float64)).T  # dim × k
    id_vec = np.asarray(ids, dtype=np.int64)

    def kernel(batches):
        qids, qmat, cell_to_q = bq.value
        for b in batches:
            if len(b) == 0 or len(qids) == 0:
                continue
            vids = b["vec_id"].to_numpy(dtype=np.int64)
            emb_block = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
            dim = emb_block.shape[1]
            cells = _topp_ids(emb_block, cq, id_vec, 1)[:, 0]
            out_q: list = []
            out_n: list = []
            out_c: list = []
            for cell in np.unique(cells):
                qs = cell_to_q.get(int(cell))
                if qs is None:
                    continue
                rows = np.flatnonzero(cells == cell)
                sub = emb_block[rows]
                sub_ids = vids[rows]
                acc = np.zeros((len(rows), len(qs)))
                for i in range(dim):  # i ascending == left-to-right fold
                    acc += np.outer(sub[:, i], qmat[qs, i])
                for jj, j in enumerate(qs):
                    col = acc[:, jj]
                    cand = np.flatnonzero(sub_ids != qids[j])  # no self
                    if len(cand) == 0:
                        continue
                    order = np.lexsort((sub_ids[cand], -col[cand]))[:top_k]
                    sel = cand[order]
                    out_q.extend([qids[j]] * len(sel))
                    out_n.extend(sub_ids[sel])
                    out_c.extend(col[sel])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "cosine": np.asarray(out_c, dtype=np.float64),
                }
            )

    return kernel


@register(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_dot_sql('q.qv', 'e.embedding')} AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rn FROM ranked
    WHERE rn <= {TOP_K}
    ORDER BY query_id, rn
    """,
)
def sim_topk_bruteforce(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame | None = None,
    broadcast_limit: int = BROADCAST_QUERY_LIMIT,
) -> DataFrame:
    """Exact cosine top-k over a parameterized query set.

    With a small Q the scoring is ONE Arrow pass over the corpus
    (r14): the query matrix rides a Spark broadcast into a
    ``mapInPandas`` kernel that computes all |batch|×|Q| dots as a
    dimension-ascending vectorized accumulation — element order i
    ascending IS the left-to-right fold, so every cosine is
    BIT-IDENTICAL to the previous zip_with/aggregate HOF form and to
    the DuckDB oracle's list_sum — and emits only each batch's
    per-query top-k candidates. The |Q|×N joined fan-out (which
    materialized two 64-dim arrays per PAIR and fed an interpreted
    HOF fold — the allocation churn showed up as multi-second GC
    in stage profiles) never exists; the only shuffle is the window
    top-k over ≤ partitions·|Q|·k candidate rows. Paired A/B at
    sf0.1: 1.17× end-to-end, and the per-pair cost drops from an
    interpreted fold to vectorized numpy, which is what a 100 TB
    corpus pass needs. Past ``broadcast_limit`` the kernel (whose
    query matrix must fit in memory) is skipped and the r13
    broadcast-join + fold plan runs unchanged; at that size brute
    force is the wrong tool anyway — use the LSH/IVF paths.
    ``queries`` defaults to the fixture's fixed (query_id, qv) slice.
    """
    emb = _emb_fanout(spark, sf_dir)
    q = (
        queries
        if queries is not None
        else emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    if _probe_is_small(q, _fused_row_limit(spark, sf_dir, broadcast_limit)):
        # ONE shared broadcast per corpus fingerprint (ADVICE r14 #2/#3,
        # r15: was a fresh collect job and a leaked broadcast per
        # build). An explicit query set is identified by its plan and
        # input files, as the probe verdict is.
        if queries is None:
            params, collect = ("topk_q",), lambda: _query_matrix(spark, sf_dir)
        else:
            params, collect = ("queries", *_plan_key(q)), lambda: _as_matrix(q.collect())

        def _broadcast():
            qids, qmat = collect()
            return spark.sparkContext.broadcast((qids, qmat)) if len(qids) else None

        bq = derived(spark, "bcast", params, _broadcast, source=_corpus(sf_dir))
        if bq is not None:
            kernel = _topk_scan_kernel(bq, TOP_K)
            cand = emb.select("vec_id", "embedding").mapInPandas(
                kernel, "query_id long, neighbor_id long, cosine double"
            )
            return (
                cand.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= TOP_K)
            )
    scored = (
        emb.join(_query_side(q, broadcast_limit), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qv"), F.col("embedding")).alias("cosine"),
        )
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
    )


ANCHORS_SQL = f"SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < {N_ANCHORS}"

# IVF centroid count scales with the corpus: k ≈ √N, clamped to
# [4, 256] (VERDICT r12 "What's wrong #3" — a FIXED k means cells
# fatten linearly and nprobe/k of an ever-larger corpus is scanned,
# converging IVF to brute force; k ≈ √N keeps per-cell size AND
# centroid count balanced at ~√N, the classic IVF sizing). The cap
# bounds the literal-inlined centroid table the assignment projection
# carries — past it, raise the cap with the executor count rather
# than the formula. The DuckDB oracle derives the SAME k from the
# same corpus via this scalar subquery; Spark computes it with
# math.ceil(math.sqrt(n)) — both are correctly-rounded IEEE doubles,
# so the counts agree for any n < 2^52.
IVF_K_MIN, IVF_K_MAX = 4, 256
IVF_K_SQL = (
    f"(SELECT GREATEST({IVF_K_MIN}, LEAST({IVF_K_MAX}, "
    f"CAST(ceil(sqrt(count(*))) AS BIGINT))) FROM embeddings)"
)
IVF_ANCHORS_SQL = (
    f"SELECT vec_id AS aid, embedding AS av FROM embeddings "
    f"WHERE vec_id < {IVF_K_SQL}"
)

def _ivf_k(spark: SparkSession, sf_dir: str) -> int:
    import math  # noqa: PLC0415

    n = table_rows(spark, sf_dir, "embeddings")
    return max(IVF_K_MIN, min(IVF_K_MAX, math.ceil(math.sqrt(n))))


def _bucket_sql(src: str = "embeddings") -> str:
    """The `buckets` CTE over an arbitrary embeddings source (the
    planted-duplicate registration swaps in a union subquery)."""
    return f"""
    buckets AS (
      SELECT e.vec_id, e.embedding,
             array_to_string(list(CASE WHEN {_dot_sql('e.embedding', 'a.av')} >= 0
                                       THEN '1' ELSE '0' END ORDER BY a.aid), '') AS bucket
      FROM {src} e CROSS JOIN ({ANCHORS_SQL}) a
      GROUP BY e.vec_id, e.embedding
    )
"""


BUCKET_SQL = _bucket_sql()


def _anchor_vectors(
    spark: SparkSession, sf_dir: str, n_bits: int = N_ANCHORS
) -> list[list[float]]:
    """The n_bits anchor vectors — the LSH "model parameters". Fetched
    once per corpus fingerprint (pushed-filter scan of vec_id < n_bits)
    and inlined as literals, exactly the random-Gaussian-planes-
    broadcast shape production uses."""

    def build() -> list[list[float]]:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < n_bits)
            .select("vec_id", "embedding")
            .collect()
        )
        return [list(r.embedding) for r in sorted(rows, key=lambda r: r.vec_id)]

    return derived(spark, "anchors", (n_bits,), build, source=_corpus(sf_dir))


def lsh_buckets(
    spark: SparkSession,
    sf_dir: str,
    n_bits: int = N_ANCHORS,
    emb: DataFrame | None = None,
) -> DataFrame:
    """vec_id → sign-bit bucket string from the anchor hyperplanes.

    Anchors are inlined as literal arrays, so bucketing is a pure
    projection over one corpus pass — no crossJoin fan-out, no
    per-vector groupBy shuffle. (The previous formulation exploded the
    corpus ×N_ANCHORS and reduced it back with a full-corpus shuffle —
    a real cost at 100 TB for something that is a map.) The dot fold
    is arithmetically identical, so bucket strings (and the DuckDB
    oracle) are unchanged. ``emb`` overrides the corpus source (the
    planted-duplicate registration passes a union); anchors always
    come from the base fixture (``vec_id < n_bits``)."""
    if emb is None:
        emb = _emb_fanout(spark, sf_dir)
    bits = [
        F.when(
            dot(F.col("embedding"), F.array(*[F.lit(float(x)) for x in av])) >= 0,
            "1",
        ).otherwise("0")
        for av in _anchor_vectors(spark, sf_dir, n_bits)
    ]
    return emb.select("vec_id", "embedding", F.concat(*bits).alias("bucket"))


@register(
    "sim_lsh_bucketed",
    oracle=f"""
    WITH {BUCKET_SQL},
    q AS (SELECT vec_id AS query_id, qv, probe FROM (
            SELECT vec_id, embedding AS qv, UNNEST(
              [bucket] || [
                substring(bucket, 1, i) ||
                CAST(1 - CAST(substring(bucket, i + 1, 1) AS INTEGER) AS VARCHAR) ||
                substring(bucket, i + 2)
                FOR i IN range(0, {N_ANCHORS})
              ]) AS probe
            FROM buckets WHERE vec_id % {QUERY_MOD} = 0)
    ),
    scored AS (
      SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id,
             {_dot_sql('q.qv', 'b.embedding')} AS cosine
      FROM q JOIN buckets b ON b.bucket = q.probe AND b.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rn FROM ranked
    WHERE rn <= {TOP_K}
    ORDER BY query_id, rn
    """,
)
def sim_lsh_bucketed(
    spark: SparkSession,
    sf_dir: str,
    broadcast_limit: int = BROADCAST_QUERY_LIMIT,
    n_bits: int = N_ANCHORS,
    top_k: int = TOP_K,
) -> DataFrame:
    """ANN top-k with multi-probe LSH: each query searches its own
    bucket plus every Hamming-distance-1 bucket (bits+1 probes).

    An equi-join on the bucket key — the corpus is hashed once; only
    the query side explodes by bits+1. Multi-probe is the standard
    recall lever that avoids duplicating the corpus into multiple hash
    tables.

    With a small Q the serve pass is FUSED (r15, the shape that won
    brute force and IVF in r14): the query buckets and their
    Hamming-1 probes are derived on the driver from the memoized
    query matrix using the SAME dimension-ascending fold the kernel
    runs, and ONE ``mapInPandas`` corpus pass assigns each batch's
    buckets and scores bucket-groups against exactly the queries
    probing them (``_lsh_scan_kernel`` — bit-identical dots, see its
    docstring). This removes the n_bits-interpreted-HOF bucketing
    projection, the probe explode, the broadcast equi-join, and the
    per-pair HOF fold, while keeping LSH's expected N/2^bits per-query
    scan fraction. Past ``broadcast_limit`` the r13/r14 join plan runs
    unchanged: shuffle equi-join on the bucket key (both sides
    partition by bucket — no corpus-sized broadcast ever).
    """
    q_probe0 = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % QUERY_MOD == 0
    )
    if _probe_is_small(
        q_probe0, _fused_row_limit(spark, sf_dir, broadcast_limit)
    ):
        import numpy as np  # noqa: PLC0415

        anchors = _anchor_vectors(spark, sf_dir, n_bits)
        qids, qmat = _query_matrix(spark, sf_dir)
        if len(qids) > 0:

            def _build_payload():
                amat = np.asarray(anchors, dtype=np.float64)
                acc = np.zeros((len(qids), len(anchors)))
                for i in range(qmat.shape[1]):  # left-to-right fold
                    acc += np.outer(qmat[:, i], amat[:, i])
                weights = 1 << np.arange(len(anchors), dtype=np.int64)
                qkeys = (acc >= 0) @ weights
                bucket_to_q: dict[int, list[int]] = {}
                for j, k0 in enumerate(qkeys):
                    probes = [int(k0)] + [
                        int(k0) ^ (1 << b) for b in range(len(anchors))
                    ]
                    for kk in probes:  # pairwise-distinct by construction
                        bucket_to_q.setdefault(kk, []).append(j)
                bucket_map = {
                    c: np.asarray(js, dtype=np.int64)
                    for c, js in bucket_to_q.items()
                }
                return (qids, qmat, bucket_map)

            bq = derived(
                spark, "bcast", ("lsh_q", n_bits),
                lambda: spark.sparkContext.broadcast(_build_payload()),
                source=_corpus(sf_dir),
            )
            kernel = _lsh_scan_kernel(bq, anchors, top_k)
            cand = _emb_fanout(spark, sf_dir).select(
                "vec_id", "embedding"
            ).mapInPandas(
                kernel, "query_id long, neighbor_id long, cosine double"
            )
            w_f = W.partitionBy("query_id").orderBy(
                F.desc("cosine"), F.asc("neighbor_id")
            )
            return (
                cand.withColumn("rn", F.row_number().over(w_f))
                .filter(F.col("rn") <= top_k)
            )
    buckets = lsh_buckets(spark, sf_dir, n_bits)
    qb = buckets.filter(F.col("vec_id") % QUERY_MOD == 0)
    flips = F.array(
        F.col("bucket"),
        *[
            F.concat(
                F.substring("bucket", 1, i),
                (1 - F.substring("bucket", i + 1, 1).cast("int")).cast("string"),
                F.substring("bucket", i + 2, n_bits),
            )
            for i in range(n_bits)
        ],
    )
    q = qb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.explode(flips).alias("bucket"),
    )
    q_probe = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % QUERY_MOD == 0
    )
    # No distinct needed: a corpus vector lives in exactly ONE bucket
    # and a query's bits+1 probes are pairwise-distinct strings (each
    # flips a different bit), so at most one probe can equal a given
    # neighbor's bucket — (query_id, neighbor_id) is already unique.
    # The oracle's SELECT DISTINCT is a no-op for the same reason;
    # skipping it here removes a full shuffle of the candidate set.
    scored = (
        buckets.join(_query_side(q, broadcast_limit, probe=q_probe), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qv"), F.col("embedding")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
    )


# Quantization scale for the centroid refinement sums: embeddings are
# rounded to 1e-6 fixed-point BIGINTs before summing, making the
# per-cluster mean an exact, order-free integer reduction (map-side
# combinable at 100 TB) that both engines reproduce bit-for-bit —
# float/double decimal casts round differently between Spark and
# DuckDB, but round(x * 1e6) of a float32-widened double does not.
_CENTROID_Q = 1_000_000

def _ivf_assign_sql(nprobe: int) -> str:
    """The DuckDB IVF CTE chain, parameterized by probe depth: the
    `ivf` CTE's `probes` list is the first ``nprobe`` cluster ids
    ordered by (quantized dot DESC, cluster id ASC) — the list-sort
    mirror of ``_assign_topp_kernel``'s stable argsort (ids ascend
    with list position, so sorting {d: -dot, cid} structs ascending
    reproduces the tiebreak exactly). probes[1] is the plain argmax,
    so cluster_id is unchanged from the r13 top-2 form."""
    return f"""
    init_ivf AS (
      SELECT e.vec_id, e.embedding, list_position(l, list_max(l)) AS icid
      FROM (
        SELECT e.vec_id, e.embedding,
               list({_qdot_sql('e.embedding', 'a.av')} ORDER BY a.aid) AS l
        FROM embeddings e CROSS JOIN ({IVF_ANCHORS_SQL}) a
        GROUP BY e.vec_id, e.embedding
      ) e
    ),
    cent_sums AS (
      SELECT icid, i AS pos,
             SUM({_q_sql('CAST(embedding[i] AS DOUBLE)', _CENTROID_Q)}) AS s,
             COUNT(*) AS n
      FROM init_ivf, UNNEST(range(1, {EMBED_DIM} + 1)) AS t(i)
      GROUP BY icid, i
    ),
    cents AS (
      SELECT icid AS cid,
             list(CAST(s AS DOUBLE) / ({_CENTROID_Q}.0 * n) ORDER BY pos) AS cv
      FROM cent_sums GROUP BY icid
    ),
    ivf AS (
      SELECT e.vec_id, e.embedding, probes[1] AS cluster_id, probes
      FROM (
        SELECT e.vec_id, e.embedding,
               list_transform(
                 list_slice(
                   list_sort([{{'d': -l[i], 'cid': ids[i]}}
                              FOR i IN range(1, len(l) + 1)]),
                   1, {nprobe}),
                 s -> s.cid) AS probes
        FROM (
          SELECT e.vec_id, e.embedding,
                 list({_qdot_sql('e.embedding', 'c.cv')} ORDER BY c.cid) AS l,
                 list(c.cid ORDER BY c.cid) AS ids
          FROM embeddings e CROSS JOIN cents c
          GROUP BY e.vec_id, e.embedding
        ) e
      ) e
    )
"""


def _refined_centroids(
    spark: SparkSession, sf_dir: str, k: int = N_ANCHORS
) -> tuple[list[int], list[list[float]]]:
    """One k-means refinement pass (VERDICT r4 ask #8): assign the
    corpus to the anchor cells, then take each cell's element-wise
    mean as the serving centroid — anchors are only the init. All
    DataFrame: one argmax projection + one groupBy with 1+dim
    aggregates (map-side combinable integer sums over the quantized
    embeddings, see ``_CENTROID_Q``), collecting exactly k mean
    vectors to the driver — the same O(1)-literals shape as
    ``_anchor_vectors``. Empty cells keep no centroid (the id list
    carries the surviving cluster ids)."""

    def build() -> tuple[list[int], list[list[float]]]:
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        anchors = _anchor_vectors(spark, sf_dir, k)
        dim = len(anchors[0])
        emb = _emb_fanout(spark, sf_dir)
        # ONE Arrow pass fuses init-assignment (quantized-matmul
        # argmax — the same icid the oracle's list_position(l,
        # list_max(l)) over _qdot_sql yields) with the per-cell
        # quantized partial sums; per-batch partials (≤ partitions·k
        # tiny rows) combine exactly on the driver because every
        # quantity is an integer. Replaces a k·d literal-fold
        # projection (O(k·d) driver-side Column builds — 19 s at
        # k=45) plus a 1+dim-aggregate codegen pass (r13). Map-side
        # combining at 100 TB is the per-batch groupby here; the
        # driver reduction is O(partitions·k), corpus-independent.
        # the fused pass reuses the _ASSIGN_Q-quantized matrix for the
        # centroid sums the oracle computes with _CENTROID_Q — they
        # must stay the same scale or the oracle diverges silently
        assert _ASSIGN_Q == _CENTROID_Q
        aq = _quantize(np.asarray(anchors, dtype=np.float64)).T  # dim×k

        def _parts(it):
            for pdf in it:
                eq = _quantize(
                    np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                )
                icid = (eq @ aq).argmax(axis=1) + 1  # 1-based, first max
                cells = sorted(set(icid.tolist()))
                sums = [eq[icid == c].sum(axis=0).astype(np.int64).tolist()
                        for c in cells]
                yield pd.DataFrame({
                    "icid": cells,
                    "n": [int((icid == c).sum()) for c in cells],
                    "s": sums,
                })

        rows = emb.select("embedding").mapInPandas(
            _parts, "icid int, n long, s array<long>"
        ).collect()
        agg: dict[int, tuple[int, list[int]]] = {}
        for r in rows:
            n0, s0 = agg.get(r.icid, (0, [0] * dim))
            agg[r.icid] = (n0 + r.n, [a + b for a, b in zip(s0, r.s)])
        ids = sorted(agg)
        cents = [
            [s / (float(_CENTROID_Q) * agg[i][0]) for s in agg[i][1]]
            for i in ids
        ]
        return ids, cents

    return derived(spark, "centroids", (k,), build, source=_corpus(sf_dir))


def ivf_assignments(
    spark: SparkSession, sf_dir: str, k: int | None = None, nprobe: int = 2
) -> DataFrame:
    """vec_id → coarse cluster id + the ``nprobe`` nearest cluster
    ids (argmax / top-p dot against the refined centroid set — anchor
    init + one k-means refinement pass, ``_refined_centroids``). One
    broadcast pass — the centroids are O(√N) literals (k ≈ √N,
    capped — ``_ivf_k``), so assignment is a pure projection and the
    corpus never shuffles. ``probes`` is ordered by (dot DESC, cluster
    id ASC); probes[0] == cluster_id always."""
    emb = _emb_fanout(spark, sf_dir)
    if k is None:
        k = _ivf_k(spark, sf_dir)
    ids, cents = _refined_centroids(spark, sf_dir, k)
    # one Arrow-batched quantized matmul per partition batch — no
    # crossJoin fan-out, no per-vector groupBy shuffle; the centroid
    # matrix rides the UDF closure (broadcast-small-model shape).
    # Replaces k literal-fold expressions whose driver-side
    # construction was O(k·d) py4j calls (25 s at k=45, r13).
    assign = _assign_topp_kernel(cents, ids, nprobe)
    # cluster_id wears a coalesce with an impossible sentinel: probes
    # is never null, but a nullable cluster_id invites Catalyst to
    # push the join's inferred isnotnull(cluster_id) BELOW this
    # projection, duplicating the Arrow kernel into a second
    # full-corpus ArrowEvalPython stage (r14 plan audit: arrowPy 4→2).
    # coalesce is provably non-null, so the constraint folds away.
    return emb.select(
        "vec_id", "embedding", assign(F.col("embedding")).alias("probes")
    ).select(
        "vec_id",
        "embedding",
        F.coalesce(F.col("probes").getItem(0), F.lit(-1)).alias("cluster_id"),
        "probes",
    )


def sim_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    broadcast_limit: int = BROADCAST_QUERY_LIMIT,
    k: int | None = None,
    top_k: int = TOP_K,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ~√N anchor
    cells (``_ivf_k``; the DuckDB oracle derives the same k via
    ``IVF_K_SQL``), search the query's ``nprobe`` nearest cells.
    The inverted-list join is an equi-join on cluster_id — at 100 TB
    each cell is a partition-local scan of ~√N vectors and per-query
    probe cost is O(nprobe·√N·d) instead of brute force's O(N·d).
    ``nprobe`` is the recall dial (VERDICT r13 ask #1): the scanned
    corpus fraction is ~nprobe/k, so as k grows with √N a production
    deployment raises nprobe to hold recall — the kernel is top-p, so
    the dial actually turns.

    With a small Q the serve pass is FUSED (r14): the query probes
    are derived on the driver from the collected query matrix (the
    same matrix the broadcast would carry — ``_topp_ids``, the ONE
    assignment implementation, so probes are bit-identical to the
    Arrow kernel's), and ONE ``mapInPandas`` corpus pass assigns each
    batch's cells and scores cell-groups against exactly the queries
    probing them (``_ivf_scan_kernel``). This removes a second
    full-fixed-cost Arrow stage (the query-side assignment — measured
    ~0.2 s of per-stage Python-runner overhead at ANY row count, see
    OPTIMIZATION_r14.md), the broadcast exchange, the equi-join, and
    the interpreted per-pair HOF fold, while keeping IVF's ~nprobe/k
    per-batch compute fraction. Past ``broadcast_limit`` (where a
    driver-held query matrix stops being the right tool) the r13
    plan runs unchanged: distributed assignment, equi-join on
    cluster_id, both sides shuffling once Q outgrows the broadcast.
    """
    if k is None:
        k = _ivf_k(spark, sf_dir)
    q_small = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % QUERY_MOD == 0
    )
    if _probe_is_small(
        q_small, _fused_row_limit(spark, sf_dir, broadcast_limit)
    ):
        import numpy as np  # noqa: PLC0415

        ids, cents = _refined_centroids(spark, sf_dir, k)
        qids, qmat = _query_matrix(spark, sf_dir)
        if len(qids) > 0:
            emb = _emb_fanout(spark, sf_dir)

            def _build_payload():
                cq = _quantize(np.asarray(cents, dtype=np.float64)).T
                id_vec = np.asarray(ids, dtype=np.int64)
                probes = _topp_ids(qmat, cq, id_vec, min(nprobe, len(ids)))
                cell_to_q: dict[int, list[int]] = {}
                for j, row in enumerate(probes):
                    for cell in row:
                        cell_to_q.setdefault(int(cell), []).append(j)
                cell_map = {
                    c: np.asarray(js, dtype=np.int64)
                    for c, js in cell_to_q.items()
                }
                return (qids, qmat, cell_map)

            # one shared broadcast per (corpus, k, nprobe) — ADVICE
            # r14 #2: was a fresh (and never-destroyed) broadcast per
            # build, two per sim_ivf_family call
            bq = derived(
                spark, "bcast", ("ivf_q", k, nprobe),
                lambda: spark.sparkContext.broadcast(_build_payload()),
                source=_corpus(sf_dir),
            )
            kernel = _ivf_scan_kernel(bq, cents, ids, top_k)
            cand = emb.select("vec_id", "embedding").mapInPandas(
                kernel, "query_id long, neighbor_id long, cosine double"
            )
            w_f = W.partitionBy("query_id").orderBy(
                F.desc("cosine"), F.asc("neighbor_id")
            )
            return (
                cand.withColumn("rn", F.row_number().over(w_f))
                .filter(F.col("rn") <= top_k)
            )
    ivf = ivf_assignments(spark, sf_dir, k, nprobe=nprobe)
    # probes are pairwise-distinct cluster ids by construction (stable
    # argsort positions), and each corpus vector has ONE cluster_id,
    # so (query_id, neighbor_id) is unique without a post-join
    # distinct — same argument as sim_lsh_bucketed, one less
    # candidate-set shuffle.
    # explode_outer, not explode: probes is never empty, but plain
    # explode plants a (size > 0 AND isnotnull) guard that Catalyst
    # pushes below the assignment projection — re-evaluating the
    # Arrow kernel in a second stage (same hazard as the cluster_id
    # coalesce in ivf_assignments). Semantically identical here.
    q = ivf.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.explode_outer("probes").alias("cluster_id"),
    )
    q_probe = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % QUERY_MOD == 0
    )
    scored = (
        ivf.join(_query_side(q, broadcast_limit, probe=q_probe), "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qv"), F.col("embedding")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
    )


# Registered as a VARIANT FAMILY (the registry holds the driver's
# 50-entry sample — test_registry_fits_driver_sample): 'np2' and
# 'np4' rows gate BOTH probe depths against one DuckDB chain that
# assigns at nprobe=4 and slices — valid because a stable-argsort
# top-2 is exactly the prefix of the top-4. bench.py keeps measuring
# the pure nprobe=2 operator via its UNREGISTERED map for BASELINE
# continuity (same pattern as dedup_exact).
@register(
    "sim_ivf_topk",
    oracle=f"""
    WITH {_ivf_assign_sql(4)},
    vnt AS (SELECT * FROM (VALUES ('np2', 2), ('np4', 4)) v(variant, np)),
    q AS (SELECT v.variant, e.vec_id AS query_id, e.embedding AS qv,
                 UNNEST(list_slice(e.probes, 1, v.np)) AS probe
          FROM ivf e CROSS JOIN vnt v WHERE e.vec_id % {QUERY_MOD} = 0),
    scored AS (
      SELECT q.variant, q.query_id, b.vec_id AS neighbor_id,
             {_dot_sql('q.qv', 'b.embedding')} AS cosine
      FROM q JOIN ivf b ON b.cluster_id = q.probe AND b.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT variant, query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY variant, query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT variant, query_id, neighbor_id, cosine, rn FROM ranked
    WHERE rn <= {TOP_K}
    ORDER BY variant, query_id, rn
    """,
)
def sim_ivf_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sim_ivf_topk` at nprobe=2 ∪ nprobe=4, variant-tagged — the
    oracle-gated proof that the probe-depth dial changes (and only
    changes) the candidate sets the way the SQL slice says it does."""
    parts = [
        sim_ivf_topk(spark, sf_dir, nprobe=np_).withColumn(
            "variant", F.lit(tag)
        )
        for tag, np_ in (("np2", 2), ("np4", 4))
    ]
    return parts[0].unionByName(parts[1])


# the shared tail of the neardup oracle (pairs → transitive closure →
# cluster sizes), parameterized by the buckets CTE's source
_NEARDUP_ORACLE_TAIL = f"""
    ok AS (
      SELECT bucket FROM buckets GROUP BY bucket
      HAVING COUNT(*) <= {NEARDUP_BUCKET_CAP}
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_dot_sql('a.embedding', 'b.embedding')} AS cosine
      FROM buckets a
      JOIN ok USING (bucket)
      JOIN buckets b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_dot_sql('a.embedding', 'b.embedding')} >= 0.99
    ),
    sym AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs
      UNION SELECT vec_a, vec_a FROM pairs
      UNION SELECT vec_b, vec_b FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
    ),
    comps AS (SELECT src AS vec_id, min(dst) AS comp FROM reach GROUP BY src),
    csize AS (SELECT comp, count(*) AS cluster_size FROM comps GROUP BY comp)
    SELECT p.vec_a, p.vec_b, p.cosine, c.comp, z.cluster_size
    FROM pairs p
    JOIN comps c ON c.vec_id = p.vec_a
    JOIN csize z USING (comp)
    ORDER BY vec_a, vec_b
"""


def sim_embedding_neardup(
    spark: SparkSession,
    sf_dir: str,
    cap: int = NEARDUP_BUCKET_CAP,
    emb: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within LSH buckets.

    Same-bucket self-join (equi on bucket) keeps the pair count near
    linear; the 0.99 threshold is exact cosine on the surviving pairs.
    Buckets over ``cap`` members are excluded from the quadratic
    self-join (their B² pairs would dominate everything) and surfaced
    by `neardup_dense_buckets` as flagged dense clusters instead.
    """
    buckets = lsh_buckets(spark, sf_dir, emb=emb)
    sizes = buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))
    ok = sizes.filter(F.col("n_vecs") <= cap).select("bucket")
    capped = buckets.join(F.broadcast(ok), "bucket")
    a = capped.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket"
    )
    b = capped.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket"
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", dot(F.col("ea"), F.col("eb")))
        .filter(F.col("cosine") >= 0.99)
        .select("vec_a", "vec_b", "cosine")
    )
    # transitive embedding-dedup clusters: the generic min-label
    # propagation over the verified pairs (operators/dedup.py); comp =
    # canonical min vec_id, shuffle-joined (corpus-proportional table).
    # Checkpoint first: pairs feeds both the propagation and the final
    # join — without it the bucket self-join + dot products run twice.
    pairs = pairs.localCheckpoint()
    from flink_sql_toolkit_spark.operators.dedup import (  # noqa: PLC0415
        near_dup_components,
    )

    comps = near_dup_components(
        pairs.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    ).withColumnRenamed("doc_id", "vec_a")
    return pairs.join(comps, "vec_a").select(
        "vec_a", "vec_b", "cosine", "comp", "cluster_size"
    )


# The sf0.01 fixture has no embedding pair above the 0.99 cosine
# threshold, so a plain registration proves only 0 == 0 (VERDICT r6
# watch item #2). The REGISTERED entry plants near-duplicates
# in-query — a bit-identical re-keyed copy of every 50th vector
# (cosine exactly 1.0, same LSH bucket by construction) — so the
# driver gate exercises non-empty pair/component/cluster-size
# behavior. The pure operator above keeps the un-planted semantics.
PLANT_VEC_MOD = 50
PLANT_VEC_OFFSET = 10_000_000

_PLANTED_EMB_SQL = f"""(
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {PLANT_VEC_OFFSET} AS vec_id, embedding FROM embeddings
      WHERE vec_id % {PLANT_VEC_MOD} = 0
    )"""


@register(
    "sim_embedding_neardup",
    oracle=f"""
    WITH RECURSIVE {_bucket_sql(_PLANTED_EMB_SQL)},
    {_NEARDUP_ORACLE_TAIL}
    """,
)
def sim_embedding_neardup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sim_embedding_neardup` over the fixture plus planted
    duplicates: every vector with ``vec_id % 50 == 0`` re-keyed under
    a shifted id — each planted pair verifies at cosine 1.0 and forms
    a 2-member component keyed by the original id."""
    emb = _emb_fanout(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % PLANT_VEC_MOD == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(PLANT_VEC_OFFSET)
    )
    return sim_embedding_neardup(spark, sf_dir, emb=emb.unionByName(copies))


def neardup_dense_buckets(
    spark: SparkSession, sf_dir: str, cap: int = NEARDUP_BUCKET_CAP
) -> DataFrame:
    """Flagged dense-bucket side-output for `sim_embedding_neardup`:
    (bucket, n_vecs) for buckets whose size exceeds the cap. The
    distinct bucket key set is tiny (2^bits), so the ok-set broadcast
    in the main path is bounded regardless of corpus size."""
    buckets = lsh_buckets(spark, sf_dir)
    return (
        buckets.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .filter(F.col("n_vecs") > cap)
    )


def ivf_build_bucketed(
    spark: SparkSession, sf_dir: str, table_name: str, n_buckets: int = 16
) -> None:
    """Materialize the IVF inverted lists as a BUCKETED table — the
    100 TB serving layout SCALE.md describes: the corpus is written
    once, hash-distributed (and sorted) by cluster_id, so every later
    cell-probe join reads co-located buckets with ZERO corpus-side
    shuffle (the bucketed scan already satisfies the join's required
    hash distribution). Build cost is one corpus pass + one write."""
    ivf = ivf_assignments(spark, sf_dir)
    (
        ivf.write.bucketBy(n_buckets, "cluster_id")
        .sortBy("cluster_id")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )


def sim_ivf_topk_bucketed(
    spark: SparkSession,
    table_name: str,
    queries: DataFrame,
    probes_col: str = "probes",
) -> DataFrame:
    """`sim_ivf_topk`'s serve path against a pre-built bucketed
    inverted-list table: equi-join on cluster_id with the corpus side
    already distributed by the join key — only the (small) query side
    moves. ``queries`` must carry (query_id, qv, <probes_col>) where
    the probes column is the `ivf_assignments` top-nprobe id array
    (pairwise-distinct by construction, so the join emits unique
    (query_id, neighbor_id) pairs with no candidate-set distinct)."""
    corpus = spark.table(table_name)
    q = queries.select(
        "query_id",
        "qv",
        F.explode(probes_col).alias("cluster_id"),
    )
    scored = (
        corpus.join(q, "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qv"), F.col("embedding")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOP_K
    )

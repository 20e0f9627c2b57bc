"""One ``pipeline_sf02`` process: Spark start, a cold pass, warm passes.

    pipeline_child.py <fixture_dir> <seed> <seconds> <trace 0|1> <out.json>

Each query runs through the operator API into a noop sink, in an order
shuffled by the seed. Every query's result is reduced, as it streams
into the sink, to (row count, order-insensitive hash) for the parent to
check, in every pass. With trace on, each query is split into DataFrame
build, forced physical planning and execution, and its Spark jobs are
tagged with a job group.
"""

from __future__ import annotations

import json
import sys
import time

T_START = time.time()

from pathlib import Path  # noqa: E402

import numpy as np  # noqa: E402

from common import Tracer  # noqa: E402

QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue", "q18_large_orders", "tvf_tumble",
    "match_recognize_funnel", "dedup_minhash_lsh", "sim_lsh_bucketed", "sim_topk_bruteforce",
)


def query_fns() -> dict:
    from flink_sql_toolkit_spark.operators import QUERIES as REGISTRY
    from flink_sql_toolkit_spark.operators import (  # noqa: F401 — registration
        dedup, match_recognize, relational, similarity, tvf,
    )

    fns = {n: REGISTRY[n] for n in QUERIES if n in REGISTRY}
    fns["match_recognize_funnel"] = match_recognize.match_recognize_funnel
    return fns


def observed(df, name: str):
    """``df`` with a row count and an order-insensitive hash observed as it
    streams into the sink: the sum of per-row xxhash64 over every column,
    doubles rounded to 6 decimals so summation order cannot move it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c.cast("double"), 6)
        cols.append(c)
    obs = Observation(name)
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")), obs


def digest(obs) -> list:
    row = obs.get
    return [int(row["n"]), str(int(row["h"] or 0) % (1 << 64))]


def main() -> None:
    fixture_dir, seed, seconds, trace, out = sys.argv[1:6]
    seed, seconds, trace = int(seed), float(seconds), trace == "1"
    from flink_sql_toolkit_spark.session import build_spark

    spark = build_spark("pipeline")
    ready = time.time()
    sc = spark.sparkContext
    fns = query_fns()
    rng = np.random.default_rng(seed)
    tracer = Tracer()
    passes: list[dict] = []

    def run_query(i: int, name: str, traced: bool) -> dict:
        q: dict = {}
        trace_id = f"p{i}:{name}"
        if traced:
            sc.setJobGroup(trace_id, name)
        tq = time.perf_counter()
        df = fns[name](spark, fixture_dir)
        q["build_s"] = time.perf_counter() - tq
        sink, obs = observed(df, trace_id)
        if traced:
            tp = time.perf_counter()
            sink._jdf.queryExecution().executedPlan()
            q["plan_s"] = time.perf_counter() - tp
        te = time.perf_counter()
        sink.write.format("noop").mode("overwrite").save()
        q["exec_s"] = time.perf_counter() - te
        q["digest"] = digest(obs)
        q["total_s"] = time.perf_counter() - tq
        if traced:
            sc.setJobGroup("untraced", "untraced")
            root = tracer.record("query", trace_id, tq, tq + q["total_s"], query=name)
            tracer.record("operators.build", trace_id, tq, tq + q["build_s"], root)
            tracer.record("spark.plan", trace_id, tp, tp + q["plan_s"], root)
            tracer.record("spark.exec", trace_id, te, te + q["exec_s"], root)
        return q

    def passes_of(i: int, modes: tuple[bool, ...]) -> list[dict]:
        """One pass per mode over the same seeded order; with two modes
        each query runs traced and untraced, the traced one first on even
        positions and second on odd ones, so warm-up drift falls on both
        alike."""
        order = [QUERIES[j] for j in rng.permutation(len(QUERIES))]
        recs = [{"order": order, "queries": {}, "traced": m} for m in modes]
        # collect the driver JVM's garbage between passes, untimed, so a
        # full collection left over from the last pass does not land in this one
        sc._jvm.System.gc()
        for j, name in enumerate(order):
            pairs = list(enumerate(zip(recs, modes)))
            for k, (rec, traced) in pairs if j % 2 == 0 else pairs[::-1]:
                try:
                    rec["queries"][name] = run_query(i + k, name, traced)
                except Exception as e:  # noqa: BLE001 — the parent fails the run on it
                    rec["queries"][name] = {"error": f"{type(e).__name__}: {e}"[:500]}
        for rec in recs:
            # a failed query has no time; the parent's check ends the run on it
            rec["wall_s"] = sum(q["total_s"] for q in rec["queries"].values() if "error" not in q)
        return recs

    passes += passes_of(0, (trace,))
    # the first warm pass finishes the warm-up (Python workers, JIT) and
    # is checked but not timed; warm passes then run until `seconds`
    passes += passes_of(1, (False,))
    passes[-1]["warmup"] = True
    t_warm = time.perf_counter()
    while len(passes) == 2 or time.perf_counter() - t_warm < seconds:
        passes += passes_of(len(passes), (True, False) if trace else (False,))
    if trace:
        self_s = tracer.self_times()
        for span in tracer.by_name("query"):
            passes[int(span["trace"][1:].split(":")[0])]["queries"][span["query"]]["self_s"] = self_s[span["id"]]
        tracer.dump(Path(out).with_name("spans.json"))
    with open(out, "w") as fh:
        json.dump({"start": T_START, "ready": ready, "passes": passes}, fh)
    spark.stop()


if __name__ == "__main__":
    main()

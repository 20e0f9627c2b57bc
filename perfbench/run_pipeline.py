"""``pipeline_sf02``: a pipeline author running the operators to completion.

The query set (``pipeline_child.QUERIES``) runs in a fresh process: one
cold pass, which pays the hot-table cache build as a one-shot job does,
then warm passes. Execution, shuffle, the Python kernels and the cache
dominate; the gateway, dialect and metadata layers do no work here. The
traced run adds a streaming phase after the query set (see ``stream.py``).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import fixtures
import stream
from client import Client, start_gateway
from pipeline_child import QUERIES
from common import (
    BenchError, Tracer, end_to_end, event_log_conf, fresh_dir, median, read_event_log, spark_totals, spawn,
    split_layers, stop,
)

SF = 0.2
EXPECTED = Path(__file__).with_name("expected.json")
CHILD_TIMEOUT_S = 170


def run_child(work: Path, env: dict, fixture_dir: Path, seed: int, seconds: float, trace: bool) -> dict:
    out = work / "pipeline.json"
    t_spawn = time.time()
    proc = spawn(
        [sys.executable, "-u", str(Path(__file__).with_name("pipeline_child.py")), str(fixture_dir), str(seed),
         str(seconds), "1" if trace else "0", str(out)],
        env, work,
    )
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except Exception:
        stop(proc)
        raise
    stop(proc)
    if code != 0:
        raise BenchError(f"pipeline process exited {code}")
    res = json.loads(out.read_text())
    res["setup_s"] = res["ready"] - t_spawn
    return res


def check(res: dict, fixture_dir: Path) -> None:
    expected = json.loads(EXPECTED.read_text()).get(fixture_dir.name)
    if expected is None:
        raise BenchError(f"no recorded results for fixtures {fixture_dir.name}; run perfbench/oracle_check.py")
    for i, p in enumerate(res["passes"]):
        for name, want in expected.items():
            q = p["queries"][name]
            # no query of the set may fail, so a failed one is a wrong result
            if "error" in q:
                raise AssertionError(f"{name} (pass {i}) failed: {q['error']}")
            if q["digest"] != list(want):
                raise AssertionError(f"{name} (pass {i}): got {q['digest']}, expected {want}")


def run(root: Path, work: Path, env: dict, cache: Path, seed: int, seconds: float, trace: bool) -> dict:
    fixture_dir = fixtures.ensure(cache, SF)
    log_dir = fresh_dir(work / "eventlog")
    cenv = {**env, **event_log_conf(log_dir)} if trace else env
    res = run_child(work, cenv, fixture_dir, seed, seconds, trace)
    check(res, fixture_dir)
    passes = res["passes"]
    cold, warm = passes[0], [p for p in passes[1:] if not p.get("warmup")]
    n_ops = sum(len(p["queries"]) for p in passes)
    # a failed query fails the check above, so a result line has failed = 0
    failed = 0
    detail = {"warm_passes": len(warm), "cold_pass_s": cold["wall_s"],
              "warm_pass_s": [p["wall_s"] for p in passes[1:]],
              "query_s": {n: [round(p["queries"][n]["total_s"], 3) for p in passes] for n in QUERIES}}
    if trace:
        cores = int(env["SPARK_GRAFT_CPUS"])
        values = _layers(res, read_event_log(log_dir), cores)
        tracer = Tracer()
        tracer.spans = json.loads((work / "spans.json").read_text())
        values.update(_stream_phase(work, env, seconds, cores, tracer))
        tracer.dump(work.parent / "pipeline_sf02-spans.json")
        common, extra = split_layers(values)
        # the stream phase adds two operations, the preview and the sink
        # job; a failure in it ends the run
        return {"attempted": n_ops + 2, "failed": failed, "metrics": common, "layers": extra, "detail": detail}
    # a pass over the query set is the operation: the cold one is the
    # first result; the warm pass is each query's fastest warm run
    # (warm-up pass included), summed, which a slow moment of the host
    # can move only if it hits every warm run of a query
    best = sum(min(p["queries"][n]["total_s"] for p in passes[1:]) for n in QUERIES)
    metrics = end_to_end(res["setup_s"], 1e3 * cold["wall_s"], 1e3 * best, len(QUERIES) / best)
    return {"attempted": n_ops, "failed": failed, "metrics": metrics, "detail": detail}


def _layers(res: dict, log: dict, cores: int) -> dict:
    passes = res["passes"]
    cold = passes[0]
    traced = [p for p in passes[1:] if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"] and not p.get("warmup")]
    warm_q = {n: median([p["queries"][n]["total_s"] for p in traced]) for n in cold["queries"]}
    v = {
        "session.spark_start_s": res["setup_s"],
        # the cold pass pays the hot-table cache build; warm passes read it
        "tables.cache_build_s": sum(cold["queries"][n]["total_s"] - warm_q[n] for n in warm_q),
        "e2e.cold_pass_s": cold["wall_s"],
        "e2e.warm_pass_s": median([p["wall_s"] for p in traced]),
        "trace.overhead.warm_pass_s": median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in plain]),
    }
    for name in sorted(warm_q):
        qs = [p["queries"][name] for p in traced]
        v[f"operators.build_ms.{name}"] = 1e3 * median([q["build_s"] for q in qs])
        v[f"spark.plan_ms.{name}"] = 1e3 * median([q["plan_s"] for q in qs])
        v[f"spark.exec_s.{name}"] = median([q["exec_s"] for q in qs])
        v[f"query.{name}_s"] = warm_q[name]
        # the query span's own time: the result check, outside build, plan and execution
        v[f"query.self_ms.{name}"] = 1e3 * median([q["self_s"] for q in qs])
    # Spark task metrics over the traced warm passes, by job group
    groups = {f"p{i}:{n}" for i, p in enumerate(passes) if p["traced"] and i > 0 for n in p["queries"]}
    jobs = {j["id"] for j in log["jobs"] if j["group"] in groups}
    v.update(spark_totals(log, jobs, sum(p["wall_s"] for p in traced), cores,
                          sum(len(p["queries"]) for p in traced)))
    return v


def _stream_phase(work: Path, env: dict, seconds: float, cores: int, tracer: Tracer) -> dict:
    """The streaming layer's figures, from a gateway started after the
    query set's process has exited, with an event log of its own."""
    log_dir = fresh_dir(work / "eventlog-stream")
    t0 = time.perf_counter()
    proc, url = start_gateway({**env, **event_log_conf(log_dir)}, work)
    start_s = time.perf_counter() - t0
    client = Client(url)
    try:
        res = stream.preview(client, work, seconds)
    finally:
        client.close()
        stop(proc)
    return {"streaming.gateway_start_s": start_s, **stream.layers(res, read_event_log(log_dir), cores, tracer)}

"""``notebook_sf01``: a notebook user at the gateway.

The gateway runs as its own process; this process is the client, one
keep-alive connection, closed loop. Decks (see ``notebook.py``) run
whole until the measured time is spent, so every run executes the same
mix of statement kinds. The traced run adds an in-process pass of the
same decks (see ``inproc.py``).
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

import fixtures
import notebook as nb
from client import Client, GatewayError, Statement, start_gateway
from common import (
    BenchError, Tracer, end_to_end, event_log_conf, fresh_dir, jobs_in_windows, median, pct, read_event_log,
    spark_totals, spawn, split_layers, stop,
)

SF = 0.1
RTT_SAMPLES = 40
# Statements that write or read the sink table. The traced gateway pass
# runs every write twice and the in-process pass once, so the sink holds
# different rows in the two; these stay out of the gateway/engine split.
SINK_KINDS = ("insert", "delete", "update", "write_check")


class GatewayExec:
    """Runs deck statements through the REST API and records each one."""

    def __init__(self, client: Client, session: str, tracer: Tracer | None = None):
        self.client, self.session, self.tracer = client, session, tracer
        self.records: list[dict] = []

    def _span(self, kind: str):
        if self.tracer is None:
            return nullcontext()
        self.client.trace = f"stmt-{len(self.records)}"
        return self.tracer.span("statement", self.client.trace, kind=kind)

    def stmt(self, kind: str, sql: str) -> list[list]:
        e0 = time.time()
        with self._span(kind):
            st = Statement(self.client, self.session, sql).run()
        self.records.append(
            {"kind": kind, "total_s": st.total_s, "first_s": st.first_page_s, "not_ready": st.not_ready,
             "pages": st.pages, "requests": st.requests, "page_s": st.page_s, "window": (e0, time.time())}
        )
        return st.rows

    def complete(self, text: str) -> list[str]:
        e0, t0 = time.time(), time.perf_counter()
        r0 = self.client.requests
        with self._span("complete"):
            out = self.client.call("POST", f"/sessions/{self.session}/complete-statement",
                                   {"statement": text, "position": text.index(" FROM")})
        dt_s = time.perf_counter() - t0
        self.records.append(
            {"kind": "complete", "total_s": dt_s, "first_s": dt_s, "not_ready": 0, "pages": 1,
             "requests": self.client.requests - r0, "page_s": [dt_s], "window": (e0, time.time())}
        )
        return out["candidates"]


@dataclass
class Setup:
    """A gateway process with a notebook session whose tables are declared."""

    proc: subprocess.Popen
    client: Client
    ex: GatewayExec
    setup_s: float
    spark_start_s: float
    open_s: float

    def close(self) -> None:
        self.client.close()
        stop(self.proc)


def _setup(env: dict, work: Path, fixture_dir: Path, sink: Path) -> Setup:
    """Gateway process start to a session with every table declared."""
    t0 = time.perf_counter()
    proc, url = start_gateway(env, work)
    spark_start_s = time.perf_counter() - t0
    try:
        client = Client(url)
        t_open = time.perf_counter()
        session = client.call("POST", "/sessions", {"sessionName": "notebook"})["sessionHandle"]
        open_s = time.perf_counter() - t_open
        ex = GatewayExec(client, session)
        for sql in nb.setup_statements(str(fixture_dir), str(sink)):
            ex.stmt("ddl", sql)
    except BaseException:
        stop(proc)
        raise
    return Setup(proc, client, ex, time.perf_counter() - t0, spark_start_s, open_s)


def _run_decks(ex, oracle: nb.Oracle, seed: int, seconds: float) -> tuple[float, int]:
    """Whole decks until ``seconds`` have passed; returns (wall, decks)."""
    t0 = time.perf_counter()
    deck = 0
    while True:
        for i, op in enumerate(nb.build_deck(seed, deck)):
            try:
                nb.run_op(ex, oracle, op, f"{deck}_{i}")
            except GatewayError as e:
                ex.records.append({"kind": op[0], "failed": str(e)[:300]})
        deck += 1
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0, deck


def deck_metrics(records: list[dict], wall: float) -> dict:
    """Statement latency (submit to EOS) percentiles, first-page median,
    and completed operations per second."""
    ok = [r for r in records if "failed" not in r]
    stmts = [r for r in ok if r["kind"] != "complete"]
    total = [r["total_s"] for r in stmts]
    return {"first_ms": 1e3 * pct([r["first_s"] for r in stmts], 0.5), "p50_ms": 1e3 * pct(total, 0.5),
            "p90_ms": 1e3 * pct(total, 0.9), "rate": len(ok) / wall}


def run(root: Path, work: Path, env: dict, cache: Path, seed: int, seconds: float, trace: bool) -> dict:
    fixture_dir = fixtures.ensure(cache, SF)
    oracle = nb.Oracle(str(fixture_dir))
    if trace:
        return _run_traced(root, work, env, fixture_dir, oracle, seed, seconds)
    g = _setup(env, work, fixture_dir, fresh_dir(work / "sink"))
    try:
        wall, decks = _run_decks(g.ex, oracle, seed, seconds)
    finally:
        g.close()
    records = [r for r in g.ex.records if r["kind"] != "ddl"]
    m = deck_metrics(records, wall)
    metrics = end_to_end(g.setup_s, m["first_ms"], m["p50_ms"], m["rate"])
    failed = sum(1 for r in records if "failed" in r)
    return {"attempted": len(records), "failed": failed, "metrics": metrics,
            "detail": {"decks": decks, "statements": len(records), "stmt_p90_ms": m["p90_ms"]}}


def _run_traced(root: Path, work: Path, env: dict, fixture_dir: Path, oracle: nb.Oracle, seed: int,
                seconds: float) -> dict:
    log_dir = fresh_dir(work / "eventlog")
    genv = {**env, **event_log_conf(log_dir)}
    g = _setup(genv, work, fixture_dir, fresh_dir(work / "sink"))
    client, session = g.client, g.ex.session
    ddl = [r["total_s"] for r in g.ex.records]
    tracer = Tracer()
    try:
        opens = [g.open_s]
        for _ in range(4):
            t = time.perf_counter()
            h = client.call("POST", "/sessions", {"sessionName": "probe"})["sessionHandle"]
            opens.append(time.perf_counter() - t)
            client.call("DELETE", f"/sessions/{h}")
        client.rtts.clear()
        for _ in range(RTT_SAMPLES):
            client.call("GET", "/info")
        rtt = median(client.rtts)
        # each deck entry runs twice, traced and untraced, the traced one
        # first on even entries and second on odd ones, so the warmth a
        # second execution gains falls on both sides alike; the
        # difference is the overhead. `first` holds whichever ran first,
        # to compare with the in-process pass, which runs each entry once.
        plain = GatewayExec(client, session)
        traced = GatewayExec(client, session, tracer)
        wall = {id(plain): 0.0, id(traced): 0.0}
        first: list[dict] = []
        decks, t0 = 0, time.perf_counter()
        while decks == 0 or time.perf_counter() - t0 < 2 * seconds:
            for i, op in enumerate(nb.build_deck(seed, decks)):
                order = (traced, plain) if i % 2 == 0 else (plain, traced)
                for k, ex in enumerate(order):
                    client.tracer = ex.tracer
                    n, t = len(ex.records), time.perf_counter()
                    nb.run_op(ex, oracle, op, f"{'tu'[ex is plain]}{decks}_{i}")
                    wall[id(ex)] += time.perf_counter() - t
                    if k == 0:
                        first += ex.records[n:]
            decks += 1
        wall0, wall1 = wall[id(plain)], wall[id(traced)]
    finally:
        g.close()
    inproc = _inproc_pass(root, work, env, fixture_dir, seed, decks)
    e2e0, e2e1 = deck_metrics(plain.records, wall0), deck_metrics(traced.records, wall1)
    recs = traced.records
    stmts = [r for r in recs if r["kind"] != "complete"]
    log = read_event_log(log_dir)
    jobs = jobs_in_windows(log, [r["window"] for r in recs])
    # the same statements on both sides, in the same order
    http_s = [r["total_s"] for r in first if r["kind"] not in SINK_KINDS]
    engine_s = [t for kind, t in inproc["engine_s"] if kind not in SINK_KINDS]
    if len(http_s) != len(engine_s):
        raise BenchError(f"gateway pass ran {len(http_s)} statements, in-process pass {len(engine_s)}")
    stmt_spans = tracer.by_name("statement")
    span_self = tracer.self_times()
    v = {
        "session.spark_start_s": g.spark_start_s,
        "gateway.rtt_p50_ms": 1e3 * rtt,
        "gateway.open_session_ms": 1e3 * median(opens),
        "gateway.requests_per_stmt": sum(r["requests"] for r in recs) / len(recs),
        "gateway.not_ready_polls_per_stmt": sum(r["not_ready"] for r in stmts) / len(stmts),
        "gateway.page_p50_ms": 1e3 * median([p for r in stmts for p in r["page_s"]]),
        # HTTP time minus in-process engine time, both for the first
        # execution of the same statements
        "gateway.self_ms_per_stmt": 1e3 * (sum(http_s) - sum(engine_s)) / len(http_s),
        "engine.ms_per_stmt": 1e3 * sum(engine_s) / len(http_s),
        "engine.submit_p50_ms": inproc["submit_p50_ms"],
        "engine.fetch_p50_ms": inproc["fetch_p50_ms"],
        "engine.pages_per_stmt": inproc["pages_per_stmt"],
        "dialect.rewrite_p50_us": inproc["rewrite_p50_us"],
        "dialect.split_p50_us": inproc["split_p50_us"],
        "session.inproc_spark_start_s": inproc["spark_start_s"],
        "statement.mean_ms": 1e3 * sum(http_s) / len(http_s),
        "sources.ddl_ms": 1e3 * median(ddl),
        "trace.spans": len(tracer.spans),
        "trace.client_self_ms_per_stmt": 1e3 * sum(span_self[s["id"]] for s in stmt_spans) / len(stmt_spans),
    }
    for name, kinds in (("metadata.show_tables_ms", ("show_tables",)), ("metadata.describe_ms", ("describe",)),
                        ("metadata.complete_ms", ("complete",)), ("sources.insert_ms", ("insert",)),
                        ("sources.dml_ms", ("delete", "update"))):
        v[name] = 1e3 * median([r["total_s"] for r in recs if r["kind"] in kinds])
    v.update(spark_totals(log, jobs, wall1, int(env["SPARK_GRAFT_CPUS"]), len(recs)))
    for k in e2e0:
        v[f"trace.overhead.{k}"] = e2e1[k] - e2e0[k]
        v[f"e2e.traced.{k}"] = e2e1[k]
        v[f"e2e.untraced.{k}"] = e2e0[k]
    tracer.dump(work.parent / "notebook_sf01-spans.json")
    every = plain.records + recs
    common, extra = split_layers(v)
    return {"attempted": len(every), "failed": sum(1 for r in every if "failed" in r), "metrics": common,
            "layers": extra, "detail": {"setup_s": g.setup_s, "decks": decks}}


def _inproc_pass(root: Path, work: Path, env: dict, fixture_dir: Path, seed: int, decks: int) -> dict:
    """The same decks through EngineSession/Operation in a fresh process."""
    out = work / "inproc.json"
    proc = spawn(
        [sys.executable, "-u", str(Path(__file__).with_name("inproc.py")), str(fixture_dir),
         str(fresh_dir(work / "sink-inproc")), str(seed), str(decks), str(out)],
        env, work,
    )
    try:
        if proc.wait(timeout=170) != 0:
            raise BenchError(f"in-process notebook pass exited {proc.returncode}")
    finally:
        stop(proc)
    return json.loads(out.read_text())

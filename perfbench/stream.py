"""Streaming phase of the traced ``pipeline_sf02`` run.

A continuous pipeline writes while a user previews a continuous query,
through a gateway process of the phase's own (streaming runtime mode).
Input is ``datagen`` at 1,000 rows/s over 100 keys. The preview is a
stateful OVER query (6-row running sum per key) paged through the
gateway; the sink job is a continuous INSERT of a TUMBLE count into a
filesystem JSON table. Event latency runs from each row's rate-source
timestamp, its scheduled creation time, to the moment the client
receives it, so the input schedule does not slow when the engine does.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from pathlib import Path

from client import Client, GatewayError, Statement
from common import BenchError, Tracer, fresh_dir, jobs_in_windows, median, pct, spark_totals

RATE = 1000
KEYS = 100
WINDOW_S = 2
FIRST_ROWS_TIMEOUT_S = 60
POLL_S = 0.010
PROGRESS_POLL_S = 1.0

SOURCE = (
    "CREATE TABLE src (k BIGINT, v BIGINT, ts TIMESTAMP(3), WATERMARK FOR ts AS ts - INTERVAL '1' SECOND) "
    f"WITH ('connector'='datagen', 'rows-per-second'='{RATE}', 'fields.k.min'='0', 'fields.k.max'='{KEYS - 1}')"
)
PREVIEW = (
    "SELECT k, v, ts, SUM(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS s6 "
    "FROM src"
)


def sink_ddl(path: Path) -> str:
    return (
        "CREATE TABLE win_sink (window_start TIMESTAMP(3), window_end TIMESTAMP(3), n BIGINT) "
        f"WITH ('connector'='filesystem', 'path'='{path}', 'format'='json')"
    )


SINK_JOB = (
    "INSERT INTO win_sink SELECT window_start, window_end, COUNT(*) AS n FROM "
    f"TABLE(TUMBLE(TABLE src, DESCRIPTOR(ts), INTERVAL '{WINDOW_S}' SECOND)) GROUP BY window_start, window_end"
)


def _epoch(ts: str) -> float:
    """A wire timestamp ('YYYY-MM-DD HH:MM:SS[.ffffff]', session zone UTC)."""
    return dt.datetime.fromisoformat(ts).replace(tzinfo=dt.timezone.utc).timestamp()


def check_row(row: list) -> None:
    """Datagen is deterministic: value n gives k = n % 100, v = n + 1, and
    the key's earlier rows are n - 100, n - 200, ..."""
    k, v, _ts, s6 = row
    n = v - 1
    if k != n % KEYS:
        raise AssertionError(f"row {row}: key {k} != {n % KEYS}")
    want = sum(v - KEYS * j for j in range(min(5, n // KEYS) + 1))
    if s6 != want:
        raise AssertionError(f"row {row}: 6-row sum {s6} != {want}")


def check_sink(sink: Path) -> list[float]:
    """Every closed window but the first holds RATE * WINDOW_S rows.
    Returns commit latency (file mtime - window_end) per window."""
    wins = []
    for f in sorted(sink.rglob("*.json")):
        mtime = f.stat().st_mtime
        for line in f.read_text().splitlines():
            if line.strip():
                rec = json.loads(line)
                wins.append((_epoch(rec["window_start"].replace("T", " ").rstrip("Z")),
                             _epoch(rec["window_end"].replace("T", " ").rstrip("Z")), rec["n"], mtime))
    wins.sort()
    if len(wins) < 2:
        raise AssertionError(f"sink committed {len(wins)} windows")
    starts = [w[0] for w in wins]
    if len(set(starts)) != len(starts):
        raise AssertionError("sink holds a window twice")
    for ws, we, n, _m in wins[1:]:
        if n != RATE * WINDOW_S:
            raise AssertionError(f"window {ws}: {n} rows, expected {RATE * WINDOW_S}")
    return [m - we for _ws, we, _n, m in wins[1:]]


def preview(client: Client, work: Path, seconds: float) -> dict:
    """Run the phase: session and DDL, sink job, then the preview paged
    until ``seconds`` after its first rows. Any failed request or stream
    error raises (the run ends without a result)."""
    sink = fresh_dir(work / "win_sink")
    t0 = time.perf_counter()
    session = client.call("POST", "/sessions", {"sessionName": "stream"})["sessionHandle"]
    for sql in (SOURCE, sink_ddl(sink)):
        Statement(client, session, sql).run()
    setup_s = time.perf_counter() - t0
    sink_job = Statement(client, session, SINK_JOB).run().rows[0][0]
    e_submit, t_submit = time.time(), time.perf_counter()
    op = client.call("POST", f"/sessions/{session}/statements", {"statement": PREVIEW})["operationHandle"]
    received: list[tuple[float, list]] = []
    page_s: list[float] = []
    progress: dict[str, dict[int, dict]] = {"preview": {}, "sink": {}}
    token, first_rows, stop_at, last_progress = 0, None, None, 0.0
    preview_job = None
    last_page: dict = {}
    while True:
        tp = time.perf_counter()
        page = client.call("GET", f"/sessions/{session}/operations/{op}/result/{token}")
        now = time.time()
        page_s.append(time.perf_counter() - tp)
        if page["resultType"] == "EOS":
            raise GatewayError("preview ended")
        rows = [r["fields"] for r in (page.get("results") or {}).get("data") or []]
        if rows and first_rows is None:
            first_rows = time.perf_counter() - t_submit
            stop_at = time.perf_counter() + seconds
        if first_rows is not None:
            received.extend((now, r) for r in rows)
            last_page = page
        token = page.get("nextResultToken", token)
        preview_job = preview_job or page.get("jobID")
        if preview_job and time.perf_counter() - last_progress > PROGRESS_POLL_S:
            last_progress = time.perf_counter()
            for name, job in (("preview", preview_job), ("sink", sink_job)):
                p = client.call("GET", f"/jobs/{job}").get("lastProgress")
                if p:
                    progress[name].setdefault(p["batchId"], p)
        if first_rows is None and time.perf_counter() - t_submit > FIRST_ROWS_TIMEOUT_S:
            raise BenchError(f"no preview rows after {FIRST_ROWS_TIMEOUT_S}s")
        if stop_at is not None and time.perf_counter() >= stop_at:
            break
        time.sleep(POLL_S)
    e_end = time.time()
    client.call("POST", f"/sessions/{session}/operations/{op}/cancel")
    Statement(client, session, f"STOP JOB '{sink_job}'").run()
    client.call("DELETE", f"/sessions/{session}")
    return {"setup_s": setup_s, "first_rows_s": first_rows, "received": received, "page_s": page_s,
            "progress": progress, "last_page": last_page, "window": (e_submit, e_end), "sink": sink}


def layers(res: dict, log: dict, cores: int, tracer: Tracer) -> dict:
    """Check every received row and the sink, then the phase's figures:
    what the user sees (first rows, event latency, delivered share, sink
    commit latency) and the streaming layer's per-batch progress. Each
    preview batch becomes a span with its own trace id."""
    received, last_page = res["received"], res["last_page"]
    for _t, row in received:
        check_row(row)
    sink_lat = check_sink(res["sink"])
    lat = [now - _epoch(row[2]) for now, row in received]
    batches = [res["progress"]["preview"][b] for b in sorted(res["progress"]["preview"])]
    sink_batches = [res["progress"]["sink"][b] for b in sorted(res["progress"]["sink"])]
    if len(batches) < 2:
        raise BenchError("fewer than two preview batches were observed")
    dur = [b.get("durationMs") or {} for b in batches]
    later = dur[1:]
    to_perf = time.perf_counter() - time.time()  # spans are on the perf_counter clock
    for b, d in zip(batches, dur):
        if "timestamp" in b:
            start = to_perf + _epoch(b["timestamp"].replace("T", " ").rstrip("Z"))
            end = start + d.get("triggerExecution", 0) / 1e3
            tracer.record("streaming.batch", f"batch-{b['batchId']}", start, end, rows=b.get("numInputRows", 0))
    # rows per second a micro-batch processes, over the batches after the
    # first, which also pays query start-up
    rates = [b["numInputRows"] / (d["triggerExecution"] / 1e3) for b, d in zip(batches[1:], later)
             if b.get("numInputRows") and d.get("triggerExecution")]
    state = batches[-1].get("stateOperators") or []
    jobs = jobs_in_windows(log, [res["window"]])
    spark = spark_totals(log, jobs, res["window"][1] - res["window"][0], cores, len(batches))
    return {
        "streaming.setup_ms": 1e3 * res["setup_s"],
        "streaming.first_rows_ms": 1e3 * res["first_rows_s"],
        "streaming.event_p50_ms": 1e3 * pct(lat, 0.5),
        "streaming.event_p90_ms": 1e3 * pct(lat, 0.9),
        # rows received / rows the preview emitted; the ring evicts the rest
        "streaming.delivered_ratio": len(received) / max(1, last_page.get("totalRows", 0)),
        "streaming.received_rows": len(received),
        "streaming.rows_per_s": median(rates) if rates else 0.0,
        "streaming.first_batch_ms": dur[0].get("triggerExecution", 0),
        "streaming.batch_p50_ms": median([d.get("triggerExecution", 0) for d in later]),
        "streaming.add_batch_p50_ms": median([d.get("addBatch", 0) for d in later]),
        "streaming.planning_p50_ms": median([d.get("queryPlanning", 0) for d in later]),
        "streaming.commit_p50_ms": median([d.get("commitOffsets", 0) + d.get("walCommit", 0) for d in later]),
        "streaming.rows_per_batch_p50": median([b.get("numInputRows", 0) for b in batches]),
        "streaming.batches": len(batches),
        "streaming.tasks_per_batch": spark["spark.tasks_per_op"],
        "streaming.busy_ratio": spark["spark.busy_ratio"],
        "streaming.state_rows": sum(so.get("numRowsTotal", 0) for so in state),
        "streaming.state_mem_mb": sum(so.get("memoryUsedBytes", 0) for so in state) / 2**20,
        "streaming.evicted_rows": last_page.get("offset", 0),
        "streaming.late_dropped": last_page.get("lateDropped", 0),
        "streaming.page_p50_ms": 1e3 * median(res["page_s"]),
        "sources.sink_commit_p50_ms": 1e3 * pct(sink_lat, 0.5),
        "sources.sink_batch_p50_ms": median([(b.get("durationMs") or {}).get("triggerExecution", 0)
                                             for b in sink_batches]) if sink_batches else 0.0,
        "sources.sink_windows": len(sink_lat),
    }

"""Closed-loop REST client for the engine's SQL gateway.

One keep-alive connection, one request in flight. Every request is
counted; a status of 400 or more raises, so a workload counts it as a
failure and never times an error as if it were a result.
"""

from __future__ import annotations

import http.client
import json
import re
import select
import subprocess
import sys
import time
from pathlib import Path

from common import BenchError, spawn, stop

# Poll interval for NOT_READY pages: well under statement latency, so a
# statement's time is not rounded up to the poll period.
POLL_S = 0.010


class GatewayError(BenchError):
    pass


class Client:
    def __init__(self, url: str, timeout: float = 120.0):
        m = re.match(r"http://([^:/]+):(\d+)", url)
        if m is None:
            raise ValueError(f"not a gateway url: {url!r}")
        self.conn = http.client.HTTPConnection(m.group(1), int(m.group(2)), timeout=timeout)
        self.requests = 0
        self.rtts: list[float] = []
        # set by a traced run: every request becomes a span of this trace
        self.tracer = None
        self.trace = "-"

    def call(self, method: str, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if data else {}
        t0 = time.perf_counter()
        self.conn.request(method, "/v1" + path, body=data, headers=headers)
        resp = self.conn.getresponse()
        raw = resp.read()
        t1 = time.perf_counter()
        self.rtts.append(t1 - t0)
        if self.tracer is not None:
            self.tracer.record("gateway.request", self.trace, t0, t1, self.tracer.current(), method=method)
        self.requests += 1
        if resp.status >= 400:
            raise GatewayError(f"{method} {path} -> {resp.status}: {raw[:500]!r}")
        return json.loads(raw) if raw else {}

    def close(self) -> None:
        self.conn.close()


class Statement:
    """Submit one statement and page its result to EOS.

    Records the submit-to-first-page and submit-to-EOS times, the
    number of NOT_READY polls and pages, and the time of each page
    request."""

    def __init__(self, client: Client, session: str, sql: str):
        self.client, self.session, self.sql = client, session, sql
        self.rows: list[list] = []
        self.not_ready = 0
        self.pages = 0
        self.page_s: list[float] = []
        self.first_page_s = 0.0
        self.total_s = 0.0
        self.requests = 0

    def run(self, max_s: float = 120.0) -> "Statement":
        c = self.client
        r0 = c.requests
        t0 = time.perf_counter()
        op = c.call("POST", f"/sessions/{self.session}/statements", {"statement": self.sql})
        handle = op["operationHandle"]
        token = 0
        while True:
            tp = time.perf_counter()
            page = c.call("GET", f"/sessions/{self.session}/operations/{handle}/result/{token}")
            kind = page["resultType"]
            if kind == "NOT_READY":
                self.not_ready += 1
                if time.perf_counter() - t0 > max_s:
                    raise GatewayError(f"statement not ready after {max_s}s: {self.sql[:80]}")
                time.sleep(POLL_S)
                continue
            self.page_s.append(time.perf_counter() - tp)
            if not self.pages:
                self.first_page_s = time.perf_counter() - t0
            self.pages += 1
            self.rows.extend(r["fields"] for r in (page.get("results") or {}).get("data") or [])
            if kind == "EOS":
                break
            token = page["nextResultToken"]
        self.total_s = time.perf_counter() - t0
        c.call("DELETE", f"/sessions/{self.session}/operations/{handle}/close")
        self.requests = c.requests - r0
        return self


def start_gateway(env: dict, cwd: Path, timeout: float = 150.0):
    """Start ``python -u -m flink_sql_toolkit_spark.gateway --port 0`` in
    its own process group and wait for its "listening" line. Returns
    (process, url)."""
    proc = spawn(
        [sys.executable, "-u", "-m", "flink_sql_toolkit_spark.gateway", "--port", "0"],
        env, cwd, stdout=subprocess.PIPE,
    )
    deadline = time.monotonic() + timeout
    line = ""
    while time.monotonic() < deadline:
        ready, _, _ = select.select([proc.stdout], [], [], 0.005)
        if ready:
            line = proc.stdout.readline()
            m = re.search(r"listening on (http://\S+)", line)
            if m:
                return proc, m.group(1)
            if not line and proc.poll() is not None:
                break
    stop(proc)
    raise BenchError(f"gateway did not start (last line {line!r})")

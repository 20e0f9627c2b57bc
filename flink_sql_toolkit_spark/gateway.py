"""HTTP façade over the engine — the Flink SQL Gateway wire contract.

Serves the exact REST surface the reference client speaks
(src/flinkClient.ts:129-188 gateway endpoints, 174-267 JobManager
endpoints), so a user of the reference extension can point its
``baseUrl``/``jobManagerUrl`` at this server and drive the Spark
engine unchanged:

- ``POST /sessions`` {sessionName, properties} → {sessionHandle}
- ``GET/DELETE /sessions/{h}`` — checkSession / close
- ``POST /sessions/{h}/statements`` {statement} → {operationHandle}
  (async submit: results answer NOT_READY until execution completes,
  the readiness-poll contract in src/notebookController.ts:122-140)
- ``GET /sessions/{h}/operations/{oh}/result/{token}`` →
  {resultType: NOT_READY|PAYLOAD|EOS, resultKind, isQueryResult,
  jobID, nextResultUri, nextResultToken,
  results: {columns: [{name, logicalType, comment}],
  data: [{kind, fields}]}} — the shape fetchResults maps
  (src/flinkClient.ts:154-172); changelog pages carry their RowKind
  in ``kind`` (INSERT/UPDATE_BEFORE/UPDATE_AFTER/DELETE)
- ``GET /sessions/{h}/operations/{oh}/status`` → {status}
- ``POST .../operations/{oh}/cancel`` / ``DELETE .../operations/{oh}/close``
- JobManager view: ``GET /overview``, ``GET /taskmanagers``,
  ``GET /jobs``, ``GET /jobs/overview``, ``GET /jobs/{id}``,
  ``GET /jobs/{id}/plan``, ``PATCH /jobs/{id}?mode=cancel``
- ``GET /info`` → product/version (gateway liveness probe)

Errors use Flink's two-element shape the client parses
(src/flinkClient.ts:78-125): ``{"errors": [<message>,
"<Exception on server side:\\n{traceback}>"]}`` — errors[0] is the
short message (a stale handle reads "Session ... does not exist" so
the client's auto-recovery path fires, sessionManager.ts:257-288),
errors[1] carries the server-side stack.

Scale note: the gateway is a thin driver-side control plane —
statements execute through the same Engine/Operation contracts as
the embedded API, all data movement stays inside Spark, and result
pages are bounded by the operation's ring/page caps. stdlib
ThreadingHTTPServer (daemon threads) is plenty for a control plane
that serves O(polls/sec), not data. Connections run with
``TCP_NODELAY``, so a keep-alive response never waits for the
client's delayed ACK (40 ms or more on Linux). ``result/{token}``
waits up to 0.5 s for a running statement to finish before it
answers NOT_READY, so most statements answer in one round trip. The
reference client's retry budgets count polls, not time: with the wait
its readiness loop (500 ms × 60) can take up to 60 s instead of 30 s,
and its metadata loop (50 ms × 20) up to about 11 s instead of 1 s.
It waits longer before giving up; it never gives up sooner.
"""

from __future__ import annotations

import base64
import datetime as dt
import decimal
import json
import math
import re
import threading
import traceback
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

from flink_sql_toolkit_spark.engine import Engine
from flink_sql_toolkit_spark.streaming.buffer import OBSERVABILITY_COUNTERS

# how long a result/{token} fetch waits for a still-running statement
# before answering NOT_READY — the reference client's own readiness
# poll gap (src/notebookController.ts:132), so a fetch never holds the
# client longer than its next poll would have
_READY_WAIT_S = 0.5

_ROWKINDS = {
    "+I": "INSERT",
    "-U": "UPDATE_BEFORE",
    "+U": "UPDATE_AFTER",
    "-D": "DELETE",
}


def _finite(obj: Any) -> Any:
    """Replace non-finite floats with None recursively — bare
    ``NaN``/``Infinity`` tokens are invalid JSON and JSON.parse in the
    reference client throws on them (review r10). Pages are bounded by
    the ring/page caps, so the walk is O(page), not O(result)."""
    if isinstance(obj, float):
        return obj if math.isfinite(obj) else None
    if isinstance(obj, dict):
        return {k: _finite(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_finite(v) for v in obj]
    return obj


def _json_default(o: Any) -> Any:
    if isinstance(o, dt.datetime):
        # Flink's REST prints timestamps as 'YYYY-MM-DD HH:MM:SS.ffffff'
        return o.isoformat(sep=" ")
    if isinstance(o, (dt.date, dt.time)):
        return o.isoformat()
    if isinstance(o, dt.timedelta):
        return str(o)
    if isinstance(o, decimal.Decimal):
        return str(o)
    if isinstance(o, (bytes, bytearray)):
        return base64.b64encode(bytes(o)).decode("ascii")
    return str(o)


class Gateway:
    """Engine + HTTP server lifecycle. ``port=0`` picks a free port.

    ``session_idle_timeout_s`` mirrors the real gateway's
    ``sql-gateway.session.idle-timeout`` (sessions untouched for that
    long are closed and their streaming jobs stopped; the client's
    auto-recovery then opens a fresh one on the next use). Default
    off — an embedded/test gateway should not reap under a debugger.
    """

    def __init__(
        self,
        spark,
        host: str = "127.0.0.1",
        port: int = 0,
        session_idle_timeout_s: float | None = None,
        request_timeout_s: float = 60.0,
    ):
        self.engine = Engine(spark)
        # per-connection socket timeout: a client that connects and then
        # stalls (never sends a request line, or trickles headers) would
        # otherwise pin a daemon handler thread for the process lifetime
        # (review r10 hardening). BaseHTTPRequestHandler honors the
        # `timeout` attribute; on expiry it closes the connection.
        handler = type(
            "Handler", (_Handler,), {"gateway": self, "timeout": request_timeout_s}
        )
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self.httpd.daemon_threads = True
        self._thread: threading.Thread | None = None
        self.session_idle_timeout_s = session_idle_timeout_s
        self._last_access: dict[str, float] = {}
        # tombstones of handles this gateway closed (reaper or DELETE):
        # a repeat DELETE answers CLOSED (idempotent under the reaper
        # race) while a handle that NEVER existed stays 404 — blanket
        # CLOSED-for-anything would mask client-side handle bugs
        # (review r11 pass 3). Bounded LRU: one uuid per closed
        # session would otherwise grow for the process lifetime.
        self._closed: "OrderedDict[str, None]" = OrderedDict()
        self._closed_cap = 10_000
        # handles whose engine close is in flight: their tombstones are
        # pinned against LRU eviction for the WHOLE close duration —
        # engine.close_session pops the handle from engine.sessions as
        # its first statement, so membership alone stops pinning too
        # early (review r11 pass 7). REFCOUNTED: two concurrent closes
        # of one handle (reaper + DELETE, or double-DELETE) must not
        # let the fast second entrant release the first's pin
        # (pass 8).
        self._closing: dict[str, int] = {}
        self._access_lock = threading.Lock()
        self._reaper_stop = threading.Event()
        self._reaper: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self.httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "Gateway":
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True
        )
        self._thread.start()
        if self.session_idle_timeout_s:
            self._reaper = threading.Thread(target=self._reap_loop, daemon=True)
            self._reaper.start()
        return self

    def _reap_loop(self) -> None:
        import time as _time  # noqa: PLC0415

        # sweep at ~1/10 of the timeout (bounded) so expiry latency is
        # proportional to the configured window, not a fixed tick
        tick = min(max(self.session_idle_timeout_s / 10, 0.05), 30.0)
        while not self._reaper_stop.wait(tick):
            cutoff = _time.monotonic() - self.session_idle_timeout_s
            for handle in list(self.engine.sessions):
                # the touch/reap race (a request landing between this
                # read and the close) is decided under the access lock:
                # touch() holds it too, so the timestamp re-read here
                # is authoritative (review r10). The CLOSE itself runs
                # OUTSIDE the lock — stopping a session's streaming
                # jobs can take seconds, and every request's touch()
                # would stall behind it (review r10 #3).
                with self._access_lock:
                    if self._last_access.get(handle, cutoff + 1) > cutoff:
                        continue
                # the shared close protocol: tombstone-then-close with
                # the eviction pin held, close errors suppressed
                # (best-effort reap) — see close_and_forget
                self.close_and_forget(handle, suppress=True)

    def touch(self, handle: str) -> None:
        import time as _time  # noqa: PLC0415

        with self._access_lock:
            # only live, never-closed sessions get idleness records.
            # The tombstone check closes the forget-to-engine-pop
            # window at the ROOT (review r11 pass 6): engine.
            # close_session pops the handle only after forget() has
            # tombstoned it, so a request touching the session
            # mid-close is a no-op here rather than stranding an
            # entry the reaper (which iterates engine.sessions) could
            # never reach. Both maps are guarded by this lock, so the
            # check-then-write is atomic against forget().
            if handle in self._closed:
                return
            if handle in self.engine.sessions:
                self._last_access[handle] = _time.monotonic()

    def forget(self, handle: str) -> None:
        """Drop the idleness record of an explicitly-closed session —
        the reaper only pops what it reaps, so DELETE'd sessions would
        otherwise leak one dict entry each for the process lifetime
        (review r10) — and tombstone the handle so a repeat DELETE
        stays idempotent (CLOSED, not 404). The pop runs UNDER the
        access lock: unlocked it can interleave between touch()'s
        membership check and its write, stranding an idleness entry
        for a dead session forever (review r11 pass 4 — the exact r10
        leak this method exists to prevent)."""
        with self._access_lock:
            self._forget_locked(handle)

    def _forget_locked(self, handle: str) -> None:
        self._last_access.pop(handle, None)
        self._closed[handle] = None
        self._closed.move_to_end(handle)
        while len(self._closed) > self._closed_cap:
            # never evict a load-bearing tombstone: one whose session
            # is still engine-registered OR whose close is in flight
            # (the engine pops the handle before the slow sess.close(),
            # so membership alone releases the pin too early — review
            # r11 passes 6+7). Oldest evictable entry wins; if every
            # tombstone is load-bearing, let the set grow.
            for old in self._closed:
                if old not in self.engine.sessions and old not in self._closing:
                    del self._closed[old]
                    break
            else:
                break

    def was_closed(self, handle: str) -> bool:
        with self._access_lock:
            return handle in self._closed

    def close_and_forget(self, handle: str, suppress: bool) -> None:
        """The single close protocol every close site uses (review r11
        pass 6: duplicated forget/close sequences with divergent error
        handling is how the earlier window bugs crept in): pin the
        handle (refcounted — a fast concurrent second close of the
        same handle must not release the first's pin, pass 8) and
        forget it (tombstone + idleness pop, so concurrent DELETEs
        answer CLOSED and touch() refuses it) in ONE critical section,
        then run the possibly-seconds-long engine close with the pin
        held."""
        with self._access_lock:
            self._closing[handle] = self._closing.get(handle, 0) + 1
            self._forget_locked(handle)
        try:
            try:
                self.engine.close_session(handle)
            except Exception:  # noqa: BLE001
                if not suppress:
                    raise
        finally:
            with self._access_lock:
                n = self._closing.get(handle, 1) - 1
                if n <= 0:
                    self._closing.pop(handle, None)
                else:
                    self._closing[handle] = n

    def stop(self) -> None:
        self._reaper_stop.set()
        if self._reaper is not None:
            self._reaper.join(timeout=5)
        if self._thread is not None:
            # shutdown() blocks on an event only serve_forever sets —
            # calling it before start() would hang forever (review r10)
            self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
        # the shared close protocol here too (review r11 pass 8:
        # "every close site" must mean every close site). Loop until
        # empty: shutdown() does not wait for active daemon handlers,
        # so an in-flight keep-alive request can still open_session
        # AFTER a single snapshot — re-snapshot until none appear
        # (bounded: the socket is closed, so only the finite set of
        # already-active handlers can add sessions — review r11
        # pass 9).
        for _ in range(50):
            handles = list(self.engine.sessions)
            if not handles:
                break
            for handle in handles:
                self.close_and_forget(handle, suppress=True)
        with self._access_lock:
            self._last_access.clear()

    # -- request-level operations (handler delegates here) ------------

    def _session(self, handle: str):
        sess = self.engine.sessions.get(handle)
        if sess is None:
            # errors[0] must contain "Session ... does not exist" — the
            # client's recovery path string-matches it
            # (src/notebookController.ts:110-118)
            raise _HttpError(404, f"Session '{handle}' does not exist.")
        self.touch(handle)  # any session-scoped request resets idleness
        return sess

    def _operation(self, handle: str, op_handle: str):
        op = self._session(handle).operations.get(op_handle)
        if op is None:
            raise _HttpError(404, f"Operation '{op_handle}' does not exist.")
        return op

    def result_page(self, handle: str, op_handle: str, token: int) -> dict:
        op = self._operation(handle, op_handle)
        if op._stream_buffer is None:
            # answer in the same round trip when the statement finishes
            # within the wait, instead of a NOT_READY the client re-polls
            op.ready.wait(_READY_WAIT_S)
        page = op.fetch(token)
        columns = page.get("columns") or []
        data = page.get("data") or []
        # changelog pages carry the RowKind in the leading `op` column
        # — lift it into Flink's per-row `kind` and drop the column,
        # the real gateway's wire shape. Keyed on the Operation's
        # changelog flag, NOT the first column's name: an append-mode
        # result whose first column happens to be called `op` must
        # pass through untouched (review r10; same ADVICE r7 rule as
        # the engine's op_passthrough binder)
        if columns and getattr(op, "changelog_result", False):
            columns = columns[1:]
            rows = [
                {"kind": _ROWKINDS.get(r[0], "INSERT"), "fields": list(r[1:])}
                for r in data
            ]
        else:
            rows = [{"kind": "INSERT", "fields": list(r)} for r in data]
        result_type = page["resultType"]
        next_token = page.get("nextResultToken", token)
        out = {
            "resultType": result_type,
            "isQueryResult": page.get("isQueryResult", False),
            "resultKind": "SUCCESS_WITH_CONTENT" if columns else "SUCCESS",
            "jobID": page.get("jobID"),
            "nextResultToken": next_token,
            "results": {"columns": columns, "data": rows},
        }
        if result_type != "EOS":
            out["nextResultUri"] = (
                f"/sessions/{handle}/operations/{op_handle}/result/{next_token}"
            )
        # streaming observability passthrough (offset/eviction counters
        # the embedded API exposes — additive, the client ignores them)
        for k in ("offset", "isComplete", *OBSERVABILITY_COUNTERS):
            if k in page:
                out[k] = page[k]
        return out

    def find_job(self, job_id: str):
        # snapshot: handler threads and the reaper mutate the dict
        # concurrently; bare .values() iteration can raise
        # RuntimeError mid-poll (review r10)
        for sess in list(self.engine.sessions.values()):
            for j in sess.jobs.list():
                if j.job_id == job_id:
                    return sess, j
        raise _HttpError(404, f"Job '{job_id}' not found.")


class _HttpError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


_ROUTES: list[tuple[str, re.Pattern[str], str]] = [
    ("POST", re.compile(r"^/sessions/?$"), "open_session"),
    ("GET", re.compile(r"^/sessions/([^/]+)/?$"), "get_session"),
    ("DELETE", re.compile(r"^/sessions/([^/]+)/?$"), "close_session"),
    ("POST", re.compile(r"^/sessions/([^/]+)/statements/?$"), "execute"),
    (
        "POST",
        re.compile(r"^/sessions/([^/]+)/complete-statement/?$"),
        "complete_statement",
    ),
    ("POST", re.compile(r"^/sessions/([^/]+)/heartbeat/?$"), "heartbeat"),
    (
        "GET",
        re.compile(r"^/sessions/([^/]+)/operations/([^/]+)/result/(\d+)$"),
        "result",
    ),
    (
        "GET",
        re.compile(r"^/sessions/([^/]+)/operations/([^/]+)/status$"),
        "op_status",
    ),
    (
        "POST",
        re.compile(r"^/sessions/([^/]+)/operations/([^/]+)/cancel$"),
        "op_cancel",
    ),
    (
        "DELETE",
        re.compile(r"^/sessions/([^/]+)/operations/([^/]+)/close$"),
        "op_close",
    ),
    ("GET", re.compile(r"^/info$"), "info"),
    ("GET", re.compile(r"^/api_versions$"), "api_versions"),
    # JobManager view (the client's second base URL)
    ("GET", re.compile(r"^/overview$"), "overview"),
    ("GET", re.compile(r"^/taskmanagers$"), "taskmanagers"),
    ("GET", re.compile(r"^/jobs/overview$"), "jobs_overview"),
    ("GET", re.compile(r"^/jobs/?$"), "jobs_list"),
    ("PATCH", re.compile(r"^/jobs/([^/]+)$"), "job_cancel"),
    ("GET", re.compile(r"^/jobs/([^/]+)/plan$"), "job_plan"),
    ("GET", re.compile(r"^/jobs/([^/]+)$"), "job_detail"),
]


class _Handler(BaseHTTPRequestHandler):
    gateway: Gateway  # injected subclass attribute
    protocol_version = "HTTP/1.1"
    # TCP_NODELAY: _reply writes headers and body separately, and Nagle
    # would hold the body until the client's delayed ACK (40 ms or
    # more a request on a keep-alive connection on Linux)
    disable_nagle_algorithm = True

    # -- plumbing ------------------------------------------------------

    def log_message(self, fmt, *args):  # noqa: A003 — silence stderr
        pass

    def _body(self) -> dict:
        if not self._raw_body:
            return {}
        try:
            return json.loads(self._raw_body)
        except json.JSONDecodeError as e:
            raise _HttpError(400, f"malformed JSON request body: {e}") from e

    def _reply(self, obj: dict, status: int = 200) -> None:
        payload = json.dumps(
            _finite(obj), default=_json_default, allow_nan=False
        ).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        if self.close_connection:
            # tell the client the socket will drop (the chunked 411
            # path) — a silent close reads as ECONNRESET on reuse
            self.send_header("Connection", "close")
        self.end_headers()
        self.wfile.write(payload)

    def _dispatch(self, method: str) -> None:
        # chunked bodies have no Content-Length to drain by — refuse
        # cleanly (411) and close the connection so the unread chunks
        # cannot prefix the next request (review r10)
        if "chunked" in (self.headers.get("Transfer-Encoding") or "").lower():
            self.close_connection = True
            self._reply(
                {"errors": ["Transfer-Encoding: chunked is not supported — "
                            "send a Content-Length body"]},
                411,
            )
            return
        # ALWAYS drain the request body up front: HTTP/1.1 keep-alive
        # reuses the socket, so body bytes a handler never reads (a
        # cancel POST, a 404'd route) would otherwise prefix the next
        # request and corrupt its framing (review r10)
        length = int(self.headers.get("Content-Length") or 0)
        self._raw_body = self.rfile.read(length) if length else b""
        parsed = urlparse(self.path)
        # accept a version prefix on the base URL (/v1, /v2, /v3)
        path = re.sub(r"^/v\d+", "", parsed.path) or "/"
        try:
            for m, pat, name in _ROUTES:
                if m != method:
                    continue
                match = pat.match(path)
                if match:
                    getattr(self, name)(*match.groups(), query=parsed.query)
                    return
            raise _HttpError(404, f"Not found: {method} {path}")
        except _HttpError as e:
            self._reply({"errors": [str(e)]}, e.status)
        except Exception as e:  # noqa: BLE001 — engine errors → wire shape
            # Flink's two-element error list: short message first, the
            # server-side stack second (src/flinkClient.ts:78-125)
            self._reply(
                {
                    "errors": [
                        f"{type(e).__name__}: {e}",
                        "<Exception on server side:\n"
                        + "".join(traceback.format_exception(e))
                        + ">",
                    ]
                },
                500,
            )

    def do_GET(self):  # noqa: N802
        self._dispatch("GET")

    def do_POST(self):  # noqa: N802
        self._dispatch("POST")

    def do_DELETE(self):  # noqa: N802
        self._dispatch("DELETE")

    def do_PATCH(self):  # noqa: N802
        self._dispatch("PATCH")

    # -- gateway endpoints ----------------------------------------------

    def open_session(self, query: str = "") -> None:
        body = self._body()
        sess = self.gateway.engine.open_session(body.get("sessionName") or "default")
        # touch BEFORE the property SETs: a raising SET leaves the
        # session registered, and an untouched handle would be
        # invisible to the reaper forever (review r10)
        self.gateway.touch(sess.handle)
        # session properties = initial SET map (Flink openSession applies
        # them the same way); '' re-escapes embedded quotes, matching
        # the SET statement's own literal syntax (review r10)
        from flink_sql_toolkit_spark.sources.ddl import (  # noqa: PLC0415
            escape_sql_quotes as esc,
        )

        try:
            for k, v in (body.get("properties") or {}).items():
                sess.execute_statement(f"SET '{esc(k)}' = '{esc(v)}'")
        except Exception:
            # a failing property SET must not leak a session: it is
            # already registered, but the error reply carries no
            # sessionHandle, so the client could never close it —
            # under the default config (no reaper) that is a permanent
            # leak (review r10 #1 / ADVICE r10). The shared close
            # protocol with close errors suppressed, then surface the
            # ORIGINAL error in the wire shape — a raising close (e.g.
            # job teardown) must not mask it (review r11).
            self.gateway.close_and_forget(sess.handle, suppress=True)
            raise
        self._reply({"sessionHandle": sess.handle})

    def get_session(self, handle: str, query: str = "") -> None:
        sess = self.gateway._session(handle)
        self._reply(
            {"sessionHandle": sess.handle, "properties": dict(sess.flink_conf)}
        )

    def close_session(self, handle: str, query: str = "") -> None:
        # idempotent under the reaper race: DELETE of a handle this
        # gateway already closed (reaper or a previous DELETE — the
        # tombstone set) answers CLOSED, never 404/500, since the
        # validate-then-close window is unlocked (review r10 #2). A
        # handle that NEVER existed stays 404 — blanket CLOSED would
        # mask client-side handle bugs while the real session leaks
        # (review r11 pass 3). engine.close_session itself is
        # pop-based and tolerates the handle vanishing between the
        # check and the call.
        if handle in self.gateway.engine.sessions:
            # the shared close protocol (tombstone-then-close with the
            # eviction pin): a concurrent DELETE answers CLOSED from
            # the tombstone instead of 404ing mid-close, a raising
            # close leaves the retry path CLOSED rather than 404, and
            # touch()'s tombstone check stops a mid-close request from
            # resurrecting the idleness entry (review r11 passes 4-7)
            self.gateway.close_and_forget(handle, suppress=False)
            self._reply({"status": "CLOSED"})
        elif self.gateway.was_closed(handle):
            self._reply({"status": "CLOSED"})
        else:
            raise _HttpError(404, f"Session '{handle}' does not exist.")

    def execute(self, handle: str, query: str = "") -> None:
        body = self._body()
        statement = body.get("statement")
        if not statement or not str(statement).strip():
            raise _HttpError(400, "request body must carry a non-empty 'statement'")
        sess = self.gateway._session(handle)
        op = sess.submit_statement(str(statement))
        self._reply({"operationHandle": op.handle})

    def heartbeat(self, handle: str, query: str = "") -> None:
        """Flink gateway keep-alive (POST /sessions/{h}/heartbeat):
        touches the session so the idle reaper spares it. 404 on a
        stale handle, same as every session-scoped route."""
        self.gateway._session(handle)  # touches
        self._reply({})

    def complete_statement(self, handle: str, query: str = "") -> None:
        """Flink SQL Gateway completion API: {statement, position} →
        {candidates: [...]} — served from the engine's completion
        provider (the reference builds its completions client-side
        from metadata SQL; the wire endpoint is the gateway-native
        equivalent)."""
        body = self._body()
        statement = str(body.get("statement") or "")
        try:
            position = int(body.get("position", len(statement)))
        except (TypeError, ValueError) as e:
            raise _HttpError(400, f"invalid position: {body.get('position')!r}") from e
        position = max(0, min(position, len(statement)))
        sess = self.gateway._session(handle)
        # full text for table-reference extraction, the cursor's line
        # prefix for dot-notation detection — truncating the statement
        # at the cursor would lose the FROM clause behind it, breaking
        # alias/column completion (review r10)
        prefix = statement[:position].rsplit("\n", 1)[-1]
        items = sess.completions(statement, line_prefix=prefix)
        # kind-distinct duplicates (TABLE the keyword vs elsewhere)
        # flatten to identical strings on the wire — dedup, order kept
        self._reply(
            {"candidates": list(dict.fromkeys(it["label"] for it in items))}
        )

    def result(self, handle: str, op_handle: str, token: str, query: str = "") -> None:
        self._reply(self.gateway.result_page(handle, op_handle, int(token)))

    def op_status(self, handle: str, op_handle: str, query: str = "") -> None:
        op = self.gateway._operation(handle, op_handle)
        self._reply({"status": op.status})

    def op_cancel(self, handle: str, op_handle: str, query: str = "") -> None:
        op = self.gateway._operation(handle, op_handle)
        op.cancel()
        self._reply({"status": "CANCELED"})

    def op_close(self, handle: str, op_handle: str, query: str = "") -> None:
        sess = self.gateway._session(handle)
        op = sess.operations.pop(op_handle, None)
        if op is not None:
            op.cancel()
        self._reply({"status": "CLOSED"})

    def info(self, query: str = "") -> None:
        import flink_sql_toolkit_spark as pkg  # noqa: PLC0415

        self._reply(
            {
                "productName": "flink-sql-toolkit-spark gateway",
                "version": getattr(pkg, "__version__", "0"),
            }
        )

    def api_versions(self, query: str = "") -> None:
        self._reply({"versions": ["V1", "V2", "V3"]})

    # -- JobManager endpoints ---------------------------------------------

    def overview(self, query: str = "") -> None:
        ov = self.gateway.engine.cluster_overview()
        # the reference's status bar reads Flink's field names
        # (src/statusBar.ts:21-45)
        self._reply(
            {
                "taskmanagers": len(ov["taskmanagers"]),
                "slots-total": ov["slots_total"],
                "slots-available": ov["slots_available"],
                "jobs-running": ov["jobs_running"],
                "jobs-finished": 0,
                "jobs-cancelled": 0,
                "jobs-failed": 0,
            }
        )

    def taskmanagers(self, query: str = "") -> None:
        ov = self.gateway.engine.cluster_overview()
        self._reply(
            {
                "taskmanagers": [
                    {
                        "id": f"{tm['host']}:{tm['port']}",
                        "path": f"akka://spark@{tm['host']}:{tm['port']}",
                        "slotsNumber": ov["slots_total"],
                        "freeSlots": ov["slots_available"],
                        "hardware": {},
                        **tm,
                    }
                    for tm in ov["taskmanagers"]
                ]
            }
        )

    def _all_jobs(self) -> list[dict]:
        return [
            {
                "jid": j.job_id,
                "name": j.name,
                "state": j.status,
                "start-time": int(j.start_time.timestamp() * 1000),
            }
            for sess in list(self.gateway.engine.sessions.values())
            for j in sess.jobs.list()
        ]

    def jobs_overview(self, query: str = "") -> None:
        self._reply({"jobs": self._all_jobs()})

    def jobs_list(self, query: str = "") -> None:
        self._reply(
            {"jobs": [{"id": j["jid"], "status": j["state"]} for j in self._all_jobs()]}
        )

    def job_cancel(self, job_id: str, query: str = "") -> None:
        # exact-parse the query string: a substring match would accept
        # ?mode=cancellation-test, and would silently downgrade a future
        # ?mode=cancel-with-savepoint to a plain cancel (review r10 #3).
        # The reference only ever sends ?mode=cancel
        # (src/flinkClient.ts:176).
        mode = parse_qs(query or "").get("mode", [None])[-1]
        if mode != "cancel":
            raise _HttpError(
                400, f"PATCH /jobs/{{id}} requires ?mode=cancel (got mode={mode!r})"
            )
        sess, _ = self.gateway.find_job(job_id)
        sess.jobs.stop(job_id)
        self._reply({})

    def job_detail(self, job_id: str, query: str = "") -> None:
        sess, _ = self.gateway.find_job(job_id)
        self._reply(sess.jobs.detail(job_id))

    def job_plan(self, job_id: str, query: str = "") -> None:
        sess, info = self.gateway.find_job(job_id)
        # Spark exposes no per-query DAG JSON; serve the job's progress
        # plan description as the single node
        self._reply(
            {
                "plan": {
                    "jid": job_id,
                    "name": info.name,
                    "nodes": [
                        {
                            "id": "0",
                            "description": info.name,
                            "parallelism": sess.spark.sparkContext.defaultParallelism,
                        }
                    ],
                }
            }
        )


def main() -> None:  # pragma: no cover — manual entry point
    import argparse

    from flink_sql_toolkit_spark.session import build_spark

    ap = argparse.ArgumentParser(description="Flink SQL Gateway façade over Spark")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8083)
    ap.add_argument(
        "--idle-timeout",
        type=float,
        default=None,
        metavar="SECONDS",
        help="close sessions idle longer than this "
        "(sql-gateway.session.idle-timeout; default: never)",
    )
    args = ap.parse_args()
    gw = Gateway(
        build_spark("gateway"),
        host=args.host,
        port=args.port,
        session_idle_timeout_s=args.idle_timeout,
    )
    # start() (not a bare serve_forever) so the reaper thread runs in
    # the standalone deployment too (review r10)
    gw.start()
    print(f"gateway listening on {gw.url}")
    try:
        threading.Event().wait()  # serve until interrupted
    except KeyboardInterrupt:
        gw.stop()


if __name__ == "__main__":
    main()

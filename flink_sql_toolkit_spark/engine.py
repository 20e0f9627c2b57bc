"""Gateway-shaped engine: Engine ≙ SQL Gateway, EngineSession ≙
sessionHandle, Operation ≙ statementHandle with token-paged fetch.

Re-expresses the reference's execution lifecycle (SURVEY.md §3):
statement submit → operation handle → token-paged result fetch with
``NOT_READY | PAYLOAD | EOS`` (src/flinkClient.ts:144-172), distinct
batch vs streaming result loops (src/notebookController.ts:169-294),
best-effort idempotent cancel (src/flinkClient.ts:269-296), and
session auto-recovery (src/sessionManager.ts:257-288) — on Spark:
``spark.sql`` + Catalyst for queries, Structured Streaming for
continuous jobs, a 1000-row ring buffer for live results.

``Operation._execute`` strips leading comments, answers an empty
statement with OK, and hands the statement to ``_DISPATCH``: one
ordered tuple of ``(op, stmt) -> (columns, rows) | None`` handlers,
the first answer wins. The order: COMPILE PLAN (rejected) → row-level
DML → SET / RESET / SHOW / DESCRIBE / USE / jobs admin / catalog and
database DDL / ALTER / EXPLAIN → CTAS → CREATE TABLE … LIKE → CREATE
TABLE … WITH → STATEMENT SET → INSERT into a connector table →
session VIEW → unqualified DROP → generic (MATCH_RECOGNIZE pre-rewrite,
dialect rewrite, ``spark.sql``), which always answers.
"""

from __future__ import annotations

import logging
import re
import tempfile
import threading
import uuid
from typing import Any

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from flink_sql_toolkit_spark import commands
from flink_sql_toolkit_spark.catalogs import CatalogRegistry, handle_catalog_ddl
from flink_sql_toolkit_spark.commands import OK, Cols, Rows, _c
from flink_sql_toolkit_spark.dialect import (
    rewrite,
    split_statements,
    strip_leading_comments,
)
from flink_sql_toolkit_spark.functions.shims import register_function_shims
from flink_sql_toolkit_spark.sources.connectors import build_reader, build_writer
from flink_sql_toolkit_spark.sources.ddl import (
    ConnectorTable,
    matches_create_table_like,
    matches_create_table_with,
    parse_create_table,
    spark_type_to_flink,
)
from flink_sql_toolkit_spark.streaming.buffer import (
    EOS,
    PAYLOAD,
    ChangelogResultBuffer,
    OpsPassthroughBuffer,
    StreamResultBuffer,
    grouping_key_positions,
)
from flink_sql_toolkit_spark.streaming.jobs import JobRegistry

logger = logging.getLogger(__name__)

PAGE_SIZE = 1000
# batch SELECT results are pulled lazily from toLocalIterator; only the
# most recent RETAIN_ROWS rows stay on the driver for page replay — a
# client paging a 100 TB result never materializes it driver-side
RETAIN_ROWS = 100 * PAGE_SIZE

# Flink 1.16 CTAS: CREATE TABLE [IF NOT EXISTS] t [COMMENT] WITH
# (connector options) AS <query> — no column list; the schema derives
# from the query (FLIP-218). Plain CREATE TABLE has a column-list
# paren group, so the two shapes never overlap.
_CTAS_RE = re.compile(
    r"(?is)^CREATE\s+(?P<tmp>TEMPORARY\s+)?TABLE\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.`]+)\s*"
    r"(?:COMMENT\s+'[^']*'\s*)?"
    r"WITH\s*\((?P<opts>.*?)\)\s*"
    r"AS\s+(?P<query>\(?\s*(?:SELECT|VALUES|WITH|TABLE)\b.*)$"
)


def _error_condition(e: Exception) -> str:
    """Stable error-class code of a Spark exception ('' if none).

    The streaming fallbacks below branch on these instead of raw
    message text — Spark's messages vary across versions while the
    error-class registry is a compatibility surface (ADVICE r5).
    ``getCondition`` is the 4.x name, ``getErrorClass`` the 3.x one.
    """
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if fn is not None:
            try:
                cond = fn()
            except Exception:  # noqa: BLE001 — diagnostic accessor only
                continue
            if cond:
                return str(cond)
    return ""


def _is_table_not_found(e: Exception) -> bool:
    """True only for Spark's table/view-not-found error — anchored on
    the TABLE_OR_VIEW_NOT_FOUND condition and the legacy "Table or
    view not found" / "The table or view … cannot be found" phrases.
    A bare "not found" substring match also caught unrelated failures
    (function/catalog resolution errors raised while executing a
    rewritten DROP) and masked their real cause (ADVICE r12)."""
    return _error_condition(e) == "TABLE_OR_VIEW_NOT_FOUND" or bool(
        re.search(
            r"(?i)(?:the )?table or view (?:[`'\"].{0,200}?[`'\"]\s*)?"
            r"(?:cannot be found|not found)",
            str(e),
        )
    )


class Operation:
    """A submitted statement: status + token-paged result fetch."""

    def __init__(
        self,
        session: "EngineSession",
        statement: str,
        savepoint_path: str | None = None,
    ):
        self.handle = str(uuid.uuid4())
        self.session = session
        self.statement = statement.strip()
        # operation-scoped savepoint override (statement sets): the
        # set used to publish each member's derived <root>/set-<i>
        # through the SHARED sess.flink_conf for the child Operation
        # to read back — but statements execute on their own threads,
        # so a concurrently submitted INSERT could observe the
        # transient path and adopt another job's checkpoint dir
        # (ADVICE r13 #1: the collision guard only sees jobs already
        # RUNNING, not one racing through the same window). Threading
        # the path explicitly makes it invisible to other operations.
        self._savepoint_override = savepoint_path
        self.status = "PENDING"
        self.is_query_result = False
        self.job_id: str | None = None
        self.error: Exception | None = None
        self._columns: list[dict[str, str]] = []
        self._rows: list[list[Any]] = []
        self._row_iter = None  # lazy batch-result iterator (toLocalIterator)
        self._row_offset = 0  # absolute index of self._rows[0] (after eviction)
        self._stream_buffer: StreamResultBuffer | None = None
        self._stream_query = None
        # True iff the result's leading column is a changelog RowKind
        # `op` column (set by the streaming result binder)
        self.changelog_result = False
        # operator result views this operation owns (cancel drops them)
        self._temp_views: list[str] = []
        # beyond-watermark drops: the routed operator's accumulator plus
        # Spark's numRowsDroppedByWatermark summed up to _wm_seen_batch
        self._late_acc = None
        self._wm_seen_batch = -1
        self._wm_dropped_cum = 0
        # set once execution has finished (or failed); only the async
        # submit path clears it, so synchronous operations start set
        self.ready = threading.Event()
        self.ready.set()

    # -- execution ----------------------------------------------------

    def execute(self) -> "Operation":
        try:
            self._execute()
            if self.status == "PENDING":
                self.status = "FINISHED"
        except Exception as e:  # noqa: BLE001
            self.status = "ERROR"
            self.error = e
            raise
        return self

    def _execute(self) -> None:
        stmt = strip_leading_comments(self.statement).rstrip(";").strip()
        if not stmt:  # comment-only statement
            self._columns, self._rows = OK
            return
        for handler in _DISPATCH:
            out = handler(self, stmt)
            if out is not None:
                self._columns, self._rows = out
                return

    def _start_stream_select(self, df: DataFrame) -> None:
        """Streaming SELECT → ring-buffered incremental results."""
        sess = self.session
        self.is_query_result = True
        # Flink's SQL-client changelog view: rows carry their RowKind
        # in a leading `op` column (+I / -U / +U), paired on the
        # update-mode grouping key derived from the analyzed plan
        changelog = (
            sess.flink_conf.get("sql-client.execution.result-mode", "")
            .strip()
            .lower()
            == "changelog"
        )

        def _bind_result(frame: DataFrame, op_passthrough: bool = False) -> None:
            cols = [
                {"name": f.name, "logicalType": f.dataType.simpleString()}
                for f in frame.schema.fields
            ]
            # transports (the REST gateway) key their RowKind lifting
            # on this flag, NOT on the first column's name — a user
            # column named `op` must not masquerade as changelog
            # output (the same ADVICE r7 rule as op_passthrough below)
            self.changelog_result = changelog
            if changelog and op_passthrough:
                # the routed keep-last/Top-N operator already emits
                # RowKind rows (+I/-U/+U/-D in its leading __op
                # column) — pass them through instead of re-deriving
                # pairs from the plan's grouping key; the passthrough
                # buffer counts tail-cap skips (a dropped -U would
                # silently corrupt the collapsed view — review r7).
                # The flag comes from the router (RoutedSQL), never
                # from sniffing the first column's name: a user column
                # aliased __op must not masquerade as operator output
                # (ADVICE r7)
                self._columns = [{"name": "op", "logicalType": "string"}, *cols[1:]]
                self._stream_buffer = OpsPassthroughBuffer()
            elif changelog:
                self._columns = [{"name": "op", "logicalType": "string"}, *cols]
                self._stream_buffer = ChangelogResultBuffer(
                    grouping_key_positions(frame)
                )
            else:
                self._columns = cols
                self._stream_buffer = StreamResultBuffer()

        _bind_result(df)
        name = f"select-{self.handle[:8]}"
        # the checkpoint the successful start() actually used — jobs
        # must register with THEIR checkpoint, not None: STOP JOB …
        # WITH SAVEPOINT would otherwise fall back to the shared
        # checkpoint_root, which is no job's state (ADVICE r12)
        ckpt_used: list[str] = []

        def _start(mode: str, frame: DataFrame = df):
            ckpt = sess.new_checkpoint(name)
            ckpt_used.append(ckpt)
            return (
                frame.writeStream.foreachBatch(self._stream_buffer.foreach_batch)
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime=sess.trigger_interval() or "1 second")
                .outputMode(mode)
                .start()
            )

        def _start_any(frame: DataFrame):
            try:
                # update: required by unwatermarked streaming
                # aggregations (the common interactive shape, mirroring
                # Flink changelog results)
                return _start("update", frame)
            except AnalysisException as e:
                # append-mode stateful operators (applyInPandasWithState:
                # streaming MATCH_RECOGNIZE / OVER) reject an
                # Update-mode query — rerun the sink in append.
                # Spark 4.1 raises this as _LEGACY_ERROR_TEMP_3102 /
                # the STREAMING_OUTPUT_MODE family; message substring
                # is the cross-version fallback.
                cond = _error_condition(e)
                if not (
                    cond == "_LEGACY_ERROR_TEMP_3102"
                    or cond.startswith("STREAMING_OUTPUT_MODE")
                    or "Update output mode" in str(e)
                ):
                    raise
                return _start("append", frame)

        try:
            q = _start_any(df)
        except AnalysisException as e:
            msg = str(e)
            if not (
                _error_condition(e) == "NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING"
                or "NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING" in msg
                or "Non-time-based windows" in msg
            ):
                raise
            # Spark Structured Streaming has no OVER windows; route
            # supported frame shapes to the engine's stateful
            # operators (dialect/over_sql.py), typed guidance else
            from flink_sql_toolkit_spark.dialect.over_sql import (  # noqa: PLC0415
                rewrite_streaming_dedup_sql,
                rewrite_streaming_over_sql,
            )

            stmt = strip_leading_comments(self.statement).rstrip(";").strip()
            # try the more specific ROW_NUMBER()=1 dedup recipe first
            routed = rewrite_streaming_dedup_sql(
                sess.spark, stmt, ttl_ms=sess.state_ttl_ms(), changelog=changelog
            )
            if routed is None:
                routed = rewrite_streaming_over_sql(
                    sess.spark, stmt, ttl_ms=sess.state_ttl_ms()
                )
            if routed is None:
                raise NotImplementedError(
                    "this OVER window shape is not supported in a "
                    "streaming SELECT — supported: any mix of "
                    "SUM/COUNT/AVG/MIN/MAX(col), COUNT(*) and "
                    "ROW_NUMBER()/RANK()/DENSE_RANK() sharing one "
                    "window spec OVER (PARTITION BY … "
                    "ORDER BY … ROWS BETWEEN n PRECEDING AND CURRENT "
                    "ROW | RANGE BETWEEN INTERVAL … PRECEDING AND "
                    "CURRENT ROW) via streaming.stateful."
                    "streaming_over_rows/streaming_over_range; "
                    "LAG/LEAD(col[, k[, default]]) OVER (PARTITION BY "
                    "… ORDER BY …) via streaming_lag/streaming_lead; "
                    "NTH_VALUE(col, n) OVER (PARTITION BY … ORDER BY … "
                    "[ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
                    "ROW]) via streaming_nth_value; "
                    "the dedup/first-N recipe "
                    "ROW_NUMBER() OVER (…) in a subquery filtered to "
                    "rn = 1 / rn <= N via streaming_first_n; or use a "
                    "window TVF (TUMBLE/HOP/CUMULATE) for time-based "
                    "frames"
                ) from e
            df = sess.spark.sql(rewrite(routed))
            # the routing registered `_over_out_N` temp view(s); track
            # them so cancel() drops them instead of leaking catalog
            # entries across a long-lived interactive session
            self._temp_views += re.findall(r"\b_(?:over|dedup)_out_\d+\b", routed)
            self._late_acc = routed.late_acc
            _bind_result(df, routed.op_passthrough)
            q = _start_any(df)
        self._stream_query = q
        info = sess.jobs.register(
            q, name, checkpoint=ckpt_used[-1] if ckpt_used else None
        )
        self.job_id = info.job_id
        self.status = "RUNNING"

    # -- result fetch (token-paged, src/flinkClient.ts:154-172) -------

    def fetch(self, token: int = 0) -> dict[str, Any]:
        if self.status == "ERROR":
            raise self.error if self.error else RuntimeError("operation failed")
        if not self.ready.is_set() and self._stream_buffer is None:
            return {
                "columns": [],
                "data": [],
                "resultType": "NOT_READY",
                "isQueryResult": False,
                "nextResultToken": token,
                "isStreaming": False,
                "jobID": None,
            }
        if self._stream_buffer is not None:
            if self._stream_query is not None and not self._stream_query.isActive:
                # surface the stream's failure instead of a clean EOS
                exc = None
                try:
                    exc = self._stream_query.exception()
                except Exception:  # noqa: BLE001
                    pass
                self._stream_buffer.finish(exc)
            page = self._stream_buffer.fetch(token)
            page.update(
                {
                    "columns": self._columns,
                    "isQueryResult": True,
                    "jobID": self.job_id,
                    "isStreaming": True,
                }
            )
            if self._late_acc is not None:
                # beyond-watermark drops — Flink's numLateRecordsDropped
                # metric, surfaced like evictedKeys/skippedRows (VERDICT
                # r7). Two disjoint sources (verified live, r9): rows
                # arriving within one batch of the watermark advance
                # reach the operator's reorder gate and are counted in
                # its accumulator; rows ≥2 batches late are filtered by
                # Spark's stateful-operator late-event predicate BEFORE
                # the operator and appear only in the query progress's
                # numRowsDroppedByWatermark. Sum both, deduped by
                # batchId across recentProgress snapshots.
                # cumulative sum keyed off the highest-seen batchId —
                # O(1) driver memory for perpetual queries, and a batch
                # is only ever added once (review r9: the previous
                # per-batch dict grew unboundedly)
                if self._stream_query is not None:
                    try:
                        # O(1) fast path: only sweep the (up to ~100
                        # entry) recentProgress list when lastProgress
                        # shows a batch we have not seen — interactive
                        # clients poll faster than the trigger fires
                        # (review r9)
                        last = self._stream_query.lastProgress
                        last_bid = -1 if last is None else last["batchId"]
                        seen = self._wm_seen_batch
                        if last_bid > seen:
                            # advance the seen mark to the max batch
                            # actually SUMMED, not to the (possibly
                            # stale) lastProgress snapshot — a batch
                            # completing between the two reads would
                            # otherwise be re-summed next poll
                            # (review r9)
                            newest = seen
                            for prog in self._stream_query.recentProgress:
                                bid = prog["batchId"]
                                if bid <= seen:
                                    continue
                                self._wm_dropped_cum += sum(
                                    so.get("numRowsDroppedByWatermark", 0)
                                    for so in prog.get("stateOperators", [])
                                )
                                newest = max(newest, bid)
                            self._wm_seen_batch = newest
                    except Exception:  # noqa: BLE001 — metrics are best-effort
                        pass
                page["lateDropped"] = self._late_acc.value + self._wm_dropped_cum
            return page
        start = token * PAGE_SIZE
        self._pull_until(start + PAGE_SIZE)
        if start < self._row_offset:
            raise ValueError(
                f"result page {token} was evicted (retention window "
                f"{RETAIN_ROWS} rows); batch results are fetched "
                "forward like the reference's token-paged loop"
            )
        lo = start - self._row_offset
        rows = self._rows[lo : lo + PAGE_SIZE]
        return {
            "columns": self._columns,
            "data": rows,
            "resultType": PAYLOAD if rows else EOS,
            "isQueryResult": self.is_query_result,
            "nextResultToken": token + 1,
            "isStreaming": False,
            "jobID": self.job_id,
        }

    def _pull_until(self, n_abs: int) -> None:
        """Advance the lazy batch iterator until ``n_abs`` rows have
        been produced in total (or it is exhausted), evicting rows that
        fall out of the replay window."""
        it = self._row_iter
        if it is None:
            return
        try:
            while self._row_offset + len(self._rows) < n_abs:
                self._rows.append(list(next(it)))
        except StopIteration:
            self._row_iter = None
        overflow = len(self._rows) - RETAIN_ROWS
        if overflow > 0:
            del self._rows[:overflow]
            self._row_offset += overflow

    def result_rows(self) -> list[list[Any]]:
        """Drain the whole result into memory (test/driver convenience
        — production clients should page via ``fetch``)."""
        rows: list[list[Any]] = []
        token = 0
        while True:
            page = self.fetch(token)
            rows.extend(page["data"])
            if page["resultType"] != PAYLOAD or not page["data"]:
                return rows
            token = page["nextResultToken"]

    def cancel(self) -> None:
        """Best-effort, idempotent (reference tolerates every state)."""
        for v in self._temp_views:
            try:
                self.session.spark.catalog.dropTempView(v)
            except Exception:  # noqa: BLE001
                pass
        self._temp_views = []
        if self._stream_query is not None:
            try:
                if self._stream_query.isActive:
                    self._stream_query.stop()
            except Exception:  # noqa: BLE001
                pass
            self._stream_buffer.finish(None)
        if self._row_iter is not None:
            # release the lazy batch iterator's socket + any in-flight
            # prefetch job instead of waiting for GC
            try:
                self._row_iter.close()  # Py4J local iterator supports close
            except Exception:  # noqa: BLE001 — not all iterators have close
                pass
            self._row_iter = None
        self.status = "CANCELED"


# -- statement dispatch --------------------------------------------------
#
# Every handler takes (op, stmt) — stmt stripped of leading comments and
# the trailing ';' — and answers (columns, rows), or None to pass the
# statement on. A handler that starts a job or a stream records it on op.


def _compile_plan(op: Operation, stmt: str) -> tuple[Cols, Rows] | None:
    if re.match(r"(?is)^COMPILE\s", stmt):
        raise NotImplementedError("COMPILE PLAN is Flink-specific and out of scope")
    return None


def _row_dml(op: Operation, stmt: str) -> tuple[Cols, Rows] | None:
    """UPDATE / DELETE / MERGE: copy-on-write on filesystem tables,
    typed rejection elsewhere (sources/dml.py)."""
    if not re.match(r"(?is)^(UPDATE|DELETE|MERGE)\s", stmt):
        return None
    from flink_sql_toolkit_spark.sources.dml import try_execute_dml  # noqa: PLC0415

    return try_execute_dml(op.session, stmt)


def _on_session(handler):
    """A session-level command handler (commands.py, catalogs.py) in
    the dispatch signature."""
    return lambda op, stmt: handler(op.session, stmt)


def _ctas(op: Operation, stmt: str) -> tuple[Cols, Rows] | None:
    """CREATE TABLE … WITH (…) AS <query> (Flink 1.16 CTAS,
    FLIP-218): derive the schema from the query, register the
    connector table, then run the INSERT — atomically enough for a
    gateway session (Flink's own CTAS is create-then-insert too).
    IF NOT EXISTS on an existing table skips BOTH steps (Flink's
    documented behavior); a batch query writes inline, a streaming
    query becomes a continuous INSERT job with a job id."""
    m = _CTAS_RE.match(stmt)
    if not m:
        return None
    sess = op.session
    name = m.group("name").strip("`")
    # an existing connector table, temp view, or catalog table all
    # count as "exists" — Flink raises rather than clobbering
    if name in sess.connector_tables or sess.spark.catalog.tableExists(name):
        if m.group("ine"):
            return OK
        raise ValueError(f"table '{name}' already exists")
    query = m.group("query").strip()
    df = sess.spark.sql(rewrite(query))
    bad = [f.name for f in df.schema.fields if not re.match(r"^\w+$", f.name)]
    if bad:
        raise ValueError(
            f"CTAS query produces unnamable column(s) {bad} — "
            "alias each expression (… AS col_name)"
        )
    cols = ", ".join(
        f"`{f.name}` {spark_type_to_flink(f.dataType)}"
        for f in df.schema.fields
    )
    tmp = "TEMPORARY " if m.group("tmp") else ""
    ddl = f"CREATE {tmp}TABLE `{name}` ({cols}) WITH ({m.group('opts')})"
    sess.register_connector_table(ddl)
    try:
        return _write(op, name, query, overwrite=False, query_df=df)
    except Exception:
        # a failed insert must not leave a half-created table behind
        sess.drop_connector_table(name)
        raise


def _create_like(op: Operation, stmt: str) -> tuple[Cols, Rows] | None:
    # a LIKE whose source is a Spark catalog table falls through to
    # Spark's own CREATE TABLE ... LIKE
    lm = matches_create_table_like(stmt + ";")
    if lm and lm.group("src").strip("`") in op.session.connector_tables:
        return op.session.register_like_table(stmt)
    return None


def _create_with(op: Operation, stmt: str) -> tuple[Cols, Rows] | None:
    if matches_create_table_with(stmt + ";"):
        return op.session.register_connector_table(stmt)
    return None


def _statement_set(op: Operation, stmt: str) -> tuple[Cols, Rows] | None:
    """Flink executes a STATEMENT SET as ONE job with one
    savepoint; here every INSERT is its own Spark query, so the
    set lays its statements' checkpoints out DETERMINISTICALLY
    under one root — ``<root>/set-<i>`` in textual order. With
    ``execution.savepoint.path`` set, the same derivation resumes
    statement i from ``<path>/set-<i>``: SET the savepoint path to
    the PARENT directory any set job's STOP JOB … WITH SAVEPOINT
    returned, resubmit the identical set, and every member
    resumes exactly-once (r13; Flink stop-with-savepoint → resume
    contract for sets). A single flat path can't resume a
    multi-job set — two active queries must never share one
    checkpoint dir."""
    if not re.match(r"(?is)^(BEGIN\s+STATEMENT\s+SET|EXECUTE\s+STATEMENT\s+SET)", stmt):
        return None
    sess = op.session
    inner = re.sub(r"(?is)^BEGIN\s+STATEMENT\s+SET\s*;", "", stmt)
    inner = re.sub(r"(?is)^EXECUTE\s+STATEMENT\s+SET\s*", "", inner)
    inner = re.sub(r"(?is)\bEND\s*;?\s*$", "", inner).strip()
    job_ids = []
    root = sess.flink_conf.get("execution.savepoint.path") or sess.new_checkpoint("stmt-set")
    # each member's derived path rides its Operation as an
    # explicit override — the session conf is never mutated, so a
    # concurrent INSERT on another thread can't adopt a set
    # member's checkpoint dir mid-set (ADVICE r13 #1)
    for i, sub in enumerate(split_statements(inner)):
        member_sp = f"{root}/set-{i}" if re.match(r"(?is)^\s*INSERT\s", sub) else None
        member = Operation(sess, sub, savepoint_path=member_sp).execute()
        if member.job_id:
            job_ids.append(member.job_id)
    return _c(("job id", "string")), [[j] for j in job_ids] or [["OK"]]


def _insert(op: Operation, stmt: str) -> tuple[Cols, Rows] | None:
    """INSERT INTO / OVERWRITE a connector table; an INSERT into a
    Spark catalog table takes the generic path."""
    m = re.match(r"(?is)^INSERT\s+(INTO|OVERWRITE)\s+([\w.`]+)\s*(\(.*?\))?\s+(SELECT.*|VALUES.*|TABLE.*)$", stmt)
    if not m or m.group(2).strip("`") not in op.session.connector_tables:
        return None
    cols = None
    if m.group(3):
        cols = [c.strip().strip("`") for c in m.group(3).strip("()").split(",")]
    return _write(
        op,
        m.group(2).strip("`"),
        m.group(4),
        overwrite=m.group(1).upper() == "OVERWRITE",
        columns=cols,
    )


def _session_view(op: Operation, stmt: str) -> tuple[Cols, Rows] | None:
    """Session-scoped view semantics: an unqualified CREATE VIEW in a
    gateway session is a session object → temp view (Spark refuses
    persistent views over temp relations)."""
    vm = re.match(r"(?is)^CREATE\s+(OR\s+REPLACE\s+)?(TEMPORARY\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w`]+)\s+AS\s+(.*)$", stmt)
    if not vm or "." in vm.group(4):
        return None
    op.session.spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {vm.group(4)} AS {rewrite(vm.group(5))}"
    )
    op.session.metadata.invalidate()
    return OK


def _drop(op: Operation, stmt: str) -> tuple[Cols, Rows] | None:
    """Unqualified DROP TABLE / VIEW: connector tables and session
    views are forgotten session-side; anything else is Spark's."""
    dm = re.match(r"(?is)^DROP\s+(TABLE|TEMPORARY\s+TABLE|VIEW|TEMPORARY\s+VIEW)\s+(IF\s+EXISTS\s+)?([\w`]+)\s*$", stmt)
    if not dm or "." in dm.group(3):
        return None
    sess = op.session
    name = dm.group(3).strip("`")
    was_connector = name in sess.connector_tables
    is_view_kw = "VIEW" in dm.group(1).upper()
    # kind mismatch is an error, as in Flink: DROP VIEW must
    # not destroy a TABLE and vice versa (review r11 — the
    # keyword was captured but never consulted). Check BEFORE
    # any mutation; session views are the temp views NOT in
    # the connector registry.
    if was_connector and is_view_kw:
        raise ValueError(f"'{name}' is a table, not a view — use DROP TABLE")
    if not was_connector and not is_view_kw:
        # targeted lookup, not listTables(): the kind check must not
        # pay an O(catalog) metastore scan per DROP (ADVICE r11)
        try:
            kind = sess.spark.catalog.getTable(name).tableType
        except Exception:
            kind = None  # absent → the not-found path below decides
        if kind in ("TEMPORARY", "VIEW"):
            raise ValueError(f"'{name}' is a view, not a table — use DROP VIEW")
    # an UNREADABLE connector table (e.g. filesystem path not yet
    # written) has no temp view, yet it exists (r11 lifecycle fuzz)
    if not sess.drop_connector_table(name) and not dm.group(2):
        try:
            sess.spark.sql(rewrite(stmt)).collect()
        except Exception as e:
            # map only genuine not-found errors (_is_table_not_found)
            # to LookupError; anything else (e.g. Spark's own
            # kind-mismatch on a persistent table:
            # WRONG_COMMAND_FOR_OBJECT_TYPE) must surface its real
            # cause (ADVICE r11, r12)
            if _is_table_not_found(e):
                raise LookupError(f"table or view '{name}' not found") from None
            raise
    return OK


def _generic(op: Operation, stmt: str) -> tuple[Cols, Rows]:
    """Everything else: the dialect rewrite + ``spark.sql``. Always
    answers, so it is the table's last entry."""
    sess = op.session
    routed = _route_match_recognize(sess, stmt)
    if routed is not stmt:
        # the operator's result views live as long as this operation
        op._temp_views += re.findall(r"\b_mr_out_\d+\b", routed)
        op._late_acc = routed.late_acc
    df = sess.spark.sql(rewrite(routed))
    # catalog-mutating statements taking this generic path (CREATE
    # TABLE/FUNCTION/DATABASE, qualified DROPs, …) stale the
    # metadata cache — drop it wholesale, like the reference's
    # full refresh (catalogProvider.ts:49-50)
    if re.match(r"(?is)^(CREATE|DROP|ALTER)\s", stmt):
        sess.metadata.invalidate()
    if df.isStreaming:
        op._start_stream_select(df)
        return op._columns, []
    op.is_query_result = bool(df.schema.fields)
    # Lazy token-paged fetch (src/flinkClient.ts:154-172): rows are
    # pulled partition-by-partition as the client pages, never
    # collected wholesale — a full-table SELECT at 100 TB streams
    # through the driver instead of OOMing it. prefetchPartitions
    # keeps the next partition in flight so sequential paging does
    # not stall between partitions.
    op._row_iter = df.toLocalIterator(prefetchPartitions=True)
    return _c(*((f.name, f.dataType.simpleString()) for f in df.schema.fields)), []


def _write(
    op: Operation,
    target: str,
    query: str,
    *,
    overwrite: bool,
    columns: list[str] | None = None,
    query_df: "DataFrame | None" = None,
) -> tuple[Cols, Rows]:
    """Run ``query`` into connector table ``target``: a streaming
    query becomes a continuous job (its id is the result), a batch
    query writes inline."""
    sess = op.session
    table = sess.connector_tables[target]

    def _map_columns(frame: "DataFrame") -> "DataFrame":
        if not columns:
            return frame
        # explicit column list: map SELECT output positionally onto
        # the declared columns, NULL-fill the rest — Flink/ANSI
        # INSERT INTO t (b, a) semantics (previously the list was
        # silently ignored → positional misalignment)
        from pyspark.sql import functions as F  # noqa: PLC0415

        declared = {c.name: c.spark_type for c in table.columns}
        unknown = [c for c in columns if c not in declared]
        if unknown:
            raise ValueError(
                f"INSERT column list names unknown column(s) {unknown} "
                f"for table '{target}'"
            )
        if len(set(columns)) != len(columns):
            raise ValueError("INSERT column list has duplicate columns")
        if len(columns) != len(frame.columns):
            raise ValueError(
                f"INSERT column list has {len(columns)} column(s) but the "
                f"query produces {len(frame.columns)}"
            )
        by_name = frame.select(
            *[frame[frame.columns[i]].alias(c) for i, c in enumerate(columns)]
        )
        return by_name.select(
            *[
                (F.col(c) if c in columns else F.lit(None)).cast(ty).alias(c)
                for c, ty in declared.items()
            ]
        )

    # MATCH_RECOGNIZE inside an INSERT query: same routing as the
    # SELECT path (no Spark SQL equivalent — the CEP operator runs
    # as a DataFrame op behind a temp view). Flink writes MR
    # results into sinks (INSERT INTO s SELECT … FROM t
    # MATCH_RECOGNIZE(…)); previously only interactive SELECTs
    # routed (r13). The view must outlive this operation — the
    # continuous job reads through it — so it is session-scoped,
    # not tracked for cancel-time drop like interactive ones.
    if query_df is None:
        query = _route_match_recognize(sess, query)
    # CTAS already analyzed the query for schema derivation — reuse
    # that DataFrame instead of paying rewrite+analysis twice
    df = _map_columns(
        query_df if query_df is not None else sess.spark.sql(rewrite(query))
    )
    name = sess.flink_conf.get("pipeline.name", f"insert-{target}")
    # SET 'execution.savepoint.path' = <path from STOP JOB … WITH
    # SAVEPOINT> resumes the job from that checkpoint — Flink's
    # own resume mechanism ("Resuming from Savepoints"): the file
    # source's seen-files log and every stateful operator's state
    # store recover, so restarted jobs are exactly-once instead of
    # re-reading the world. Like Flink, the option applies to
    # every subsequent job until RESET — resuming two DIFFERENT
    # statements from one path is user error there and here.
    # A statement set threads each member's derived path in as an
    # operation-scoped override instead (never via session conf).
    sp = op._savepoint_override or sess.flink_conf.get("execution.savepoint.path")
    if sp:
        # two ACTIVE queries sharing one checkpoint dir corrupt
        # each other's offset/commit logs (Spark doesn't lock
        # checkpoint locations). Flink's statement set is ONE job
        # per savepoint; here every INSERT is its own job, so a
        # second submission while the resumed job still runs is a
        # typed error, not silent state corruption.
        for j in sess.jobs.list():
            if j.checkpoint == sp and j.status == "RUNNING":
                raise ValueError(
                    f"execution.savepoint.path {sp!r} is already in "
                    f"use by running job {j.job_id} — RESET "
                    "'execution.savepoint.path' before submitting "
                    "further jobs"
                )
    ckpt = sp or sess.new_checkpoint(name)

    def _start(frame: DataFrame):
        return build_writer(
            frame,
            table,
            query_name=name,
            checkpoint=ckpt,
            trigger_interval=sess.trigger_interval(),
            overwrite=overwrite,
        )

    try:
        q = _start(df)
    except AnalysisException as e:
        # Streaming window-TVF aggregation into an APPEND sink:
        # the default TVF rewrite groups by the extracted
        # window_start column, which Spark's append-mode checker
        # does not recognize as a windowed aggregation ("append …
        # not supported … without watermark"). Retry once with the
        # struct-keeping rewrite (GROUP BY gains the window()
        # struct — identical groups, append-legal). Only for the
        # raw-query path: CTAS frames were already analyzed.
        cond = _error_condition(e)
        retriable = (
            cond.startswith("STREAMING_OUTPUT_MODE")
            or "without watermark" in str(e)
        )
        if not (
            retriable
            and query_df is None
            and re.search(r"(?is)TABLE\s*\(\s*(TUMBLE|HOP|CUMULATE)\s*\(", query)
        ):
            raise
        q = _start(_map_columns(sess.spark.sql(rewrite(query, tvf_group_struct=True))))
    if q is not None:
        op.job_id = sess.jobs.register(q, name, checkpoint=ckpt).job_id
        return _c(("job id", "string")), [[op.job_id]]
    # batch write completed inline: refresh cached file listings
    # so subsequent reads through the connector view see it
    if "path" in table.options:
        sess.spark.catalog.refreshByPath(table.options["path"])
    sess.refresh_connector_views()
    return OK


def _route_match_recognize(sess: "EngineSession", sql: str) -> str:
    """MATCH_RECOGNIZE has no Spark SQL equivalent: the CEP operator
    runs as a DataFrame op behind a temp view and the statement is
    rewritten to read it (dialect/mr_sql.py). ``sql`` itself comes back
    when it has no MATCH_RECOGNIZE clause."""
    if not re.search(r"(?is)\bMATCH_RECOGNIZE\s*\(", sql):
        return sql
    from flink_sql_toolkit_spark.dialect.mr_sql import (  # noqa: PLC0415
        rewrite_match_recognize_sql,
    )

    return rewrite_match_recognize_sql(sess.spark, sql, ttl_ms=sess.state_ttl_ms())


_DISPATCH = (
    _compile_plan,
    _row_dml,
    *map(_on_session, (
        commands.handle_set, commands.handle_reset, commands.handle_show,
        commands.handle_describe, commands.handle_use, commands.handle_jobs_admin,
        handle_catalog_ddl, commands.handle_alter, commands.handle_explain,
    )),
    _ctas, _create_like, _create_with, _statement_set,
    _insert, _session_view, _drop, _generic,
)


class EngineSession:
    """≙ gateway sessionHandle over an isolated SparkSession."""

    def __init__(self, engine: "Engine", name: str, spark: SparkSession):
        self.engine = engine
        self.name = name
        self.handle = str(uuid.uuid4())
        # newSession(): shared SparkContext/cache, isolated temp views,
        # UDFs and SQL conf — exactly Flink's per-session catalog scope
        self.spark = spark.newSession()
        self.flink_conf: dict[str, str] = {}
        self.connector_tables: dict[str, ConnectorTable] = {}
        self.connector_ddl: dict[str, str] = {}
        self.jobs = JobRegistry()
        # DDL-created catalogs are emulated session-side (Spark cannot
        # load catalog plugins at runtime) — catalogs.py module doc
        self.emulated_catalogs = CatalogRegistry()
        self.modules = ["core"]
        self.jars: list[str] = []
        self.operations: dict[str, Operation] = {}
        self.checkpoint_root = tempfile.mkdtemp(prefix=f"fstk-{name}-")
        # TTL-cached metadata listings with in-flight dedup
        # (src/catalogProvider.ts:349-377); SHOW/DESCRIBE and the
        # completion API read through this, DDL invalidates it
        from flink_sql_toolkit_spark.metadata import CatalogMetadata  # noqa: PLC0415

        self.metadata = CatalogMetadata(self)
        register_function_shims(self.spark)
        # runtime SQL conf — newSession() may not inherit builder confs
        # when the caller supplied its own base session
        from flink_sql_toolkit_spark.compat import ensure_time_type  # noqa: PLC0415

        ensure_time_type(self.spark)

    def completions(self, sql_text: str, line_prefix: str | None = None):
        """Completion items at a cursor position — the engine analogue
        of the reference's completion provider
        (src/completionProvider.ts:69-99)."""
        from flink_sql_toolkit_spark.metadata import completions  # noqa: PLC0415

        return completions(self, sql_text, line_prefix)

    # -- statement lifecycle -----------------------------------------

    @property
    def runtime_mode(self) -> str:
        """Flink defaults to streaming (SET 'execution.runtime-mode')."""
        return self.flink_conf.get("execution.runtime-mode", "streaming")

    def execute_statement(self, statement: str) -> Operation:
        op = Operation(self, statement)
        self.operations[op.handle] = op
        mode_before = self.runtime_mode
        op.execute()
        self._after_statement(mode_before)
        return op

    def _after_statement(self, mode_before: str) -> None:
        # switching batch/streaming re-registers connector views in
        # the new mode (Flink re-plans per mode the same way). Must
        # run on BOTH execution paths: the async gateway path used to
        # skip it, so a mode flip over the wire silently left every
        # existing table registered in the old mode (found by the r11
        # node conformance harness driving the reference client's
        # statement sequence). Triggered by comparing the EFFECTIVE
        # mode before/after execution rather than regex-matching the
        # statement (review r11 pass 10: the regexes missed
        # comment-prefixed and multi-semicolon spellings that the
        # SET/RESET handlers themselves accept, and RESET flips the
        # mode too — mode-change detection covers every spelling and
        # never refreshes spuriously).
        if self.runtime_mode != mode_before:
            self.refresh_connector_views()

    def submit_statement(self, statement: str) -> Operation:
        """Async submit: returns the handle immediately; ``fetch``
        answers NOT_READY until execution completes — the reference's
        readiness-poll contract (src/notebookController.ts:122-140)."""
        op = Operation(self, statement)
        self.operations[op.handle] = op
        op.status = "RUNNING"
        op.ready.clear()

        def run() -> None:
            try:
                mode_before = self.runtime_mode
                op._execute()
                # before the client can observe completion: a client
                # that saw this SET reach EOS must find the views
                # already re-registered when its next statement runs
                self._after_statement(mode_before)
                if op.status == "RUNNING" and op._stream_buffer is None:
                    op.status = "FINISHED"
            except Exception as e:  # noqa: BLE001
                op.status = "ERROR"
                op.error = e
            finally:
                op.ready.set()

        threading.Thread(target=run, daemon=True).start()
        return op

    def execute_script(self, script: str) -> list[Operation]:
        return [self.execute_statement(s) for s in split_statements(script)]

    # -- connector tables --------------------------------------------

    def register_connector_table(self, stmt: str):
        table = parse_create_table(stmt + ";")
        if table.name in self.connector_tables and table.if_not_exists:
            return OK
        key_fmt = table.options.get("key.format", "json")
        if table.connector in ("kafka", "upsert-kafka") and key_fmt != "json":
            # surface the limitation at CREATE TABLE, not first write
            # (ADVICE r11): Flink legitimately supports raw/csv/avro
            # keys on the plain kafka connector, but this engine's
            # sink always encodes keys as JSON of the PK columns and
            # the upsert reader only decodes json-keyed tombstones.
            # Reads still work (the key stays available as metadata),
            # so this warns rather than rejects read-only DDL; INSERT
            # INTO the table raises a typed error (kafka_writer_payload).
            logging.getLogger(__name__).warning(
                "table '%s' declares key.format=%r: this engine only "
                "implements JSON keys — INSERT INTO this table will be "
                "rejected, and upsert-kafka tombstone deletes will not "
                "be decoded. Reads are unaffected.",
                table.name,
                key_fmt,
            )
        self.connector_tables[table.name] = table
        self.connector_ddl[table.name] = stmt
        db = self.emulated_catalogs.current_database()
        if db is not None:  # scope the browse tree, not SQL resolution
            db.tables.add(table.name)
        self._register_view(table)
        # per-node refresh (catalogProvider.ts:248-260): only listings
        # and this table's columns go stale
        self.metadata.invalidate("tables")
        self.metadata.invalidate("views")
        self.metadata.invalidate_table(table.name)
        return OK

    def register_like_table(self, stmt: str):
        """``CREATE TABLE new … LIKE src (like_options)`` (Flink table
        DDL): merge the source connector table per the INCLUDING/
        EXCLUDING/OVERWRITING options (ddl.merge_like_table), then
        register the merged definition — SHOW CREATE TABLE shows the
        resolved form, as Flink's own LIKE expansion does."""
        from flink_sql_toolkit_spark.sources.ddl import (  # noqa: PLC0415
            _CREATE_LIKE_RE,
            merge_like_table,
            synthesize_ddl,
        )

        m = _CREATE_LIKE_RE.match(stmt + ";")
        name = m.group("name").strip("`")
        if name in self.connector_tables or self.spark.catalog.tableExists(name):
            if m.group("ine"):
                return OK
            raise ValueError(f"table '{name}' already exists")
        src_name = m.group("src").strip("`")
        src = self.connector_tables.get(src_name)
        if src is None:
            raise LookupError(
                f"LIKE source table '{src_name}' is not a connector table "
                f"in this session"
            )
        merged = merge_like_table(stmt + ";", src)
        return self.register_connector_table(synthesize_ddl(merged))

    def _register_view(self, table: ConnectorTable) -> None:
        """Register the connector's reader as a temp view so plain SQL
        sees it; mode follows 'execution.runtime-mode'."""
        from flink_sql_toolkit_spark.sources.connectors import (  # noqa: PLC0415
            is_streaming_connector,
        )

        try:
            streaming = (
                is_streaming_connector(table.connector) and self.runtime_mode == "streaming"
            )
            df = build_reader(self.spark, table, streaming=streaming)
            df.createOrReplaceTempView(table.name)
        except Exception as e:  # noqa: BLE001
            # write-only connectors (print/blackhole) have no reader;
            # external systems may be unreachable — the table stays
            # registered without a view, and a read fails as not found
            logger.debug("connector table %r has no reader: %s", table.name, e)

    def drop_connector_table(self, name: str) -> bool:
        """Forget ``name`` everywhere a drop must reach: the connector
        registry and its DDL, its temp view, and EVERY emulated
        catalog's browse set (the same name may be listed under several
        databases after re-CREATEs). DROP TABLE / VIEW, the CTAS
        rollback, DROP CATALOG and DROP DATABASE … CASCADE all forget a
        table through here. True iff a registry entry or a temp view
        existed."""
        existed = self.connector_tables.pop(name, None) is not None
        self.connector_ddl.pop(name, None)
        existed = self.spark.catalog.dropTempView(name) or existed
        for cat in self.emulated_catalogs.catalogs.values():
            for db in cat.databases.values():
                db.tables.discard(name)
        self.metadata.invalidate()
        return existed

    def refresh_connector_views(self) -> None:
        # snapshot: this now also runs on async submit worker threads
        # (_after_statement), where a concurrent CREATE TABLE on the
        # same session would otherwise blow up the iteration
        # (review r11)
        for table in list(self.connector_tables.values()):
            self._register_view(table)

    # -- conf-derived behaviors --------------------------------------

    def trigger_interval(self) -> str | None:
        iv = self.flink_conf.get("execution.checkpointing.interval")
        if iv is None:
            return None
        m = re.match(r"(\d+)\s*(ms|s|sec|min)?", iv)
        if not m:
            return None
        unit = {"ms": "milliseconds", "s": "seconds", "sec": "seconds", "min": "minutes"}.get(
            m.group(2) or "ms", "milliseconds"
        )
        return f"{m.group(1)} {unit}"

    def state_ttl_ms(self) -> int | None:
        """``table.exec.state.ttl`` as milliseconds (None = no TTL).

        Flink accepts a bare number (ms) or a duration with units; the
        stateful operators (streaming MATCH_RECOGNIZE / OVER) translate
        it to a per-key ProcessingTimeTimeout so idle keys are evicted
        — unbounded key cardinality must not grow state forever."""
        raw = self.flink_conf.get("table.exec.state.ttl")
        if not raw:
            return None
        # Flink TimeUtils label sets (singular/plural + short forms;
        # note bare 'm' = MINUTES, not millis). Compound spellings like
        # '1 h 30 min' sum; an unparseable token WARNS instead of
        # silently disabling TTL (ADVICE r6 — silent None was exactly
        # the unbounded-state failure TTL exists to prevent).
        factors = {
            **dict.fromkeys(["ns", "nano", "nanos", "nanosecond", "nanoseconds"], 1e-6),
            **dict.fromkeys(["us", "µs", "micro", "micros", "microsecond", "microseconds"], 1e-3),
            **dict.fromkeys(["ms", "milli", "millis", "millisecond", "milliseconds"], 1),
            **dict.fromkeys(["s", "sec", "secs", "second", "seconds"], 1000),
            **dict.fromkeys(["m", "min", "mins", "minute", "minutes"], 60_000),
            **dict.fromkeys(["h", "hour", "hours"], 3_600_000),
            **dict.fromkeys(["d", "day", "days"], 86_400_000),
        }
        total = 0.0
        pos, ok = 0, True
        for tok in re.finditer(r"(\d+)\s*([a-zA-Zµ]*)\s*", raw.strip()):
            if tok.start() != pos:
                ok = False
                break
            pos = tok.end()
            unit = tok.group(2).lower() or "ms"
            if unit not in factors:
                ok = False
                break
            total += int(tok.group(1)) * factors[unit]
        if not ok or pos != len(raw.strip()):
            logger.warning(
                "table.exec.state.ttl=%r is not a recognized Flink "
                "duration — TTL DISABLED (state for idle keys will "
                "not be evicted)", raw,
            )
            return None
        # 0 = Flink's 'never expire' default; a positive sub-ms TTL
        # rounds UP to the 1 ms timeout granularity rather than
        # silently disabling eviction
        return int(total) or (1 if total > 0 else None)

    def new_checkpoint(self, name: str) -> str:
        return f"{self.checkpoint_root}/{name}-{uuid.uuid4().hex[:8]}"

    def close(self) -> None:
        for op in self.operations.values():
            if op.status == "RUNNING":
                op.cancel()
        for job in self.jobs.list():
            try:
                self.jobs.stop(job.job_id)
            except Exception:  # noqa: BLE001
                pass


class Engine:
    """≙ the SQL Gateway: session registry with auto-recovery."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sessions: dict[str, EngineSession] = {}

    def open_session(self, name: str = "default") -> EngineSession:
        sess = EngineSession(self, name, self.spark)
        self.sessions[sess.handle] = sess
        return sess

    def get_session(self, handle: str) -> EngineSession:
        """Invalid handle → auto-recover a fresh 'default' session,
        mirroring src/sessionManager.ts:257-288."""
        sess = self.sessions.get(handle)
        if sess is None:
            return self.open_session("default")
        return sess

    def close_session(self, handle: str) -> None:
        sess = self.sessions.pop(handle, None)
        if sess is not None:
            sess.close()

    def cluster_overview(self) -> dict:
        """Cluster + "TaskManager" snapshot — the engine analogue of
        the reference's jobs/overview + taskmanagers polling
        (src/taskManagersProvider.ts:64-105, src/statusBar.ts:21-45):
        Spark executors stand in for TaskManagers, cores for slots.
        Driver-side metadata only (status tracker), no job run."""
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().statusTracker().getExecutorInfos()  # noqa: SLF001
        taskmanagers = []
        running_tasks = 0
        for i in infos:
            n_tasks = i.numRunningTasks()
            running_tasks += n_tasks
            taskmanagers.append(
                {
                    "host": i.host(),
                    "port": i.port(),
                    "numRunningTasks": n_tasks,
                    "cacheSize": i.cacheSize(),
                }
            )
        slots_total = sc.defaultParallelism
        jobs_running = sum(
            1
            # snapshot: the gateway's handler threads mutate sessions
            # concurrently with this status poll (review r10)
            for sess in list(self.sessions.values())
            for j in sess.jobs.list()
            if j.status == "RUNNING"
        )
        return {
            "taskmanagers": taskmanagers,
            "slots_total": slots_total,
            "slots_available": max(0, slots_total - running_tasks),
            "jobs_running": jobs_running,
        }

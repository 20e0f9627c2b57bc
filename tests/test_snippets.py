"""Conformance: every canonical template the reference ships
(snippets/flink.code-snippets — the 6 statement templates a user
inserts verbatim) executes through the engine with its placeholder
defaults expanded."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from flink_sql_toolkit_spark.engine import Engine

SNIPPETS = Path("/root/reference/snippets/flink.code-snippets")

if not SNIPPETS.is_file():
    # the parametrize below reads the file at collection time, so a
    # skipif mark would come too late
    pytest.skip(f"reference snippets absent: {SNIPPETS}", allow_module_level=True)

_PLACEHOLDER = re.compile(r"\$\{\d+:?([^}]*)\}")


def _expand(body: list[str]) -> str:
    return _PLACEHOLDER.sub(lambda m: m.group(1), "\n".join(body))


@pytest.fixture(scope="module")
def snippet_session(spark):
    engine = Engine(spark)
    sess = engine.open_session("snippets")
    # the SELECT/INSERT templates reference `source_table` /
    # `target_table` by default — provide corpus-shaped fixtures
    sess.spark.range(100).selectExpr(
        "CAST(id AS STRING) AS key",
        "timestamp_micros(CAST(1700000000000000 + id * 60000000 AS BIGINT)) AS row_time",
    ).createOrReplaceTempView("source_table")
    sess.execute_statement(
        "CREATE TABLE target_table (key STRING, row_time TIMESTAMP(3)) "
        "WITH ('connector'='blackhole')"
    )
    yield sess
    sess.close()


def _snippets() -> list[tuple[str, str]]:
    data = json.loads(SNIPPETS.read_text())
    return [(name, _expand(entry["body"])) for name, entry in data.items()]


@pytest.mark.parametrize(("name", "sql"), _snippets(), ids=[n for n, _ in _snippets()])
def test_snippet_executes(snippet_session, name, sql):
    for stmt in (s.strip() for s in sql.split(";") if s.strip()):
        op = snippet_session.execute_statement(stmt)
        if op.job_id:  # continuous INSERT — stop it right away
            snippet_session.jobs.stop(op.job_id)

"""The ``notebook_sf01`` statement deck and its correctness checks.

A deck is one notebook session over the sf0.1 fixtures in batch
runtime mode: SHOW/DESCRIBE/complete-statement, SQL forms of TPC-H
q1/q3/q5/q6/q10/q14/q18 (each twice, with two parameter sets), the
TUMBLE/HOP/CUMULATE table functions, Flink function shims, one result
of 20+ pages, and writes (INSERT INTO a filesystem table, copy-on-write
DELETE or UPDATE, CREATE/DROP VIEW), each write followed by a read that
checks it. Every read result is compared with DuckDB over the same
parquet files. The deck runs against any executor with ``stmt(kind,
sql)`` and ``complete(statement)``: the gateway client here, the
engine in-process in ``inproc.py``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem", "events")
SINK = "nb_sink"
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DECK_SEED = 7
_FLINK_TYPES = {"int64": "BIGINT", "int32": "INT", "double": "DOUBLE", "float": "FLOAT",
                "string": "STRING", "timestamp[us]": "TIMESTAMP(6)"}


class CheckError(AssertionError):
    """A statement returned a wrong result."""


def ddl(name: str, path: str) -> str:
    """CREATE TABLE for a parquet fixture, typed from its own schema."""
    cols = ", ".join(
        f"`{f.name}` {_FLINK_TYPES[str(f.type)]}" for f in pq.read_schema(path)
    )
    return f"CREATE TABLE {name} ({cols}) WITH ('connector'='filesystem', 'path'='{path}', 'format'='parquet')"


def setup_statements(fixture_dir: str, sink_dir: str) -> list[str]:
    return [
        "SET 'execution.runtime-mode' = 'batch'",
        *(ddl(t, f"{fixture_dir}/{t}.parquet") for t in TABLES),
        f"CREATE TABLE {SINK} (event_type STRING, user_id BIGINT, n BIGINT) "
        f"WITH ('connector'='filesystem', 'path'='{sink_dir}', 'format'='parquet')",
    ]


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def _close(a, b) -> bool:
    if isinstance(a, str) and isinstance(b, (int, float)) or isinstance(b, str) and isinstance(a, (int, float)):
        try:
            a, b = float(a), float(b)
        except ValueError:
            return False
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _sort_key(row):
    return tuple((0, round(v, 6)) if isinstance(v, float) else (1, str(v)) for v in row)


def same_rows(got: list[list], want: list[tuple], ordered: bool = False) -> None:
    got = [[_norm(v) for v in r] for r in got]
    want = [[_norm(v) for v in r] for r in want]
    if len(got) != len(want):
        raise CheckError(f"{len(got)} rows, expected {len(want)}")
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_close(a, b) for a, b in zip(g, w)):
            raise CheckError(f"row {g} != expected {w}")


class Oracle:
    """DuckDB over the same parquet files, plus the expected contents of
    the notebook's sink table, which only the engine writes."""

    def __init__(self, fixture_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
        self.sink: list[tuple] = []

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


REV = "l_extendedprice * (1 - l_discount)"


def tpch_ops(rng: np.random.Generator) -> list[tuple[str, str, str, bool]]:
    """(kind, flink sql, duckdb sql, ordered) for the seven TPC-H forms."""
    out = []
    d = dt.date(1998, 12, 1) - dt.timedelta(days=int(rng.integers(60, 121)))
    q1 = (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, SUM(l_extendedprice) AS sum_base_price, "
        f"SUM({REV}) AS sum_disc_price, SUM({REV} * (1 + l_tax)) AS sum_charge, "
        "AVG(l_quantity) AS avg_qty, AVG(l_discount) AS avg_disc, COUNT(*) AS count_order FROM lineitem "
        f"WHERE l_shipdate <= {_ts(d)} GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    )
    out.append(("q1", q1, q1, True))
    seg = SEGMENTS[int(rng.integers(0, 5))]
    d = dt.date(1995, 3, 1) + dt.timedelta(days=int(rng.integers(0, 1100)))
    q3 = (
        f"SELECT l_orderkey, SUM({REV}) AS revenue, o_orderdate, o_orderpriority FROM customer "
        "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE c_mktsegment = '{seg}' AND o_orderdate < {_ts(d)} AND l_shipdate > {_ts(d)} "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
    )
    out.append(("q3", q3, q3, False))
    region, y = REGIONS[int(rng.integers(0, 5))], int(rng.integers(1995, 2001))
    q5 = (
        f"SELECT n_name, SUM({REV}) AS revenue FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        f"WHERE r_name = '{region}' AND o_orderdate >= {_ts(dt.date(y, 1, 1))} AND o_orderdate < {_ts(dt.date(y + 1, 1, 1))} "
        "GROUP BY n_name ORDER BY revenue DESC"
    )
    out.append(("q5", q5, q5, False))
    y, disc, qty = int(rng.integers(1995, 2001)), int(rng.integers(2, 10)), int(rng.integers(24, 26))
    q6 = (
        f"SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem WHERE l_shipdate >= {_ts(dt.date(y, 1, 1))} "
        f"AND l_shipdate < {_ts(dt.date(y + 1, 1, 1))} AND l_discount BETWEEN {disc - 1}.0 / 100 AND {disc + 1}.0 / 100 "
        f"AND l_quantity < {qty}"
    )
    out.append(("q6", q6, q6, True))
    start = dt.date(int(rng.integers(1995, 2001)), 1 + 3 * int(rng.integers(0, 4)), 1)
    end = dt.date(start.year + (start.month == 10), (start.month + 2) % 12 + 1, 1)
    q10 = (
        f"SELECT c_custkey, c_name, SUM({REV}) AS revenue, c_acctbal, n_name FROM customer "
        "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE o_orderdate >= {_ts(start)} AND o_orderdate < {_ts(end)} AND l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name ORDER BY revenue DESC, c_custkey LIMIT 20"
    )
    out.append(("q10", q10, q10, False))
    m = dt.date(int(rng.integers(1995, 2001)), int(rng.integers(1, 13)), 1)
    m2 = dt.date(m.year + (m.month == 12), m.month % 12 + 1, 1)
    q14 = (
        f"SELECT 100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN {REV} ELSE 0.0 END) / SUM({REV}) AS promo_revenue "
        f"FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_shipdate >= {_ts(m)} AND l_shipdate < {_ts(m2)}"
    )
    out.append(("q14", q14, q14, True))
    t = int(rng.integers(200, 241))
    q18 = (
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, SUM(l_quantity) AS total_qty FROM customer "
        "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderkey IN "
        f"(SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > {t}) "
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"
    )
    out.append(("q18", q18, q18, True))
    return out


def window_ops(rng: np.random.Generator) -> list[tuple[str, str, str, bool]]:
    """TUMBLE/HOP/CUMULATE and Flink function shims over ``events``."""
    m = (15, 30, 60)[int(rng.integers(0, 3))]
    tumble = (
        "SELECT window_start, window_end, event_type, COUNT(*) AS n, SUM(`value`) AS total FROM "
        f"TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '{m}' MINUTE)) GROUP BY window_start, window_end, event_type"
    )
    tumble_d = (
        f"SELECT time_bucket(INTERVAL '{m} minutes', ts) AS ws, ws + INTERVAL '{m} minutes', event_type, COUNT(*), "
        "SUM(value) FROM events GROUP BY ALL"
    )
    size = (2, 3, 4)[int(rng.integers(0, 3))]
    hop = (
        "SELECT window_start, window_end, COUNT(*) AS n FROM "
        f"TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '{size}' HOUR)) GROUP BY window_start, window_end"
    )
    hop_d = (
        f"SELECT ws, ws + INTERVAL '{size} hours', COUNT(*) FROM (SELECT time_bucket(INTERVAL '1 hour', ts) "
        f"- to_hours(k) AS ws FROM events, range(0, {size}) r(k)) GROUP BY ws"
    )
    step = (2, 4, 6)[int(rng.integers(0, 3))]
    cumulate = (
        "SELECT window_start, window_end, COUNT(*) AS n FROM "
        f"TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '{step}' HOUR, INTERVAL '1' DAY)) "
        "GROUP BY window_start, window_end"
    )
    cumulate_d = (
        f"SELECT ws, ws + to_hours(j * {step}), COUNT(*) FROM (SELECT time_bucket(INTERVAL '1 day', ts) AS ws, ts "
        f"FROM events), range(1, {24 // step + 1}) r(j) WHERE ts < ws + to_hours(j * {step}) GROUP BY ALL"
    )
    u = int(rng.integers(100, 1000))
    shims = (
        "SELECT event_type, DATE_FORMAT(ts, 'yyyy-MM-dd') AS d, COUNT(*) AS n, MAX(CHAR_LENGTH(props)) AS ml, "
        f"MIN(SPLIT_INDEX(props, ':', 1)) AS k FROM events WHERE user_id < {u} GROUP BY event_type, DATE_FORMAT(ts, 'yyyy-MM-dd')"
    )
    shims_d = (
        "SELECT event_type, strftime(ts, '%Y-%m-%d'), COUNT(*), MAX(length(props)), MIN(split_part(props, ':', 2)) "
        f"FROM events WHERE user_id < {u} GROUP BY ALL"
    )
    return [("tumble", tumble, tumble_d, False), ("hop", hop, hop_d, False),
            ("cumulate", cumulate, cumulate_d, False), ("shims", shims, shims_d, False)]


def build_deck(seed: int, deck_no: int) -> list[tuple]:
    """One deck of operations: parameters fixed by the deck number, order
    shuffled by (seed, deck number).

    Every run executes the same statements, so a seed changes which
    statement meets a cold or a warm engine, not how much work the deck
    holds. Each entry is ``(kind, payload)``: a read is ``(flink, duckdb,
    ordered)``, a write carries its own parameters."""
    rng = np.random.default_rng([DECK_SEED, deck_no])
    ops: list[tuple] = []
    for _copy in range(2):
        ops += [(k, (f, d, o)) for k, f, d, o in tpch_ops(rng)]
    ops += [(k, (f, d, o)) for k, f, d, o in window_ops(rng)]
    lo = int(rng.integers(0, 140_000))
    wide = (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice FROM lineitem "
        f"WHERE l_orderkey >= {lo} AND l_orderkey < {lo + 6000}"
    )
    ops.append(("wide", (wide, wide, False)))
    ops.append(("show_tables", None))
    ops.append(("describe", TABLES[int(rng.integers(0, len(TABLES)))]))
    ops.append(("complete", None))
    users = int(rng.integers(0, 1400))
    ops.append(("insert", users))
    ops.append(("delete" if deck_no % 2 else "update", EVENT_TYPES[int(rng.integers(0, 5))]))
    ops.append(("view", int(rng.integers(0, 1000))))
    order = np.random.default_rng([seed, deck_no]).permutation(len(ops))
    return [ops[i] for i in order]


def run_op(ex, oracle: Oracle, op: tuple, tag: str) -> None:
    """Execute one deck entry through ``ex`` and check what it returned.

    ``ex.stmt(kind, sql)`` returns the result rows; ``ex.complete(text)``
    returns completion candidates. ``tag`` makes view names unique."""
    kind, arg = op
    if kind == "show_tables":
        got = {r[0] for r in ex.stmt("show_tables", "SHOW TABLES")}
        if not set(TABLES) | {SINK} <= got:
            raise CheckError(f"SHOW TABLES is missing {set(TABLES) | {SINK} - got}")
    elif kind == "describe":
        got = [r[0] for r in ex.stmt("describe", f"DESCRIBE {arg}")]
        want = [r[0] for r in oracle.rows(f"DESCRIBE {arg}")]
        if got != want:
            raise CheckError(f"DESCRIBE {arg}: {got} != {want}")
    elif kind == "complete":
        got = ex.complete("SELECT l_ship FROM lineitem")
        if "l_shipdate" not in got:
            raise CheckError(f"completion misses l_shipdate: {got[:10]}")
    elif kind == "insert":
        sel = (
            "SELECT event_type, user_id, COUNT(*) AS n FROM events "
            f"WHERE user_id >= {arg} AND user_id < {arg + 10} GROUP BY event_type, user_id"
        )
        ex.stmt("insert", f"INSERT INTO {SINK} {sel}")
        oracle.sink += oracle.rows(sel)
        _check_sink(ex, oracle)
    elif kind == "delete":
        ex.stmt("delete", f"DELETE FROM {SINK} WHERE event_type = '{arg}'")
        oracle.sink = [r for r in oracle.sink if r[0] != arg]
        _check_sink(ex, oracle)
    elif kind == "update":
        ex.stmt("update", f"UPDATE {SINK} SET n = n + 1 WHERE event_type = '{arg}'")
        oracle.sink = [(a, b, c + 1) if a == arg else (a, b, c) for a, b, c in oracle.sink]
        _check_sink(ex, oracle)
    elif kind == "view":
        name = f"nb_view_{tag}"
        ex.stmt("create_view", f"CREATE VIEW {name} AS SELECT user_id, COUNT(*) AS n FROM events "
                f"WHERE user_id < {arg} GROUP BY user_id")
        got = ex.stmt("view_read", f"SELECT COUNT(*), SUM(n) FROM {name}")
        want = oracle.rows(f"SELECT COUNT(DISTINCT user_id), COUNT(*) FROM events WHERE user_id < {arg}")
        same_rows(got, want, ordered=True)
        ex.stmt("drop_view", f"DROP VIEW {name}")
    else:
        flink, duck, ordered = arg
        same_rows(ex.stmt(kind, flink), oracle.rows(duck), ordered=ordered)


def _check_sink(ex, oracle: Oracle) -> None:
    got = ex.stmt("write_check", f"SELECT COUNT(*), SUM(n) FROM {SINK}")
    want = [(len(oracle.sink), sum(r[2] for r in oracle.sink) if oracle.sink else None)]
    same_rows(got, want, ordered=True)

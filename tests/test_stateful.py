"""applyInPandasWithState operators: state must survive micro-batch
boundaries (forced with maxFilesPerTrigger=1 over a file source)."""

from __future__ import annotations

from fastwrite import write_rows

import datetime as dt

from pyspark.sql import functions as F

from flink_sql_toolkit_spark.streaming.stateful import streaming_dedup


def test_streaming_dedup_keep_first(spark, tmp_path):
    data = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 1), "first"),
        (1, dt.datetime(2024, 1, 1, 0, 0, 5), "dup"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 2), "only"),
    ]
    schema = "k long, ts timestamp, tag string"
    write_rows(f"{tmp_path}/in", data, schema)
    stream = spark.readStream.schema(schema).parquet(f"{tmp_path}/in")
    out = streaming_dedup(stream, ["k"], "ts", "10 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("dedup_out").collect()
    assert len(rows) == 2
    assert {r.k for r in rows} == {1, 2}


# -- general streaming MATCH_RECOGNIZE (VERDICT r4 ask #6) ------------


def _run_stream_mr(spark, tmp_path, files, name, **mr_kwargs):
    from flink_sql_toolkit_spark.streaming.stateful import streaming_match_recognize

    schema = "user_id long, seq long, event_type string"
    for i, rows in enumerate(files):
        write_rows(f"{tmp_path}/in/b{i}", rows, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    out = streaming_match_recognize(
        stream,
        partition_by=["user_id"],
        order_by=["seq"],
        **mr_kwargs,
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name).collect()


def test_streaming_mr_match_spans_batches(spark, tmp_path):
    """The corpus pattern (A+ B) across 3 micro-batches with the
    match spanning batch boundaries — must agree with the batch
    operator over the full input (syntax-test.fsql:467-482)."""
    from flink_sql_toolkit_spark.operators.match_recognize import match_recognize

    b0 = [(1, 1, "view"), (1, 2, "view"), (2, 1, "purchase")]
    b1 = [(1, 3, "view"), (1, 4, "purchase"), (2, 2, "view")]
    b2 = [(1, 5, "view"), (1, 6, "purchase"), (2, 3, "purchase")]
    kwargs = dict(
        pattern="A+ B",
        define={"A": "event_type <> 'purchase'", "B": "event_type = 'purchase'"},
        measures={
            "start_seq": "FIRST(A.seq)",
            "end_seq": "LAST(B.seq)",
            "n_before": "COUNT(A.*)",
            "mn": "MATCH_NUMBER()",
        },
    )
    got = sorted(
        (r.user_id, r.start_seq, r.end_seq, r.n_before, r.mn)
        for r in _run_stream_mr(spark, tmp_path, [b0, b1, b2], "smr1", **kwargs)
    )
    # user 1: A(1,2,3)+B(4) spans b0→b1; then A(5)+B(6) inside b2.
    # user 2: first purchase has no A before; A(2)+B(3) spans b1→b2.
    assert got == [(1, 1, 4, 3, 1), (1, 5, 6, 1, 2), (2, 2, 3, 1, 1)]
    batch_df = spark.createDataFrame(
        b0 + b1 + b2, "user_id long, seq long, event_type string"
    )
    batch = sorted(
        (r.user_id, r.start_seq, r.end_seq, r.n_before, r.mn)
        for r in match_recognize(
            batch_df, partition_by=["user_id"], order_by=["seq"], **kwargs
        ).collect()
    )
    assert got == batch


def test_streaming_mr_holds_extensible_match(spark, tmp_path):
    """A match that could still grow (trailing Z?) must be HELD at
    the batch boundary and emitted only once decidable — prefix-
    stable emission, not eager emission."""
    b0 = [(1, 1, "view"), (1, 2, "purchase")]  # A B ... Z? undecided
    b1 = [(1, 3, "refund")]                    # Z arrives → match is A B Z
    b2 = [(1, 4, "view"), (1, 5, "purchase"), (1, 6, "view")]  # A B, Z? decided by 'view'
    rows = _run_stream_mr(
        spark,
        tmp_path,
        [b0, b1, b2],
        "smr2",
        pattern="A B Z?",
        define={
            "A": "event_type = 'view'",
            "B": "event_type = 'purchase'",
            "Z": "event_type = 'refund'",
        },
        measures={"s": "FIRST(A.seq)", "z": "FIRST(Z.seq)", "cls": "CLASSIFIER()"},
    )
    got = sorted((r.s, r.z, r.cls) for r in rows)
    # first match waited for b1 and includes the Z row; second match's
    # Z? was refuted by the trailing view row inside b2
    assert got == [(1, 3, "Z"), (4, None, "B")]


def test_streaming_mr_typed_rejections(spark):
    from flink_sql_toolkit_spark.streaming.stateful import streaming_match_recognize
    import pytest as _pytest

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("value AS user_id", "value AS seq", "'x' AS event_type")
    )
    # PREV itself streams (r6); a PREV condition using a SQL function
    # is outside the dynamic-predicate grammar → typed error
    with _pytest.raises(NotImplementedError, match="subset"):
        streaming_match_recognize(
            stream,
            partition_by=["user_id"],
            order_by=["seq"],
            pattern="A B",
            define={"A": "seq > 0", "B": "ABS(seq) > PREV(seq)"},
            measures={"n": "COUNT(A.*)"},
        )


def test_streaming_over_rows_frame_crosses_batches(spark, tmp_path):
    """Flink-style streaming OVER with a ROWS frame: per-row running
    aggregates whose frame spans micro-batch boundaries."""
    from flink_sql_toolkit_spark.streaming.stateful import streaming_over_rows

    schema = "k long, seq long, v long"
    b0 = [(1, 1, 10), (1, 2, 20)]
    b1 = [(1, 3, 30), (2, 1, 5)]
    for i, rows in enumerate([b0, b1]):
        write_rows(f"{tmp_path}/in/b{i}", rows, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    out = streaming_over_rows(
        stream, partition_by=["k"], order_by=["seq"], value_col="v", n_preceding=1
    )
    q = (
        out.writeStream.format("memory")
        .queryName("over_rows")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.k, r.seq): (r.v_sum, r.v_cnt, r.v_avg, r.v_min, r.v_max)
        for r in spark.table("over_rows").collect()
    }
    assert got == {
        (1, 1): (10, 1, 10.0, 10, 10),
        (1, 2): (30, 2, 15.0, 10, 20),
        # frame (20, 30) spans the b0→b1 boundary via state
        (1, 3): (50, 2, 25.0, 20, 30),
        (2, 1): (5, 1, 5.0, 5, 5),
    }


def test_streaming_over_sql_typed_rejection(spark, tmp_path):
    """An UNROUTABLE OVER window in a streaming SELECT surfaces the
    engine's typed guidance, not Spark's raw analysis error. (The
    frameless global `SUM(v) OVER (ORDER BY v)` this test used before
    r9 now ROUTES — global windows + frameless running aggregates —
    so the rejection probe is a FOLLOWING frame, which a stream can
    never satisfy without unbounded lookahead.)"""
    import pytest as _pytest

    from flink_sql_toolkit_spark.engine import Engine

    engine = Engine(spark)
    sess = engine.open_session("over-reject")
    try:
        sess.execute_statement(
            "CREATE TABLE over_src (v BIGINT) WITH "
            "('connector'='datagen', 'rows-per-second'='1')"
        )
        with _pytest.raises(NotImplementedError, match="streaming_over_rows"):
            sess.execute_statement(
                "SELECT v, SUM(v) OVER (ORDER BY v ROWS BETWEEN "
                "CURRENT ROW AND 1 FOLLOWING) AS s FROM over_src"
            )
    finally:
        sess.close()


def test_streaming_mr_to_next_row_agrees_with_batch(spark, tmp_path):
    """SKIP TO NEXT ROW (overlapping matches) across batch boundaries
    agrees with the batch operator."""
    from flink_sql_toolkit_spark.operators.match_recognize import match_recognize

    b0 = [(1, 1, "a"), (1, 2, "a")]
    b1 = [(1, 3, "a"), (1, 4, "b")]
    kwargs = dict(
        pattern="A+ B",
        define={"A": "event_type = 'a'", "B": "event_type = 'b'"},
        measures={"f": "FIRST(A.seq)", "n": "COUNT(A.*)"},
        after_match="to_next_row",
    )
    got = sorted(
        (r.f, r.n)
        for r in _run_stream_mr(spark, tmp_path, [b0, b1], "smr_tnr", **kwargs)
    )
    batch = sorted(
        (r.f, r.n)
        for r in match_recognize(
            spark.createDataFrame(
                b0 + b1, "user_id long, seq long, event_type string"
            ),
            partition_by=["user_id"],
            order_by=["seq"],
            **kwargs,
        ).collect()
    )
    # overlapping matches: starts at 1, 2, 3 with shrinking A-runs
    assert got == batch == [(1, 3), (2, 2), (3, 1)]


def test_streaming_mr_buffer_cap_drops_oldest(spark):
    """The state buffer is bounded: with max_buffer_rows=3, a long
    undecided A-run keeps only its newest 3 rows (pressure valve,
    documented lossy like Flink CEP without WITHIN)."""
    import pickle

    from flink_sql_toolkit_spark.operators.match_recognize import match_recognize

    # drive run_nfa's streaming mode directly — the Spark wiring is
    # covered by the other tests; this one pins the cap arithmetic.
    compiled = match_recognize(
        spark.createDataFrame([], "user_id long, seq long, event_type string"),
        partition_by=["user_id"],
        order_by=["seq"],
        pattern="A+ B",
        define={"A": "event_type = 'a'", "B": "event_type = 'b'"},
        measures={"n": "COUNT(A.*)"},
        _compile_only=True,
    )
    import pandas as pd

    # emulate one operator call with 10 undecided A-rows and apply
    # the wrapper's cap + pickle round-trip to the retained suffix
    rows = pd.DataFrame(
        {
            "user_id": [1] * 10,
            "seq": list(range(10)),
            "event_type": ["a"] * 10,
            "_sym_A": [True] * 10,
            "_sym_B": [False] * 10,
        }
    )
    run_nfa = compiled["run_nfa"]
    out_df, keep_from, match_no = run_nfa(rows, streaming=True, match_no_base=0)
    assert len(out_df) == 0 and keep_from == 0  # all 10 rows undecided
    kept = rows.iloc[keep_from:]
    capped = kept.iloc[-3:]
    assert list(capped["seq"]) == [7, 8, 9]
    # round-trip through the pickle the operator uses for state
    blob = pickle.dumps(capped)
    assert list(pickle.loads(blob)["seq"]) == [7, 8, 9]


def test_streaming_mr_cross_symbol_define_spans_batches(spark, tmp_path):
    """Dynamic (cross-symbol) DEFINE predicates evaluate against the
    partial match context carried across micro-batches."""
    # seq as both order and value: B fires only when its value exceeds
    # the LAST A value times 2 (dynamic predicate with SQL division)
    b0 = [(1, 10, "x")]          # A(10) ... B undecided
    b1 = [(1, 21, "x")]          # 21 > 10*2 → but is 21 an A or a B?
    kwargs = dict(
        pattern="A B",
        define={"A": "event_type = 'x'", "B": "B.seq > A.seq * 2"},
        measures={"a": "FIRST(A.seq)", "b": "LAST(B.seq)"},
    )
    got = sorted(
        (r.a, r.b)
        for r in _run_stream_mr(spark, tmp_path, [b0, b1], "smr_dyn", **kwargs)
    )
    from flink_sql_toolkit_spark.operators.match_recognize import match_recognize

    batch = sorted(
        (r.a, r.b)
        for r in match_recognize(
            spark.createDataFrame(
                b0 + b1, "user_id long, seq long, event_type string"
            ),
            partition_by=["user_id"],
            order_by=["seq"],
            **kwargs,
        ).collect()
    )
    assert got == batch == [(10, 21)]


def _run_available_now(out, tmp_path, name):
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_over_rows_null_values(spark, tmp_path):
    """NULL values occupy a ROWS-frame slot but are skipped by the
    aggregates; the row itself is still emitted (ADVICE r5: float(None)
    must not crash the query, and an all-null frame yields NULLs)."""
    from flink_sql_toolkit_spark.streaming.stateful import streaming_over_rows

    schema = "k long, seq long, v long"
    rows = [(1, 1, 10), (1, 2, None), (1, 3, 30), (2, 1, None)]
    write_rows(f"{tmp_path}/in/b0", rows, schema)
    stream = spark.readStream.schema(schema).parquet(f"{tmp_path}/in/*")
    out = streaming_over_rows(
        stream, partition_by=["k"], order_by=["seq"], value_col="v", n_preceding=1
    )
    _run_available_now(out, tmp_path, "over_nulls")
    got = {
        (r.k, r.seq): (r.v_sum, r.v_cnt, r.v_avg, r.v_min, r.v_max)
        for r in spark.table("over_nulls").collect()
    }
    assert got == {
        (1, 1): (10, 1, 10.0, 10, 10),
        (1, 2): (10, 1, 10.0, 10, 10),  # null holds a slot, aggs skip it
        (1, 3): (30, 1, 30.0, 30, 30),  # frame = (null, 30)
        (2, 1): (None, 0, None, None, None),  # all-null frame
    }


def test_streaming_over_decimal_rejected(spark):
    """DECIMAL value columns are a typed rejection, not a silent
    float-truncation (ADVICE r5)."""
    import pytest as _pytest

    from flink_sql_toolkit_spark.streaming.stateful import streaming_over_rows

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr(
            "value AS k", "value AS seq", "CAST(value AS DECIMAL(10,2)) AS v"
        )
    )
    with _pytest.raises(NotImplementedError, match="DECIMAL"):
        streaming_over_rows(
            stream, partition_by=["k"], order_by=["seq"], value_col="v",
            n_preceding=1,
        )


def test_streaming_over_range_crosses_batches(spark, tmp_path):
    """Event-time RANGE frame across micro-batches — including an
    in-horizon late row and a NULL value — matches the batch
    rangeBetween oracle on the same data."""
    import datetime as _dt

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from flink_sql_toolkit_spark.streaming.stateful import streaming_over_range

    t0 = _dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + _dt.timedelta(seconds=s)

    schema = "k long, ts timestamp, v long"
    b0 = [(1, ts(0), 10), (1, ts(5), 20)]
    b1 = [(1, ts(12), 30)]
    b2 = [(1, ts(8), 25), (1, ts(13), None), (1, ts(30), 40), (2, ts(0), 5)]
    for i, rows in enumerate([b0, b1, b2]):
        write_rows(f"{tmp_path}/in/b{i}", rows, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    out = streaming_over_range(
        stream, partition_by=["k"], order_by="ts", value_col="v",
        preceding="10 seconds",
    )
    _run_available_now(out, tmp_path, "over_range")
    got = {
        (r.k, r.ts): (r.v_sum, r.v_cnt, r.v_avg, r.v_min, r.v_max)
        for r in spark.table("over_range").collect()
    }
    # batch oracle: rangeBetween(-10s, 0) over the union of all batches
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-10, 0)
    )
    oracle = {
        (r.k, r.ts): (r.s, r.c, r.a, r.mn, r.mx)
        for r in spark.createDataFrame(b0 + b1 + b2, schema)
        .select(
            "k", "ts",
            F.sum("v").over(w).alias("s"),
            F.count("v").over(w).alias("c"),
            F.avg("v").over(w).alias("a"),
            F.min("v").over(w).alias("mn"),
            F.max("v").over(w).alias("mx"),
        )
        .collect()
    }
    assert len(got) == len(b0) + len(b1) + len(b2)
    # (1, 12s) was emitted in batch 1 BEFORE the late 8s row arrived —
    # append mode never retracts, so its frame legitimately lacks the
    # late peer the full-data batch oracle sees (documented semantics)
    assert got.pop((1, ts(12))) == (50, 2, 25.0, 20, 30)
    oracle.pop((1, ts(12)))
    # every other row — including the late row itself and the 13s row
    # arriving after it — matches the batch rangeBetween oracle exactly
    assert got == oracle
    # the late row's frame spans two earlier micro-batches
    assert got[(1, ts(8))] == (55, 3, 55 / 3, 10, 25)


def test_over_interval_parse():
    from flink_sql_toolkit_spark.streaming.stateful import _interval_us

    assert _interval_us("INTERVAL '10' MINUTE") == 600_000_000
    assert _interval_us("INTERVAL '2' HOUR") == 7_200_000_000
    assert _interval_us("10 seconds") == 10_000_000
    assert _interval_us("500 ms") == 500_000
    assert _interval_us(1.5) == 1_500_000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _interval_us("fortnight")


def _over_sql_engine_case(spark, tmp_path, name, over_expr, expected):
    """Create a filesystem STREAMING table, run a SELECT with an OVER
    clause through the engine (routed to the stateful operator), page
    results, compare."""
    import time as _time

    from flink_sql_toolkit_spark.engine import Engine

    engine = Engine(spark)
    sess = engine.open_session(f"over-sql-{name}")
    try:
        sess.execute_statement(
            f"""
            CREATE TABLE {name}_src (k BIGINT, ts TIMESTAMP, v BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/{name}',
                  'format'='parquet')
            """
        )
        op = sess.execute_statement(
            f"SELECT k, ts, {over_expr} FROM {name}_src"
        )
        assert op.status == "RUNNING"
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < len(expected):
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        assert sorted(got) == sorted(expected)
    finally:
        sess.close()


def test_streaming_over_sql_routed_rows(spark, tmp_path):
    """`SUM/COUNT(v) OVER (... ROWS BETWEEN 1 PRECEDING AND CURRENT
    ROW)` in a streaming SELECT routes to streaming_over_rows instead
    of a typed rejection."""
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    rows = [(1, t0, 10), (1, t0 + _dt.timedelta(seconds=1), 20),
            (2, t0, 7)]
    spark.createDataFrame(rows, "k long, ts timestamp, v long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/rsql")
    _over_sql_engine_case(
        spark, tmp_path, "rsql",
        "SUM(v) OVER (PARTITION BY k ORDER BY ts "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s, "
        "COUNT(v) OVER (PARTITION BY k ORDER BY ts "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c",
        [
            (1, t0, 10, 1),
            (1, t0 + _dt.timedelta(seconds=1), 30, 2),
            (2, t0, 7, 1),
        ],
    )


def test_streaming_over_sql_routed_range(spark, tmp_path):
    """`AVG(v) OVER (... RANGE BETWEEN INTERVAL '10' SECOND PRECEDING
    AND CURRENT ROW)` routes to streaming_over_range."""
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    rows = [(1, t0, 10), (1, t0 + _dt.timedelta(seconds=5), 20),
            (1, t0 + _dt.timedelta(seconds=20), 40)]
    spark.createDataFrame(rows, "k long, ts timestamp, v long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/gsql")
    _over_sql_engine_case(
        spark, tmp_path, "gsql",
        "AVG(v) OVER (PARTITION BY k ORDER BY ts RANGE BETWEEN "
        "INTERVAL '10' SECOND PRECEDING AND CURRENT ROW) AS a",
        [
            (1, t0, 10.0),
            (1, t0 + _dt.timedelta(seconds=5), 15.0),
            (1, t0 + _dt.timedelta(seconds=20), 40.0),
        ],
    )


def test_streaming_mr_bounded_quantifier_agrees_with_batch(spark, tmp_path):
    """A{2,3} B with the A-run and the closing B split across three
    micro-batches agrees with the batch operator (bounded quantifiers,
    r6): greedy takes the LAST 3 of the 4 a-rows."""
    from flink_sql_toolkit_spark.operators.match_recognize import match_recognize

    b0 = [(1, 1, "a"), (1, 2, "a")]
    b1 = [(1, 3, "a"), (1, 4, "a")]
    b2 = [(1, 5, "b"), (1, 6, "a"), (1, 7, "a"), (1, 8, "b")]
    kwargs = dict(
        pattern="A{2,3} B",
        define={"A": "event_type = 'a'", "B": "event_type = 'b'"},
        measures={"f": "FIRST(A.seq)", "n": "COUNT(A.*)"},
    )
    got = sorted(
        (r.f, r.n)
        for r in _run_stream_mr(spark, tmp_path, [b0, b1, b2], "smr_bq", **kwargs)
    )
    batch = sorted(
        (r.f, r.n)
        for r in match_recognize(
            spark.createDataFrame(
                b0 + b1 + b2, "user_id long, seq long, event_type string"
            ),
            partition_by=["user_id"],
            order_by=["seq"],
            **kwargs,
        ).collect()
    )
    # first match: a-run 1-4 → greedy bounded takes 2,3,4 (earliest
    # start that still reaches B at seq 5); second: 6,7 + B at 8
    assert got == batch == [(2, 3), (6, 2)]


def test_streaming_mr_truncation_is_observable(spark, tmp_path):
    """When max_buffer_rows trims the undecided suffix, the dropped-row
    count lands in the caller's accumulator instead of vanishing
    silently (ADVICE r5) — batch-parity violations are observable."""
    acc = spark.sparkContext.accumulator(0)
    b0 = [(1, i, "view") for i in range(1, 9)]  # 8 undecided A-rows
    b1 = [(1, 9, "purchase")]
    rows = _run_stream_mr(
        spark,
        tmp_path,
        [b0, b1],
        "smr_trunc",
        pattern="A+ B",
        define={"A": "event_type <> 'purchase'", "B": "event_type = 'purchase'"},
        measures={"n": "COUNT(A.*)", "f": "FIRST(A.seq)"},
        max_buffer_rows=3,
        truncation_acc=acc,
    )
    # batch 0 held 8 rows, cap kept 3 → 5 dropped, surfaced via acc
    assert acc.value == 5
    # the match that closes in batch 1 only saw the retained suffix
    assert [(r.f, r.n) for r in rows] == [(6, 3)]


def test_streaming_over_sql_where_filters_frames(spark, tmp_path):
    """WHERE evaluates before window functions: filtered-out rows must
    not occupy ROWS-frame slots (review r6 — previously the predicate
    was applied to the operator's output, silently corrupting frames)."""
    import datetime as _dt
    import time as _time

    from flink_sql_toolkit_spark.engine import Engine

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10),
        (1, t0 + _dt.timedelta(seconds=1), -99),  # excluded by WHERE
        (1, t0 + _dt.timedelta(seconds=2), 20),
    ]
    spark.createDataFrame(rows, "k long, ts timestamp, v long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/wsql")
    engine = Engine(spark)
    sess = engine.open_session("over-where")
    try:
        sess.execute_statement(
            f"""CREATE TABLE wsql_src (k BIGINT, ts TIMESTAMP, v BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/wsql',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, ts, SUM(v) OVER (PARTITION BY k ORDER BY ts "
            "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
            "FROM wsql_src WHERE v > 0"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 2:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        # frame of the t0+2s row is (10, 20) — NOT (-99, 20)
        assert sorted(got) == [
            (1, t0, 10),
            (1, t0 + _dt.timedelta(seconds=2), 30),
        ]
        # routed temp views are dropped on cancel (no catalog leak)
        leftover = [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("_over_out_")
        ]
        assert leftover == []
    finally:
        sess.close()


def test_streaming_over_sql_uncollectable_over_rejected(spark, tmp_path):
    """A statement mixing a routable OVER with one the router cannot
    route (an unsupported aggregate function) must fall back to the
    typed guidance, not a half-rewritten query that fails downstream
    (review r6; COUNT(*) became routable in r7, expression arguments
    like SUM(v + v) in r8)."""
    import pytest as _pytest

    from flink_sql_toolkit_spark.engine import Engine

    engine = Engine(spark)
    sess = engine.open_session("over-partial")
    try:
        sess.execute_statement(
            "CREATE TABLE op_src (k BIGINT, ts TIMESTAMP, v BIGINT) WITH "
            "('connector'='datagen', 'rows-per-second'='1')"
        )
        with _pytest.raises(NotImplementedError, match="streaming_over_rows"):
            sess.execute_statement(
                "SELECT SUM(v) OVER (PARTITION BY k ORDER BY ts ROWS "
                "BETWEEN 1 PRECEDING AND CURRENT ROW) AS s, "
                "STDDEV(v) OVER (PARTITION BY k ORDER BY ts ROWS "
                "BETWEEN 1 PRECEDING AND CURRENT ROW) AS c FROM op_src"
            )
    finally:
        sess.close()


def test_streaming_over_range_calendar_month(spark, tmp_path):
    """RANGE with a calendar-unit horizon (INTERVAL '1' MONTH) —
    variable-length frames computed from each row's own timestamp,
    including month-end clamping (Mar 31 − 1 month = Feb 29 in a leap
    year) — matches a self-join batch oracle on month-spanning data
    (VERDICT r6 ask #7; previously a typed rejection)."""
    import datetime as _dt

    from flink_sql_toolkit_spark.streaming.stateful import streaming_over_range

    rows = [
        (1, _dt.datetime(2024, 1, 15), 10),
        (1, _dt.datetime(2024, 2, 10), 20),   # frame reaches Jan 15
        (1, _dt.datetime(2024, 2, 29), 25),   # leap day; frame from Jan 29
        (1, _dt.datetime(2024, 3, 31), 30),   # Mar 31 - 1mo = Feb 29 (clamp)
        (1, _dt.datetime(2024, 5, 1), 40),    # frame Apr 1..May 1: alone
        (2, _dt.datetime(2024, 1, 31), 5),
    ]
    schema = "k long, ts timestamp, v long"
    b0, b1 = rows[:3], rows[3:]
    for i, rs in enumerate([b0, b1]):
        write_rows(f"{tmp_path}/in/b{i}", rs, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    out = streaming_over_range(
        stream, ["k"], "ts", "v", "INTERVAL '1' MONTH",
        aggs=("sum", "cnt"),
    )
    _run_available_now(out, tmp_path, "over_month")
    got = {
        (r.k, r.ts): (r.v_sum, r.v_cnt)
        for r in spark.table("over_month").collect()
    }
    # batch oracle: self-join on ts BETWEEN a.ts - INTERVAL 1 MONTH
    # AND a.ts (same calendar clamping as the operator)
    batch = spark.createDataFrame(rows, schema)
    batch.createOrReplaceTempView("om_batch")
    oracle = {
        (r.k, r.ts): (r.s, r.c)
        for r in spark.sql(
            "SELECT a.k, a.ts, SUM(b.v) AS s, COUNT(b.v) AS c "
            "FROM om_batch a JOIN om_batch b ON a.k = b.k "
            "AND b.ts BETWEEN a.ts - INTERVAL 1 MONTH AND a.ts "
            "GROUP BY a.k, a.ts"
        ).collect()
    }
    assert got == oracle
    # spot-check the clamp: Mar 31's frame starts Feb 29 → includes
    # the Feb 29 row, excludes Feb 10
    assert got[(1, _dt.datetime(2024, 3, 31))] == (55, 2)


def test_streaming_over_sql_calendar_range_routed(spark, tmp_path):
    """A MONTH-horizon RANGE OVER in a streaming SELECT routes to
    streaming_over_range (was a typed rejection before r7)."""
    import datetime as _dt
    import time as _time

    from flink_sql_toolkit_spark.engine import Engine

    rows = [(1, _dt.datetime(2024, 1, 15), 10), (1, _dt.datetime(2024, 2, 10), 20)]
    spark.createDataFrame(rows, "k long, ts timestamp, v long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/monthsql")
    engine = Engine(spark)
    sess = engine.open_session("over-month")
    try:
        sess.execute_statement(
            f"""CREATE TABLE om_src (k BIGINT, ts TIMESTAMP, v BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/monthsql',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, ts, SUM(v) OVER (PARTITION BY k ORDER BY ts RANGE "
            "BETWEEN INTERVAL '1' MONTH PRECEDING AND CURRENT ROW) "
            "AS s FROM om_src"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 2:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        assert sorted(got) == [
            (1, _dt.datetime(2024, 1, 15), 10),
            (1, _dt.datetime(2024, 2, 10), 30),  # Jan 15 in the 1mo frame
        ]
    finally:
        sess.close()


def test_streaming_over_rows_bigint_exact(spark, tmp_path):
    """Integral value columns keep an exact bigint frame: sums over
    values past 2^53 must not round through float64 (review r6)."""
    from flink_sql_toolkit_spark.streaming.stateful import streaming_over_rows

    big = 10_000_000_000_000_003  # > 2^53; float64 rounds to ...004
    rows = [(1, 1, big), (1, 2, big + 2)]
    schema = "k long, seq long, v long"
    write_rows(f"{tmp_path}/bigint/in", rows, schema)
    stream = spark.readStream.schema(schema).parquet(f"{tmp_path}/bigint/in")
    out = streaming_over_rows(
        stream, partition_by=["k"], order_by=["seq"], value_col="v", n_preceding=1
    )
    q = (
        out.writeStream.format("memory")
        .queryName("over_bigint")
        .option("checkpointLocation", str(tmp_path / "bigint/ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.seq: (r.v_sum, r.v_min, r.v_max) for r in spark.table("over_bigint").collect()}
    assert got[2] == (2 * big + 2, big, big + 2)  # exact, no float rounding


def test_state_ttl_parsing_and_routed_smoke(spark, tmp_path):
    """`table.exec.state.ttl` parses Flink duration shapes and flows
    into the routed stateful operators (ProcessingTimeTimeout evicts
    idle keys — unbounded key cardinality must not grow state forever)."""
    import datetime as _dt
    import time as _time

    from flink_sql_toolkit_spark.engine import Engine

    engine = Engine(spark)
    sess = engine.open_session("ttl")
    try:
        for raw, ms in [
            ("1000", 1000), ("1 s", 1000), ("30 min", 1_800_000),
            ("2 h", 7_200_000), ("1 d", 86_400_000), ("500 ms", 500),
            ("10 seconds", 10_000), ("0", None), ("bogus", None),
            # Flink TimeUtils spellings that used to silently disable
            # TTL (ADVICE r6): bare 'm' = minutes, compound durations,
            # sub-ms rounds UP to the 1 ms timeout granularity
            ("1 m", 60_000), ("1 h 30 min", 5_400_000), ("2 micro", 1),
        ]:
            sess.flink_conf["table.exec.state.ttl"] = raw
            assert sess.state_ttl_ms() == ms, raw
        sess.flink_conf.pop("table.exec.state.ttl")
        assert sess.state_ttl_ms() is None

        # routed streaming OVER still computes correctly with a TTL set
        t0 = _dt.datetime(2024, 1, 1)
        rows = [(1, t0, 10), (1, t0 + _dt.timedelta(seconds=1), 20)]
        spark.createDataFrame(rows, "k long, ts timestamp, v long").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{tmp_path}/ttl")
        sess.execute_statement("SET 'table.exec.state.ttl'='1 h'")
        sess.execute_statement(
            f"""CREATE TABLE ttl_src (k BIGINT, ts TIMESTAMP, v BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/ttl',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, ts, SUM(v) OVER (PARTITION BY k ORDER BY ts "
            "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM ttl_src"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 2:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        assert sorted(got) == [
            (1, t0, 10),
            (1, t0 + _dt.timedelta(seconds=1), 30),
        ]
    finally:
        sess.close()


def test_streaming_mr_all_rows_per_match_agrees_with_batch(spark, tmp_path):
    """ALL ROWS PER MATCH over a stream: one output row per matched
    input row with RUNNING measures and CLASSIFIER, emitted when the
    match is decided — identical to the batch expansion even when the
    match spans micro-batches (r6; previously a typed rejection)."""
    from flink_sql_toolkit_spark.operators.match_recognize import match_recognize

    b0 = [(1, 1, "view"), (1, 2, "view")]
    b1 = [(1, 3, "purchase"), (2, 1, "view")]
    b2 = [(2, 2, "purchase")]
    kwargs = dict(
        pattern="A+ B",
        define={"A": "event_type = 'view'", "B": "event_type = 'purchase'"},
        measures={"n": "COUNT(A.*)", "cls": "CLASSIFIER()"},
    )
    got = sorted(
        (r.user_id, r.seq, r.event_type, r.n, r.cls)
        for r in _run_stream_mr(
            spark, tmp_path, [b0, b1, b2], "smr_allrows", all_rows=True, **kwargs
        )
    )
    batch = sorted(
        (r.user_id, r.seq, r.event_type, r.n, r.cls)
        for r in match_recognize(
            spark.createDataFrame(
                b0 + b1 + b2, "user_id long, seq long, event_type string"
            ),
            partition_by=["user_id"],
            order_by=["seq"],
            all_rows=True,
            **kwargs,
        ).collect()
    )
    assert got == batch
    assert got == [
        (1, 1, "view", 1, "A"),
        (1, 2, "view", 2, "A"),
        (1, 3, "purchase", 2, "B"),
        (2, 1, "view", 1, "A"),
        (2, 2, "purchase", 1, "B"),
    ]


def test_streaming_mr_prev_spans_batches(spark, tmp_path):
    """PREV() in DEFINE over a stream (r6; previously a typed
    rejection): lag values are materialized per key inside the
    operator, and the batch-boundary seed works — a row whose PREV
    refers to a row decided in an EARLIER batch still evaluates it."""
    from flink_sql_toolkit_spark.operators.match_recognize import match_recognize

    # rising pairs: B requires seq-value strictly above the previous
    # row's v. Matches at (v=1→2) in b0; then (v=2→5): the '2' row was
    # decided in b0's match, so the b1 row's PREV comes from the state
    # context, not the buffer.
    b0 = [(1, 1, 1), (1, 2, 2)]
    b1 = [(1, 3, 5), (1, 4, 4)]
    b2 = [(1, 5, 9)]
    kwargs = dict(
        pattern="A B",
        define={"A": "true", "B": "v > PREV(v)"},
        measures={"fa": "FIRST(A.seq)", "lb": "LAST(B.seq)"},
    )
    schema = "user_id long, seq long, v long"

    def run_stream():
        for i, rows in enumerate([b0, b1, b2]):
            write_rows(f"{tmp_path}/in/b{i}", rows, schema)
        from flink_sql_toolkit_spark.streaming.stateful import (
            streaming_match_recognize,
        )

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp_path}/in/*")
        )
        out = streaming_match_recognize(
            stream, partition_by=["user_id"], order_by=["seq"], **kwargs
        )
        q = (
            out.writeStream.format("memory")
            .queryName("smr_prev")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return sorted((r.fa, r.lb) for r in spark.table("smr_prev").collect())

    got = run_stream()
    batch = sorted(
        (r.fa, r.lb)
        for r in match_recognize(
            spark.createDataFrame(b0 + b1 + b2, schema),
            partition_by=["user_id"],
            order_by=["seq"],
            **kwargs,
        ).collect()
    )
    assert got == batch
    # A(seq1) B(seq2: 2>1 via cross-batch-seeded PREV for later rows);
    # A(seq3)+B(seq4) fails (4<5), so A(seq4) B(seq5: 9>4) matches
    assert got == [(1, 2), (4, 5)]


def test_streaming_lag_rejects_offset_below_one(spark, tmp_path):
    """LAG(v, 0) must take the typed-guidance path, not raise an
    IndexError inside applyInPandasWithState on the first row per key
    (ADVICE r6: ring[0] on an empty ring when offset=0)."""
    import datetime as _dt

    import pytest

    from flink_sql_toolkit_spark.engine import Engine
    from flink_sql_toolkit_spark.streaming.stateful import streaming_lag

    t0 = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame([(1, t0, 10)], "k long, ts timestamp, v long")
    # operator-level guard: validation error before any executor work
    with pytest.raises(ValueError, match="offset must be >= 1"):
        streaming_lag(df, ["k"], ["ts"], "v", offset=0)

    # SQL router: LAG(v, 0) falls through to the typed guidance
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/lag0")
    engine = Engine(spark)
    sess = engine.open_session("lag-zero")
    try:
        sess.execute_statement(
            f"""CREATE TABLE lag0_src (k BIGINT, ts TIMESTAMP, v BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/lag0',
                  'format'='parquet')"""
        )
        with pytest.raises(NotImplementedError, match="OVER window shape"):
            sess.execute_statement(
                "SELECT k, LAG(v, 0) OVER (PARTITION BY k ORDER BY ts) "
                "AS cur FROM lag0_src"
            )
    finally:
        sess.close()


def test_streaming_dedup_router_canonicalizes_case(spark, tmp_path):
    """Spark resolves columns case-insensitively but pandas does not:
    a ROW_NUMBER()=1 dedup recipe written with `PARTITION BY K ORDER
    BY TS` against lower-case schema columns used to die as a pandas
    KeyError inside the executor (ADVICE r6). The router now
    canonicalizes to the schema's casing and the recipe works."""
    import datetime as _dt
    import time as _time

    from flink_sql_toolkit_spark.engine import Engine

    t0 = _dt.datetime(2024, 1, 1)
    rows = [(1, t0, 10), (1, t0 + _dt.timedelta(seconds=1), 20), (2, t0, 7)]
    spark.createDataFrame(rows, "k long, ts timestamp, v long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/dedupcase")
    engine = Engine(spark)
    sess = engine.open_session("dedup-case")
    try:
        sess.execute_statement(
            f"""CREATE TABLE dedupc_src (k BIGINT, ts TIMESTAMP, v BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/dedupcase',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, v FROM (SELECT *, ROW_NUMBER() OVER ("
            "PARTITION BY K ORDER BY TS) AS rn FROM dedupc_src) WHERE rn = 1"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 2:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        assert sorted(got) == [(1, 10), (2, 7)]
    finally:
        sess.close()


def test_streaming_lag_sql_routed(spark, tmp_path):
    """LAG(v) OVER (PARTITION BY k ORDER BY ts) on a streaming table
    routes to streaming_lag: per-key previous value with a bounded
    ring state, crossing micro-batch boundaries; first row per key is
    NULL like the batch window function."""
    import datetime as _dt
    import time as _time

    from flink_sql_toolkit_spark.engine import Engine

    t0 = _dt.datetime(2024, 1, 1)
    rows = [(1, t0, 10), (1, t0 + _dt.timedelta(seconds=1), 20),
            (2, t0, 7), (1, t0 + _dt.timedelta(seconds=2), 30)]
    spark.createDataFrame(rows, "k long, ts timestamp, v long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/lagsql")
    engine = Engine(spark)
    sess = engine.open_session("lag-sql")
    try:
        sess.execute_statement(
            f"""CREATE TABLE lag_src (k BIGINT, ts TIMESTAMP, v BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/lagsql',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, ts, LAG(v) OVER (PARTITION BY k ORDER BY ts) AS prev_v "
            "FROM lag_src"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 4:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        assert sorted(got, key=lambda r: (r[0], r[1])) == [
            (1, t0, None),
            (1, t0 + _dt.timedelta(seconds=1), 10),
            (1, t0 + _dt.timedelta(seconds=2), 20),
            (2, t0, None),
        ]

        # explicit offset: LAG(v, 2)
        op2 = sess.execute_statement(
            "SELECT k, ts, LAG(v, 2) OVER (PARTITION BY k ORDER BY ts) "
            "AS prev2 FROM lag_src"
        )
        got2, token2 = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got2) < 4:
            page = op2.fetch(token2)
            token2 = page["nextResultToken"]
            got2.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op2.cancel()
        assert sorted(got2, key=lambda r: (r[0], r[1])) == [
            (1, t0, None),
            (1, t0 + _dt.timedelta(seconds=1), None),
            (1, t0 + _dt.timedelta(seconds=2), 10),
            (2, t0, None),
        ]

        # default value: LAG(v, 1, -1) — Flink 3-arg form (r7)
        op3 = sess.execute_statement(
            "SELECT k, ts, LAG(v, 1, -1) OVER (PARTITION BY k ORDER BY ts) "
            "AS prevd FROM lag_src"
        )
        got3, token3 = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got3) < 4:
            page = op3.fetch(token3)
            token3 = page["nextResultToken"]
            got3.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op3.cancel()
        assert sorted(got3, key=lambda r: (r[0], r[1])) == [
            (1, t0, -1),
            (1, t0 + _dt.timedelta(seconds=1), 10),
            (1, t0 + _dt.timedelta(seconds=2), 20),
            (2, t0, -1),
        ]
    finally:
        sess.close()


# -- keep-last dedup / updating Top-N changelog (VERDICT r6 ask #1) ---


def _run_keep_last(spark, tmp_path, files, name, keys, order_col, n=1):
    from flink_sql_toolkit_spark.streaming.stateful import streaming_keep_last

    schema = "k long, ts timestamp, tag string"
    for i, rows in enumerate(files):
        write_rows(f"{tmp_path}/in/b{i}", rows, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    out = streaming_keep_last(stream, keys, order_col, n=n)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).collect()


def _collapse(rows):
    """Apply the changelog: +I/+U add, -U/-D remove — the collapsed
    view a Flink SQL client materializes."""
    from collections import Counter

    state = Counter()
    for r in rows:
        key = tuple(r)[1:]
        if r[0] in ("+I", "+U"):
            state[key] += 1
        else:
            state[key] -= 1
    return sorted(k for k, c in state.items() if c > 0 for _ in range(c))


def test_keep_last_dedup_changelog_crosses_batches(spark, tmp_path):
    """ORDER BY ts DESC keep-last as a changelog: a later batch's
    newer row displaces the winner with a -U/+U pair, and the
    collapsed view equals the batch keep-last result."""
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    b0 = [(1, t(5), "a"), (2, t(1), "x")]
    b1 = [(1, t(3), "stale"), (1, t(9), "b")]  # t(3) must NOT displace t(5)
    rows = _run_keep_last(spark, tmp_path, [b0, b1], "kl1", ["k"], "ts", n=1)
    by_op = [(r[0], r.k, r.ts, r.tag) for r in rows]
    assert ("+I", 1, t(5), "a") in by_op
    assert ("+I", 2, t(1), "x") in by_op
    assert ("-U", 1, t(5), "a") in by_op
    assert ("+U", 1, t(9), "b") in by_op
    # collapsed == batch ROW_NUMBER() OVER (... ORDER BY ts DESC) = 1
    batch = spark.createDataFrame(
        b0 + b1, "k long, ts timestamp, tag string"
    )
    from pyspark.sql import Window as W

    win = W.partitionBy("k").orderBy(F.desc("ts"))
    expect = sorted(
        (r.k, r.ts, r.tag)
        for r in batch.withColumn("rn", F.row_number().over(win))
        .filter("rn = 1")
        .drop("rn")
        .collect()
    )
    assert _collapse(rows) == expect


def test_keep_last_topn_changelog_membership(spark, tmp_path):
    """Updating Top-N (n=2, no rownum output): entering rows emit +I,
    displaced rows emit -D; the collapsed view equals batch rn<=2."""
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    b0 = [(1, t(1), "a"), (1, t(2), "b")]
    b1 = [(1, t(5), "c")]  # displaces t(1) from the top-2
    rows = _run_keep_last(spark, tmp_path, [b0, b1], "kl2", ["k"], "ts", n=2)
    ops = [(r[0], r.tag) for r in rows]
    assert ("+I", "a") in ops and ("+I", "b") in ops
    assert ("-D", "a") in ops and ("+I", "c") in ops
    batch = spark.createDataFrame(b0 + b1, "k long, ts timestamp, tag string")
    from pyspark.sql import Window as W

    win = W.partitionBy("k").orderBy(F.desc("ts"))
    expect = sorted(
        (r.k, r.ts, r.tag)
        for r in batch.withColumn("rn", F.row_number().over(win))
        .filter("rn <= 2")
        .drop("rn")
        .collect()
    )
    assert _collapse(rows) == expect


def test_keep_last_sql_routed_changelog(spark, tmp_path):
    """The DESC dedup recipe over a streaming table: typed rejection
    in append mode, routed to streaming_keep_last under
    'sql-client.execution.result-mode' = 'changelog' with op-prefixed
    pages whose collapsed view equals the batch keep-last result."""
    import time as _time

    import pytest

    from flink_sql_toolkit_spark.engine import Engine

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [(1, t(5), "a"), (2, t(1), "x"), (1, t(9), "b")]
    spark.createDataFrame(rows, "k long, ts timestamp, tag string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/klsql")
    engine = Engine(spark)
    sess = engine.open_session("keep-last-sql")
    recipe = (
        "SELECT k, ts, tag FROM (SELECT *, ROW_NUMBER() OVER ("
        "PARTITION BY k ORDER BY ts DESC) AS rn FROM kl_src) WHERE rn = 1"
    )
    try:
        sess.execute_statement(
            f"""CREATE TABLE kl_src (k BIGINT, ts TIMESTAMP, tag STRING)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/klsql',
                  'format'='parquet')"""
        )
        # append mode: still the typed rejection
        with pytest.raises(NotImplementedError, match="keeps the\\s+LAST"):
            sess.execute_statement(recipe)
        sess.execute_statement(
            "SET 'sql-client.execution.result-mode' = 'changelog'"
        )
        op = sess.execute_statement(recipe)
        assert op._columns[0]["name"] == "op"
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 2:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(list(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        # single batch: net result is one +I per key (intra-batch
        # churn collapses, like Spark update-mode aggregation)
        assert sorted(_collapse(got)) == [(1, t(9), "b"), (2, t(1), "x")]
    finally:
        sess.close()


# -- multi-agg / COUNT(*) streaming OVER routing (VERDICT r6 ask #5) --


def test_streaming_over_rows_multi_specs(spark, tmp_path):
    """streaming_over_rows with (agg, col) pairs over two value
    columns plus COUNT(*): one operator pass, one state row set."""
    from flink_sql_toolkit_spark.streaming.stateful import streaming_over_rows

    schema = "k long, seq long, a long, b double"
    b0 = [(1, 1, 10, 1.5), (1, 2, None, 2.5)]
    b1 = [(1, 3, 30, None), (2, 1, 7, 0.5)]
    for i, rows in enumerate([b0, b1]):
        write_rows(f"{tmp_path}/in/b{i}", rows, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    out = streaming_over_rows(
        stream, ["k"], ["seq"], None, 1,
        agg_specs=[("sum", "a"), ("max", "b"), ("cnt", None), ("cnt", "a")],
    )
    _run_available_now(out, tmp_path, "over_multi")
    got = {
        (r.k, r.seq): (r.a_sum, r.b_max, r.star_cnt, r.a_cnt)
        for r in spark.table("over_multi").collect()
    }
    assert got == {
        (1, 1): (10, 1.5, 1, 1),
        (1, 2): (10, 2.5, 2, 1),   # a NULL holds a slot; COUNT(*)=2
        (1, 3): (30, 2.5, 2, 1),   # frame = rows 2,3 (b NULL skipped)
        (2, 1): (7, 0.5, 1, 1),
    }


def test_streaming_over_sql_multi_agg_routed(spark, tmp_path):
    """`SUM(a) …, COUNT(*) …, MAX(b) …` over one shared window spec in
    a streaming SELECT routes through the stateful operator and
    matches the batch window oracle (VERDICT r6 ask #5 done
    criterion)."""
    import time as _time

    from pyspark.sql import Window
    from flink_sql_toolkit_spark.engine import Engine

    rows = [(1, 1, 10, 1.0), (1, 2, 20, 4.0), (1, 3, 30, 2.0), (2, 1, 5, 9.0)]
    schema = "k long, seq long, a long, b double"
    write_rows(f"{tmp_path}/multisql", rows, schema)
    engine = Engine(spark)
    sess = engine.open_session("over-multi-sql")
    try:
        sess.execute_statement(
            f"""CREATE TABLE om_multi (k BIGINT, seq BIGINT, a BIGINT, b DOUBLE)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/multisql',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, seq, "
            "SUM(a) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN 1 "
            "PRECEDING AND CURRENT ROW) AS s, "
            "COUNT(*) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN 1 "
            "PRECEDING AND CURRENT ROW) AS c, "
            "MAX(b) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN 1 "
            "PRECEDING AND CURRENT ROW) AS m "
            "FROM om_multi"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 4:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        w = Window.partitionBy("k").orderBy("seq").rowsBetween(-1, 0)
        oracle = sorted(
            (r.k, r.seq, r.s, r.c, r.m)
            for r in spark.createDataFrame(rows, schema)
            .select(
                "k", "seq",
                F.sum("a").over(w).alias("s"),
                F.count(F.lit(1)).over(w).alias("c"),
                F.max("b").over(w).alias("m"),
            )
            .collect()
        )
        assert sorted(got) == oracle
    finally:
        sess.close()



def test_streaming_over_rows_per_spec_widths(spark, tmp_path):
    """agg_specs triples carrying per-spec ROWS widths (r7): one
    operator pass, state sized to the max width, width-qualified
    output names only where the same (agg, col) runs twice."""
    from flink_sql_toolkit_spark.streaming.stateful import streaming_over_rows

    schema = "k long, seq long, a long"
    b0 = [(1, 1, 10), (1, 2, 20)]
    b1 = [(1, 3, 30), (1, 4, 40)]
    for i, rows in enumerate([b0, b1]):
        write_rows(f"{tmp_path}/inw/b{i}", rows, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/inw/*")
    )
    out = streaming_over_rows(
        stream, ["k"], ["seq"], None, 2,
        agg_specs=[("sum", "a", 1), ("sum", "a", 2), ("cnt", None, 0)],
    )
    _run_available_now(out, tmp_path, "over_widths")
    got = {
        (r.k, r.seq): (r.a_sum_1p, r.a_sum_2p, r.star_cnt)
        for r in spark.table("over_widths").collect()
    }
    # cross-batch: seq 3's 1p frame reaches back into batch 0
    assert got == {
        (1, 1): (10, 10, 1),
        (1, 2): (30, 30, 1),
        (1, 3): (50, 60, 1),
        (1, 4): (70, 90, 1),
    }


def test_streaming_over_sql_multi_width_routed(spark, tmp_path):
    """Two ROWS frames with different widths over one PARTITION BY /
    ORDER BY route in a single statement (r7) and match the batch
    window oracle."""
    import time as _time

    from pyspark.sql import Window
    from flink_sql_toolkit_spark.engine import Engine

    rows = [(1, 1, 10), (1, 2, 20), (1, 3, 30), (1, 4, 40), (2, 1, 5)]
    schema = "k long, seq long, a long"
    write_rows(f"{tmp_path}/widthsql", rows, schema)
    engine = Engine(spark)
    sess = engine.open_session("over-width-sql")
    try:
        sess.execute_statement(
            f"""CREATE TABLE om_width (k BIGINT, seq BIGINT, a BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/widthsql',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, seq, "
            "SUM(a) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN 1 "
            "PRECEDING AND CURRENT ROW) AS s1, "
            "SUM(a) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN 3 "
            "PRECEDING AND CURRENT ROW) AS s3, "
            "COUNT(*) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN 3 "
            "PRECEDING AND CURRENT ROW) AS c3 "
            "FROM om_width"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 5:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        w1 = Window.partitionBy("k").orderBy("seq").rowsBetween(-1, 0)
        w3 = Window.partitionBy("k").orderBy("seq").rowsBetween(-3, 0)
        oracle = sorted(
            (r.k, r.seq, r.s1, r.s3, r.c3)
            for r in spark.createDataFrame(rows, schema)
            .select(
                "k", "seq",
                F.sum("a").over(w1).alias("s1"),
                F.sum("a").over(w3).alias("s3"),
                F.count(F.lit(1)).over(w3).alias("c3"),
            )
            .collect()
        )
        assert sorted(got) == oracle
    finally:
        sess.close()



def test_streaming_over_rows_unbounded_running(spark, tmp_path):
    """UNBOUNDED PRECEDING = running aggregates with O(1) per-key
    state: cross-batch accumulation, NULL skipping, and mixing with a
    bounded width in one pass (r7)."""
    from flink_sql_toolkit_spark.streaming.stateful import (
        UNBOUNDED,
        streaming_over_rows,
    )

    schema = "k long, seq long, a long"
    b0 = [(1, 1, 10), (1, 2, None)]
    b1 = [(1, 3, 30), (2, 1, None)]
    for i, rows in enumerate([b0, b1]):
        write_rows(f"{tmp_path}/inu/b{i}", rows, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/inu/*")
    )
    out = streaming_over_rows(
        stream, ["k"], ["seq"], None, 1,
        agg_specs=[
            ("sum", "a", UNBOUNDED), ("min", "a", UNBOUNDED),
            ("cnt", None, UNBOUNDED), ("sum", "a", 1),
        ],
    )
    _run_available_now(out, tmp_path, "over_unb")
    got = {
        (r.k, r.seq): (r.a_sum_unb, r.a_min, r.star_cnt, r.a_sum_1p)
        for r in spark.table("over_unb").collect()
    }
    assert got == {
        (1, 1): (10, 10, 1, 10),
        (1, 2): (10, 10, 2, 10),   # NULL skipped, COUNT(*) counts it
        (1, 3): (40, 10, 3, 30),   # running sum crosses the batch
        (2, 1): (None, None, 1, None),  # all-null so far
    }


def test_streaming_over_sql_unbounded_routed(spark, tmp_path):
    """`ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW` — the
    canonical Flink running aggregate — routes and matches the batch
    window oracle (r7)."""
    import time as _time

    from pyspark.sql import Window
    from flink_sql_toolkit_spark.engine import Engine

    rows = [(1, 1, 10), (1, 2, 20), (1, 3, 30), (2, 1, 5), (2, 2, 7)]
    schema = "k long, seq long, a long"
    write_rows(f"{tmp_path}/unbsql", rows, schema)
    engine = Engine(spark)
    sess = engine.open_session("over-unb-sql")
    try:
        sess.execute_statement(
            f"""CREATE TABLE om_unb (k BIGINT, seq BIGINT, a BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/unbsql',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, seq, "
            "SUM(a) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW) AS rs, "
            "AVG(a) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW) AS ra "
            "FROM om_unb"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 5:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        w = Window.partitionBy("k").orderBy("seq").rowsBetween(
            Window.unboundedPreceding, 0
        )
        oracle = sorted(
            (r.k, r.seq, r.rs, r.ra)
            for r in spark.createDataFrame(rows, schema)
            .select(
                "k", "seq",
                F.sum("a").over(w).alias("rs"),
                F.avg("a").over(w).alias("ra"),
            )
            .collect()
        )
        assert sorted(got) == oracle
    finally:
        sess.close()



def test_streaming_mr_within_cross_batch(spark, tmp_path):
    """WITHIN flows through the streaming NFA: a B arriving in a later
    micro-batch completes the match only when inside the A-row's time
    window (r7)."""
    from flink_sql_toolkit_spark.streaming.stateful import (
        streaming_match_recognize,
    )

    t = lambda m: dt.datetime(2026, 1, 1, 10, m)  # noqa: E731
    schema = "k long, ts timestamp, ev string"
    b0 = [(1, t(0), "a"), (2, t(0), "a")]
    b1 = [(1, t(5), "b"),     # in window -> match for key 1
          (2, t(30), "b"),    # out of window -> key 2 never matches
          (1, t(40), "a")]    # trailing row decides key 1's suffix
    for i, rows in enumerate([b0, b1]):
        write_rows(f"{tmp_path}/inmw/b{i}", rows, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/inmw/*")
    )
    out = streaming_match_recognize(
        stream,
        partition_by=["k"], order_by=["ts"], pattern="A B",
        define={"A": "ev = 'a'", "B": "ev = 'b'"},
        measures={"b_ts": "FIRST(B.ts)"},
        within_us=10 * 60 * 1_000_000,
    )
    _run_available_now(out, tmp_path, "mr_within")
    got = sorted((r.k, r.b_ts) for r in spark.table("mr_within").collect())
    assert got == [(1, t(5))]



def test_streaming_over_first_last_value(spark, tmp_path):
    """FIRST_VALUE/LAST_VALUE streaming OVER aggregates (r7): Flink's
    NULL-skipping semantics over bounded and UNBOUNDED frames,
    crossing micro-batches."""
    from flink_sql_toolkit_spark.streaming.stateful import (
        UNBOUNDED,
        streaming_over_rows,
    )

    schema = "k long, seq long, a long"
    b0 = [(1, 1, None), (1, 2, 20)]
    b1 = [(1, 3, 30), (1, 4, None)]
    for i, rows in enumerate([b0, b1]):
        write_rows(f"{tmp_path}/infl/b{i}", rows, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/infl/*")
    )
    out = streaming_over_rows(
        stream, ["k"], ["seq"], None, 1,
        agg_specs=[
            ("first", "a", UNBOUNDED), ("last", "a", UNBOUNDED),
            ("first", "a", 1), ("last", "a", 1),
        ],
    )
    _run_available_now(out, tmp_path, "over_fl")
    got = {
        (r.k, r.seq): (r.a_first_unb, r.a_last_unb, r.a_first_1p, r.a_last_1p)
        for r in spark.table("over_fl").collect()
    }
    assert got == {
        (1, 1): (None, None, None, None),   # only a NULL so far
        (1, 2): (20, 20, 20, 20),           # NULL skipped
        (1, 3): (20, 30, 20, 30),           # unb first sticks at 20
        (1, 4): (20, 30, 30, 30),           # frame {30, NULL}: both 30
    }


def test_streaming_over_sql_first_value_routed(spark, tmp_path):
    """FIRST_VALUE/LAST_VALUE route from SQL with the rest of the agg
    mix (r7)."""
    import time as _time

    from flink_sql_toolkit_spark.engine import Engine

    rows = [(1, 1, 10), (1, 2, 20), (2, 1, 7)]
    spark.createDataFrame(rows, "k long, seq long, a long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/flsql")
    engine = Engine(spark)
    sess = engine.open_session("fl-sql")
    try:
        sess.execute_statement(
            f"""CREATE TABLE fl_src (k BIGINT, seq BIGINT, a BIGINT)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/flsql',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, seq, "
            "FIRST_VALUE(a) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW) AS fv, "
            "SUM(a) OVER (PARTITION BY k ORDER BY seq ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW) AS rs "
            "FROM fl_src"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 3:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        assert sorted(got) == [(1, 1, 10, 10), (1, 2, 10, 30), (2, 1, 7, 7)]
    finally:
        sess.close()


# -- event-time re-buffering (VERDICT r6 ask #3) ----------------------


def _reorder_stream(spark, tmp_path, files, schema, delay="30 seconds"):
    for i, rows in enumerate(files):
        write_rows(f"{tmp_path}/in/b{i}", rows, schema)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
        .withWatermark("ts", delay)
    )


def test_first_n_event_time_reorder(spark, tmp_path):
    """A cross-batch out-of-order row must win the rank-1 pick when
    the stream re-buffers to event time: key 1's event-time-first row
    arrives in batch 1 AFTER batch 0 delivered a later-ts row —
    arrival order would emit the wrong row (r6 ask #3 done
    criterion)."""
    from flink_sql_toolkit_spark.streaming.stateful import streaming_first_n

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    schema = "k long, ts timestamp, tag string"
    b0 = [(1, t(40), "B")]
    b1 = [(1, t(20), "A"), (2, t(100), "x")]  # A is out-of-order
    b2 = [(3, t(200), "y")]                   # advances the watermark
    stream = _reorder_stream(spark, tmp_path, [b0, b1, b2], schema)
    out = streaming_first_n(stream, ["k"], ["ts"], 1, reorder_wm_col="ts")
    _run_available_now(out, tmp_path, "fn_reorder")
    got = sorted((r.k, r.tag) for r in spark.table("fn_reorder").collect())
    assert (1, "A") in got      # event-time order restored
    assert (1, "B") not in got  # arrival order would have emitted B


def test_over_rows_event_time_reorder(spark, tmp_path):
    """An OVER ROWS frame sees rows in event order across batches:
    the out-of-order t20 row slots BEFORE t40 in key 1's frame."""
    from flink_sql_toolkit_spark.streaming.stateful import streaming_over_rows

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    schema = "k long, ts timestamp, v long"
    b0 = [(1, t(40), 4)]
    b1 = [(1, t(20), 2), (2, t(100), 9)]
    b2 = [(3, t(200), 1)]
    stream = _reorder_stream(spark, tmp_path, [b0, b1, b2], schema)
    out = streaming_over_rows(
        stream, ["k"], ["ts"], "v", 1, aggs=("sum",), reorder_wm_col="ts"
    )
    _run_available_now(out, tmp_path, "or_reorder")
    got = {(r.k, r.ts): r.v_sum for r in spark.table("or_reorder").collect()}
    # event order: t20 frame [2] = 2; t40 frame [2, 4] = 6 — exactly
    # the batch rowsBetween result. Arrival order would give t40 -> 4.
    assert got[(1, t(20))] == 2
    assert got[(1, t(40))] == 6


def test_lag_event_time_reorder(spark, tmp_path):
    from flink_sql_toolkit_spark.streaming.stateful import streaming_lag

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    schema = "k long, ts timestamp, v long"
    b0 = [(1, t(40), 4)]
    b1 = [(1, t(20), 2), (2, t(100), 9)]
    b2 = [(3, t(200), 1)]
    stream = _reorder_stream(spark, tmp_path, [b0, b1, b2], schema)
    out = streaming_lag(stream, ["k"], ["ts"], "v", reorder_wm_col="ts")
    _run_available_now(out, tmp_path, "lag_reorder")
    got = {(r.k, r.ts): r.v_lag for r in spark.table("lag_reorder").collect()}
    # batch LAG over event order: t20 -> NULL, t40 -> 2
    assert got[(1, t(20))] is None
    assert got[(1, t(40))] == 2


def test_mr_event_time_reorder(spark, tmp_path):
    """Flink CEP event-time buffering: pattern A B matches when the
    A-row arrives a batch LATE — the NFA sees event order, matching
    the batch operator's match set (r6 ask #3 done criterion)."""
    from flink_sql_toolkit_spark.operators.match_recognize import match_recognize
    from flink_sql_toolkit_spark.streaming.stateful import (
        streaming_match_recognize,
    )

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    schema = "k long, ts timestamp, ev string"
    b0 = [(1, t(40), "purchase")]                   # B arrives first
    b1 = [(1, t(20), "view"), (2, t(100), "view")]  # A arrives late
    b2 = [(3, t(200), "view")]                      # advances watermark
    stream = _reorder_stream(spark, tmp_path, [b0, b1, b2], schema)
    kwargs = dict(
        partition_by=["k"], order_by=["ts"], pattern="A B",
        define={"A": "ev = 'view'", "B": "ev = 'purchase'"},
        measures={"a_ts": "FIRST(A.ts)", "b_ts": "FIRST(B.ts)"},
    )
    out = streaming_match_recognize(stream, reorder_wm_col="ts", **kwargs)
    _run_available_now(out, tmp_path, "mr_reorder")
    got = sorted(
        (r.k, r.a_ts, r.b_ts) for r in spark.table("mr_reorder").collect()
    )
    # arrival order saw B before A -> no match; event order matches
    assert got == [(1, t(20), t(40))]
    batch = sorted(
        (r.k, r.a_ts, r.b_ts)
        for r in match_recognize(
            spark.createDataFrame(b0 + b1, schema), **kwargs
        ).collect()
    )
    assert got == batch  # == the batch engine's match set


def test_dedup_sql_reorders_with_watermark_ddl(spark, tmp_path):
    """E2E: a WATERMARK DDL on the source table enables event-time
    re-buffering in the SQL-routed dedup — the rank-1 pick matches
    the batch recipe despite out-of-order arrival being impossible to
    distinguish in a single directory read, because rows only emit
    once the watermark passes them."""
    import time as _time

    from flink_sql_toolkit_spark.engine import Engine

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    rows = [(1, t(10), "first"), (1, t(2), "earliest"), (2, t(300), "far")]
    spark.createDataFrame(rows, "k long, ts timestamp, tag string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/dedupwm")
    engine = Engine(spark)
    sess = engine.open_session("dedup-wm")
    try:
        sess.execute_statement(
            f"""CREATE TABLE dwm_src (k BIGINT, ts TIMESTAMP, tag STRING,
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)
            WITH ('connector'='filesystem', 'path'='{tmp_path}/dedupwm',
                  'format'='parquet')"""
        )
        op = sess.execute_statement(
            "SELECT k, tag FROM (SELECT *, ROW_NUMBER() OVER ("
            "PARTITION BY k ORDER BY ts) AS rn FROM dwm_src) WHERE rn = 1"
        )
        got, token = [], 0
        deadline = _time.time() + 60
        while _time.time() < deadline and len(got) < 1:
            page = op.fetch(token)
            token = page["nextResultToken"]
            got.extend(tuple(r) for r in page["data"])
            _time.sleep(0.5)
        op.cancel()
        # key 1 released once the watermark (t295) passed: the
        # event-time-earliest row wins; key 2's row stays held inside
        # the final watermark window (unbounded-stream semantics)
        assert (1, "earliest") in got
        assert (1, "first") not in got
    finally:
        sess.close()


def test_running_sum_bigint_overflow_typed():
    """A running SUM that leaves BIGINT range is a typed error, not an
    opaque Arrow state-write crash (review r7)."""
    import pytest as _pytest

    from flink_sql_toolkit_spark.streaming.stateful import _running_col_aggs

    big = 2**61
    out = _running_col_aggs([big, big], [0, 0, 0, 0], True)
    assert out["sum"] == [big, 2 * big]  # arbitrary-precision path, in range
    with _pytest.raises(ValueError, match="BIGINT range"):
        _running_col_aggs([big, big, big, big], [0, 0, 0, 0], True)


# -- the per-key shell (_keyed_state) ----------------------------------


def test_keys_spanning_arrow_chunks_sort_once(spark, tmp_path):
    """A key whose micro-batch spans several Arrow chunks is sorted
    as one: with two-row chunks and arrival order ts 3,1,2,4,6,5 in
    one file, LAG, RANK/ROW_NUMBER and first-N must each equal the
    batch window function over the same rows."""
    from pyspark.sql import Window

    from flink_sql_toolkit_spark.streaming.stateful import (
        streaming_first_n,
        streaming_lag,
        streaming_rank,
    )

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    schema = "k long, ts timestamp, v long"
    rows = [(1, t(s), 10 * s) for s in (3, 1, 2, 4, 6, 5)]
    write_rows(f"{tmp_path}/in", rows, schema)
    w = Window.partitionBy("k").orderBy("ts")
    batch = spark.createDataFrame(rows, schema)
    want_lag = {r.ts: r.lag for r in batch.select("ts", F.lag("v").over(w).alias("lag")).collect()}
    want_rank = {
        r.ts: (r.rn, r.rk, r.drk)
        for r in batch.select(
            "ts", F.row_number().over(w).alias("rn"), F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
        ).collect()
    }
    want_first2 = sorted(
        r.ts for r in batch.select("ts", F.row_number().over(w).alias("rn"))
        .where("rn <= 2").collect()
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        def run(out, name):
            _run_available_now(out, tmp_path, name)
            return spark.table(name).collect()

        def stream():
            return spark.readStream.schema(schema).parquet(f"{tmp_path}/in")

        got_lag = {r.ts: r.v_lag for r in run(streaming_lag(stream(), ["k"], ["ts"], "v"), "chunk_lag")}
        got_rank = {
            r.ts: (r.ts_rownum, r.ts_rnk, r.ts_drnk)
            for r in run(streaming_rank(stream(), ["k"], ["ts"]), "chunk_rank")
        }
        got_first2 = sorted(
            r.ts for r in run(streaming_first_n(stream(), ["k"], ["ts"], 2), "chunk_first2")
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert got_lag == want_lag
    assert got_rank == want_rank
    assert got_first2 == want_first2


# (operator, variant) -> (state struct after the version field, timeout);
# what a savepoint holds, so a change here breaks resuming old jobs
_STATE_LAYOUTS = {
    ("lag", "plain"): ("ring:array<bigint>", "NoTimeout"),
    ("lag", "ttl"): ("ring:array<bigint>", "ProcessingTimeTimeout"),
    ("lag", "reorder"): ("held:binary,ring:array<bigint>", "EventTimeTimeout"),
    ("lead", "plain"): ("pending:binary", "NoTimeout"),
    ("lead", "ttl"): ("pending:binary", "ProcessingTimeTimeout"),
    ("lead", "reorder"): ("held:binary,pending:binary", "EventTimeTimeout"),
    ("nth_value", "plain"): ("seen:bigint,nth:bigint", "NoTimeout"),
    ("nth_value", "ttl"): ("seen:bigint,nth:bigint", "ProcessingTimeTimeout"),
    ("nth_value", "reorder"): ("held:binary,seen:bigint,nth:bigint", "EventTimeTimeout"),
    ("rank", "plain"): (
        "seen:bigint,dense:bigint,last_rank:bigint,last_val:string", "NoTimeout"),
    ("rank", "ttl"): (
        "seen:bigint,dense:bigint,last_rank:bigint,last_val:string",
        "ProcessingTimeTimeout"),
    ("rank", "reorder"): (
        "held:binary,seen:bigint,dense:bigint,last_rank:bigint,last_val:string",
        "EventTimeTimeout"),
    ("first_n", "plain"): ("emitted:bigint", "NoTimeout"),
    ("first_n", "ttl"): ("emitted:bigint", "ProcessingTimeTimeout"),
    ("first_n", "reorder"): ("held:binary,emitted:bigint", "EventTimeTimeout"),
    ("over_rows", "plain"): (
        "seen:bigint,f0:array<bigint>,u0:array<bigint>", "NoTimeout"),
    ("over_rows", "ttl"): (
        "seen:bigint,f0:array<bigint>,u0:array<bigint>", "ProcessingTimeTimeout"),
    ("over_rows", "reorder"): (
        "held:binary,seen:bigint,f0:array<bigint>,u0:array<bigint>",
        "EventTimeTimeout"),
    ("match_recognize", "plain"): ("buf:binary,match_no:bigint", "NoTimeout"),
    ("match_recognize", "ttl"): (
        "buf:binary,match_no:bigint", "ProcessingTimeTimeout"),
    ("match_recognize", "reorder"): ("buf:binary,match_no:bigint", "EventTimeTimeout"),
    ("keep_last", "plain"): ("top:binary", "NoTimeout"),
    ("keep_last", "ttl"): ("top:binary", "ProcessingTimeTimeout"),
    ("over_range", "plain"): ("ts:array<bigint>,f0:array<bigint>", "NoTimeout"),
    ("over_range", "ttl"): (
        "ts:array<bigint>,f0:array<bigint>", "ProcessingTimeTimeout"),
}


def test_state_layouts_are_pinned(spark):
    """Every operator's state struct and timeout, read from the
    FlatMapGroupsInPandasWithState node of the analyzed plan, with
    reorder off and on (TTL-only operators with and without a TTL),
    matches the pinned table — with STATE_LAYOUT_VERSION unchanged, a
    savepoint written by an earlier build then still resumes."""
    from flink_sql_toolkit_spark.streaming import stateful as S

    assert S.STATE_LAYOUT_VERSION == 2
    src = (
        spark.readStream.format("rate").load()
        .selectExpr("value AS k", "timestamp AS ts", "value AS v", "'x' AS ev")
        .withWatermark("ts", "1 second")
    )
    mr = dict(pattern="A B", define={"A": "ev = 'x'", "B": "ev = 'y'"},
              measures={"n": "COUNT(A.*)"})
    ops = {
        "lag": lambda **kw: S.streaming_lag(src, ["k"], ["ts"], "v", **kw),
        "lead": lambda **kw: S.streaming_lead(src, ["k"], ["ts"], "v", **kw),
        "nth_value": lambda **kw: S.streaming_nth_value(src, ["k"], ["ts"], "v", 2, **kw),
        "rank": lambda **kw: S.streaming_rank(src, ["k"], ["ts"], **kw),
        "first_n": lambda **kw: S.streaming_first_n(src, ["k"], ["ts"], 1, **kw),
        "over_rows": lambda **kw: S.streaming_over_rows(
            src, ["k"], ["ts"], None, 2,
            agg_specs=[("sum", "v", 2), ("max", "v", S.UNBOUNDED), ("cnt", None)],
            **kw),
        "match_recognize": lambda **kw: S.streaming_match_recognize(
            src, ["k"], ["ts"], **mr, **kw),
        "keep_last": lambda **kw: S.streaming_keep_last(src, ["k"], "ts", 1, **kw),
        "over_range": lambda **kw: S.streaming_over_range(
            src, ["k"], "ts", "v", "10 seconds", **kw),
    }

    def state_node(df):
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            n = stack.pop()
            if n.getClass().getSimpleName() == "FlatMapGroupsInPandasWithState":
                return n
            ch = n.children()
            stack.extend(ch.apply(i) for i in range(ch.size()))
        raise AssertionError("no FlatMapGroupsInPandasWithState node")

    variants = {"plain": {}, "ttl": {"ttl_ms": 1000}, "reorder": {"reorder_wm_col": "ts"}}
    got = {}
    for (name, var) in _STATE_LAYOUTS:
        node = state_node(ops[name](**variants[var]))
        struct = node.stateType().simpleString()
        assert struct.startswith("struct<sv:int,"), struct
        got[(name, var)] = (struct[len("struct<sv:int,"):-1], node.timeout().toString())
    assert got == _STATE_LAYOUTS


def test_streaming_mr_ttl_expiry_flushes_undecided_suffix(spark, tmp_path):
    """An idle key's undecided suffix is decided as batch would decide
    it when table.exec.state.ttl expires (A+ B? could still grow, so
    streaming holds it), and the key's state is evicted."""
    import time

    from flink_sql_toolkit_spark.operators.match_recognize import match_recognize
    from flink_sql_toolkit_spark.streaming.stateful import streaming_match_recognize

    schema = "user_id long, seq long, event_type string"
    held = [(1, 1, "a"), (1, 2, "a")]
    write_rows(f"{tmp_path}/mttl/b0", held, schema)
    kwargs = dict(
        partition_by=["user_id"], order_by=["seq"], pattern="A+ B?",
        define={"A": "event_type = 'a'", "B": "event_type = 'b'"},
        measures={"first_a": "FIRST(A.seq)", "last_a": "LAST(A.seq)",
                  "b": "FIRST(B.seq)", "n": "COUNT(A.*)"},
    )
    stream = spark.readStream.schema(schema).parquet(f"{tmp_path}/mttl/*")
    out = streaming_match_recognize(stream, ttl_ms=2000, **kwargs)
    q = (
        out.writeStream.format("memory")
        .queryName("mttl_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_mttl"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not q.recentProgress:
            time.sleep(0.2)
        assert spark.table("mttl_out").count() == 0  # undecided: held
        time.sleep(3)  # let the 2s TTL lapse with the key idle
        # new data for ANOTHER key triggers the timeout sweep
        write_rows(f"{tmp_path}/mttl/b1", [(99, 1, "c")], schema)
        got, sweep = [], []
        while time.time() < deadline and not (got and sweep):
            got = spark.table("mttl_out").collect()
            # the micro-batch that read key 99's one row
            sweep = [p for p in q.recentProgress if p["numInputRows"] == 1]
            time.sleep(0.5)
    finally:
        q.stop()
    cols = ("user_id", "first_a", "last_a", "b", "n")
    want = [
        tuple(r[c] for c in cols)
        for r in match_recognize(spark.createDataFrame(held, schema), **kwargs).collect()
    ]
    assert [tuple(r[c] for c in cols) for r in got] == want == [(1, 1, 2, None, 2)]
    # only key 99's state is left: key 1 was evicted on expiry
    assert sweep[0]["stateOperators"][0]["numRowsTotal"] == 1

"""Engine lifecycle tests: sessions, statements, commands, DDL,
streaming jobs — the reference's gateway contract (SURVEY.md §3)."""

from __future__ import annotations

import time

import pytest

from flink_sql_toolkit_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


@pytest.fixture()
def session(engine):
    s = engine.open_session("test")
    yield s
    s.close()


def test_batch_select_paged(session, sf_dir):
    session.spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView("nation")
    op = session.execute_statement("SELECT n_name FROM nation ORDER BY n_nationkey")
    page = op.fetch(0)
    assert page["resultType"] == "PAYLOAD"
    assert page["isQueryResult"] is True
    assert len(page["data"]) == 25
    assert page["columns"][0]["name"] == "n_name"
    assert op.fetch(1)["resultType"] == "EOS"


def test_multi_statement_script(session):
    ops = session.execute_script(
        "SET 'pipeline.name'='demo'; SELECT 1 AS one; SELECT 'a;b' AS s"
    )
    assert len(ops) == 3
    assert ops[1].fetch()["data"] == [[1]]
    assert ops[2].fetch()["data"] == [["a;b"]]


def test_set_show_reset(session):
    session.execute_statement("SET 'execution.runtime-mode'='streaming'")
    page = session.execute_statement("SET").fetch()
    assert ["execution.runtime-mode", "streaming"] in page["data"]
    session.execute_statement("RESET 'execution.runtime-mode'")
    page = session.execute_statement("SET").fetch()
    assert ["execution.runtime-mode", "streaming"] not in page["data"]


def test_show_commands(session):
    assert session.execute_statement("SHOW CURRENT CATALOG").fetch()["data"] == [["spark_catalog"]]
    assert session.execute_statement("SHOW CURRENT DATABASE").fetch()["data"] == [["default"]]
    mods = session.execute_statement("SHOW MODULES").fetch()["data"]
    assert ["core", True] in mods
    session.execute_statement("LOAD MODULE hive")
    assert ["hive", True] in session.execute_statement("SHOW MODULES").fetch()["data"]
    session.execute_statement("UNLOAD MODULE hive")


def test_create_connector_table_and_describe(session):
    session.execute_statement(
        """
        CREATE TABLE gen_orders (
          order_id BIGINT,
          price DOUBLE,
          quantity INT,
          order_time TIMESTAMP(3) METADATA FROM 'timestamp' VIRTUAL,
          total AS price * quantity,
          WATERMARK FOR order_time AS order_time - INTERVAL '5' SECOND,
          PRIMARY KEY (order_id) NOT ENFORCED
        ) WITH ('connector' = 'datagen', 'rows-per-second' = '100', 'number-of-rows' = '10')
        """
    )
    page = session.execute_statement("DESCRIBE gen_orders").fetch()
    names = [r[0] for r in page["data"]]
    assert names == ["order_id", "price", "quantity", "order_time", "total"]
    keys = {r[0]: r[3] for r in page["data"]}
    assert keys["order_id"] == "PRI(NOT ENFORCED)"
    assert [c["name"] for c in page["columns"]] == ["name", "type", "null", "key", "extras", "watermark"]
    # in batch mode the registered view is queryable through plain SQL
    session.execute_statement("SET 'execution.runtime-mode'='batch'")
    rows = session.execute_statement("SELECT order_id, total FROM gen_orders").fetch()["data"]
    assert len(rows) == 10
    session.execute_statement("SET 'execution.runtime-mode'='streaming'")


def test_streaming_insert_job_lifecycle(session):
    session.execute_statement(
        "CREATE TABLE src (v BIGINT) WITH ('connector'='datagen', 'rows-per-second'='50')"
    )
    session.execute_statement(
        "CREATE TABLE sink (v BIGINT) WITH ('connector'='blackhole')"
    )
    op = session.execute_statement("INSERT INTO sink SELECT v FROM src")
    assert op.job_id is not None
    jobs = session.execute_statement("SHOW JOBS").fetch()["data"]
    assert any(j[0] == op.job_id and j[2] == "RUNNING" for j in jobs)
    # DESCRIBE JOB 'id' (Flink 1.19): the one matching SHOW JOBS row
    desc = session.execute_statement(f"DESCRIBE JOB '{op.job_id}'").fetch()["data"]
    assert len(desc) == 1 and desc[0][0] == op.job_id and desc[0][2] == "RUNNING"
    import pytest as _pytest

    with _pytest.raises(LookupError):
        session.execute_statement("DESCRIBE JOB 'no-such-job'")
    session.execute_statement(f"STOP JOB '{op.job_id}'")
    deadline = time.time() + 10
    while time.time() < deadline:
        jobs = session.execute_statement("SHOW JOBS").fetch()["data"]
        if all(j[2] != "RUNNING" for j in jobs if j[0] == op.job_id):
            break
        time.sleep(0.2)
    assert all(j[2] != "RUNNING" for j in jobs if j[0] == op.job_id)


def test_streaming_select_ring_buffer(session):
    session.execute_statement(
        "CREATE TABLE ticks (v BIGINT) WITH ('connector'='datagen', 'rows-per-second'='200')"
    )
    op = session.execute_statement("SELECT v FROM ticks")
    assert op.status == "RUNNING"
    token, got = 0, 0
    deadline = time.time() + 30
    while time.time() < deadline and got == 0:
        page = op.fetch(token)
        token = page["nextResultToken"]
        got += len(page["data"])
        assert page["resultType"] in ("PAYLOAD", "NOT_READY")
        time.sleep(0.3)
    assert got > 0
    op.cancel()
    assert op.status == "CANCELED"


def test_explain_variants(session, sf_dir):
    session.spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView("nation")
    plan = session.execute_statement("EXPLAIN PLAN FOR SELECT * FROM nation").fetch()["data"][0][0]
    assert "Physical Plan" in plan
    cost = session.execute_statement("EXPLAIN ESTIMATED_COST SELECT * FROM nation").fetch()["data"][0][0]
    assert "sizeInBytes" in cost or "Statistics" in cost


def test_unsupported_statements(session):
    with pytest.raises(NotImplementedError):
        session.execute_statement("UPDATE t SET x = 1")
    with pytest.raises(NotImplementedError):
        session.execute_statement("COMPILE PLAN '/tmp/p.json' FOR INSERT INTO a SELECT 1")


def test_create_function_through_engine(session):
    """§2.12: CREATE [TEMPORARY] FUNCTION — SQL UDFs inline into the
    plan; SHOW FUNCTIONS lists them."""
    session.execute_statement(
        "CREATE TEMPORARY FUNCTION plus_one(x INT) RETURNS INT RETURN x + 1"
    )
    assert session.execute_statement("SELECT plus_one(41) AS v").fetch()["data"] == [[42]]
    names = [r[0] for r in session.execute_statement("SHOW FUNCTIONS").fetch()["data"]]
    assert "plus_one" in names
    # the built-in shim surface is present too
    assert session.execute_statement("SELECT SPLIT_INDEX('a.b.c', '.', 0) AS s").fetch()[
        "data"
    ] == [["a"]]


def test_async_submit_not_ready_then_payload(session, sf_dir):
    session.spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders_a")
    op = session.submit_statement(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders_a GROUP BY o_orderstatus"
    )
    deadline = time.time() + 60
    page = op.fetch(0)
    while page["resultType"] == "NOT_READY" and time.time() < deadline:
        time.sleep(0.1)
        page = op.fetch(0)
    assert page["resultType"] == "PAYLOAD"
    assert sum(r[1] for r in page["data"]) == 1500
    assert op.status == "FINISHED"


def test_async_submit_error_surfaces(session):
    op = session.submit_statement("SELECT * FROM no_such_table_xyz")
    deadline = time.time() + 30
    while op.status == "RUNNING" and time.time() < deadline:
        time.sleep(0.1)
    assert op.status == "ERROR"
    with pytest.raises(Exception, match="no_such_table_xyz"):
        op.fetch(0)


def test_truncate_analyze(session):
    session.execute_statement("CREATE TABLE IF NOT EXISTS perm_probe (a INT) USING parquet")
    session.execute_statement("INSERT INTO perm_probe VALUES (1), (2)")
    session.execute_statement("ANALYZE TABLE perm_probe COMPUTE STATISTICS")
    session.execute_statement("TRUNCATE TABLE perm_probe")
    assert session.execute_statement("SELECT COUNT(*) AS n FROM perm_probe").fetch()["data"] == [[0]]
    session.execute_statement("DROP TABLE perm_probe")


def test_session_auto_recovery(engine):
    sess = engine.get_session("nonexistent-handle")
    assert sess.name == "default"
    assert sess.execute_statement("SELECT 1 AS x").fetch()["data"] == [[1]]


def test_tvf_through_engine(session, sf_dir):
    session.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = session.spark.read.parquet(f"{sf_dir}/events.parquet")
    raw.createOrReplaceTempView("raw_events")
    # testdata has shipped ts as both TIMESTAMP(NANOS)-as-long and
    # timestamp[us]; normalize to a timestamp either way
    ts_expr = (
        "timestamp_micros(ts div 1000)"
        if dict(raw.dtypes)["ts"] == "bigint"
        else "ts"
    )
    session.execute_statement(
        f"CREATE TEMPORARY VIEW events AS SELECT event_id, {ts_expr} AS ts, user_id FROM raw_events"
    )
    op = session.execute_statement(
        "SELECT window_start, window_end, COUNT(*) AS n FROM "
        "TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
        "GROUP BY window_start, window_end"
    )
    rows = op.fetch()["data"]
    assert len(rows) > 0
    assert sum(r[2] for r in rows) == 1000


def _make_fs_table(session, tmp_path, name="dml_t"):
    session.execute_statement("SET 'execution.runtime-mode'='batch'")
    path = tmp_path / name
    session.spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, tag string, amt double",
    ).write.parquet(str(path))
    session.execute_statement(
        f"CREATE TABLE {name} (id BIGINT, tag STRING, amt DOUBLE) WITH "
        f"('connector'='filesystem', 'path'='{path}', 'format'='parquet')"
    )
    return name


def _fetch_all(session, name):
    op = session.execute_statement(f"SELECT id, tag, amt FROM {name} ORDER BY id")
    return [tuple(r) for r in op.fetch()["data"]]


def test_update_copy_on_write(session, tmp_path):
    t = _make_fs_table(session, tmp_path)
    op = session.execute_statement(f"UPDATE {t} SET amt = amt * 2, tag = 'hi' WHERE id <= 2")
    assert op.fetch()["data"] == [[2]]
    assert _fetch_all(session, t) == [
        (1, "hi", 20.0), (2, "hi", 40.0), (3, "c", 30.0), (4, "d", 40.0),
    ]


def test_delete_copy_on_write(session, tmp_path):
    t = _make_fs_table(session, tmp_path)
    assert session.execute_statement(f"DELETE FROM {t} WHERE tag = 'c'").fetch()["data"] == [[1]]
    assert [r[0] for r in _fetch_all(session, t)] == [1, 2, 4]
    # DELETE without WHERE empties the table but keeps the schema
    assert session.execute_statement(f"DELETE FROM {t}").fetch()["data"] == [[3]]
    assert _fetch_all(session, t) == []


def test_merge_copy_on_write(session, tmp_path):
    t = _make_fs_table(session, tmp_path)
    session.spark.createDataFrame(
        [(2, 200.0), (3, -1.0), (5, 500.0)], "id long, amt double"
    ).createOrReplaceTempView("dml_src")
    op = session.execute_statement(f"""
        MERGE INTO {t} tgt USING dml_src s ON tgt.id = s.id
        WHEN MATCHED AND s.amt < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET amt = s.amt
        WHEN NOT MATCHED THEN INSERT (id, tag, amt) VALUES (s.id, 'new', s.amt)
    """)
    assert op.fetch()["data"] == [[3]]  # 1 update + 1 delete + 1 insert
    assert _fetch_all(session, t) == [
        (1, "a", 10.0), (2, "b", 200.0), (4, "d", 40.0), (5, "new", 500.0),
    ]


def test_merge_subquery_source_and_insert_star(session, tmp_path):
    t = _make_fs_table(session, tmp_path, name="dml_t2")
    op = session.execute_statement(f"""
        MERGE INTO {t} AS tgt
        USING (SELECT 9 AS id, 'z' AS tag, 9.0 AS amt) AS s ON tgt.id = s.id
        WHEN NOT MATCHED THEN INSERT *
    """)
    assert op.fetch()["data"] == [[1]]
    assert _fetch_all(session, t)[-1] == (9, "z", 9.0)


def test_insert_overwrite_replaces_rows(session, tmp_path):
    """INSERT OVERWRITE into a filesystem table replaces its rows; it
    used to append (VALUES (1),(2) then OVERWRITE VALUES (3) read back
    [1, 2, 3])."""
    session.execute_statement("SET 'execution.runtime-mode'='batch'")
    session.execute_statement(
        f"CREATE TABLE ow_t (x INT) WITH ('connector'='filesystem', "
        f"'path'='{tmp_path / 'ow_t'}', 'format'='parquet')"
    )
    session.execute_statement("INSERT INTO ow_t VALUES (1), (2)")
    session.execute_statement("INSERT OVERWRITE ow_t VALUES (3)")
    rows = session.execute_statement("SELECT x FROM ow_t").fetch()["data"]
    assert [r[0] for r in rows] == [3]
    # a query that reads its own target runs before the old rows go
    session.execute_statement("INSERT OVERWRITE ow_t SELECT x + 10 FROM ow_t")
    rows = session.execute_statement("SELECT x FROM ow_t").fetch()["data"]
    assert [r[0] for r in rows] == [13]


def test_insert_overwrite_partitioned_keeps_other_partitions(session, tmp_path):
    """On a partitioned table, as in Flink, OVERWRITE replaces only the
    partitions the query writes."""
    session.execute_statement("SET 'execution.runtime-mode'='batch'")
    session.execute_statement(
        f"CREATE TABLE ow_p (x INT, p INT) PARTITIONED BY (p) WITH "
        f"('connector'='filesystem', 'path'='{tmp_path / 'ow_p'}', 'format'='parquet')"
    )
    session.execute_statement("INSERT INTO ow_p VALUES (1, 1), (2, 2), (3, 2)")
    session.execute_statement("INSERT OVERWRITE ow_p VALUES (4, 2)")
    rows = session.execute_statement("SELECT x, p FROM ow_p ORDER BY x").fetch()["data"]
    assert [tuple(r) for r in rows] == [(1, 1), (4, 2)]
    session.execute_statement("INSERT OVERWRITE ow_p SELECT x + 10, p FROM ow_p WHERE p = 2")
    rows = session.execute_statement("SELECT x, p FROM ow_p ORDER BY x").fetch()["data"]
    assert [tuple(r) for r in rows] == [(1, 1), (14, 2)]


def test_insert_overwrite_rejected_when_streaming_or_not_filesystem(session, tmp_path):
    """Flink supports INSERT OVERWRITE in batch mode, into sinks that
    can overwrite (the filesystem connector here) only."""
    session.execute_statement(
        "CREATE TABLE ow_src (x INT) WITH ('connector'='datagen', 'rows-per-second'='5')"
    )
    session.execute_statement(
        f"CREATE TABLE ow_fs (x INT) WITH ('connector'='filesystem', "
        f"'path'='{tmp_path / 'ow_fs'}', 'format'='parquet')"
    )
    with pytest.raises(ValueError, match="only in batch mode.*streaming"):
        session.execute_statement("INSERT OVERWRITE ow_fs SELECT x FROM ow_src")
    assert not session.jobs.list()
    session.execute_statement("SET 'execution.runtime-mode'='batch'")
    session.execute_statement("CREATE TABLE ow_bh (x INT) WITH ('connector'='blackhole')")
    with pytest.raises(ValueError, match="'ow_bh' is blackhole"):
        session.execute_statement("INSERT OVERWRITE ow_bh VALUES (1)")


def test_dml_rejected_on_non_filesystem(session):
    session.execute_statement(
        "CREATE TABLE dml_bh (id BIGINT) WITH ('connector'='blackhole')"
    )
    with pytest.raises(NotImplementedError, match="filesystem"):
        session.execute_statement("DELETE FROM dml_bh WHERE id = 1")


def test_update_preserves_partitioned_layout(session, tmp_path):
    session.execute_statement("SET 'execution.runtime-mode'='batch'")
    path = tmp_path / "part_t"
    session.spark.createDataFrame(
        [(1, "eu", 1.0), (2, "us", 2.0), (3, "eu", 3.0)], "id long, region string, amt double"
    ).write.partitionBy("region").parquet(str(path))
    session.execute_statement(
        f"CREATE TABLE part_t (id BIGINT, region STRING, amt DOUBLE) "
        f"PARTITIONED BY (region) WITH "
        f"('connector'='filesystem', 'path'='{path}', 'format'='parquet')"
    )
    import os

    us_inodes = {
        f: os.stat(path / "region=us" / f).st_ino
        for f in os.listdir(path / "region=us")
        if f.endswith(".parquet")
    }
    op = session.execute_statement("UPDATE part_t SET amt = 0.0 WHERE region = 'eu'")
    assert op.fetch()["data"] == [[2]]
    # the staged rewrite kept the hive-style partition directories
    assert sorted(d for d in os.listdir(path) if d.startswith("region=")) == [
        "region=eu", "region=us",
    ]
    # partition-pruned COW: the untouched partition's files are the
    # SAME files (same inode), not a rewrite
    assert {
        f: os.stat(path / "region=us" / f).st_ino
        for f in os.listdir(path / "region=us")
        if f.endswith(".parquet")
    } == us_inodes
    rows = session.execute_statement(
        "SELECT id, amt FROM part_t ORDER BY id"
    ).fetch()["data"]
    assert rows == [[1, 0.0], [2, 2.0], [3, 0.0]]
    # deleting every row of a partition removes its directory,
    # leaving the other partition untouched
    assert session.execute_statement(
        "DELETE FROM part_t WHERE region = 'eu'"
    ).fetch()["data"] == [[2]]
    assert sorted(d for d in os.listdir(path) if d.startswith("region=")) == ["region=us"]
    assert [r[0] for r in session.execute_statement(
        "SELECT id FROM part_t"
    ).fetch()["data"]] == [2]


def test_use_catalog_unknown_is_typed_error(session):
    with pytest.raises(LookupError, match="cannot be found"):
        session.execute_statement("USE CATALOG my_catalog")
    # the built-in catalog still switches fine
    page = session.execute_statement("USE CATALOG spark_catalog").fetch()
    assert page["data"] == [["OK"]]


def test_cluster_overview(engine, session):
    """Engine analogue of the reference's cluster/TaskManager
    polling: executors as taskmanagers, cores as slots, running jobs
    from the session registries."""
    ov = engine.cluster_overview()
    assert ov["slots_total"] >= 1
    assert 0 <= ov["slots_available"] <= ov["slots_total"]
    assert isinstance(ov["taskmanagers"], list) and ov["taskmanagers"]
    tm = ov["taskmanagers"][0]
    assert {"host", "port", "numRunningTasks", "cacheSize"} <= set(tm)
    assert ov["jobs_running"] >= 0


def test_concurrent_sessions_are_isolated(engine):
    """Gateway property: several sessions submit statements in
    parallel over the shared SparkContext; results do not bleed
    across sessions and temp views stay session-scoped."""
    import concurrent.futures

    def run(i: int):
        s = engine.open_session(f"conc{i}")
        try:
            s.execute_statement(
                f"CREATE TEMPORARY VIEW conc_v AS SELECT {i} AS v"
            )
            return s.execute_statement("SELECT v FROM conc_v").fetch()["data"][0][0]
        finally:
            s.close()

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as ex:
        results = sorted(ex.map(run, range(4)))
    assert results == [0, 1, 2, 3]


def test_jdbc_e2e_through_engine(session):
    """CREATE TABLE WITH ('connector'='jdbc') → INSERT → SELECT
    round-trips through the engine against in-memory Derby (embedded
    driver on Spark's classpath; reference surface
    test/syntax-test.fsql:639-651)."""
    session.execute_statement(
        """
        CREATE TABLE jdbc_users (
          id BIGINT,
          name STRING
        ) WITH (
          'connector' = 'jdbc',
          'url' = 'jdbc:derby:memory:engine_e2e;create=true',
          'table-name' = 'users',
          'driver' = 'org.apache.derby.jdbc.EmbeddedDriver'
        )
        """
    )
    session.execute_statement("SET 'execution.runtime-mode'='batch'")
    try:
        session.execute_statement(
            "INSERT INTO jdbc_users VALUES (1, 'ada'), (2, 'grace')"
        )
        rows = session.execute_statement(
            "SELECT id, name FROM jdbc_users ORDER BY id"
        ).fetch()["data"]
        assert [list(r) for r in rows] == [[1, "ada"], [2, "grace"]]
        # INSERT ... SELECT appends through the same writer path
        session.execute_statement(
            "INSERT INTO jdbc_users SELECT id + 2, upper(name) FROM jdbc_users"
        )
        rows = session.execute_statement(
            "SELECT count(*) AS n FROM jdbc_users"
        ).fetch()["data"]
        assert rows[0][0] == 4
    finally:
        session.execute_statement("SET 'execution.runtime-mode'='streaming'")


def test_error_condition_helper():
    """Error-class extraction prefers getCondition/getErrorClass and
    degrades to '' — the streaming fallbacks branch on stable codes,
    not message text (ADVICE r5)."""
    from flink_sql_toolkit_spark.engine import _error_condition

    class _Modern(Exception):
        def getCondition(self):
            return "NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING"

    class _Legacy(Exception):
        def getErrorClass(self):
            return "_LEGACY_ERROR_TEMP_3102"

    class _Broken(Exception):
        def getCondition(self):
            raise RuntimeError("accessor broke")

    assert _error_condition(_Modern()) == "NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING"
    assert _error_condition(_Legacy()) == "_LEGACY_ERROR_TEMP_3102"
    assert _error_condition(_Broken()) == ""
    assert _error_condition(ValueError("plain")) == ""


# -- CTAS (Flink 1.16, FLIP-218) --------------------------------------


def test_ctas_batch_roundtrip(session, tmp_path):
    """CREATE TABLE … WITH (…) AS SELECT: schema derives from the
    query, data is written inline, the table reads back."""
    import time

    session.execute_statement(
        f"CREATE TABLE ctas_rt WITH ('connector'='filesystem', "
        f"'path'='{tmp_path}/ctas_rt', 'format'='parquet') AS "
        "SELECT 1 AS a, 'x' AS b, CAST(2.5 AS DOUBLE) AS c"
    )
    desc = session.execute_statement("DESCRIBE ctas_rt").fetch()["data"]
    assert [(r[0], r[1]) for r in desc] == [
        ("a", "INT"), ("b", "STRING"), ("c", "DOUBLE"),
    ]
    op = session.execute_statement("SELECT * FROM ctas_rt")
    got, token = [], 0
    deadline = time.time() + 30
    while time.time() < deadline and not got:
        page = op.fetch(token)
        token = page["nextResultToken"]
        got.extend(page["data"])
        time.sleep(0.3)
    op.cancel()
    assert got == [[1, "x", 2.5]]


def test_ctas_if_not_exists_and_duplicate(session, tmp_path):
    import pytest as _pytest

    session.execute_statement(
        f"CREATE TABLE ctas_dup WITH ('connector'='filesystem', "
        f"'path'='{tmp_path}/d1', 'format'='parquet') AS SELECT 1 AS a"
    )
    # IF NOT EXISTS on an existing table skips create AND insert
    session.execute_statement(
        f"CREATE TABLE IF NOT EXISTS ctas_dup WITH ('connector'='filesystem', "
        f"'path'='{tmp_path}/d2', 'format'='parquet') AS SELECT 2 AS z"
    )
    import os

    assert not os.path.exists(f"{tmp_path}/d2")
    with _pytest.raises(ValueError, match="already exists"):
        session.execute_statement(
            f"CREATE TABLE ctas_dup WITH ('connector'='filesystem', "
            f"'path'='{tmp_path}/d3', 'format'='parquet') AS SELECT 3 AS w"
        )


def test_ctas_does_not_clobber_existing_view(session, tmp_path):
    """An existing temp view counts as 'exists' — CTAS must raise, not
    replace it (review r9: the check consulted only connector_tables,
    so a failed CTAS could delete the user's view)."""
    import pytest as _pytest

    session.execute_statement("CREATE VIEW ctas_v AS SELECT 42 AS answer")
    with _pytest.raises(ValueError, match="already exists"):
        session.execute_statement(
            f"CREATE TABLE ctas_v WITH ('connector'='filesystem', "
            f"'path'='{tmp_path}/cv', 'format'='parquet') AS SELECT 1 AS a"
        )
    # the original view is untouched
    rows = session.execute_statement("SELECT * FROM ctas_v").fetch()["data"]
    assert rows == [[42]]
    # IF NOT EXISTS on a view also skips silently
    session.execute_statement(
        f"CREATE TABLE IF NOT EXISTS ctas_v WITH ('connector'='filesystem', "
        f"'path'='{tmp_path}/cv2', 'format'='parquet') AS SELECT 1 AS a"
    )
    import os

    assert not os.path.exists(f"{tmp_path}/cv2")


def test_ctas_unnamable_column_rejected(session, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alias each expression"):
        session.execute_statement(
            f"CREATE TABLE ctas_bad WITH ('connector'='filesystem', "
            f"'path'='{tmp_path}/bad', 'format'='parquet') AS SELECT 1 + 1"
        )
    # the failed CTAS must not leave a registered table behind
    tables = session.execute_statement("SHOW TABLES").fetch()["data"]
    assert ["ctas_bad"] not in tables


def test_ctas_streaming_source_becomes_job(session):
    """CTAS over a streaming source registers the table and starts a
    continuous INSERT job (Flink CTAS on an unbounded query)."""
    session.execute_statement(
        "CREATE TABLE ctas_src (v BIGINT) WITH "
        "('connector'='datagen', 'rows-per-second'='5')"
    )
    op = session.execute_statement(
        "CREATE TABLE ctas_bh WITH ('connector'='blackhole') AS "
        "SELECT v * 2 AS dbl FROM ctas_src"
    )
    assert op.job_id is not None
    assert any(
        j.job_id == op.job_id and j.status == "RUNNING"
        for j in session.jobs.list()
    )
    session.jobs.stop(op.job_id)


def test_submit_statement_mode_flip_refreshes_views(session):
    """The async submit path must re-register connector views after a
    runtime-mode SET, exactly like the synchronous path — a
    batch→streaming flip through the gateway otherwise leaves every
    existing table batch-registered (found by the r11 node
    conformance harness)."""
    import time

    session.execute_statement("SET 'execution.runtime-mode' = 'batch'")
    session.execute_statement(
        "CREATE TABLE flip_ev (event_id BIGINT, user_id BIGINT) WITH ("
        "'connector'='filesystem', "
        "'path'='/root/testdata/sf0.001/events.parquet', "
        "'format'='parquet')"
    )
    op_set = session.submit_statement("SET 'execution.runtime-mode' = 'streaming'")
    deadline, tok = time.time() + 30, 0
    while True:
        page = op_set.fetch(tok)
        if page["resultType"] == "EOS":
            break
        tok = page.get("nextResultToken", tok + 1)
        assert time.time() < deadline, "SET never completed"
        time.sleep(0.05)
    op = session.submit_statement("SELECT event_id FROM flip_ev")
    try:
        deadline = time.time() + 60
        page = op.fetch(0)
        while page["resultType"] == "NOT_READY":
            assert time.time() < deadline, "no page within 60s"
            time.sleep(0.1)
            page = op.fetch(0)
        assert page["isStreaming"], "SELECT after async mode flip ran in batch mode"
        assert page["jobID"] is not None
    finally:
        op.cancel()


def test_reset_mode_refreshes_views(session):
    """RESET flips the effective runtime mode back to the streaming
    default, so it must re-register connector views exactly like SET
    does (r11: a batch session's tables stayed batch-registered after
    RESET 'execution.runtime-mode')."""
    session.execute_statement("SET 'execution.runtime-mode' = 'batch'")
    session.execute_statement(
        "CREATE TABLE reset_ev (event_id BIGINT, user_id BIGINT) WITH ("
        "'connector'='filesystem', "
        "'path'='/root/testdata/sf0.001/events.parquet', "
        "'format'='parquet')"
    )
    session.execute_statement("RESET 'execution.runtime-mode'")
    assert session.runtime_mode == "streaming"
    op = session.submit_statement("SELECT event_id FROM reset_ev")
    try:
        deadline = time.time() + 60
        page = op.fetch(0)
        while page["resultType"] == "NOT_READY":
            assert time.time() < deadline
            time.sleep(0.1)
            page = op.fetch(0)
        assert page["isStreaming"], "SELECT after RESET ran in batch mode"
    finally:
        op.cancel()
    # comment-prefixed spelling must flip views too (review r11 pass
    # 10: the handlers strip comments, so the refresh trigger must not
    # re-parse the raw text — it detects the effective mode change)
    session.execute_statement(
        "-- back to batch\nSET 'execution.runtime-mode' = 'batch'"
    )
    rows = session.execute_statement(
        "SELECT COUNT(*) AS n FROM reset_ev"
    ).fetch()["data"]
    assert rows[0][0] > 0  # a batch read: the view was re-registered

"""ALTER TABLE subforms — ADD (list) / MODIFY / DROP / RENAME col /
RESET / COMPACT — the full keyword set the reference grammar declares
(syntaxes/flink.tmLanguage.json: ADD|MODIFY|RENAME|COLUMN|SET|RESET|
COMPACT; FLIP-273 column DDL)."""

from __future__ import annotations

import glob
import tempfile

import pytest

from flink_sql_toolkit_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


@pytest.fixture()
def sess(engine):
    s = engine.open_session("alter-table")
    s.execute_statement("SET 'execution.runtime-mode' = 'batch'")
    yield s
    engine.close_session(s.handle)


def run(sess, sql):
    op = sess.execute_statement(sql)
    out = op.fetch()
    return out["data"] if isinstance(out, dict) else op._rows


@pytest.fixture()
def fs_table(sess):
    d = tempfile.mkdtemp()
    run(sess, f"CREATE TABLE alt_t (k INT, v STRING, ts TIMESTAMP(3),"
              f" WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,"
              f" PRIMARY KEY (k) NOT ENFORCED)"
              f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')")
    run(sess, "INSERT INTO alt_t VALUES (1,'a',TIMESTAMP '2024-01-01 00:00:00')")
    return d


class TestColumnDDL:
    def test_add_list_modify_rename_drop(self, sess, fs_table):
        run(sess, "ALTER TABLE alt_t ADD (e1 DOUBLE, e2 STRING)")
        cols = {c.name: c.spark_type for c in sess.connector_tables["alt_t"].columns}
        assert cols["e1"] == "double" and cols["e2"] == "string"
        # keyword-less single ADD (Flink spelling without COLUMN)
        run(sess, "ALTER TABLE alt_t ADD e3 BIGINT")
        assert any(c.name == "e3" for c in sess.connector_tables["alt_t"].columns)
        with pytest.raises(ValueError, match="already exists"):
            run(sess, "ALTER TABLE alt_t ADD e3 INT")
        run(sess, "ALTER TABLE alt_t MODIFY e1 DECIMAL(10,2) COMMENT 'money'")
        c = next(c for c in sess.connector_tables["alt_t"].columns if c.name == "e1")
        assert c.spark_type == "decimal(10,2)" and c.comment == "money"
        run(sess, "ALTER TABLE alt_t RENAME e2 TO renamed")
        names = [c.name for c in sess.connector_tables["alt_t"].columns]
        assert "renamed" in names and "e2" not in names
        # SHOW CREATE TABLE reflects every mutation (synthesized DDL)
        ddl = run(sess, "SHOW CREATE TABLE alt_t")[0][0]
        assert "renamed" in ddl and "DECIMAL(10,2)" in ddl and "e3" in ddl
        run(sess, "ALTER TABLE alt_t DROP (e1, renamed)")
        run(sess, "ALTER TABLE alt_t DROP e3")
        names = [c.name for c in sess.connector_tables["alt_t"].columns]
        assert names == ["k", "v", "ts"]
        # reads still work after the mutations (view re-registered)
        assert run(sess, "SELECT COUNT(*) AS n FROM alt_t") == [[1]]

    def test_drop_protected_column_rejected(self, sess, fs_table):
        with pytest.raises(ValueError, match="referenced"):
            run(sess, "ALTER TABLE alt_t DROP k")  # primary key
        with pytest.raises(ValueError, match="referenced"):
            run(sess, "ALTER TABLE alt_t DROP ts")  # watermark column
        with pytest.raises(LookupError):
            run(sess, "ALTER TABLE alt_t DROP ghost")

    def test_watermark_and_pk_ddl(self, sess, fs_table):
        run(sess, "ALTER TABLE alt_t MODIFY WATERMARK FOR ts AS ts - INTERVAL '10' SECOND")
        assert sess.connector_tables["alt_t"].watermark.delay == "10 seconds"
        run(sess, "ALTER TABLE alt_t DROP WATERMARK")
        assert sess.connector_tables["alt_t"].watermark is None
        with pytest.raises(LookupError):
            run(sess, "ALTER TABLE alt_t DROP WATERMARK")
        run(sess, "ALTER TABLE alt_t DROP PRIMARY KEY")
        assert sess.connector_tables["alt_t"].primary_key == []
        # now k is droppable
        run(sess, "ALTER TABLE alt_t DROP k")
        assert [c.name for c in sess.connector_tables["alt_t"].columns] == ["v", "ts"]

    def test_rename_column_follows_specs(self, sess):
        run(sess, "CREATE TABLE spec_t (a INT, ts TIMESTAMP(3),"
                  " WATERMARK FOR ts AS ts - INTERVAL '1' SECOND,"
                  " PRIMARY KEY (a) NOT ENFORCED)"
                  " WITH ('connector'='datagen','number-of-rows'='1')")
        run(sess, "ALTER TABLE spec_t RENAME a TO b")
        t = sess.connector_tables["spec_t"]
        assert t.primary_key == ["b"]
        run(sess, "ALTER TABLE spec_t RENAME ts TO event_ts")
        assert t.watermark.column == "event_ts"
        assert "event_ts" in t.watermark.delay_expr

    def test_set_reset_options(self, sess, fs_table):
        run(sess, "ALTER TABLE alt_t SET ('custom.opt'='1')")
        assert sess.connector_tables["alt_t"].options["custom.opt"] == "1"
        run(sess, "ALTER TABLE alt_t RESET ('custom.opt')")
        assert "custom.opt" not in sess.connector_tables["alt_t"].options
        with pytest.raises(ValueError, match="connector"):
            run(sess, "ALTER TABLE alt_t RESET ('connector')")


class TestCompact:
    def test_full_table_compact(self, sess):
        d = tempfile.mkdtemp()
        run(sess, f"CREATE TABLE cmp_t (k INT, v INT)"
                  f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')")
        for i in range(5):
            run(sess, f"INSERT INTO cmp_t VALUES ({i}, {i * 10})")
        assert len(glob.glob(d + "/*.parquet")) == 5
        run(sess, "ALTER TABLE cmp_t COMPACT")
        assert len(glob.glob(d + "/*.parquet")) == 1  # tiny table → 1 file
        assert run(sess, "SELECT COUNT(*) AS n FROM cmp_t") == [[5]]

    def test_partition_scoped_compact(self, sess):
        d = tempfile.mkdtemp()
        run(sess, f"CREATE TABLE cmp_p (k INT, p STRING) PARTITIONED BY (p)"
                  f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')")
        for i in range(4):
            run(sess, f"INSERT INTO cmp_p VALUES ({i}, 'a'), ({i + 10}, 'b')")
        assert len(glob.glob(d + "/p=a/*.parquet")) == 4
        run(sess, "ALTER TABLE cmp_p PARTITION (p='a') COMPACT")
        # target partition merged; sibling partition files untouched
        assert len(glob.glob(d + "/p=a/*.parquet")) == 1
        assert len(glob.glob(d + "/p=b/*.parquet")) == 4
        assert run(sess, "SELECT p, COUNT(*) AS n FROM cmp_p GROUP BY p ORDER BY p") == [
            ["a", 4], ["b", 4],
        ]

    def test_bucketed_compact_preserves_contract(self, sess):
        d = tempfile.mkdtemp()
        run(sess, f"CREATE TABLE cmp_b (k INT, v INT) DISTRIBUTED BY HASH(k) INTO 2 BUCKETS"
                  f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')")
        for i in range(3):
            run(sess, f"INSERT INTO cmp_b SELECT CAST(id % 8 AS INT), CAST(id AS INT)"
                      f" FROM (SELECT EXPLODE(SEQUENCE({i * 100}, {i * 100 + 99})) AS id)")
        assert len(glob.glob(d + "/*.parquet")) == 6
        run(sess, "ALTER TABLE cmp_b COMPACT")
        files = glob.glob(d + "/*.parquet")
        assert len(files) == 2  # recompacted through the bucket spec
        import duckdb

        worst = duckdb.sql(
            f"SELECT max(c) FROM (SELECT count(DISTINCT filename) c FROM"
            f" read_parquet('{d}/*.parquet', filename=true) GROUP BY k)"
        ).fetchone()[0]
        assert worst == 1  # same key → same (single) bucket file
        assert run(sess, "SELECT COUNT(*) AS n FROM cmp_b") == [[300]]

    def test_compact_rejects_non_filesystem(self, sess):
        run(sess, "CREATE TABLE cmp_x (a INT) WITH ('connector'='blackhole')")
        with pytest.raises(NotImplementedError, match="filesystem"):
            run(sess, "ALTER TABLE cmp_x COMPACT")

    def test_partition_spec_validation(self, sess):
        d = tempfile.mkdtemp()
        run(sess, f"CREATE TABLE cmp_v (k INT) "
                  f"WITH ('connector'='filesystem','path'='{d}','format'='parquet')")
        run(sess, "INSERT INTO cmp_v VALUES (1)")
        with pytest.raises(ValueError, match="not partitioned"):
            run(sess, "ALTER TABLE cmp_v PARTITION (p='a') COMPACT")


class TestReviewRegressions:
    """Fixes from the late-r9 self-review (code-review findings)."""

    def test_byte_conf_suffixes(self):
        from flink_sql_toolkit_spark.sources.dml import _byte_conf

        assert _byte_conf("134217728") == 134217728
        assert _byte_conf("128m") == 128 << 20
        assert _byte_conf("128mb") == 128 << 20
        assert _byte_conf("1g") == 1 << 30
        assert _byte_conf("64k") == 64 << 10
        assert _byte_conf("junk") == 134217728  # fallback, never 0

    def test_add_list_with_parameterized_types(self, sess):
        run(sess, "CREATE TABLE addp (a INT) WITH ('connector'='blackhole')")
        run(sess, "ALTER TABLE addp ADD (price DECIMAL(10,2), note VARCHAR(50), flag INT NOT NULL COMMENT 'f')")
        cols = {c.name: c for c in sess.connector_tables["addp"].columns}
        assert cols["price"].spark_type == "decimal(10,2)"
        assert cols["note"].spark_type == "string"
        assert cols["flag"].spark_type == "int"
        assert cols["flag"].nullable is False and cols["flag"].comment == "f"

    def test_drop_column_named_like_primary(self, sess):
        run(sess, "CREATE TABLE pk_t (k INT, primary_region STRING,"
                  " PRIMARY KEY (k) NOT ENFORCED) WITH ('connector'='blackhole')")
        run(sess, "ALTER TABLE pk_t DROP primary_region")
        t = sess.connector_tables["pk_t"]
        assert t.primary_key == ["k"]  # PK untouched
        assert [c.name for c in t.columns] == ["k"]

    def test_bucketed_partitioned_compact_keeps_buckets(self, sess):
        import glob as g
        d = tempfile.mkdtemp()
        run(sess, f"CREATE TABLE cbp (k INT, p STRING) DISTRIBUTED BY HASH(k) INTO 2 BUCKETS"
                  f" PARTITIONED BY (p) WITH ('connector'='filesystem','path'='{d}','format'='parquet')")
        for i in range(3):
            run(sess, f"INSERT INTO cbp SELECT CAST(id % 8 AS INT), 'a'"
                      f" FROM (SELECT EXPLODE(SEQUENCE(0, 49)) AS id)")
        run(sess, "ALTER TABLE cbp PARTITION (p='a') COMPACT")
        files = g.glob(d + "/p=a/*.parquet")
        assert len(files) == 2  # bucket contract survives the partition merge
        import duckdb

        worst = duckdb.sql(
            f"SELECT max(c) FROM (SELECT count(DISTINCT filename) c FROM"
            f" read_parquet('{d}/p=a/*.parquet', filename=true) GROUP BY k)"
        ).fetchone()[0]
        assert worst == 1

    def test_update_preserves_bucket_contract(self, sess):
        import glob as g
        d = tempfile.mkdtemp()
        run(sess, f"CREATE TABLE ub (k INT, v INT) DISTRIBUTED BY HASH(k) INTO 2 BUCKETS"
                  f" WITH ('connector'='filesystem','path'='{d}','format'='parquet')")
        run(sess, "INSERT INTO ub SELECT CAST(id % 8 AS INT), CAST(id AS INT)"
                  " FROM (SELECT EXPLODE(SEQUENCE(0, 99)) AS id)")
        run(sess, "UPDATE ub SET v = v + 1 WHERE k = 3")
        files = g.glob(d + "/*.parquet")
        assert len(files) == 2  # COW swap re-bucketed
        import duckdb

        worst = duckdb.sql(
            f"SELECT max(c) FROM (SELECT count(DISTINCT filename) c FROM"
            f" read_parquet('{d}/*.parquet', filename=true) GROUP BY k)"
        ).fetchone()[0]
        assert worst == 1
        # ids with id%8==3: 3,11,...,99 → 13 rows summing 663; +1 each = 676
        assert run(sess, "SELECT CAST(SUM(v) AS BIGINT) AS s FROM ub WHERE k = 3") == [[676]]


class TestAddNonPhysicalItems:
    """FLIP-273: ADD carries the same item kinds as the CREATE body —
    computed/metadata columns, WATERMARK, PRIMARY KEY."""

    def test_add_watermark_and_computed_and_metadata(self, sess):
        run(sess, "CREATE TABLE addnp (id BIGINT, ts TIMESTAMP(3))"
                  " WITH ('connector'='kafka','topic'='t')")
        run(sess, "ALTER TABLE addnp ADD WATERMARK FOR ts AS ts - INTERVAL '3' SECOND")
        t = sess.connector_tables["addnp"]
        assert t.watermark.delay == "3 seconds"
        with pytest.raises(ValueError, match="MODIFY WATERMARK"):
            run(sess, "ALTER TABLE addnp ADD WATERMARK FOR ts AS ts")
        run(sess, "ALTER TABLE addnp ADD (tag AS CONCAT('k-', CAST(id AS STRING)),"
                  " part_no INT METADATA FROM 'partition' VIRTUAL,"
                  " PRIMARY KEY (id) NOT ENFORCED)")
        assert [c.name for c in t.computed] == ["tag"]
        assert t.metadata[0].key == "partition" and t.metadata[0].virtual
        assert t.primary_key == ["id"]
        with pytest.raises(ValueError, match="primary key"):
            run(sess, "ALTER TABLE addnp ADD PRIMARY KEY (ts) NOT ENFORCED")
        # a failed multi-item ADD applies NOTHING (probe-then-swap)
        with pytest.raises(ValueError, match="already exists"):
            run(sess, "ALTER TABLE addnp ADD (ok_col INT, tag STRING)")
        assert not any(c.name == "ok_col" for c in t.columns)
        ddl = run(sess, "SHOW CREATE TABLE addnp")[0][0]
        assert "WATERMARK" in ddl and "METADATA FROM 'partition' VIRTUAL" in ddl


class TestSecondReviewRegressions:
    """Second late-r9 review pass fixes."""

    def test_add_watermark_unknown_column_rejected(self, sess):
        run(sess, "CREATE TABLE wmval (id BIGINT, ts TIMESTAMP(3))"
                  " WITH ('connector'='kafka','topic'='t')")
        with pytest.raises(LookupError, match="bogus_col"):
            run(sess, "ALTER TABLE wmval ADD WATERMARK FOR bogus_col AS bogus_col")
        assert sess.connector_tables["wmval"].watermark is None
        # a watermark on a column added IN THE SAME list is fine
        run(sess, "ALTER TABLE wmval ADD (ev TIMESTAMP(3),"
                  " WATERMARK FOR ev AS ev - INTERVAL '1' SECOND)")
        assert sess.connector_tables["wmval"].watermark.column == "ev"

    def test_duplicate_watermark_within_one_add_list(self, sess):
        run(sess, "CREATE TABLE wmdup (ts TIMESTAMP(3))"
                  " WITH ('connector'='kafka','topic'='t')")
        with pytest.raises(ValueError, match="watermark"):
            run(sess, "ALTER TABLE wmdup ADD (WATERMARK FOR ts AS ts,"
                      " WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)")
        assert sess.connector_tables["wmdup"].watermark is None  # atomic

    def test_to_timestamp_ltz_deep_nesting(self):
        from flink_sql_toolkit_spark.dialect.rewriter import rewrite

        out = rewrite("SELECT TO_TIMESTAMP_LTZ(f(g(x, h(y)), z)) FROM t")
        assert "timestamp_millis(CAST(f(g(x, h(y)), z) AS BIGINT))" in out
        # multi-arg with unsupported precision still left for Spark
        assert "TO_TIMESTAMP_LTZ(f(a, b), 9)" in rewrite(
            "SELECT TO_TIMESTAMP_LTZ(f(a, b), 9) FROM t"
        )


class TestRenameTable:
    def test_rename_unreadable_connector_table(self, sess, tmp_path):
        """A filesystem table whose path has no files has no reader
        view. RENAME TO must still move it whole: it used to raise
        table-not-found after the registry already listed the new
        name."""
        run(sess, f"CREATE TABLE ur (id BIGINT) WITH ('connector'='filesystem',"
                  f" 'path'='{tmp_path}/nothing_here', 'format'='parquet')")
        assert run(sess, "ALTER TABLE ur RENAME TO ur2") == [["OK"]]
        shown = {r[0] for r in run(sess, "SHOW TABLES")}
        assert "ur2" in shown and "ur" not in shown
        assert run(sess, "DROP TABLE ur2") == [["OK"]]
        assert "ur2" not in sess.connector_tables

    def test_rename_readable_connector_table_moves_rows(self, sess, fs_table):
        run(sess, "ALTER TABLE alt_t RENAME TO alt_t2")
        assert run(sess, "SELECT k, v FROM alt_t2") == [[1, "a"]]
        assert "alt_t2" in run(sess, "SHOW CREATE TABLE alt_t2")[0][0]
        with pytest.raises(Exception, match="alt_t"):
            run(sess, "SELECT * FROM alt_t")
        run(sess, "DROP TABLE alt_t2")

    def test_rename_onto_existing_table_rejected(self, sess, fs_table, tmp_path):
        """Flink rejects a rename onto an existing table. It used to
        answer OK and silently point `alt_t` at `other`'s path; now it
        raises before touching the registry, so both tables keep their
        own rows."""
        run(sess, f"CREATE TABLE other (k INT, v STRING) WITH ('connector'="
                  f"'filesystem', 'path'='{tmp_path}/other', 'format'='parquet')")
        run(sess, "INSERT INTO other VALUES (2, 'b')")
        with pytest.raises(ValueError, match="'alt_t' already exists"):
            run(sess, "ALTER TABLE other RENAME TO alt_t")
        assert run(sess, "SELECT k, v FROM alt_t") == [[1, "a"]]
        assert run(sess, "SELECT k, v FROM other") == [[2, "b"]]
        assert sess.connector_tables["alt_t"].options["path"] == fs_table
        run(sess, "DROP TABLE other")
        run(sess, "DROP TABLE alt_t")

"""Randomized engine-session lifecycle fuzz.

The corpus runner executes the reference's fixed statement sheet; the
gateway got an 8-thread session stress test. This fuzz covers the
remaining axis: random INTERLEAVINGS of DDL / metadata / DML
statements in one session — catalog bookkeeping (connector registry,
temp views, metadata cache, emulated browse trees) must stay
consistent under any order.

Invariants per step (``run_lifecycle_steps`` — shared with
tools/extended_fuzz.py so the CI mix and the interactive sweeps can
never drift):
- every statement either succeeds or raises a TYPED error; KeyError /
  IndexError are NOT typed even though they subclass LookupError (the
  engine's typed not-found is a bare LookupError) — an internal
  KeyError is an engine bug and must fail the fuzz (review r11);
- SHOW TABLES reflects exactly the live set for this fuzz's name
  prefix — both directions: a live table missing AND a dropped table
  still listed are failures (the session-scoped Spark fixture carries
  other tests' views, so the extra-side check is prefix-scoped);
- a table that exists can always be DESCRIBEd and SELECTed.

Seeded — reproducible.
"""

from __future__ import annotations

import random
import time

import pytest

# randomized adversarial layer: excluded from the fast gate via
# `-m 'not fuzz'` (pyproject [tool.pytest.ini_options]); run nightly/full
pytestmark = pytest.mark.fuzz
from pyspark.errors.exceptions.captured import AnalysisException

from flink_sql_toolkit_spark.engine import Engine


def is_typed_error(e: BaseException) -> bool:
    """The engine's typed-rejection surface. A bare LookupError is the
    engine's not-found; its KeyError/IndexError SUBCLASSES are
    internal bugs and deliberately excluded (review r11 — a plain
    ``except LookupError`` would swallow them)."""
    return isinstance(e, (ValueError, NotImplementedError, AnalysisException)) or (
        type(e) is LookupError
    )


def run_lifecycle_steps(sess, rng: random.Random, tmp: str, prefix: str,
                        n_steps: int = 60) -> None:
    """Drive ``n_steps`` random statements through ``sess``, checking
    the invariants after every one. Raises AssertionError on any
    violation; internal (untyped) engine errors propagate."""
    live: dict[str, str] = {}
    counter = 0
    for step in range(n_steps):
        r = rng.random()
        try:
            if r < 0.13:  # datagen table
                counter += 1
                name = f"{prefix}_dg{counter}"
                sess.execute_statement(
                    f"CREATE TABLE {name} (id BIGINT, v DOUBLE) WITH "
                    "('connector'='datagen', 'number-of-rows'='20')"
                )
                live[name] = "datagen"
            elif r < 0.26:  # filesystem table
                counter += 1
                name = f"{prefix}_fs{counter}"
                sess.execute_statement(
                    f"CREATE TABLE {name} (id BIGINT, v DOUBLE) WITH "
                    f"('connector'='filesystem', 'path'='{tmp}/{name}', "
                    f"'format'='parquet')"
                )
                live[name] = "fs"
            elif r < 0.34 and live:  # view over a live table
                counter += 1
                src = rng.choice(list(live))
                name = f"{prefix}_v{counter}"
                sess.execute_statement(
                    f"CREATE VIEW {name} AS SELECT id FROM {src}"
                )
                live[name] = "view"
            elif r < 0.41:  # CTAS
                counter += 1
                name = f"{prefix}_ct{counter}"
                sess.execute_statement(
                    f"CREATE TABLE {name} WITH ('connector'='filesystem', "
                    f"'path'='{tmp}/{name}', 'format'='parquet') AS "
                    "SELECT id, CAST(id AS DOUBLE) AS v FROM range(4)"
                )
                live[name] = "fs"
            elif r < 0.48:  # INSERT into a live fs table
                fs = [n for n, k in live.items() if k == "fs"]
                if fs:
                    sess.execute_statement(
                        f"INSERT INTO {rng.choice(fs)} SELECT id, "
                        "CAST(id AS DOUBLE) FROM range(5)"
                    )
            elif r < 0.54:  # ALTER ADD on a live table
                tables = [n for n, k in live.items() if k != "view"]
                if tables:
                    sess.execute_statement(
                        f"ALTER TABLE {rng.choice(tables)} ADD e{step} STRING"
                    )
            elif r < 0.62 and live:  # SELECT (may start a stream: cancel)
                t = rng.choice(list(live))
                op = sess.execute_statement(f"SELECT COUNT(*) AS n FROM {t}")
                deadline, token, val = time.time() + 20, 0, None
                while time.time() < deadline:
                    page = op.fetch(token)
                    token = page["nextResultToken"]
                    if page["data"]:
                        val = page["data"][0][0]
                        break
                    if page["resultType"] == "EOS":
                        break
                    time.sleep(0.2)
                op.cancel()
                assert val is None or val >= 0
            elif r < 0.68 and live:  # SHOW CREATE TABLE
                tables = [n for n, k in live.items() if k != "view"]
                if tables:
                    out = sess.execute_statement(
                        f"SHOW CREATE TABLE {rng.choice(tables)}"
                    ).fetch(0)
                    assert "CREATE" in out["data"][0][0]
            elif r < 0.74 and live:  # DESCRIBE
                t = rng.choice(list(live))
                assert sess.execute_statement(f"DESCRIBE {t}").fetch(0)["data"]
            elif r < 0.84 and live:  # DROP (matching kind keyword)
                t = rng.choice(list(live))
                kw = "VIEW" if live[t] == "view" else "TABLE"
                sess.execute_statement(f"DROP {kw} {t}")
                del live[t]
            elif r < 0.9:  # statements about missing objects
                ghost = f"{prefix}_ghost_{rng.randint(0, 999)}"
                for g in (f"DESCRIBE {ghost}", f"DROP TABLE {ghost}"):
                    try:
                        sess.execute_statement(g)
                        raise AssertionError(f"{g} on a ghost succeeded")
                    except Exception as e:  # noqa: BLE001
                        if not is_typed_error(e):
                            raise
            else:  # SET / RESET interleavings
                sess.execute_statement(f"SET 'pipeline.name'='fuzz-{step}'")
                if rng.random() < 0.3:
                    sess.execute_statement("RESET")
        except Exception as e:  # noqa: BLE001
            if not is_typed_error(e):
                raise  # internal engine error — the fuzz's quarry
        shown = {
            r2[0]
            for r2 in sess.execute_statement("SHOW TABLES").fetch(0)["data"]
        }
        missing = set(live) - shown
        assert not missing, (step, sorted(missing), sorted(shown))
        extra = {n for n in shown - set(live) if n.startswith(prefix)}
        assert not extra, (step, sorted(extra))


@pytest.mark.parametrize("seed", [21, 84])
def test_random_statement_interleavings(spark, tmp_path, seed):
    engine = Engine(spark)
    sess = engine.open_session(f"lifecycle-fuzz-{seed}")
    try:
        run_lifecycle_steps(
            sess, random.Random(seed), str(tmp_path), f"lf{seed}"
        )
    finally:
        sess.close()


def test_drop_unreadable_connector_table(spark, tmp_path):
    """A filesystem table whose path has no files yet never registers
    a temp view (quarantined as unreadable) — DROP TABLE must still
    succeed cleanly (it used to remove the registry entry AND raise
    'not found' — found by the lifecycle fuzz, r11), a second DROP
    raises the typed not-found, and SHOW TABLES omits the table."""
    engine = Engine(spark)
    sess = engine.open_session("drop-unreadable")
    try:
        sess.execute_statement(
            f"CREATE TABLE dr_unread (id BIGINT) WITH "
            f"('connector'='filesystem', 'path'='{tmp_path}/nothing_here', "
            f"'format'='parquet')"
        )
        op = sess.execute_statement("DROP TABLE dr_unread")
        assert op.fetch(0)["data"] == [["OK"]]
        assert "dr_unread" not in sess.connector_tables
        shown = {
            r[0]
            for r in sess.execute_statement("SHOW TABLES").fetch(0)["data"]
        }
        assert "dr_unread" not in shown
        with pytest.raises(LookupError):
            sess.execute_statement("DROP TABLE dr_unread")
    finally:
        sess.close()


def test_drop_kind_mismatch_rejected(spark, tmp_path):
    """DROP VIEW must not destroy a TABLE and vice versa (Flink
    rejects the kind mismatch; the keyword was captured but never
    consulted — review r11). The mismatch errors BEFORE any mutation:
    the object survives."""
    engine = Engine(spark)
    sess = engine.open_session("drop-kind")
    try:
        spark.range(3).select("id").write.parquet(f"{tmp_path}/dk_t")
        sess.execute_statement(
            f"CREATE TABLE dk_t (id BIGINT) WITH "
            f"('connector'='filesystem', 'path'='{tmp_path}/dk_t', "
            f"'format'='parquet')"
        )
        sess.execute_statement("CREATE VIEW dk_v AS SELECT id FROM dk_t")
        with pytest.raises(ValueError, match="is a table, not a view"):
            sess.execute_statement("DROP VIEW dk_t")
        assert "dk_t" in sess.connector_tables  # untouched
        with pytest.raises(ValueError, match="is a view, not a table"):
            sess.execute_statement("DROP TABLE dk_v")
        # correct kinds still work
        assert sess.execute_statement("DROP VIEW dk_v").fetch(0)["data"] == [["OK"]]
        assert sess.execute_statement("DROP TABLE dk_t").fetch(0)["data"] == [["OK"]]
    finally:
        sess.close()

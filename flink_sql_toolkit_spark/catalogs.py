"""Emulated Flink catalogs + database DDL.

The reference grammar marks CREATE/DROP/ALTER CATALOG and the
DATABASE DDL family as statements (syntaxes/flink.tmLanguage.json:371,
203), and the client navigates catalog → database → table trees
(src/catalogProvider.ts, src/flinkClient.ts:372). Spark cannot
register new catalog plugins at runtime (``spark.sql.catalog.<name>``
is a startup conf pointing at a JVM class), so catalogs created via
DDL are emulated session-side — the exact scope Flink's own
``generic_in_memory`` catalog has: metadata that lives and dies with
the session.

Semantics mirrored from Flink:

- ``CREATE CATALOG [IF NOT EXISTS] c [COMMENT '...'] WITH
  ('type'='...')`` — the ``type`` option is mandatory (Flink throws
  ``Catalog options do not contain an option key 'type'``); the
  catalog starts with one database, ``'default-database'`` option or
  ``default``.
- ``DROP CATALOG [IF EXISTS] c`` — dropping the CURRENT catalog is an
  error (Flink: "Cannot drop a catalog which is currently in use").
- ``ALTER CATALOG c SET ('k'='v') | RESET ('k') | COMMENT '...'``
  (Flink 1.20, FLIP-295). RESET of ``'type'`` is rejected.
- ``DESCRIBE CATALOG [EXTENDED] c`` (Flink 1.20): 3 info rows
  (name/type/comment); EXTENDED appends ``option:<k>`` rows.
- ``CREATE DATABASE [IF NOT EXISTS] [cat.]db [COMMENT '...'] [WITH
  ('k'='v')]`` — in an emulated catalog the database registers
  session-side; in a Spark catalog the statement is translated to
  Spark DDL (``WITH (...)`` → ``WITH DBPROPERTIES (...)``).
- ``DROP DATABASE [IF EXISTS] [cat.]db [RESTRICT|CASCADE]`` —
  RESTRICT (the default) refuses to drop a non-empty database.
- ``ALTER DATABASE [cat.]db SET ('k'='v')`` → Spark ``SET
  DBPROPERTIES`` on real catalogs, property merge on emulated ones.

Name resolution for TABLES stays session-global (the connector
registry is one namespace): an emulated catalog scopes the tree the
client browses — which database lists which tables — not the SQL
resolver. This matches what the reference client itself observes
(it only ever lists names per catalog/database and pastes
unqualified names into queries).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from flink_sql_toolkit_spark.commands import OK, Cols, Rows, _c

if TYPE_CHECKING:  # pragma: no cover
    from flink_sql_toolkit_spark.engine import EngineSession


def _parse_options(text: str) -> dict[str, str]:
    """Delegates to the SINGLE option-pair parser — this module's old
    local copy had already drifted (keys with escaped quotes were
    mangled: 'o''k' parsed as 'k') (review r11)."""
    from flink_sql_toolkit_spark.sources.ddl import parse_option_pairs  # noqa: PLC0415

    return parse_option_pairs(text)


def _comment(raw: str | None) -> str | None:
    """Unescape a parsed COMMENT literal ('' → ')."""
    return raw.replace("''", "'") if raw is not None else None


@dataclass
class EmulatedDatabase:
    name: str
    comment: str | None = None
    properties: dict[str, str] = field(default_factory=dict)
    tables: set[str] = field(default_factory=set)


@dataclass
class EmulatedCatalog:
    name: str
    properties: dict[str, str]
    comment: str | None = None
    databases: dict[str, EmulatedDatabase] = field(default_factory=dict)

    def __post_init__(self) -> None:
        default_db = self.properties.get("default-database", "default")
        self.databases.setdefault(default_db, EmulatedDatabase(default_db))

    @property
    def default_database(self) -> str:
        return self.properties.get("default-database", "default")


class CatalogRegistry:
    """Session-side emulated catalogs + the current-context pointer.

    ``current`` is None while a real Spark catalog is current (Spark
    tracks its own current catalog/database then).
    """

    def __init__(self) -> None:
        self.catalogs: dict[str, EmulatedCatalog] = {}
        self.current: str | None = None
        self.current_db: str | None = None

    def current_catalog(self) -> EmulatedCatalog | None:
        return self.catalogs.get(self.current) if self.current else None

    def current_database(self) -> EmulatedDatabase | None:
        cat = self.current_catalog()
        if cat is None:
            return None
        return cat.databases.get(self.current_db or cat.default_database)


# -- statement handlers ------------------------------------------------


def handle_catalog_ddl(session: "EngineSession", stmt: str) -> tuple[Cols, Rows] | None:
    """CREATE/DROP/ALTER/DESCRIBE CATALOG and the DATABASE DDL family.

    Returns None when the statement is not one of these (the engine
    falls through to the next handler).
    """
    s = stmt.strip().rstrip(";").strip()
    reg = session.emulated_catalogs

    m = re.match(
        r"(?is)^CREATE\s+CATALOG\s+(IF\s+NOT\s+EXISTS\s+)?([\w`]+)\s*"
        r"(?:COMMENT\s+'((?:[^']|'')*)'\s*)?WITH\s*\((.*)\)$",
        s,
    )
    if m:
        name = m.group(2).strip("`")
        if name in reg.catalogs or name in _spark_catalog_names(session):
            if m.group(1):
                return OK
            raise ValueError(f"catalog '{name}' already exists")
        opts = _parse_options(m.group(4))
        if "type" not in opts:
            raise ValueError(
                "Catalog options do not contain an option key 'type' "
                "for discovering a catalog"
            )
        reg.catalogs[name] = EmulatedCatalog(name, opts, comment=_comment(m.group(3)))
        session.metadata.invalidate("catalogs")
        return OK

    m = re.match(r"(?is)^DROP\s+CATALOG\s+(IF\s+EXISTS\s+)?([\w`]+)$", s)
    if m:
        name = m.group(2).strip("`")
        if name == (reg.current or session.spark.catalog.currentCatalog()):
            raise ValueError(f"cannot drop catalog '{name}': it is currently in use")
        if name not in reg.catalogs:
            if name in _spark_catalog_names(session):
                # it exists (SHOW CATALOGS lists it) but is a startup-
                # configured Spark catalog — a different error than
                # "does not exist" (review r11)
                raise ValueError(
                    f"catalog '{name}' is a Spark catalog plugin and "
                    "cannot be dropped via DDL"
                )
            if m.group(1):
                return OK
            raise LookupError(f"catalog '{name}' does not exist")
        # dropping a catalog implicitly drops its databases: clean up
        # their tables exactly like DROP DATABASE CASCADE does, or the
        # tables keep resolving against a catalog that no longer
        # exists (review r11)
        for edb in reg.catalogs[name].databases.values():
            for t in list(edb.tables):
                session.drop_connector_table(t)
        del reg.catalogs[name]
        session.metadata.invalidate()
        return OK

    m = re.match(
        r"(?is)^ALTER\s+CATALOG\s+([\w`]+)\s+"
        r"(SET\s*\((.*)\)|RESET\s*\((.*)\)|COMMENT\s+'((?:[^']|'')*)')$",
        s,
    )
    if m:
        cat = reg.catalogs.get(m.group(1).strip("`"))
        if cat is None:
            raise LookupError(f"catalog '{m.group(1).strip('`')}' does not exist")
        action = m.group(2).upper()
        if action.startswith("SET"):
            new_opts = _parse_options(m.group(3))
            if "type" in new_opts and new_opts["type"] != cat.properties.get("type"):
                # RESET of 'type' is already rejected; SET must not be
                # the loophole for the same invariant (review r11)
                raise ValueError("ALTER CATALOG SET does not support changing 'type'")
            if (
                "default-database" in new_opts
                and new_opts["default-database"] not in cat.databases
            ):
                raise LookupError(
                    f"cannot set default-database to "
                    f"'{new_opts['default-database']}': no such database in "
                    f"catalog '{cat.name}'"
                )
            cat.properties.update(new_opts)
        elif action.startswith("RESET"):
            # anchored comma-separated key list — a bare findall over
            # quoted literals would treat the VALUE of a malformed
            # 'k'='v' item as another key to pop (review r11 pass 2)
            if not re.match(
                r"(?s)^\s*'(?:[^']|'')*'(?:\s*,\s*'(?:[^']|'')*')*\s*$",
                m.group(4),
            ):
                raise ValueError(
                    "ALTER CATALOG RESET expects a list of quoted keys: "
                    "RESET ('k1', 'k2')"
                )
            keys = [
                raw.replace("''", "'")
                for raw in re.findall(r"'((?:[^']|'')*)'", m.group(4))
            ]
            # validate ALL keys before popping ANY — a failing later
            # key must not leave the properties half-mutated
            # (review r11 pass 2)
            for key in keys:
                if key == "type":
                    raise ValueError("ALTER CATALOG RESET does not support changing 'type'")
                if key == "default-database" and "default" not in cat.databases:
                    # RESET falls back to 'default', which must exist —
                    # otherwise the catalog has no resolvable context
                    # (review r11: RESET was the loophole around SET's
                    # existence check)
                    raise LookupError(
                        "cannot RESET 'default-database': catalog "
                        f"'{cat.name}' has no database named 'default'"
                    )
            for key in keys:
                cat.properties.pop(key, None)
        else:
            cat.comment = _comment(m.group(5))
        return OK

    m = re.match(r"(?is)^(?:DESCRIBE|DESC)\s+CATALOG\s+(EXTENDED\s+)?([\w`]+)$", s)
    if m:
        name = m.group(2).strip("`")
        cat = reg.catalogs.get(name)
        cols = _c(("info name", "string"), ("info value", "string"))
        if cat is None:
            if name in _spark_catalog_names(session):
                return cols, [["name", name], ["type", "spark"], ["comment", ""]]
            raise LookupError(f"catalog '{name}' does not exist")
        rows: Rows = [
            ["name", cat.name],
            ["type", cat.properties.get("type", "")],
            ["comment", cat.comment or ""],
        ]
        if m.group(1):
            rows += [
                [f"option:{k}", v]
                for k, v in sorted(cat.properties.items())
                if k != "type"
            ]
        return cols, rows

    m = re.match(
        r"(?is)^CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s*"
        r"(?:COMMENT\s+'((?:[^']|'')*)'\s*)?(?:WITH\s*\((.*)\))?$",
        s,
    )
    if m:
        cat, db = _split_db_ref(session, m.group(2))
        if cat is not None:
            if db in cat.databases:
                if m.group(1):
                    return OK
                raise ValueError(f"database '{cat.name}.{db}' already exists")
            cat.databases[db] = EmulatedDatabase(
                db,
                comment=_comment(m.group(3)),
                properties=_parse_options(m.group(4) or ""),
            )
            session.metadata.invalidate("dbs")
            return OK
        # Spark catalog: translate Flink's WITH (...) → DBPROPERTIES
        ddl = f"CREATE DATABASE {'IF NOT EXISTS ' if m.group(1) else ''}{db}"
        if m.group(3) is not None:
            ddl += f" COMMENT '{m.group(3)}'"  # still ''-escaped: embed verbatim
        if m.group(4):
            ddl += f" WITH DBPROPERTIES ({_props_sql(_parse_options(m.group(4)))})"
        session.spark.sql(ddl)
        session.metadata.invalidate("dbs")
        return OK

    m = re.match(
        r"(?is)^DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?([\w.`]+)\s*(RESTRICT|CASCADE)?$", s
    )
    if m:
        cat, db = _split_db_ref(session, m.group(2))
        if cat is not None:
            target = cat.databases.get(db)
            if target is None:
                if m.group(1):
                    return OK
                raise LookupError(f"database '{cat.name}.{db}' does not exist")
            if target.tables and (m.group(3) or "RESTRICT").upper() == "RESTRICT":
                raise ValueError(
                    f"database '{cat.name}.{db}' is not empty — use DROP DATABASE … CASCADE"
                )
            if db == (reg.current_db or cat.default_database) and reg.current == cat.name:
                raise ValueError(f"cannot drop database '{db}': it is currently in use")
            if db == cat.default_database:
                # a catalog whose default database is gone has no
                # resolvable context after the next USE CATALOG —
                # Flink rejects this too (review r11)
                raise ValueError(
                    f"cannot drop database '{db}': it is the default "
                    f"database of catalog '{cat.name}'"
                )
            for t in list(target.tables):  # snapshot: the drop
                # discards from target.tables itself too
                session.drop_connector_table(t)
            cat.databases.pop(db, None)
            session.metadata.invalidate()
            return OK
        ddl = f"DROP DATABASE {'IF EXISTS ' if m.group(1) else ''}{db} {m.group(3) or 'RESTRICT'}"
        session.spark.sql(ddl)
        session.metadata.invalidate()
        return OK

    m = re.match(r"(?is)^ALTER\s+DATABASE\s+([\w.`]+)\s+SET\s*\((.*)\)$", s)
    if m:
        cat, db = _split_db_ref(session, m.group(1))
        opts = _parse_options(m.group(2))
        if cat is not None:
            target = cat.databases.get(db)
            if target is None:
                raise LookupError(f"database '{cat.name}.{db}' does not exist")
            target.properties.update(opts)
            return OK
        session.spark.sql(
            f"ALTER DATABASE {db} SET DBPROPERTIES ({_props_sql(opts)})"
        )
        return OK

    return None


def _props_sql(opts: dict[str, str]) -> str:
    """Options dict → ``'k'='v', …`` with quotes re-escaped — the
    parsed values are unescaped ('' → '), so re-embedding them in
    Spark SQL must re-double them (ADVICE r9: a value containing a
    quote produced malformed DDL), mirroring synthesize_ddl."""
    from flink_sql_toolkit_spark.sources.ddl import escape_sql_quotes  # noqa: PLC0415

    return ", ".join(
        f"'{escape_sql_quotes(k)}'='{escape_sql_quotes(v)}'" for k, v in opts.items()
    )


def _spark_catalog_names(session: "EngineSession") -> set[str]:
    """Loaded catalogs (listCatalogs) PLUS startup-configured plugin
    catalogs (spark.sql.catalog.<name> conf keys) — listCatalogs only
    reports catalogs already touched, so a configured-but-unaccessed
    catalog would otherwise flip from 'does not exist' to existing the
    first time someone USEs it (review r11)."""
    names = {c.name for c in session.spark.catalog.listCatalogs()}

    def scan(items) -> None:
        for key, _v in items:
            km = re.match(r"^spark\.sql\.catalog\.([^.]+)$", key)
            if km:
                names.add(km.group(1))

    # each conf source in its OWN try: runtime spark.conf.set(...)
    # writes the SQLConf, not the SparkContext conf, so both are
    # scanned — and a failure in one (RuntimeConfig.getAll is
    # PySpark 4.0+) must not discard the other's results
    # (review r11 pass 2)
    try:
        scan(session.spark.sparkContext.getConf().getAll())
    except Exception:  # noqa: BLE001 — conf access is best-effort
        pass
    try:
        scan(session.spark.conf.getAll.items())
    except Exception:  # noqa: BLE001
        pass
    return names


def _split_db_ref(
    session: "EngineSession", ref: str
) -> tuple[EmulatedCatalog | None, str]:
    """``[catalog.]db`` → (emulated catalog or None-for-Spark, db name).

    An unqualified name binds to the CURRENT catalog (emulated if one
    is in use); a qualified name binds to the named catalog. A
    qualified SPARK catalog keeps the qualifier in the returned name
    so the translated DDL runs against the named catalog, not the
    current one.
    """
    reg = session.emulated_catalogs
    parts = [p.strip("`") for p in ref.split(".")]
    if len(parts) > 2:
        # silently binding a.b.c to database 'a' of the current
        # catalog could CASCADE-drop the wrong database (review r11)
        raise ValueError(
            f"cannot resolve database reference '{ref}': "
            "expected [catalog.]database"
        )
    if len(parts) == 2:
        cat = reg.catalogs.get(parts[0])
        if cat is not None:
            return cat, parts[1]
        if parts[0] not in _spark_catalog_names(session):
            raise LookupError(f"catalog '{parts[0]}' does not exist")
        return None, f"{parts[0]}.{parts[1]}"
    return reg.current_catalog(), parts[0]

"""Row-level DML — UPDATE / DELETE / MERGE INTO — on filesystem
tables via copy-on-write.

The reference grammar includes UPDATE/DELETE/MERGE as statements
(syntaxes/flink.tmLanguage.json keywords; Flink 1.17+ supports them on
connectors implementing SupportsRowLevelUpdate/Delete, batch only).
Spark's analogue is a transactional table format (Delta/Iceberg),
which isn't bundled here — so the engine implements the same contract
directly on ``connector='filesystem'`` tables with **copy-on-write**:

1. read the current snapshot (``build_reader``, batch),
2. express the row-level change declaratively (a ``CASE``-projection
   for UPDATE, an inverted filter for DELETE, a full-outer join for
   MERGE) so Catalyst plans the scan + rewrite with pushdown/codegen,
3. write the new snapshot to a sibling staging directory,
4. atomically swap the directories and refresh the path cache.

Scale note (100 TB): a statement rewrites the whole table — exactly
Hive-style COW semantics. The scale path is partition-pruned rewrite
(only partitions whose rows can match WHERE/ON are rewritten), which
is what Delta/Iceberg COW does per-file; with `PARTITIONED BY` the
staged write keeps the layout so downstream partition pruning
survives the swap. Non-filesystem connectors raise the same typed
rejection Flink gives for connectors without row-level support.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_sql_toolkit_spark.commands import OK
from flink_sql_toolkit_spark.dialect.rewriter import (
    _mask,
    _split_args,
    _unmask,
    rewrite,
)
from flink_sql_toolkit_spark.sources.connectors import (
    _ENVELOPE_FORMATS,
    build_reader,
    csv_writer_options,
)
from flink_sql_toolkit_spark.sources.ddl import ConnectorTable

# table-name positions admit \x00N\x00 placeholders: these regexes
# run on the MASKED statement, where a backtick-quoted name has
# already been replaced by a placeholder — a plain [\w.`] class made
# `UPDATE `orders` SET …` unparseable (review r11)
_NAME = r"[\w.`\x00]+"
_UPDATE_RE = re.compile(rf"(?is)^UPDATE\s+({_NAME})\s+SET\s+(.*)$")
_DELETE_RE = re.compile(rf"(?is)^DELETE\s+FROM\s+({_NAME})(?:\s+WHERE\s+(.*))?\s*$")
_MERGE_HEAD_RE = re.compile(
    rf"(?is)^MERGE\s+INTO\s+({_NAME})\s+(?:(?:AS\s+)?(?!USING\b)(\w+)\s+)?USING\s+(.*)$"
)

_REJECT_MSG = (
    "UPDATE/DELETE/MERGE require a writable batch table: supported on "
    "connector='filesystem' tables (copy-on-write); other connectors "
    "lack row-level update support (Flink restricts these by connector "
    "the same way)"
)


def _split_top_where(text: str) -> tuple[str, str | None]:
    """Split ``<assignments> [WHERE <cond>]`` at the first TOP-LEVEL
    WHERE keyword — a lazy regex split cut scalar subqueries in SET
    expressions in half at their inner WHERE (review r11). Runs on
    masked text, so literals cannot fake the keyword."""
    depth = 0
    for i, ch in enumerate(text):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and text[i : i + 5].upper() == "WHERE":
            prev = text[i - 1] if i else " "
            nxt = text[i + 5 : i + 6] or " "
            if not (prev.isalnum() or prev in "_`\x00") and not (
                nxt.isalnum() or nxt in "_`"
            ):
                return text[:i].strip(), text[i + 5 :].strip()
    return text.strip(), None


def _bool(cond_sql: str) -> F.Column:
    """Rewritten condition → three-valued-safe boolean (NULL ⇒ false)."""
    return F.coalesce(F.expr(cond_sql).cast("boolean"), F.lit(False))


def _parse_assignments(
    text: str, lits: list[str], allowed_quals: set[str] | None = None
) -> dict[str, str]:
    assigns: dict[str, str] = {}
    for item in _split_args(text):
        m = re.match(rf"(?s)^\s*({_NAME})\s*=\s*(.*)$", item)
        if not m:
            raise ValueError(f"SET item '{_unmask(item, lits).strip()}' must be '<col> = <expr>'")
        # the column may be a masked backticked identifier — unmask
        # before stripping quotes (review r11)
        col = _col_name(_unmask(m.group(1), lits), allowed_quals)
        assigns[col] = rewrite(_unmask(m.group(2).strip(), lits))
    return assigns


def _col_name(raw: str, allowed_quals: set[str] | None = None) -> str:
    """Unqualified column name from a possibly-qualified, possibly
    backtick-quoted reference. Quote-aware: a backticked name
    containing a dot is a single column, not a qualification (review
    r11 — a split-then-strip order mangled dotted quoted names).

    With ``allowed_quals``, a present qualifier must name the update
    target (table name or its MERGE alias) — silently discarding a
    wrong-table or source-alias qualifier would assign the TARGET's
    column instead of raising (review r11 follow-up)."""
    m = re.match(
        r"(?s)^\s*((?:(?:[\w]+|`[^`]+`)\s*\.\s*)*)(?:`([^`]+)`|([\w]+))\s*$",
        raw,
    )
    if not m:
        raise ValueError(f"cannot parse column reference {raw.strip()!r}")
    if m.group(1) and allowed_quals is not None:
        quals = [
            q.strip("`") for q in re.findall(r"`[^`]+`|[\w]+", m.group(1))
        ]
        ok = {a.lower() for a in allowed_quals if a}  # None-tolerant
        if len(quals) > 1:
            # session table names are flat: a multi-part qualifier
            # (db.t.col) cannot be verified against the target, and
            # checking only the tail would let 'other_db.target.col'
            # through (review r11) — reject rather than guess
            raise ValueError(
                f"column reference '{raw.strip()}' has a multi-part "
                "qualifier; qualify with the target table or its alias "
                "only"
            )
        if quals[-1].lower() not in ok:
            raise ValueError(
                f"column reference '{raw.strip()}' is qualified by "
                f"'{quals[-1]}', which is not the statement's target"
            )
    return m.group(2) or m.group(3)


def _snapshot_writer(new_df: DataFrame, table: ConnectorTable):
    """One definition of the snapshot writer's format dialect — every
    COW path (full swap, partition swap) writes with the SAME options
    or writer-fidelity fixes silently apply to only one of them
    (review r11)."""
    w = new_df.write.format(table.format).mode("overwrite")
    if table.format == "csv":
        w = w.options(**csv_writer_options(table.options))
    return w


def _cow_swap(spark: SparkSession, table: ConnectorTable, new_df: DataFrame) -> None:
    """Stage the new snapshot next to the live directory, then swap.

    A ``DISTRIBUTED BY`` table's snapshot is re-bucketed before the
    write so the key→bucket file contract survives every rewrite
    (UPDATE/DELETE/MERGE/COMPACT alike)."""
    from flink_sql_toolkit_spark.sources.connectors import _apply_distribution  # noqa: PLC0415

    new_df = _apply_distribution(new_df, table, streaming=False)
    path = table.options["path"].rstrip("/")
    if os.path.isfile(path):
        raise NotImplementedError(
            "row-level DML needs a directory-backed filesystem table "
            "(single-file paths cannot be atomically swapped)"
        )
    stage = f"{path}__cow_{uuid.uuid4().hex[:8]}"
    w = _snapshot_writer(new_df, table)
    if table.partitioned_by:
        w = w.partitionBy(*table.partitioned_by)
    try:
        w.save(stage)  # executes the read of the OLD snapshot
    except BaseException:
        # a failed rewrite job must not leak the partial staging dir
        # (repeated failures would accumulate snapshot-sized orphans
        # next to the table — review r11)
        shutil.rmtree(stage, ignore_errors=True)
        raise
    old = f"{path}__cow_old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
        try:
            os.rename(stage, path)
        except OSError:  # roll the live directory back
            os.rename(old, path)
            raise
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(stage, path)
    spark.catalog.refreshByPath(path)


def _partition_filter(pcols: list[str], affected: list[tuple]) -> F.Column:
    cond = F.lit(False)
    for vals in affected:
        row = F.lit(True)
        for c, v in zip(pcols, vals):
            row = row & (F.col(c).isNull() if v is None else (F.col(c) == F.lit(v)))
        cond = cond | row
    return cond


def _hive_part_value(v) -> str:
    """Format a partition value exactly as Spark's hive-style writer
    names the directory (``ExternalCatalogUtils.escapePathName``
    semantics for the value types `_prunable` admits): NULL →
    ``__HIVE_DEFAULT_PARTITION__``, booleans lowercase (Python's
    ``str(True)`` is ``'True'`` but Spark writes ``true``), dates in
    ISO form; ints/safe strings verbatim."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    if hasattr(v, "isoformat") and not hasattr(v, "hour"):  # datetime.date
        return v.isoformat()
    return str(v)


def _cow_swap_partitions(
    spark: SparkSession, table: ConnectorTable, new_df: DataFrame, affected: list[tuple]
) -> None:
    """Partition-pruned copy-on-write: stage only the affected
    partitions, then swap each partition directory individually —
    untouched partitions are never read for the write nor rewritten
    (the Delta/Iceberg COW granularity, at partition level). A
    partition whose rows were all deleted has no staged directory and
    is removed. Partition dir names come from `_hive_part_value`; an
    affected partition whose live directory cannot be found raises
    instead of silently skipping (it means name derivation diverged
    from what Spark wrote). On failure mid-swap, already-trashed
    partitions are restored before the error propagates — the table is
    never left missing data."""
    from flink_sql_toolkit_spark.sources.connectors import _apply_distribution  # noqa: PLC0415

    new_df = _apply_distribution(new_df, table, streaming=False)
    pcols = table.partitioned_by
    path = table.options["path"].rstrip("/")
    stage = f"{path}__cow_{uuid.uuid4().hex[:8]}"
    w = _snapshot_writer(new_df, table).partitionBy(*pcols)
    try:
        w.save(stage)  # executes the (partition-pruned) read of the OLD snapshot
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)  # no orphan staging dirs
        raise
    trash = f"{path}__cow_old_{uuid.uuid4().hex[:8]}"
    os.makedirs(trash)
    moved: list[tuple[str, str]] = []  # (trash location, original live dir)
    try:
        for vals in affected:
            rel = "/".join(
                f"{c}={_hive_part_value(v)}" for c, v in zip(pcols, vals)
            )
            old_dir, new_dir = os.path.join(path, rel), os.path.join(stage, rel)
            if not os.path.exists(old_dir) and not os.path.exists(new_dir):
                raise RuntimeError(
                    f"partition-pruned COW: derived directory '{rel}' exists in "
                    f"neither the live table nor the staged write — partition "
                    f"value formatting diverged from Spark's layout"
                )
            if os.path.exists(old_dir):
                trashed = os.path.join(trash, rel.replace("/", "%2F"))
                os.rename(old_dir, trashed)
                moved.append((trashed, old_dir))
            if os.path.exists(new_dir):
                os.makedirs(os.path.dirname(old_dir), exist_ok=True)
                os.rename(new_dir, old_dir)
    except BaseException:
        # roll back: restore every partition already moved to trash so
        # no committed data is lost (mirrors _cow_swap's snapshot
        # restore). A partition whose new dir was already swapped in is
        # replaced by its original.
        for trashed, old_dir in reversed(moved):
            try:
                if os.path.exists(old_dir):
                    shutil.rmtree(old_dir, ignore_errors=True)
                os.rename(trashed, old_dir)
            except OSError:
                pass  # leave remains in trash rather than mask the error
        shutil.rmtree(stage, ignore_errors=True)
        spark.catalog.refreshByPath(path)
        raise
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)
    spark.catalog.refreshByPath(path)


_HIVE_SAFE_RE = re.compile(r"^[A-Za-z0-9_.\-]+$")


def _prunable(table: ConnectorTable, affected: list[tuple]) -> bool:
    """Partition-pruned swap only for value types whose hive directory
    name we can derive exactly (`_hive_part_value`): NULL, bool, int,
    date, and non-empty strings that need no URL-escaping. Anything
    else (floats, timestamps, empty strings, exotic characters) falls
    back to the full-table rewrite — correct, just not pruned."""
    if not (0 < len(affected) <= 1000):
        return False
    for vals in affected:
        for v in vals:
            if v is None or isinstance(v, bool):
                continue
            if isinstance(v, int) or (
                hasattr(v, "isoformat") and not hasattr(v, "hour")
            ):
                continue
            if isinstance(v, str) and _HIVE_SAFE_RE.match(v):
                continue
            return False
    return True


def _result(n: int):
    return [{"name": "rows_affected", "logicalType": "bigint"}], [[n]]


def _target_table(sess, name: str) -> ConnectorTable:
    table = sess.connector_tables.get(name.strip("`"))
    if table is None or table.connector != "filesystem":
        raise NotImplementedError(_REJECT_MSG)
    if table.format in _ENVELOPE_FORMATS:
        # the COW writer would either crash (Spark has no such write
        # data source) or, worse, persist decoded rows that the
        # envelope-decoding reader then mis-parses — typed rejection
        # instead (review r11)
        raise NotImplementedError(
            f"row-level DML is not supported on '{table.format}' changelog "
            "tables: the copy-on-write rewrite cannot re-encode the "
            "envelope; materialize to a plain-format table first"
        )
    # the rewrite always runs as a batch snapshot read, so it is
    # accepted even in a streaming-mode session (Flink itself insists
    # on batch mode here — a documented, more-permissive divergence)
    return table


def try_execute_dml(sess, stmt: str):
    """Engine entry point: run an UPDATE/DELETE/MERGE statement
    against a filesystem connector table; returns the
    ``(columns, rows)`` operation result."""
    masked, lits = _mask(stmt.strip().rstrip(";"))
    if m := _UPDATE_RE.match(masked):
        table = _target_table(sess, _unmask(m.group(1), lits))
        set_txt, where_txt = _split_top_where(m.group(2))
        if where_txt is not None and not where_txt:
            # a bare trailing WHERE (condition lost to truncation) must
            # NOT silently degrade to a full-table update (review r11)
            raise ValueError("UPDATE has a WHERE keyword with no condition")
        assigns = _parse_assignments(set_txt, lits, {table.name})
        where = rewrite(_unmask(where_txt, lits)) if where_txt else "true"
        out = _execute_update(sess.spark, table, assigns, where)
    elif m := _DELETE_RE.match(masked):
        table = _target_table(sess, _unmask(m.group(1), lits))
        if m.group(2) is not None and not m.group(2).strip():
            # truncation must not degrade to a full-table DELETE
            # (review r11 — same guard as UPDATE's bare WHERE)
            raise ValueError("DELETE has a WHERE keyword with no condition")
        out = _execute_delete(
            sess.spark,
            table,
            rewrite(_unmask(m.group(2), lits)) if m.group(2) else "true",
        )
    elif m := _MERGE_HEAD_RE.match(masked):
        table = _target_table(sess, _unmask(m.group(1), lits))
        out = _execute_merge(sess, table, m.group(2), m.group(3), lits)
    else:
        raise ValueError(f"cannot parse DML statement: {stmt[:120]}")
    sess.refresh_connector_views()
    return out


def _execute_update(
    spark: SparkSession, table: ConnectorTable, assigns: dict[str, str], where: str
) -> tuple:
    # aliased so table-qualified references (WHERE orders.id = 5 —
    # valid ANSI/Flink SQL) resolve, like MERGE's target (review r11)
    df = build_reader(spark, table, streaming=False).alias(table.name)
    types = {c.name: c.spark_type for c in table.columns}
    for col in assigns:
        if col not in types:
            raise ValueError(f"UPDATE SET references unknown column '{col}'")
    hit = _bool(where)
    affected = df.filter(hit).count()
    proj = [
        F.when(hit, F.expr(assigns[c]).cast(types[c])).otherwise(F.col(c)).alias(c)
        if c in assigns
        else F.col(c)
        for c in types
    ]
    if affected == 0:
        # semantic no-op on ANY table shape: never rewrite the
        # snapshot just to change nothing (review r11 — the early
        # return used to live only inside the partition-pruned
        # branch). Still ANALYZE the projection so an invalid SET
        # expression stays a diagnosed error, not a silent no-op
        # (review r11 follow-up) — .schema runs analysis only.
        df.select(*proj).schema
        return _result(0)
    pcols = table.partitioned_by
    # partition-pruned rewrite: only partitions holding matching rows
    # are re-read and re-written (unless a SET touches a partition
    # column, which can move rows across partitions)
    if pcols and where != "true" and not (set(assigns) & set(pcols)):
        parts = [tuple(r) for r in df.filter(hit).select(*pcols).distinct().collect()]
        if _prunable(table, parts):
            sub = df.filter(_partition_filter(pcols, parts))
            _cow_swap_partitions(spark, table, sub.select(*proj), parts)
            return _result(affected)
    _cow_swap(spark, table, df.select(*proj))
    return _result(affected)


def _execute_delete(spark: SparkSession, table: ConnectorTable, where: str) -> tuple:
    df = build_reader(spark, table, streaming=False).alias(table.name)
    hit = _bool(where)
    affected = df.filter(hit).count()
    if affected == 0:
        return _result(0)  # no rewrite for a semantic no-op (review r11)
    phys = [c.name for c in table.columns]
    pcols = table.partitioned_by
    if pcols and where != "true":
        parts = [tuple(r) for r in df.filter(hit).select(*pcols).distinct().collect()]
        if _prunable(table, parts):
            sub = df.filter(_partition_filter(pcols, parts))
            _cow_swap_partitions(spark, table, sub.filter(~hit).select(*phys), parts)
            return _result(affected)
    _cow_swap(spark, table, df.filter(~hit).select(*phys))
    return _result(affected)


# -- MERGE INTO ------------------------------------------------------

_WHEN_SPLIT_RE = re.compile(r"(?is)\bWHEN\s+(?=(?:NOT\s+)?MATCHED\b)")
_M_UPDATE_RE = re.compile(
    r"(?is)^MATCHED(?:\s+AND\s+(.*?))?\s+THEN\s+UPDATE\s+SET\s+(.*?)\s*$"
)
_M_DELETE_RE = re.compile(r"(?is)^MATCHED(?:\s+AND\s+(.*?))?\s+THEN\s+DELETE\s*$")
_M_INSERT_RE = re.compile(
    r"(?is)^NOT\s+MATCHED(?:\s+AND\s+(.*?))?\s+THEN\s+INSERT\s+"
    r"(?:\*|\(([^)]*)\)\s*VALUES\s*\((.*)\))\s*$"
)


def _parse_using(using: str, lits: list[str]) -> tuple[str, str, str]:
    """``USING (subquery)|table [AS] alias ON ...`` → (masked source
    sql or name, alias, remainder starting at ON)."""
    using = using.strip()
    if using.startswith("("):
        depth = 0
        for i, ch in enumerate(using):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    src = using[1:i]
                    rest = using[i + 1 :]
                    break
        else:
            raise ValueError("unbalanced parentheses in MERGE USING")
        am = re.match(r"(?is)^\s*(?:AS\s+)?(?!ON\b)(\w+)\s+(?=ON\b)", rest)
    else:
        nm = re.match(rf"(?is)^({_NAME})\s+", using)
        if not nm:
            raise ValueError("MERGE USING must name a table or (subquery)")
        src = nm.group(1)
        rest = using[nm.end() :]
        am = re.match(r"(?is)^\s*(?:AS\s+)?(?!ON\b)(\w+)\s+(?=ON\b)", rest)
    alias = am.group(1) if am else ""
    if am:
        rest = rest[am.end() :]
    return src, alias, rest


def _execute_merge(sess, table: ConnectorTable, t_alias: str | None, using: str, lits) -> tuple:
    spark = sess.spark
    src_txt, s_alias, rest = _parse_using(using, lits)
    om = re.match(r"(?is)^\s*ON\s+(.*)$", rest)
    if not om:
        raise ValueError("MERGE requires an ON <condition> clause")
    parts = _WHEN_SPLIT_RE.split(om.group(1))
    on_cond = rewrite(_unmask(parts[0].strip(), lits))
    if len(parts) < 2:
        raise ValueError("MERGE requires at least one WHEN clause")

    t_alias = t_alias or table.name
    src_txt_plain = _unmask(src_txt, lits)
    if src_txt.lstrip().startswith("(") or not re.match(r"^[\w.`]+$", src_txt_plain.strip()):
        src_df = spark.sql(rewrite(src_txt_plain))
    else:
        src_df = spark.table(src_txt_plain.strip("`"))
    s_alias = s_alias or "src"

    tgt = (
        build_reader(spark, table, streaming=False)
        .withColumn("_cow_t", F.lit(True))
        .withColumn("_cow_tid", F.monotonically_increasing_id())
        .alias(t_alias)
    )
    src = (
        src_df.withColumn("_cow_s", F.lit(True))
        .withColumn("_cow_sid", F.monotonically_increasing_id())
        .alias(s_alias)
    )
    joined = tgt.join(src, on=F.expr(on_cond), how="full_outer")

    t_only = F.col("_cow_s").isNull()
    s_only = F.col("_cow_t").isNull()
    matched = ~t_only & ~s_only

    def clause_cond(g) -> F.Column:
        """WHEN ... AND <cond>: absent → unconditional; EMPTY (lost to
        truncation) → typed error, never a silent unconditional
        UPDATE/DELETE/INSERT (review r11 — same empty-vs-absent class
        as the bare-WHERE guards)."""
        if g is None:
            return F.lit(True)
        if not g.strip():
            raise ValueError("MERGE WHEN clause has an AND with no condition")
        return _bool(rewrite(_unmask(g, lits)))

    types = {c.name: c.spark_type for c in table.columns}
    # matched clauses apply first-match-wins in declared order
    upd_applies: list[tuple[F.Column, dict[str, str]]] = []
    del_applies: list[F.Column] = []
    ins_applies: F.Column | None = None
    ins_exprs: dict[str, str] | None = None
    prior = F.lit(False)
    for clause in parts[1:]:
        clause = clause.strip()
        if um := _M_UPDATE_RE.match(clause):
            cond = clause_cond(um.group(1))
            upd_applies.append((
                matched & ~prior & cond,
                _parse_assignments(um.group(2), lits, {t_alias, table.name}),
            ))
            prior = prior | cond
        elif dm := _M_DELETE_RE.match(clause):
            cond = clause_cond(dm.group(1))
            del_applies.append(matched & ~prior & cond)
            prior = prior | cond
        elif im := _M_INSERT_RE.match(clause):
            if ins_applies is not None:
                raise NotImplementedError("MERGE supports one WHEN NOT MATCHED clause")
            cond = clause_cond(im.group(1))
            ins_applies = s_only & cond
            if im.group(2) is None:  # INSERT * → by-name from the source
                ins_exprs = {
                    c: f"{s_alias}.{c}" for c in types if c in src_df.columns
                }
            else:
                # unmask BEFORE stripping: a backticked column is a
                # \x00N\x00 placeholder here, and the un-unmasked key
                # would silently miss the projection lookup and write
                # NULL (review r11)
                cols = [
                    _col_name(_unmask(c, lits), {t_alias, table.name})
                    for c in _split_args(im.group(2))
                ]
                vals = [rewrite(_unmask(v.strip(), lits)) for v in _split_args(im.group(3))]
                if len(cols) != len(vals):
                    raise ValueError("MERGE INSERT column/value count mismatch")
                ins_exprs = dict(zip(cols, vals))
        else:
            raise ValueError(f"cannot parse MERGE WHEN clause: WHEN {_unmask(clause, lits)[:80]}")

    # typos must be typed errors, not silent no-ops/NULL inserts: an
    # UPDATE SET key or INSERT column absent from the target schema
    # would otherwise just miss the projection lookups (review r11 —
    # same validation _execute_update applies)
    for _, assigns in upd_applies:
        for col in assigns:
            if col not in types:
                raise ValueError(
                    f"MERGE UPDATE SET references unknown column '{col}'"
                )
    for col in ins_exprs or {}:
        if col not in types:
            raise ValueError(f"MERGE INSERT references unknown column '{col}'")

    proj = []
    for c, ty in types.items():
        tcol = F.col(f"{t_alias}.{c}")
        e = F.when(t_only, tcol)
        for applies, assigns in upd_applies:
            e = e.when(applies, F.expr(assigns[c]).cast(ty) if c in assigns else tcol)
        e = e.when(matched, tcol)
        if ins_applies is not None:
            ins = (
                F.expr(ins_exprs[c]).cast(ty)
                if c in (ins_exprs or {})
                else F.lit(None).cast(ty)
            )
            e = e.when(ins_applies, ins)
        proj.append(e.alias(c))

    any_delete = F.lit(False)
    for d in del_applies:
        any_delete = any_delete | d
    any_update = F.lit(False)
    for applies, _ in upd_applies:
        any_update = any_update | applies
    # A target row matched by several source rows where NO update/delete
    # clause applies must still come out exactly once (the cardinality
    # error below only covers applicable clauses — the standard keeps
    # non-applying duplicates silent). Rank join rows per target id,
    # applying-clause rows first; keep rank 1. Source-only rows get a
    # synthetic negative partition key so they stay one-per-partition
    # (a single NULL-tid window partition would serialize all inserts
    # through one task at scale).
    _dedup_key = F.coalesce(F.col("_cow_tid"), -F.col("_cow_sid") - F.lit(1))
    joined = joined.withColumn(
        "_cow_rn",
        F.row_number().over(
            Window.partitionBy(_dedup_key).orderBy(
                F.when(any_update | any_delete, F.lit(0)).otherwise(F.lit(1)),
                F.col("_cow_sid"),
            )
        ),
    )
    keep = t_only | (matched & ~any_delete & (F.col("_cow_rn") == 1))
    if ins_applies is not None:
        keep = keep | ins_applies

    # the joined plan feeds three jobs (cardinality check, counts, the
    # swap write) — persist it so the full-outer join runs once, not
    # three times (review r11)
    joined = joined.persist()
    try:
        # SQL-standard cardinality check (also Delta/Iceberg behavior):
        # a target row matched by more than one source row with an
        # applicable UPDATE/DELETE clause is ambiguous — raise rather
        # than emit one output row per duplicate match.
        if upd_applies or del_applies:
            dup = (
                joined.filter(matched & (any_update | any_delete))
                .groupBy("_cow_tid")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "MERGE INTO failed: a target row matched multiple source "
                    "rows with an applicable UPDATE/DELETE clause; deduplicate "
                    "the source or tighten the ON condition"
                )

        counts = joined.select(
            F.sum(any_update.cast("long")).alias("u"),
            F.sum(any_delete.cast("long")).alias("d"),
            F.sum((ins_applies if ins_applies is not None else F.lit(False)).cast("long")).alias("i"),
        ).first()
        affected = (counts.u or 0) + (counts.d or 0) + (counts.i or 0)
        if affected == 0:
            # no clause applied to any row: the output equals the
            # target — skip the snapshot rewrite (review r11), but
            # analyze the projection so bad assignment/insert
            # expressions stay diagnosed errors (follow-up)
            joined.filter(keep).select(*proj).schema
            return _result(0)
        _cow_swap(spark, table, joined.filter(keep).select(*proj))
    finally:
        joined.unpersist()
    return _result(affected)


# -- ALTER TABLE ... COMPACT -------------------------------------------


def _data_bytes(path: str) -> int:
    """Committed data bytes under a table/partition directory
    (staging dirs and _SUCCESS/dot files excluded)."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if "__cow" not in d]
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def compact_table(sess, name: str, partition_text: str | None):
    """``ALTER TABLE t [PARTITION (spec)] COMPACT`` — Flink's
    filesystem small-file compaction (batch mode), the remaining
    ALTER subform the reference grammar declares
    (tmLanguage.json: ADD|MODIFY|RENAME|SET|RESET|COMPACT).

    Rewrites the target's data files into ~`spark.sql.files.
    maxPartitionBytes`-sized outputs via the same atomic
    copy-on-write swap row-level DML uses. Partitioned tables
    repartition on the partition columns (one writer task — hence one
    compacted file — per partition, Flink's per-partition merge
    granularity); `PARTITION (spec)` compacts only that partition's
    directory, leaving every other partition untouched on disk. A
    `DISTRIBUTED BY` table recompacts through its bucket spec so the
    bucket contract survives compaction. At 100 TB this is the
    maintenance pass that keeps scan task counts proportional to data
    size rather than to historical write batch counts.
    """
    table = sess.connector_tables.get(name.strip("`"))
    if table is None or table.connector != "filesystem":
        raise NotImplementedError(
            "ALTER TABLE ... COMPACT targets filesystem connector tables "
            "(Flink scopes compaction to the filesystem connector the same way)"
        )
    if table.format in _ENVELOPE_FORMATS:
        raise NotImplementedError(
            f"COMPACT is not supported on '{table.format}' changelog tables: "
            "the rewrite cannot re-encode the envelope"
        )
    spark = sess.spark
    df = build_reader(spark, table, streaming=False).select(
        *[c.name for c in table.columns]
    )
    pcols = table.partitioned_by

    if partition_text:
        if not pcols:
            raise ValueError(f"table '{name}' is not partitioned")
        spec: dict[str, str] = {}
        for part in _split_args(partition_text):
            km = re.match(r"(?s)^\s*([\w`]+)\s*=\s*(?:'([^']*)'|(\S+))\s*$", part)
            if not km:
                raise ValueError(f"cannot parse PARTITION spec item: {part!r}")
            spec[km.group(1).strip("`")] = km.group(2) if km.group(2) is not None else km.group(3)
        if set(spec) != set(pcols):
            raise ValueError(
                f"PARTITION spec must name exactly the partition columns {pcols}"
            )
        cond = F.lit(True)
        for c in pcols:
            cond = cond & (F.col(c) == F.lit(spec[c]).cast(df.schema[c].dataType))
        sub = df.filter(cond)
        parts = [tuple(r) for r in sub.select(*pcols).distinct().collect()]
        if not parts:  # empty partition: nothing to compact
            return OK
        if _prunable(table, parts):
            if not table.distributed_by and table.bucket_count is None:
                # the swap re-buckets DISTRIBUTED BY tables itself;
                # only plain tables need the one-file-per-partition
                # merge here
                sub = sub.repartition(*[F.col(c) for c in pcols])
            _cow_swap_partitions(spark, table, sub, parts)
            sess.refresh_connector_views()
            return OK
        # partition value whose hive directory name cannot be derived
        # exactly (timestamps, floats, escaped strings): fall back to
        # the full-table compact — correct, just not partition-scoped
        # (the same fallback UPDATE/DELETE take; review r11 — the
        # unguarded swap raised the formatting-diverged RuntimeError)

    if table.distributed_by or table.bucket_count is not None:
        pass  # _cow_swap re-applies the bucket spec before the write
    elif pcols:
        df = df.repartition(*[F.col(c) for c in pcols])
    else:
        conf = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        target = max(1, -(-_data_bytes(table.options["path"].rstrip("/")) // _byte_conf(conf)))
        df = df.repartition(target)
    _cow_swap(spark, table, df)
    sess.refresh_connector_views()
    return OK


_BYTE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _byte_conf(conf: str) -> int:
    """Spark byte-string conf value → bytes ('128m', '1g', '134217728',
    '128mb' are all valid Spark spellings; JavaUtils.byteStringAsBytes
    semantics with 1024 multipliers)."""
    m = re.match(r"^\s*(\d+)\s*([a-zA-Z]*)\s*$", conf)
    if not m:
        return 134217728
    suffix = m.group(2).lower().rstrip("b") or "b"
    return int(m.group(1)) * _BYTE_SUFFIX.get(suffix if suffix in _BYTE_SUFFIX else suffix[:1], 1)

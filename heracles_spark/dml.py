"""UPDATE / DELETE — predicate-driven copy-on-write row mutation.

The reference's write surface is append/bulk-load only (its CLI rejects
UPDATE/DELETE; SURVEY §2.11). This module completes the standard DML
triad next to MERGE (heracles_spark.merge) with the two simpler forms:

    UPDATE t SET col = expr [, ...] [WHERE pred]
    DELETE FROM t [WHERE pred]

Semantics:
  - All SET expressions evaluate against the PRE-update row (SQL
    standard): they are computed in one ``select`` over the input row,
    never sequentially.
  - A row is updated/deleted iff the predicate is TRUE (3VL: NULL keeps
    the row intact for both statements).
  - SET on a key column is rejected — the data model's row identity is
    the key (HBase row key, HBaseRelation.scala:668); key mutation is
    expressed as DELETE + INSERT (or MERGE).

Scale: the WHERE clause is compiled (conservatively) into the same
pruning AST the scan pruner uses, and only files whose min/max box /
bloom filters say MAY are read and rewritten — the others are kept
as-is in the file index. A point DELETE against a 100 TB table costs
O(touched files). Unrecognized predicate shapes simply disable pruning
(full rewrite), never change semantics: the exact predicate is always
re-applied row-level inside the rewrite. The rewrite is sized from the
touched files' recorded row counts, and DELETE's ``rows_affected`` is
those rows minus the rows harvested from the files it wrote, so a
DELETE reads the touched files once (the rewrite) and an UPDATE twice
(its ``rows_affected`` count, then the rewrite). An index entry without
a row count falls back to counting the rows.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from heracles_spark.catalog import (HeraclesCatalog, KeyTable, local_frame,
                                    recorded_rows)
from heracles_spark.pruning import prune_files
from heracles_spark.sqltext import literal_value, split_top, split_top_and

# Observability for tests / EXPLAIN-style introspection.
LAST_DML_STATS: dict[str, Any] = {}

_CMP_RE = re.compile(r"^\s*(\w+)\s*(<=|>=|<>|!=|=|<|>)\s*(.+?)\s*$", re.S)
_IN_RE = re.compile(r"^\s*(\w+)\s+IN\s*\((.+)\)\s*$", re.I | re.S)
_BETWEEN_RE = re.compile(r"^\s*(\w+)\s+BETWEEN\s+(.+?)\s+AND\s+(.+?)\s*$",
                         re.I | re.S)
_ISNULL_RE = re.compile(r"^\s*(\w+)\s+IS\s+NULL\s*$", re.I)
_ISNOTNULL_RE = re.compile(r"^\s*(\w+)\s+IS\s+NOT\s+NULL\s*$", re.I)
_NUM_RE = re.compile(r"^[+-]?\d+(\.\d+)?([eE][+-]?\d+)?$")


def _parse_literal(s: str):
    s = s.strip()
    text = literal_value(s)
    if text is not None:
        return text
    if _NUM_RE.match(s):
        f = float(s)
        return int(s) if re.match(r"^[+-]?\d+$", s) else f
    if s.upper() in ("TRUE", "FALSE"):
        return s.upper() == "TRUE"
    return None                            # not a recognizable literal


# SQL timestamp literal separator: '2024-06-01 12:00:00'. File stats are
# written via datetime.isoformat() (writer._jsonable), i.e. a 'T'
# separator — lexicographic comparison of ' ' (0x20) vs 'T' (0x54)
# misorders same-day values, so literals on temporal columns must be
# normalized to the stats encoding before box comparison.
_TS_SPACE_RE = re.compile(r"^(\d{4}-\d{2}-\d{2}) (\d)")

_TEMPORAL = ("date", "timestamp")
_NUMERIC = ("tinyint", "byte", "smallint", "short", "int", "integer",
            "bigint", "long", "float", "double")


def _coerce_literal(lit, col: str, col_types: dict[str, str] | None):
    """Validate/normalize a parsed literal against the column's declared
    SQL type. Returns the (possibly rewritten) literal, or None when the
    literal's type can't be compared safely with the column's file stats
    — dropping the conjunct prunes less but stays sound."""
    if col_types is None:
        return lit
    t = col_types.get(col, "").lower()
    if not t:
        return lit
    if t in _TEMPORAL:
        if not isinstance(lit, str):
            return None
        return _TS_SPACE_RE.sub(r"\1T\2", lit)
    if t in _NUMERIC:
        return lit if isinstance(lit, (int, float)) \
            and not isinstance(lit, bool) else None
    if t == "string":
        return lit if isinstance(lit, str) else None
    if t == "boolean":
        return lit if isinstance(lit, bool) else None
    return lit


def where_to_pruning_pred(where: str | None,
                          col_types: dict[str, str] | None = None
                          ) -> tuple | None:
    """Compile a WHERE clause into the pruning AST, keeping only the
    conjuncts it can prove equivalent (col-vs-literal comparisons, IN,
    BETWEEN, IS [NOT] NULL). Dropping a conjunct only loosens pruning
    (sound), so a NOT or function conjunct is simply dropped; a
    top-level OR yields None (prune nothing).

    ``col_types`` (column → declared SQL type) enables typed literal
    coercion: temporal literals are normalized to the isoformat encoding
    the file stats use, and type-mismatched literals (e.g. ``k = '3'``
    on an int key, which Spark implicitly casts row-level) drop their
    conjunct instead of producing an unsound/throwing box comparison."""
    if not where:
        return None
    conjuncts = split_top_and(where)
    if conjuncts is None:
        return None
    out: list[tuple] = []
    for c in conjuncts:
        m = _ISNOTNULL_RE.match(c)
        if m:
            out.append(("isnotnull", m.group(1)))
            continue
        m = _ISNULL_RE.match(c)
        if m:
            out.append(("isnull", m.group(1)))
            continue
        m = _BETWEEN_RE.match(c)
        if m:
            lo, hi = _parse_literal(m.group(2)), _parse_literal(m.group(3))
            if lo is not None and hi is not None:
                lo = _coerce_literal(lo, m.group(1), col_types)
                hi = _coerce_literal(hi, m.group(1), col_types)
                if lo is not None and hi is not None:
                    out.append(("between", m.group(1), lo, hi))
            continue
        m = _IN_RE.match(c)
        if m:
            vals = [_parse_literal(v) for v in split_top(m.group(2), ",")]
            if vals and all(v is not None for v in vals):
                vals = [_coerce_literal(v, m.group(1), col_types)
                        for v in vals]
                if all(v is not None for v in vals):
                    out.append(("in", m.group(1), vals))
            continue
        m = _CMP_RE.match(c)
        if m and "(" not in m.group(1):
            lit = _parse_literal(m.group(3))
            if lit is not None:
                lit = _coerce_literal(lit, m.group(1), col_types)
                if lit is not None:
                    op = {"<>": "!="}.get(m.group(2), m.group(2))
                    out.append((op, m.group(1), lit))
            continue
        # unrecognized conjunct: skip (prunes less, still sound)
    if not out:
        return None
    return out[0] if len(out) == 1 else ("and", *out)


def _touched_and_kept(tbl: KeyTable, where: str | None):
    pred = where_to_pruning_pred(where, dict(tbl.columns))
    if pred is None:
        return list(tbl.files), []
    touched = prune_files(tbl.files, pred, tbl.key_cols)
    tpaths = {f["path"] for f in touched}
    return touched, [f for f in tbl.files if f["path"] not in tpaths]


def _read_files(spark: SparkSession, tbl: KeyTable, files: list[dict]):
    if not files:
        return local_frame(spark, [], tbl.schema())
    return (spark.read.schema(tbl.schema())
            .parquet(*sorted(f["path"] for f in files)))


def delete_from(spark: SparkSession, catalog: HeraclesCatalog, table: str,
                where: str | None = None) -> KeyTable:
    """DELETE FROM table [WHERE pred] via file-level copy-on-write."""
    global LAST_DML_STATS
    from heracles_spark import writer

    tbl = catalog.get_table(table)
    touched, kept = _touched_and_kept(tbl, where)
    if not touched:
        LAST_DML_STATS = {"op": "delete", "files_total": len(tbl.files),
                          "files_rewritten": 0, "rows_affected": 0}
        return tbl
    df = _read_files(spark, tbl, touched)
    hit = (F.coalesce(F.expr(where).cast("boolean"), F.lit(False))
           if where else F.lit(True))
    n_touched = recorded_rows(touched)
    n_hit = None if n_touched is not None else df.where(hit).count()
    out = writer.write_cow_files(
        spark, catalog, table, df.where(~hit), kept,
        n_buckets=(None if n_touched is None
                   else writer.buckets_for_rows(n_touched)),
        base_version=tbl.version)
    if n_hit is None:
        # deleted = touched rows - rows in the freshly harvested files
        kept_paths = {f["path"] for f in kept}
        n_hit = n_touched - recorded_rows(
            [f for f in out.files if f["path"] not in kept_paths])
    LAST_DML_STATS = {"op": "delete", "files_total": len(tbl.files),
                      "files_rewritten": len(touched),
                      "rows_affected": n_hit}
    return out


def update_table(spark: SparkSession, catalog: HeraclesCatalog, table: str,
                 assignments: dict[str, str],
                 where: str | None = None) -> KeyTable:
    """UPDATE table SET col=expr, ... [WHERE pred] via copy-on-write."""
    global LAST_DML_STATS
    from heracles_spark import writer

    tbl = catalog.get_table(table)
    cols = {c for c, _ in tbl.columns}
    for lhs in assignments:
        if lhs in tbl.key_cols:
            raise ValueError(
                f"UPDATE cannot SET key column {lhs!r} (row identity); "
                f"use DELETE + INSERT or MERGE")
        if lhs not in cols:
            raise ValueError(f"UPDATE: no such column {lhs!r} in {table}")

    touched, kept = _touched_and_kept(tbl, where)
    if not touched:
        LAST_DML_STATS = {"op": "update", "files_total": len(tbl.files),
                          "files_rewritten": 0, "rows_affected": 0}
        return tbl
    df = _read_files(spark, tbl, touched)
    hit = (F.coalesce(F.expr(where).cast("boolean"), F.lit(False))
           if where else F.lit(True))
    n_hit = df.where(hit).count()
    # One select: every assignment sees the pre-update row.
    sel = [(F.when(hit, F.expr(assignments[c])).otherwise(F.col(c))
            .alias(c) if c in assignments else F.col(c))
           for c, _ in tbl.columns]
    n_touched = recorded_rows(touched)
    out = writer.write_cow_files(
        spark, catalog, table, df.select(*sel), kept,
        n_buckets=(None if n_touched is None
                   else writer.buckets_for_rows(n_touched)),
        base_version=tbl.version)
    LAST_DML_STATS = {"op": "update", "files_total": len(tbl.files),
                      "files_rewritten": len(touched),
                      "rows_affected": n_hit}
    return out

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
  - SET targets resolve case-insensitively against the table's
    columns, as Spark resolves them.

Scale: each top-level AND conjunct of the WHERE clause is compiled by
``pruning.parse_where`` — the compiler the SQL routers use — and the
conjuncts that compile are ANDed into the pruning AST; only files whose
min/max box / bloom filters say MAY are read and rewritten, the others
are kept as-is in the file index. A point DELETE against a 100 TB table
costs O(touched files). A conjunct outside that grammar (NOT, a
function, a literal that does not fit its column's type) is dropped:
it prunes less, never changes semantics — the exact predicate is
always re-applied row-level inside the rewrite. The rewrite is sized
from the touched files' recorded row counts, and DELETE's
``rows_affected`` is those rows minus the rows harvested from the files
it wrote, so a DELETE reads the touched files once (the rewrite) and an
UPDATE twice (its ``rows_affected`` count, then the rewrite). An index
entry without a row count falls back to counting the rows.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from heracles_spark.catalog import (HeraclesCatalog, KeyTable, local_frame,
                                    recorded_rows)
from heracles_spark.pruning import parse_where, prune_files
from heracles_spark.sqltext import split_top_and

# Observability for tests / EXPLAIN-style introspection.
LAST_DML_STATS: dict[str, Any] = {}


def where_to_pruning_pred(where: str | None,
                          col_types: dict[str, str]) -> tuple | None:
    """The pruning AST of the WHERE clause's top-level AND conjuncts
    that ``pruning.parse_where`` compiles against ``col_types``, ANDed;
    None when none does. Dropping a conjunct only loosens pruning."""
    if not where:
        return None
    preds = [p for c in split_top_and(where) or [where]
             if (p := parse_where(c, col_types, None)) is not None]
    if not preds:
        return None
    return preds[0] if len(preds) == 1 else ("and", *preds)


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
    cmap = {c.lower(): c for c, _ in tbl.columns}
    sets = {}
    for lhs, rhs in assignments.items():
        col = cmap.get(lhs.lower())
        if col is None:
            raise ValueError(f"UPDATE: no such column {lhs!r} in {table}")
        if col in tbl.key_cols:
            raise ValueError(
                f"UPDATE cannot SET key column {lhs!r} (row identity); "
                f"use DELETE + INSERT or MERGE")
        sets[col] = rhs

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
    sel = [(F.when(hit, F.expr(sets[c])).otherwise(F.col(c))
            .alias(c) if c in sets else F.col(c))
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

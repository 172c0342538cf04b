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
always re-applied row-level inside the rewrite.

Point-put (≙ HBase ``Put``/``Delete`` of the touched rows; see
heracles_spark.writer): when the touched files hold at most
``pruning.LOCAL_SCAN_ROWS`` rows and ``pruning.read_local`` can read
them, they are read on the driver and split by ``pruning.eval_arrow``'s
exact mask of the compiled conjuncts into candidates (the rows for
which they are TRUE) and rows that cannot satisfy the WHERE. When every
conjunct compiled, the candidates are exactly the matched rows: a
DELETE keeps the others and counts the candidates on the driver, with
no DataFrame. Otherwise Spark evaluates the WHERE over a
``LocalRelation`` of the candidates only (no job); an UPDATE always
lets Spark evaluate the SET there. The other rows are copied unchanged,
and ``writer.put_rows`` writes the result as one file.
``LAST_DML_STATS["write"]`` says which path ran: ``"local"``,
``"spark"``, or None when no file is touched.

On the Spark path (larger touched sets, files ``read_local`` declines,
tables with ``bloomCols``) the rewrite is sized from the touched files'
recorded row counts, and DELETE's ``rows_affected`` is those rows minus
the rows harvested from the files it wrote, so a DELETE reads the
touched files once (the rewrite) and an UPDATE twice (its
``rows_affected`` count, then the rewrite). An index entry without a
row count falls back to counting the rows.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from heracles_spark.catalog import (HeraclesCatalog, KeyTable, local_frame,
                                    recorded_rows)
from heracles_spark.pruning import (eval_arrow, parse_where, prune_files,
                                    read_local)
from heracles_spark.sqltext import split_top_and

# Observability for tests / EXPLAIN-style introspection.
LAST_DML_STATS: dict[str, Any] = {}


def where_to_pruning_pred(where: str | None,
                          col_types: dict[str, str]) -> tuple | None:
    """The pruning AST of the WHERE clause's top-level AND conjuncts
    that ``pruning.parse_where`` compiles against ``col_types``, ANDed;
    None when none does. Dropping a conjunct only loosens pruning."""
    return _compile_where(where, col_types)[0]


def _compile_where(where: str | None, col_types: dict[str, str]):
    """(``where_to_pruning_pred``'s AST, whether it is the whole WHERE:
    every conjunct compiled, or there is no WHERE)."""
    if not where:
        return None, True
    preds = [parse_where(c, col_types, None)
             for c in split_top_and(where) or [where]]
    kept = [p for p in preds if p is not None]
    if not kept:
        return None, False
    return (kept[0] if len(kept) == 1 else ("and", *kept),
            len(kept) == len(preds))


def _touched_and_kept(tbl: KeyTable, where: str | None):
    """(pruning AST, whether it is the whole WHERE, files the WHERE may
    touch, files it cannot)."""
    pred, exact = _compile_where(where, dict(tbl.columns))
    if pred is None:
        return None, exact, list(tbl.files), []
    touched = prune_files(tbl.files, pred, tbl.key_cols)
    tpaths = {f["path"] for f in touched}
    return (pred, exact, touched,
            [f for f in tbl.files if f["path"] not in tpaths])


def _read_files(spark: SparkSession, tbl: KeyTable, files: list[dict]):
    if not files:
        return local_frame(spark, [], tbl.schema())
    return (spark.read.schema(tbl.schema())
            .parquet(*sorted(f["path"] for f in files)))


def _local_split(tbl: KeyTable, touched: list[dict], pred: tuple | None):
    """The touched rows read on the driver, as (rows for which ``pred``
    is TRUE, the others) Arrow tables, or None for the Spark path (see
    the module docstring)."""
    import pyarrow.compute as pc

    from heracles_spark import writer

    total = recorded_rows(touched)
    if total is None or not writer.put_eligible(tbl, total):
        return None
    rows = read_local(tbl, touched, None)
    if rows is None:
        return None
    if pred is None:
        return rows, rows.slice(0, 0)
    mask = eval_arrow(pred, rows)
    if mask is None:
        return None             # not covered: read_local's rule
    mask = pc.fill_null(mask, False)
    return rows.filter(mask), rows.filter(pc.invert(mask))


def _hit(where: str | None):
    return (F.coalesce(F.expr(where).cast("boolean"), F.lit(False))
            if where else F.lit(True))


def _put(catalog: HeraclesCatalog, tbl: KeyTable, others, out,
         kept: list[dict]) -> KeyTable:
    """Commit the Arrow rows ``others`` plus ``out`` as one new file in
    place of the touched files."""
    import pyarrow as pa

    from heracles_spark import writer

    return writer.put_rows(catalog, tbl, pa.concat_tables([others, out]),
                           kept, "merge-cow", tbl.version)


def delete_from(spark: SparkSession, catalog: HeraclesCatalog, table: str,
                where: str | None = None) -> KeyTable:
    """DELETE FROM table [WHERE pred] via file-level copy-on-write."""
    global LAST_DML_STATS
    from heracles_spark import writer

    tbl = catalog.get_table(table)
    pred, exact, touched, kept = _touched_and_kept(tbl, where)
    stats = {"op": "delete", "files_total": len(tbl.files),
             "files_rewritten": len(touched)}
    if not touched:
        LAST_DML_STATS = {**stats, "write": None, "rows_affected": 0}
        return tbl
    split = _local_split(tbl, touched, pred)
    if split is not None:
        cand, others = split
        if exact:
            # The AST is the whole WHERE: every candidate is deleted.
            survivors = cand.slice(0, 0)
        else:
            df = local_frame(spark, cand, tbl.schema()).where(~_hit(where))
            writer.validate_constraints(df, tbl)
            survivors = writer.collect_local(df, tbl.schema())
        out = _put(catalog, tbl, others, survivors, kept)
        LAST_DML_STATS = {**stats, "write": "local",
                          "rows_affected": cand.num_rows - survivors.num_rows}
        return out
    df = _read_files(spark, tbl, touched)
    hit = _hit(where)
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
    LAST_DML_STATS = {**stats, "write": "spark", "rows_affected": n_hit}
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
        if col in sets:
            raise ValueError(f"UPDATE: column {col!r} is SET twice")
        sets[col] = rhs

    pred, _exact, touched, kept = _touched_and_kept(tbl, where)
    stats = {"op": "update", "files_total": len(tbl.files),
             "files_rewritten": len(touched)}
    if not touched:
        LAST_DML_STATS = {**stats, "write": None, "rows_affected": 0}
        return tbl
    hit = _hit(where)
    # One select: every assignment sees the pre-update row.
    sel = [(F.when(hit, F.expr(sets[c])).otherwise(F.col(c))
            .alias(c) if c in sets else F.col(c))
           for c, _ in tbl.columns]
    split = _local_split(tbl, touched, pred)
    if split is not None:
        import pyarrow.compute as pc
        from pyspark.sql import types as T

        cand, others = split
        schema = tbl.schema()
        flag = "__hit"
        while flag in cmap:
            flag += "_"
        df = local_frame(spark, cand, schema).select(
            *[c.cast(f.dataType).alias(f.name)
              for c, f in zip(sel, schema.fields)],
            hit.alias(flag))
        writer.validate_constraints(df, tbl)
        out = writer.collect_local(df, T.StructType(
            schema.fields + [T.StructField(flag, T.BooleanType())]))
        n_hit = pc.sum(out.column(flag)).as_py() or 0
        written = _put(catalog, tbl, others, out.drop_columns([flag]), kept)
        LAST_DML_STATS = {**stats, "write": "local", "rows_affected": n_hit}
        return written
    df = _read_files(spark, tbl, touched)
    n_hit = df.where(hit).count()
    n_touched = recorded_rows(touched)
    out = writer.write_cow_files(
        spark, catalog, table, df.select(*sel), kept,
        n_buckets=(None if n_touched is None
                   else writer.buckets_for_rows(n_touched)),
        base_version=tbl.version)
    LAST_DML_STATS = {**stats, "write": "spark", "rows_affected": n_hit}
    return out

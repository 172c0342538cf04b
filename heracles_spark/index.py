"""Secondary index projections — pruned lookups on NON-key columns.

The reference can only seek by row key; its answer to other access paths
is the server-side seek-hint filter (HBaseCustomFilter.scala:43-658),
which still scans every region. This module adds the columnar-era
answer: a SECONDARY INDEX as a key-organized PROJECTION table — the
indexed column becomes the sort key, rows carry the base table's key
columns as pointers. The existing machinery then does all the work:

  - building the index IS ``write_key_organized`` on (col, *base_keys);
  - probing it IS a pruned scan on its leading key (min/max boxes are
    tight on ``col`` because the projection is sorted by it);
  - the pointer set prunes the BASE table's file index with the same
    MAY/NO interval logic MERGE's copy-on-write uses.

Relation to the other non-key access paths:
  - bloom filters (heracles_spark/bloom.py) skip files for = / IN with
    zero extra storage but cannot help range predicates;
  - Z-order (zorder.py) tightens every key dimension but only for
    columns IN the key;
  - an index projection handles arbitrary predicates on one non-key
    column (ranges included) at the cost of one sorted copy of
    (col, keys) — the classic space/latency trade.

Freshness: the index records the base-table version it was built from.
A lookup against a stale index FALLS BACK to a direct pruned scan of
the base table (conservative — never wrong, just slower) and reports it
in LAST_INDEX_STATS; REFRESH INDEX rebuilds.

Scale: the index build is one range shuffle of (col, keys) — tiny rows,
so cheap even when the base table is wide. A selective probe reads
O(matching index files) + O(pointed-to base files); the pointer
collection is capped (``POINTER_CAP``) exactly like MERGE's key-set
pruning — an unselective predicate degrades to the direct scan instead
of flooding the driver."""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from heracles_spark.catalog import HeraclesCatalog, local_frame
from heracles_spark.pruning import (pred_columns, prune_files, scan, to_nnf,
                                    to_sql)

# Max pointer values collected driver-side before falling back to a
# direct scan (bounds driver memory like a broadcast threshold).
POINTER_CAP = 20_000

LAST_INDEX_STATS: dict[str, Any] = {}

_PROP = "indexes"


def _indexes(tbl) -> dict[str, dict[str, Any]]:
    return json.loads(tbl.properties.get(_PROP, "{}"))


def _index_table_name(table: str, name: str) -> str:
    return f"{table}__idx_{name}"


def create_index(spark: SparkSession, catalog: HeraclesCatalog,
                 table: str, col: str | list[str],
                 name: str | None = None,
                 include: list[str] | None = None) -> str:
    """Create + build a secondary index projection on ``col`` (a single
    column or a COMPOSITE list — the projection sorts by the columns in
    order, so prefix predicates prune tightly and deeper columns prune
    as residuals, exactly like the primary key layout).

    ``include`` adds COVERING columns (SQL Server/Postgres INCLUDE): a
    lookup whose projection fits inside (cols, keys, include) is
    answered from the index alone — an INDEX-ONLY scan, zero base-table
    IO."""
    icols = [col] if isinstance(col, str) else list(col)
    tbl = catalog.get_table(table)
    cols = {c: t for c, t in tbl.columns}
    for c in icols:
        if c not in cols:
            raise ValueError(f"no such column {c!r} in {table}")
    if icols[0] in tbl.key_cols:
        raise ValueError(
            f"{icols[0]!r} is already a key column; the primary layout "
            f"serves predicates leading with it")
    include = [c for c in (include or [])
               if c not in icols and c not in tbl.key_cols]
    for c in include:
        if c not in cols:
            raise ValueError(f"no such INCLUDE column {c!r} in {table}")
    name = name or "_".join(icols)
    idx = _indexes(tbl)
    if name in idx:
        raise ValueError(f"index {name!r} already exists on {table}")

    itable = _index_table_name(table, name)
    schema = ([(c, cols[c]) for c in icols]
              + [(k, cols[k]) for k in tbl.key_cols if k not in icols]
              + [(c, cols[c]) for c in include])
    catalog.create_table(itable, schema, key_cols=icols)
    _build(spark, catalog, table, itable, icols, include)
    # The registration commit below bumps the base version by one (pure
    # metadata — no data change), so the index is built AS OF that
    # post-commit version.
    idx[name] = {"col": icols[0], "cols": icols, "table": itable,
                 "include": include,
                 "built_version": catalog.get_table(table).version + 1}
    catalog.update_file_index(table, None, op=f"create-index:{name}",
                              properties={_PROP: json.dumps(idx)})
    return itable


def _build(spark: SparkSession, catalog: HeraclesCatalog, table: str,
           itable: str, col: str | list[str],
           include: list[str] | None = None) -> None:
    from heracles_spark import writer

    icols = [col] if isinstance(col, str) else list(col)
    base = catalog.read_table(spark, table)
    tbl = catalog.get_table(table)
    rest = [k for k in tbl.key_cols if k not in icols]
    proj = base.select(*icols, *rest, *(include or []))
    writer.write_key_organized(spark, catalog, itable, proj,
                               mode="overwrite")


def refresh_index(spark: SparkSession, catalog: HeraclesCatalog,
                  table: str, name: str) -> dict[str, Any]:
    """Bring a stale index current and stamp the base version.

    Incremental fast path (same file-diff the rollup refresher uses):
    when the base's current file set is a SUPERSET of the file set at
    the index's built version — pure appends since the last refresh —
    only the NEW files are projected and appended to the index
    (projection tables tolerate overlapping key ranges; the pruner uses
    per-file boxes). Any rewrite (OPTIMIZE / MERGE / UPDATE / DELETE)
    breaks the superset relation and triggers an exact full rebuild.
    Returns mode: 'noop' | 'incremental' | 'rebuild'."""
    from heracles_spark import writer

    tbl = catalog.get_table(table)
    idx = _indexes(tbl)
    if name not in idx:
        raise ValueError(f"no such index {name!r} on {table}")
    entry = idx[name]
    if entry["built_version"] == tbl.version:
        return {"refreshed": False, "mode": "noop",
                "built_version": entry["built_version"]}

    hist = {h["v"]: h for h in tbl.history}
    built = hist.get(entry["built_version"])
    cur_paths = {f["path"] for f in tbl.files}
    old_paths = set(built["paths"]) if built and "paths" in built else None

    if old_paths is not None and old_paths <= cur_paths:
        new_paths = sorted(cur_paths - old_paths)
        if new_paths:
            icols = entry.get("cols", [entry["col"]])
            rest = [k for k in tbl.key_cols if k not in icols]
            base = (spark.read.schema(tbl.schema()).parquet(*new_paths)
                    .select(*icols, *rest, *entry.get("include", [])))
            writer.write_key_organized(spark, catalog, entry["table"],
                                       base, mode="append")
        mode = "incremental"
    else:
        _build(spark, catalog, table, entry["table"],
               entry.get("cols", [entry["col"]]), entry.get("include"))
        mode = "rebuild"
    # The stamp commit below bumps the base version by one without
    # changing data, so the index is fresh AS OF that version.
    entry["built_version"] = tbl.version + 1
    idx[name] = entry
    catalog.update_file_index(table, None, op=f"refresh-index:{name}",
                              properties={_PROP: json.dumps(idx)})
    return {"refreshed": True, "mode": mode,
            "built_version": entry["built_version"]}


def drop_index(catalog: HeraclesCatalog, table: str, name: str) -> None:
    tbl = catalog.get_table(table)
    idx = _indexes(tbl)
    if name not in idx:
        raise ValueError(f"no such index {name!r} on {table}")
    itable = idx.pop(name)["table"]
    catalog.drop_table(itable)
    catalog.update_file_index(table, None, op=f"drop-index:{name}",
                              properties={_PROP: json.dumps(idx)})


def indexed_lookup(spark: SparkSession, catalog: HeraclesCatalog,
                   table: str, pred: tuple,
                   name: str | None = None,
                   columns: list[str] | None = None) -> DataFrame:
    """Answer a predicate on an indexed non-key column via the index:
    probe the projection (pruned on its leading key), collect the
    pointer key set, prune the base table's files with it, re-apply the
    predicate as the residual. Falls back to a direct pruned scan when
    the index is missing/stale or the pointer set exceeds POINTER_CAP.

    ``columns`` (optional) names the output projection. When it fits
    inside the index's own columns (indexed col + keys + INCLUDE set)
    the lookup is INDEX-ONLY: the probe's rows are the answer and the
    base table is never read (mode='index-only' in LAST_INDEX_STATS).

    ``pred`` is a pruning-AST predicate over the indexed column (and
    only it) — e.g. ("between", "v", 10, 20)."""
    global LAST_INDEX_STATS
    # Fresh stats per lookup: stale keys from a previous call (e.g. a
    # prior 'index' mode's pointers) must not leak into this one's.
    LAST_INDEX_STATS.clear()
    tbl = catalog.get_table(table)
    pcol = _pred_col(pred)
    entry = None
    if name is not None:
        entry = _indexes(tbl).get(name)
    else:
        for e in _indexes(tbl).values():
            if pcol in e.get("cols", [e["col"]]):
                entry = e
                break

    def _direct(reason: str) -> DataFrame:
        LAST_INDEX_STATS.update({"mode": "direct", "reason": reason,
                                 "base_files_read": len(
                                     prune_files(tbl.files, to_nnf(pred),
                                                 tbl.key_cols))})
        out = scan(spark, catalog, table, pred)
        return out.select(*columns) if columns else out

    if entry is None:
        return _direct("no-index")
    if entry["built_version"] != tbl.version:
        return _direct("stale-index")
    if _mentions_isnull(npred_or(pred)):
        # NULLs are not projected into the index (they sort nowhere
        # useful and the writer drops null keys) — IS NULL probes must
        # go to the base table.
        return _direct("isnull-predicate")

    itbl = catalog.get_table(entry["table"])
    icols = {c for c, _ in itbl.columns}
    npred = to_nnf(pred)
    ifiles = prune_files(itbl.files, npred, itbl.key_cols)

    if columns is not None and set(columns) <= icols:
        # Covered projection: the probe rows ARE the answer.
        LAST_INDEX_STATS.update({"mode": "index-only",
                                 "index_files_read": len(ifiles),
                                 "base_files_read": 0})
        if not ifiles:
            return local_frame(spark, [], itbl.schema()).select(*columns)
        return (spark.read.schema(itbl.schema())
                .parquet(*[f["path"] for f in ifiles])
                .where(to_sql(pred))
                .select(*columns))

    def _proj(df: DataFrame) -> DataFrame:
        return df.select(*columns) if columns else df

    if not ifiles:
        LAST_INDEX_STATS.update({"mode": "index", "index_files_read": 0,
                                 "base_files_read": 0, "pointers": 0})
        return _proj(local_frame(spark, [], tbl.schema()))
    probe = (spark.read.schema(itbl.schema())
             .parquet(*[f["path"] for f in ifiles])
             .where(to_sql(pred))
             .select(*tbl.key_cols))
    ptrs = probe.limit(POINTER_CAP + 1).collect()
    if len(ptrs) > POINTER_CAP:
        return _direct("pointer-cap")
    if not ptrs:
        LAST_INDEX_STATS.update({"mode": "index",
                                 "index_files_read": len(ifiles),
                                 "base_files_read": 0, "pointers": 0})
        return _proj(local_frame(spark, [], tbl.schema()))
    conj = []
    for i, k in enumerate(tbl.key_cols):
        vals = sorted({r[i] for r in ptrs})
        conj.append(("in", k, list(vals)))
    kpred = conj[0] if len(conj) == 1 else ("and", *conj)
    bfiles = prune_files(tbl.files, to_nnf(kpred), tbl.key_cols)
    LAST_INDEX_STATS.update({"mode": "index",
                             "index_files_read": len(ifiles),
                             "base_files_read": len(bfiles),
                             "pointers": len(ptrs)})
    if not bfiles:
        return _proj(local_frame(spark, [], tbl.schema()))
    return _proj(spark.read.schema(tbl.schema())
                 .parquet(*[f["path"] for f in bfiles])
                 .where(to_sql(kpred))
                 .where(to_sql(pred)))


def npred_or(pred: tuple) -> tuple:
    """NNF so a NOT(isnotnull) shows up as isnull before the check."""
    return to_nnf(pred)


def _mentions_isnull(pred: tuple) -> bool:
    op = pred[0].lower()
    if op in ("and", "or"):
        return any(_mentions_isnull(p) for p in pred[1:])
    if op == "not":
        return _mentions_isnull(pred[1])
    return op == "isnull"


def _pred_col(pred: tuple) -> str:
    cols = pred_columns(pred)
    if len(cols) != 1:
        raise ValueError(
            f"indexed_lookup needs a single-column predicate, got {cols}")
    return cols.pop()

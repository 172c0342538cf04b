"""Inverted text indexes as key-organized PROJECTION tables.

``CREATE TEXT INDEX ti ON t (col)`` materializes the postings relation
(term, <base key cols...>, tf) SORTED BY TERM via the standard
key-range writer — so a term probe is the engine's ordinary pruned
scan (file min/max on the term key), and the postings table is a
first-class queryable table: BM25 / tf-idf / boolean retrieval are
plain SQL over it (see queries.pipeline.doc_bm25_indexed for the
probe-shaped BM25). The same design rule as heracles_spark/index.py:
an index IS a key-organized table, so building it is the writer and
probing it is the pruner — no new storage machinery.

Scale: build = one explode + combinable (term, key) count + the range
shuffle every bulk load pays; size = Σ distinct (term, doc) pairs.

REFRESH is incremental on pure appends (index.py's file-diff pattern):
when the base's current file set is a superset of the file set at the
index's built version, ONLY the appended files are exploded and their
postings appended — at 100 TB that's the difference between an index
you refresh nightly and one you don't. Exactness guard: postings are
per-(term, key) COUNTS, so an appended file that re-uses an existing
key would split a count across rows; the refresher probes for key
collisions with a key-column-only semi-join against the old files
(column-pruned parquet scan of just the keys — no text re-read) and
falls back to the exact full rebuild when any collision exists, as it
does on any rewrite (OPTIMIZE / MERGE / UPDATE / DELETE breaks the
superset relation). Incremental output is row-identical to a rebuild.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_PROP = "text_indexes"

# Inspectable outcome of the last refresh (mirrors index.LAST_INDEX_STATS):
# {"mode": "noop" | "incremental" | "rebuild", "new_files": int}
LAST_TEXT_INDEX_STATS: dict[str, Any] = {}


def _registry(tbl) -> dict:
    return json.loads(tbl.properties.get(_PROP, "{}"))


def _commit_registry(catalog, table: str, reg: dict, op: str) -> None:
    # files=None: properties-only commit (round-10 review).
    catalog.update_file_index(table, None, op=op,
                              properties={_PROP: json.dumps(reg)})


def _postings_name(table: str, iname: str) -> str:
    return f"{table}__tidx_{iname}"


def _postings(tbl, base, text_col: str):
    """(term, <key cols>, tf) from a base-table DataFrame: one explode
    + a combinable count — identical for full builds and the
    incremental new-files-only path."""
    from heracles_spark.operators import text

    toks = base.select(
        *tbl.key_cols,
        F.explode(text.tokens(F.col(text_col))).alias("term"))
    return (toks.groupBy("term", *tbl.key_cols)
                .agg(F.count(F.lit(1)).alias("tf")))


def create_text_index(spark: SparkSession, catalog, table: str,
                      text_col: str, iname: str,
                      n_buckets: int | None = None):
    """Build (term, <key cols>, tf) postings sorted by term."""
    from heracles_spark import writer

    tbl = catalog.get_table(table)
    if text_col not in [c for c, _ in tbl.columns]:
        raise ValueError(f"no such column {text_col!r} on {table!r}")
    postings = _postings(tbl, catalog.read_table(spark, table), text_col)
    name = _postings_name(table, iname)
    key_types = dict(tbl.columns)
    catalog.create_table(
        name,
        [("term", "string")]
        + [(k, key_types[k]) for k in tbl.key_cols]
        + [("tf", "bigint")],
        ["term"] + list(tbl.key_cols),
        properties={"textCol": text_col, "baseTable": table})
    writer.write_key_organized(spark, catalog, name, postings,
                               mode="overwrite", n_buckets=n_buckets)
    reg = _registry(tbl)
    reg[iname] = {"col": text_col, "table": name,
                  "built_version": catalog.get_table(table).version + 1}
    _commit_registry(catalog, table, reg, f"create-text-index:{iname}")
    catalog.publish(spark)
    return catalog.get_table(name)


def refresh_text_index(spark: SparkSession, catalog, table: str,
                       iname: str):
    """Bring the postings current. Pure appends since the built version
    (current file set ⊇ built file set) take the INCREMENTAL path: only
    the new files are exploded, guarded by a key-collision probe (keys
    of the new rows semi-joined against a key-column-only scan of the
    old files — a re-used key would split a (term, key) count across
    rows, so any collision falls back to the exact rebuild). Rewrites
    break the superset relation and always rebuild. Either way the
    postings equal a from-scratch build row-for-row."""
    global LAST_TEXT_INDEX_STATS
    from heracles_spark import writer

    tbl = catalog.get_table(table)
    name = _postings_name(table, iname)
    itbl = catalog.get_table(name)            # raises if absent
    base_cols = {c for c, _ in tbl.columns}
    text_col = (itbl.properties or {}).get("textCol", "text")
    if text_col not in base_cols:
        raise ValueError(f"indexed column {text_col!r} missing on base")
    reg = _registry(tbl)
    entry = reg.get(iname, {})

    if entry.get("built_version") == tbl.version:
        LAST_TEXT_INDEX_STATS = {"mode": "noop", "new_files": 0}
        return itbl

    hist = {h["v"]: h for h in tbl.history}
    built = hist.get(entry.get("built_version"))
    cur_paths = {f["path"] for f in tbl.files}
    old_paths = set(built["paths"]) if built and "paths" in built else None

    mode = "rebuild"
    if old_paths is not None and old_paths <= cur_paths:
        new_paths = sorted(cur_paths - old_paths)
        if not new_paths:
            mode = "noop"
        else:
            new_rows = spark.read.schema(tbl.schema()).parquet(*new_paths)
            if old_paths:
                old_keys = (spark.read.schema(tbl.schema())
                            .parquet(*sorted(old_paths))
                            .select(*tbl.key_cols))
                collisions = (new_rows.select(*tbl.key_cols)
                              .join(old_keys, list(tbl.key_cols),
                                    "left_semi")
                              .limit(1).count())
            else:
                collisions = 0
            if collisions == 0:
                writer.write_key_organized(
                    spark, catalog, name,
                    _postings(tbl, new_rows, text_col), mode="append")
                mode = "incremental"
    if mode == "rebuild":
        writer.write_key_organized(
            spark, catalog, name,
            _postings(tbl, catalog.read_table(spark, table), text_col),
            mode="overwrite")
    LAST_TEXT_INDEX_STATS = {
        "mode": mode,
        "new_files": (len(cur_paths - old_paths)
                      if old_paths is not None else None)}

    reg = _registry(catalog.get_table(table))
    if iname in reg:
        reg[iname]["built_version"] = \
            catalog.get_table(table).version + 1
        _commit_registry(catalog, table, reg,
                         f"refresh-text-index:{iname}")
    catalog.publish(spark)
    return catalog.get_table(name)


def drop_text_index(spark: SparkSession, catalog, table: str,
                    iname: str) -> None:
    catalog.drop_table(_postings_name(table, iname))
    reg = _registry(catalog.get_table(table))
    if iname in reg:
        del reg[iname]
        _commit_registry(catalog, table, reg,
                         f"drop-text-index:{iname}")

"""Row-level version diff — the CDC/change-data-feed read surface.

``table_changes(t, v_from, v_to)`` returns what changed between two
versions as Delta-CDF-style rows: the table's columns plus
``_change_type`` ∈ insert | delete | update_preimage | update_postimage
(an updated key yields two rows — its old and new image).

The key insight is FILE-SET pruning: copy-on-write means versions share
most of their files, and two identical files contain identical rows. So
the diff reads only files exclusive to one side (old-only ∪ new-only) —
after a small MERGE, that's the touched files, not the table. A full
OVERWRITE degrades gracefully to reading both versions (no shared
files), which is the true cost of that diff anyway.

Plan shape: one full-outer join on the key columns over the exclusive
file sets (both sides shuffle on the key; full outer cannot broadcast).
Classification is pure expression work: old-side-null ⇒ insert,
new-side-null ⇒ delete, any non-key differing under null-safe equality
⇒ update; identical rows (same key re-written into a new file by an
overlapping rewrite) drop out. Cost is O(changed files), which at
100 TB is the difference between a CDC poll and a table scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heracles_spark.catalog import CatalogError, HeraclesCatalog, local_frame


def table_changes(spark: SparkSession, catalog: HeraclesCatalog,
                  table: str, from_version: int,
                  to_version: int | None = None) -> DataFrame:
    """Changes from ``from_version`` to ``to_version`` (default: current).
    See module docstring for the output contract."""
    tbl = catalog.get_table(table)
    hist = {h["v"]: h for h in tbl.history}
    if from_version not in hist:
        raise CatalogError(
            f"{table} has no version {from_version}; available: "
            f"{sorted(hist)} (older versions may have been VACUUMed)")
    old_paths = set(hist[from_version]["paths"])
    if to_version is None:
        new_paths = {f["path"] for f in tbl.files}
    elif to_version in hist:
        new_paths = set(hist[to_version]["paths"])
    else:
        raise CatalogError(f"{table} has no version {to_version}")

    schema = tbl.schema()
    keys = tbl.key_cols
    non_keys = tbl.non_key_cols()

    def _read(paths: set[str]) -> DataFrame:
        if paths:
            return spark.read.schema(schema).parquet(*sorted(paths))
        return local_frame(spark, [], schema)

    old = _read(old_paths - new_paths).alias("o")
    new = _read(new_paths - old_paths).alias("n")

    cond = None
    for k in keys:
        c = F.col(f"o.{k}") == F.col(f"n.{k}")
        cond = c if cond is None else (cond & c)
    j = old.join(new, cond, "full_outer")

    in_old = F.col(f"o.{keys[0]}").isNotNull()
    in_new = F.col(f"n.{keys[0]}").isNotNull()
    same = F.lit(True)
    for c in non_keys:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))

    def _side(side: str, ctype: str):
        return [*(F.col(f"{side}.{c}").alias(c) for c in schema.fieldNames()),
                F.lit(ctype).alias("_change_type")]

    from heracles_spark.operators.dedup import _persist
    j = _persist(j)
    inserts = j.where(in_new & ~in_old).select(*_side("n", "insert"))
    deletes = j.where(in_old & ~in_new).select(*_side("o", "delete"))
    upd = j.where(in_old & in_new & ~same)
    pre = upd.select(*_side("o", "update_preimage"))
    post = upd.select(*_side("n", "update_postimage"))
    return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

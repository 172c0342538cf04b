"""MERGE INTO — set-based upsert/update/delete over key-organized tables.

The reference's write surface is append/bulk-load with HBase's implicit
per-key last-write-wins (HBaseRelation.scala:672-679; SURVEY §7.2.3
documents the divergence); it has no multi-clause conditional merge.
This module adds the standard SQL:2003 / Delta-style MERGE as the
engine's general mutation primitive, built as ONE declarative plan:

    MERGE INTO t [AS a] USING s [AS b] ON cond
      WHEN MATCHED [AND c] THEN UPDATE SET x = e, ... | DELETE
      WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES (exprs) | INSERT *
      WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE

Clauses apply in statement order; the first clause whose condition holds
wins for a given row (SQL:2003 14.9 general rule 6).

Plan shape (deliberately NOT a full-outer join):

  - ``target LEFT OUTER JOIN source`` handles MATCHED and NOT MATCHED BY
    SOURCE rows. A left join keeps the small source side broadcastable —
    Spark cannot broadcast either side of a full outer join, so the
    common case (big fact table, small change set) would otherwise force
    a sort-merge shuffle of the whole target.
  - ``source LEFT ANTI JOIN target`` produces the NOT MATCHED inserts,
    only when an insert clause exists.
  - Union, then rewrite through the key-range writer (copy-on-write).

Target rows are identified by the table's key columns — the reference's
data model guarantees per-key uniqueness (HBase row key). A source that
matches one target row more than once makes the update ambiguous; like
Delta, that raises instead of silently duplicating the row.

Scale: the join shuffles on the ON keys (or broadcasts the source); the
rewrite is FILE-LEVEL COPY-ON-WRITE (Delta/Iceberg-style): when the ON
condition carries key-column equalities, the source's key bounds (min/max
box, tightened by the exact distinct set when it fits under
``COW_KEYSET_CAP``) are tested against the catalog's per-file min/max
index with the same MAY/NO interval logic the scan pruner uses, and only
intersecting files are read and rewritten — a small change set against a
100 TB table costs O(touched files), not O(table). The pruning is
conservative by construction (over-include ⇒ harmless rewrite;
under-include is impossible because ``may_match`` only answers NO when no
key in the file's box can equal a source key). Inserts anti-join against
the touched subset, which is exact: a source key outside every touched
file's range is outside every file's range, hence absent from the table.
NOT MATCHED BY SOURCE clauses force the full rewrite (they can mutate
rows in any file). ``LAST_MERGE_STATS`` exposes which path ran.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from heracles_spark.catalog import HeraclesCatalog, KeyTable, local_frame

_S_MARK = "__merge_src_present__"

# Observability for the last merge_into call (tests + EXPLAIN-style
# introspection): {"mode": "cow"|"full", "files_total", "files_rewritten"}.
LAST_MERGE_STATS: dict[str, Any] = {}

# Max distinct per-column key values collected driver-side to tighten the
# rewrite-set pruning beyond the min/max box. Above the cap the box alone
# decides (still conservative). The cap bounds driver memory exactly like
# a broadcast threshold does.
COW_KEYSET_CAP = 20_000

_EQ_RE = re.compile(r"^\s*(\w+)\s*\.\s*(\w+)\s*=\s*(\w+)\s*\.\s*(\w+)\s*$")


def _key_equalities(on: str, t: str, s: str,
                    keys: list[str]) -> dict[str, str]:
    """Extract ``{target_key_col: source_col}`` from a pure-conjunction ON
    condition. Only top-level AND of ``alias.col = alias.col`` conjuncts
    is recognized; OR / NOT / parentheses / expressions disable
    copy-on-write pruning (the merge itself still handles them — pruning
    is an optimization, never a semantics change). Extra non-key
    conjuncts are fine: any matched pair must still satisfy the key
    equalities, so the touched-file superset remains sound."""
    if re.search(r"\(|\bOR\b|\bNOT\b", on, re.IGNORECASE):
        return {}
    out: dict[str, str] = {}
    for part in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
        m = _EQ_RE.match(part)
        if not m:
            continue
        a1, c1, a2, c2 = m.groups()
        if a1 == t and a2 == s and c1 in keys:
            out[c1] = c2
        elif a1 == s and a2 == t and c2 in keys:
            out[c2] = c1
    return out


def _source_key_pred(source: DataFrame, eq: dict[str, str]) -> tuple | None:
    """Build a pruning predicate describing which target key values the
    source can match: per covered key column, a [min,max] box, tightened
    by the exact distinct-value set when it fits under COW_KEYSET_CAP.
    Returns None when the source is empty (nothing can match)."""
    from heracles_spark.writer import _jsonable

    kcols = list(eq)
    aggs = []
    for k in kcols:
        c = F.col(eq[k])
        aggs += [F.min(c).alias(f"__mn_{k}"), F.max(c).alias(f"__mx_{k}"),
                 F.approx_count_distinct(c).alias(f"__nd_{k}")]
    row = source.agg(*aggs).collect()[0]
    if row[f"__mn_{kcols[0]}"] is None and row[f"__mx_{kcols[0]}"] is None:
        empty = source.limit(1).count() == 0
        if empty:
            return None

    conjuncts: list[tuple] = []
    small = [k for k in kcols
             if row[f"__nd_{k}"] <= COW_KEYSET_CAP * 0.9]
    # Exact value sets for low-cardinality columns (one extra small job);
    # collected per column, so a multi-column key prunes on the AND of
    # per-column membership — a superset of the true tuple set (sound).
    sets: dict[str, list] = {}
    if small:
        vals = source.agg(*[F.collect_set(F.col(eq[k])).alias(k)
                            for k in small]).collect()[0]
        for k in small:
            got = [v for v in (vals[k] or []) if v is not None]
            if 0 < len(got) <= COW_KEYSET_CAP:
                sets[k] = [_jsonable(v) for v in got]
    for k in kcols:
        mn, mx = row[f"__mn_{k}"], row[f"__mx_{k}"]
        if mn is not None and mx is not None:
            conjuncts.append(("between", k, _jsonable(mn), _jsonable(mx)))
        if k in sets:
            conjuncts.append(("in", k, sets[k]))
    if not conjuncts:
        return ("isnotnull", kcols[0])     # no stats → prune nothing
    return ("and", *conjuncts)


@dataclass
class MergeClause:
    """One WHEN clause. ``kind`` is 'matched' | 'not_matched' |
    'not_matched_by_source'; ``action`` is 'update' | 'delete' |
    'insert'; ``condition`` is the optional AND predicate (SQL text);
    ``assignments`` maps column → SQL expr (UPDATE/INSERT), with the
    special key '*' marking UPDATE SET * / INSERT *."""
    kind: str
    action: str
    condition: str | None = None
    assignments: dict[str, str] = field(default_factory=dict)


def merge_into(spark: SparkSession, catalog: HeraclesCatalog, table: str,
               source: DataFrame, on: str, clauses: list[MergeClause],
               target_alias: str = "target", source_alias: str = "source",
               check_ambiguity: bool = True, cow: bool = True,
               commit_properties: dict[str, str] | None = None) -> KeyTable:
    """Execute MERGE and rewrite ``table``. See module docstring.

    ``cow=True`` (default) enables file-level copy-on-write: when the ON
    condition contains key-column equalities and no NOT MATCHED BY SOURCE
    clause exists, only files whose key range MAY contain a source key
    are read and rewritten; the rest stay untouched on disk. A MERGE of a
    small change set against a 100 TB table then costs O(touched files),
    not O(table). NOT MATCHED BY SOURCE disables it because such clauses
    can mutate rows in *any* file."""
    global LAST_MERGE_STATS
    tbl = catalog.get_table(table)
    keys = tbl.key_cols
    out_cols = [f.name for f in tbl.schema().fields]
    t, s = target_alias, source_alias

    for cl in clauses:
        if cl.kind == "matched" and cl.action == "insert":
            raise ValueError("WHEN MATCHED cannot INSERT")
        if cl.kind == "not_matched" and cl.action != "insert":
            raise ValueError("WHEN NOT MATCHED must INSERT")
        if cl.kind == "not_matched_by_source" and cl.action == "insert":
            raise ValueError("WHEN NOT MATCHED BY SOURCE cannot INSERT")

    matched = [c for c in clauses if c.kind == "matched"]
    nm_insert = [c for c in clauses if c.kind == "not_matched"]
    nm_source = [c for c in clauses if c.kind == "not_matched_by_source"]

    # -- copy-on-write rewrite-set pruning --------------------------------
    from heracles_spark.pruning import may_match, to_nnf

    n_total = len(tbl.files)
    cow_keep: list[dict[str, Any]] | None = None
    tgt: DataFrame | None = None
    persisted_src = False
    if cow and not nm_source and tbl.files:
        eq = _key_equalities(on, t, s, keys)
        if eq:
            source = source.persist()
            persisted_src = True
            pred = _source_key_pred(source, eq)
            if pred is None:               # empty source ⇒ MERGE is a no-op
                source.unpersist()
                LAST_MERGE_STATS = {"mode": "cow", "files_total": n_total,
                                    "files_rewritten": 0}
                if commit_properties:
                    # Caller asked for metadata atomic with this merge —
                    # commit it even though no data moved (e.g. a rollup
                    # refresh recording zero-row source files as folded).
                    return catalog.update_file_index(
                        table, None, op="merge-noop",
                        properties=commit_properties)
                return tbl
            npred = to_nnf(pred)
            touched = [f for f in tbl.files
                       if may_match(npred, f.get("min", {}),
                                    f.get("max", {}), keys)]
            if len(touched) < n_total:
                tpaths = {f["path"] for f in touched}
                cow_keep = [f for f in tbl.files if f["path"] not in tpaths]
                tgt = (spark.read.schema(tbl.schema())
                            .parquet(*sorted(tpaths)).alias(t)
                       if touched else
                       local_frame(spark, [], tbl.schema()).alias(t))
    if tgt is None:
        tgt = catalog.read_table(spark, table).alias(t)

    src_cols = source.columns
    src = source.withColumn(_S_MARK, F.lit(True)).alias(s)

    joined = tgt.join(src, F.expr(on), "left_outer")
    is_matched = F.col(f"{s}.{_S_MARK}").isNotNull()

    if check_ambiguity and matched:
        joined = joined.persist()
        dup = (joined.where(is_matched)
                     .groupBy(*[F.col(f"{t}.{k}") for k in keys])
                     .agg(F.count(F.lit(1)).alias("n"))
                     .where(F.col("n") > 1).limit(1).collect())
        if dup:
            joined.unpersist()
            raise ValueError(
                f"MERGE source matches a single {table} row more than "
                f"once (key {tuple(dup[0])[:-1]}); aggregate the source "
                f"to one row per key first")

    def _clause_cond(cl: MergeClause) -> Column:
        return F.expr(cl.condition) if cl.condition else F.lit(True)

    def _update_expr(cl: MergeClause, col: str) -> Column:
        if "*" in cl.assignments:          # SET * — take source's same name
            return (F.col(f"{s}.{col}") if col in src_cols
                    else F.col(f"{t}.{col}"))
        for lhs, rhs in cl.assignments.items():
            if lhs == col:
                return F.expr(rhs)
        return F.col(f"{t}.{col}")

    # Per output column: first clause (in order) whose condition holds
    # decides the value; no clause ⇒ row unchanged. Built back-to-front
    # as a nested CASE, which codegens to one pass.
    def _matched_value(col: str) -> Column:
        chain: Column = F.col(f"{t}.{col}")
        for cl in reversed(matched):
            val = (_update_expr(cl, col) if cl.action == "update"
                   else F.col(f"{t}.{col}"))
            chain = F.when(_clause_cond(cl), val).otherwise(chain)
        return chain

    def _matched_keep() -> Column:
        chain: Column = F.lit(True)
        for cl in reversed(matched):
            chain = (F.when(_clause_cond(cl), F.lit(cl.action != "delete"))
                      .otherwise(chain))
        return chain

    def _nm_source_value(col: str) -> Column:
        chain: Column = F.col(f"{t}.{col}")
        for cl in reversed(nm_source):
            val = (_update_expr(cl, col) if cl.action == "update"
                   else F.col(f"{t}.{col}"))
            chain = F.when(_clause_cond(cl), val).otherwise(chain)
        return chain

    def _nm_source_keep() -> Column:
        chain: Column = F.lit(True)
        for cl in reversed(nm_source):
            chain = (F.when(_clause_cond(cl), F.lit(cl.action != "delete"))
                      .otherwise(chain))
        return chain

    kept = joined.select(
        *[F.when(is_matched, _matched_value(c))
           .otherwise(_nm_source_value(c)).alias(c) for c in out_cols],
        F.when(is_matched, _matched_keep())
         .otherwise(_nm_source_keep()).alias("__keep__"))
    result = kept.where(F.col("__keep__")).select(*out_cols)

    if nm_insert:
        def _insert_value(cl: MergeClause, col: str) -> Column:
            if "*" in cl.assignments:
                return (F.col(f"{s}.{col}") if col in src_cols
                        else F.lit(None))
            for lhs, rhs in cl.assignments.items():
                if lhs == col:
                    return F.expr(rhs)
            return F.lit(None)

        def _ins_value(col: str) -> Column:
            chain: Column = F.lit(None)
            for cl in reversed(nm_insert):
                chain = (F.when(_clause_cond(cl), _insert_value(cl, col))
                          .otherwise(chain))
            return chain

        def _ins_keep() -> Column:
            chain: Column = F.lit(False)   # no insert clause fires ⇒ drop
            for cl in reversed(nm_insert):
                chain = F.when(_clause_cond(cl), F.lit(True)).otherwise(chain)
            return chain

        # Anti join: source rows with no target match. Alias survives the
        # anti join (only left-side columns remain), so clause exprs keep
        # their `source.` qualification.
        anti = src.join(tgt, F.expr(on), "left_anti")
        inserts = (anti.select(*[_ins_value(c).alias(c) for c in out_cols],
                               _ins_keep().alias("__keep__"))
                       .where(F.col("__keep__")).select(*out_cols))
        result = result.unionByName(inserts)

    from heracles_spark import writer
    if cow_keep is not None:
        out = writer.write_cow_files(spark, catalog, table, result,
                                     keep=cow_keep,
                                     commit_properties=commit_properties,
                                     base_version=tbl.version)
        LAST_MERGE_STATS = {"mode": "cow", "files_total": n_total,
                            "files_rewritten": n_total - len(cow_keep)}
    else:
        out = writer.write_key_organized(spark, catalog, table, result,
                                         mode="overwrite",
                                         commit_properties=commit_properties)
        LAST_MERGE_STATS = {"mode": "full", "files_total": n_total,
                            "files_rewritten": n_total}
    if check_ambiguity and matched:
        joined.unpersist()
    if persisted_src:
        source.unpersist()
    return out

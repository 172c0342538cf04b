"""Rollup-backed automatic query rewrite — materialized-view routing.

The reference re-plans every aggregate against the base table; engines
with continuous aggregates (Timescale, Materialize, Druid) route
matching queries to the materialization instead. This module does that
for the rebuild's rollups (rollup.py): a ``SELECT <aggs> FROM fact
GROUP BY <cols>`` whose groups and aggregates are derivable from a
declared, FRESH rollup is answered by re-aggregating the rollup table —
O(groups) instead of O(fact).

Soundness rules (all conservative — any doubt means "don't rewrite",
and the statement runs against the base table as written):

- the rollup must be FRESH: its processed-file set equals the source's
  current file set (a refresh away from that → no rewrite; correctness
  never depends on staleness policy);
- the query's GROUP BY columns must be a subset of the rollup's group
  columns (re-aggregation handles coarser grouping: SUM of partial
  sums, SUM of partial counts, MIN of mins, MAX of maxs);
- every aggregate must be derivable: SUM(x)/COUNT(*)/COUNT(x)/MIN(x)/
  MAX(x) from a matching rollup column, AVG(x) from SUM(x)+COUNT(x);
  anything else (DISTINCT, expressions inside aggs) bails;
- WHERE may reference only group columns (it then applies to the
  rollup unchanged — predicate-on-dimension, the standard MV-rewrite
  condition); HAVING/ORDER BY may reference only group columns and
  select aliases.

Scale: the rewrite turns a 100 TB fact scan into a read of the rollup
table (typically MBs). The freshness check is O(files) set equality on
the driver — metadata already in memory.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame

# Set after every dispatch attempt: None, or the rollup table name the
# last statement was answered from (observable evidence for tests/EXPLAIN).
LAST_REWRITE: str | None = None

_SHAPE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<table>[\w.]+)\s*"
    r"(?:WHERE\s+(?P<where>.+?)\s*)?"
    r"GROUP\s+BY\s+(?P<groups>.+?)\s*"
    r"(?:HAVING\s+(?P<having>.+?)\s*)?"
    r"(?:ORDER\s+BY\s+(?P<order>.+?)\s*)?"
    r"(?:LIMIT\s+(?P<limit>\d+)\s*)?$",
    re.IGNORECASE | re.DOTALL)

_AGG = re.compile(r"^(?P<fn>sum|count|min|max|avg)\s*\(\s*"
                  r"(?P<arg>\*|\w+)\s*\)$", re.IGNORECASE)
_ITEM = re.compile(r"^(?P<expr>.+?)(?:\s+AS\s+(?P<alias>\w+))?$",
                   re.IGNORECASE | re.DOTALL)

_SQL_WORDS = {"and", "or", "not", "in", "between", "like", "is", "null",
              "true", "false", "asc", "desc", "nulls", "first", "last"}

_COUNT_STAR = {"*", "1", ""}


def _idents(sql_fragment: str) -> set[str]:
    """Bare identifiers in a fragment, with string literals stripped and
    SQL connective words excluded. Conservative: anything that LOOKS
    like an identifier counts (over-reporting only blocks a rewrite,
    never breaks one)."""
    no_strings = re.sub(r"'(?:[^']|'')*'", "''", sql_fragment)
    toks = set(re.findall(r"[A-Za-z_]\w*", no_strings))
    return {t for t in toks if t.lower() not in _SQL_WORDS}


def _find_agg(spec_aggs: dict, fn: str, arg: str) -> str | None:
    """Rollup output column holding agg ``fn(arg)``, or None."""
    for out, (f, c) in spec_aggs.items():
        if f != fn:
            continue
        if fn == "count" and arg in _COUNT_STAR:
            if c is None or c in _COUNT_STAR:
                return out
        elif c == arg:
            return out
    return None


def _map_item(expr: str, alias: str | None, groups: list[str],
              spec_aggs: dict) -> str | None:
    """Rewrite one select item onto the rollup, or None if underivable.

    Re-aggregation map (query may group COARSER than the rollup):
    SUM(x)→SUM(sum_x), COUNT(*)→SUM(cnt), COUNT(x)→SUM(cnt_x),
    MIN→MIN, MAX→MAX, AVG(x)→SUM(sum_x)/SUM(cnt_x).
    """
    e = expr.strip()
    if re.fullmatch(r"\w+", e):
        if e not in groups:
            return None
        return f"{e} AS {alias}" if alias else e
    m = _AGG.match(e)
    if not m:
        return None
    fn, arg = m.group("fn").lower(), m.group("arg")
    # Spark's default output name for an unaliased aggregate:
    # lowercase fn, original argument spelling, COUNT(*) → count(1).
    default_arg = "1" if (fn == "count" and arg in _COUNT_STAR) else arg
    out_name = alias or f"{fn}({default_arg})"
    if fn == "avg":
        s = _find_agg(spec_aggs, "sum", arg)
        c = _find_agg(spec_aggs, "count", arg)
        if s is None or c is None:
            return None
        return f"SUM({s}) / SUM({c}) AS `{out_name}`"
    col = _find_agg(spec_aggs, fn, arg)
    if col is None:
        return None
    outer = {"sum": "SUM", "count": "SUM", "min": "MIN", "max": "MAX"}[fn]
    return f"{outer}({col}) AS `{out_name}`"


def _is_fresh(catalog, rollup_tbl, source: str) -> bool:
    from heracles_spark.rollup import _FILES_PROP

    try:
        src = catalog.get_table(source)
    except Exception:
        return False
    done = set(json.loads(rollup_tbl.properties.get(_FILES_PROP, "[]")))
    return done == {f["path"] for f in src.files}


def try_rollup_rewrite(session, statement: str) -> DataFrame | None:
    """Answer ``statement`` from a fresh matching rollup, or return None
    to let the statement run as written."""
    global LAST_REWRITE
    from heracles_spark.rollup import _SPEC_PROP
    from heracles_spark.sql import _resolve, _split_top, _view_is_shadowed

    LAST_REWRITE = None
    if not getattr(session, "rollup_rewrite", True):
        return None
    m = _SHAPE.match(statement)
    if m is None:
        return None
    catalog, spark = session.catalog, session.spark
    table = _resolve(session, m.group("table"))

    # View names are the SELECT surface ('db.tbl' reads as 'db_tbl');
    # accept either spelling of the source.
    def _names(name: str) -> set[str]:
        return {name, catalog.view_name(name)}

    groups = [g.strip() for g in _split_top(m.group("groups"), ",")]
    if not all(re.fullmatch(r"\w+", g) for g in groups):
        return None                       # expression grouping: bail

    for cand in catalog.list_tables():
        tbl = catalog.get_table(cand)
        if _SPEC_PROP not in tbl.properties:
            continue
        spec = json.loads(tbl.properties[_SPEC_PROP])
        if _names(spec["source"]).isdisjoint(_names(table)):
            continue
        if spec.get("group_exprs"):
            # Derived group columns (e.g. hour buckets) don't appear in
            # the base table under those names; matching queries over
            # them is future surface — bail for now.
            continue
        if not set(groups) <= set(spec["group_cols"]):
            continue
        if not _is_fresh(catalog, tbl, spec["source"]):
            continue
        spec_aggs = {k: tuple(v) for k, v in spec["aggs"].items()}

        items, aliases = [], set()
        for raw in _split_top(m.group("items"), ","):
            im = _ITEM.match(raw.strip())
            mapped = _map_item(im.group("expr"), im.group("alias"),
                               groups, spec_aggs) if im else None
            if mapped is None:
                items = None
                break
            items.append(mapped)
            if im.group("alias"):
                aliases.add(im.group("alias"))
        if items is None:
            continue

        where = m.group("where")
        if where and not _idents(where) <= set(spec["group_cols"]):
            continue                      # predicate on a measure: bail
        allowed_post = set(groups) | aliases
        having, order = m.group("having"), m.group("order")
        if having and not _idents(having) <= allowed_post:
            continue
        if order and not _idents(order) <= allowed_post:
            continue

        # Read the rollup's published view only: not a user's view of
        # that name, nor one a foreign commit left stale.
        if catalog.published_frame(cand) is None \
                or _view_is_shadowed(session, cand):
            continue
        sql = f"SELECT {', '.join(items)} FROM {catalog.view_name(cand)}"
        if where:
            sql += f" WHERE {where}"
        sql += f" GROUP BY {', '.join(groups)}"
        if having:
            sql += f" HAVING {having}"
        if order:
            sql += f" ORDER BY {order}"
        if m.group("limit"):
            sql += f" LIMIT {m.group('limit')}"
        LAST_REWRITE = cand
        return spark.sql(sql)
    return None

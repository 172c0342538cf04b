"""One typed WHERE compiler (``pruning.parse_where``).

The SELECT routers and UPDATE/DELETE compile WHERE text into the
pruning AST with one parser and one literal rule: each literal becomes
the Python value that compares with the file stats, and hashes for the
bloom probe, the way Spark compares it with the column. A literal that
does not fit its column's type does not compile, so it never prunes.
Every routed or pruned answer here is checked against stock Spark over
the registered all-files view.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from heracles_spark import dml, pruning
from heracles_spark.pruning import parse_where

TYPES = {"k": "int", "b": "bigint", "v": "double", "s": "string",
         "d": "date", "ts": "timestamp", "f": "boolean",
         "m": "decimal(10,2)", "e": "array<float>"}


# -- the grammar and the literal rule -------------------------------------

@pytest.mark.parametrize("text, ast", [
    ("k = 5", ("=", "k", 5)),
    ("K = 5.0", ("=", "k", 5)),
    ("b = -0.0", ("=", "b", 0)),
    ("b = 99999999999999999999", ("=", "b", 99999999999999999999)),
    ("v = 5", ("=", "v", 5.0)),
    ("v = 1e3", ("=", "v", 1000.0)),
    ("v = .5", ("=", "v", 0.5)),
    ("s = 'it''s' 'x'", ("=", "s", "it'sx")),
    ("d >= '2024-06-01'", (">=", "d", "2024-06-01")),
    ("k <> 3", ("!=", "k", 3)),
    ("k != 3", ("!=", "k", 3)),
    ("k == 3", ("=", "k", 3)),
    ("ts IS NULL", ("isnull", "ts")),
    ("e IS NOT NULL", ("isnotnull", "e")),
    ("k IN (1, 2.0)", ("in", "k", [1, 2])),
    ("v IN (1, 2.5)", ("in", "v", [1.0, 2.5])),
    ("k BETWEEN 1 AND 5 AND s = 'x'",
     ("and", ("between", "k", 1, 5), ("=", "s", "x"))),
    ("(k = 7)", ("=", "k", 7)),
    ("k < 5 OR k > 95", ("or", ("<", "k", 5), (">", "k", 95))),
    ("k = 1 AND (v > 2 OR s = 'q') AND t.b IN (3)",
     ("and", ("=", "k", 1), ("or", (">", "v", 2.0), ("=", "s", "q")),
      ("in", "b", [3]))),
    ("`k` = -5", ("=", "k", -5)),
])
def test_compiles(text, ast):
    assert parse_where(text, TYPES, {"t"}) == ast


@pytest.mark.parametrize("text", [
    "k = 5.5", "k = 1e3", "k = '3'", "k = 5L", "k = - 5", "k = 5 - 3",
    "s = 3", "d = '2024-6-1'", "d = '2024-02-30'", "d = 20240601",
    "ts = '2024-06-01 05:00:00'", "f = TRUE", "m = 1.5", "v = 1e400",
    "k IN (1, 'a')", "k IN ()", "k <=> 3", "NOT k = 1", "k NOT IN (1)",
    "k NOT BETWEEN 1 AND 2", "length(s) = 1", "k = 5 AND", "",
    "x = 1", "u.k = 1", "k = NULL", "(k = 1", "k = 'a",
    pytest.param("(" * 2000 + "k = 1" + ")" * 2000, id="deep-parens"),
])
def test_does_not_compile(text):
    assert parse_where(text, TYPES, {"t"}) is None


def test_to_sql_is_the_inverse():
    for text in ("K = 5.0 OR (v <> 1e3 AND s IN ('a', 'b''c'))",
                 "d BETWEEN '2024-01-01' AND '2024-12-31' AND b IS NULL"):
        ast = parse_where(text, TYPES, None)
        assert parse_where(pruning.to_sql(ast), TYPES, None) == ast


# -- the typed table every end-to-end test below reads ---------------------

def _mk_typed(hsession, catalog, name, n_buckets=4):
    """80 rows over k = 0..79 in ``n_buckets`` files; ``b`` and ``v``
    (and ``ts``) carry catalog blooms. ``b = 70 - k`` (so b = 5 only at
    k = 65), ``v`` is k % 10 with -0.0 for 0 and NULL every 11th row,
    ``d`` counts days from 2024-05-01 (2024-06-01 at k = 31), ``ts``
    hours from 2024-06-01 00:00 UTC, and ``s`` is NULL every 7th row."""
    from heracles_spark import writer

    hsession.sql(f"""CREATE TABLE {name} (k INT, b BIGINT, v DOUBLE,
                     s STRING, d DATE, ts TIMESTAMP)
                     TBLPROPERTIES('keyCols'='k', 'bloomCols'='b;v;ts')""")
    df = hsession.spark.sql("""
        SELECT CAST(id AS INT) AS k, 70 - id AS b,
               CASE WHEN id % 11 = 0 THEN NULL
                    WHEN id % 10 = 0 THEN -0.0D
                    ELSE CAST(id % 10 AS DOUBLE) END AS v,
               CASE WHEN id % 7 = 0 THEN NULL
                    ELSE concat('s', CAST(id AS STRING)) END AS s,
               date_add(DATE'2024-05-01', CAST(id AS INT)) AS d,
               timestamp_seconds(1717200000 + id * 3600) AS ts
        FROM range(80)""")
    writer.write_key_organized(hsession.spark, catalog, name, df,
                               n_buckets=n_buckets)
    catalog.read_table(hsession.spark, name).createOrReplaceTempView(
        catalog.view_name(name))
    return catalog.get_table(name)


@pytest.fixture()
def utc(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


def _keys(rows):
    return sorted(r.k for r in rows)


def _delete_matches_spark(hsession, name, where):
    """DELETE through the dispatcher; the rows left must be the rows
    stock Spark's WHERE does not keep, over the view beforehand."""
    want = _keys(hsession.spark.sql(
        f"SELECT k FROM {name} WHERE NOT coalesce(({where}), false)")
        .collect())
    hsession.sql(f"DELETE FROM {name} WHERE {where}")
    assert _keys(hsession.sql(f"SELECT k FROM {name}").collect()) == want
    assert dml.LAST_DML_STATS["rows_affected"] == 80 - len(want)


# -- wrong answers of the two former parsers --------------------------------

def test_bigint_bloom_decimal_literal_select_matches_spark(
        hsession, catalog, utc):
    _mk_typed(hsession, catalog, "bt")
    stmt = "SELECT k FROM bt WHERE b = 5.0"
    want = _keys(hsession.spark.sql(stmt).collect())
    assert want == [65]
    assert _keys(hsession.sql(stmt).collect()) == want


def test_double_bloom_integer_literal_delete_matches_spark(
        hsession, catalog, utc):
    _mk_typed(hsession, catalog, "bt")
    _delete_matches_spark(hsession, "bt", "v = 5")


def test_timestamp_bloom_literal_delete_matches_spark(
        hsession, catalog, utc):
    _mk_typed(hsession, catalog, "tt")
    _delete_matches_spark(hsession, "tt", "ts = '2024-06-01 05:00:00'")


def test_noncanonical_date_literal_delete_matches_spark(
        hsession, catalog, utc):
    _mk_typed(hsession, catalog, "dt")
    _delete_matches_spark(hsession, "dt", "d = '2024-6-1'")


# -- shapes that newly route: stock-Spark equality pins ----------------------

@pytest.mark.parametrize("stmt, route", [
    ("SELECT k, d FROM rt WHERE d >= '2024-06-01' AND k < 40",
     "pruned-scan"),
    ("SELECT k FROM rt WHERE k <> 5 AND k < 12", "pruned-scan"),
    ("SELECT k FROM rt WHERE k != 5 OR d = '2024-05-06'", "pruned-scan"),
    ("SELECT k, s FROM rt WHERE s IS NULL AND k > 20", "pruned-scan"),
    ("SELECT k FROM rt WHERE k IS NOT NULL AND v IS NULL", "pruned-scan"),
    ("SELECT COUNT(*) FROM rt WHERE k <> 5", "metadata-count-range"),
    ("SELECT COUNT(*) FROM rt WHERE k < 50 AND d < '2024-05-20'",
     "metadata-count-range"),
    ("SELECT COUNT(*) FROM rt WHERE k > 60 AND s IS NOT NULL",
     "metadata-count-range"),
], ids=["date", "ne", "ne-or-date", "isnull", "isnotnull", "count-ne",
        "count-date", "count-isnotnull"])
def test_new_shapes_route_and_match_spark(hsession, catalog, utc, stmt,
                                          route):
    _mk_typed(hsession, catalog, "rt")
    want = sorted(map(tuple, hsession.spark.sql(stmt).collect()))
    assert sorted(map(tuple, hsession.sql(stmt).collect())) == want
    assert hsession.last_select_route["route"] == route


# -- soundness: Spark's rows lie in the files prune_files keeps -------------

_LITS = {
    "k": ["5", "5.0", "5.5", "1e3", "-0.0", "65", "'7'", "79", "-3"],
    "b": ["5", "5.0", "1e1", "-0.0", "65", "70", "'5'"],
    "v": ["5", "5.0", "0", "0.0", "-0.0", "1e3", "2.5", "'3'"],
    "s": ["'s5'", "'s10'", "'s65'", "''"],
    "d": ["'2024-6-1'", "'2024-06-01'", "'2024-05-15'", "'2024-7-19'",
          "'2024-07-19'"],
}


def _atom():
    col = st.sampled_from(sorted(_LITS))
    cmp_op = st.sampled_from(["=", "<>", "!=", "<", "<=", ">", ">="])

    def lit(c):
        return st.sampled_from(_LITS[c])

    return st.one_of(
        col.flatmap(lambda c: st.tuples(cmp_op, lit(c)).map(
            lambda t: f"{c} {t[0]} {t[1]}")),
        col.flatmap(lambda c: st.lists(lit(c), min_size=1, max_size=3)
                    .map(lambda ls: f"{c} IN ({', '.join(ls)})")),
        col.flatmap(lambda c: st.tuples(lit(c), lit(c)).map(
            lambda t: f"{c} BETWEEN {t[0]} AND {t[1]}")),
        col.map(lambda c: f"{c} IS NULL"),
        col.map(lambda c: f"{c} IS NOT NULL"),
    )


def _where():
    return st.recursive(
        _atom(),
        lambda inner: st.one_of(
            st.tuples(inner, inner).map(lambda t: f"{t[0]} AND {t[1]}"),
            st.tuples(inner, inner).map(lambda t: f"({t[0]} OR {t[1]})"),
        ),
        max_leaves=4)


@pytest.fixture()
def typed(hsession, catalog, utc):
    return _mk_typed(hsession, catalog, "pt", n_buckets=6)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(where=_where())
# -0.0 = 0 in SQL, but a parquet filter pushed down to a file whose
# v stats are min = max = -0.0 drops those rows: pinned every run.
@example(where="v = 0")
@example(where="v IN (0)")
def test_prune_files_keeps_every_file_spark_reads_from(
        hsession, catalog, typed, where):
    pred = parse_where(where, dict(typed.columns), None)
    if pred is None:
        return
    kept = {os.path.basename(f["path"])
            for f in pruning.prune_files(typed.files, pred, typed.key_cols)}
    # The reference is SQL's answer: a read without parquet filter
    # pushdown, whose files are a superset of the pushed-down read's.
    conf = hsession.spark.conf
    pushdown = conf.get("spark.sql.parquet.filterPushdown")
    conf.set("spark.sql.parquet.filterPushdown", "false")
    try:
        base = hsession.spark.read.schema(typed.schema()).parquet(
            *[f["path"] for f in typed.files]).where(where)
        hit = {os.path.basename(r.p) for r in base.select(
            base["_metadata.file_path"].alias("p")).distinct().collect()}
        want = _keys(base.select("k").collect())
    finally:
        conf.set("spark.sql.parquet.filterPushdown", pushdown)
    assert hit <= kept, (where, pred)
    # The pruned scan (driver-side key prefilter, then the AST rendered
    # back by to_sql) keeps exactly Spark's rows.
    got = pruning.scan(hsession.spark, catalog, "pt", pred).select("k")
    assert _keys(got.collect()) == want, (where, pred)

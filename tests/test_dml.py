"""UPDATE / DELETE — predicate-driven copy-on-write mutation.

The reference's CLI rejects UPDATE/DELETE outright (HBaseSQLCliDriver
accepts only SELECT/CREATE/DROP/ALTER/INSERT/LOAD/SHOW/DESCRIBE); this
engine adds them as first-class COW mutations next to MERGE. Covers
standard semantics (pre-update RHS evaluation, 3VL NULL predicates, key
immutability) and the file-pruning scale path.
"""

from __future__ import annotations

import os

import pytest

from heracles_spark import dml
from heracles_spark.dml import where_to_pruning_pred


def _mk(hsession, rows="(1,'a',10),(2,'b',20),(3,'c',30),(4,'d',NULL)"):
    hsession.sql("""CREATE TABLE t (k INT, name STRING, v INT)
                    TBLPROPERTIES('keyCols'='k')""")
    hsession.sql(f"INSERT INTO t VALUES {rows}")


def _rows(hsession):
    return [(r.k, r.name, r.v) for r in
            hsession.sql("SELECT k, name, v FROM t ORDER BY k").collect()]


def _delete(hsession, where=""):
    """DELETE on ``t``; returns the statement's rows_affected."""
    out = hsession.sql(f"DELETE FROM t {where}").collect()[0]
    assert out.rows_affected == dml.LAST_DML_STATS["rows_affected"]
    return out.rows_affected


# -- WHERE → pruning AST compiler -----------------------------------------

def test_where_pred_conjuncts():
    assert where_to_pruning_pred("k = 3") == ("=", "k", 3)
    assert where_to_pruning_pred("k = 3 AND v > 1.5") == \
        ("and", ("=", "k", 3), (">", "v", 1.5))
    assert where_to_pruning_pred("k BETWEEN 2 AND 5 AND name = 'x'") == \
        ("and", ("between", "k", 2, 5), ("=", "name", "x"))
    assert where_to_pruning_pred("k IN (1, 2, 3)") == ("in", "k", [1, 2, 3])
    assert where_to_pruning_pred("name IS NOT NULL") == ("isnotnull", "name")
    assert where_to_pruning_pred("name <> 'it''s'") == ("!=", "name", "it's")


def test_where_pred_conservative_bailouts():
    # OR / NOT at top level: no pruning (full rewrite), never wrong rows.
    assert where_to_pruning_pred("k = 1 OR k = 9") is None
    assert where_to_pruning_pred("NOT (k = 1)") is None
    assert where_to_pruning_pred(None) is None
    # Unparseable conjunct is dropped; parseable one still prunes.
    assert where_to_pruning_pred("length(name) > 2 AND k = 7") == ("=", "k", 7)
    # String containing ' AND ' must not be split inside the literal.
    assert where_to_pruning_pred("name = 'x AND y'") == ("=", "name", "x AND y")


def test_where_pred_temporal_literal_normalized_to_stats_encoding():
    # File stats store timestamps as isoformat ('T' separator); the SQL
    # literal form uses a space. Without normalization, lexicographic
    # 'T' (0x54) vs ' ' (0x20) misorders same-day values.
    assert where_to_pruning_pred(
        "ts < '2024-06-01 12:00:00'", {"ts": "timestamp"}) == \
        ("<", "ts", "2024-06-01T12:00:00")
    # Date literals have no separator to rewrite.
    assert where_to_pruning_pred("d = '2024-06-01'", {"d": "date"}) == \
        ("=", "d", "2024-06-01")
    # Non-string literal on a temporal column: conjunct dropped (sound).
    assert where_to_pruning_pred("ts < 42", {"ts": "timestamp"}) is None


def test_where_pred_type_mismatch_drops_conjunct():
    # k = '3' on an int key is valid SQL (Spark casts row-level) but the
    # str-vs-int box comparison would throw or misorder — drop it.
    assert where_to_pruning_pred("k = '3'", {"k": "int"}) is None
    assert where_to_pruning_pred("name = 3", {"name": "string"}) is None
    # The remaining typed conjunct still prunes.
    assert where_to_pruning_pred("k = '3' AND v > 5",
                                 {"k": "int", "v": "int"}) == (">", "v", 5)


def test_may_match_type_mismatch_degrades_to_may():
    from heracles_spark.pruning import may_match
    # Literal/stat type mismatch must degrade to MAY, never raise.
    assert may_match(("=", "k", "3"), {"k": 1}, {"k": 9}, ["k"]) is True
    assert may_match(("in", "k", ["a", "b"]), {"k": 1}, {"k": 9}, ["k"]) \
        is True
    assert may_match(("between", "k", "a", "b"), {"k": 1}, {"k": 9},
                     ["k"]) is True


# -- DELETE ---------------------------------------------------------------

def test_delete_where(hsession):
    _mk(hsession)
    assert _delete(hsession, "WHERE v >= 20") == 2
    assert _rows(hsession) == [(1, "a", 10), (4, "d", None)]


def test_delete_null_predicate_keeps_row(hsession):
    _mk(hsession)
    # v is NULL for k=4: predicate evaluates NULL → row is kept (3VL).
    assert _delete(hsession, "WHERE v < 100") == 3
    assert _rows(hsession) == [(4, "d", None)]


def test_delete_all(hsession):
    _mk(hsession)
    assert _delete(hsession) == 4
    assert _rows(hsession) == []


def test_delete_stats_df(hsession):
    _mk(hsession)
    out = hsession.sql("DELETE FROM t WHERE k = 2").collect()[0]
    assert out.rows_affected == 1


# -- UPDATE ---------------------------------------------------------------

def test_update_where(hsession):
    _mk(hsession)
    hsession.sql("UPDATE t SET v = v * 10 WHERE k <= 2")
    assert _rows(hsession) == [(1, "a", 100), (2, "b", 200),
                               (3, "c", 30), (4, "d", None)]


def test_update_multi_assignment_uses_pre_update_row(hsession):
    _mk(hsession, rows="(1,'a',10)")
    # SQL standard: both RHS evaluate against the OLD row, so v and the
    # name derived from v must not see each other's new values.
    hsession.sql("UPDATE t SET v = v + 1, name = concat(name, v)")
    assert _rows(hsession) == [(1, "a10", 11)]


def test_update_no_where_hits_all(hsession):
    _mk(hsession, rows="(1,'a',10),(2,'b',20)")
    out = hsession.sql("UPDATE t SET v = 0").collect()[0]
    assert out.rows_affected == 2
    assert _rows(hsession) == [(1, "a", 0), (2, "b", 0)]


def test_update_key_column_rejected(hsession):
    _mk(hsession)
    with pytest.raises(ValueError, match="key column"):
        hsession.sql("UPDATE t SET k = k + 1")


def test_update_unknown_column_rejected(hsession):
    _mk(hsession)
    with pytest.raises(ValueError, match="no such column"):
        hsession.sql("UPDATE t SET nope = 1")


def test_update_where_keyword_inside_string_literal(hsession):
    _mk(hsession, rows="(1,'a',10),(2,'b',20)")
    # The WHERE split must scan at quote depth 0 — 'a WHERE b' is a value.
    hsession.sql("UPDATE t SET name = 'a WHERE b'")
    assert _rows(hsession) == [(1, "a WHERE b", 10), (2, "a WHERE b", 20)]
    hsession.sql("UPDATE t SET name = 'x WHERE y' WHERE k = 2")
    assert _rows(hsession) == [(1, "a WHERE b", 10), (2, "x WHERE y", 20)]


def test_delete_string_literal_on_int_key(hsession):
    _mk(hsession)
    # Implicit cast: '2' probes int stats; must delete, not throw.
    hsession.sql("DELETE FROM t WHERE k = '2'")
    assert [r[0] for r in _rows(hsession)] == [1, 3, 4]


def test_delete_timestamp_space_literal_prunes_correctly(
        hsession, spark, catalog):
    from heracles_spark import writer
    hsession.sql("""CREATE TABLE ev (ts TIMESTAMP, v INT)
                    TBLPROPERTIES('keyCols'='ts')""")
    df = spark.sql("""
        SELECT TIMESTAMP'2024-06-01 05:00:00' + make_interval(0,0,0,0,id)
               AS ts, CAST(id AS INT) AS v
        FROM range(12)""")
    writer.write_key_organized(spark, catalog, "ev", df, n_buckets=2)
    catalog.read_table(spark, "ev").createOrReplaceTempView(
        catalog.view_name("ev"))
    # File min '2024-06-01T05:00:00' vs literal '2024-06-01 12:00:00':
    # unnormalized lexicographic compare classifies the file NO and the
    # delete silently skips it.
    hsession.sql("DELETE FROM ev WHERE ts < '2024-06-01 12:00:00'")
    assert dml.LAST_DML_STATS["rows_affected"] == 7
    left = hsession.sql("SELECT COUNT(*) AS n FROM ev").collect()[0].n
    assert left == 5


# -- copy-on-write file pruning -------------------------------------------

def _mk_wide(hsession, spark, catalog):
    """8-file key-organized table over k = 0..799."""
    from heracles_spark import writer
    hsession.sql("""CREATE TABLE w (k INT, v INT)
                    TBLPROPERTIES('keyCols'='k')""")
    df = spark.range(800).selectExpr("CAST(id AS INT) k", "CAST(id AS INT) v")
    writer.write_key_organized(spark, catalog, "w", df, n_buckets=8)
    catalog.read_table(spark, "w").createOrReplaceTempView(
        catalog.view_name("w"))


def test_delete_prunes_rewrite_set(hsession, spark, catalog):
    _mk_wide(hsession, spark, catalog)
    assert len(catalog.get_table("w").files) == 8
    hsession.sql("DELETE FROM w WHERE k = 5")
    st = dml.LAST_DML_STATS
    assert st["files_rewritten"] == 1 and st["files_total"] == 8
    assert st["rows_affected"] == 1
    got = hsession.sql("SELECT COUNT(*) AS n FROM w").collect()[0].n
    assert got == 799


def test_update_prunes_rewrite_set(hsession, spark, catalog):
    _mk_wide(hsession, spark, catalog)
    hsession.sql("UPDATE w SET v = -1 WHERE k BETWEEN 10 AND 20")
    st = dml.LAST_DML_STATS
    assert st["files_rewritten"] == 1 and st["rows_affected"] == 11
    n = hsession.sql("SELECT COUNT(*) AS n FROM w WHERE v = -1").collect()[0].n
    assert n == 11


def test_update_unprunable_predicate_full_rewrite_still_correct(
        hsession, spark, catalog):
    _mk_wide(hsession, spark, catalog)
    hsession.sql("UPDATE w SET v = -5 WHERE k = 3 OR k = 790")
    st = dml.LAST_DML_STATS
    assert st["files_rewritten"] == 8      # OR disables pruning
    assert st["rows_affected"] == 2
    n = hsession.sql("SELECT COUNT(*) AS n FROM w WHERE v = -5").collect()[0].n
    assert n == 2


def test_dml_respects_time_travel(hsession, spark, catalog):
    _mk(hsession, rows="(1,'a',10),(2,'b',20)")
    v_before = catalog.get_table("t").version
    hsession.sql("DELETE FROM t WHERE k = 1")
    old = catalog.read_table(spark, "t", version=v_before)
    assert old.count() == 2
    assert catalog.read_table(spark, "t").count() == 1


def test_delete_inside_transaction_rollback(hsession):
    _mk(hsession, rows="(1,'a',10),(2,'b',20)")
    hsession.sql("BEGIN")
    hsession.sql("DELETE FROM t WHERE k = 1")
    hsession.sql("ROLLBACK")
    assert _rows(hsession) == [(1, "a", 10), (2, "b", 20)]


def test_update_inside_transaction_commit(hsession):
    _mk(hsession, rows="(1,'a',10),(2,'b',20)")
    hsession.sql("BEGIN")
    hsession.sql("UPDATE t SET v = 99 WHERE k = 2")
    hsession.sql("DELETE FROM t WHERE k = 1")
    hsession.sql("COMMIT")
    assert _rows(hsession) == [(2, "b", 99)]


def test_insert_select_source_routes(hsession, catalog):
    """Round-12 fourth wave: the source SELECT of INSERT ... SELECT
    (and the SELECT source of MERGE) goes through the dispatcher, so
    a key-filtered source prunes its file list instead of reading the
    whole table."""
    from heracles_spark import writer
    from pyspark.sql import functions as F

    hsession.sql("""CREATE TABLE isrc (k BIGINT, v BIGINT)
                    TBLPROPERTIES('keyCols'='k')""")
    hsession.sql("""CREATE TABLE idst (k BIGINT, v BIGINT)
                    TBLPROPERTIES('keyCols'='k')""")
    writer.write_key_organized(
        hsession.spark, catalog, "isrc",
        hsession.spark.range(4000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        n_buckets=4)
    catalog.register_all(hsession.spark)

    hsession.sql("INSERT INTO idst SELECT k, v FROM isrc "
                 "WHERE isrc.k < 500")
    rr = dict(hsession.last_select_route)
    assert rr.get("route") is not None
    assert rr["files_read"] < rr["files_total"]
    assert hsession.sql("SELECT count(*) AS n FROM idst").first().n \
        == 500

    hsession.sql("INSERT OVERWRITE idst SELECT k, v FROM isrc "
                 "WHERE isrc.k BETWEEN 100 AND 199")
    assert hsession.sql("SELECT count(*) AS n FROM idst").first().n \
        == 100

    # MERGE source SELECT routes the same way; answers exact
    hsession.sql("MERGE INTO idst USING (SELECT k, v + 1 AS v "
                 "FROM isrc WHERE isrc.k < 150) s ON idst.k = s.k "
                 "WHEN MATCHED THEN UPDATE SET v = s.v")
    got = sorted((r.k, r.v) for r in hsession.sql(
        "SELECT k, v FROM idst").collect())
    assert got[0] == (100, 201) and got[49] == (149, 299)
    assert got[50] == (150, 300)      # unmatched rows untouched


# -- fixed cost of the write statements ------------------------------------

def _jobs_run(spark, fn):
    """(result of ``fn()``, number of Spark jobs it ran), counted under
    a private job group with the status listener drained first."""
    import uuid

    sc = spark.sparkContext
    group = f"dml-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "write statement job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _sql_collect(hsession, statement):
    df = hsession.sql(statement)
    return df, df.collect()


def _optimized_nodes(df):
    from heracles_spark.plans import plan_node_names

    return plan_node_names(df._jdf.queryExecution().optimizedPlan())


def test_write_statements_job_counts_and_local_leaves(hsession, spark,
                                                      monkeypatch):
    """INSERT VALUES batches and the UPDATE/DELETE result rows are JVM
    local relations (no parallelized Python RDD, no job to collect
    them), DELETE sizes its rewrite and counts its rows from the file
    index, and UPDATE counts its hits once."""
    from heracles_spark import writer

    _mk(hsession)
    batches = []
    real = writer.write_key_organized

    def spy(spark_, catalog_, table, df, *a, **kw):
        batches.append(df)
        return real(spark_, catalog_, table, df, *a, **kw)

    monkeypatch.setattr(writer, "write_key_organized", spy)
    _, n = _jobs_run(spark, lambda: hsession.sql(
        "INSERT INTO t VALUES (5,'e',50),(6,'f',60)"))
    assert n <= 2
    assert len(batches) == 1
    nodes = _optimized_nodes(batches[0])
    assert "LogicalRDD" not in nodes and "LocalRelation" in nodes

    (df, rows), n = _jobs_run(spark, lambda: _sql_collect(
        hsession, "DELETE FROM t WHERE k = 5"))
    assert n <= 2
    assert rows[0].rows_affected == 1
    assert "LogicalRDD" not in _optimized_nodes(df)

    (df, rows), n = _jobs_run(spark, lambda: _sql_collect(
        hsession, "UPDATE t SET v = v + 1 WHERE k >= 3"))
    assert n <= 4
    assert rows[0].rows_affected == 3
    assert "LogicalRDD" not in _optimized_nodes(df)
    assert _rows(hsession) == [(1, "a", 10), (2, "b", 20), (3, "c", 31),
                               (4, "d", None), (6, "f", 61)]


@pytest.mark.parametrize("where, affected, survivors", [
    ("WHERE v = 15", 0, [(1, "a", 10), (2, "b", 20), (3, "c", 30),
                         (4, "d", None)]),
    ("WHERE k = 1 OR name = 'c'", 2, [(2, "b", 20), (4, "d", None)]),
], ids=["zero-hit", "unprunable"])
def test_delete_rows_affected_from_index(hsession, where, affected,
                                         survivors):
    """The touched file is rewritten; rows_affected is its recorded row
    count minus the rows of the file written in its place."""
    _mk(hsession)
    assert _delete(hsession, where) == affected
    assert _rows(hsession) == survivors


def test_delete_nonkey_predicate_full_rewrite_counts(hsession, spark,
                                                     catalog):
    _mk_wide(hsession, spark, catalog)
    out = hsession.sql("DELETE FROM w WHERE v % 100 = 7").collect()[0]
    assert out.files_rewritten == 8 and out.files_total == 8
    assert out.rows_affected == 8
    left = hsession.sql("SELECT k FROM w").collect()
    assert len(left) == 792 and all(r.k % 100 != 7 for r in left)


def test_dml_without_index_rowcounts_falls_back_to_counting(
        hsession, catalog, monkeypatch):
    """An index entry without a recorded row count: UPDATE and DELETE
    count the rows instead (the rewrite is sized by a count, DELETE's
    rows_affected is counted), and the answers stay the same."""
    from heracles_spark import writer

    def strip_rows():
        catalog.update_file_index(
            "t", [{k: v for k, v in f.items() if k != "rows"}
                  for f in catalog.get_table("t").files], op="strip-rows")

    _mk(hsession, rows="(1,'a',10),(2,'b',20),(3,'c',30)")
    hsession.sql("INSERT INTO t VALUES (4,'d',NULL),(5,'e',50)")
    sizes = []
    real = writer.write_cow_files

    def spy(*a, **kw):
        sizes.append(kw.get("n_buckets"))
        return real(*a, **kw)

    monkeypatch.setattr(writer, "write_cow_files", spy)
    strip_rows()
    out = hsession.sql("UPDATE t SET v = v + 1 WHERE k <= 2").collect()[0]
    assert out.rows_affected == 2
    strip_rows()
    assert _delete(hsession, "WHERE v >= 21 OR v IS NULL") == 4
    assert sizes == [None, None]          # both rewrites were counted
    assert _rows(hsession) == [(1, "a", 11)]
    assert _delete(hsession, "WHERE k = 1") == 1      # index has rows again
    assert sizes[-1] == 1 and _rows(hsession) == []


# -- INSERT VALUES coercion parity -----------------------------------------

def _mk_typed(hsession):
    hsession.sql("""CREATE TABLE ty (k INT, s STRING, x DOUBLE, n BIGINT,
                    d DATE) TBLPROPERTIES('keyCols'='k')""")


def _typed_rows(hsession):
    return [tuple(r) for r in
            hsession.sql("SELECT k, s, x, n, d FROM ty ORDER BY k").collect()]


def test_insert_values_coercion_parity(hsession):
    """Every VALUES item travels as a string and is cast to the declared
    type inside the write, exactly as before the batch became a local
    relation."""
    import datetime

    _mk_typed(hsession)
    hsession.sql("INSERT INTO ty VALUES "
                 "(1, NULL, 1.5, -3, '2024-01-02'), "
                 "(2, '', -0.25, 7, '2024-1-5'), "
                 "(3, 'a,b', 1e3, 0, NULL), "
                 "(4, 'it''s', NULL, NULL, NULL), "
                 "(5, 'héllo 日本', 3, -9223372036854775808, '2024-12-31'), "
                 "(6, \"dq\", '2.5', '12', NULL)")
    assert _typed_rows(hsession) == [
        (1, None, 1.5, -3, datetime.date(2024, 1, 2)),
        (2, "", -0.25, 7, datetime.date(2024, 1, 5)),
        (3, "a,b", 1000.0, 0, None),
        (4, "it's", None, None, None),
        (5, "héllo 日本", 3.0, -9223372036854775808,
         datetime.date(2024, 12, 31)),
        (6, "dq", 2.5, 12, None)]


@pytest.mark.parametrize("row", [
    "(7, 'z', 'abc', 1, NULL)",                 # not a number
    "(7, 'z', 1.0, 1.5, NULL)",                 # fractional BIGINT
    "(7, 'z', 1.0, 1, 'notadate')",
    "(7, 'z', 1.0, 1, DATE '2024-02-03')",      # keyword literal: a string
], ids=["double", "bigint", "date-string", "date-keyword"])
def test_insert_values_uncastable_rejected_whole(hsession, row):
    _mk_typed(hsession)
    hsession.sql("INSERT INTO ty VALUES (1, 'a', 1.0, 1, NULL)")
    before = _typed_rows(hsession)
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        hsession.sql(f"INSERT INTO ty VALUES (8, 'ok', 2.0, 2, NULL), {row}")
    assert _typed_rows(hsession) == before


def _mk_arrays(hsession):
    hsession.sql("""CREATE TABLE av (k INT, s STRING, ef ARRAY<FLOAT>,
                    ed ARRAY<DOUBLE>) TBLPROPERTIES('keyCols'='k')""")


def test_insert_values_null_into_array_columns(hsession):
    """A string has no cast to ARRAY: the batch keeps the array
    columns' types, so NULL inserts."""
    _mk_arrays(hsession)
    hsession.sql("INSERT INTO av VALUES (1, 'a', NULL, NULL), "
                 "(2, NULL, NULL, NULL)")
    assert [tuple(r) for r in hsession.sql(
        "SELECT k, s, ef, ed FROM av ORDER BY k").collect()] == [
        (1, "a", None, None), (2, None, None, None)]


@pytest.mark.parametrize("row, col", [
    ("(2, 'b', array(1.0, 2.0), NULL)", "ef"),
    ("(2, 'b', NULL, '[1.0]')", "ed"),
], ids=["float-array", "double-array-string"])
def test_insert_values_array_value_rejected_before_staging(
        hsession, catalog, row, col):
    _mk_arrays(hsession)
    hsession.sql("INSERT INTO av VALUES (1, 'a', NULL, NULL)")
    tbl = catalog.get_table("av")
    staged = sorted(os.listdir(tbl.data_dir))
    with pytest.raises(ValueError, match=f"ARRAY column {col} "):
        hsession.sql(f"INSERT INTO av VALUES (3, 'c', NULL, NULL), {row}")
    after = catalog.get_table("av")
    assert after.version == tbl.version and after.files == tbl.files
    assert sorted(os.listdir(tbl.data_dir)) == staged
    assert [r.k for r in hsession.sql("SELECT k FROM av").collect()] == [1]


def _mk_files(hsession):
    """``_mk``'s rows, one file per row."""
    hsession.sql("CREATE TABLE t TBLPROPERTIES('keyCols'='k', "
                 "'numBuckets'='4') AS SELECT k, name, v FROM VALUES "
                 "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30), "
                 "(4, 'd', CAST(NULL AS INT)) AS x(k, name, v)")


@pytest.mark.parametrize("where, hit", [
    ("NOT k = 2 AND k > 1", lambda k, name, v: k in (3, 4)),
    ("k NOT IN (1, 3) AND k < 4", lambda k, name, v: k == 2),
    ("k NOT BETWEEN 2 AND 3 AND name <> 'a'", lambda k, name, v: k == 4),
    ("v IS NOT NULL AND k >= 3 -- AND k = 1\n", lambda k, name, v: k == 3),
    (r"k = 2 AND name <> 'x\' AND k = 3'", lambda k, name, v: k == 2),
], ids=["not", "not-in", "not-between", "is-not-null-comment",
        "escaped-quote"])
def test_delete_where_shapes_match_model(hsession, where, hit):
    """NOT / NOT IN / NOT BETWEEN / IS NOT NULL conjuncts, comments and
    backslash-escaped quotes split like Spark's lexer: the pruned
    rewrite deletes exactly the model's rows."""
    rows = [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", None)]
    _mk_files(hsession)
    assert len(hsession.catalog.get_table("t").files) == 4
    kept = [r for r in rows if not hit(*r)]
    assert _delete(hsession, f"WHERE {where}") == len(rows) - len(kept)
    assert _rows(hsession) == kept


def test_where_pred_drops_negated_conjuncts():
    assert where_to_pruning_pred("NOT k = 2 AND k > 1") == (">", "k", 1)
    assert where_to_pruning_pred("k NOT IN (1, 3) AND k < 4") == \
        ("<", "k", 4)
    assert where_to_pruning_pred("k NOT BETWEEN 2 AND 3 AND k = 4") == \
        ("=", "k", 4)
    assert where_to_pruning_pred("k IN ('a,b', 'c')") == \
        ("in", "k", ["a,b", "c"])

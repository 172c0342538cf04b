"""One publish step: a table's session view follows the catalog's commits.

``HeraclesCatalog`` records every table it changes and
``HeraclesCatalog.publish`` (run by ``HeraclesSession.sql`` before and
after each statement) re-registers or drops exactly those views. These
tests pin that every dispatcher statement kind leaves each table's view
equal to ``read_table``, that no view outlives its table, and how many
relations a write and the routed reads after it build.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from heracles_spark import writer
from heracles_spark.catalog import CatalogError, HeraclesCatalog


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


# -- wrong results the per-branch refreshes left -----------------------------

def test_create_rollup_is_readable_in_the_creating_session(hsession):
    hsession.sql("CREATE TABLE pubsrc (k INT, g INT, v DOUBLE) "
                 "TBLPROPERTIES('keyCols'='k')")
    hsession.sql("INSERT INTO pubsrc VALUES (1, 0, 1.0), (2, 0, 2.0), "
                 "(3, 1, 3.0)")
    hsession.sql("CREATE ROLLUP pubr ON pubsrc GROUP BY g AGG s = SUM(v)")
    assert _rows(hsession.sql("SELECT * FROM pubr")) == []
    hsession.sql("REFRESH ROLLUP pubr")
    assert _rows(hsession.spark.sql("SELECT g, s FROM pubr")) \
        == [(0, 3.0), (1, 3.0)]


def test_drop_database_cascade_drops_its_views(hsession):
    hsession.sql("CREATE DATABASE pubdb")
    hsession.sql("CREATE TABLE pubdb.t (k INT, v DOUBLE) "
                 "TBLPROPERTIES('keyCols'='k')")
    hsession.sql("INSERT INTO pubdb.t VALUES (1, 1.0)")
    assert _rows(hsession.spark.sql("SELECT * FROM pubdb_t")) == [(1, 1.0)]
    hsession.sql("DROP DATABASE pubdb CASCADE")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        hsession.spark.sql("SELECT * FROM pubdb_t").collect()


def test_failed_commit_publishes_the_committed_state(hsession, catalog):
    spark = hsession.spark
    hsession.sql("CREATE TABLE pubtx (k INT, v DOUBLE) "
                 "TBLPROPERTIES('keyCols'='k')")
    hsession.sql("INSERT INTO pubtx VALUES (1, 1.0)")
    hsession.sql("BEGIN")
    hsession.sql("INSERT INTO pubtx VALUES (2, 2.0)")
    assert _rows(spark.sql("SELECT * FROM pubtx")) == [(1, 1.0), (2, 2.0)]
    other = HeraclesCatalog(catalog.metastore_dir)
    writer.insert_rows(spark, other, "pubtx", "(3, 3.0)")
    with pytest.raises(CatalogError, match="write conflict"):
        hsession.sql("COMMIT")
    assert _rows(spark.sql("SELECT * FROM pubtx")) == [(1, 1.0), (3, 3.0)]
    assert _rows(hsession.sql("SELECT * FROM pubtx WHERE k = 2")) == []
    assert hsession.last_select_route["route"] == "pruned-scan"


# -- every statement kind leaves every view equal to read_table --------------

_BASE = [
    "CREATE TABLE t (k INT, v DOUBLE, g INT) TBLPROPERTIES('keyCols'='k')",
    "INSERT INTO t VALUES (1, 1.0, 0), (2, 2.0, 1), (3, 3.0, 0)",
    "INSERT INTO t VALUES (4, 4.0, 1), (5, 5.0, 0)",
]
_ROLLUP = "CREATE ROLLUP r ON t GROUP BY g AGG s = SUM(v)"
_MERGE = ("MERGE INTO t USING (SELECT 2 AS k, 20.0 AS v, 7 AS g "
          "UNION ALL SELECT 8, 8.0, 1) s ON t.k = s.k "
          "WHEN MATCHED THEN UPDATE SET v = s.v "
          "WHEN NOT MATCHED THEN INSERT *")

SWEEP = {
    "create": ["CREATE TABLE n (k INT, v DOUBLE) "
               "TBLPROPERTIES('keyCols'='k')"],
    "ctas": ["CREATE TABLE c TBLPROPERTIES('keyCols'='k') "
             "AS SELECT k, v FROM t WHERE k > 1"],
    "clone": ["CREATE TABLE cl CLONE t"],
    "alter-add-column": ["ALTER TABLE t ADD COLUMNS (w STRING)"],
    "alter-drop-column": ["ALTER TABLE t DROP COLUMN g"],
    "insert-values": ["INSERT INTO t VALUES (9, 9.0, 1)"],
    "insert-select": ["INSERT INTO t SELECT k + 10, v, g FROM t"],
    "insert-overwrite": ["INSERT OVERWRITE t SELECT k, v * 2, g FROM t "
                         "WHERE k < 3"],
    "load-data": ["LOAD DATA LOCAL INPATH '{csv}' INTO TABLE t"],
    "merge": [_MERGE],
    "update": ["UPDATE t SET v = 0.5 WHERE k = 1"],
    "delete": ["DELETE FROM t WHERE k = 2"],
    "truncate": ["TRUNCATE TABLE t"],
    "optimize": ["OPTIMIZE t"],
    "optimize-compact": ["OPTIMIZE t COMPACT"],
    "optimize-zorder": ["OPTIMIZE t ZORDER BY (k)"],
    "restore-version": ["DELETE FROM t WHERE k > 2",
                        "RESTORE TABLE t TO VERSION AS OF 2"],
    "restore-timestamp": ["DELETE FROM t WHERE k > 2",
                          "RESTORE TABLE t TO TIMESTAMP AS OF '{ts}'"],
    "create-rollup": [_ROLLUP],
    "refresh-rollup": [_ROLLUP, "INSERT INTO t VALUES (6, 6.0, 1)",
                       "REFRESH ROLLUP r"],
    "create-index": ["CREATE INDEX vi ON t (v)"],
    "drop-table": ["DROP TABLE t"],
    "drop-database-cascade": [
        "CREATE DATABASE d",
        "CREATE TABLE d.t (k INT, v DOUBLE) TBLPROPERTIES('keyCols'='k')",
        "INSERT INTO d.t VALUES (1, 1.0)",
        "DROP DATABASE d CASCADE"],
    "begin-commit": ["BEGIN", "INSERT INTO t VALUES (7, 7.0, 0)",
                     "DELETE FROM t WHERE k = 1", "COMMIT"],
    "rollback": ["BEGIN", "INSERT INTO t VALUES (7, 7.0, 0)",
                 "UPDATE t SET v = 0.5 WHERE k = 3", "ROLLBACK"],
}


def _assert_views_follow_catalog(hsession, catalog, seen):
    spark = hsession.spark
    live = set(catalog.list_tables())
    for name in live:
        view = spark.table(catalog.view_name(name))
        ref = catalog.read_table(spark, name)
        assert view.columns == ref.columns, name
        assert _rows(view) == _rows(ref), name
    for name in seen - live:
        assert not spark.catalog.tableExists(catalog.view_name(name)), name
    seen |= live


@pytest.mark.parametrize("kind", sorted(SWEEP))
def test_every_statement_publishes_its_views(hsession, catalog, tmp_path,
                                             kind):
    csv = tmp_path / "rows.csv"
    csv.write_text("11,11.0,1\n12,12.0,0\n")
    seen: set[str] = set()
    for stmt in _BASE:
        hsession.sql(stmt)
    # version 2's commit time: RESTORE ... TIMESTAMP AS OF it is v2
    ts = catalog.get_table("t").history[-1]["ts"]
    for stmt in SWEEP[kind]:
        hsession.sql(stmt.format(csv=csv, ts=repr(ts)))
        _assert_views_follow_catalog(hsession, catalog, seen)


# -- how many relations a write and the routed reads after it build ----------

@pytest.fixture()
def builds(monkeypatch):
    """Counts ``read_table`` calls, and the OPTIMIZE rewrites (each
    reads the table once as its input) among them."""
    n = {"read_table": 0, "optimize": 0}
    read_table, optimize = HeraclesCatalog.read_table, writer.optimize_table

    def counting_read(self, *a, **kw):
        n["read_table"] += 1
        return read_table(self, *a, **kw)

    def counting_optimize(*a, **kw):
        n["optimize"] += 1
        return optimize(*a, **kw)

    monkeypatch.setattr(HeraclesCatalog, "read_table", counting_read)
    monkeypatch.setattr(writer, "optimize_table", counting_optimize)

    def run(hsession, stmt):
        n["read_table"] = n["optimize"] = 0
        out = hsession.sql(stmt)
        if out is not None:
            out.collect()
        return n["read_table"] - n["optimize"], n["optimize"]
    return run


_READS = ["SELECT * FROM kv WHERE k = 5",
          "SELECT * FROM kv WHERE k BETWEEN 2 AND 8",
          "SELECT COUNT(*) FROM kv WHERE k BETWEEN 2 AND 8"]


def _routed_reads_build_nothing(hsession, builds):
    for stmt in _READS:
        assert builds(hsession, stmt) == (0, 0), stmt
        assert hsession.last_select_route.get("route"), stmt


def test_a_write_builds_one_view_and_routed_reads_none(hsession, builds):
    hsession.sql("CREATE TABLE kv (k BIGINT, v DOUBLE) "
                 "TBLPROPERTIES('keyCols'='k')")
    for stmt in ("INSERT INTO kv VALUES (1, 1.0), (5, 5.0), (9, 9.0)",
                 "UPDATE kv SET v = 0.5 WHERE k = 5",
                 "DELETE FROM kv WHERE k = 9"):
        assert builds(hsession, stmt) == (1, 0), stmt
        _routed_reads_build_nothing(hsession, builds)
    # A properties-only commit builds no view and keeps routing.
    assert builds(hsession, "ANALYZE TABLE kv COMPUTE STATISTICS") == (0, 0)
    _routed_reads_build_nothing(hsession, builds)


def test_an_auto_optimized_insert_builds_one_view(hsession, builds):
    hsession.sql("CREATE TABLE kv (k BIGINT, v DOUBLE) TBLPROPERTIES("
                 "'keyCols'='k', 'autoOptimize'='true', "
                 "'autoOptimizeMinFiles'='2', 'autoOptimizeDepth'='1.5')")
    assert builds(hsession, "INSERT INTO kv VALUES (1, 1.0), (9, 9.0)") \
        == (1, 0)
    # The second file overlaps the first: the OPTIMIZE commits a second
    # version inside the same statement, and one view is still built.
    assert builds(hsession, "INSERT INTO kv VALUES (4, 4.0), (5, 5.0)") \
        == (1, 1)
    _routed_reads_build_nothing(hsession, builds)


def test_a_foreign_commit_leaves_the_view_shadowed(hsession, catalog):
    spark = hsession.spark
    hsession.sql("CREATE TABLE pubfc (k INT, v DOUBLE) "
                 "TBLPROPERTIES('keyCols'='k')")
    hsession.sql("INSERT INTO pubfc VALUES (1, 1.0)")
    writer.insert_rows(spark, HeraclesCatalog(catalog.metastore_dir),
                       "pubfc", "(2, 2.0)")
    assert _rows(hsession.sql("SELECT * FROM pubfc WHERE k = 2")) == []
    assert hsession.last_select_route == {"route": None,
                                          "reason": "shadowed-view"}
    # A library write through this catalog is published at the next
    # statement, user view or stale view alike.
    writer.insert_rows(spark, catalog, "pubfc", "(3, 3.0)")
    assert _rows(hsession.sql("SELECT * FROM pubfc WHERE k >= 2")) \
        == [(2, 2.0), (3, 3.0)]
    assert hsession.last_select_route["route"] == "pruned-scan"
